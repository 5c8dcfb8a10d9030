package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{LakeTable, Reconcile}
import graft.schema.FieldIds

/** DataSource V2 connector for lake tables — the streaming read half of
  * the Iceberg story (the write half is StreamIngest):
  *
  *   spark.readStream.format("graft-lake")
  *     .option("warehouse", wh).option("database", db).option("table", t)
  *     .load()
  *
  * Offsets are snapshot ids: each micro-batch reads the data files of
  * the append snapshots in (start, end], so a batch is exactly one or
  * more committed snapshots — the same incremental contract as
  * `LakeTable.changesBetween` (rewrite/overwrite snapshots move or
  * mutate existing rows and are skipped; the stream is append-only CDC).
  * `option("startSnapshot", n)` begins after snapshot n.
  *
  * Batch reads (`spark.read.format("graft-lake")`) plan the current
  * live file set through the same reader.
  *
  * Scale: planInputPartitions is a metadata-only walk (no listing, no
  * footer reads on the driver): batch scans pack small files into
  * tasks by Spark's file-source rule (`LakeScan.pack`), streams plan
  * one partition per data file; each file is reconciled to the
  * stream-start schema by field ID, so mid-stream schema evolution
  * never breaks a running query. Reconciliation runs recursively
  * through structs, lists and maps; every TypeMapper type (decimal
  * included) is supported.
  */
class LakeStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  private def load(m: java.util.Map[String, String]): LakeTable = {
    def req(k: String) = Option(m.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graft-lake: missing option '$k'"))
    LakeTable.load(req("warehouse"), req("database"), req("table"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = Reconcile.clean(load(options).currentSchema)
      .asInstanceOf[StructType]
    if (Option(options.get("changelog")).exists(_.toBoolean))
      LakeSource.changelogSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val t = load(properties)
    new LakeSparkTable(
      properties.get("warehouse"), properties.get("database"),
      properties.get("table"),
      Option(properties.get("startSnapshot")).map(_.toLong).getOrElse(0L),
      t,
      changelogMode =
        Option(properties.get("changelog")).exists(_.toBoolean))
  }
}

private[sources] class LakeSparkTable(val wh: String, val db: String,
    val tbl: String,
    startSnapshot: Long, lake: LakeTable,
    val asOfSnapshot: Option[Long] = None,
    val branchName: Option[String] = None,
    changelogMode: Boolean = false,
    val pin: Option[LakeReadPin] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  // the session reading this table plans its small scans on the driver
  org.apache.spark.sql.SparkSession.getActiveSession
    .foreach(LakeLocalScan.install)

  /** Row-identity metadata columns — `SELECT _graft_file, _graft_pos
    * FROM graft.db.t` works, and they are the rowId the delta-based
    * (merge-on-read) SQL row-level operations key their position
    * deletes on.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    Array(
      new MetadataColumn {
        override def name(): String = LakeSource.FileMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new MetadataColumn {
        override def name(): String = LakeSource.PosMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row position within its data file"
      },
      new MetadataColumn {
        override def name(): String = LakeSource.RowIdMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "stable row-lineage id (Iceberg v3): preserved across " +
            "rewrites; null for rows written before lineage existed"
      },
      new MetadataColumn {
        override def name(): String = LakeSource.LastUpdMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "data sequence of the commit that last wrote the row"
      })
  }

  private def requireWritable(): Unit =
    require(asOfSnapshot.isEmpty && branchName.isEmpty,
      "cannot write to a table pinned with VERSION AS OF " +
        "(branch writes go through LakeTable.appendToBranch)")

  /** SQL UPDATE / MERGE INTO / (non-convertible) DELETE: group-based
    * copy-on-write rewrite by default — the scanned files are replaced
    * by the recomputed rows in one overwrite snapshot. Tables that set
    * write.update.mode / write.merge.mode / write.delete.mode to
    * "merge-on-read" route to the delta operation instead: position
    * deletes + delta files, no target rewrite (LakeRowLevelOps).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireWritable()
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeKey = info.command match {
      case Command.UPDATE => "write.update.mode"
      case Command.MERGE => "write.merge.mode"
      case Command.DELETE => "write.delete.mode"
    }
    val mor = LakeTable.load(wh, db, tbl).metadata.properties
      .get(modeKey).contains("merge-on-read")
    () =>
      if (mor) new LakeDeltaOperation(wh, db, tbl, info.command)
      else new LakeRowLevelOperation(wh, db, tbl, info.command)
  }

  /** SQL `DELETE FROM graft.<db>.<t> WHERE …`: Spark hands over the
    * predicate as source filters when they are fully convertible;
    * they run through the engine's copy-on-write delete (file-pruned
    * rewrite + overwrite snapshot). Unconvertible predicates make
    * Spark raise its standard "cannot delete" analysis error.
    */
  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    requireWritable()
    val spark = org.apache.spark.sql.SparkSession.active
    val predicate = filters.map(LakeSource.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val t = LakeTable.load(wh, db, tbl)
    // "write.delete.mode"="merge-on-read": position-delete files instead
    // of copy-on-write file rewrites (Iceberg v2's table property)
    if (t.metadata.properties.get("write.delete.mode")
        .contains("merge-on-read"))
      t.deleteMoR(spark, predicate)
    else t.delete(spark, predicate)
    ()
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(LakeSource.convertibleFilter)

  // a version pin reads under the schema current AT that snapshot; an
  // engine-internal read declares it nullable (LakeSource.engineRead)
  private lazy val pinnedSchema: StructType = {
    val s = asOfSnapshot.map(lake.schemaAsOf).getOrElse(lake.currentSchema)
    if (pin.isDefined) LakeSource.asNullable(s) else s
  }

  override def name(): String = s"graft.$db.$tbl"
  // surfaces in DESCRIBE EXTENDED / SHOW TBLPROPERTIES
  override def properties(): java.util.Map[String, String] =
    scala.jdk.CollectionConverters.MapHasAsJava(
      lake.metadata.properties).asJava

  override def schema(): StructType = {
    if (changelogMode)
      return LakeSource.changelogSchema(
        Reconcile.clean(pinnedSchema).asInstanceOf[StructType])
    val clean = Reconcile.clean(pinnedSchema).asInstanceOf[StructType]
    // advertise defaults in Spark's convention so `INSERT ... VALUES
    // (..., DEFAULT)` resolves to the declared literal instead of
    // NULL: CURRENT_DEFAULT is the mutable write default,
    // EXISTS_DEFAULT the immutable initial one
    StructType(clean.fields.zip(pinnedSchema.fields).map {
      case (cf, pf) =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
        graft.schema.Defaults.writeOf(pf).foreach(v =>
          b.putString("CURRENT_DEFAULT", graft.schema.Defaults.sqlText(pf, v)))
        graft.schema.Defaults.of(pf).foreach(v =>
          b.putString("EXISTS_DEFAULT", graft.schema.Defaults.sqlText(pf, v)))
        val m = b.build()
        if (m == org.apache.spark.sql.types.Metadata.empty) cf
        else cf.copy(metadata = m)
    })
  }

  /** Advertise the current partition spec (identity/years/months/days/
    * hours over source columns) — surfaces in DESCRIBE and lets Spark
    * reason about the table's layout.
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val flat = graft.schema.FieldIds.flatten(pinnedSchema)
    lake.metadata.currentSpec.fields.flatMap { f =>
      flat.collectFirst {
        case (p, fd) if graft.schema.FieldIds.idOf(fd) == f.sourceFieldId => p
      }.map { src =>
        f.transform match {
          case "identity" => Expressions.identity(src)
          case "year" => Expressions.years(src)
          case "month" => Expressions.months(src)
          case "day" => Expressions.days(src)
          case "hour" => Expressions.hours(src)
          case t if graft.lake.Transforms.bucketCount(t).isDefined =>
            Expressions.bucket(graft.lake.Transforms.bucketCount(t).get, src)
          case t if graft.lake.Transforms.truncateWidth(t).isDefined =>
            Expressions.apply("truncate",
              Expressions.literal(graft.lake.Transforms.truncateWidth(t).get),
              org.apache.spark.sql.GraftPlanBridge.fieldRef(src))
          case other => Expressions.apply(other, Expressions.column(src))
        }
      }
    }.toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      // INSERT OVERWRITE = truncate-then-write on the write builder
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // incremental batch read (Iceberg's start/end-snapshot-id options):
    // rows ADDED by snapshots in (fromSnapshot, toSnapshot] — the batch
    // form of changesBetween, with column pruning + stats file skipping
    // intact. toSnapshot defaults to the latest commit.
    val incremental = Option(options.get("fromSnapshot")).map { f =>
      require(asOfSnapshot.isEmpty && branchName.isEmpty,
        "fromSnapshot cannot combine with VERSION AS OF or a branch")
      (f.toLong, Option(options.get("toSnapshot")).map(_.toLong)
        .getOrElse(Long.MaxValue))
    }
    require(!(changelogMode && incremental.isDefined),
      "changelog cannot combine with fromSnapshot/toSnapshot (the " +
        "stream's startSnapshot option positions a changelog read)")
    // keep the field-id-bearing schema (the reader reconciles by id)
    // but force data columns nullable — marker rows null-fill non-key
    // columns; readSchema cleans at the end like the normal path. Any
    // other read declares nullable the fields older files lack (the
    // scan's output; the table's declared schema stays as it is)
    val full =
      if (changelogMode || pin.exists(_.changelog.isDefined))
        StructType(pinnedSchema.fields.toSeq.map(_.copy(nullable = true)) ++
          LakeSource.changelogFields)
      else LakeSource.nullableWhereAbsent(pinnedSchema,
        lake.metadata.schemas.map(_.schema))
    new LakeScanBuilder(wh, db, tbl, startSnapshot, full, asOfSnapshot,
      maxSnapshotsPerTrigger =
        Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt),
      branchName = branchName,
      skipDeleteSnapshots =
        Option(options.get("skipDeleteSnapshots")).exists(_.toBoolean),
      incremental = incremental,
      changelogMode = changelogMode,
      // referenced-column list recorded by VariantScanPrep: lets an
      // accepted variant extraction (which bypasses pruneColumns) drop
      // the unreferenced non-variant columns in lockstep with the
      // trimmed relation output
      referencedCols = Option(
          options.get(VariantScanPrep.ReferencedColsKey))
        .map(_.split(",").toSeq.filter(_.nonEmpty)),
      refuseVariants =
        Option(options.get(VariantScanPrep.RefuseVariantsKey))
          .exists(_.toBoolean),
      pin = pin)
  }

  /** INSERT INTO / df.writeTo(...).append() via the V1 write bridge:
    * Spark resolves the input to the table schema, then the append goes
    * through the engine's own write path (align → hidden partitioning →
    * clustering → stats → snapshot commit) on the driver side — the
    * same single-writer commit contract as LakeTable.append.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    requireWritable()
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // INSERT OVERWRITE arrives as truncate-then-write
      private var doOverwrite = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        doOverwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write
            with org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering {

          /** Cluster incoming rows by the identity partition columns so
            * each partition value lands in ONE write task — one file
            * per partition per epoch instead of one per (task,
            * partition). Identity specs only: time transforms would
            * need the function catalog, which format()-routed streams
            * don't carry; they keep the per-task fan-out writer.
            */
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution = {
            import org.apache.spark.sql.connector.expressions.Expressions
            val t = LakeTable.load(wh, db, tbl)
            val md = t.metadata
            val flat = graft.schema.FieldIds.flatten(md.currentSchema)
            val idCols = md.currentSpec.fields
              .filter(_.transform == "identity")
              .flatMap(f => flat.collectFirst {
                case (p, fd)
                  if graft.schema.FieldIds.idOf(fd) == f.sourceFieldId => p
              })
            if (idCols.nonEmpty &&
                idCols.size == md.currentSpec.fields.size &&
                idCols.forall(c => !c.contains(".")))
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(idCols.map(c =>
                  Expressions.identity(c): org.apache.spark.sql.connector
                    .expressions.Expression).toArray)
            else org.apache.spark.sql.connector.distributions.Distributions
              .unspecified()
          }
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def requiredNumPartitions(): Int = 0
          override def distributionStrictlyRequired(): Boolean = false

          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              val t = LakeTable.load(wh, db, tbl)
              if (doOverwrite || overwrite) t.overwrite(data)
              else t.append(data)
              ()
            }
          // streaming path: executor-side parquet writers + one
          // snapshot commit per epoch (LakeStreamingSink)
          override def toStreaming: org.apache.spark.sql.connector.write
              .streaming.StreamingWrite = {
            // declaring SupportsTruncate makes Spark ACCEPT
            // outputMode("complete") streams and route them through
            // truncate() — but the sink only appends per epoch, which
            // would silently duplicate the full result every batch
            if (doOverwrite) throw new UnsupportedOperationException(
              "graft-lake sink: Complete output mode is not supported " +
                "(per-epoch append sink); use update/append modes or " +
                "foreachBatch with LakeTable.overwrite")
            val tableSchema = Reconcile
              .clean(LakeTable.load(wh, db, tbl).currentSchema)
              .asInstanceOf[StructType]
            require(LakeSource.sameShape(tableSchema, info.schema),
              s"graft-lake streaming sink: query schema ${info.schema.sql} " +
                s"does not match table schema ${tableSchema.sql} — cast " +
                "columns first (e.g. timestamp vs timestamp_ntz)")
            // option("branch", name): per-epoch commits stage onto the
            // branch instead of main — streaming write-audit-publish.
            // Validate the ref at QUERY START: a typo'd branch must
            // fail before executors write a whole epoch for nothing.
            val branchOpt = Option(info.options.get("branch"))
            branchOpt.foreach { b =>
              val refs = LakeTable.load(wh, db, tbl).metadata.refs
              require(refs.get(b).exists(r =>
                r.kind == "branch" && r.baseSnapshotId.isDefined),
                s"graft-lake sink: no writable branch '$b' (refs: " +
                  s"${refs.keys.toSeq.sorted.mkString(", ")})")
            }
            new LakeStreamingWrite(wh, db, tbl, info.queryId(), info.schema,
              branchOpt)
          }
        }
    }
  }
}

/** An engine-internal read ([[LakeSource.engineRead]]): the scan plans
  * from `table` — the CALLING handle's metadata (snapshot log, schemas,
  * an open transaction's staged view, or a not-yet-committed
  * metadata document) captured when the read was built — instead of
  * reloading the table by name, under `table`'s current schema (or the
  * one current at the read's snapshot).
  *
  * Without `state` it reads exactly the live files the caller's
  * partition `prune` and min/max `statsFilters` keep (resolved against
  * the read schema, like `LakeTable.plannedFiles`), with the live
  * delete state. With `state` it reads that explicit file list under
  * that delete state, as given: the changelog's added or removed
  * files, a constraint scan's unproven files, a rewrite's inputs, a
  * branch overlay with its re-sequenced equality batches. Either way
  * Spark's own pushed and runtime filters skip row groups inside the
  * files only, and the readers apply deletes per file.
  *
  * With `changelog` it reads the changelog of those (snapshot,
  * `_change_ordinal`) pairs instead — the partitions
  * [[LakeScan.changelogPartitions]] plans for the changelog stream,
  * as one batch scan whose schema adds the three change columns
  * (`LakeTable.changelogBetween`).
  */
private[graft] case class LakeReadPin(table: LakeTable,
    prune: Map[String, Set[String]] = Map.empty,
    statsFilters: Seq[graft.lake.RangeFilter] = Seq.empty,
    state: Option[LakeReadState] = None,
    changelog: Option[Seq[(graft.lake.SnapshotMeta, Int)]] = None) {
  /** The files this read decoded on the driver
    * ([[LakeLocalScan.decode]]), kept for the Datasets derived from it:
    * each re-plans the scan, and none decodes a file again. */
  private[sources] val decoded = new java.util.concurrent.ConcurrentHashMap[
    InputPartition, IndexedSeq[InternalRow]]()
}

/** An explicit read state: data files (each carrying its own data
  * sequence and lineage constants), position-delete sets and deletion
  * vectors keyed by normalized data path, and equality batches — each
  * applies to the files with a lower sequence.
  */
private[graft] case class LakeReadState(files: Seq[graft.lake.DataFileMeta],
    deletes: Map[String, graft.lake.DeleteSet] = Map.empty,
    eqDeletes: Seq[graft.lake.EqDeleteMeta] = Seq.empty)

/** Scan planning with the two pushdowns that matter at scale:
  *
  *  - column pruning (`SupportsPushDownRequiredColumns`): the scan's
  *    target schema shrinks to the referenced columns, so the record
  *    reader materializes (and parquet decodes) only those — a
  *    2-column projection of a 100-column table reads 2 columns;
  *  - filter pushdown (`SupportsPushDownFilters`): comparison/equality
  *    predicates on top-level columns become metadata RangeFilters
  *    that drop whole data files by min/max stats before any IO. All
  *    filters are returned as residual — the engine's pruning is
  *    advisory (file granularity), Spark still applies the exact
  *    predicate to the rows that survive.
  */
private[graft] class LakeScanBuilder(wh: String, db: String, tbl: String,
    startSnapshot: Long, full: StructType,
    asOfSnapshot: Option[Long] = None,
    onPlanned: Seq[graft.lake.DataFileMeta] => Unit = _ => (),
    maxSnapshotsPerTrigger: Option[Int] = None,
    branchName: Option[String] = None,
    skipDeleteSnapshots: Boolean = false,
    incremental: Option[(Long, Long)] = None,
    changelogMode: Boolean = false,
    rowLevelOp: Boolean = false,
    referencedCols: Option[Seq[String]] = None,
    refuseVariants: Boolean = false,
    pin: Option[LakeReadPin] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read
      .SupportsPushDownVariantExtractions {

  private var target: StructType = full
  private var stats: Seq[graft.lake.RangeFilter] = Seq.empty
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggResult: Option[(StructType, Array[Any])] = None

  /** COUNT(*) / MIN(col) / MAX(col) with no filters and no grouping are
    * answered from snapshot metadata — per-file footer row counts and
    * min/max column stats recorded at commit — zero data IO at any
    * table size. MIN/MAX require every live file to carry stats for the
    * column, a numeric/temporal type (string footer stats can be
    * truncated by writers), and no live merge-on-read deletes (a
    * deleted row could BE the extremum). Everything else stays
    * unpushed. The result is validated and captured on ONE metadata
    * load; the scan emits it as a single partial row that Spark's final
    * aggregate folds (count sums, min-of-min, max-of-max).
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return false
    // a branch overlay's live set differs from main's — no
    // metadata-only answers through the main-history rollups below
    if (branchName.isDefined) return false
    // an incremental range reads raw added files, not the live set —
    // the metadata rollups below would answer for the wrong row set
    if (incremental.isDefined) return false
    // a pinned read's prune/stats narrowing, explicit state or
    // changelog is a row set the whole-table rollups below cannot honour
    if (pin.exists(p => p.prune.nonEmpty || p.statsFilters.nonEmpty ||
        p.state.isDefined || p.changelog.isDefined))
      return false

    val t = pin.map(_.table).getOrElse(LakeTable.load(wh, db, tbl))
    val visible = LakeSource.visibleSnapshots(t, asOfSnapshot)
    val live = LakeTable.liveFiles(visible)
    val deletes = LakeTable.liveDeletes(visible)
    if (!live.forall(_.rows >= 0)) return false
    // live equality deletes make per-file row counts unknowable
    // without scanning — no metadata-only answers
    if (LakeTable.liveEqDeletes(visible).nonEmpty) return false

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        target.fields.find(_.name == r.fieldNames()(0))
      case _ => None
    }
    def statsValue(sf: StructField, wantMin: Boolean): Option[Any] = {
      if (deletes.nonEmpty || !FieldIds.hasId(sf)) return None
      if (live.isEmpty) return Some(null) // MIN/MAX over empty = NULL
      val id = FieldIds.idOf(sf)
      val perFile = live.map(_.stats.get(id))
      if (!perFile.forall(_.exists(_.kind == "num"))) return None
      val vals = perFile.flatten.map(cs =>
        BigDecimal(if (wantMin) cs.min else cs.max))
      val v = if (wantMin) vals.min else vals.max
      sf.dataType match {
        case IntegerType => Some(v.toIntExact)
        case LongType => Some(v.toLongExact)
        case FloatType => Some(v.toFloat)
        case DoubleType => Some(v.toDouble)
        case DateType => Some(v.toIntExact)
        case TimestampType | TimestampNTZType => Some(v.toLongExact)
        case d: DecimalType =>
          Some(org.apache.spark.sql.types.Decimal(v, d.precision, d.scale))
        case _ => None
      }
    }
    val answered = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count(*)", LongType, nullable = false),
          live.map(_.rows).sum - deletes.values.map(_.rows).sum: Any))
      case m: Min => colOf(m.column).flatMap(sf =>
        statsValue(sf, wantMin = true).map(v =>
          (StructField(s"min(${sf.name})", sf.dataType), v)))
      case m: Max => colOf(m.column).flatMap(sf =>
        statsValue(sf, wantMin = false).map(v =>
          (StructField(s"max(${sf.name})", sf.dataType), v)))
      case _ => None
    }
    if (answered.forall(_.isDefined)) {
      val pairs = answered.flatten
      aggResult = Some((StructType(pairs.map(_._1)),
        pairs.map(_._2).toArray))
      true
    } else false
  }

  /** Shredded-read pruning for VARIANT columns (r16): Spark rewrites
    * `variant_get(v, path, type)` references into struct-field reads
    * when the scan accepts the extraction — the variant attribute's
    * type becomes a struct of requested paths, each inner field tagged
    * with [[org.apache.spark.sql.execution.datasources.VariantMetadata]]
    * (path, failOnError, zone). Accepting means the scan must SERVE
    * that struct, so acceptance is limited to shapes every reader on
    * the path can produce: plain batch reads (no changelog marker
    * emission, no incremental range, no row-level-op scan — those
    * re-write the full variant downstream) of TOP-LEVEL variant
    * columns. The payoff is read-side: the parquet request clips the
    * shredded group to the referenced typed_value children, so a
    * 100-TB variant-heavy table reads only the extracted fields'
    * pages instead of decoding every row's whole variant binary.
    */
  override def pushVariantExtractions(
      exts: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = {
    // refuseVariants: VariantScanPrep saw a metadata column in the
    // relation's output — the accepted path's readSchema cannot carry
    // it, so decline and let the normal pruneColumns path serve the
    // query. A pinned (engine-internal) read declines in any session:
    // its callers select metadata columns on plans the extension rule
    // may never see
    val servable = !changelogMode && !rowLevelOp && incremental.isEmpty &&
      !refuseVariants && pin.isEmpty
    def colOf(e: org.apache.spark.sql.connector.read.VariantExtraction)
        : Option[StructField] =
      if (e.columnName.length != 1) None
      else full.fields.find(f => f.name == e.columnName()(0) &&
        f.dataType == org.apache.spark.sql.types.VariantType)
    val verdicts = exts.map(e => servable && colOf(e).isDefined)
    // Acceptance is all-or-nothing PER COLUMN: Catalyst rebuilds an
    // accepted column's replacement struct from ALL its requested
    // fields, so a split verdict would leave fields the scan never
    // serves. (Our per-extraction predicate only looks at the column,
    // so same-column verdicts agree by construction.)
    //
    // The scan must now SERVE the rewritten type: Catalyst never calls
    // pruneColumns on the variant path — it derives the new relation
    // output from scan.readSchema() directly (buildScanWithPushedVariants
    // aliases readSchema attributes positionally under the pre-rewrite
    // exprIds). Rebuild `target` with each accepted column's VariantType
    // replaced by the struct Catalyst will expect: one field per
    // extraction IN ARRIVAL ORDER (Catalyst emits them ordinal-sorted
    // per column — the same ordinals its GetStructField rewrites use),
    // named by ordinal, typed by expectedDataType, tagged with the
    // extraction's VariantMetadata. The outer field keeps the engine
    // metadata (field id) so every by-id mapping downstream still binds.
    val accepted = exts.zip(verdicts).filter(_._2).map(_._1)
      .groupBy(e => e.columnName()(0))
    if (accepted.nonEmpty) {
      val replaced = target.fields.toSeq.map { tf =>
        accepted.get(tf.name) match {
          case Some(colExts)
              if tf.dataType == org.apache.spark.sql.types.VariantType =>
            val inner = colExts.zipWithIndex.map { case (e, i) =>
              StructField(i.toString, e.expectedDataType,
                nullable = true, metadata = e.metadata)
            }
            StructField(tf.name, StructType(inner.toSeq), tf.nullable,
              tf.metadata)
          case _ => tf
        }
      }
      // pruneColumns never runs on the accepted-variant path, so the
      // referenced-column list VariantScanPrep recorded is the ONLY
      // pruning signal: drop the non-variant columns the query never
      // references, in lockstep with the trimmed relation output the
      // rule installed (upstream zips that output positionally against
      // readSchema, so both sides must trim identically or nothing may)
      target = StructType(referencedCols match {
        case Some(cols) =>
          val keep = cols.toSet
          replaced.filter(f => keep.contains(f.name) ||
            LakeSource.isMetaCol(f.name))
        case None => replaced
      })
    }
    verdicts
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep full-field definitions (ids, nested types) in required
    // order; _graft_file/_graft_pos metadata columns pass through
    target = StructType(requiredSchema.fields.toSeq.flatMap { rf =>
      if (LakeSource.isMetaCol(rf.name)) Some(rf)
      else full.fields.find(_.name == rf.name).map { ff =>
        // an accepted variant extraction arrives as a variant-struct
        // REPLACEMENT type for the column: keep the rewritten type
        // (the readers request it verbatim — that's the pruning) but
        // the FULL field's metadata (the engine field id drives every
        // by-id mapping downstream)
        if (ff.dataType == org.apache.spark.sql.types.VariantType &&
            org.apache.spark.sql.execution.datasources
              .VariantMetadata.isVariantStruct(rf.dataType))
          StructField(ff.name, rf.dataType, ff.nullable, ff.metadata)
        else ff
      }
    })

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    stats = filters.toSeq.flatMap(LakeSource.filterToRanges)
    pushed = filters
    filters // all residual: file skipping is coarse, rows re-filtered
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan =
    new LakeScan(wh, db, tbl, startSnapshot, target, stats, aggResult,
      asOfSnapshot, onPlanned, maxSnapshotsPerTrigger, branchName,
      skipDeleteSnapshots, incremental, changelogMode, rowLevelOp, pin)
}

private[sources] class LakeScan(wh: String, db: String, tbl: String,
    startSnapshot: Long, target: StructType,
    statsFilters: Seq[graft.lake.RangeFilter] = Seq.empty,
    aggResult: Option[(StructType, Array[Any])] = None,
    asOfSnapshot: Option[Long] = None,
    onPlanned: Seq[graft.lake.DataFileMeta] => Unit = _ => (),
    maxSnapshotsPerTrigger: Option[Int] = None,
    branchName: Option[String] = None,
    skipDeleteSnapshots: Boolean = false,
    incremental: Option[(Long, Long)] = None,
    changelogMode: Boolean = false,
    rowLevelOp: Boolean = false,
    pin: Option[LakeReadPin] = None) extends Scan
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  // one metadata load shared by statistics and batch planning
  private lazy val planned = {
    val t = pin.map(_.table).getOrElse(LakeTable.load(wh, db, tbl))
    incremental match {
      case Some((from, to)) =>
        // rows ADDED in (from, to] — raw append/upsert files, no
        // delete application (changesBetween semantics): a consumer of
        // the range wants the added row versions, and retractions are
        // the changelog's job. A row-REMOVING commit inside the range
        // (delete / overwrite / replace) means the added-rows view is
        // not the whole story: fail loudly — same contract as the
        // streaming path — unless skipDeleteSnapshots opted in.
        // Rewrites move bytes, not data, and are skipped silently.
        val inRange = t.metadata.snapshots
          .filter(s => s.id > from && s.id <= to)
        val destructive = inRange.filter(s =>
          s.operation != "append" && s.operation != "upsert" &&
            !LakeTable.isByteMove(s.operation))
        if (destructive.nonEmpty && !skipDeleteSnapshots)
          throw new IllegalStateException(
            s"incremental read of $db.$tbl ($from, $to] hit " +
              "row-removing snapshot(s) " +
              destructive.map(s => s"${s.id}(${s.operation})")
                .mkString(", ") +
              ": their retractions cannot be expressed as added rows — " +
              "use the changelog for CDC, or set " +
              "option(\"skipDeleteSnapshots\", \"true\") to read only " +
              "the range's added rows.")
        val files = inRange
          .filter(s => s.operation == "append" || s.operation == "upsert")
          .flatMap(_.files)
        (t, LakeTable.matchingFiles(files, target, Map.empty, statsFilters,
          t.metadata.schemaOpt),
          Map.empty[String, graft.lake.DeleteSet],
          Seq.empty[graft.lake.EqDeleteMeta])
      case None => plannedFull(t)
    }
  }

  private def plannedFull(t: LakeTable) = {
    (pin.flatMap(_.state), pin.flatMap(_.changelog)) match {
      case (Some(st), _) => (t, st.files, st.deletes, st.eqDeletes)
      case (_, Some(range)) =>
        // the added and marker-read files: what the statistics size
        (t, range.flatMap(_._1.files) ++ LakeScan.changelogAffected(
            t.metadata, range.map(_._1)).values.flatten,
          Map.empty[String, graft.lake.DeleteSet],
          Seq.empty[graft.lake.EqDeleteMeta])
      case _ => plannedLive(t)
    }
  }

  private def plannedLive(t: LakeTable) = {
    branchName match {
      case Some(b) =>
        // branch overlay: main AS OF the fork base plus the branch's
        // own (staged) commits — same view LakeTable.readBranch serves
        val ref = t.metadata.refs.getOrElse(b,
          throw new IllegalArgumentException(s"no branch '$b'"))
        val base = ref.baseSnapshotId.getOrElse(
          throw new IllegalArgumentException(s"'$b' is not a writable branch"))
        val visible = t.metadata.snapshots.filter(_.id <= base)
        val marker = s"branch:$b"
        val branchSnaps = t.metadata.staged
          .filter(_.wapId.contains(marker))
        // branch commits re-sequence above the fork base so the view
        // equals the post-publish state — see LakeTable.readBranch
        val (overlay, branchEqs) =
          LakeTable.resequenceOverlay(base, branchSnaps)
        // staged copy-on-write commits rewrote files inside the branch:
        // drop their inputs, mirroring LakeTable.readBranch exactly
        val cowRemoved = branchSnaps.flatMap(_.removedPaths)
          .map(LakeTable.normalizePath).toSet
        (t, LakeTable.matchingFiles(
          (LakeTable.liveFiles(visible, Map.empty, target, statsFilters) ++
            overlay)
            .filterNot(f => cowRemoved(LakeTable.normalizePath(f.path))),
          target, Map.empty, statsFilters,
          t.metadata.schemaOpt), LakeTable.liveDeletes(visible),
          LakeTable.liveEqDeletes(visible) ++ branchEqs)
      case None =>
        val visible = LakeSource.visibleSnapshots(t, asOfSnapshot)
        val files = pin match {
          case Some(p) =>
            // exactly the caller's file set — its narrowing, against the
            // whole read schema (its columns need not survive column
            // pruning). Spark's pushed filters skip row groups inside
            // these files but drop none of them: the tasks stay the
            // parquet read's (file skipping would re-size the packing,
            // and with it the files written from the scan)
            val schema = asOfSnapshot.map(t.schemaAsOf)
              .getOrElse(t.currentSchema)
            LakeTable.matchingFiles(LakeTable.liveFiles(visible, p.prune,
              schema, p.statsFilters), schema, p.prune, p.statsFilters,
              t.metadata.schemaOpt)
          case None => LakeTable.matchingFiles(
            LakeTable.liveFiles(visible, Map.empty, target, statsFilters),
            target, Map.empty, statsFilters, t.metadata.schemaOpt)
        }
        (t, files, LakeTable.liveDeletes(visible),
          LakeTable.liveEqDeletes(visible))
    }
  }

  /** Equality batches applicable to `f` (batch seq > file seq), with
    * key columns resolved by field id against the read-time schema —
    * the reader filters matching rows out (Iceberg's DeleteFilter).
    * Resolution runs against the PINNED as-of schema (the schema that
    * was current at the read's snapshot): a VERSION AS OF read of a state whose then-live key column was
    * later dropped is well-defined and must not fail against the
    * current schema.
    */
  private def eqBatchesFor(f: graft.lake.DataFileMeta): Seq[LakeEqBatch] = {
    lazy val schema: StructType = {
      val md = planned._1.metadata
      asOfSnapshot.flatMap(sid => md.snapshots.find(_.id == sid))
        .map(sn => md.schemaById(sn.schemaId))
        .getOrElse(md.currentSchema)
    }
    planned._4.filter(_.seq > f.seq).map { b =>
      // the id may live nested in a struct — ship the LEAF field
      // (type + id metadata) and the top-level column holding it; the
      // reader re-resolves the file-side chain by id
      val leaves = b.fieldIds.map { id =>
        LakeTable.structPathOfId(schema, id).map(_._2)
          .getOrElse(throw new IllegalStateException(
            s"equality-delete key field id $id not in read schema"))
      }
      LakeEqBatch(b.paths, StructType(leaves), leaves.map { kf =>
        val id = FieldIds.idOf(kf)
        schema.fields.find(f => FieldIds.flatten(StructType(Seq(f)))
          .exists { case (_, g) => FieldIds.hasId(g) && FieldIds.idOf(g) == id })
          .get
      })
    }
  }

  private def deletePathsFor(f: graft.lake.DataFileMeta): Seq[String] =
    planned._3.get(LakeTable.normalizePath(f.path))
      .map(_.paths).getOrElse(Seq.empty)

  private def dvFor(f: graft.lake.DataFileMeta): Option[(String, Long, Long)] =
    planned._3.get(LakeTable.normalizePath(f.path)).flatMap(_.dv)
      .map(d => (d.dvPath, d.offset, d.length))

  /** Storage-partitioned join support: when every live file sits under
    * the current partition spec, every transform is identity (exactly
    * parseable source types) or a time transform over a wall-clock
    * source, and the source columns survive column pruning, the scan
    * reports KeyGroupedPartitioning over those transforms and every
    * input partition carries its partition key. Two lake tables
    * partitioned the same way then join with ZERO shuffle (Spark
    * groups the file tasks by key on both sides; time transforms
    * resolve through the catalog's years/months/days/hours functions) —
    * at 100 TB this is the difference between a metadata-driven merge
    * and re-shuffling both tables.
    * Requires spark.sql.sources.v2.bucketing.enabled=true.
    */
  private lazy val keyedSpec
      : Option[Seq[(graft.lake.SpecField, StructField)]] = {
    val (t, files, _, _) = planned
    val spec = t.metadata.currentSpec
    def srcField(id: Int): Option[StructField] =
      target.fields.find(f => FieldIds.hasId(f) && FieldIds.idOf(f) == id)
    def usable(f: graft.lake.SpecField, sf: StructField): Boolean =
      f.transform match {
        case "identity" => LakeSource.partitionKeyParseable(sf.dataType)
        case "year" | "month" | "day" | "hour" =>
          sf.dataType == TimestampNTZType || sf.dataType == DateType
        case t if graft.lake.Transforms.truncateWidth(t).isDefined =>
          sf.dataType == IntegerType || sf.dataType == LongType ||
            sf.dataType == StringType
        case t => graft.lake.Transforms.bucketCount(t).isDefined
      }
    val cols = spec.fields.map(f => srcField(f.sourceFieldId).map(f -> _))
    // engine-internal reads report no layout, as the parquet read they
    // replace: their small files pack instead of grouping by key
    if (aggResult.isEmpty && files.nonEmpty && pin.isEmpty &&
        spec.fields.nonEmpty &&
        files.forall(_.specId == spec.id) &&
        cols.forall(_.isDefined) &&
        cols.flatten.forall { case (f, sf) =>
          usable(f, sf) && files.forall(_.partitionValues.contains(f.name))
        })
      Some(cols.flatten)
    else None
  }

  private def partitionKeyOf(f: graft.lake.DataFileMeta,
      spec: Seq[(graft.lake.SpecField, StructField)]): Array[Any] =
    spec.map { case (sf, col) =>
      val v = f.partitionValues(sf.name)
      sf.transform match {
        case "identity" => LakeSource.parsePartitionValue(col.dataType, v)
        case t if graft.lake.Transforms.bucketCount(t).isDefined => v.toInt
        case t if graft.lake.Transforms.truncateWidth(t).isDefined =>
          // truncate keeps the SOURCE type (floor / prefix), so the key
          // parses like an identity value of that type
          LakeSource.parsePartitionValue(col.dataType, v)
        case _ => // time transforms: the key IS the rendered string
          if (v == "__HIVE_DEFAULT_PARTITION__") null
          else UTF8String.fromString(v)
      }
    }.toArray

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedSpec match {
      case Some(spec) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val keys = planned._2
          .map(f => partitionKeyOf(f, spec).toSeq).distinct.size
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            spec.map { case (f, col) =>
              f.transform match {
                case "identity" => Expressions.identity(col.name)
                case "year" => Expressions.years(col.name)
                case "month" => Expressions.months(col.name)
                case "day" => Expressions.days(col.name)
                case "hour" => Expressions.hours(col.name)
                case t if graft.lake.Transforms.truncateWidth(t).isDefined =>
                  // width-in-name single-arg form: SPJ only admits
                  // transforms with ONE reference child (see
                  // LakeFunctions), so truncate[16] reports as
                  // truncate_16(col)
                  Expressions.apply(
                    s"truncate_${graft.lake.Transforms.truncateWidth(t).get}",
                    org.apache.spark.sql.GraftPlanBridge.fieldRef(col.name))
                case t => Expressions.bucket(
                  graft.lake.Transforms.bucketCount(t).get, col.name)
              }
            }.toArray, keys)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Per-partition ordering from the recorded write sort order: every
    * input partition is exactly one file, so a file written by a
    * `write.sort-order` clustered write IS a sorted partition
    * (ascending, nulls first — sortWithinPartitions' default). With
    * key-grouped partitioning reported above, a storage-partitioned
    * merge join then needs neither an Exchange nor a Sort — the whole
    * join is metadata-planned. Conservative: reported only when EVERY
    * live file carries the same recorded sort ids and they all survive
    * column pruning (merge-on-read position deletes drop rows in
    * place, preserving order). A scan that reports an ordering keeps
    * one file per partition — packed small files would concatenate
    * sorted runs. Engine-internal reads report none (as the parquet
    * read they replace) and pack.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    ordering

  private lazy val ordering = fileSortOrder()

  private def fileSortOrder()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val files = planned._2
    if (aggResult.nonEmpty || files.isEmpty || pin.isDefined)
      return Array.empty
    val ids = files.head.sortedByIds
    if (ids.isEmpty || !files.forall(_.sortedByIds == ids)) return Array.empty
    val names = ids.map(id => target.fields
      .find(f => FieldIds.hasId(f) && FieldIds.idOf(f) == id).map(_.name))
    if (names.exists(_.isEmpty)) return Array.empty
    names.flatten.map(n =>
      // verbatim reference, NOT Expressions.column: the latter PARSES
      // the name as a multipart identifier, so a column named "a.b" or
      // "order date" would break every read of the table
      Expressions.sort(org.apache.spark.sql.GraftPlanBridge.fieldRef(n),
        SortDirection.ASCENDING)).toArray
  }

  /** File-size/row statistics from metadata — this is what lets
    * Catalyst auto-broadcast a small lake table in a join without
    * scanning it first.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    if (aggResult.isDefined)
      // metadata-only aggregate scan emits exactly one tiny row — do
      // not report (or recompute) full-table stats for it
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(16L)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(1L)
      }
    else new org.apache.spark.sql.connector.read.Statistics {
      private val files = planned._2
      private val deletedRows = files
        .flatMap(f => planned._3.get(LakeTable.normalizePath(f.path)))
        .map(_.rows).sum
      override def sizeInBytes(): java.util.OptionalLong =
        if (files.forall(_.bytes >= 0))
          java.util.OptionalLong.of(files.map(_.bytes).sum)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        if (files.forall(_.rows >= 0))
          java.util.OptionalLong.of(files.map(_.rows).sum - deletedRows)
        else java.util.OptionalLong.empty()
      // ANALYZE-computed ndv/null counts (LakeTable.analyze), resolved
      // by FIELD ID against the read schema so renames can't misbind —
      // this is what the cost-based optimizer joins plans on. Pinned
      // (VERSION/TIMESTAMP AS OF, branch) scans serve none: the stats
      // describe the CURRENT snapshot, not the pinned state.
      //
      // Staleness guard: snapshots landing after the ANALYZE drift the
      // true cardinalities, and a confident misestimate is WORSE for
      // the CBO than no estimate. The live-row ratio (now/analyzed)
      // decides: minor churn serves verbatim, moderate churn scales
      // ndv/null counts by the ratio (capped at the live row count),
      // and a table that churned beyond recognition (>8x growth, or
      // emptied) abstains entirely — never verbatim-stale.
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        if (asOfSnapshot.isDefined || branchName.isDefined) return out
        planned._1.metadata.tableStats.foreach { ts =>
          val snaps = planned._1.metadata.snapshots
          val headSnap = snaps.map(_.id).foldLeft(0L)(math.max)
          // table-level live rows (NOT this scan's pruned subset —
          // pruning is selectivity, not churn); metadata-only
          lazy val liveNow: Option[Long] = {
            val live = LakeTable.liveFiles(snaps)
            if (live.exists(_.rows < 0)) None
            else Some(live.map(_.rows).sum -
              LakeTable.liveDeletes(snaps).values.map(_.rows).sum)
          }
          val scale: Option[(Double, Long)] =
            if (ts.snapshotId == headSnap) Some((1.0, ts.rowCount))
            else liveNow match {
              case Some(now) if ts.rowCount > 0 && now > 0 =>
                val r = now.toDouble / ts.rowCount
                if (r >= 0.8 && r <= 1.25) Some((1.0, now))
                else if (r <= 8.0) Some((r, now))
                else None
              case _ => None
            }
          scale.foreach { case (k, now) =>
            val byId = ts.cols.map(c => c.fieldId -> c).toMap
            target.fields.foreach { tf =>
              if (FieldIds.hasId(tf)) byId.get(FieldIds.idOf(tf)).foreach {
                cs => out.put(
                  org.apache.spark.sql.connector.expressions.Expressions
                    .column(tf.name),
                  new org.apache.spark.sql.connector.read.colstats
                      .ColumnStatistics {
                    private def scaled(v: Long): Long =
                      math.min(math.ceil(v * k).toLong, now)
                    override def distinctCount(): java.util.OptionalLong =
                      java.util.OptionalLong.of(scaled(cs.ndv))
                    override def nullCount(): java.util.OptionalLong =
                      java.util.OptionalLong.of(scaled(cs.nullCount))
                  })
              }
            }
          }
        }
        out
      }
    }

  /** Whether [[LakeLocalScan]] decodes this batch scan on the driver:
    * not a streaming or row-level-operation scan, and the planned data
    * files within the table's `read.local-scan.max-bytes`
    * ([[LakeLocalScan.fits]]).
    */
  private[sources] lazy val driverResident: Boolean =
    !changelogMode && !rowLevelOp && {
      val (t, files, _, _) = planned
      val bound = LakeLocalScan.maxBytes(t.metadata.properties)
      bound > 0 && (aggResult.isDefined ||
        LakeLocalScan.fits(bound, files, readSchema()))
    }

  private[sources] def pinned: Option[LakeReadPin] = pin

  override def readSchema(): StructType =
    aggResult match {
      case Some((schema, _)) => schema
      case None => Reconcile.clean(target).asInstanceOf[StructType]
    }

  override def toBatch: Batch = if (changelogMode)
    throw new UnsupportedOperationException(
      "option(\"changelog\", \"true\") is a streaming read option — " +
        "for a batch changelog use CALL system.create_changelog_view")
  else if (aggResult.isDefined) new Batch {
    // metadata-only answer: one partition, one partial row, zero data
    // IO — the values were validated and captured at pushdown time
    def planInputPartitions(): Array[InputPartition] =
      Array(LakeAggPartition(aggResult.get._2))
    def createReaderFactory(): PartitionReaderFactory = new LakeReaderFactory
  } else if (pin.exists(_.changelog.isDefined)) new Batch {
    // the changelog stream's partitions as one batch scan: row
    // partitions only (the default factory never reads columnar)
    def planInputPartitions(): Array[InputPartition] = {
      val t = planned._1
      LakeScan.changelogPartitions(t.metadata, pin.get.changelog.get,
        target, LakeSource.externalTest(t.location))
    }
    def createReaderFactory(): PartitionReaderFactory = new LakeReaderFactory
  } else new Batch {
    // the columnar decision is per-SCAN (Spark forbids mixing row and
    // columnar partitions in one scan): planInputPartitions stamps
    // "all clean vectorizable files?" into the shared holder —
    // supportsColumnar runs after planning, so it reads a set flag
    private val decision = new ColumnarDecision
    // live set resolved at partition-planning time so runtime filters
    // (applied to the scan after static planning) take effect
    def planInputPartitions(): Array[InputPartition] = {
      val (t, matched, _, _) = planned
      val files = if (pin.isDefined) matched
        else LakeTable.matchingFiles(matched, target, Map.empty,
          runtimeRanges, t.metadata.schemaOpt)
      onPlanned(files) // row-level ops capture the replaced group here
      val ext = LakeSource.externalTest(t.location)
      val out: Array[InputPartition] = keyedSpec match {
        case Some(spec) => files.map(f => LakeKeyedFilePartition(f.path,
            t.metadata.schemaById(f.schemaId), target,
            partitionKeyOf(f, spec), deletePathsFor(f),
            eqBatchesFor(f), external = ext(f.path),
            dv = dvFor(f), firstRowId = f.firstRowId, fileSeq = f.seq,
            lineageMat = f.lineageCols,
            pushedRanges =
              if (rowLevelOp) Seq.empty
              else statsFilters ++ runtimeRanges)).toArray
        case None =>
          // LARGE-file byte-range splitting (Iceberg's
          // read.split.target-size): a multi-GB compacted/CTAS file
          // must not serialize into one task at 1000-executor scale.
          // Ranges are planned AND read with ZERO footer IO —
          // parquet's midpoint rule assigns each row group to exactly
          // one range at read time. Position-consuming reads (MoR
          // position deletes, deletion vectors, meta/lineage columns)
          // split too: every reader takes file-absolute positions
          // from parquet's own row-index machinery (exact per range),
          // so compact-then-delete files — the 100-TB lifecycle
          // norm — stop being one straggler task each. Only external
          // bytes (foreign encodings) keep one partition per file,
          // and row-level op scans keep file-granular groups (their
          // filters select FILES for rewrite, not records).
          // floor 4 KiB (a smaller value is a misconfiguration, and a
          // pathological one must not plan millions of partitions);
          // unparseable values fall back to the default rather than
          // failing every scan of the table
          val splitTarget: Long = t.metadata.properties
            .get("read.split.target-size")
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .map(math.max(_, 4096L))
            .getOrElse(128L * 1024 * 1024)
          // Spark's file-source sizing (FilePartition.maxSplitBytes):
          // the split unit never exceeds what spark.read.parquet would
          // cut the same files into, so a scan plans the same pieces
          val session = org.apache.spark.sql.SparkSession.active
          val openCost = org.apache.spark.sql.internal.SQLConf.get
            .filesOpenCostInBytes
          val packable = files.filter(f => f.bytes >= 0 && !ext(f.path))
          val maxSplit = org.apache.spark.sql.execution.datasources
            .FilePartition.maxSplitBytes(session,
              packable.map(_.bytes + openCost).sum)
          val unit = math.min(splitTarget, maxSplit)
          val pieces = files.flatMap { f =>
            val deletes = deletePathsFor(f)
            val eqs = eqBatchesFor(f)
            val dv = dvFor(f)
            val isExt = ext(f.path)
            val one = LakeFilePartition(f.path,
              t.metadata.schemaById(f.schemaId), target, deletes,
              eqs, external = isExt, dv = dv,
              firstRowId = f.firstRowId, fileSeq = f.seq,
              lineageMat = f.lineageCols,
              // pushed + runtime (DPP) ranges travel to the reader for
              // row-group skipping INSIDE surviving files — since r15
              // on position-consuming (MoR/meta) reads too, positions
              // coming from parquet's row-index machinery.
              // NEVER for a row-level operation's scan: its filters
              // select GROUPS (files) — the rewrite must carry every
              // surviving file's non-matching rows, and a record-level
              // drop would silently delete them (caught by lake_sql_dml)
              pushedRanges =
                if (rowLevelOp) Seq.empty
                else statsFilters ++ runtimeRanges)
            if (rowLevelOp || isExt || f.bytes <= unit)
              Seq((one, f.bytes))
            else {
              // cap the fan-out per file: a tiny configured target on
              // a huge file must widen its ranges, not flood the
              // planner with partitions
              val eff = math.max(unit, (f.bytes + 8191) / 8192)
              val n = ((f.bytes + eff - 1) / eff).toInt
              (0 until n).map { i =>
                val st = i.toLong * eff
                val len = math.min(eff, f.bytes - st)
                (one.copy(start = st, length = len), len)
              }
            }
          }
          if (ordering.nonEmpty) pieces.map(_._1).toArray
          else LakeScan.pack(session, pieces, maxSplit).toArray
      }
      decision.allColumnar = LakeReaderFactory.allVectorizable(out)
      out
    }
    def createReaderFactory(): PartitionReaderFactory =
      new LakeReaderFactory(decision)
  }

  // dynamic file pruning: join-produced runtime filters (Spark's DPP
  // mechanism) re-prune the file list by min/max stats just before
  // execution — a selective dimension join then opens only the files
  // whose ranges cover the surviving keys
  @volatile private var runtimeRanges: Seq[graft.lake.RangeFilter] = Seq.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    target.fields.map(f => org.apache.spark.sql.connector.expressions
      .Expressions.column(f.name))

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeRanges = filters.toSeq.flatMap(LakeSource.filterToRanges)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeMicroBatchStream(wh, db, tbl, startSnapshot, target,
      maxSnapshotsPerTrigger, skipDeleteSnapshots, changelogMode)
}

private[sources] object LakeScan {
  /** The changelog's input partitions (Iceberg's
    * `create_changelog_view` shape) — one planner under the changelog
    * stream and the batch `LakeTable.changelogBetween`. `range` pairs
    * each row-level snapshot (append, upsert, delete) with its
    * `_change_ordinal`; `target` is the scan's (pruned) changelog
    * schema. Per snapshot, tagged with its three change columns:
    *  - "delete": every data file its position deletes or vector
    *    DELTA blobs touch, read whole by a reader that emits only the
    *    deleted positions (full-row markers, reconciled by field id);
    *  - "delete": every equality-batch key file, read as key-only
    *    markers (struct-nested keys fill their enclosing structs,
    *    every other column null — the batch never knew the victims);
    *  - "insert": every added data file, deletes not applied.
    * Metadata only: no footer or delete-file IO on the driver — the
    * readers load delete positions through the executor cache.
    */
  def changelogPartitions(md: graft.lake.TableMetadata,
      range: Seq[(graft.lake.SnapshotMeta, Int)], target: StructType,
      ext: String => Boolean): Array[InputPartition] = {
    val dataTarget = StructType(
      target.fields.filterNot(f => LakeSource.isChangelogCol(f.name)))
    val affected = changelogAffected(md, range.map(_._1))
    range.flatMap { case (sn, ord) =>
      def wrap(p: InputPartition, typ: String): InputPartition =
        LakeChangelogPartition(p, typ, ord, sn.id, target)
      // vector commit: each marker partition reads its file's DELTA
      // blob (exactly the rows this snapshot deleted)
      val deltaByPath = sn.dvs.map(d => LakeTable.normalizePath(d.dataPath) ->
        ((d.dvPath, d.deltaOffset, d.deltaLength))).toMap
      val pos = affected.getOrElse(sn.id, Seq.empty).map(f =>
        LakeFilePartition(f.path, md.schemaById(f.schemaId), dataTarget,
          deletes = sn.deletePaths, emitOnlyDeleted = true,
          external = ext(f.path),
          dv = deltaByPath.get(LakeTable.normalizePath(f.path))))
      val eq = sn.eqDeletes.flatMap(b => b.paths.map(p =>
        LakeEqMarkerPartition(Seq(p), b.fieldIds, dataTarget)))
      val ins = sn.files.map(f =>
        LakeFilePartition(f.path, md.schemaById(f.schemaId), dataTarget,
          external = ext(f.path)))
      (pos ++ eq).map(wrap(_, "delete")) ++ ins.map(wrap(_, "insert"))
    }.toArray
  }

  /** Per delete-bearing snapshot id, the data files its position
    * deletes touch, resolved from the history up to the range's end.
    * A file no snapshot lists any more (expired or squashed history)
    * fails by name: its deleted rows cannot be read back, and a
    * silent drop would emit a changelog missing retractions.
    */
  def changelogAffected(md: graft.lake.TableMetadata,
      snaps: Seq[graft.lake.SnapshotMeta])
      : Map[Long, Seq[graft.lake.DataFileMeta]] = {
    val deleting = snaps.filter(sn =>
      sn.deletePaths.nonEmpty || sn.dvs.nonEmpty)
    if (deleting.isEmpty) return Map.empty
    val last = deleting.map(_.id).max
    val byPath = md.snapshots.filter(_.id <= last).flatMap(_.files)
      .map(f => LakeTable.normalizePath(f.path) -> f).toMap
    deleting.map { sn =>
      val affected = sn.deleteCounts.keySet.toSeq.sorted
      val missing = affected.filterNot(byPath.contains)
      require(missing.isEmpty,
        s"changelog: snapshot ${sn.id}'s position deletes reference " +
          s"data file(s) no longer in history (expired?): " +
          missing.mkString(", "))
      sn.id -> affected.map(byPath)
    }.toMap
  }

  /** Small-file packing, Spark's file-source rule verbatim
    * (`FilePartition.getFilePartitions` over pieces sorted by size,
    * descending — next-fit with `spark.sql.files.openCostInBytes` per
    * piece, bounded by `maxSplit`): a lake scan plans exactly the
    * tasks `spark.read.parquet` would over the same files, so a write
    * fed by the scan (compaction, MV publication) writes the same
    * number of files, in the same row order (pieces largest first, as
    * the file source reads them). External files and pieces of unknown
    * size keep a partition of their own, after the packed ones.
    */
  def pack(session: org.apache.spark.sql.SparkSession,
      pieces: Seq[(LakeFilePartition, Long)],
      maxSplit: Long): Seq[InputPartition] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val ps = pieces.toIndexedSeq
    val (packable, alone) = ps.zipWithIndex
      .partition { case ((p, bytes), _) => bytes >= 0 && !p.external }
    val byFile = new java.util.IdentityHashMap[PartitionedFile, Int]()
    val files = packable.map { case ((p, bytes), i) =>
      val pf = PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(p.path),
        p.start, bytes)
      byFile.put(pf, i)
      pf
    }.sortBy(_.length)(Ordering[Long].reverse)
    val groups = FilePartition.getFilePartitions(session, files, maxSplit)
      .map(_.files.map(byFile.get).toSeq) ++
      alone.map { case (_, i) => Seq(i) }
    groups.map {
      case Seq(i) => ps(i)._1
      case many => LakeMultiFilePartition(many.map(ps(_)._1))
    }
  }
}

/** Several small-file reads served by one task, in order — the
  * packed input partition of [[LakeScan.pack]].
  */
private[sources] case class LakeMultiFilePartition(
    parts: Seq[LakeFilePartition]) extends InputPartition

private[sources] case class LakeOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** One equality-delete batch as shipped to a reader task: the key-file
  * paths plus the key columns (current-schema fields, field-id
  * metadata attached) in batch order — the parquet files store the
  * keys as `k<fieldId>` columns — and, per key, its top-level CARRIER:
  * the key column itself, or the struct column enclosing it.
  */
private[sources] case class LakeEqBatch(paths: Seq[String],
    keyFields: StructType, carriers: Seq[StructField])

/** `emitOnlyDeleted` inverts the position-delete filter: the reader
  * emits ONLY the rows at deleted positions — the changelog stream's
  * full-row delete markers.
  */
/** `dv`: the file's deletion vector as (container path, offset,
  * length) — Iceberg v3's per-file bitmap replaces the `deletes`
  * parquet list when the table writes vectors; under
  * `emitOnlyDeleted` the planner passes the commit's DELTA blob so
  * changelog markers are exactly the newly-deleted rows.
  */
private[sources] case class LakeFilePartition(path: String,
    fileSchema: StructType, target: StructType,
    deletes: Seq[String] = Seq.empty,
    eqBatches: Seq[LakeEqBatch] = Seq.empty,
    emitOnlyDeleted: Boolean = false,
    external: Boolean = false,
    dv: Option[(String, Long, Long)] = None,
    firstRowId: Long = -1L,
    fileSeq: Long = -1L,
    lineageMat: Boolean = false,
    pushedRanges: Seq[graft.lake.RangeFilter] = Seq.empty,
    // byte-range split of a LARGE file (parquet's midpoint rule
    // assigns each row group to exactly one range): start=0/length=-1
    // reads the whole file. Splits cover delete-bearing and
    // meta-consuming files too (r14) — every position-consuming
    // reader takes file-absolute positions from parquet's row-index
    // machinery (r15: no counter, no per-split footer IO), so a
    // partial file never desynchronizes positions. Only external
    // files and row-level-op scans stay one partition per file.
    start: Long = 0L,
    length: Long = -1L)
    extends InputPartition

/** Equality-delete batch key files as changelog delete markers: each
  * record's key columns (stored as `k<fieldId>`) fill the target
  * fields of those ids, top-level or struct-nested, everything else
  * null — the batch never knew the victim rows, only their keys.
  */
private[sources] case class LakeEqMarkerPartition(paths: Seq[String],
    keyIds: Seq[Int], target: StructType) extends InputPartition

/** Wraps any row-producing partition with the three changelog columns
  * appended at fixed values. `target` is the full changelog schema the
  * scan serves; inner rows carry `target` minus the changelog columns,
  * in order.
  */
private[sources] case class LakeChangelogPartition(inner: InputPartition,
    changeType: String, ordinal: Int, snapshotId: Long,
    target: StructType) extends InputPartition

/** A file partition that knows its (identity-transform) partition key —
  * the HasPartitionKey half of the storage-partitioned-join contract:
  * Spark groups same-key partitions into one task and lines the tasks
  * up across the two join sides.
  */
private[sources] case class LakeKeyedFilePartition(path: String,
    fileSchema: StructType, target: StructType, key: Array[Any],
    deletes: Seq[String] = Seq.empty,
    eqBatches: Seq[LakeEqBatch] = Seq.empty,
    external: Boolean = false,
    dv: Option[(String, Long, Long)] = None,
    firstRowId: Long = -1L,
    fileSeq: Long = -1L,
    lineageMat: Boolean = false,
    pushedRanges: Seq[graft.lake.RangeFilter] = Seq.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
  /** The same read, minus the key (which only groups tasks — the
    * partition source columns live IN the data file): keyed partitions
    * read through the identical file readers, vectorized included.
    */
  def toFilePartition: LakeFilePartition =
    LakeFilePartition(path, fileSchema, target, deletes, eqBatches,
      external = external, dv = dv, firstRowId = firstRowId,
      fileSeq = fileSeq, lineageMat = lineageMat,
      pushedRanges = pushedRanges)
}

private[sources] case class LakeAggPartition(values: Array[Any])
    extends InputPartition

private[sources] class LakeMicroBatchStream(wh: String, db: String,
    tbl: String, startSnapshot: Long, target: StructType,
    maxSnapshotsPerTrigger: Option[Int] = None,
    skipDeleteSnapshots: Boolean = false,
    changelogMode: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // metadata is reloaded per call so a long-running stream sees commits
  // made through any other handle/process
  private def snapshots = LakeTable.load(wh, db, tbl).metadata.snapshots
  private def maxSnapshotId: Long =
    snapshots.map(_.id).foldLeft(startSnapshot)(math.max)

  // Trigger.AvailableNow: pin the end offset once so the query drains
  // to a fixed point and stops even if writers keep committing
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(maxSnapshotId)

  override def initialOffset(): Offset = LakeOffset(startSnapshot)
  override def latestOffset(): Offset =
    LakeOffset(availableNowCap.getOrElse(maxSnapshotId))
  // SupportsAdmissionControl (pulled in by SupportsTriggerAvailableNow):
  // without maxSnapshotsPerTrigger every batch drains to the latest
  // snapshot; with it, each micro-batch advances over at most N
  // snapshots (Iceberg's streaming-read rate limiting) — at scale one
  // trigger must not swallow an unbounded backlog of commits. Under
  // Trigger.AvailableNow the engine keeps scheduling batches until the
  // returned offset stops moving, so a capped stream still drains the
  // full backlog, N snapshots at a time, through ONE query.
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cap = availableNowCap.getOrElse(maxSnapshotId)
    maxSnapshotsPerTrigger match {
      case None => LakeOffset(cap)
      case Some(n) =>
        require(n > 0, s"maxSnapshotsPerTrigger must be > 0, got $n")
        val s = start.asInstanceOf[LakeOffset].snapshotId
        val next = snapshots.map(_.id).filter(id => id > s && id <= cap)
          .sorted.take(n)
        LakeOffset(next.lastOption.getOrElse(s))
    }
  }
  override def deserializeOffset(json: String): Offset =
    LakeOffset(json.toLong)

  /** A micro-batch delivers the rows ADDED in (start, end] — appends
    * and upserts, mirroring `changesBetween` (an upsert's data files
    * are its inserted row versions; the paired equality deletes retract
    * prior versions, which an append-only stream cannot express).
    * Rewrites move bytes, not data, and are skipped silently. Anything
    * that removes or replaces rows (delete / overwrite / replace) makes
    * the stream's history unrepresentable: fail loudly — the offset
    * must not advance past data loss — unless the user opted in with
    * `skipDeleteSnapshots=true` (Iceberg's streaming-skip-delete /
    * skip-overwrite semantics).
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[LakeOffset].snapshotId,
      end.asInstanceOf[LakeOffset].snapshotId)
    val md = LakeTable.load(wh, db, tbl).metadata
    val inRange = md.snapshots.filter(sn => sn.id > s && sn.id <= e)
    if (changelogMode) {
      decision.allColumnar = false // marker/wrapped partitions are row
      return planChangelogPartitions(md, inRange)
    }
    val destructive = inRange.filter(sn =>
      sn.operation != "append" && sn.operation != "upsert" &&
        !LakeTable.isByteMove(sn.operation))
    if (destructive.nonEmpty && !skipDeleteSnapshots)
      throw new IllegalStateException(
        s"streaming read of $db.$tbl hit non-append snapshot(s) " +
          destructive.map(sn => s"${sn.id}(${sn.operation})").mkString(", ") +
          ": a row-removing commit cannot be replayed as a stream of " +
          "inserts. Set option(\"skipDeleteSnapshots\", \"true\") to " +
          "skip them and stream only added rows.")
    val ext = LakeSource.externalTest(LakeTable.tableLocation(wh, db, tbl))
    val out: Array[InputPartition] = inRange
      .filter(sn => sn.operation == "append" || sn.operation == "upsert")
      .flatMap(sn => sn.files.map(f =>
        LakeFilePartition(f.path, md.schemaById(f.schemaId), target,
          external = ext(f.path))))
      .toArray
    // micro-batches execute sequentially (plan N → run N → plan N+1),
    // so one shared holder per stream is safe; changelog batches keep
    // the default false via their own partition types
    decision.allColumnar = LakeReaderFactory.allVectorizable(out)
    out
  }

  /** Changelog mode (`option("changelog", "true")`): each micro-batch
    * delivers `_change_type`-tagged rows for every snapshot in (start,
    * end] — full-row delete markers for position deletes, key-only
    * markers for equality batches, and the snapshots' added rows as
    * inserts — the streaming form of `LakeTable.changelogBetween`, so
    * delete-bearing histories STREAM instead of failing or skipping.
    * `_change_ordinal` is dense within the micro-batch; cross-batch
    * replay order is (_change_snapshot_id, deletes-before-inserts).
    * Copy-on-write commits still refuse (no row-level change info).
    */
  private def planChangelogPartitions(md: graft.lake.TableMetadata,
      inRange: Seq[graft.lake.SnapshotMeta]): Array[InputPartition] = {
    val bad = inRange.filterNot(sn =>
      Set("append", "upsert", "delete").contains(sn.operation) ||
        LakeTable.isByteMove(sn.operation))
    if (bad.nonEmpty) throw new IllegalStateException(
      s"changelog stream of $db.$tbl hit snapshot(s) " +
        bad.map(sn => s"${sn.id}(${sn.operation})").mkString(", ") +
        ": copy-on-write commits carry no row-level change information")
    LakeScan.changelogPartitions(md,
      inRange.filterNot(sn => LakeTable.isByteMove(sn.operation))
        .sortBy(_.id).zipWithIndex, target,
      LakeSource.externalTest(LakeTable.tableLocation(wh, db, tbl)))
  }

  // per-stream columnar flag, stamped at each micro-batch's planning
  // (micro-batches run strictly plan-then-execute, one at a time)
  private val decision = new ColumnarDecision

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(decision)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

