package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.schema._

/** Row-level operations of [[LakeTable]]: copy-on-write DELETE /
  * UPDATE / MERGE (file-pruned rewrite of only the affected files) and
  * their merge-on-read counterparts (position/equality delete commits).
  * Pure extraction from the class body — no behavior change.
  */
private[lake] trait LakeTableRowOps { self: LakeTable =>

  /** Write `keys` (distinct) as an equality-delete parquet batch.
    * Columns are stored as `k<fieldId>` so later renames of the key
    * columns cannot orphan the batch — readers resolve names per
    * schema version by id. Key columns may be struct-NESTED scalars
    * (dotted paths, e.g. `meta.region` — Iceberg's equality deletes
    * likewise key on any nested field id); paths through arrays/maps
    * are refused (such a field doesn't identify a row).
    */
  private[lake] def writeEqDeleteBatch(keys: DataFrame, snapshotId: Long)
      : EqDeleteMeta = {
    val schema = md.currentSchema
    val fields = keys.columns.toSeq.map { c =>
      // exact top-level match first: a column NAMED with a dot must
      // not be re-parsed as a nested path
      val f = schema.fields.find(_.name == c)
        .orElse(LakeTable.resolveStructPath(schema, c)).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key '$c' is not a table column or a " +
            "struct-nested path (array/map paths cannot key a row)"))
      require(Seq(IntegerType, LongType, StringType, BooleanType,
        FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
        .contains(f.dataType) || f.dataType.isInstanceOf[DecimalType],
        s"equality-delete key '$c' must be a scalar of a supported " +
          s"type, got ${f.dataType.simpleString}")
      c -> f
    }
    val ids = fields.map { case (_, f) => FieldIds.idOf(f) }
    val proj = keys.select(fields.map { case (c, f) =>
      col(s"`$c`").cast(f.dataType).as(s"k${FieldIds.idOf(f)}")
    }: _*)
    val dir = dataDir.resolve(
      s"eqdel-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
    // a bounded LOCAL key set (the incremental-MV / touched-group
    // publication shape): dedupe on the driver by value (java equality,
    // the readers' key-set semantics: NaN matches NaN, -0.0 stays
    // apart from 0.0) and write the one marker file driver-side (no
    // Spark job)
    if (LakeTable.isLocalPlan(keys)) {
      proj.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val types = fields.map(_._2.dataType)
          val seen = new java.util.LinkedHashMap[java.util.List[Any],
            org.apache.spark.sql.catalyst.InternalRow]()
          lr.data.foreach(r =>
            seen.putIfAbsent(r.toSeq(types).asJava, r.copy()))
          return EqDeleteMeta(markerFiles(proj, dir,
            Some(seen.values.asScala.toSeq)), ids, snapshotId)
        case _ => ()
      }
    }
    EqDeleteMeta(markerFiles(proj.distinct(), dir, None), ids, snapshotId)
  }

  /** The marker parquet of one equality batch, written by the direct
    * writer (r17: no FileFormatWriter machinery — the marker files are
    * plain flat parquet either way); `driverRows` runs it on the
    * driver. An EMPTY key set still publishes one empty marker: every
    * batch consumer (eqBatchFrame, liveEqDeletes suffix grouping)
    * assumes paths is non-empty, exactly the invariant
    * FileFormatWriter's always-one-file behavior used to provide.
    */
  private def markerFiles(keys: DataFrame, dir: Path,
      driverRows: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]])
      : Seq[String] = {
    val written = LakeTable.writeViaTaskWriterRich(keys, dir,
      graft.sources.WritePlan.empty,
      Seq.empty, null, driverRuns = driverRows.map(Seq(_))).files.map(_._1).sorted
    if (written.nonEmpty) written
    else {
      val w = new graft.sources.LakeParquetDataWriter(dir.toString,
        keys.schema, graft.sources.WritePlan.empty, "empty")
      w.openEmpty()
      w.commit().asInstanceOf[graft.sources.LakeFilesCommit].files.map(_._1)
    }
  }

  /** The table's identifier fields resolved to their CURRENT names —
    * rename-proof because the metadata stores field ids. Empty when the
    * table declares no row identity.
    */
  def identifierFieldNames: Seq[String] =
    md.identifierFieldIds.map(id =>
      LakeTable.structPathOfId(md.currentSchema, id).map(_._1).getOrElse(
        throw new IllegalStateException(
          s"identifier field id $id not in current schema")))

  /** Key resolution shared by every keyed MoR verb: no keys → the
    * table's identifier fields (loud failure when none are declared);
    * explicit keys on an identity-declaring table must MATCH the
    * identity — otherwise two CDC writers using different keys would
    * silently produce diverging last-write-wins outcomes.
    */
  private[lake] def resolveKeys(keys: Seq[String], op: String): Seq[String] = {
    val ident = identifierFieldNames
    if (keys.isEmpty) {
      require(ident.nonEmpty,
        s"$op: no keys given and table ${md.database}.${md.table} declares " +
          "no identifier fields (set table property 'identifier-fields')")
      ident
    } else {
      require(ident.isEmpty || keys.toSet == ident.toSet,
        s"$op keys [${keys.mkString(", ")}] differ from the table's " +
          s"identifier fields [${ident.mkString(", ")}] — omit keys to " +
          "use the declared row identity")
      keys
    }
  }

  /** DELETE WHERE key IN (keys) — merge-on-read equality deletes:
    * writes only the key tuples, reads and rewrites NOTHING (contrast
    * position deletes, which scan to find row positions). The batch
    * deletes matching rows from every data file with a lower sequence
    * number at read time. O(keys) write cost at any table size — the
    * CDC/GDPR delete shape for 100 TB tables. The key frame's COLUMNS
    * are the key set, so identity-declaring tables refuse a frame
    * whose columns drift from the declared identity.
    */
  /** One CDC delta as ONE snapshot: an equality-delete batch for `keys`
    * plus the appended `rows`, both at the new snapshot's sequence —
    * the batch kills strictly OLDER rows with those keys, never the
    * rows written alongside it, so delete-then-insert semantics hold
    * within the single commit. A replayed changelog ordinal (or any
    * CDC frame's deletes+inserts) lands as one commit instead of two.
    * Blind write: retries on conflict like `upsertMoR`.
    */
  def applyDeltaMoR(spark: SparkSession, keys: DataFrame,
      rows: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "applyDeltaMoR")
    writeMoR(spark, Some(rows), Left(keys), None)
  }

  def deleteByKeysMoR(spark: SparkSession, keys: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "deleteByKeysMoR")
    writeMoR(spark, None, Left(keys), None)
  }

  /** Blind streaming upsert (the Flink/Iceberg CDC-sink shape): ONE
    * snapshot carries an equality-delete batch for the source keys
    * plus the source rows as new data files. The batch's sequence
    * equals the snapshot's, so it kills older rows with those keys but
    * not the rows written alongside it — last write wins per key, with
    * zero reads of the existing table at write time. At 100 TB that is
    * the difference between O(batch) and O(table) per commit.
    */
  def upsertMoR(spark: SparkSession, source: DataFrame,
      keys: Seq[String] = Seq.empty, streamBatchId: Option[Long] = None,
      streamId: Option[String] = None): SnapshotMeta = {
    val ks = resolveKeys(keys, "upsertMoR")
    requireUpsertKeys(source, ks)
    writeMoR(spark, Some(source), Right(ks), None, streamBatchId, streamId)
  }

  /** Touched-group publication (the incremental-MV maintenance shape):
    * ONE snapshot whose equality-delete batch strikes EVERY given key
    * — including groups whose recompute produced no surviving row —
    * while `source` re-adds the live groups. The batch's sequence
    * equals the snapshot's, so the markers kill older rows but never
    * the rows written alongside them. Equivalent to
    * `upsertMoR(source) + deleteByKeysMoR(deadKeys)` in HALF the
    * commits (one manifest write, one snapshot) and without computing
    * the dead set at all. `keys` may be a superset of the source's key
    * values; it must never miss one, or the stale row survives next to
    * its replacement.
    */
  def upsertWithDeletesMoR(spark: SparkSession, source: DataFrame,
      keys: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "upsertWithDeletesMoR")
    writeMoR(spark, Some(source), Left(keys), None)
  }

  /** An upsert SOURCE must physically carry every key — a top-level
    * column, or for dotted keys the full struct path. Accepting a
    * missing nested key would let Align null-fill the struct and the
    * batch would silently eq-delete every null-keyed row instead of
    * failing loudly like the top-level case.
    */
  private[lake] def requireUpsertKeys(source: DataFrame, keys: Seq[String]): Unit =
    require(keys.nonEmpty && keys.forall(k =>
      source.columns.contains(k) ||
        LakeTable.resolveStructPath(source.schema, k).isDefined),
      s"source must contain every key column: $keys")

  /** The upsert key columns of an aligned frame, one column per key —
    * dotted keys navigate into structs and come back aliased to their
    * dotted path, which `writeEqDeleteBatch` resolves against the
    * current schema.
    */
  private[lake] def keyColumns(aligned: DataFrame, keys: Seq[String]): DataFrame =
    aligned.select(keys.map(k =>
      (if (aligned.columns.contains(k)) col(s"`$k`") else col(k))
        .as(k)): _*)

  /** Row-level ops (CoW rewrite or position-delete MoR) assume every
    * live row is physically present in its data file; live equality
    * deletes break that. Materialize them first (compact). Loud guard,
    * not silent corruption.
    */
  private[lake] def requireNoLiveEqDeletes(op: String): Unit =
    require(LakeTable.liveEqDeletes(md.snapshots).isEmpty,
      s"$op with live equality deletes is unsupported — run compact() " +
        "(CALL system.compact) to materialize them first")

  /** DELETE FROM t WHERE predicate — Iceberg copy-on-write semantics:
    * only files that actually contain matching rows are rewritten
    * (without those rows); all other files survive untouched. The
    * commit is an "overwrite" snapshot listing the replaced files.
    *
    * Scale: candidate selection is one pruned scan (optionally
    * pre-narrowed by `prune`/`statsFilters` so only files whose
    * partition values / min-max stats can match are opened); the
    * rewrite touches only affected files. Rows where the predicate is
    * NULL are kept (SQL DELETE semantics). Returns None when nothing
    * matched — no empty snapshot is committed.
    */
  def delete(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("delete")
    val affected = affectedFiles(spark, predicate, prune, statsFilters)
    if (affected.isEmpty) None
    else {
      val kept0 = readPinned(spark, affected,
          LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
        .filter(!coalesce(predicate, lit(false)))
      // surviving rows are untouched — their lineage carries verbatim
      val kept = if (writesVectors) matLineage(kept0) else kept0
      Some(writeSnapshot(kept, operation = "overwrite",
        removedPaths = affected.map(_.path), lineage = writesVectors))
    }
  }

  /** DELETE with merge-on-read semantics (Iceberg v2 position deletes):
    * instead of rewriting every affected data file, commit small
    * parquet delete files of (file_path, pos) rows; reads anti-join
    * them out. The write cost is proportional to the MATCHED rows, not
    * the touched files — at 100 TB, deleting 0.1% of rows spread over
    * thousands of large files writes kilobytes instead of terabytes.
    * Positions already deleted by earlier commits are excluded, so the
    * per-file deleted-row counts stay exact (metadata-only COUNT(*)
    * subtracts them). Compaction (`compact`) folds deletes back into
    * data files and clears them.
    */
  def deleteMoR(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("deleteMoR")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    if (plannedFiles(prune, statsFilters).isEmpty) return None
    val matched = liveRowsWithPos(spark, prune, statsFilters)
      .filter(predicate)
    commitMoR(spark, matched, appended = Seq.empty)
  }

  /** UPDATE with merge-on-read semantics: matching rows become position
    * deletes and their updated copies are appended — one snapshot, no
    * data-file rewrite. Same assignment semantics as `update` (every
    * RHS sees the pre-update row).
    */
  def updateMoR(spark: SparkSession, assignments: Map[String, Column],
      predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    val bad = assignments.keySet.filterNot(md.currentSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    requireNoLiveEqDeletes("updateMoR")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    if (plannedFiles(prune, statsFilters).isEmpty) return None
    // one materialization feeds both the delete positions and the
    // updated copies: a driver-resident match is one already (the
    // pinned read keeps its decoded rows), any other is checkpointed
    // (localCheckpoint: reclaimed when the df drops)
    val hits = liveRowsWithPos(spark, prune, statsFilters,
      lineage = writesVectors).filter(predicate)
    val matched = if (LakeTable.isLocalPlan(hits)) hits else hits.localCheckpoint()
    // a v3 updated copy is the SAME row: it materializes the matched
    // row's id and nulls its last-updated so inheritance re-stamps the
    // new file's sequence — identical semantics to the CoW update path
    val lineageSel: Seq[Column] =
      if (!writesVectors) Seq.empty
      else Seq(col("_row_id").as("_graft_row_id"),
        lit(null).cast(LongType).as("_graft_last_updated"))
    val updated = matched.select(md.currentSchema.fieldNames.toSeq.map { n =>
      assignments.get(n) match {
        case Some(value) => value.as(n)
        case None => col(s"`$n`")
      }
    } ++ lineageSel: _*)
    commitMoR(spark, matched, appended = Seq(
      Align.keeping(updated, md.currentSchema, LakeTable.matLineageCols)))
  }

  /** MERGE with merge-on-read semantics: matched target rows become
    * position deletes plus (for onMatch="update") appended copies with
    * the source values; unmatched source rows append. Only the delete
    * files and the delta rows are written — no target file rewrite. A
    * merge that matches no row commits its inserts as an append.
    *
    * The match is made one of two ways, to the same snapshot:
    *  - a driver-resident source ([[LakeTable.isLocalPlan]]) whose key
    *    columns have the table's types and compare on the driver
    *    ([[driverKey]]), at least one of them not floating point, runs
    *    at most ONE Spark job: the pinned row-op scan, filtered by the
    *    source's values of the non-floating key columns, collected (no
    *    job when the scan decodes on the driver,
    *    [[graft.sources.LakeLocalScan]]).
    *    The rows pair with the source rows on the driver
    *    ([[matchOnDriver]]), and the new rows are written there: the
    *    updated copies and the inserts one data file each per
    *    partition value;
    *  - any other source keeps the distributed join against the scan.
    *    A source over the driver-decode bound is not bounded by the
    *    driver, so neither is its match; nor is the scan of a key that
    *    is all floating point, which no filter narrows (`In` does not
    *    compare NaN and -0.0 as a join does).
    */
  def mergeMoR(spark: SparkSession, source: DataFrame, keys: Seq[String],
      onMatch: String = "update",
      insertUnmatched: Boolean = true): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("mergeMoR")
    require(Seq("update", "delete", "keep").contains(onMatch),
      s"onMatch must be update|delete|keep, got '$onMatch'")
    require(keys.nonEmpty && keys.forall(source.columns.contains),
      s"source must contain every key column: $keys")
    val schema = md.currentSchema
    require(keys.forall(schema.fieldNames.contains),
      s"table must contain every key column: $keys")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")

    val setCols = source.columns.filter(c =>
      schema.fieldNames.contains(c) && !keys.contains(c)).toSeq
    // the distributed path's source side (lazy: the driver path never
    // analyses it)
    lazy val srcKeyed = source.select(
      (keys.map(k => col(s"`$k`")) ++
        setCols.map(c => col(s"`$c`").as(s"_src_$c"))): _*)
    val keyCols = keys.map(k => col(s"`$k`"))
    // a driver-resident source is checked on the driver — collecting a
    // LocalRelation runs no Spark job; the refusal names the key as the
    // groupBy's row would, count included
    val local = LakeTable.isLocalPlan(source)
    val srcRows = if (local) source.collect().toSeq else Seq.empty
    val srcKeyIdx = keys.map(source.schema.fieldIndex)
    val dupKey =
      if (local) srcRows.groupBy(r => srcKeyIdx.map(i => driverKey(r.get(i))))
        .collectFirst { case (_, rs) if rs.size > 1 =>
          org.apache.spark.sql.Row.fromSeq(
            srcKeyIdx.map(rs.head.get) :+ rs.size.toLong)
        }.toSeq
      else srcKeyed.groupBy(keyCols: _*)
        .count().filter(col("count") > 1).limit(1).collect().toSeq
    require(dupKey.isEmpty,
      s"merge source has multiple rows for key ${dupKey.headOption}")

    // v3 lineage carries only through UPDATE copies — they ARE the
    // matched rows; deletes retire ids and inserts take fresh ones
    val carryIds = writesVectors && onMatch == "update"
    val driverPaired = local && keys.forall { k =>
      val dt = source.schema(k).dataType
      dt == schema(k).dataType && driverComparable(dt)
    } && keys.exists(k => narrows(schema(k).dataType))
    val (matched, unmatched) =
      if (driverPaired)
        matchOnDriver(spark, source, srcRows, keys, setCols, onMatch,
          insertUnmatched, carryIds)
      else {
        val m =
          if (plannedFiles().isEmpty || onMatch == "keep") None
          else Some(liveRowsWithPos(spark, lineage = carryIds)
            .join(srcKeyed, keys, "inner").localCheckpoint())
        // the matched keys ARE the target's keys among the source's
        // (inner join vs. left_anti on the same keys; NULL keys match
        // neither), so the insert side anti-joins the checkpointed
        // match instead of a second full scan of the target. Spark
        // cannot size a checkpoint; the match is bounded by the
        // source, so it broadcasts whenever the source would — the
        // insert rows keep the source's partitioning (a shuffle join
        // would re-partition them, and the write's file count with
        // them)
        val ins = if (!insertUnmatched) None else {
          val targetKeys = m match {
            case Some(m) if source.queryExecution.optimizedPlan.stats
                .sizeInBytes <= org.apache.spark.sql.internal.SQLConf.get
                  .autoBroadcastJoinThreshold =>
              broadcast(m.select(keyCols: _*))
            case Some(m) => m.select(keyCols: _*)
            case None => read(spark).select(keyCols: _*)
          }
          Some(source.join(targetKeys, keys, "left_anti"))
        }
        (m, ins)
      }
    val updatedCopies = matched.filter(_ => onMatch == "update").map { m =>
      val lineageSel: Seq[Column] =
        if (!carryIds) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          lit(null).cast(LongType).as("_graft_last_updated"))
      Align.keeping(m.select(schema.fieldNames.toSeq.map { n =>
        if (setCols.contains(n)) col(s"`_src_$n`").as(n) else col(s"`$n`")
      } ++ lineageSel: _*), schema, LakeTable.matLineageCols)
    }
    val inserts = unmatched.map(Align(_, schema))
    // driver-paired: the updated copies and the inserts are each ONE
    // LocalRelation, written on the driver as files of their own — the
    // inserts (in CDC, new keys past the table's) keep a narrow min/max
    // that reads prune by. Distributed: one write job over their union;
    // allowMissingColumns — inserted rows carry no materialized lineage,
    // their null cells inherit fresh ids from the file's stamped range,
    // v3's mixed-file inheritance rule
    val appended =
      if (driverPaired) updatedCopies.toSeq ++ inserts.toSeq
      else (updatedCopies.toSeq ++ inserts.toSeq)
        .reduceOption(_.unionByName(_, allowMissingColumns = true)).toSeq
    matched.flatMap(m => commitMoR(spark, m, appended))
      // nothing matched: the frame is an anti-join against the TARGET's
      // keys — stale after a concurrent commit, so the conflict must
      // surface, never retry (a retry could re-insert a key a racer
      // just added, breaking insert-if-absent)
      .orElse(inserts.map(df =>
        writeSnapshot(df, operation = "append", retryConflicts = false)))
  }

  /** Key values compare on the driver as Spark's join and groupBy
    * compare them: every NaN equals every NaN, -0.0 equals 0.0, binary
    * compares by content — Scala `==` on the raw values does none of
    * these. Struct and array values normalize element-wise.
    */
  private[lake] def driverKey(v: Any): Any = v match {
    case d: Double =>
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float =>
      java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case r: org.apache.spark.sql.Row => r.toSeq.map(driverKey)
    case s: scala.collection.Seq[_] => s.map(driverKey)
    case other => other
  }

  /** Key types whose `In` compares as a join does — every key type but
    * the floating ones, whose NaN and -0.0 it does not — so a filter by
    * the source's values keeps every row the join would match. */
  private def narrows(dt: DataType): Boolean =
    dt != FloatType && dt != DoubleType

  /** Key types [[driverKey]] compares exactly as a join does. */
  private def driverComparable(dt: DataType): Boolean = dt match {
    // the default (binary) collation only: a collated string compares
    // case- or accent-insensitively in a join
    case StringType => true
    case _: NumericType | BooleanType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The driver half of a driver-resident [[mergeMoR]]: one scan of
    * the target's live rows (on the driver under the table's
    * driver-decode bound, else one job) keeps those whose value
    * of every non-floating key column is among the source's ([[narrows]];
    * [[mergeMoR]] routes here only keys with at least one such column),
    * and collects them. Each row pairs with the source row of its key
    * ([[driverKey]]; NULL never matches). Returns the match as a
    * LocalRelation shaped like the distributed join's output (the
    * target's columns, `_graft_dfile`/`_graft_dpos`, `_row_id` with
    * lineage, `_src_<col>` per set column; None when nothing matched or
    * `onMatch="keep"`) and the unmatched source rows as a LocalRelation
    * (None without `insertUnmatched`). The collect holds the rows the
    * filter keeps: the match itself on a one-column key, and on a wider
    * key the rows matching the source column by column.
    */
  private def matchOnDriver(spark: SparkSession, source: DataFrame,
      srcRows: Seq[org.apache.spark.sql.Row], keys: Seq[String],
      setCols: Seq[String], onMatch: String, insertUnmatched: Boolean,
      carryIds: Boolean): (Option[DataFrame], Option[DataFrame]) = {
    val srcKeyIdx = keys.map(source.schema.fieldIndex)
    def keyOf(r: org.apache.spark.sql.Row, idx: Seq[Int]): Option[Seq[Any]] = {
      val k = idx.map(r.get)
      if (k.contains(null)) None else Some(k.map(driverKey))
    }
    val byKey = srcRows.flatMap(r => keyOf(r, srcKeyIdx).map(_ -> r)).toMap
    val narrowing = keys.zip(srcKeyIdx).collect {
      case (k, i) if narrows(source.schema(k).dataType) =>
        col(s"`$k`").isin(byKey.valuesIterator.map(_.get(i)).toSeq: _*)
    }
    val scanned =
      if (byKey.isEmpty || (onMatch == "keep" && !insertUnmatched) ||
          plannedFiles().isEmpty)
        None
      else {
        val hits = liveRowsWithPos(spark, lineage = carryIds)
          .filter(narrowing.reduce(_ && _))
        Some(if (onMatch == "keep") hits.select(keys.map(k => col(s"`$k`")): _*)
          else hits)
      }
    val pairs = scanned.toSeq.flatMap { df =>
      val tKeyIdx = keys.map(df.schema.fieldIndex)
      df.collect().toSeq.flatMap(t =>
        keyOf(t, tKeyIdx).flatMap(byKey.get).map(t -> _))
    }
    val matched =
      if (pairs.isEmpty || onMatch == "keep") None
      else {
        val setIdx = setCols.map(source.schema.fieldIndex)
        val fields = scanned.get.schema.fields ++ setCols.map(c =>
          source.schema(c).copy(name = s"_src_$c"))
        Some(spark.createDataFrame(pairs.map { case (t, s) =>
          org.apache.spark.sql.Row.fromSeq(t.toSeq ++ setIdx.map(s.get))
        }.asJava, StructType(fields)))
      }
    val unmatched = if (!insertUnmatched) None else {
      val hit = pairs.flatMap(p => keyOf(p._2, srcKeyIdx)).toSet
      Some(spark.createDataFrame(srcRows.filter(r =>
        keyOf(r, srcKeyIdx).forall(k => !hit(k))).asJava, source.schema))
    }
    (matched, unmatched)
  }

  /** Live rows under the current schema (narrowed by `prune` /
    * `statsFilters` exactly as [[read]]), tagged with `_graft_dfile` /
    * `_graft_dpos` — the normalized data-file path and file-absolute
    * row position, taken from the connector's `_graft_file` /
    * `_graft_pos` metadata columns — the shared front half of every
    * MoR row-level op. Existing position deletes and deletion vectors
    * apply inside the reader ([[graft.sources.LakeSource.engineRead]]),
    * so matched rows never re-match a deleted position. With
    * `lineage` (v3 update paths), each row additionally carries its
    * `_row_id` (materialized column when the file has one, else
    * `firstRowId + position`) so an updated copy can preserve the
    * row's identity through the delete+insert.
    */
  private[graft] def liveRowsWithPos(spark: SparkSession,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty,
      lineage: Boolean = false): DataFrame = {
    import graft.sources.LakeSource.{FileMetaCol, PosMetaCol, RowIdMetaCol}
    val rows = graft.sources.LakeSource.engineRead(spark, this, prune, None,
      statsFilters)
    // declared as a parquet read's file path is (nullable), and
    // untagged as metadata columns (a join's output keeps them)
    val path = org.apache.spark.sql.GraftPlanBridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(
        org.apache.spark.sql.GraftPlanBridge.expression(col(FileMetaCol))))
    rows.select(rows.columns.toSeq.map(c => col(s"`$c`")) ++
      Seq(path.as("_graft_dfile", Metadata.empty),
        col(PosMetaCol).as("_graft_dpos", Metadata.empty)) ++
      (if (lineage) Seq(col(RowIdMetaCol).as("_row_id", Metadata.empty))
       else Nil): _*)
  }

  /** True when the table writes v3 deletion vectors instead of
    * positional delete parquet — keyed off `format-version=3`,
    * mirroring Iceberg's rule that v3 tables MUST use deletion
    * vectors (the cow/mor choice stays on `write.*.mode`, its
    * Iceberg meaning).
    */
  private[lake] def writesVectors: Boolean =
    md.formatVersion >= 3 || md.properties.get("format-version")
      .exists(_.trim.toIntOption.exists(_ >= 3))

  /** Commit one merge-on-read snapshot: `matched` rows (tagged with
    * file/pos) become position deletes ([[commitPositions]]); the
    * `appended` frames are written as new data files in the SAME
    * snapshot (operation "delete" — replay adds the files and
    * accumulates the deletes). Returns None and writes nothing when no
    * row matched. The positions fold into one bitmap per data file
    * where the matched rows are: on the driver for a driver-resident
    * match ([[LakeTable.localRows]]: a small scan, a driver-paired
    * merge), else in the match's own tasks, whose bitmaps come back
    * with the collect — no shuffle, and no write in the tasks.
    */
  private[lake] def commitMoR(spark: SparkSession, matched: DataFrame,
      appended: Seq[DataFrame]): Option[SnapshotMeta] = {
    val pairs = matched.select(col("_graft_dfile"), col("_graft_dpos"))
    val positions = DeletionVectors.union(LakeTable.localRows(pairs) match {
      case Some(rows) => DeletionVectors.foldPositions(rows.iterator)
      case None => pairs.queryExecution.toRdd
        .mapPartitions(DeletionVectors.foldPositions).collect().iterator
    })
    if (positions.isEmpty) None
    else Some(commitPositions(positions)(id => SnapshotMeta(id,
      writeAppended(id, appended), md.currentSchemaId,
      operation = "delete", timestampMs = System.currentTimeMillis())))
  }

  /** The one writer and commit of position-delete state. `positions`
    * are one bitmap per data file (normalized path); `build` makes the
    * snapshot of the new id (writing any data files it adds), and the
    * written delete state replaces its delete fields:
    *  - v2: ONE position-delete parquet, written on the driver, rows
    *    in (`file_path`, `pos`) order as the Iceberg spec asks for
    *    position-delete files;
    *  - v3: ONE container of full+delta vectors ([[writeVectorContainer]]).
    * So the delete files of a commit follow the commit, never the
    * tasks or packing of the scan that found the positions. Every
    * caller but `rewritePositionDeleteFiles` passes newly deleted
    * positions only, which the v3 merge checks. No positions: the
    * snapshot commits as built, with no delete state.
    */
  private[lake] def commitPositions(positions: Map[String, Roaring64Bitmap])(
      build: Long => SnapshotMeta): SnapshotMeta = {
    val snapshotId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val base = build(snapshotId)
    val snap =
      if (positions.isEmpty) base
      else {
        val (paths, dvs, counts) =
          if (writesVectors) {
            val (dvs, counts) = writeVectorContainer(positions, snapshotId)
            (Seq.empty, dvs, counts)
          } else (Seq(writePositionFile(positions, snapshotId)), Seq.empty,
            positions.map { case (p, bm) => p -> bm.getLongCardinality })
        // crash window under test (DvSpec torn-container recovery,
        // CrashRecoveryRandomSpec): a death HERE strands the delete file
        // or container, and any data files, unreferenced — readers never
        // see them, the orphan sweep collects them, a retry recommits
        LakeTable.faultPoint("post-dv-write-pre-commit")
        base.copy(deletePaths = paths, deleteCounts = counts, dvs = dvs)
      }
    commit(md.copy(snapshots = md.snapshots :+ snap))
    snap
  }

  /** One v2 position-delete parquet of `positions`, sorted by path and
    * position, written on the driver by the one lake writer. */
  private def writePositionFile(positions: Map[String, Roaring64Bitmap],
      snapshotId: Long): String = {
    val w = new graft.sources.LakeParquetDataWriter(dataDir.resolve(
        s"deletes-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
        .toString,
      StructType(LakeTable.DeleteFileSchema.fields.map(_.copy(nullable = false))),
      graft.sources.WritePlan.empty, "pos")
    try {
      positions.toSeq.sortBy(_._1).foreach { case (p, bm) =>
        val path = org.apache.spark.unsafe.types.UTF8String.fromString(p)
        val it = bm.getLongIterator
        while (it.hasNext) w.write(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](path, it.next())))
      }
      w.commit().asInstanceOf[graft.sources.LakeFilesCommit].files.head._1
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** Merge newly deleted positions — which must exclude every
    * already-deleted one — into one container of full+delta vector
    * blobs per affected file: each file's new positions are ORed with
    * its previous vector and any legacy positional parquet state
    * (decoded on the driver, no job), and ONE container is written.
    * Each file's new vector REPLACES its entire earlier delete state,
    * so the live structures per file stay O(1) across any number of
    * delete commits — v2's accumulating delete-file list is the read
    * amplification v3 removed. Returns the DvMeta entries plus the
    * newly-deleted counts.
    */
  private def writeVectorContainer(positions: Map[String, Roaring64Bitmap],
      snapshotId: Long): (Seq[DvMeta], Map[String, Long]) = {
    val live = LakeTable.liveDeletes(md.snapshots)
    val blobs = positions.toSeq.sortBy(_._1).map { case (p, delta) =>
      val prevRows = live.get(p).map(_.rows).getOrElse(0L)
      val full = new Roaring64Bitmap()
      full.or(delta)
      live.get(p).flatMap(_.dv).foreach(d =>
        full.or(DeletionVectors.cached(d.dvPath, d.offset, d.length)))
      // transition case: the file still carries v2 positional parquet
      // state — fold those positions into the new vector so the
      // REPLACE semantics lose nothing
      live.get(p).filter(d => d.dv.isEmpty && d.paths.nonEmpty)
        .foreach(d => full.or(positionalBitmap(p, d)))
      // the positions contract above: every position is NEWLY deleted,
      // so the union must be exactly additive, or a resurrect/
      // double-delete bug is in flight
      require(full.getLongCardinality ==
          prevRows + delta.getLongCardinality,
        s"deletion-vector merge for $p is not additive: previous " +
          s"$prevRows + new ${delta.getLongCardinality} != merged " +
          s"${full.getLongCardinality}")
      p -> ((full, delta))
    }
    val dvPath = dataDir.resolve(s"deletes-$snapshotId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".gdv")
    Files.createDirectories(dataDir)
    (DeletionVectors.writeContainer(dvPath, blobs),
      blobs.map { case (p, (_, delta)) => p -> delta.getLongCardinality }.toMap)
  }

  /** The positions a data file's live v2 delete parquets delete, as
    * the readers load them ([[graft.sources.LakeSource.loadDeletedPositions]]:
    * one parse per delete file, cached), checked against the tracked
    * count — a conversion that changed it would corrupt visible row
    * counts.
    */
  private[lake] def positionalBitmap(path: String, ds: DeleteSet): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    Option(graft.sources.LakeSource.loadDeletedPositions(ds.paths, path))
      .foreach(_.forEach(pos => bm.addLong(pos)))
    require(bm.getLongCardinality == ds.rows,
      s"position deletes of $path: the delete files hold " +
        s"${bm.getLongCardinality}, metadata says ${ds.rows}")
    bm
  }

  /** The data files of a merge-on-read snapshot: each `appended` frame
    * written by [[writeDataFiles]], in order, under one directory. A
    * frame that physically carries `_graft_row_id` /
    * `_graft_last_updated` (v3 updated copies, or a union holding them)
    * flags its files, so lineage reads consume the materialized ids
    * instead of minting fresh ones.
    */
  private def writeAppended(snapshotId: Long,
      appended: Seq[DataFrame]): Seq[DataFileMeta] =
    if (appended.isEmpty) Seq.empty
    else {
      val outDir = dataDir.resolve(s"snap-$snapshotId-" +
        java.util.UUID.randomUUID().toString.take(8))
      appended.flatMap { df =>
        val fs = writeDataFiles(df.drop("_graft_dfile", "_graft_dpos"), outDir)
        if (df.columns.contains("_graft_row_id"))
          fs.map(_.copy(lineageCols = true))
        else fs
      }
    }

  /** UPDATE t SET assignments WHERE predicate — copy-on-write: affected
    * files are rewritten with the assignments applied to matching rows,
    * every other row copied through unchanged. Assignment values may
    * reference any current-schema column.
    */
  def update(spark: SparkSession, assignments: Map[String, Column],
      predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    val bad = assignments.keySet.filterNot(md.currentSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    requireNoLiveEqDeletes("update")
    val affected = affectedFiles(spark, predicate, prune, statsFilters)
    if (affected.isEmpty) None
    else {
      val cond = coalesce(predicate, lit(false))
      val base = readPinned(spark, affected,
        LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
      // one projection, every RHS evaluated against the PRE-update row
      // (SQL UPDATE semantics: SET a=b, b=a swaps; sequential
      // withColumn would leak updated values into later assignments
      // in unordered-Map iteration order)
      // an updated row keeps its _row_id (it is the same row) and
      // nulls its last-updated so inheritance stamps the new sequence;
      // both computed in the SAME select so `cond` sees pre-update
      // values
      val lineageSel: Seq[Column] =
        if (!writesVectors) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          when(cond, lit(null).cast(LongType))
            .otherwise(col("_last_updated_sequence_number"))
            .as("_graft_last_updated"))
      val updated = base.select(md.currentSchema.fieldNames.toSeq.map { n =>
        assignments.get(n) match {
          case Some(value) => when(cond, value).otherwise(col(s"`$n`")).as(n)
          case None => col(s"`$n`")
        }
      } ++ lineageSel: _*)
      Some(writeSnapshot(
        Align.keeping(updated, md.currentSchema, LakeTable.matLineageCols),
        operation = "overwrite", removedPaths = affected.map(_.path),
        lineage = writesVectors))
    }
  }

  /** MERGE INTO t USING source ON keys — the classic upsert, Iceberg
    * copy-on-write style:
    *   - matched + `onMatch="update"`: target row's columns that also
    *     exist in `source` (keys aside) take the source values
    *   - matched + `onMatch="delete"`: target row removed
    *   - matched + `onMatch="keep"`:   target row unchanged
    *   - `insertUnmatched`: source rows matching no target key are
    *     aligned to the table schema and appended
    *
    * Only files containing matched keys are rewritten. The join is left
    * unhinted: Catalyst auto-broadcasts a small source delta, AQE picks
    * a shuffle join (with skew handling) for a large one.
    */
  def merge(spark: SparkSession, source: DataFrame, keys: Seq[String],
      onMatch: String = "update",
      insertUnmatched: Boolean = true): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("merge")
    require(Seq("update", "delete", "keep").contains(onMatch),
      s"onMatch must be update|delete|keep, got '$onMatch'")
    require(keys.nonEmpty && keys.forall(source.columns.contains),
      s"source must contain every key column: $keys")
    val schema = md.currentSchema
    require(keys.forall(schema.fieldNames.contains),
      s"table must contain every key column: $keys")

    // columns the update copies from source: shared names minus keys
    val setCols = source.columns.filter(c =>
      schema.fieldNames.contains(c) && !keys.contains(c)).toSeq
    val srcKeyed = source.select(
      (keys.map(k => col(s"`$k`")) ++
        setCols.map(c => col(s"`$c`").as(s"_src_$c")) :+
        lit(true).as("_src_matched")): _*)

    // SQL MERGE cardinality rule: a target row may match at most one
    // source row — duplicate source keys would silently duplicate
    // target rows in the rewrite (and which values win would be
    // nondeterministic), so refuse them up front
    val dupKey = srcKeyed.groupBy(keys.map(k => col(s"`$k`")): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKey.isEmpty,
      s"merge source has multiple rows for key ${dupKey.headOption}")

    val keyPred = keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _)
    val affected = affectedFiles(spark,
      predicate = keyPred, matchSource = Some(srcKeyed -> keys))

    val rewritten = if (affected.isEmpty) None else {
      val joined = readPinned(spark, affected,
          LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
        .join(srcKeyed, keys, "left")
      val matchedCol = coalesce(col("_src_matched"), lit(false))
      val applied = onMatch match {
        case "delete" => joined.filter(!matchedCol)
        case "keep" => joined
        case "update" => setCols.foldLeft(joined) { (d, c) =>
          d.withColumn(c,
            when(matchedCol, col(s"`_src_$c`")).otherwise(col(s"`$c`")))
        }
      }
      // matched-updated rows keep their id, null their last-updated
      // (inherit the new sequence); kept rows carry both verbatim
      val lineageSel: Seq[Column] =
        if (!writesVectors) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          (if (onMatch == "update")
            when(matchedCol, lit(null).cast(LongType))
              .otherwise(col("_last_updated_sequence_number"))
          else col("_last_updated_sequence_number"))
            .as("_graft_last_updated"))
      Some(applied.select(
        schema.fieldNames.toSeq.map(n => col(s"`$n`")) ++ lineageSel: _*))
    }

    val inserts = if (!insertUnmatched) None else {
      val targetKeys = read(spark).select(keys.map(k => col(s"`$k`")): _*)
      val ins = Align(source.join(targetKeys, keys, "left_anti"), schema)
      // inserted rows are NEW: null lineage cells inherit fresh ids
      // from the written file's assigned range (v3 inheritance)
      Some(if (!writesVectors) ins else ins
        .withColumn("_graft_row_id", lit(null).cast(LongType))
        .withColumn("_graft_last_updated", lit(null).cast(LongType)))
    }

    val newData = (rewritten.toSeq ++ inserts.toSeq)
      .reduceOption(_.unionByName(_))
    newData.map(df => writeSnapshot(df, operation = "overwrite",
      removedPaths = affected.map(_.path), lineage = writesVectors))
  }

  /** Files whose rows could be touched by a row-level op: metadata
    * pruning first (partition values + min/max stats), then one pinned
    * connector scan of the candidates' LIVE rows (the view's position
    * deletes and deletion vectors applied — a row already deleted
    * touches nothing) that keeps the distinct `_graft_file` of rows
    * matching `predicate` (and, for merge, joining a source key). Only
    * those files get rewritten. Branch CoW passes its own candidates
    * and the branch view's `deletes`.
    */
  private[lake] def affectedFiles(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty,
      matchSource: Option[(DataFrame, Seq[String])] = None,
      candidatesOverride: Option[Seq[DataFileMeta]] = None,
      deletes: Option[Map[String, DeleteSet]] = None)
      : Seq[DataFileMeta] = {
    val candidates = candidatesOverride.getOrElse(LakeTable.matchingFiles(
      LakeTable.liveFiles(md.snapshots, prune, md.currentSchema, statsFilters),
      md.currentSchema, prune, statsFilters, md.schemaOpt))
    if (candidates.isEmpty) return Seq.empty
    // the metadata column is projected before any join (a join's
    // output drops metadata columns)
    val live = readPinned(spark, candidates,
      deletes.getOrElse(LakeTable.liveDeletes(md.snapshots)))
      .filter(predicate)
      .select(col("*"), col(graft.sources.LakeSource.FileMetaCol).as("_hit"))
    val matchedRows = matchSource match {
      case Some((src, keys)) => live.join(src, keys, "left_semi")
      case None => live
    }
    val hit = matchedRows.select("_hit").distinct().collect()
      .map(r => LakeTable.normalizePath(r.getString(0))).toSet
    candidates.filter(f => hit(LakeTable.normalizePath(f.path)))
  }
}
