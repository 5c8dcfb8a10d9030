package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{LakeTable, Reconcile}
import graft.schema.FieldIds

/** The read-side decode stack of the lake DSv2 connector: the
  * per-scan columnar decision and reader factory, the columnar
  * clean-file and merge-on-read readers, their row-emitting sibling,
  * the equality-delete marker reader and the equality-delete batch
  * cache. Every lake parquet file, data and delete files alike,
  * decodes through ONE decoder, Spark's `VectorizedParquetRecordReader`
  * ([[LakeVectorize.openReader]]; delete files through
  * [[LakeSource.deleteFileRows]]); the readers differ only in what
  * they emit (batches or rows) and what they apply on top (constants,
  * nested-default overlays, deletes, metadata columns).
  */
private[sources] object LakeReaderFactory {
  /** A partition the scan can serve as ColumnarBatches: Spark's batch
    * parquet decoder emitting batches, so downstream whole-stage
    * codegen keeps its vectorized form. MERGE-ON-READ state
    * (position/vector/equality deletes) stays columnar too: the
    * deletes apply as a selection map on the decoded batch
    * ([[MorVectorizedLakeReader]]). Row emission
    * ([[BatchRowLakeReader]], same decoder) serves what is per-ROW by
    * construction: changelog delete markers, metadata / lineage
    * columns (position-derived values), and externally-registered
    * files (their foreign encodings stay out of predicate pushdown).
    */
  def vectorizable(p: LakeFilePartition): Boolean =
    !p.emitOnlyDeleted && !p.external &&
      !p.target.fieldNames.exists(LakeSource.isMetaCol)

  /** The per-scan uniform decision [[LakeReaderFactory]] needs. Keyed
    * partitions (partitioned tables — the NORMAL state at 100 TB)
    * vectorize like plain file partitions: the key only groups tasks.
    */
  def allVectorizable(ps: Array[InputPartition]): Boolean =
    ps.nonEmpty && ps.forall {
      case fp: LakeFilePartition => vectorizable(fp)
      case kp: LakeKeyedFilePartition => vectorizable(kp.toFilePartition)
      case mp: LakeMultiFilePartition => mp.parts.forall(vectorizable)
      case _ => false
    }
}

/** One packed partition's file reads chained in order: each inner
  * reader opens when its predecessor is exhausted and closes before
  * the next opens, so a task holds one open file at a time.
  */
private[sources] class ChainedPartitionReader[T](
    parts: Seq[LakeFilePartition], open: LakeFilePartition => PartitionReader[T])
    extends PartitionReader[T] {
  private val rest = parts.iterator
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      if (cur != null) { cur.close(); cur = null }
      if (!rest.hasNext) return false
      cur = open(rest.next())
    }
    true
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** The per-scan columnar flag, shared between the Batch (which sets it
  * at partition-planning time) and the reader factory (which answers
  * supportColumnarReads from it). A dedicated serializable holder — a
  * closure over the Batch would drag the whole non-serializable scan
  * into the factory's executor-bound object graph. The driver always
  * plans partitions before asking supportsColumnar, so the flag is set
  * before it is read; executors receive a post-decision snapshot.
  */
private[sources] class ColumnarDecision extends Serializable {
  @volatile var allColumnar: Boolean = false
}

private[sources] class LakeReaderFactory(
    decision: ColumnarDecision = new ColumnarDecision)
    extends PartitionReaderFactory {

  /** Per-SCAN columnar decision, not per-partition: Spark's
    * DataSourceV2ScanExecBase.supportsColumnar REQUIRES every
    * partition of one scan to agree ("Cannot mix row-based and
    * columnar input partitions"), so the batch that planned the
    * partitions passes a thunk answering "is EVERY planned partition
    * vectorizable?". Scans with any row-emitting partition run
    * whole-scan row mode; metadata/agg/streaming factories keep the
    * default always-false thunk.
    */
  override def supportColumnarReads(p: InputPartition): Boolean =
    decision.allColumnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    def mk(fp: LakeFilePartition)
        : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      if (fp.deletes.isEmpty && fp.eqBatches.isEmpty && fp.dv.isEmpty)
        new VectorizedLakeReader(fp)
      else new MorVectorizedLakeReader(fp, BatchRowLakeReader.plan(fp))
    partition match {
      case fp: LakeFilePartition => mk(fp)
      case kp: LakeKeyedFilePartition => mk(kp.toFilePartition)
      case mp: LakeMultiFilePartition => new ChainedPartitionReader(mp.parts, mk)
      case other => throw new UnsupportedOperationException(
        s"no columnar reader for $other")
    }
  }

  private def fileReader(p: LakeFilePartition): PartitionReader[InternalRow] =
    new BatchRowLakeReader(p, BatchRowLakeReader.plan(p))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case LakeAggPartition(values) => new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = !emitted && { emitted = true; true }
        override def get(): InternalRow = new GenericInternalRow(values)
        override def close(): Unit = ()
      }
      case p: LakeFilePartition => fileReader(p)
      case p: LakeKeyedFilePartition => fileReader(p.toFilePartition)
      case p: LakeMultiFilePartition =>
        new ChainedPartitionReader(p.parts, fileReader)
      case p: LakeEqMarkerPartition => new EqMarkerReader(p)
      case p: LakeChangelogPartition =>
        val innerReader = createReader(p.inner)
        // pad the inner row out to the changelog schema: changelog
        // columns take the partition's constants, everything else
        // copies through in order
        val typeUtf = UTF8String.fromString(p.changeType)
        val fill: Array[Either[Any, (Int, DataType)]] = {
          var innerIdx = -1
          p.target.fields.map { f =>
            if (f.name == LakeSource.ChangeTypeCol) Left(typeUtf)
            else if (f.name == LakeSource.ChangeOrdinalCol) Left(p.ordinal)
            else if (f.name == LakeSource.ChangeSnapshotCol)
              Left(p.snapshotId)
            else { innerIdx += 1; Right((innerIdx, f.dataType)) }
          }
        }
        new PartitionReader[InternalRow] {
          override def next(): Boolean = innerReader.next()
          override def get(): InternalRow = {
            val in = innerReader.get()
            val arr = new Array[Any](fill.length)
            var i = 0
            while (i < fill.length) {
              arr(i) = fill(i) match {
                case Left(c) => c
                case Right((j, dt)) => in.get(j, dt)
              }
              i += 1
            }
            new GenericInternalRow(arr)
          }
          override def close(): Unit = innerReader.close()
        }
    }
}

/** Changelog delete markers from equality-delete key files: one output
  * row per key tuple, key columns filled by field id (each `k<id>`
  * column decoded at the key's current type, so batches written
  * before a type promotion still read), a struct enclosing a nested
  * key rebuilt around it, all other columns null. A key whose column
  * the target lacks (dropped since, or pruned) fills nothing.
  */
private[sources] class EqMarkerReader(p: LakeEqMarkerPartition)
    extends PartitionReader[InternalRow] {
  private val keyIds = p.keyIds.toSet
  private def isKey(f: StructField): Boolean =
    FieldIds.hasId(f) && keyIds.contains(FieldIds.idOf(f))
  private def holdsKey(f: StructField): Boolean = isKey(f) ||
    (f.dataType match {
      case st: StructType => st.fields.exists(holdsKey)
      case _ => false
    })
  // the `k<id>` columns the target holds, in request order
  private val requestedKeys =
    scala.collection.mutable.ArrayBuffer.empty[StructField]
  private def filler(f: StructField): InternalRow => Any =
    if (isKey(f)) {
      val o = requestedKeys.length
      requestedKeys += StructField(s"k${FieldIds.idOf(f)}", f.dataType,
        nullable = true)
      (r: InternalRow) => LakeSource.copiedValue(r, o, f.dataType)
    } else f.dataType match {
      case st: StructType if holdsKey(f) =>
        val kids = st.fields.map(filler)
        (r: InternalRow) => new GenericInternalRow(kids.map(_(r)))
      case _ => (_: InternalRow) => null
    }
  private val fillers: Array[InternalRow => Any] = p.target.fields.map(filler)
  // a target holding no key still emits one row per tuple: the
  // generated row-index column drives the row count
  private val requested: StructType =
    if (requestedKeys.nonEmpty) StructType(requestedKeys.toSeq)
    else StructType(Seq(StructField(LakeVectorize.RowIndexTempCol,
      LongType, nullable = true)))
  private val files = p.paths.iterator
  private var rows: Iterator[InternalRow] with java.io.Closeable = _
  private var cur: InternalRow = _
  override def next(): Boolean = {
    while ((rows == null || !rows.hasNext) && files.hasNext) {
      if (rows != null) rows.close()
      rows = LakeSource.deleteFileRows(files.next(), requested)
    }
    rows != null && rows.hasNext && { cur = rows.next(); true }
  }
  override def get(): InternalRow =
    new GenericInternalRow(fillers.map(_(cur)))
  override def close(): Unit = if (rows != null) rows.close()
}

/** Maps a (target, file) schema pair onto the ONE decoder: the
  * TARGET schema rewritten recursively to the file's physical field
  * names (matched by field ID — rename-safe), keeping the TARGET
  * types. Spark 4's vectorized parquet updaters perform the engine's
  * legal promotions in place (IntegerToLongUpdater,
  * FloatToDoubleUpdater, decimal precision widening at equal scale —
  * the same set SchemaDiff.promotionAllowed admits), and the reader
  * null-fills requested fields absent from the file — so one requested
  * schema yields batches already in target shape with no per-row
  * reconcile. Absent atomic columns become per-reader constants and
  * absent defaulted fields on a struct spine become constant
  * injections. An absent field is requested under a name the file does
  * not carry, so a dropped-and-re-added name never binds the dropped
  * column's bytes.
  *
  * Every pair an evolution path can produce maps. What cannot is
  * refused where it would arise (SchemaDiff refuses non-widening type
  * changes and map-key changes; TableDef refuses defaults below
  * array/map boundaries and on non-atomic types), so an unmappable
  * pair here is a corrupt schema: it fails with an
  * IllegalStateException naming the file and the cause.
  */
private[sources] object LakeVectorize {
  import graft.schema.{Defaults, FieldIds}

  /** Spark's row-index temp column: requesting it makes the
    * vectorized reader fill FILE-ABSOLUTE row indexes (exact under
    * row-group/page skipping and byte-range splits) — the position
    * source for every position-consuming read.
    */
  val RowIndexTempCol: String = org.apache.spark.sql.execution
    .datasources.parquet.GraftRowIndexBridge.RowIndexTempCol

  /** The engine's legal in-place widenings (CLEANED types in, CLEANED
    * out) — exactly what Spark's vectorized updaters perform.
    */
  private[sources] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.precision >= d1.precision && d1.scale == d2.scale
      case _ => false
    }

  /** A read of `path` that the schema pair cannot serve. */
  private[sources] def unmappable(path: String, cause: String): Nothing =
    throw new IllegalStateException(s"lake file $path: $cause")

  // Default-handling rules: an absent field on a pure STRUCT spine
  // with a recorded atomic default null-fill-requests AND records a
  // constant INJECTION the readers overlay; an ABSENT node's DEEPER
  // defaults never apply — an absent column reads as its OWN default
  // (null for complex types) on every row path, as Reconcile.fieldExpr
  // reads it, so the subtree's defaults are unreachable.

  /** One nested-default constant to overlay on a decoded struct
    * column: `path` = struct ordinals below the top-level column
    * (leaf inclusive), `dt` the CLEANED leaf type, `value` the
    * default's Catalyst internal value. Only struct spines carry
    * injections (TableDef refuses defaults inside arrays and maps).
    */
  final case class Injection(path: Array[Int], dt: DataType, value: Any)

  /** The name an ABSENT field is requested under: its own, unless the
    * file carries that name (case-insensitively) at the same level —
    * a dropped-and-re-added field, whose by-name request would bind
    * the dropped column. The reader null-fills a name the file lacks,
    * and consumers read the decoded columns by ordinal, so the name
    * itself is never seen.
    */
  private def absentName(name: String, file: StructType): String = {
    val taken = file.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    Iterator.iterate(name)(_ + "_")
      .find(n => !taken(n.toLowerCase(java.util.Locale.ROOT))).get
  }

  private[sources] def mapType(path: String, t: DataType, f: DataType,
      at: List[Int], inj: scala.collection.mutable.Buffer[Injection])
      : DataType =
    (t, f) match {
      // variant EXTRACTION pushdown: the target field arrived rewritten
      // by Catalyst to a struct of requested paths (each inner field
      // tagged with VariantMetadata — path, failOnError, zone) over a
      // file column stored as shredded VARIANT. Request that struct
      // VERBATIM (inner metadata intact): Spark's own ParquetReadSupport
      // recognizes a variant-struct request and clips the shredded
      // group to just the referenced typed_value children
      case (ts: StructType, VariantType)
          if org.apache.spark.sql.execution.datasources
            .VariantMetadata.isVariantStruct(ts) =>
        ts
      case (ts: StructType, fs: StructType) =>
        mapStruct(path, ts, fs, at, inj)
      case (ArrayType(te, _), ArrayType(fe, _)) =>
        // injections stop at the array boundary (inj = null)
        ArrayType(mapType(path, te, fe, Nil, null), containsNull = true)
      case (MapType(tk, tv, _), MapType(fk, fv, _)) =>
        if (Reconcile.clean(tk) != Reconcile.clean(fk))
          unmappable(path, s"map key type ${fk.simpleString} cannot be " +
            s"read as ${tk.simpleString} (map keys do not evolve)")
        MapType(Reconcile.clean(tk), mapType(path, tv, fv, Nil, null),
          valueContainsNull = true)
      case (a, b) if widens(Reconcile.clean(b), Reconcile.clean(a)) =>
        Reconcile.clean(a)
      case (a, b) =>
        unmappable(path, s"type ${b.simpleString} cannot be read as " +
          s"${a.simpleString} (not a widening)")
    }

  private def mapStruct(path: String, target: StructType, file: StructType,
      at: List[Int],
      inj: scala.collection.mutable.Buffer[Injection]): StructType =
    StructType(target.fields.zipWithIndex.map { case (tf, i) =>
      if (!FieldIds.hasId(tf))
        unmappable(path, s"field '${tf.name}' has no field id")
      val id = FieldIds.idOf(tf)
      file.fields.find(ff => FieldIds.hasId(ff) &&
          FieldIds.idOf(ff) == id) match {
        case Some(ff) =>
          StructField(ff.name,
            mapType(path, tf.dataType, ff.dataType, at :+ i, inj),
            nullable = true)
        case None =>
          // absent from the file: the field's OWN initial default on
          // every row whose PARENT struct is non-null (Reconcile
          // .structExpr) — null-filled by the reader, with an atomic
          // default overlaid as a constant INJECTION
          val clean = Reconcile.clean(tf.dataType)
          if (Defaults.of(tf).isDefined) {
            if (inj == null || !constable(clean))
              unmappable(path, s"default on field '${tf.name}' " +
                "below an array/map boundary or on a non-atomic type")
            inj += Injection((at :+ i).toArray, clean,
              Defaults.internalValue(tf))
          }
          StructField(absentName(tf.name, file), clean, nullable = true)
      }
    })

  /** Top-level read plan: the physical schema to request, each
    * target field's index into the decoded row (-1 = constant), and
    * the constant values. Absent ATOMIC columns — initial DEFAULTS
    * included — are served as per-reader CONSTANTS instead of being
    * requested (the default universe is exactly the atomic types,
    * schema/Defaults.scala); absent COMPLEX columns are requested and
    * null-filled by the reader.
    */
  final case class VectorMap(requested: StructType, srcIdx: Array[Int],
      consts: Array[Any],
      injections: Map[Int, Seq[Injection]] = Map.empty) {
    def hasConsts: Boolean = srcIdx.exists(_ < 0)
    def identity: Boolean = srcIdx.zipWithIndex.forall {
      case (s, i) => s == i
    }
  }

  private def constable(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
        StringType => true
    case _: DecimalType => true
    case _ => false
  }

  def vectorMap(path: String, target: StructType,
      fileSchema: StructType): VectorMap = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val srcIdx = new Array[Int](target.fields.length)
    val consts = new Array[Any](target.fields.length)
    val injections = scala.collection.mutable.Map.empty[Int, Seq[Injection]]
    var i = 0
    while (i < target.fields.length) {
      val tf = target.fields(i)
      if (!FieldIds.hasId(tf))
        unmappable(path, s"column '${tf.name}' has no field id")
      val id = FieldIds.idOf(tf)
      fileSchema.fields.find(ff => FieldIds.hasId(ff) &&
          FieldIds.idOf(ff) == id) match {
        case Some(ff) =>
          val colInj = scala.collection.mutable.ArrayBuffer.empty[Injection]
          fields += StructField(ff.name,
            mapType(path, tf.dataType, ff.dataType, Nil, colInj),
            nullable = true)
          srcIdx(i) = fields.length - 1
          if (colInj.nonEmpty) injections(fields.length - 1) = colInj.toSeq
        case None if constable(Reconcile.clean(tf.dataType)) =>
          // absent atomic column: its value is the SAME for every row
          // of this file (initial default, or null) — emit a constant
          // instead of requesting a null-filled column
          srcIdx(i) = -1
          consts(i) = Defaults.internalValue(tf)
        case None if org.apache.spark.sql.execution.datasources
            .VariantMetadata.isVariantStruct(tf.dataType) =>
          // pushed variant extraction over a file that PREDATES the
          // variant column: the source variant is null on every row,
          // so every extracted path is null — a null struct constant
          // (variant columns cannot carry initial defaults, and a
          // null-filled REQUEST would trip on the rewritten inner
          // fields' nullability)
          srcIdx(i) = -1
          consts(i) = null
        case None =>
          // absent complex (or non-constant atomic) column: the reader
          // null-fills it. Complex defaults never validate; defaults
          // DEEPER in the subtree are value-irrelevant — an absent
          // column reads as its own default, null here
          if (Defaults.of(tf).isDefined)
            unmappable(path, s"default on non-atomic column '${tf.name}'")
          fields += StructField(absentName(tf.name, fileSchema),
            Reconcile.clean(tf.dataType), nullable = true)
          srcIdx(i) = fields.length - 1
      }
      i += 1
    }
    VectorMap(StructType(fields.toSeq), srcIdx, consts, injections.toMap)
  }

  /** A [[ConstantColumnVector]] holding one atomic internal value —
    * the columnar form of an absent column's default/null fill.
    */
  def constantVector(dt: DataType, v: Any)
      : org.apache.spark.sql.vectorized.ColumnVector = {
    val c = new org.apache.spark.sql.execution.vectorized
      .ConstantColumnVector(4096, dt)
    if (v == null) c.setNull()
    else dt match {
      case BooleanType => c.setBoolean(v.asInstanceOf[Boolean])
      case IntegerType => c.setInt(v.asInstanceOf[Int])
      case LongType => c.setLong(v.asInstanceOf[Long])
      case FloatType => c.setFloat(v.asInstanceOf[Float])
      case DoubleType => c.setDouble(v.asInstanceOf[Double])
      case StringType => c.setUtf8String(v.asInstanceOf[UTF8String])
      case d: DecimalType =>
        c.setDecimal(v.asInstanceOf[org.apache.spark.sql.types.Decimal],
          d.precision)
      case other => throw new IllegalStateException(
        s"constant vector for unsupported type $other")
    }
    c
  }

  /** Pushed ranges rewritten to the file's PHYSICAL column names,
    * matched by field ID — a name-based lookup would bind the wrong
    * physical column under a rename-swap. Filters whose column has no
    * id-matched file field (added after the file was written) are
    * dropped: they cannot prune inside a file that predates them.
    */
  def renameRanges(ranges: Seq[graft.lake.RangeFilter], target: StructType,
      fileSchema: StructType): Seq[graft.lake.RangeFilter] =
    ranges.flatMap { r =>
      target.fields.find(tf => tf.name == r.column && FieldIds.hasId(tf))
        .flatMap(tf => fileSchema.fields.find(ff => FieldIds.hasId(ff) &&
          FieldIds.idOf(ff) == FieldIds.idOf(tf)))
        .map(ff => r.copy(column = ff.name))
    }

  /** A VectorizedParquetRecordReader over `path` decoding `requested`
    * (already rewritten to the file's physical names): batches when
    * `returnBatches`, else vectorized decode with row-at-a-time
    * emission — the mode Spark itself uses when a plan can't consume
    * batches. The conf keys mirror ParquetFileFormat.
    * buildReaderWithPartitionValues; rebase modes are CORRECTED — the
    * engine writes its own files that way.
    */
  def openReader(path: String, requested: StructType,
      pred: Option[org.apache.parquet.filter2.predicate.FilterPredicate],
      returnBatches: Boolean, start: Long = 0L, length: Long = -1L)
      : org.apache.spark.sql.execution.datasources
      .parquet.VectorizedParquetRecordReader = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = graft.lake.HadoopConfs.mutable()
    conf.set(org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    // the 2-arg initialize resolves its ReadSupport from the conf —
    // without this key getReadSupportInstance NPEs on every scan.
    // GraftVariantReadSupport = stock ParquetReadSupport plus the
    // shredded-variant clip 4.1.2 stubs out (passthrough whenever the
    // requested schema carries no variant-struct)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet
        .GraftVariantReadSupport].getName)
    pred.foreach(fp => org.apache.parquet.hadoop.ParquetInputFormat
      .setFilterPredicate(conf, fp))
    val reader =
      new org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader(
          null, "CORRECTED", "UTC", "CORRECTED", "UTC",
          /* useOffHeap = */ false, /* capacity = */ 4096)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val len =
      if (length >= 0) length
      else java.nio.file.Files.size(java.nio.file.Paths.get(path))
    // mapred.FileSplit (it extends the mapreduce one): the reader base
    // downcasts to it internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      hPath, start, len, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(conf,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
    try reader.initialize(split, attempt)
    catch {
      case scala.util.control.NonFatal(e) if pred.nonEmpty =>
        // a pushed predicate whose column types disagree with the
        // file's PHYSICAL layout (e.g. a decimal written legacy-style
        // as FLBA where the engine's standard layout is INT64) fails
        // parquet's schema-compatibility validation at initialize —
        // retry without the predicate (plain full decode; Spark's
        // residual filter still applies) instead of failing the scan
        try reader.close() catch { case _: Exception => () }
        BatchRowLakeReader.predicateFallbacks.incrementAndGet()
        return openReader(path, requested, None, returnBatches,
          start, length)
    }
    reader.initBatch(new StructType(), InternalRow.empty)
    if (returnBatches) reader.enableReturningBatches()
    reader
  }
}

/** The vectorized fast path: Spark's own batch parquet decoder over a
  * clean file (no MoR state, no meta columns — [[LakeReaderFactory]]
  * gates; renames and widening promotions are served HERE via the
  * [[LakeVectorize]] requested-schema mapping). Emits ColumnarBatches,
  * so downstream whole-stage codegen stays in its vectorized form;
  * pushed ranges go down as a parquet FilterPredicate for row-group /
  * page skipping (nothing positional is consumed here). The conf keys
  * mirror what ParquetFileFormat.buildReaderWithPartitionValues
  * stamps; rebase modes are CORRECTED — the engine writes its own
  * files that way.
  */
private[sources] class VectorizedLakeReader(p: LakeFilePartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  // target rewritten to the file's physical names by field ID, target
  // types kept (updaters widen in place), absent atomic columns as
  // CONSTANTS (initial defaults included)
  private val vm: LakeVectorize.VectorMap =
    LakeVectorize.vectorMap(p.path, p.target, p.fileSchema)

  // an all-constants projection leaves nothing to decode: request the
  // generated row-index column so batch row counts are still driven
  private val requested: StructType =
    if (vm.requested.fields.nonEmpty) vm.requested
    else StructType(Seq(StructField(LakeVectorize.RowIndexTempCol,
      LongType, nullable = true)))

  private val reader = LakeVectorize.openReader(p.path, requested,
    // ranges arrive named by the TARGET schema; rewrite to the file's
    // physical names by field id (rename-safe) before translation
    LakeSource.parquetPredicate(
      LakeVectorize.renameRanges(p.pushedRanges, p.target, p.fileSchema),
      p.fileSchema, n => vm.requested.fieldNames.contains(n)),
    returnBatches = true, start = p.start, length = p.length)

  private val constCols: Array[org.apache.spark.sql.vectorized.ColumnVector] =
    vm.srcIdx.zipWithIndex.map { case (si, i) =>
      if (si >= 0) null
      else LakeVectorize.constantVector(
        Reconcile.clean(p.target.fields(i).dataType), vm.consts(i))
    }

  // nested-default overlays (r16): constant children injected into
  // decoded struct columns for absent-with-DEFAULT nested fields
  private val injCols: Map[Int,
      Seq[(Array[Int], org.apache.spark.sql.vectorized.ColumnVector)]] =
    vm.injections.map { case (idx, is) =>
      idx -> is.map(j => (j.path,
        LakeVectorize.constantVector(j.dt, j.value)))
    }

  // passthrough only when the DECODED batch is positionally the
  // target: an empty target makes identity vacuously true while the
  // reader carries the row-count-driving row-index column — that
  // column must never leak into the emitted batch
  private val passthrough = vm.identity && (requested eq vm.requested) &&
    vm.injections.isEmpty

  override def next(): Boolean = reader.nextKeyValue()
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
    val b = reader.getCurrentValue
      .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
    if (passthrough) b
    else {
      val cols = new Array[org.apache.spark.sql.vectorized.ColumnVector](
        vm.srcIdx.length)
      var j = 0
      while (j < cols.length) {
        val sj = vm.srcIdx(j)
        cols(j) =
          if (sj < 0) constCols(j)
          else injCols.get(sj) match {
            case Some(is) => new InjectedColumnVector(b.column(sj), is)
            case None => b.column(sj)
          }
        j += 1
      }
      new org.apache.spark.sql.vectorized.ColumnarBatch(cols, b.numRows())
    }
  }
  override def close(): Unit = reader.close()
}

/** Vectorized DECODE with row EMISSION — the mode Spark itself uses
  * when a plan can't consume batches: Spark's columnar parquet decoder
  * does the page/dictionary work in batches, and rows come off the
  * decoded vectors one at a time, so merge-on-read state (position
  * deletes, deletion vectors, equality batches), `_graft_pos`/lineage
  * metadata, and changelog delete markers apply per row. The clean-file
  * case goes fully columnar instead ([[VectorizedLakeReader]]). The
  * requested schema reuses [[LakeVectorize.vectorMap]] (rename-safe by
  * field ID, widenings in place, absent atomic columns as constants),
  * extended with the equality-delete key carriers the projection
  * pruned and the materialized lineage columns. Externally-registered
  * files (add_files) decode here too, against their footer-reconciled
  * schema: registration admits a file only when Spark's own footer
  * converter maps every column to the table's type, so the same
  * decoder `spark.read.parquet` uses reads whatever registration
  * admits.
  */
private[graft] object BatchRowLakeReader {

  /** Readers constructed since JVM start — test observability pinning
    * that MoR/meta reads take the row-emitting or columnar MoR reader
    * (local-mode tests share the JVM with executors).
    */
  val opened = new java.util.concurrent.atomic.AtomicLong

  /** Reads that dropped their pushed predicate because the file's
    * physical layout rejected it (foreign decimal encoding etc.) —
    * zero on every engine-written table; test observability.
    */
  val predicateFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** How one equality-delete key value reads out of the decoded row:
    * `steps` are ordinals from the row root (intermediate ones
    * navigate into structs of `sizes(i)` fields), the last step is the
    * leaf of `leafType`; a null anywhere on the chain reads null.
    * `isConst` keys are absent from THIS file: the leaf is never read,
    * it is `constVal` (the initial default, or null) wherever every
    * struct on the chain is non-null — Reconcile's rule that a default
    * fills every row whose parent exists. A top-level constant has no
    * steps at all.
    */
  final case class EqAccess(steps: Array[Int], sizes: Array[Int],
      leafType: DataType, constVal: Any = null, isConst: Boolean = false)

  /** Decode plan: the physical schema to request and where each
    * output / equality-key / lineage value sits in the decoded row.
    * `srcIdx(i)` < 0 = target field `i` is a meta column or a
    * CONSTANT (absent atomic column — `consts(i)` holds its
    * default/null); `rowIdxPos` ≥ 0 marks the appended row-index
    * temp column — the file-absolute position source for
    * position-consuming reads (Spark's reader GENERATES it; no file
    * IO, no sequential counter).
    */
  final case class Plan(requested: StructType, srcIdx: Array[Int],
      consts: Array[Any], eqAccess: Array[Array[EqAccess]],
      rowIdSrc: Int, lastUpdSrc: Int, rowIdxPos: Int,
      injections: Map[Int, Seq[LakeVectorize.Injection]] = Map.empty)

  /** Shared probe: one key value out of a decoded row via its access
    * chain (works for flat InternalRows and ColumnarBatchRows alike).
    */
  def keyAt(r: InternalRow, a: EqAccess): Any = {
    var cur: InternalRow = r
    var i = 0
    while (i < a.steps.length - 1) {
      val o = a.steps(i)
      if (cur.isNullAt(o)) return null
      cur = cur.getStruct(o, a.sizes(i))
      i += 1
    }
    if (a.isConst) a.constVal
    else {
      val o = a.steps(a.steps.length - 1)
      if (cur.isNullAt(o)) null else cur.get(o, a.leafType)
    }
  }

  /** `f`, or the struct enclosing it, holds field `id`. */
  private def holds(f: StructField, id: Int): Boolean =
    (FieldIds.hasId(f) && FieldIds.idOf(f) == id) || (f.dataType match {
      case st: StructType => st.fields.exists(holds(_, id))
      case _ => false
    })

  /** `f` cut down to the struct chains reaching `ids`. */
  private def restrict(f: StructField, ids: Set[Int]): StructField =
    f.dataType match {
      case st: StructType if !ids(FieldIds.idOf(f)) =>
        f.copy(dataType = StructType(st.fields
          .filter(c => ids.exists(holds(c, _))).map(restrict(_, ids))))
      case _ => f
    }

  def plan(p: LakeFilePartition): Plan = {
    def fail(cause: String): Nothing = LakeVectorize.unmappable(p.path, cause)
    // externally-registered files: reconcile against the actual footer
    // (physical spellings, absent columns dropped). Footer columns the
    // registration never saw stay visible by NAME (no field id), so an
    // absent column is never requested under one of them. The footer
    // read happens HERE, executor-side; engine-written files match
    // their registered schema by construction and skip it
    val fileSchema: StructType =
      if (!p.external) p.fileSchema
      else {
        import scala.jdk.CollectionConverters._
        val footer = LakeSource.readFooterSchema(p.path)
        val reconciled = LakeSource.reconcileToFooter(p.fileSchema, footer)
        StructType(reconciled.fields ++ footer.getFields.asScala
          .map(_.getName)
          .filterNot(n => reconciled.fieldNames.exists(_.equalsIgnoreCase(n)))
          .map(StructField(_, NullType)))
      }
    val dataFields = p.target.fields.filterNot(tf =>
      LakeSource.isMetaCol(tf.name))
    val vm = LakeVectorize.vectorMap(p.path, StructType(dataFields),
      fileSchema)
    val fields =
      scala.collection.mutable.ArrayBuffer(vm.requested.fields: _*)
    // equality-delete keys read through their top-level CARRIER (the
    // key column itself, or the struct enclosing it): by carrier id,
    // the decoded-row index, the target-side type the request mirrors,
    // and the injections recorded on it — or, for a carrier absent
    // from this file, the constant it reads as
    val requestedCarrier = scala.collection.mutable.HashMap
      .empty[Int, (Int, DataType, Seq[LakeVectorize.Injection])]
    val constCarrier = scala.collection.mutable.HashMap.empty[Int, Any]
    dataFields.zipWithIndex.foreach { case (tf, i) =>
      val si = vm.srcIdx(i)
      if (si >= 0) requestedCarrier(FieldIds.idOf(tf)) =
        (si, tf.dataType, vm.injections.getOrElse(si, Nil))
      else constCarrier(FieldIds.idOf(tf)) = vm.consts(i)
    }
    // carriers the projection pruned are requested once each, cut down
    // to the key chains they hold (parquet clips to just those leaves),
    // leaves AS the keys' current types: the vectorized updaters widen
    // them as they widen the batches' own `k<id>` columns. A carrier absent
    // from the file reads as its own default: the key's initial default
    // for a top-level key, null for a struct
    val keys = p.eqBatches.flatMap(b =>
      b.keyFields.fields.toSeq.zip(b.carriers))
    keys.groupBy(k => FieldIds.idOf(k._2)).foreach { case (cid, ks) =>
      if (!requestedCarrier.contains(cid) && !constCarrier.contains(cid)) {
        val carrier = restrict(ks.head._2, ks.map(k => FieldIds.idOf(k._1)).toSet)
        fileSchema.fields.find(ff => FieldIds.hasId(ff) &&
            FieldIds.idOf(ff) == cid) match {
          case Some(ff) =>
            val inj = scala.collection.mutable.ArrayBuffer
              .empty[LakeVectorize.Injection]
            fields += StructField(ff.name, LakeVectorize.mapType(p.path,
              carrier.dataType, ff.dataType, Nil, inj), nullable = true)
            requestedCarrier(cid) =
              (fields.length - 1, carrier.dataType, inj.toSeq)
          case None =>
            constCarrier(cid) = carrier.dataType match {
              case _: StructType => null
              case _ => graft.schema.Defaults.internalValue(carrier)
            }
        }
      }
    }
    // struct-only chain of (ordinal, field) to `id` inside `dt`
    def chainTo(dt: DataType, id: Int): Option[List[(Int, StructField)]] =
      dt match {
        case st: StructType =>
          st.fields.iterator.zipWithIndex.map { case (f, i) =>
            if (FieldIds.hasId(f) && FieldIds.idOf(f) == id)
              Some(List((i, f)))
            else chainTo(f.dataType, id).map((i, f) :: _)
          }.collectFirst { case Some(c) => c }
        case _ => None
      }
    val eqAccess: Array[Array[EqAccess]] = p.eqBatches.map { b =>
      b.keyFields.fields.zip(b.carriers).map { case (kf, cf) =>
        val id = FieldIds.idOf(kf)
        val kt = Reconcile.clean(kf.dataType)
        val cid = FieldIds.idOf(cf)
        requestedCarrier.get(cid) match {
          case Some((idx, dt, inj)) =>
            val chain =
              if (cid == id) Nil
              else chainTo(dt, id).getOrElse(fail(
                s"equality key field $id is not inside column '${cf.name}'"))
            val leaf = chain.lastOption.map(_._2.dataType).getOrElse(dt)
            if (Reconcile.clean(leaf) != kt)
              fail(s"equality key field $id reads as " +
                s"${leaf.simpleString}, its batch keys ${kt.simpleString}")
            // requested nested layout mirrors the TARGET-side type
            // (mapStruct iterates its fields), so its ordinals and
            // struct sizes apply to the decoded row directly
            val steps = (idx :: chain.map(_._1)).toArray
            val sizes = (dt :: chain.map(_._2.dataType)).take(chain.length)
              .map(_.asInstanceOf[StructType].length).toArray
            // a key on an injected default reads the injection wherever
            // its parents are non-null: the decoded cell is null-filled
            inj.find(_.path.sameElements(chain.map(_._1))) match {
              case Some(j) =>
                EqAccess(steps, sizes, kt, constVal = j.value, isConst = true)
              case None => EqAccess(steps, sizes, kt)
            }
          case None =>
            EqAccess(Array.empty, Array.empty, kt,
              constVal = constCarrier(cid), isConst = true)
        }
      }
    }.toArray
    // materialized v3 lineage columns (physical-only, outside the
    // registered schema): request them when the scan asks for lineage
    // metadata — a file that predates them null-fills
    var rowIdSrc = -1; var lastUpdSrc = -1
    if (p.lineageMat && p.target.fieldNames.exists(n =>
        n == LakeSource.RowIdMetaCol || n == LakeSource.LastUpdMetaCol)) {
      fields += StructField(LakeSource.RowIdMetaCol, LongType,
        nullable = true)
      rowIdSrc = fields.length - 1
      fields += StructField(LakeSource.LastUpdMetaCol, LongType,
        nullable = true)
      lastUpdSrc = fields.length - 1
    }
    // position-consuming reads request Spark's row-index temp column:
    // the vectorized reader FILLS it with file-absolute row indexes
    // (from parquet's PageReadStore.getRowIndexes — exact under
    // row-group skipping, page-index filtering, and byte-range
    // splits), so position-delete / DV probes, `_graft_pos`, and
    // row-lineage inheritance read true physical positions with the
    // parquet predicate ENGAGED. An otherwise-EMPTY request (every
    // projected column is a constant) also takes the column: the
    // generated longs drive the row count where no file column would
    val rowIdxPos =
      if (p.deletes.nonEmpty || p.dv.nonEmpty || p.emitOnlyDeleted ||
          fields.isEmpty ||
          p.target.fieldNames.exists(n => n == LakeSource.PosMetaCol ||
            n == LakeSource.RowIdMetaCol)) {
        // nullable: the column is absent from the FILE (the reader
        // generates it) — a required absent column fails checkColumn
        fields += StructField(LakeVectorize.RowIndexTempCol, LongType,
          nullable = true)
        fields.length - 1
      } else -1
    // a requested-name collision would make the name-based clip bind
    // the wrong column: a data column spelled like the row-index temp
    // column or a lineage column. Tables cannot take those names, but
    // a registered file's footer can carry the row-index one
    val fileRowIdx =
      if (rowIdxPos < 0) Nil
      else fileSchema.fieldNames.toSeq.filter(
        _.equalsIgnoreCase(LakeVectorize.RowIndexTempCol))
    val names = (fields.map(_.name) ++ fileRowIdx)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    if (names.distinct.size != names.size)
      fail(s"requested columns collide by name: " +
        names.diff(names.distinct).distinct.mkString(", "))
    var di = -1
    val srcIdx = new Array[Int](p.target.fields.length)
    val consts = new Array[Any](p.target.fields.length)
    p.target.fields.zipWithIndex.foreach { case (tf, i) =>
      if (LakeSource.isMetaCol(tf.name)) srcIdx(i) = -1
      else {
        di += 1
        srcIdx(i) = vm.srcIdx(di)
        consts(i) = vm.consts(di)
      }
    }
    Plan(StructType(fields.toSeq), srcIdx, consts, eqAccess,
      rowIdSrc, lastUpdSrc, rowIdxPos, vm.injections)
  }
}

private[sources] class BatchRowLakeReader(p: LakeFilePartition,
    plan: BatchRowLakeReader.Plan) extends PartitionReader[InternalRow] {
  BatchRowLakeReader.opened.incrementAndGet()

  // ROW-GROUP + record-level predicate skipping on every engine-
  // written read (r15): position-consuming scans read exact
  // file-absolute positions from the generated row-index column
  // (plan.rowIdxPos), so a skipped row group can no longer
  // desynchronize deletes/meta/lineage. External files stay excluded
  // (foreign physical encodings compare differently), and changelog
  // delete-marker emission reads every row (incremental reads are
  // small; not worth the subtler residual-equivalence argument).
  private val reader = LakeVectorize.openReader(p.path, plan.requested,
    if (p.external || p.emitOnlyDeleted || p.pushedRanges.isEmpty) None
    else LakeSource.parquetPredicate(
      LakeVectorize.renameRanges(p.pushedRanges, p.target, p.fileSchema),
      p.fileSchema, n => plan.requested.fieldNames.contains(n)),
    returnBatches = false, start = p.start, length = p.length)

  private val srcTypes: Array[DataType] =
    plan.requested.fields.map(_.dataType)
  private val filePathUtf = UTF8String.fromString(
    LakeTable.normalizePath(p.path))
  private val fileIdx = p.target.fieldNames.indexOf(LakeSource.FileMetaCol)
  private val posIdx = p.target.fieldNames.indexOf(LakeSource.PosMetaCol)
  private val rowIdIdx = p.target.fieldNames.indexOf(LakeSource.RowIdMetaCol)
  private val lastUpdIdx =
    p.target.fieldNames.indexOf(LakeSource.LastUpdMetaCol)

  private val deletedPos: java.util.HashSet[java.lang.Long] =
    LakeSource.loadDeletedPositions(p.deletes, p.path)
  private val deletedBm: org.roaringbitmap.longlong.Roaring64Bitmap =
    p.dv match {
      case Some((path, off, len)) =>
        graft.lake.DeletionVectors.cached(path, off, len)
      case None => null
    }
  private def deletedAt(at: Long): Boolean =
    (deletedBm != null && deletedBm.contains(at)) ||
      (deletedPos != null && deletedPos.contains(at))

  private val eqSets = p.eqBatches.map(EqBatchCache.get).toArray
  private val eqProbes: Array[java.util.ArrayList[Any]] =
    plan.eqAccess.map(ax => new java.util.ArrayList[Any](ax.length))

  private def eqDeleted(r: InternalRow): Boolean = {
    var i = 0
    while (i < eqSets.length) {
      val access = plan.eqAccess(i)
      val probe = eqProbes(i)
      probe.clear()
      var j = 0
      while (j < access.length) {
        probe.add(BatchRowLakeReader.keyAt(r, access(j)))
        j += 1
      }
      if (eqSets(i).contains(probe)) return true
      i += 1
    }
    false
  }

  // nested-default overlay, row form (r16): rebuild the decoded
  // struct with absent-with-DEFAULT children set to their constants —
  // a null struct stays null (the default applies only where the
  // parent exists, matching Reconcile.structExpr). The injection tree
  // compiles ONCE per reader to per-ordinal arrays: the emit loop is
  // a plain index per field, no per-row Seq scans or closures
  // (review-found r16)
  private final class InjTree(st: StructType,
      inj: Seq[LakeVectorize.Injection], depth: Int) {
    val width: Int = st.length
    val types: Array[DataType] = st.fields.map(_.dataType)
    val hasConst = new Array[Boolean](width)
    val const = new Array[Any](width)
    val child = new Array[InjTree](width)
    inj.groupBy(_.path(depth)).foreach { case (ord, is) =>
      val (leaves, deeper) = is.partition(_.path.length == depth + 1)
      leaves.foreach { l => hasConst(ord) = true; const(ord) = l.value }
      if (deeper.nonEmpty)
        child(ord) = new InjTree(types(ord).asInstanceOf[StructType],
          deeper, depth + 1)
    }
  }

  private val injTrees: Map[Int, InjTree] =
    plan.injections.map { case (si, inj) =>
      si -> new InjTree(plan.requested.fields(si).dataType
        .asInstanceOf[StructType], inj, 0)
    }

  private def injectStruct(r: InternalRow, t: InjTree): InternalRow = {
    val out = new Array[Any](t.width)
    var i = 0
    while (i < t.width) {
      out(i) =
        if (t.hasConst(i)) t.const(i)
        else if (r.isNullAt(i)) null
        else if (t.child(i) != null)
          injectStruct(r.getStruct(i, t.child(i).width), t.child(i))
        else copyVal(r.get(i, t.types(i)))
      i += 1
    }
    new GenericInternalRow(out)
  }

  // decoded values may reference the (reused) column vectors — copy
  // anything buffer-backed before it leaves the reader, exactly what
  // ColumnarBatchRow.copy() would do, minus the fields we drop
  private def copyVal(v: Any): Any = v match {
    case null => null
    case s: UTF8String => s.clone()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: InternalRow => r.copy()
    case b: Array[Byte] => java.util.Arrays.copyOf(b, b.length)
    case other => other
  }

  private def matLongAt(r: InternalRow, src: Int): java.lang.Long =
    if (src >= 0 && !r.isNullAt(src)) java.lang.Long.valueOf(r.getLong(src))
    else null

  private var cur: InternalRow = _
  // file-absolute position of the CURRENT row, read from the
  // generated row-index column — exact per byte-range split and under
  // pushed predicates, with zero extra IO (rowIdxPos < 0 only when
  // nothing positional is consumed, so the stale value is never read)
  private var pos: Long = -1L

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      val r = reader.getCurrentValue.asInstanceOf[InternalRow]
      if (plan.rowIdxPos >= 0) pos = r.getLong(plan.rowIdxPos)
      if (p.emitOnlyDeleted) {
        // changelog delete markers: keep ONLY deleted positions
        if (deletedAt(pos)) { cur = r; return true }
      } else if (!deletedAt(pos) &&
          (eqSets.length == 0 || !eqDeleted(r))) {
        cur = r; return true
      }
    }
    false
  }

  override def get(): InternalRow = {
    val arr = new Array[Any](plan.srcIdx.length)
    var i = 0
    while (i < arr.length) {
      arr(i) =
        if (i == posIdx) pos
        else if (i == fileIdx) filePathUtf
        else if (i == rowIdIdx) {
          val mat = matLongAt(cur, plan.rowIdSrc)
          if (mat != null) mat.longValue()
          else if (p.firstRowId >= 0) p.firstRowId + pos
          else null
        } else if (i == lastUpdIdx) {
          val mat = matLongAt(cur, plan.lastUpdSrc)
          if (mat != null) mat.longValue()
          else if (p.fileSeq >= 0) p.fileSeq
          else null
        } else {
          val si = plan.srcIdx(i)
          // si < 0: a CONSTANT (absent atomic column — its initial
          // default or null; immutable, shared safely) or an
          // unrecognized meta column (consts null there)
          if (si < 0) plan.consts(i)
          else if (cur.isNullAt(si)) null
          else injTrees.get(si) match {
            case Some(t) => injectStruct(cur.getStruct(si, t.width), t)
            case None => copyVal(cur.get(si, srcTypes(si)))
          }
        }
      i += 1
    }
    new GenericInternalRow(arr)
  }

  override def close(): Unit = reader.close()
}

/** Executor-wide cache of equality-delete key sets: batch files are
  * immutable once written (snapshot-id + uuid paths), so a set keyed
  * by (paths, key ids+types) can be shared across every data-file
  * partition of a scan — and across scans — instead of re-reading and
  * re-hashing the batch per partition (Iceberg caches its DeleteFilter
  * sets the same way). Size-bounded by a small access-ordered LRU
  * (r15 — the prior coarse clear wiped entries hot partitions were
  * about to reuse), with memoized loads so concurrent first-touch
  * partitions share one read instead of racing parallel ones; batches
  * are upsert-sized and compaction retires them, so the cache stays
  * small in steady state. Each `k<id>` column decodes at the key's
  * current type, so a tuple equals the data-row key it deletes.
  */
private[sources] object EqBatchCache {
  private val cache = new LakeSource.LruMemoCache[
    java.util.HashSet[java.util.ArrayList[Any]]](64)

  def get(b: LakeEqBatch): java.util.HashSet[java.util.ArrayList[Any]] = {
    val key = b.paths.mkString("|") + "#" +
      b.keyFields.fields.map(f =>
        s"${FieldIds.idOf(f)}:${f.dataType.simpleString}").mkString(",")
    cache.get(key, () => load(b))
  }

  private def load(b: LakeEqBatch)
      : java.util.HashSet[java.util.ArrayList[Any]] = {
    val set = new java.util.HashSet[java.util.ArrayList[Any]]()
    val types = b.keyFields.fields.map(_.dataType)
    val requested = StructType(b.keyFields.fields.map(kf =>
      StructField(s"k${FieldIds.idOf(kf)}", kf.dataType, nullable = true)))
    b.paths.foreach { path =>
      val rows = LakeSource.deleteFileRows(path, requested)
      try rows.foreach { r =>
        val tuple = new java.util.ArrayList[Any](types.length)
        var i = 0
        while (i < types.length) {
          tuple.add(LakeSource.copiedValue(r, i, types(i)))
          i += 1
        }
        set.add(tuple)
      } finally rows.close()
    }
    set
  }
}
