package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{LakeTable, Reconcile}
import graft.schema.FieldIds

/** The read-side decode stack of the lake DSv2 connector (split from
  * LakeStreamSource.scala — pure move): the per-scan columnar decision
  * and reader factory, the vectorized clean-file reader, the columnar
  * merge-on-read reader's row-emitting sibling, the legacy Group walk,
  * and the equality-delete batch cache.
  */
private[sources] object LakeReaderFactory {
  /** A partition the VECTORIZED columnar path can serve: Spark's own
    * batch parquet decoder instead of the row-at-a-time Group
    * materializer — at 100 TB the decode cost of wide scans is the
    * hot path, and columnar batches keep downstream whole-stage
    * codegen in its vectorized form. Since r14 MERGE-ON-READ state
    * (position/vector/equality deletes) stays columnar too: the
    * deletes apply as a selection map on the decoded batch
    * ([[MorVectorizedLakeReader]]), so one file with live deletes no
    * longer demotes the whole scan to row mode. Remaining gates: no
    * changelog emission, no metadata / lineage columns
    * (position-derived values are per-ROW by construction), engine-
    * written files, and the (file, target) schema pair must map —
    * [[LakeVectorize.vectorMap]] for clean files (renames by field
    * ID, legal widenings, absent atomic columns as constants),
    * [[BatchRowLakeReader.plan]] when delete state needs equality-key
    * columns re-requested.
    */
  def vectorizable(p: LakeFilePartition): Boolean =
    !sys.props.contains("graft.read.novector") &&
      !p.emitOnlyDeleted && !p.external &&
      !p.target.fieldNames.exists(LakeSource.isMetaCol) &&
      (if (p.deletes.isEmpty && p.eqBatches.isEmpty && p.dv.isEmpty)
         LakeVectorize.vectorMap(p.target, p.fileSchema).isDefined
       else BatchRowLakeReader.plan(p).isDefined)

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
    * a vectorizable clean file?". Mixed or MoR-bearing scans run
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
      else new MorVectorizedLakeReader(fp,
        BatchRowLakeReader.plan(fp).getOrElse(throw new IllegalStateException(
          s"columnar MoR read planned for an unmappable pair " +
            s"(file ${fp.path}) — LakeReaderFactory gate out of sync")))
    partition match {
      case fp: LakeFilePartition => mk(fp)
      case kp: LakeKeyedFilePartition => mk(kp.toFilePartition)
      case mp: LakeMultiFilePartition => new ChainedPartitionReader(mp.parts, mk)
      case other => throw new UnsupportedOperationException(
        s"no columnar reader for $other")
    }
  }

  private def fileReader(p: LakeFilePartition): PartitionReader[InternalRow] =
    BatchRowLakeReader.plan(p) match {
      case Some(pl) => new BatchRowLakeReader(p, pl)
      case None => new GroupRowReader(p)
    }

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
  * row per key tuple, key columns filled (physical-type-adaptive via
  * `eqKeyValue` — batches written before a type promotion still read),
  * all other columns null.
  */
private[sources] class EqMarkerReader(p: LakeEqMarkerPartition)
    extends PartitionReader[InternalRow] {
  private val keyByFieldId: Map[Int, StructField] =
    p.keyFields.fields.map(f => FieldIds.idOf(f) -> f).toMap
  private val fillers: Array[Group => Any] = p.target.fields.map { tf =>
    if (FieldIds.hasId(tf) && keyByFieldId.contains(FieldIds.idOf(tf))) {
      val id = FieldIds.idOf(tf)
      (g: Group) => LakeSource.eqKeyValue(g, s"k$id", tf.dataType)
    } else (_: Group) => null
  }
  private val files = p.paths.iterator
  private var reader: ParquetReader[Group] = _
  private var cur: Group = _
  override def next(): Boolean = {
    cur = if (reader == null) null else reader.read()
    while (cur == null && files.hasNext) {
      if (reader != null) reader.close()
      reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(files.next())).build()
      cur = reader.read()
    }
    cur != null
  }
  override def get(): InternalRow =
    new GenericInternalRow(fillers.map(_(cur)))
  override def close(): Unit = if (reader != null) reader.close()
}

/** Decides whether the vectorized batch path can serve a (target,
  * file) schema pair, and builds the requested read schema for it:
  * the TARGET schema rewritten recursively to the file's physical
  * field names (matched by field ID — rename-safe), keeping the
  * TARGET types. Spark 4's vectorized parquet updaters perform the
  * engine's legal promotions in place (IntegerToLongUpdater,
  * FloatToDoubleUpdater, decimal precision widening at equal scale —
  * the same set SchemaDiff.promotionAllowed admits), and the reader
  * null-fills requested fields absent from the file — so one
  * requested schema yields batches already in target shape with no
  * per-row reconcile. Returns None when the pair still needs the
  * row path:
  *  - a non-widening type change anywhere, or a map-KEY change
  *  - a target field with no field ID (synthetic)
  *  - an absent field with a recorded initial DEFAULT anywhere in its
  *    subtree (the batch reader null-fills where the row path fills
  *    the default)
  *  - an absent field whose target name collides case-insensitively
  *    with a file field's physical name at the same level (the
  *    name-based clip would bind the WRONG column — rename-swap)
  */
private[sources] object LakeVectorize {
  import graft.schema.{Defaults, FieldIds}

  /** Spark's row-index temp column: requesting it makes the
    * vectorized reader fill FILE-ABSOLUTE row indexes (exact under
    * row-group/page skipping and byte-range splits) — the position
    * source for every position-consuming vectorized read since r15.
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

  // Default-handling rules (r16 — this retired the Group walk's
  // nested-defaults trigger): an absent field on a pure STRUCT spine
  // with a recorded atomic default null-fill-requests AND records a
  // constant INJECTION the readers overlay; an absent field with a
  // default below an array/map boundary keeps the row walk (the fill
  // is per-ELEMENT there); and an ABSENT node's DEEPER defaults never
  // gate anything — an absent column reads as its OWN default (null
  // for complex types) on every row path, Reconcile.fieldExpr and the
  // Group walk's fieldExtractor agree, so the subtree's defaults are
  // unreachable.

  /** One nested-default constant to overlay on a decoded struct
    * column: `path` = struct ordinals below the top-level column
    * (leaf inclusive), `dt` the CLEANED leaf type, `value` the
    * default's Catalyst internal value. Only struct spines carry
    * injections — array/map interiors keep the row walk.
    */
  final case class Injection(path: Array[Int], dt: DataType, value: Any)

  private def mapType(t: DataType, f: DataType): Option[DataType] =
    mapType(t, f, Nil, null)

  private def mapType(t: DataType, f: DataType, path: List[Int],
      inj: scala.collection.mutable.Buffer[Injection]): Option[DataType] =
    (t, f) match {
      // variant EXTRACTION pushdown (r16): the target field arrived
      // rewritten by Catalyst to a struct of requested paths (each
      // inner field tagged with VariantMetadata — path, failOnError,
      // zone) over a file column stored as shredded VARIANT. Request
      // that struct VERBATIM (inner metadata intact): Spark's own
      // ParquetReadSupport recognizes a variant-struct request and
      // clips the shredded group to just the referenced typed_value
      // children — untouched shredded fields are never read, which is
      // the whole point at 100 TB
      case (ts: StructType, VariantType)
          if org.apache.spark.sql.execution.datasources
            .VariantMetadata.isVariantStruct(ts) =>
        Some(ts)
      case (ts: StructType, fs: StructType) =>
        mapStruct(ts, fs, path, inj)
      case (ArrayType(te, _), ArrayType(fe, _)) =>
        // injections stop at the array boundary (inj = null): a
        // per-element default fill is row-walk territory
        mapType(te, fe, Nil, null).map(ArrayType(_, containsNull = true))
      case (MapType(tk, tv, _), MapType(fk, fv, _))
          if Reconcile.clean(tk) == Reconcile.clean(fk) =>
        mapType(tv, fv, Nil, null).map(MapType(Reconcile.clean(tk), _,
          valueContainsNull = true))
      case (a, b) if widens(Reconcile.clean(b), Reconcile.clean(a)) =>
        Some(Reconcile.clean(a))
      case _ => None
    }

  private def mapStruct(target: StructType, file: StructType,
      path: List[Int],
      inj: scala.collection.mutable.Buffer[Injection]): Option[StructType] = {
    val out = target.fields.zipWithIndex.map { case (tf, i) =>
      if (!FieldIds.hasId(tf)) return None
      val id = FieldIds.idOf(tf)
      file.fields.find(ff => FieldIds.hasId(ff) &&
          FieldIds.idOf(ff) == id) match {
        case Some(ff) =>
          mapType(tf.dataType, ff.dataType, path :+ i, inj) match {
            case Some(dt) => StructField(ff.name, dt, nullable = true)
            case None => return None
          }
        case None =>
          // absent from the file — legal only without a physical-name
          // collision (a rename-swap would bind the wrong column by
          // name). Value semantics: the field's OWN initial default on
          // every row whose PARENT struct is non-null (Reconcile
          // .structExpr); defaults deeper in an absent subtree never
          // apply (the whole subtree reads as this node's own
          // default — null for complex types). So: a defaultless
          // absent field null-fills; a defaulted ATOMIC one on a
          // struct spine null-fills AND records a constant INJECTION
          // the readers overlay (r16 — this retired the Group walk's
          // nested-defaults trigger); everything else (defaults on
          // non-constable types, under array/map interiors) keeps the
          // row walk
          if (file.fields.exists(_.name.equalsIgnoreCase(tf.name)))
            return None
          val clean = Reconcile.clean(tf.dataType)
          if (Defaults.of(tf).isDefined) {
            if (inj == null || !constable(clean)) return None
            inj += Injection((path :+ i).toArray, clean,
              Defaults.internalValue(tf))
          }
          StructField(tf.name, clean, nullable = true)
      }
    }
    Some(StructType(out))
  }

  /** Top-level vector read plan: the physical schema to request, each
    * target field's index into the decoded row (-1 = constant), and
    * the constant values. Absent ATOMIC columns — including those
    * with recorded initial DEFAULTS, which forced the Group walk
    * through r14 — are served as per-reader CONSTANTS instead of
    * being requested (the default universe is exactly the atomic
    * types, schema/Defaults.scala); absent COMPLEX columns keep the
    * r14 rules (reader null-fill when defaultless and
    * collision-free, else the row/Group path).
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

  def vectorMap(target: StructType,
      fileSchema: StructType): Option[VectorMap] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val srcIdx = new Array[Int](target.fields.length)
    val consts = new Array[Any](target.fields.length)
    val injections = scala.collection.mutable.Map.empty[Int, Seq[Injection]]
    var i = 0
    while (i < target.fields.length) {
      val tf = target.fields(i)
      if (!FieldIds.hasId(tf)) return None
      val id = FieldIds.idOf(tf)
      fileSchema.fields.find(ff => FieldIds.hasId(ff) &&
          FieldIds.idOf(ff) == id) match {
        case Some(ff) =>
          val colInj = scala.collection.mutable.ArrayBuffer.empty[Injection]
          mapType(tf.dataType, ff.dataType, Nil, colInj) match {
            case Some(dt) =>
              fields += StructField(ff.name, dt, nullable = true)
              srcIdx(i) = fields.length - 1
              if (colInj.nonEmpty)
                injections(fields.length - 1) = colInj.toSeq
            case None => return None
          }
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
          // absent complex column: reader null-fills — legal only
          // without a recorded default on the column ITSELF (complex
          // defaults never validate, so this is belt-and-braces) and
          // no physical-name collision (a rename-swap would bind the
          // wrong column by name). Defaults DEEPER in the subtree
          // stopped gating in r16: an absent column reads as its own
          // default — null here — on every row path, so the subtree's
          // defaults are value-irrelevant
          if (Defaults.of(tf).isDefined ||
              fileSchema.fields.exists(_.name.equalsIgnoreCase(tf.name)))
            return None
          fields += StructField(tf.name, Reconcile.clean(tf.dataType),
            nullable = true)
          srcIdx(i) = fields.length - 1
      }
      i += 1
    }
    Some(VectorMap(StructType(fields.toSeq), srcIdx, consts,
      injections.toMap))
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

  /** Externally-registered files (add_files) vectorize only when
    * every registered column is FLAT and the footer stores it in the
    * one physical encoding the engine itself writes — the vectorized
    * updaters and the Group converter provably agree there. Anything
    * else (legacy INT96/MILLIS timestamps, unsigned ints, nested
    * columns, exotic annotations) keeps the footer-reconciled Group
    * walk. `adjusted` is the registered schema already rewritten to
    * footer spellings with absent fields dropped.
    */
  def externalFlatStandard(
      footer: org.apache.parquet.schema.MessageType,
      adjusted: StructType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    def std(pt: org.apache.parquet.schema.PrimitiveType,
        dt: DataType): Boolean = {
      val ann = pt.getLogicalTypeAnnotation
      if (pt.isRepetition(org.apache.parquet.schema.Type.Repetition.REPEATED))
        return false
      dt match {
        case IntegerType => pt.getPrimitiveTypeName == INT32 &&
          (ann == null || ann == LogicalTypeAnnotation.intType(32, true))
        case LongType => pt.getPrimitiveTypeName == INT64 &&
          (ann == null || ann == LogicalTypeAnnotation.intType(64, true))
        case FloatType => pt.getPrimitiveTypeName == FLOAT && ann == null
        case DoubleType => pt.getPrimitiveTypeName == DOUBLE && ann == null
        case BooleanType => pt.getPrimitiveTypeName == BOOLEAN && ann == null
        case StringType => pt.getPrimitiveTypeName == BINARY &&
          ann == LogicalTypeAnnotation.stringType()
        case BinaryType => pt.getPrimitiveTypeName == BINARY && ann == null
        case DateType => pt.getPrimitiveTypeName == INT32 &&
          ann == LogicalTypeAnnotation.dateType()
        case TimestampType => pt.getPrimitiveTypeName == INT64 &&
          ann == LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)
        case TimestampNTZType => pt.getPrimitiveTypeName == INT64 &&
          ann == LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)
        case d: DecimalType => ann match {
          case dec: DecimalLogicalTypeAnnotation =>
            dec.getScale == d.scale && dec.getPrecision <= d.precision &&
              (pt.getPrimitiveTypeName == INT32 ||
                pt.getPrimitiveTypeName == INT64 ||
                pt.getPrimitiveTypeName == BINARY ||
                pt.getPrimitiveTypeName == FIXED_LEN_BYTE_ARRAY)
          case _ => false
        }
        case _ => false
      }
    }
    adjusted.fields.forall { f =>
      footer.containsField(f.name) && {
        val t = footer.getType(footer.getFieldIndex(f.name))
        t.isPrimitive && std(t.asPrimitiveType(), f.dataType)
      }
    }
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
  // CONSTANTS (r15 — initial defaults vectorize instead of forcing
  // the Group walk) — gate guarantees it maps
  private val vm: LakeVectorize.VectorMap =
    LakeVectorize.vectorMap(p.target, p.fileSchema).getOrElse(
      throw new IllegalStateException(
        s"vectorized read planned for an unmappable schema pair " +
          s"(file ${p.path}) — LakeReaderFactory gate out of sync"))

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
  * metadata, and changelog delete markers all apply exactly as on the
  * Group walk — at a fraction of its per-record Group-assembly cost.
  * At 100 TB this removes the decode cliff for MoR-bearing tables
  * (the clean-file case goes fully columnar instead; see
  * [[VectorizedLakeReader]]). The requested schema reuses
  * [[LakeVectorize.vectorMap]] (rename-safe by field ID, widenings
  * in place, absent atomic columns as constants since r15 — initial
  * DEFAULTS included), extended with equality-delete key columns the
  * projection pruned and the materialized lineage columns; nested
  * equality keys read through struct children (r15).
  * Externally-registered files vectorize too when every column is
  * flat in the one physical encoding the engine writes
  * ([[LakeVectorize.externalFlatStandard]]); [[GroupRowReader]]
  * remains for exotic external encodings and unmappable schema pairs
  * (non-widening type changes, map-KEY changes, defaults below
  * array/map boundaries — struct-spine nested defaults vectorize via
  * constant injection since r16).
  */
private[graft] object BatchRowLakeReader {

  /** Readers constructed since JVM start — test observability pinning
    * that MoR/meta reads actually take the vectorized-decode path
    * (local-mode tests share the JVM with executors).
    */
  val opened = new java.util.concurrent.atomic.AtomicLong

  /** Group walks constructed since JVM start — the engagement
    * counter's inverse: specs pin that scenarios retired from the
    * fallback (nested eq keys, default columns) stay retired.
    */
  val groupWalks = new java.util.concurrent.atomic.AtomicLong

  /** Reads that dropped their pushed predicate because the file's
    * physical layout rejected it (foreign decimal encoding etc.) —
    * zero on every engine-written table; test observability.
    */
  val predicateFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** How one equality-delete key value reads out of the decoded row:
    * `steps` are ordinals from the row root (intermediate ones
    * navigate into structs of `sizes(i)` fields — nested keys read
    * through struct children since r15), the last step is the leaf of
    * `leafType`; a null anywhere on the chain reads null, matching
    * the Group walk's null-fill. `isConst` keys (the key column is
    * absent from THIS file) probe the constant — the file's initial
    * default, or null.
    */
  final case class EqAccess(steps: Array[Int], sizes: Array[Int],
      leafType: DataType, constVal: Any = null, isConst: Boolean = false)

  /** Decode plan: the physical schema to request and where each
    * output / equality-key / lineage value sits in the decoded row.
    * `srcIdx(i)` < 0 = target field `i` is a meta column or a
    * CONSTANT (absent atomic column — `consts(i)` holds its
    * default/null, r15); `rowIdxPos` ≥ 0 marks the appended row-index
    * temp column — the file-absolute position source for
    * position-consuming reads (Spark's reader GENERATES it; no file
    * IO, no sequential counter). None = stay on the Group walk.
    */
  final case class Plan(requested: StructType, srcIdx: Array[Int],
      consts: Array[Any], eqAccess: Array[Array[EqAccess]],
      rowIdSrc: Int, lastUpdSrc: Int, rowIdxPos: Int,
      injections: Map[Int, Seq[LakeVectorize.Injection]] = Map.empty)

  /** Shared probe: one key value out of a decoded row via its access
    * chain (works for flat InternalRows and ColumnarBatchRows alike).
    */
  def keyAt(r: InternalRow, a: EqAccess): Any = {
    if (a.isConst) return a.constVal
    var cur: InternalRow = r
    var i = 0
    while (i < a.steps.length - 1) {
      val o = a.steps(i)
      if (cur.isNullAt(o)) return null
      cur = cur.getStruct(o, a.sizes(i))
      i += 1
    }
    val o = a.steps(a.steps.length - 1)
    if (cur.isNullAt(o)) null else cur.get(o, a.leafType)
  }

  def plan(p: LakeFilePartition): Option[Plan] = {
    if (sys.props.contains("graft.read.novector")) return None
    // externally-registered files: reconcile against the actual footer
    // (physical spellings, absent columns dropped — same first step as
    // the Group walk) and vectorize only when every column is flat in
    // the ONE encoding the engine itself writes; anything exotic keeps
    // the Group walk. The footer read happens HERE, executor-side —
    // the Group walk pays the identical read for externals
    val fileSchema: StructType =
      if (!p.external) p.fileSchema
      else LakeSource.readFooterSchema(p.path) match {
        case Some(ft) =>
          val adj = LakeSource.reconcileToFooter(p.fileSchema, ft)
          if (LakeVectorize.externalFlatStandard(ft, adj)) adj
          else return None
        case None => return None
      }
    val dataFields = p.target.fields.filterNot(tf =>
      LakeSource.isMetaCol(tf.name))
    val vm = LakeVectorize.vectorMap(StructType(dataFields),
      fileSchema) match {
      case Some(m) => m
      case None => return None
    }
    val fields =
      scala.collection.mutable.ArrayBuffer(vm.requested.fields: _*)
    // target-field id → decoded-row index (only fields the request
    // actually carries — constants have no decoded column), plus the
    // target field itself for nested chain resolution
    val idToIdx = scala.collection.mutable.HashMap.empty[Int, Int]
    val idToConst = scala.collection.mutable.HashMap.empty[Int, Any]
    val carriers = scala.collection.mutable
      .ArrayBuffer.empty[(Int, StructField)] // (requested idx, target)
    dataFields.zipWithIndex.foreach { case (tf, i) =>
      if (vm.srcIdx(i) >= 0) {
        idToIdx(FieldIds.idOf(tf)) = vm.srcIdx(i)
        if (tf.dataType.isInstanceOf[StructType])
          carriers += ((vm.srcIdx(i), tf))
      } else idToConst(FieldIds.idOf(tf)) = vm.consts(i)
    }
    // struct-only chain of (ordinal, field) to `id` inside `dt`
    def chainTo(dt: DataType, id: Int): Option[List[(Int, StructField)]] =
      dt match {
        case st: StructType =>
          var i = 0
          while (i < st.fields.length) {
            val f = st.fields(i)
            if (FieldIds.hasId(f) && FieldIds.idOf(f) == id)
              return Some(List((i, f)))
            chainTo(f.dataType, id) match {
              case Some(rest) => return Some((i, f) :: rest)
              case None => ()
            }
            i += 1
          }
          None
        case _ => None
      }
    // equality-delete keys: reuse the projected column when the target
    // still carries it (TOP-LEVEL or struct-NESTED — nested keys read
    // through struct children, r15); an absent key column probes its
    // constant; a pruned top-level column is re-requested AS the key's
    // (current-schema) type (the vectorized updater widens exactly
    // like eqKeyValue's int→long conversion); a pruned NESTED carrier
    // re-requests a minimal single-chain struct. Non-widening shapes
    // stay on the Group walk.
    val eqAccess = new Array[Array[EqAccess]](p.eqBatches.length)
    // per-id memo ACROSS batches: a second batch keyed on the same
    // pruned column must reuse the first batch's appended request
    // column — re-appending would trip the names-distinct check and
    // silently demote the whole scan to the Group walk (review-found
    // r15 regression; key ids map to one current-schema type, so the
    // access is id-stable)
    val resolvedById =
      scala.collection.mutable.HashMap.empty[Int, EqAccess]
    var bi = 0
    p.eqBatches.foreach { b =>
      val acc = new Array[EqAccess](b.keyFields.fields.length)
      var ki = 0
      b.keyFields.fields.foreach { kf =>
        val id = FieldIds.idOf(kf)
        val kt = Reconcile.clean(kf.dataType)
        def topLevel: Option[EqAccess] = idToIdx.get(id).map { i0 =>
          if (Reconcile.clean(fields(i0).dataType) != kt) return None
          EqAccess(Array(i0), Array.empty, kt)
        }
        def const: Option[EqAccess] = idToConst.get(id).map(v =>
          EqAccess(Array.empty, Array.empty, kt, constVal = v,
            isConst = true))
        def nestedInRequested: Option[EqAccess] =
          carriers.iterator.flatMap { case (reqIdx, tf) =>
            chainTo(tf.dataType, id).map { chain =>
              // requested nested layout mirrors the TARGET recursion
              // (mapStruct iterates target fields), so target ordinals
              // and struct sizes apply to the decoded row directly
              if (Reconcile.clean(chain.last._2.dataType) != kt)
                return None
              val steps = (reqIdx :: chain.map(_._1)).toArray
              // sizes(j) = field count of the struct getStruct enters
              // at steps(j): steps(0) enters tf's struct, steps(1)
              // the next level, ...; the leaf step needs no size
              val sizes = new Array[Int](steps.length - 1)
              var dt2: DataType = tf.dataType
              var j = 0
              while (j < sizes.length) {
                sizes(j) = dt2.asInstanceOf[StructType].length
                dt2 = dt2.asInstanceOf[StructType]
                  .fields(steps(j + 1)).dataType
                j += 1
              }
              EqAccess(steps, sizes, kt)
            }
          }.nextOption()
        def topLevelFromFile: Option[EqAccess] =
          fileSchema.fields.find(ff => FieldIds.hasId(ff) &&
              FieldIds.idOf(ff) == id) match {
            case Some(ff) if ff.dataType.isInstanceOf[StructType] => None
            case Some(ff) if LakeVectorize.widens(
                Reconcile.clean(ff.dataType), kt) =>
              fields += StructField(ff.name, kt, nullable = true)
              Some(EqAccess(Array(fields.length - 1), Array.empty, kt))
            case _ => None
          }
        def nestedFromFile: Option[EqAccess] =
          fileSchema.fields.iterator.flatMap { ff =>
            chainTo(ff.dataType, id).map { chain =>
              // the whole carrier struct was pruned from the target:
              // request a MINIMAL single-chain struct under the
              // carrier's FILE name (parquet clips to just these
              // leaves), leaf AS the key type
              if (!LakeVectorize.widens(
                  Reconcile.clean(chain.last._2.dataType), kt))
                return None
              val leaf = StructField(chain.last._2.name, kt,
                nullable = true)
              val nested = chain.init.foldRight(leaf) { (step, inner) =>
                StructField(step._2.name, StructType(Seq(inner)),
                  nullable = true)
              }
              fields += StructField(ff.name, StructType(Seq(nested)),
                nullable = true)
              // navigation: the carrier, then one single-member
              // struct per chain level, leaf at ordinal 0
              val steps = ((fields.length - 1) ::
                List.fill(chain.length)(0)).toArray
              EqAccess(steps, Array.fill(chain.length)(1), kt)
            }
          }.nextOption()
        // the memo is only valid while the id-stable-type invariant
        // holds (eqBatchesFor resolves every batch's keyFields against
        // ONE snapshot schema today); if a future batch ever types the
        // same key id differently, a silently reused access would
        // probe values that never match the delete set and resurrect
        // deleted rows — fail LOUDLY to the Group walk instead (r16,
        // advisor-flagged)
        val memoized = resolvedById.get(id).filter { a =>
          if (a.leafType == kt) true
          else return None
        }
        val resolved = memoized
          .orElse(topLevel).orElse(const).orElse(nestedInRequested)
          .orElse(topLevelFromFile).orElse(nestedFromFile)
        resolved match {
          case Some(a) => resolvedById(id) = a; acc(ki) = a
          case None => return None
        }
        ki += 1
      }
      eqAccess(bi) = acc; bi += 1
    }
    // materialized v3 lineage columns (physical-only, outside the
    // registered schema): request them when the scan asks for lineage
    // metadata — a file that predates them null-fills, matching the
    // Group walk's containsField fallback
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
    // parquet predicate ENGAGED (r15 — previously these scans gated
    // pushdown off and seeded a sequential counter with two footer
    // reads per split). An otherwise-EMPTY request (every projected
    // column is a constant) also takes the column: the generated
    // longs drive the row count where no file column would
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
    // the wrong column (and a data column spelled like the row-index
    // temp column would collide with the generated one) — Group-walk
    // territory
    val names = fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
    if (names.distinct.size != names.size) return None
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
    // an equality-delete key that resolves INTO an injected child
    // would probe the decoded (null-filled) cell instead of the
    // default the rows semantically carry — keep those rare scans on
    // the Group walk, whose extractors serve defaults natively
    if (vm.injections.nonEmpty) {
      val clash = eqAccess.exists(_.exists(a => !a.isConst &&
        a.steps.length >= 2 &&
        vm.injections.get(a.steps(0)).exists(_.exists(inj =>
          java.util.Arrays.equals(inj.path, a.steps.drop(1))))))
      if (clash) return None
    }
    Some(Plan(StructType(fields.toSeq), srcIdx, consts, eqAccess,
      rowIdSrc, lastUpdSrc, rowIdxPos, vm.injections))
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
  // delete-marker emission keeps the full walk (incremental reads are
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

/** Reads one parquet data file as example-Groups and reconciles each
  * record to the target schema by field ID (promotions int→long,
  * float→double included) — the executor-side mirror of
  * `Reconcile.projection`, minus Catalyst. Since r13 this is the
  * FALLBACK walk; r15 retired the last common triggers (nested
  * equality keys, absent-with-DEFAULT columns), leaving exotic
  * external encodings and genuinely unmappable schema pairs
  * (non-widening type changes, map-KEY changes, defaults below
  * array/map boundaries, eq-keys on injected defaults) —
  * everything else decodes through [[BatchRowLakeReader]]'s
  * vectorized path or the fully columnar [[VectorizedLakeReader]].
  */
private[sources] class GroupRowReader(p: LakeFilePartition)
    extends PartitionReader[InternalRow] {
  BatchRowLakeReader.groupWalks.incrementAndGet()

  private def openFooter(): Option[org.apache.parquet.schema.MessageType] =
    LakeSource.readFooterSchema(p.path)

  // The registered file schema names columns the way the ENGINE named
  // them at write/registration time. An EXTERNALLY-registered file
  // (add_files) may spell the same columns with different case, or lack
  // a nullable table column entirely — both legal at registration
  // (validation is case-insensitive, absent columns read as null on the
  // Spark-native path). Reconcile ONCE against the file's actual footer
  // schema: names are rewritten to the footer's physical spelling
  // (case-insensitive, recursively through structs) and absent fields
  // dropped, so the by-id extractor falls back to the default/null
  // extractor instead of crashing the exact-name Group lookup with
  // parquet's InvalidRecordException. Engine-written files match their
  // registered schema by construction and SKIP the extra footer read —
  // at scale that is one metadata IO per file per scan saved on the
  // hot path (the pruning branch below reuses this handle when both
  // run).
  private val footerSchema: Option[org.apache.parquet.schema.MessageType] =
    if (p.external) openFooter() else None

  private val fileSchema: StructType = footerSchema
    .map(fs => LakeSource.reconcileToFooter(p.fileSchema, fs))
    .getOrElse(p.fileSchema)

  private val reader: ParquetReader[Group] = {
    // mutable copy: the pruning branch sets the requested read schema,
    // and concurrent readers must not see each other's projections
    val conf = graft.lake.HadoopConfs.mutable()
    // parquet-level column pruning: request only the file columns whose
    // field IDs the (possibly column-pruned) target still references —
    // other columns' pages are never decoded. The requested schema is a
    // subtree copy of the file's own footer schema, so it is compatible
    // by construction.
    // equality-delete key columns must stay readable even when the
    // projection pruned them — the filter needs their values. A key may
    // be struct-NESTED, so a top-level field survives pruning when ANY
    // id in its subtree is a key id (else the extractor would crash on
    // the pruned-away ancestor).
    val eqKeyIds = p.eqBatches
      .flatMap(_.keyFields.fields.map(FieldIds.idOf)).toSet
    // materialized lineage columns live OUTSIDE the registered schema
    // (physical-only, written by v3 rewrites) — keep them readable
    // when the scan asks for the lineage metadata columns
    val lineageKeep: Set[String] =
      if (p.lineageMat && p.target.fieldNames.exists(n =>
          n == LakeSource.RowIdMetaCol || n == LakeSource.LastUpdMetaCol))
        Set(LakeSource.RowIdMetaCol, LakeSource.LastUpdMetaCol)
      else Set.empty
    val keep = fileSchema.fields
      .filter(ff => p.target.fields.exists(tf =>
        FieldIds.hasId(tf) && FieldIds.idOf(tf) == FieldIds.idOf(ff)) ||
        FieldIds.flatten(StructType(Seq(ff))).exists { case (_, sf) =>
          FieldIds.hasId(sf) && eqKeyIds.contains(FieldIds.idOf(sf)) })
      .map(_.name).toSet ++ lineageKeep
    // prune against the FOOTER's field count (an external file can
    // carry extra columns the table never registered); engine files
    // only pay the footer read when the projection actually pruned
    if (keep.nonEmpty) {
      val full = footerSchema.orElse(
        if (keep.size < fileSchema.size) openFooter() else None)
      full.filter(_.getFieldCount > keep.size).foreach { fs =>
        try {
          val prunedFields = fs.getFields.asScala.filter(f => keep(f.getName))
          val pruned = new org.apache.parquet.schema.MessageType(
            fs.getName, prunedFields.asJava)
          conf.set(
            org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
            pruned.toString)
        } catch { case _: Exception => () } // fall back to full read
      }
    }
    // ROW-GROUP + record-level predicate skipping (r15: position-
    // consuming walks qualify too — positions come from parquet's own
    // getCurrentRowIndex, which stays file-absolute when row groups
    // are skipped or records filtered, so MoR delete positions /
    // `_metadata.row_index` / inherited row ids can no longer
    // desynchronize). External files are excluded (legacy INT96
    // timestamps compare differently), as is changelog delete-marker
    // emission (small incremental reads; keep the walk full).
    val pred =
      if (p.external || p.emitOnlyDeleted || p.pushedRanges.isEmpty) None
      // ranges arrive named by the TARGET schema; rewrite to the
      // file's physical names BY FIELD ID exactly as the vectorized
      // readers do — a name-based bind would hit the wrong column
      // under a rename-swap, and a dropped-then-readded column (same
      // name, NEW id) would bind the stale physical column: its
      // zero-null row groups would wrongly drop an IS NULL that the
      // null-filled logical column satisfies everywhere. renameRanges
      // drops filters whose id the file predates (conservative).
      else LakeSource.parquetPredicate(
        LakeVectorize.renameRanges(p.pushedRanges, p.target, fileSchema),
        fileSchema, n => keep.isEmpty || keep(n))
    val b0 = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(p.path))
      .withConf(conf)
    // byte-range splits: positions come from the reader's own
    // getCurrentRowIndex (file-absolute, exact per range)
    val b1 =
      if (p.length >= 0) b0.withFileRange(p.start, p.start + p.length)
      else b0
    pred.fold(b1)(fp => b1.withFilter(
      org.apache.parquet.filter2.compat.FilterCompat.get(fp))).build()
  }

  // per-target-field extractor, bound once: file field matched by id;
  // _graft_file is a per-partition constant and _graft_pos the row
  // counter (handled in get())
  private val filePathUtf = UTF8String.fromString(
    LakeTable.normalizePath(p.path))
  private val posIdx = p.target.fieldNames.indexOf(LakeSource.PosMetaCol)
  private val rowIdIdx = p.target.fieldNames.indexOf(LakeSource.RowIdMetaCol)
  private val lastUpdIdx =
    p.target.fieldNames.indexOf(LakeSource.LastUpdMetaCol)
  private val extractors: Array[Group => Any] =
    p.target.fields.map { tf =>
      if (tf.name == LakeSource.FileMetaCol) (_: Group) => filePathUtf
      else if (LakeSource.isMetaCol(tf.name)) (_: Group) => null
      else LakeSource.fieldExtractor(tf, fileSchema.fields.toSeq)
    }

  // v3 row lineage: materialized _graft_row_id / _graft_last_updated
  // cells win when the (rewritten) file physically carries them; null
  // cells and plain appends inherit firstRowId + position / the
  // file's data sequence (-1 = pre-lineage file -> null)
  private def matLong(g: Group, name: String): java.lang.Long =
    if (p.lineageMat && g.getType.containsField(name) &&
        g.getFieldRepetitionCount(name) > 0)
      java.lang.Long.valueOf(g.getLong(name, 0))
    else null

  private def rowIdAt(g: Group, at: Long): Any = {
    val mat = matLong(g, LakeSource.RowIdMetaCol)
    if (mat != null) mat.longValue()
    else if (p.firstRowId >= 0) p.firstRowId + at
    else null
  }

  private def lastUpdAt(g: Group): Any = {
    val mat = matLong(g, LakeSource.LastUpdMetaCol)
    if (mat != null) mat.longValue()
    else if (p.fileSeq >= 0) p.fileSeq
    else null
  }

  // merge-on-read: positions of this file deleted by live delete
  // files, probed with parquet's per-record row index — the same
  // file-absolute index space the _metadata.row_index values captured
  // at delete-write time. (Scale note: a per-file set in memory —
  // Iceberg uses roaring bitmaps for the same structure.)
  private val deletedPos: java.util.HashSet[java.lang.Long] =
    LakeSource.loadDeletedPositions(p.deletes, p.path)

  // v3 deletion vector: the file's bitmap, loaded once per JVM from
  // the container blob (no per-partition delete-file scan at all —
  // the read amplification the vector model removes)
  private val deletedBm: org.roaringbitmap.longlong.Roaring64Bitmap =
    p.dv match {
      case Some((path, off, len)) =>
        graft.lake.DeletionVectors.cached(path, off, len)
      case None => null
    }

  private def deletedAt(at: Long): Boolean =
    (deletedBm != null && deletedBm.contains(at)) ||
      (deletedPos != null && deletedPos.contains(at))

  // equality deletes: per applicable batch, the key tuples as a hash
  // set (batches are upsert-sized — Iceberg's DeleteFilter keeps the
  // same in-memory structure) plus extractors that reconcile THIS
  // file's key columns to the batch's (current-schema) key types, so
  // an int-written file compares equal to a long-written key. The set
  // depends only on the (immutable) batch files, not the data file —
  // it loads once per executor via EqBatchCache, not once per
  // partition.
  private val eqFilters: Array[(Array[Group => Any],
      java.util.HashSet[java.util.ArrayList[Any]])] =
    p.eqBatches.map { b =>
      val extr = b.keyFields.fields.map(kf =>
        LakeSource.nestedFieldExtractor(kf, fileSchema))
      (extr, EqBatchCache.get(b))
    }.toArray

  // reusable probe per batch: refilled per row, zero allocation in the
  // innermost read loop (ArrayList equals/hashCode are element-wise)
  private val eqProbes: Array[java.util.ArrayList[Any]] =
    eqFilters.map(f => new java.util.ArrayList[Any](f._1.length))

  private def eqDeleted(g: Group): Boolean = {
    var i = 0
    while (i < eqFilters.length) {
      val (extr, set) = eqFilters(i)
      val probe = eqProbes(i)
      probe.clear()
      var j = 0
      while (j < extr.length) { probe.add(extr(j)(g)); j += 1 }
      if (set.contains(probe)) return true
      i += 1
    }
    false
  }

  private var cur: Group = _
  // does anything consume per-row positions? (controls the loud guard
  // below — position-free walks never read `pos`)
  private val positional = p.deletes.nonEmpty || p.dv.nonEmpty ||
    p.emitOnlyDeleted || posIdx >= 0 || rowIdIdx >= 0
  // file-absolute position of the CURRENT row, from parquet's own
  // per-record row index (exact under byte-range splits, row-group
  // skipping, and record-level filtering — no counter, no footer IO)
  private var pos: Long = -1L
  private def advance(): Unit = {
    cur = reader.read()
    if (cur != null) {
      pos = reader.getCurrentRowIndex()
      if (positional && pos < 0)
        // never silently misapply a delete: -1 means parquet could not
        // provide row indexes for this read shape (not expected for
        // any file the engine reads; fail the task rather than guess)
        throw new IllegalStateException(
          s"parquet returned no row index for a position-consuming " +
            s"walk of ${p.path}")
    }
  }
  override def next(): Boolean = {
    advance()
    if (p.emitOnlyDeleted) {
      // changelog delete markers: keep ONLY the rows at deleted
      // positions (the inverse of the normal merge-on-read filter)
      while (cur != null && !deletedAt(pos)) advance()
    } else {
      while (cur != null &&
          (deletedAt(pos) ||
            (eqFilters.length > 0 && eqDeleted(cur)))) advance()
    }
    cur != null
  }
  override def get(): InternalRow = {
    val arr = new Array[Any](extractors.length)
    var i = 0
    while (i < arr.length) {
      arr(i) =
        if (i == posIdx) pos
        else if (i == rowIdIdx) rowIdAt(cur, pos)
        else if (i == lastUpdIdx) lastUpdAt(cur)
        else extractors(i)(cur)
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
  * small in steady state.
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
    b.paths.foreach { path =>
      val r = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path)).build()
      try {
        var g = r.read()
        while (g != null) {
          val tuple = new java.util.ArrayList[Any](b.keyFields.fields.length)
          b.keyFields.fields.foreach(kf =>
            tuple.add(LakeSource.eqKeyValue(g, s"k${FieldIds.idOf(kf)}",
              kf.dataType)))
          set.add(tuple)
          g = r.read()
        }
      } finally r.close()
    }
    set
  }
}
