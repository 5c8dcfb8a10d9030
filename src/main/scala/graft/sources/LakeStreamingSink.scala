package graft.sources

import java.nio.file.{Files, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.lake.LakeTable
import graft.schema.FieldIds

/** DSv2 streaming sink: `df.writeStream.format("graft-lake")…` commits
  * one snapshot per non-empty micro-batch WITHOUT foreachBatch.
  *
  * Executor side: each task streams its InternalRows straight into
  * parquet files under the table's data directory (Spark's own
  * ParquetWriteSupport — full type coverage, INT64-micros timestamps),
  * fanning out one file per hidden-partition value (transforms are
  * evaluated per row with the same rendering as the batch writer, so
  * metadata pruning sees identical strings). Driver side: commit()
  * turns (path, partitionValues) pairs into one append snapshot tagged
  * with (queryId, epochId), so replayed epochs after a crash are
  * skipped — the same exactly-once contract as StreamIngest, with
  * distributed writes (rows never travel to the driver).
  *
  * abort() deletes staged files.
  */
private[sources] class LakeStreamingWrite(wh: String, db: String, tbl: String,
    queryId: String, schema: StructType,
    branch: Option[String] = None) extends StreamingWrite {

  // schema version + partition plan captured at query start: a
  // mid-stream ALTER TABLE must not re-label old-schema files
  private val (writtenSchemaId, writtenSpecId, partPlan) = {
    val t = LakeTable.load(wh, db, tbl)
    (t.metadata.currentSchemaId, t.metadata.currentSpecId,
      LakeStreamingWrite.partitionPlan(t, schema))
  }

  private def deleteStaged(p: String): Unit =
    Files.deleteIfExists(Paths.get(p))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val stage = LakeTable.tableLocation(wh, db, tbl)
      .resolve("data").resolve(s"stream-${UUID.randomUUID().toString.take(8)}")
    new LakeStreamingWriterFactory(stage.toString, schema, partPlan)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case LakeFilesCommit(fs) => fs
    }.flatten.toSeq
    if (files.isEmpty) return
    val t = LakeTable.load(wh, db, tbl)
    // idempotence: a replayed epoch (driver died between snapshot
    // commit and checkpoint write) must not append twice
    if (t.lastStreamBatchId(queryId).exists(_ >= epochId)) {
      files.foreach(f => deleteStaged(f._1))
      return
    }
    t.commitExternalFiles(files, writtenSchemaId, writtenSpecId,
      streamBatchId = Some(epochId), streamId = Some(queryId),
      branch = branch)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case LakeFilesCommit(fs) => fs }
      .flatten.foreach(f => deleteStaged(f._1))
}

private[graft] object LakeStreamingWrite {

  /** Resolve the table's partition spec against a writer's row schema:
    * (partition name, transform, source ordinal, type) per spec field,
    * failing fast on transforms the executor-side renderer can't
    * produce.
    */
  def partitionPlan(t: LakeTable, schema: StructType): Seq[PartField] = {
    val md = t.metadata
    val plan = md.currentSpec.fields.map { f =>
      val srcName = FieldIds.flatten(md.currentSchema)
        .collectFirst { case (p, fd) if FieldIds.idOf(fd) == f.sourceFieldId => p }
        .getOrElse(throw new IllegalStateException(
          s"spec source field ${f.sourceFieldId} not in schema"))
      val ord = try schema.fieldIndex(srcName) catch {
        case _: IllegalArgumentException =>
          throw new UnsupportedOperationException(
            s"graft-lake writer: partition source '$srcName' is nested — " +
              "distributed writes support top-level sources only; use the " +
              "driver-side batch path")
      }
      PartField(f.name, f.transform, ord, schema.fields(ord).dataType)
    }
    plan.foreach(renderCheck)
    plan
  }

  /** Throws for (transform, type) pairs renderValue can't produce.
    * Time transforms are limited to wall-clock types (NTZ/date): the
    * batch writer renders tz-aware timestamps in the SESSION timezone
    * via date_format, which an executor cannot reproduce portably.
    */
  def renderCheck(p: PartField): Unit = (p.transform, p.dataType) match {
    case ("identity", StringType | IntegerType | LongType | BooleanType |
                      DoubleType | FloatType | DateType) => ()
    case ("year" | "month" | "day" | "hour",
          TimestampNTZType | DateType) => ()
    case (tf, _) if graft.lake.Transforms.bucketCount(tf).isDefined => ()
    case (tf, StringType | IntegerType | LongType)
        if graft.lake.Transforms.truncateWidth(tf).isDefined => ()
    case (tf, dt) => throw new UnsupportedOperationException(
      s"graft-lake writer: partition transform $tf(${dt.simpleString}) is " +
        "not supported for distributed writes; use LakeTable.append / " +
        "StreamIngest.intoLake (driver-side batch path) for this table")
  }

  /** Same rendering as the batch writer's directory values
    * (Transforms.expr + Hive null dir), evaluated on an InternalRow.
    */
  def renderValue(p: PartField, row: InternalRow): String = {
    // bucket first: the batch expression pmod(hash(col), n) maps NULL
    // to pmod(seed, n), never to the default partition dir
    graft.lake.Transforms.bucketCount(p.transform).foreach { n =>
      val v = if (row.isNullAt(p.ordinal)) null else row.get(p.ordinal, p.dataType)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(v, p.dataType, 42L).toInt
      val m = h % n
      return (if (m < 0) m + n else m).toString
    }
    if (row.isNullAt(p.ordinal)) return "__HIVE_DEFAULT_PARTITION__"
    // truncate next: same NULL → default-dir rule as identity/time, then
    // the batch expression's floor/prefix on the non-null value
    graft.lake.Transforms.truncateWidth(p.transform).foreach { w =>
      return (p.dataType match {
        case IntegerType =>
          val v = row.getInt(p.ordinal); (v - Math.floorMod(v, w)).toString
        case LongType =>
          val v = row.getLong(p.ordinal)
          (v - Math.floorMod(v, w.toLong)).toString
        case StringType =>
          // character (codepoint-pair) prefix, matching substring(col,1,w)
          val v = row.getUTF8String(p.ordinal).substringSQL(1, w).toString
          if (v.isEmpty) "__HIVE_DEFAULT_PARTITION__" else v
        case other => throw new UnsupportedOperationException(other.simpleString)
      })
    }
    def ldt: LocalDateTime = p.dataType match {
      case TimestampNTZType =>
        val micros = row.getLong(p.ordinal)
        LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
      case DateType =>
        LocalDate.ofEpochDay(row.getInt(p.ordinal).toLong).atStartOfDay
      case other => throw new UnsupportedOperationException(other.simpleString)
    }
    p.transform match {
      case "identity" => p.dataType match {
        case StringType =>
          // Hive path treats null AND empty as the default partition
          val v = row.getUTF8String(p.ordinal).toString
          if (v.isEmpty) "__HIVE_DEFAULT_PARTITION__" else v
        case IntegerType => row.getInt(p.ordinal).toString
        case LongType => row.getLong(p.ordinal).toString
        case BooleanType => row.getBoolean(p.ordinal).toString
        case DoubleType => row.getDouble(p.ordinal).toString
        case FloatType => row.getFloat(p.ordinal).toString
        case DateType => LocalDate.ofEpochDay(row.getInt(p.ordinal).toLong).toString
        case other => throw new UnsupportedOperationException(other.simpleString)
      }
      case t @ ("year" | "month" | "day" | "hour") =>
        graft.lake.Transforms.renderLocal(t, ldt)
      case other => throw new UnsupportedOperationException(other)
    }
  }
}

/** One spec field bound to the query schema: partition name, transform,
  * source ordinal, source type.
  */
private[graft] case class PartField(name: String, transform: String,
    ordinal: Int, dataType: DataType)

private[graft] case class LakeFilesCommit(
    files: Seq[(String, Map[String, String])]) extends WriterCommitMessage

/** Commit message of a bloom-fused batch write (r18): the filters were
  * built from the rows AS THE TASK WROTE them, so the driver never
  * re-reads the files (the r17 small-delta path still cost one
  * read-back job per write; the pre-r17 path two jobs and a row
  * shuffle). Small blob sets ([[LakeParquetDataWriter.ShipBloomBytes]])
  * ship back raw in `shipped` and the driver folds every task's into
  * ONE container (the routine lifecycle write keeps the r17 one-
  * container layout); past the bound the task writes its own container
  * and only the ~40-byte `refs` travel (a 10k-file compaction never
  * stages blobs on the driver). Only
  * [[graft.lake.LakeTable.writeViaTaskWriterBlooms]] produces this
  * shape; the streaming sink keeps [[LakeFilesCommit]].
  */
private[graft] case class LakeFilesBloomCommit(
    files: Seq[(String, Map[String, String])],
    refs: Seq[(String, Seq[graft.lake.BloomRef])],
    shipped: Seq[(String, Seq[Array[Byte]])],
    /** per written file: (footer row count, field-id-keyed min/max
      * stats, byte size) — computed task-side right after close when
      * `statsSchema` is set (r18: the driver otherwise re-opens every
      * written file's footer at commit) */
    fileStats: Seq[(String, (Long, Map[Int, graft.lake.ColStats], Long))] =
      Seq.empty,
    /** histogram of the `countOrdinal` column's values across the
      * task's rows (r18: replaces commitMoR's read-back count job) */
    valueCounts: Seq[(String, Long)] = Seq.empty)
  extends WriterCommitMessage

/** One bloom-fused column of a batch write: the write-schema ordinal +
  * type to hash and the field id the ref is keyed by. */
private[graft] case class BloomWriteCol(name: String, fieldId: Int,
    ordinal: Int, dataType: DataType)

private[sources] class LakeStreamingWriterFactory(stageDir: String,
    schema: StructType, partPlan: Seq[PartField])
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeParquetDataWriter(stageDir, schema, partPlan,
      s"$epochId-$partitionId")
}

/** Writes InternalRows to parquet, one lazily opened file per hidden-
  * partition value (Spark's ParquetWriteSupport). An empty task
  * creates no files.
  *
  * `closeOnKeyChange` (the r17 batch direct-write mode): the task
  * holds ONE open file and closes it whenever the rendered partition
  * key changes — callers sort rows by the partition transform
  * expressions first, so each key is one contiguous run and the write
  * is one file per (task, value) with O(1) open-sink memory at ANY
  * partition cardinality (FileFormatWriter's sorted dynamic-partition
  * behavior). If a key DOES reappear (unsorted input), a second file
  * for the same value is emitted — more files, never wrong data — so
  * the mode is safe unconditionally; the MaxOpenPartitions cap only
  * guards the multi-sink streaming mode.
  */
private[graft] class LakeParquetDataWriter(stageDir: String,
    schema: StructType, partPlan: Seq[PartField], filePrefix: String,
    closeOnKeyChange: Boolean = false,
    bloomPlan: Seq[BloomWriteCol] = Seq.empty,
    bloomDir: String = null,
    statsSchema: StructType = null,
    countOrdinal: Int = -1)
    extends DataWriter[InternalRow] {

  private def rich: Boolean =
    bloomPlan.nonEmpty || statsSchema != null || countOrdinal >= 0

  private case class Sink(
      writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow],
      path: String, blooms: Array[graft.lake.BloomFilters.Accumulator])

  // ordinals of the top-level columns the write schema declares
  // non-nullable: their footer column is REQUIRED, which commit-time
  // validation takes as proof of no nulls — so a null arriving there
  // refuses here, instead of being left to parquet-mr's handling of a
  // missing required field
  private val requiredOrdinals =
    schema.fields.indices.filterNot(i => schema(i).nullable).toArray

  private val sinks = mutable.LinkedHashMap.empty[Seq[String], Sink]
  private val MaxOpenPartitions = 1000
  // closeOnKeyChange mode: files already closed mid-task, reported at commit
  private val closed = mutable.ArrayBuffer.empty[(String, Map[String, String])]
  // finished per-file bloom blobs, in `closed ++ commit-time sinks` order
  private val closedBlooms =
    mutable.ArrayBuffer.empty[(String, Seq[Array[Byte]])]
  private var fileSeq = 0

  /** `when(isnotnull(c), xxhash64(cast(c AS STRING)))` per bloom column,
    * bound by write-schema ordinal — the SAME expression tree the
    * read-back build projected ([[graft.lake.LakeTable.bloomHashCols]]),
    * evaluated on the rows as the task writes them, so build and probe
    * can never disagree. Eligible types are integral/string only, whose
    * cast-to-string is timezone-independent.
    */
  private lazy val bloomProj = {
    import org.apache.spark.sql.catalyst.expressions._
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      bloomPlan.map { b =>
        val ref = BoundReference(b.ordinal, b.dataType, nullable = true)
        If(IsNull(ref), Literal(null, LongType),
          new XxHash64(Seq(Cast(ref, StringType, Some("UTC")))))
      })
  }

  // per closed file: (footer rows, stats, bytes) — read task-side
  // while the file is page-cache hot, instead of a driver re-open per
  // file at commit time
  private val closedStats = mutable.ArrayBuffer.empty[
    (String, (Long, Map[Int, graft.lake.ColStats], Long))]
  // countOrdinal value histogram across the task's rows
  private val valCounts = new java.util.HashMap[String, java.lang.Long]()

  private def finishBlooms(sink: Sink): Unit = {
    if (bloomPlan.nonEmpty)
      closedBlooms += sink.path ->
        sink.blooms.toSeq.map(a =>
          graft.lake.BloomFilters.serialize(a.finish()))
    if (statsSchema != null) {
      val (rows, stats) = graft.lake.FileStats.fromFooterWithRows(
        sink.path, statsSchema)
      val bytes = try Files.size(Paths.get(sink.path))
        catch { case _: Exception => -1L }
      closedStats += sink.path -> ((rows, stats, bytes))
    }
  }

  // the ParquetWriteSupport settings, the same for every file this
  // writer opens
  private lazy val conf = {
    val conf = graft.lake.HadoopConfs.mutable()
    ParquetWriteSupport.setSchema(schema, conf)
    // everything ParquetWriteSupport/SparkToParquetSchemaConverter
    // read from the Hadoop conf (Spark's prepareWrite sets the same)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf
  }

  // the stage dir, created with the first file (as Hadoop's create did)
  private lazy val stagePath = Files.createDirectories(Paths.get(stageDir))

  private def open(name: String): Sink = {
    val path = stagePath.resolve(name).toString
    // java.nio file creation: Hadoop's RawLocalFileSystem forks a
    // `chmod` per created file when native Hadoop is absent
    val out = new org.apache.parquet.io.LocalOutputFile(Paths.get(path))
    Sink(new LakeParquetDataWriter.Builder(out).withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build(),
      path,
      if (bloomPlan.isEmpty) null
      else Array.fill(bloomPlan.size)(
        new graft.lake.BloomFilters.Accumulator()))
  }

  // Spark's group-based row-level writes (UPDATE/MERGE → ReplaceData)
  // prepend a __row_operation column the physical plan does not project
  // away; shift it off so rows match the declared write schema
  private lazy val projected = new org.apache.spark.sql.catalyst
    .ProjectingInternalRow(schema,
      (1 to schema.length).toIndexedSeq)

  override def write(record: InternalRow): Unit = {
    val row =
      if (record.numFields == schema.length) record
      else if (record.numFields == schema.length + 1) {
        projected.project(record); projected
      } else throw new IllegalStateException(
        s"row has ${record.numFields} fields for ${schema.length}-column schema")
    var r = 0
    while (r < requiredOrdinals.length) {
      val i = requiredOrdinals(r)
      // the wording of the commit-time validation's refusal
      require(!row.isNullAt(i), s"required column '${schema(i).name}' " +
        s"(`${schema(i).name.replace("`", "``")}` IS NOT NULL) is " +
        "violated by incoming rows — commit refused")
      r += 1
    }
    val key = partPlan.map(p => LakeStreamingWrite.renderValue(p, row))
    if (closeOnKeyChange && sinks.nonEmpty && !sinks.contains(key)) {
      val (prevKey, prev) = sinks.head
      prev.writer.close()
      closed += prev.path -> partPlan.map(_.name).zip(prevKey).toMap
      finishBlooms(prev)
      sinks.clear()
    }
    val sink = sinkFor(key)
    sink.writer.write(row)
    if (bloomPlan.nonEmpty) {
      val h = bloomProj(row)
      var i = 0
      while (i < bloomPlan.size) {
        if (!h.isNullAt(i)) sink.blooms(i).add(h.getLong(i))
        i += 1
      }
    }
    if (countOrdinal >= 0 && !row.isNullAt(countOrdinal))
      // toString copies out of the (reused) row buffer
      valCounts.merge(row.getUTF8String(countOrdinal).toString,
        java.lang.Long.valueOf(1L),
        (a: java.lang.Long, b: java.lang.Long) =>
          java.lang.Long.valueOf(a.longValue + b.longValue))
  }

  private def sinkFor(key: Seq[String]): Sink =
    sinks.getOrElseUpdate(key, {
      require(closeOnKeyChange || sinks.size < MaxOpenPartitions,
        s"task exceeds $MaxOpenPartitions open partitions — repartition " +
          "the input by the partition source columns (each open file " +
          "buffers a row group; memory limits bite before this cap)")
      fileSeq += 1
      open(s"part-$filePrefix-${fileSeq - 1}-" +
        s"${UUID.randomUUID().toString.take(8)}.parquet")
    })

  /** Open the (unpartitioned) writer's file before any row arrives, so
    * a writer that sees none still commits one zero-row file carrying
    * the schema — the empty equality-delete marker batch. */
  def openEmpty(): Unit = {
    require(partPlan.isEmpty, "an empty file has no partition value")
    sinkFor(Seq.empty)
  }

  override def commit(): WriterCommitMessage = {
    val files = sinks.toSeq.map { case (key, sink) =>
      sink.writer.close()
      finishBlooms(sink)
      sink.path -> partPlan.map(_.name).zip(key).toMap
    }
    sinks.clear()
    val all = closed.toSeq ++ files
    closed.clear()
    if (!rich) LakeFilesCommit(all)
    else {
      val entries = closedBlooms.toVector
      closedBlooms.clear()
      val statsOut = closedStats.toVector
      closedStats.clear()
      val countsOut = {
        import scala.jdk.CollectionConverters._
        valCounts.asScala.toSeq.map { case (k, v) => (k, v.longValue) }
      }
      valCounts.clear()
      val blobBytes = entries.iterator
        .flatMap(_._2).map(_.length.toLong).sum
      if (blobBytes <= LakeParquetDataWriter.ShipBloomBytes)
        // small blobs ride the commit message; the driver folds every
        // task's into ONE container (the r17 small-delta layout)
        LakeFilesBloomCommit(all, Seq.empty, entries, statsOut, countsOut)
      else {
        // one container per big task, same placement/refs shape as the
        // distributed read-back build (buildBloomRefs); only the
        // ~40-byte span refs travel back with the file list
        val container = Paths.get(bloomDir).resolve(
          s"blooms-${UUID.randomUUID().toString.take(12)}.gbf")
        Files.createDirectories(container.getParent)
        val spans = graft.lake.BloomFilters.writeContainer(container,
          entries.flatMap(_._2)).toIndexedSeq
        var idx = -1
        val refs = entries.map { case (p, blobs) =>
          (p, bloomPlan.zip(blobs).map { case (b, _) =>
            idx += 1
            graft.lake.BloomRef(b.fieldId, container.toString,
              spans(idx)._1, spans(idx)._2,
              graft.lake.BloomFilters.K)
          })
        }
        LakeFilesBloomCommit(all, refs, Seq.empty, statsOut, countsOut)
      }
    }
  }

  override def abort(): Unit = {
    sinks.values.foreach { sink =>
      try sink.writer.close() catch { case _: Exception => () }
      Files.deleteIfExists(Paths.get(sink.path))
    }
    sinks.clear()
    closed.foreach { case (path, _) => Files.deleteIfExists(Paths.get(path)) }
    closed.clear()
    closedBlooms.clear()
    closedStats.clear()
    valCounts.clear()
  }

  override def close(): Unit = ()
}

private[graft] object LakeParquetDataWriter {
  /** parquet-mr's writer builder over Spark's own ParquetWriteSupport. */
  private final class Builder(f: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, Builder](f) {
    override def getWriteSupport(c: Configuration) = new ParquetWriteSupport
    override def self(): Builder = this
  }

  /** Per-task bound on bloom blobs riding the commit message instead
    * of a task-written container: a routine lifecycle write's blobs
    * are 128 B – a few KB per (file, column) (a ~40k-row file is
    * ~16 KB), so they fold into ONE driver-written container like the
    * r17 small-delta layout; a compaction task's MaxBits blobs blow
    * the bound and write executor-side — blob bytes never accumulate
    * on the driver proportionally to file count.
    */
  def ShipBloomBytes: Long = sys.props.get("graft.bloom.ship-bytes")
    .flatMap { v =>
      val n = v.toLongOption
      if (n.isEmpty) System.err.println(
        s"[lake] WARNING: malformed graft.bloom.ship-bytes '$v' — " +
          "using default 65536")
      n
    }.getOrElse(64L << 10)
}
