package graft.sources

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.{GraftVariantShredding, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.lake.LakeTable

/** DSv2 streaming sink: `df.writeStream.format("graft-lake")…` commits
  * one snapshot per non-empty micro-batch WITHOUT foreachBatch.
  *
  * Executor side: each task streams its InternalRows straight into
  * parquet files under the table's data directory (Spark's own
  * ParquetWriteSupport — full type coverage, INT64-micros timestamps),
  * fanning out one file per hidden-partition value (the batch
  * writer's [[WritePlan]], so metadata pruning sees identical
  * strings). Driver side: commit()
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

  // schema version + write plan captured at query start: a
  // mid-stream ALTER TABLE must not re-label old-schema files
  private val (writtenSchemaId, writtenSpecId, partPlan) = {
    val t = LakeTable.load(wh, db, tbl)
    (t.metadata.currentSchemaId, t.metadata.currentSpecId,
      LakeStreamingWrite.writePlan(t, schema))
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

  /** The table's file layout bound to a writer's row schema — the one
    * [[WritePlan]] every lake data write (batch, streaming, SQL DML)
    * hands to [[LakeParquetDataWriter]]: the spec's partition
    * expressions, the `write.option.*` properties, and whether VARIANT
    * columns shred.
    */
  def writePlan(t: LakeTable, schema: StructType,
      spark: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): WritePlan = {
    val parts = t.partitionColumns
    val options = t.writerOptions
    WritePlan(parts.map(_._1), WritePlan.bind(spark, schema, parts.map(_._2)),
      options, WritePlan.shredsVariants(spark, schema, options))
  }
}

/** How a [[LakeParquetDataWriter]] lays out its files: `partExprs` are
  * the spec's `Transforms.expr` partition expressions bound to the row
  * schema (the session time zone fixed at analysis, nested sources as
  * struct access), rendered per row exactly as FileFormatWriter
  * renders a dynamic partition directory value; `options` are the
  * table's `write.option.*` parquet settings; `shred` infers a VARIANT
  * shredding schema per file.
  */
private[graft] case class WritePlan(partNames: Seq[String],
    partExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    options: Map[String, String] = Map.empty,
    shred: Boolean = false) {

  /** The rendered partition key of a row: one string per spec field, a
    * null or empty value rendering as the Hive default partition.
    * Interpreted: a write evaluates a handful of expressions per row,
    * and generating code for them cost more than it saves on the
    * small driver-resident batches. */
  def keys(): InternalRow => Seq[String] =
    if (partExprs.isEmpty) _ => Nil
    else {
      val proj = org.apache.spark.sql.catalyst.expressions
        .InterpretedUnsafeProjection.createProjection(partExprs)
      row => {
        val k = proj(row)
        partExprs.indices.map { i =>
          val v = if (k.isNullAt(i)) "" else k.getUTF8String(i).toString
          if (v.isEmpty) WritePlan.DefaultPartition else v
        }
      }
    }
}

private[graft] object WritePlan {
  val empty: WritePlan = WritePlan(Nil, Nil)

  val DefaultPartition: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME

  /** Resolve `cols` against `schema` (analyzed over an empty relation
    * of that schema) and bind them to its ordinals. The analysis costs
    * milliseconds — as much as a driver-resident append of a few rows
    * writes — so its result is kept per (schema, columns, session
    * confs), and each caller gets its own copy of the trees. */
  def bind(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      cols: Seq[org.apache.spark.sql.Column])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    if (cols.isEmpty) Nil
    else {
      import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
      val key = (schema, cols.map(_.toString), spark.conf.getAll)
      val exprs = Option(bound.get(key)).getOrElse {
        val rel = LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
        val resolved =
          org.apache.spark.sql.GraftPlanBridge.analyzeSelect(spark, rel, cols) match {
            case p @ Project(list, child) if p.resolved => list.map { e =>
              val bare = e match { case a: Alias => a.child; case o => o }
              BindReferences.bindReference(bare, child.output)
            }
            case other => throw new IllegalStateException(
              s"write expressions do not resolve against the write schema: $other")
          }
        bound.put(key, resolved)
        resolved
      }
      exprs.map(_.clone())
    }

  private val bound = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[AnyRef,
        Seq[org.apache.spark.sql.catalyst.expressions.Expression]](
      16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef,
          Seq[org.apache.spark.sql.catalyst.expressions.Expression]]) =
        size > 256
    })

  /** Whether FileFormatWriter would shred this schema's VARIANT columns
    * under the active session: write shredding on, schema inference
    * on (a `spark.sql.variant.inferShreddingSchema` writer option
    * overrides the session, as for a parquet write option), and a
    * VARIANT somewhere in the schema. */
  def shredsVariants(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, options: Map[String, String]): Boolean = {
    def conf(key: String) = spark.conf.get(key).trim.toBoolean
    val inferKey = SQLConf.VARIANT_INFER_SHREDDING_SCHEMA.key
    conf(SQLConf.VARIANT_WRITE_SHREDDING_ENABLED.key) &&
      options.collectFirst {
        case (k, v) if k.equalsIgnoreCase(inferKey) => v.trim.toBoolean
      }.getOrElse(conf(inferKey)) &&
      org.apache.spark.sql.catalyst.expressions.variant
        .VariantExpressionEvalUtils.typeContainsVariant(schema)
  }
}

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
  * [[graft.lake.LakeTable.writeViaTaskWriterRich]] produces this
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
      Seq.empty)
  extends WriterCommitMessage

/** One bloom-fused column of a batch write: the write-schema ordinal +
  * type to hash and the field id the ref is keyed by. */
private[graft] case class BloomWriteCol(name: String, fieldId: Int,
    ordinal: Int, dataType: DataType)

private[sources] class LakeStreamingWriterFactory(stageDir: String,
    schema: StructType, partPlan: WritePlan)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeParquetDataWriter(stageDir, schema, partPlan,
      s"$epochId-$partitionId")
}

/** The one lake parquet writer: every batch, streaming and SQL DML
  * data write (and every delete/marker file) runs it, in a Spark task
  * or — for a driver-resident batch — once on the driver. Writes
  * InternalRows to parquet, one lazily opened file per hidden-
  * partition value (`partPlan`'s partition expressions, rendered as
  * FileFormatWriter renders a partition directory), through Spark's
  * ParquetWriteSupport with the table's `write.option.*` settings
  * applied to the parquet builder — files are SNAPPY with INT64-micros
  * timestamps whatever the session's parquet confs say; a table
  * customizes its files through those properties. With
  * `partPlan.shred`, each file buffers its first rows
  * (FileFormatWriter's 4096 rows / 64 MiB) and writes under the
  * VARIANT shredding schema Spark infers from them. An empty task
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
    schema: StructType, partPlan: WritePlan, filePrefix: String,
    closeOnKeyChange: Boolean = false,
    bloomPlan: Seq[BloomWriteCol] = Seq.empty,
    bloomDir: String = null,
    statsSchema: StructType = null)
    extends DataWriter[InternalRow] {

  private def rich: Boolean = bloomPlan.nonEmpty || statsSchema != null

  /** One open file. Under `partPlan.shred` the parquet writer opens
    * only once the shredding schema is inferred from the buffered
    * first rows (or at close). */
  private final class Sink(val path: String,
      val blooms: Array[graft.lake.BloomFilters.Accumulator]) {
    private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
      if (partPlan.shred) null else open(path)
    private var buffered = mutable.ArrayBuffer.empty[InternalRow]
    private var bufferedBytes = 0L

    def write(row: InternalRow): Unit =
      if (writer != null) writer.write(row)
      else {
        val u = toUnsafe(row)
        bufferedBytes += u.getSizeInBytes
        buffered += u.copy()
        if (buffered.size >= LakeParquetDataWriter.ShredBufferRows ||
            bufferedBytes > LakeParquetDataWriter.ShredBufferBytes) flush()
      }

    private def flush(): Unit = {
      GraftVariantShredding.setInferredSchema(schema, buffered.toSeq, conf)
      writer = open(path)
      buffered.foreach(writer.write)
      buffered = null
    }

    def close(): Unit = {
      if (writer == null) flush()
      writer.close()
    }

    def abort(): Unit = {
      if (writer != null) try writer.close() catch { case _: Exception => () }
      Files.deleteIfExists(Paths.get(path))
    }
  }

  private lazy val toUnsafe =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)

  private val keyOf = partPlan.keys()

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
    // the write options reach ParquetWriteSupport as FileFormatWriter's
    // job conf carries them; the builder settings apply in `open`
    partPlan.options.foreach { case (k, v) => conf.set(k, v) }
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

  private def open(path: String)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    // java.nio file creation: Hadoop's RawLocalFileSystem forks a
    // `chmod` per created file when native Hadoop is absent
    val out = new org.apache.parquet.io.LocalOutputFile(Paths.get(path))
    LakeParquetDataWriter.applyOptions(
      new LakeParquetDataWriter.Builder(out).withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY),
      partPlan.options).build()
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
    val key = keyOf(row)
    if (closeOnKeyChange && sinks.nonEmpty && !sinks.contains(key)) {
      val (prevKey, prev) = sinks.head
      prev.close()
      closed += prev.path -> partPlan.partNames.zip(prevKey).toMap
      finishBlooms(prev)
      sinks.clear()
    }
    val sink = sinkFor(key)
    sink.write(row)
    if (bloomPlan.nonEmpty) {
      val h = bloomProj(row)
      var i = 0
      while (i < bloomPlan.size) {
        if (!h.isNullAt(i)) sink.blooms(i).add(h.getLong(i))
        i += 1
      }
    }
  }

  private def sinkFor(key: Seq[String]): Sink =
    sinks.getOrElseUpdate(key, {
      require(closeOnKeyChange || sinks.size < MaxOpenPartitions,
        s"task exceeds $MaxOpenPartitions open partitions — repartition " +
          "the input by the partition source columns (each open file " +
          "buffers a row group; memory limits bite before this cap)")
      fileSeq += 1
      new Sink(stagePath.resolve(s"part-$filePrefix-${fileSeq - 1}-" +
        s"${UUID.randomUUID().toString.take(8)}.parquet").toString,
        if (bloomPlan.isEmpty) null
        else Array.fill(bloomPlan.size)(
          new graft.lake.BloomFilters.Accumulator()))
    })

  /** Open the (unpartitioned) writer's file before any row arrives, so
    * a writer that sees none still commits one zero-row file carrying
    * the schema — the empty equality-delete marker batch. */
  def openEmpty(): Unit = {
    require(partPlan.partNames.isEmpty, "an empty file has no partition value")
    sinkFor(Seq.empty)
  }

  override def commit(): WriterCommitMessage = {
    val files = sinks.toSeq.map { case (key, sink) =>
      sink.close()
      finishBlooms(sink)
      sink.path -> partPlan.partNames.zip(key).toMap
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
      val blobBytes = entries.iterator
        .flatMap(_._2).map(_.length.toLong).sum
      if (blobBytes <= LakeParquetDataWriter.ShipBloomBytes)
        // small blobs ride the commit message; the driver folds every
        // task's into ONE container (the r17 small-delta layout)
        LakeFilesBloomCommit(all, Seq.empty, entries, statsOut)
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
        LakeFilesBloomCommit(all, refs, Seq.empty, statsOut)
      }
    }
  }

  override def abort(): Unit = {
    sinks.values.foreach(_.abort())
    sinks.clear()
    closed.foreach { case (path, _) => Files.deleteIfExists(Paths.get(path)) }
    closed.clear()
    closedBlooms.clear()
    closedStats.clear()
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

  /** FileFormatWriter's VARIANT inference buffer
    * (ParquetOutputWriterWithVariantShredding): the shredding schema of
    * a file is inferred from its first 4096 rows or 64 MiB. */
  private val ShredBufferRows = 4096
  private val ShredBufferBytes = 64L << 20

  /** The builder's own properties, whose defaults otherwise fill the
    * only copy the writer reads — `estimateRowCountForPageSizeCheck`
    * has no builder call. */
  private lazy val propsField = {
    val f = classOf[org.apache.parquet.hadoop.ParquetWriter.Builder[_, _]]
      .getDeclaredField("encodingPropsBuilder")
    f.setAccessible(true)
    f
  }

  /** Apply parquet write options as ParquetOutputFormat reads them
    * from a FileFormatWriter job conf: `ParquetWriter.Builder` reads no
    * `parquet.*` key from its conf, so each key maps to its builder
    * call — block and page size, dictionary, writer version, the
    * page-size-check estimate, per-column (`key#column`) bloom filter
    * enablement, NDV and FPP; `compression` / `parquet.compression`
    * set the codec. Other keys reach only the write support's conf. */
  private def applyOptions(b: Builder, options: Map[String, String])
      : Builder = {
    import org.apache.parquet.hadoop.ParquetOutputFormat._
    def column(key: String, prefix: String): Option[String] =
      Some(key.stripPrefix(prefix + "#")).filter(_ => key.startsWith(prefix + "#"))
    options.foreach { case (k, v0) =>
      val v = v0.trim
      k match {
        case BLOCK_SIZE => b.withRowGroupSize(v.toLong)
        case PAGE_SIZE => b.withPageSize(v.toInt)
        case ENABLE_DICTIONARY => b.withDictionaryEncoding(v.toBoolean)
        case WRITER_VERSION => b.withWriterVersion(
          org.apache.parquet.column.ParquetProperties.WriterVersion.fromString(v))
        case ESTIMATE_PAGE_SIZE_CHECK =>
          propsField.get(b).asInstanceOf[
            org.apache.parquet.column.ParquetProperties.Builder]
            .estimateRowCountForPageSizeCheck(v.toBoolean)
        case "compression" | COMPRESSION => b.withCompressionCodec(
          if (v.equalsIgnoreCase("none"))
            org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED
          else org.apache.parquet.hadoop.metadata.CompressionCodecName
            .fromConf(v.toUpperCase(java.util.Locale.ROOT)))
        case _ =>
          column(k, BLOOM_FILTER_ENABLED).foreach(
            b.withBloomFilterEnabled(_, v.toBoolean))
          column(k, BLOOM_FILTER_EXPECTED_NDV).foreach(
            b.withBloomFilterNDV(_, v.toLong))
          column(k, BLOOM_FILTER_FPP).foreach(
            b.withBloomFilterFPP(_, v.toDouble))
      }
    }
    b
  }

  /** Per-task bound on bloom blobs riding the commit message instead
    * of a task-written container: a routine lifecycle write's blobs
    * are 128 B – a few KB per (file, column) (a ~10k-row file's is
    * 16 KiB), so they fold into ONE driver-written container like the
    * r17 small-delta layout; a compaction task's MaxBits blobs blow
    * the bound and write executor-side — blob bytes never accumulate
    * on the driver proportionally to file count.
    */
  val ShipBloomBytes: Long = 64L << 10
}
