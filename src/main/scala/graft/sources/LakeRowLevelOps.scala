package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.LakeTable

/** Group-based (copy-on-write) row-level operations: the hook behind
  * SQL `UPDATE graft.db.t SET …` and `MERGE INTO graft.db.t …`.
  *
  * Spark's rewrite rules plan these as ReplaceData: the operation's
  * SCAN reads the groups (files) that may contain matches — narrowed
  * by the engine's stats pruning and, when Spark applies runtime group
  * filtering, by join-produced filters — the updated/merged rows are
  * recomputed, and the operation's WRITE writes the replacement rows.
  * commit() swaps exactly the scanned files for the written ones in a
  * single "overwrite" snapshot, so concurrent readers see either the
  * old or the new state, never a mix. abort() deletes staged files.
  */
private[sources] class LakeRowLevelOperation(wh: String, db: String,
    tbl: String, cmd: RowLevelOperation.Command) extends RowLevelOperation {

  // Handle captured at operation creation: its optimistic-concurrency
  // baseline makes commit() throw ConcurrentModificationException if
  // another writer commits between scan and rewrite (instead of
  // silently resurrecting concurrently deleted rows).
  private val table = LakeTable.load(wh, db, tbl)

  // the group: files the operation's scan planned (set on the driver
  // during planInputPartitions, read at commit). Spark's runtime group
  // filtering builds its subquery from the TABLE relation, not this
  // operation, so only the main ReplaceData scan reports here; if a
  // second op-scan ever appears, the main scan plans last (subqueries
  // execute before the main stage) and last-write-wins stays correct.
  @volatile private var scannedPaths: Seq[String] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake $cmd"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(wh, db, tbl, 0L, table.currentSchema,
      onPlanned = files => scannedPaths = files.map(_.path),
      rowLevelOp = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          private val (writtenSchemaId, writtenSpecId, partPlan, stage) = {
            val plan = LakeStreamingWrite.writePlan(
              table, info.schema(): StructType)
            (table.metadata.currentSchemaId, table.metadata.currentSpecId,
              plan,
              LakeTable.tableLocation(wh, db, tbl).resolve("data")
                .resolve(s"rewrite-${java.util.UUID.randomUUID()
                  .toString.take(8)}").toString)
          }

          override def createBatchWriterFactory(
              pInfo: PhysicalWriteInfo): DataWriterFactory =
            new LakeBatchWriterFactory(stage, info.schema(), partPlan)

          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val files = messages.collect {
              case LakeFilesCommit(fs) => fs
            }.flatten.toSeq
            // no-op statement (nothing scanned, nothing written):
            // don't burn a metadata version on an empty snapshot
            if (files.isEmpty && scannedPaths.isEmpty) return
            table.commitExternalFiles(
              files, writtenSchemaId, writtenSpecId,
              operation = "overwrite", removedPaths = scannedPaths)
            ()
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit =
            messages.collect { case LakeFilesCommit(fs) => fs }.flatten
              .foreach { case (p, _) =>
                val path = Paths.get(p)
                Files.deleteIfExists(path)
                Files.deleteIfExists(path.getParent.resolve(
                  "." + path.getFileName.toString + ".crc"))
              }
        }
      }
    }
  }
}

private[sources] class LakeBatchWriterFactory(stageDir: String,
    schema: StructType, partPlan: WritePlan) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new LakeParquetDataWriter(stageDir, schema, partPlan,
      s"rw-$partitionId-$taskId")
}

/** Delta-based (merge-on-read) row-level operations — SQL
  * UPDATE/MERGE/DELETE when the table sets
  * write.update.mode / write.merge.mode / write.delete.mode to
  * "merge-on-read".
  *
  * Spark plans these as WriteDelta keyed on the rowId columns
  * (_graft_file, _graft_pos): the scan emits live rows with their row
  * identity, matched rows arrive at the writers as DELETE (+ INSERT
  * for updates, `representUpdateAsDeleteAndInsert`), and commit()
  * registers the tasks' deleted positions (one position-delete file or
  * deletion-vector container for the commit) plus the delta data files
  * as ONE snapshot. Write cost scales with the matched delta — no
  * target file is rewritten.
  */
private[sources] class LakeDeltaOperation(wh: String, db: String,
    tbl: String, cmd: RowLevelOperation.Command) extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  private val table = LakeTable.load(wh, db, tbl)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-lake $cmd (merge-on-read)"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(LakeSource.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(LakeSource.PosMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(wh, db, tbl, 0L, table.currentSchema,
      rowLevelOp = true)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new LakeDeltaBatchWrite(wh, db, tbl, table, info.schema())
        }
    }
}

private[sources] class LakeDeltaBatchWrite(wh: String, db: String,
    tbl: String, table: LakeTable, rowSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val (writtenSchemaId, writtenSpecId, partPlan, stage) = {
    val plan = LakeStreamingWrite.writePlan(table, rowSchema)
    (table.metadata.currentSchemaId, table.metadata.currentSpecId, plan,
      LakeTable.tableLocation(wh, db, tbl).resolve("data")
        .resolve(s"delta-${java.util.UUID.randomUUID().toString.take(8)}")
        .toString)
  }

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new LakeDeltaWriterFactory(stage, rowSchema, partPlan)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case c: LakeDeltaCommit => c }
    table.commitExternalDelta(
      dataFiles = parts.flatMap(_.dataFiles).toSeq,
      positions = graft.lake.DeletionVectors.union(
        parts.iterator.flatMap(_.positions)),
      writtenSchemaId = writtenSchemaId, writtenSpecId = writtenSpecId)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case c: LakeDeltaCommit => c }.foreach { c =>
      c.dataFiles.map(_._1).foreach { p =>
        val path = Paths.get(p)
        Files.deleteIfExists(path)
        Files.deleteIfExists(path.getParent.resolve(
          "." + path.getFileName.toString + ".crc"))
      }
    }
}

/** One delta task's output: its data files, and its deleted positions
  * as one serialized bitmap per data file. */
private[sources] case class LakeDeltaCommit(
    dataFiles: Seq[(String, Map[String, String])],
    positions: Seq[(String, Array[Byte])]) extends WriterCommitMessage

private[sources] class LakeDeltaWriterFactory(stageDir: String,
    rowSchema: StructType, partPlan: WritePlan)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new LakeDeltaWriter(stageDir, rowSchema, partPlan,
      s"d-$partitionId-$taskId")
}

/** Per-task delta writer: INSERTs stream into partitioned data files
  * (the shared parquet writer), DELETEs fold into one bitmap per data
  * file that rides the commit message — the task writes no delete file.
  */
private[sources] class LakeDeltaWriter(stageDir: String,
    rowSchema: StructType, partPlan: WritePlan, tag: String)
    extends org.apache.spark.sql.connector.write.DeltaWriter[
      org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow

  private val dataWriter =
    new LakeParquetDataWriter(stageDir, rowSchema, partPlan, s"ins-$tag")
  private val positions = new graft.lake.DeletionVectors.Positions

  // id = (_graft_file: plain path string, _graft_pos: long)
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    positions.add(id.getUTF8String(0), id.getLong(1))

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = dataWriter.commit() match {
    case LakeFilesCommit(fs) => LakeDeltaCommit(fs, positions.serialized)
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override def abort(): Unit = dataWriter.abort()
  override def close(): Unit = dataWriter.close()
}
