package graft.sources

import java.util.concurrent.{CompletableFuture, CompletionException,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, DynamicPruning, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.StructType

/** Driver-resident small scans: a lake batch scan whose planned input
  * is at most the table's `read.local-scan.max-bytes` (and whose rows
  * decode to a bounded size, [[fits]]) becomes a
  * `LocalRelation`, its rows decoded on the driver by the scan's own
  * readers ([[decode]]), and the Project / Filter / Limit above it fold
  * into it (`ConvertToLocalRelation`) — collecting such a read runs no
  * Spark job, and a write of it runs on the driver
  * ([[graft.lake.LakeTable.localRows]]).
  *
  * The rule runs in the session's user-provided optimizer batch, so
  * after `V2ScanRelationPushDown` (the bound sees the files left after
  * filter and column pushdown) and after the batch that folds local
  * relations, which it therefore applies itself. Every session that
  * builds a [[LakeSparkTable]] installs it ([[install]]). What stays
  * distributed: streaming scans (never a `DataSourceV2ScanRelation`),
  * the group scans of SQL row-level operations, the target of a
  * metadata-only DELETE, scans a dynamic pruning filter targets (the
  * filter is planned into the scan), and anything over the bound.
  *
  * Cost: under the bound, physical planning (and so `EXPLAIN`) decodes
  * the files; the bound caps it.
  */
private[graft] object LakeLocalScan extends Rule[LogicalPlan] {

  /** The table property holding the bound, in bytes of planned data
    * files; 0 keeps every scan of the table distributed. */
  val MaxBytesProperty = "read.local-scan.max-bytes"

  /** The threads a driver decode runs on: the driver's cores. */
  val DecodeThreads: Int = Runtime.getRuntime.availableProcessors

  /** The default bound: 1 MiB of planned parquet per decode thread. A
    * driver decode saves one job's fixed cost, and the bytes that cost
    * would decode grow with the threads decoding them; on a 4-vCPU host
    * the crossover against a `local[4]` job sat between 3.4 and 6.3 MB
    * (README "Driver-resident small scans"). */
  val DefaultMaxBytes: Long = (1L << 20) * DecodeThreads

  /** The rows decoded under the bound may take at most this many times
    * its bytes, estimated as the planned files' row counts times the
    * read schema's default row size: a dictionary- or run-length-encoded
    * column decodes to many times its parquet bytes, and the decoded
    * rows are held on the driver. */
  val DecodedPerPlannedByte = 8

  def maxBytes(props: Map[String, String]): Long =
    props.get(MaxBytesProperty).flatMap(_.trim.toLongOption)
      .getOrElse(DefaultMaxBytes)

  /** Whether files of these sizes and row counts, read under `schema`,
    * decode on the driver under `bound`. */
  def fits(bound: Long, files: Seq[graft.lake.DataFileMeta],
      schema: StructType): Boolean =
    bound > 0 && files.forall(f => f.bytes >= 0 && f.rows >= 0) &&
      files.map(_.bytes).sum <= bound &&
      BigInt(files.map(_.rows).sum) * (8 + schema.defaultSize) <=
        BigInt(bound) * DecodedPerPlannedByte

  // decode threads end after a minute idle, and, like task threads,
  // inherit no session or job group from the thread that started them
  private val pool = {
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val p = new ThreadPoolExecutor(DecodeThreads, DecodeThreads,
      60L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(null, r,
          s"graft-local-scan-${threads.incrementAndGet()}", 0L, false)
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this))
      ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    def local(r: LogicalPlan): Boolean = r match {
      case DataSourceV2ScanRelation(_, s: LakeScan, _, _, _) => s.driverResident
      case _ => false
    }
    if (!plan.exists(local)) return plan
    val pruned = AttributeSet(plan.flatMap(_.expressions.flatMap(
      _.collect { case d: DynamicPruning => d.references })).flatten)
    // a metadata-only DELETE's target is planned as the relation it is
    val targets = plan.collect { case d: DeleteFromTable => d.table }
      .flatMap(_.collectLeaves())
    val swapped = plan.transformUp {
      case r @ DataSourceV2ScanRelation(_, s: LakeScan, output, _, _)
          if local(r) && !output.exists(pruned.contains) &&
            !targets.exists(_ eq r) =>
        LocalRelation(output, decode(s))
    }
    var folded = swapped
    var prev: LogicalPlan = null
    while (prev == null || !prev.fastEquals(folded)) {
      prev = folded
      folded = ConvertToLocalRelation(folded)
    }
    folded
  }

  /** The rows of `scan`, decoded on the driver: its own planned input
    * partitions through its own reader factory, so deletes, deletion
    * vectors, equality batches, schema mapping and the pushed ranges'
    * row-group skipping apply as in tasks. Columnar batches are copied
    * to rows. A packed partition's files decode one by one, the files
    * in parallel on at most [[DecodeThreads]] threads (a file's open and
    * footer read dominate a small decode), and their rows concatenate in
    * plan order. A pinned read keeps the rows per file, so a Dataset
    * derived from it (re-optimized, so re-planned) decodes no file twice.
    */
  def decode(scan: LakeScan): Seq[InternalRow] = {
    val batch = scan.toBatch
    val factory = batch.createReaderFactory()
    // every level nullable: a cell the declared schema calls required can
    // still read null (a nested field added after the file was written)
    val schema = LakeSource.asNullable(scan.readSchema())
    def drain[T](r: PartitionReader[T])(rows: T => Iterator[InternalRow])
        : IndexedSeq[InternalRow] = {
      val toUnsafe = UnsafeProjection.create(schema)
      val out = IndexedSeq.newBuilder[InternalRow]
      try while (r.next()) rows(r.get()).foreach(x => out += toUnsafe(x).copy())
      finally r.close()
      out.result()
    }
    def read(p: InputPartition): IndexedSeq[InternalRow] =
      if (factory.supportColumnarReads(p))
        drain(factory.createColumnarReader(p))(_.rowIterator().asScala)
      else drain(factory.createReader(p))(Iterator.single)
    def cached(p: InputPartition): IndexedSeq[InternalRow] = scan.pinned match {
      case Some(pin) => Option(pin.decoded.get(p)).getOrElse {
        val rows = read(p)
        Option(pin.decoded.putIfAbsent(p, rows)).getOrElse(rows)
      }
      case None => read(p)
    }
    val units = batch.planInputPartitions().toSeq.flatMap {
      case mp: LakeMultiFilePartition => mp.parts
      case p => Seq(p)
    }
    if (units.size <= 1 || DecodeThreads <= 1) units.flatMap(cached)
    else units.map(u => CompletableFuture.supplyAsync(() => cached(u), pool))
      .flatMap { f =>
        // a reader's failure surfaces as itself, as it would from a task
        try f.join()
        catch { case e: CompletionException if e.getCause != null => throw e.getCause }
      }
  }
}
