package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.LakeTable

/** A timed interval of the traced run: ms since the run's origin, the
  * span that caused it (`parent`, -1 for an op's root span) and the op it
  * belongs to (`op`, -1 for the end-of-run checks).
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, op: Int) {
  def durMs: Double = endMs - startMs
}

/** One traced op: its class and the change of every counter between its
  * start and its end. */
final case class OpTrace(cls: String, counters: Map[String, Double]) {
  def apply(k: String): Double = counters.getOrElse(k, 0.0)
}

/** Tracing for `--trace 1`, all from outside the engine: spans the harness
  * opens around each of its calls into a layer; a SparkListener (jobs,
  * tasks) and a QueryExecutionListener (the planning phases of every
  * executed query, the engine's own included); Hadoop's global storage
  * statistics; `/proc/self/io`; the GC and allocation MXBeans; and a diff
  * of the warehouse after each op. Probes run between ops, after the op's
  * clock has stopped, and their time is summed as the tracing overhead.
  * With tracing off every entry point is a no-op.
  */
object Trace {
  @volatile var on = false

  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  private def fromEpoch(t: Long): Double = (t - originEpochMs).toDouble

  private val ids = new AtomicInteger()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil // the client thread's open spans
  @volatile private var opId = -1
  @volatile private var opRoot = -1

  private def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Counters only spans add to, read at op boundaries. */
  private val spanCounts = mutable.Map[String, Double]().withDefaultValue(0.0)

  /** Time `body` as a span named `name`, a child of the open span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        record(Span(id, name, t0, t1, parent, opId))
        spanCounts(s"${name}_ms") += t1 - t0
        spanCounts(s"${name}_calls") += 1
      }
    }

  /** `LakeTable.load` as a `lake.load` span; afterwards, off the span's
    * clock, count the bytes of the metadata document the load parsed:
    * the version hint and the `v<N>.json` it points at. */
  def load(body: => LakeTable): LakeTable = {
    val t = span("lake.load")(body)
    if (on) {
      val t0 = nowMs
      val meta = t.location.resolve("metadata")
      val hint = meta.resolve("version-hint.text")
      val version = Files.readString(hint).trim
      spanCounts("load_metadata_bytes") +=
        Files.size(hint) + Files.size(meta.resolve(s"v$version.json"))
      spanCounts("probe_ms") += nowMs - t0
    }
    t
  }

  // ---- counters fed by the listeners, on the listener bus thread ----

  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counts.synchronized { counts(k) += v }
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private object Listener extends SparkListener with QueryExecutionListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      counts.synchronized { jobStarts(e.jobId) = e.time }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = counts.synchronized {
        val s = jobStarts.remove(e.jobId).getOrElse(e.time)
        jobIntervals += ((s, e.time))
        s
      }
      record(Span(ids.getAndIncrement(), "spark.job", fromEpoch(start),
        fromEpoch(e.time), opRoot, opId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("sched_delay_ms", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime).toDouble)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        val in = m.inputMetrics
        add("scan_records", in.recordsRead.toDouble)
        add("scan_bytes", in.bytesRead.toDouble)
        if (in.recordsRead > 0 || in.bytesRead > 0) add("scan_tasks", 1)
      }
    }

    private def query(qe: QueryExecution): Unit = {
      add("statements", 1)
      val phases = qe.tracker.phases
      Seq("parsing" -> "parse", "analysis" -> "analyze",
          "optimization" -> "optimize", "planning" -> "plan")
        .foreach { case (phase, key) =>
          phases.get(phase).foreach { p =>
            add(s"${key}_ms", p.durationMs.toDouble)
            add(s"${key}_n", 1)
            record(Span(ids.getAndIncrement(), s"sql.$key",
              fromEpoch(p.startTimeMs), fromEpoch(p.endTimeMs), opRoot, opId))
          }
        }
    }

    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = query(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = query(qe)
  }

  private var spark: SparkSession = _
  private var warehouse: Path = _

  def install(session: SparkSession, wh: String): Unit = {
    spark = session
    warehouse = Paths.get(wh)
    session.sparkContext.addSparkListener(Listener)
    session.listenerManager.register(Listener)
    files = walk()
    on = true
  }

  // ---- process counters ----

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** Bytes allocated by the live threads. (Spark's task threads are
    * pooled, so a thread that ends inside an op is rare.) */
  private def allocBytes: Double =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum.toDouble

  /** rchar and wchar of this process: every read and write call, page
    * cache hits included. */
  private def procIo: Map[String, Double] =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala.flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) if k == "rchar" || k == "wchar" => Some(s"io_$k" -> v.trim.toDouble)
        case _ => None
      }
    }.toMap
    catch { case _: java.io.IOException => Map.empty }

  /** Bytes through Hadoop file systems. */
  private def hadoopIo: Map[String, Double] = {
    var read, write = 0.0
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
      .asScala.foreach(_.getLongStatistics.asScala.foreach { s =>
        s.getName match {
          case "bytesRead" => read += s.getValue
          case "bytesWritten" => write += s.getValue
          case _ => ()
        }
      })
    Map("hadoop_read_bytes" -> read, "hadoop_write_bytes" -> write)
  }

  private def snapshot(): Map[String, Double] =
    counts.synchronized(counts.toMap) ++ spanCounts.toMap ++ procIo ++ hadoopIo ++
      Map("gc_ms" -> gcMs, "alloc_bytes" -> allocBytes)

  // ---- the warehouse after each op ----

  private var files = Map.empty[Path, Long]

  private def walk(): Map[Path, Long] =
    if (!Files.isDirectory(warehouse)) Map.empty
    else scala.util.Using.resource(Files.walk(warehouse)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
    }

  /** Files the op left that were not there before it, by kind, and the
    * growth of the warehouse in bytes. */
  private def warehouseDiff(): Map[String, Double] = {
    val now = walk()
    val added = now.keySet -- files.keySet
    val diff = Map(
      "files_written" -> added.size.toDouble,
      "metadata_versions" -> added.count(p =>
        p.getFileName.toString.matches("v\\d+\\.json")).toDouble,
      "bytes_written" -> (now.values.sum - files.values.sum).toDouble)
    files = now
    diff
  }

  // ---- op boundaries ----

  private val traces = mutable.ArrayBuffer[OpTrace]()
  def opTraces: Seq[OpTrace] = traces.toList

  private var before: Map[String, Double] = Map.empty
  private var cls = ""
  private var userBytes = 0L
  private var opStartEpoch = 0L
  private var rootStart = 0.0
  private var overheadMs = 0.0

  /** Drain the listener bus, take the counters and open the op's root span. */
  def opStart(op: Int, opCls: String, opUserBytes: Long): Unit = if (on) {
    val t0 = nowMs
    org.apache.spark.LakeBenchBus.drain(spark.sparkContext)
    before = snapshot()
    counts.synchronized { jobIntervals.clear() }
    opId = op
    opRoot = ids.getAndIncrement()
    stack = List(opRoot)
    cls = opCls
    userBytes = opUserBytes
    overheadMs = nowMs - t0
    opStartEpoch = System.currentTimeMillis()
    rootStart = nowMs
  }

  /** Close the op's root span, drain the bus, and keep the op's counter
    * changes: every counter, the warehouse diff, the driver's self time
    * (wall time no job was running) and the probe time around the op. */
  def opEnd(wallMs: Double): Unit = if (on) {
    val endEpoch = System.currentTimeMillis()
    record(Span(opRoot, s"op.$cls", rootStart, nowMs, -1, opId))
    val t0 = nowMs
    org.apache.spark.LakeBenchBus.drain(spark.sparkContext)
    val after = snapshot()
    val covered = counts.synchronized(Stats.covered(
      jobIntervals.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) },
      opStartEpoch.toDouble, endEpoch.toDouble))
    val deltas = (before.keySet ++ after.keySet).map { k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
    }.toMap
    val diff = warehouseDiff()
    stack = Nil
    opRoot = -1
    overheadMs += nowMs - t0 + deltas.getOrElse("probe_ms", 0.0)
    traces += OpTrace(cls, deltas ++ diff ++ Map(
      "user_bytes" -> userBytes.toDouble,
      "driver_self_ms" -> math.max(0.0, wallMs - covered),
      "trace_overhead_ms" -> overheadMs))
    opId = -1
  }

  /** Rows the last op returned to the client. */
  def returned(rows: Long): Unit = if (on && traces.nonEmpty) {
    val t = traces.last
    traces(traces.size - 1) = t.copy(counters = t.counters + ("rows_returned" -> rows.toDouble))
  }

  /** A read of the end-of-run checks, traced like an op (id -1, class
    * `check_read`) but kept apart from the timed ops: lambda_replay's
    * timed sequence has no reads, and its checks are where it reads. */
  def checkRead[A](rows: A => Long)(body: => A): A =
    if (!on) body
    else {
      opStart(-1, "check_read", 0L)
      val t0 = System.nanoTime()
      val a = body
      opEnd((System.nanoTime() - t0) / 1e6)
      val t = traces.remove(traces.size - 1)
      checkTraces += t.copy(counters = t.counters + ("rows_returned" -> rows(a).toDouble))
      a
    }
  private val checkTraces = mutable.ArrayBuffer[OpTrace]()
  def checkReads: Seq[OpTrace] = checkTraces.toList

  def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.startMs).foreach { s =>
      sb ++= f"""{"id":${s.id},"name":"${s.name}","start":${s.startMs}%.3f,""" +
        f""""end":${s.endMs}%.3f,"parent":${s.parent},"op":${s.op}}""" + "\n"
    }
    Files.writeString(path, sb.toString)
  }
}
