package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** One client call of a workload's fixed sequence. `cls` is its op class
  * (invocation, merge, delete, refresh, read, compact); `userBytes` the
  * size, as text, of the rows it submits. `call` is the timed part; `check`
  * runs after the clock stops and says whether the call's answer was right.
  */
final case class Op[A](cls: String, userBytes: Long, call: () => A,
    check: A => OpResult)
/** `rows`: rows the call returned to the client (reads only). */
final case class OpResult(ok: Boolean, rows: Long = 0)

object Op {
  /** A write whose only answer is that it did not throw. */
  def write[A](cls: String, userBytes: Long)(call: => A)(after: => Unit): Op[A] =
    Op[A](cls, userBytes, () => call, _ => { after; OpResult(ok = true) })
}

trait Workload {
  /** Build the tables the timed sequence starts from; part of set-up. */
  def build(): Unit
  /** Run the ops that precede the timed sequence; part of set-up. */
  def warmup(): Unit
  /** Length of the timed sequence for a run of about `seconds` on a
    * 4-vCPU host: always a whole number of the workload's periods, and a
    * function of `seconds` alone, never of how fast the host is. */
  def timedOps(seconds: Double): Int
  /** The i-th op of the timed sequence, built when it is next to run. */
  def op(i: Int): Op[_]
  /** End-of-run checks of the stored state; returns the failures. */
  def verify(): Seq[String]
  /** Rows the workload's tables hold after the timed sequence. */
  def liveRows: Long
  /** The (database, table) pairs whose files the workload leaves. */
  def tables: Seq[(String, String)]
}

/** The closed-loop benchmark. One client thread in one JVM, Spark in local
  * mode: build the workload's tables, warm up, run the workload's fixed
  * timed sequence op after op, then measure the stored outcome, check it,
  * and print one JSON line. `--trace 1` also records spans and per-layer
  * counters (see [[Trace]]); all of their probes run between ops, outside
  * op timings.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    val wh = out.resolve("warehouse").toString
    SetupSteps.add("jvm", sinceStart())
    val loadBefore = Host.loadAvg()
    // compiled now, while the JIT's queue is empty, so that the later
    // readings time the host rather than the compiler's backlog
    val kernelStart = SetupSteps("kernel")(Host.kernelMs())

    val spark = SetupSteps("session")(SparkSession.builder()
      .master(s"local[${Main.cores}]")
      .appName(s"lakebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Main.cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
      .config("spark.sql.catalog.lake.warehouse", wh)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    val w: Workload = workload match {
      case "lambda_replay" => new LambdaReplay(spark, wh, seed)
      case "cdc_upsert" => new CdcUpsert(spark, wh, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    SetupSteps("tables")(w.build())
    SetupSteps("warmup")(w.warmup())
    val n = w.timedOps(seconds)
    // set-up without the host probe
    val setupS = sinceStart() - SetupSteps.steps("kernel")
    if (traced) Trace.install(spark, wh)

    // ---- the timed sequence: ops 0 until n, every one of them ----
    val kernelBefore = Host.kernelMs()
    val ticksBefore = Host.cpuTicks()
    val lat = mutable.ArrayBuffer[(String, Double)]()
    var failed = 0
    for (i <- 0 until n) {
      val op = w.op(i)
      val (ok, ms) = runOp(i, op)
      if (!ok) failed += 1
      lat += op.cls -> ms
    }
    val ticksAfter = Host.cpuTicks()
    val kernelAfter = Host.kernelMs()
    val timedS = lat.map(_._2).sum / 1000

    // ---- the stored outcome, measured after the sequence ----
    val t0 = System.nanoTime()
    val whBytes = Outcome.dirBytes(Paths.get(wh))
    val files = w.tables.map { case (db, t) => Outcome.lakeFiles(wh, db, t) }.sum
    val heapLive = Host.liveHeapMb()
    val outcomeS = (System.nanoTime() - t0) / 1e9

    val problems = w.verify()
    Trace.on = false
    problems.foreach(p => System.err.println(s"[lakebench] wrong result: $p"))

    val e2e = Seq(
      "setup_s" -> ("s", setupS),
      "ops_per_s" -> ("1/s", n / timedS),
      "disk_bytes_per_row" -> ("B/row", whBytes.toDouble / w.liveRows),
      "data_files_per_krow" -> ("files/krow", files * 1000.0 / w.liveRows),
      "heap_live_mb" -> ("MB", heapLive))
    val layers =
      if (traced) Layers.metrics(Trace.opTraces, Trace.checkReads,
        heapLive, outcomeS * 1000 / n)
      else Seq.empty
    val correct = failed == 0 && problems.isEmpty

    // ---- the report: host, set-up steps, per-class latencies ----
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_cores" -> Main.cores.toString,
      "loadavg_before" -> Json.str(loadBefore),
      "loadavg_after" -> Json.str(Host.loadAvg()),
      "cpu_steal_share" -> Json.num(Host.stealShare(ticksBefore, ticksAfter)),
      "kernel_ms_start" -> Json.num(kernelStart),
      "kernel_ms_before" -> Json.num(kernelBefore),
      "kernel_ms_after" -> Json.num(kernelAfter),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} " +
        System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    val report = mutable.ArrayBuffer(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "host" -> Json.obj(host.toSeq),
      "setup_steps_s" -> Json.obj(SetupSteps.steps.map { case (k, v) => k -> Json.num(v) }.toSeq),
      "timed_ops" -> n.toString, "timed_s" -> Json.num(timedS),
      "outcome_probe_s" -> Json.num(outcomeS),
      "failed" -> failed.toString,
      "wrong_results" -> Json.arr(problems.map(Json.str)),
      "classes" -> Stats.classes(lat.toSeq),
      "op_ms" -> Json.arr(lat.map { case (c, ms) => Json.arr(Seq(Json.str(c), Json.num(ms))) }.toSeq),
      "end_to_end" -> Json.metrics(e2e))
    if (traced) {
      report += "layers" -> Json.metrics(layers)
      report += "layer_calls" -> Layers.calls(Trace.allSpans)
      Trace.writeSpans(out.resolve("spans.jsonl"))
    }
    Files.writeString(out.resolve("report.json"), Json.obj(report.toSeq) + "\n")

    spark.stop()
    println(s"""{"correct":$correct,"attempted":$n,"failed":$failed,""" +
      s""""metrics":${Json.metrics(if (traced) layers else e2e)}}""")
    System.exit(0)
  }

  /** Spark's local cores: fixed, so task counts do not depend on the host. */
  val cores = 4

  /** Run op i: time its call, then check the answer. */
  private def runOp[A](i: Int, op: Op[A]): (Boolean, Double) = {
    Trace.opStart(i, op.cls, op.userBytes)
    val t0 = System.nanoTime()
    val res = try Right(op.call()) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.opEnd(ms)
    val ok = res match {
      case Right(a) =>
        try {
          val r = op.check(a)
          Trace.returned(r.rows)
          if (!r.ok) System.err.println(s"[lakebench] op $i (${op.cls}) returned a wrong answer")
          r.ok
        } catch {
          case e: Exception =>
            System.err.println(s"[lakebench] op $i (${op.cls}) check failed: $e")
            false
        }
      case Left(e) =>
        System.err.println(s"[lakebench] op $i (${op.cls}) failed: $e")
        false
    }
    (ok, ms)
  }

  private def sinceStart(): Double = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** The durations of the set-up steps, in order. */
object SetupSteps {
  val steps = mutable.LinkedHashMap[String, Double]()
  def add(name: String, s: Double): Unit = steps(name) = s
  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }
}

/** Measures of the stored outcome. */
object Outcome {
  /** Bytes of every regular file under `p`. */
  def dirBytes(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Data and delete files the table's current snapshot references:
    * live data files, the position-delete files and deletion-vector
    * containers that still apply to them, and live equality-delete files. */
  def lakeFiles(wh: String, db: String, table: String): Int = {
    val snaps = LakeTable.load(wh, db, table).metadata.snapshots
    val deletes = LakeTable.liveDeletes(snaps).values
      .flatMap(d => d.paths ++ d.dv.map(_.dvPath)).toSet
    val eq = LakeTable.liveEqDeletes(snaps).flatMap(_.paths).toSet
    LakeTable.liveFiles(snaps).size + deletes.size + eq.size
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Per op class: the sample count, p50, and p90 when at least ten
    * samples lie above it (n >= 100). */
  def classes(lat: Seq[(String, Double)]): String =
    Json.obj(lat.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, xs) =>
      val v = xs.map(_._2)
      c -> Json.obj(Seq("n" -> v.size.toString,
        "p50_ms" -> Json.num(quantile(v, 0.5))) ++
        (if (v.size >= 100) Seq("p90_ms" -> Json.num(quantile(v, 0.9))) else Nil))
    })
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, (String, Double))]): String =
    obj(ms.map { case (n, (u, v)) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
