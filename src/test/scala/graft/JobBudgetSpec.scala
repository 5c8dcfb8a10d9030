package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Host-invariant regression pins for the r12 publication-path
  * overhaul: wall-clock on this box swings ±15-20% run-to-run, so the
  * lifecycle-overhead wins are pinned as SPARK JOB COUNTS instead —
  * a deterministic property of the plans. Budgets carry slack of 1-2
  * jobs over the measured counts; a regression that re-introduces a
  * per-statement scan, checkpoint, or read-back blows well past them.
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var prev = -1
      var cur = jobs.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = jobs.get }
      (r, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def vsql(q: String) =
    org.apache.spark.sql.GraftViewSubstitution.sql(spark, q)

  test("a bounded keyed MoR delete is metadata-only: ZERO Spark jobs") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-jobs-del").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
        .stripMargin)
    LakeTable.load(wh, "d", "t")
      .append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val t = LakeTable.load(wh, "d", "t")
    val (_, jobs) = countJobs {
      t.deleteByKeysMoR(spark, Seq(2L).toDF("k"))
    }
    assert(jobs == 0,
      s"a tiny keyed delete must publish without Spark jobs, got $jobs")
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 2L)
  }

  test("a bounded local upsertWithDeletesMoR publishes in ZERO jobs " +
      "and ONE snapshot") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-jobs-ups").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
        .stripMargin)
    LakeTable.load(wh, "d", "t")
      .append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val t = LakeTable.load(wh, "d", "t")
    val before = t.metadata.snapshots.size
    val (_, jobs) = countJobs {
      // markers strike keys 1,2,3; rows re-add only 1 and 2 → 3 dies
      t.upsertWithDeletesMoR(spark,
        Seq((1L, "A"), (2L, "B")).toDF("k", "v"),
        Seq(1L, 2L, 3L).toDF("k"))
    }
    assert(jobs == 0,
      s"a bounded local publication must not launch jobs, got $jobs")
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.snapshots.size == before + 1, "ONE snapshot")
    assert(t2.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "A"), (2L, "B")))
  }

  test("a merge-on-read MERGE of a driver-resident source runs ONE job " +
      "and writes one delete file, one file of updated copies and one " +
      "of inserts") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-jobs-mrg").toString
    // the scan runs as a job (driver decode off; LocalScanSpec covers
    // the same merge decoding on the driver, in no job)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}"""
        .stripMargin)
    // several data files, a scan of several tasks: the delete output
    // must not follow the scan's packing
    (0 until 4).foreach(i => LakeTable.load(wh, "d", "t").append(
      (1L to 50L).map(k => (i * 100L + k, s"v$k")).toDF("k", "v")
        .repartition(2)))
    val t = LakeTable.load(wh, "d", "t")
    val src = (Seq(5L, 120L, 230L, 349L).map(k => (k, s"u$k")) ++
      Seq((900L, "new"), (901L, "new"))).toDF("k", "v")
    // two data files, not one: the inserts (new keys past the table's)
    // keep a file of their own whose narrow min/max later reads prune
    // by. Written as one file of both, the traced cdc_upsert workload
    // decodes 17,279 records per op instead of about 16,690 (seeds 7,
    // 8 and 9 alike).
    val (snap, jobs) = countJobs(t.mergeMoR(spark, src, Seq("k")))
    assert(jobs == 1, s"one scan job, got $jobs")
    assert(snap.get.deletePaths.size == 1, "one position-delete file")
    assert(snap.get.deleteCounts.values.sum == 4L)
    assert(snap.get.files.map(_.rows).sorted == Seq(2L, 4L),
      "one file of the 4 updated copies, one of the 2 inserts")
    val got = LakeTable.load(wh, "d", "t").read(spark)
      .filter($"k".isin(5L, 120L, 230L, 349L, 900L, 901L, 6L))
      .as[(Long, String)].collect().toSet
    assert(got == Set((5L, "u5"), (120L, "u120"), (230L, "u230"),
      (349L, "u349"), (900L, "new"), (901L, "new"), (6L, "v6")))
  }

  test("a bounded incremental MV refresh (touched-group recompute) " +
      "stays inside a tight job budget") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-jobs-mv").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"g","data_type":"long"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}"""
        .stripMargin)
    LakeTable.load(wh, "d", "src").append(
      (1L to 200L).map(i => (i % 10, i)).toDF("g", "x"))
    spark.conf.set("spark.sql.catalog.gjb", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gjb.warehouse", wh)
    // MIN routes every non-append range to the touched-group recompute
    vsql("CREATE MATERIALIZED VIEW gjb.d.roll AS " +
      "SELECT g, count(*) AS n, min(x) AS mn FROM gjb.d.src GROUP BY g")
      .collect()
    LakeTable.load(wh, "d", "src").append(
      Seq((1L, 1000L), (2L, 2000L)).toDF("g", "x"))
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("x") === 5L)
    val (_, jobs) = countJobs {
      vsql("REFRESH MATERIALIZED VIEW gjb.d.roll INCREMENTAL").collect()
    }
    // measured 2026-08: 6 jobs (changelog+touched collect, recompute
    // agg collect, MoR-delete read legs, marker probes); budget 10.
    // The r11 path ran 18 — a re-introduced dead-set anti-join,
    // existence count, per-statement checkpoint, or bloom read-back
    // lands well past the budget.
    assert(jobs <= 10,
      s"bounded incremental refresh must stay <= 10 jobs, got $jobs")
    val got = vsql("SELECT g, n, mn FROM gjb.d.roll ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = vsql("SELECT g, count(*) AS n, min(x) AS mn " +
      "FROM gjb.d.src GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq, "refresh must stay exact")
  }

  /** Spark jobs this thread launches inside `body`, counted by job
    * group (suites share the session, so a global count would race),
    * plus the last plan of every SQL execution those jobs ran under
    * (adaptive re-plans replace the initial one).
    */
  private def jobsAndPlans(body: => Unit)
      : (Int, Seq[org.apache.spark.sql.execution.SparkPlanInfo]) = {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val group = s"jobs-plans-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long,
      org.apache.spark.sql.execution.SparkPlanInfo]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          Option(j.properties.getProperty("spark.sql.execution.id"))
            .foreach(id => execIds.add(id.toLong))
        }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.putIfAbsent(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ => ()
      }
    }
    // the listener bus is async: a stable count over consecutive polls
    def quiesce(): Int = {
      var stable = 0; var prev = jobs.get
      while (stable < 3) {
        Thread.sleep(30)
        val cur = jobs.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "job and plan pins")
    try {
      body
      val n = quiesce()
      (n, execIds.asScala.toSeq.sorted.flatMap(id => Option(plans.get(id))))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("an incremental refresh over a MoR merge and delete plans its " +
      "changelog as ONE scan: no join, no broadcast, pinned jobs") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-jobs-cl").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"clsrc","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"g","data_type":"string"},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    def rows(r: Seq[(Long, String, Double)]) = r.toDF("k", "g", "amt")
      .select(col("k"), col("g"), col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "clsrc").append(
      rows((1L to 120L).map(i => (i, s"g${i % 4}", i * 0.5))))
    spark.conf.set("spark.sql.catalog.gjcl", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gjcl.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gjcl.d.roll AS SELECT g, count(*) AS n, " +
      "sum(amt) AS s FROM gjcl.d.clsrc GROUP BY g").collect()
    // the source and the backing table keep their scans distributed
    // (driver decode off): the plans and jobs below are the scans'
    LakeTable.load(wh, "d", "__mat_roll").updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    // a MoR merge (position deletes + inserts) and a MoR delete
    LakeTable.load(wh, "d", "clsrc").mergeMoR(spark,
      rows(Seq((3L, "g1", 99.0), (500L, "g9", 1.0))), Seq("k"))
    LakeTable.load(wh, "d", "clsrc").deleteMoR(spark,
      col("k").between(10L, 19L))
    val (jobs, plans) = jobsAndPlans {
      vsql("REFRESH MATERIALIZED VIEW gjcl.d.roll INCREMENTAL").collect()
    }
    def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo)
        : Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
      p +: p.children.flatMap(nodes)
    def changelogScan(n: org.apache.spark.sql.execution.SparkPlanInfo) =
      n.nodeName.startsWith("BatchScan") &&
        n.simpleString.contains("graft.d.clsrc") &&
        n.simpleString.contains("_change_type")
    val deltaPlans = plans.filter(p => nodes(p).exists(changelogScan))
    assert(deltaPlans.size == 1,
      s"one execution reads the changelog, got ${deltaPlans.size}")
    val delta = nodes(deltaPlans.head)
    assert(delta.count(changelogScan) == 1,
      "the changelog plans as ONE scan:\n" +
        delta.map(_.nodeName).mkString(", "))
    assert(!delta.exists(n => n.nodeName.contains("Join") ||
        n.nodeName.contains("BroadcastExchange")),
      "no join and no broadcast under the delta aggregate: " +
        delta.map(_.nodeName).mkString(", "))
    assert(delta.exists(_.nodeName.contains("HashAggregate")))
    // measured: 5 jobs. The semi-join changelog ran 7: one broadcast
    // job per position-delete snapshot, for its (path, pos) build side
    assert(jobs == 5, s"refresh jobs: $jobs")
    val got = vsql("SELECT g, n, CAST(s AS STRING) FROM gjcl.d.roll " +
      "ORDER BY g").collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2))).toSeq
    val want = vsql("SELECT g, count(*), CAST(sum(amt) AS STRING) FROM " +
      "gjcl.d.clsrc GROUP BY g ORDER BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, "refresh must stay exact")
  }
}
