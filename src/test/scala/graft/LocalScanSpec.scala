package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}
import graft.sources.LakeLocalScan

/** Driver-resident small scans ([[LakeLocalScan]]): a lake read whose
  * planned input is at most the table's `read.local-scan.max-bytes`
  * decodes on the driver and runs no Spark job — catalog reads, the
  * merge-on-read row ops, compaction and the changelog and backing
  * reads of a refresh. The same ops on a table whose bound is 0 run
  * distributed, and so do streaming reads and SQL row-level operations
  * at any bound.
  */
class LocalScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // count ONLY this suite's jobs: suites share one session and run in
  // parallel, so a global count races concurrent suites' jobs. The job
  // group is a thread-local the engine's SQL executions propagate.
  private val group = s"local-scan-jobs-${java.util.UUID.randomUUID()}"
  private val jobs = new java.util.concurrent.atomic.AtomicInteger
  private lazy val listener = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
  // the listener bus is async: a stable count over consecutive polls
  private def quiesce(): Int = {
    var stable = 0; var prev = jobs.get
    while (stable < 3) {
      Thread.sleep(30)
      val cur = jobs.get
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
    prev
  }
  private def countJobs[T](f: => T): (T, Int) = {
    listener
    spark.sparkContext.setJobGroup(group, "local scan job count")
    try { val j0 = quiesce(); val r = f; (r, quiesce() - j0) }
    finally spark.sparkContext.clearJobGroup()
  }

  private def rows(n: Int, from: Long = 0L): DataFrame = {
    import SparkTestSession.spark.implicits._
    (0 until n).map(i => (from + i, s"v${from + i}", (from + i) * 0.5,
      ((from + i) % 3).toInt)).toDF("id", "v", "d", "g")
  }

  /** A table of 4 files, 400 rows, ids 0..399; `bound` sets the table's
    * driver-decode bound (None keeps the default). */
  private def mk(tag: String, bound: Option[Long],
      v3: Boolean = false): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-localscan-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"d","data_type":"double"},
        |{"column_name":"g","data_type":"int"}],"partitions":[]}"""
        .stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.updateProperties(
      (if (v3) Map("format-version" -> "3") else Map.empty[String, String]) ++
        bound.map(b => LakeLocalScan.MaxBytesProperty -> b.toString))
    (0 until 4).foreach(b =>
      LakeTable.load(wh, "d", "t").append(rows(100, b * 100L)))
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def catalog(name: String, wh: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$name.d.t"
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("the default bound is 1 MiB per decode thread; 0 or a junk value " +
      "parse as documented") {
    assert(LakeLocalScan.maxBytes(Map.empty) == LakeLocalScan.DefaultMaxBytes)
    assert(LakeLocalScan.DefaultMaxBytes ==
      (1L << 20) * Runtime.getRuntime.availableProcessors)
    assert(LakeLocalScan.maxBytes(
      Map(LakeLocalScan.MaxBytesProperty -> "0")) == 0L)
    assert(LakeLocalScan.maxBytes(
      Map(LakeLocalScan.MaxBytesProperty -> "lots")) ==
      LakeLocalScan.DefaultMaxBytes)
  }

  test("point and range reads through the catalog run no job under the " +
      "bound, and distributed with the bound at 0; same rows") {
    for ((tag, bound, local) <- Seq(("rd", None, true), ("rd0", Some(0L), false))) {
      val (wh, _) = mk(tag, bound)
      val t = catalog(s"gls$tag", wh)
      val point = spark.sql(s"SELECT * FROM $t WHERE id = 123")
      val range = spark.sql(s"SELECT id, v FROM $t WHERE id BETWEEN 150 AND 249")
      val (p, pj) = countJobs(point.collect())
      val (r, rj) = countJobs(range.collect())
      assert(p.map(_.getLong(0)).toSeq == Seq(123L))
      assert(p.head.getString(1) == "v123" && p.head.getDouble(2) == 61.5)
      assert(r.map(_.getLong(0)).toSeq.sorted == (150L to 249L))
      if (local) {
        assert(pj == 0 && rj == 0, s"jobs: point $pj, range $rj")
        assert(point.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        assert(range.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      } else assert(pj >= 1 && rj >= 1, s"jobs: point $pj, range $rj")
    }
  }

  test("deleteMoR, a driver-paired mergeMoR and compact run no job under " +
      "the bound (v2 and v3), and distributed with the bound at 0") {
    for (v3 <- Seq(false, true);
         (tag, bound, local) <- Seq(("op", None, true), ("op0", Some(0L), false))) {
      val (wh, _) = mk(s"$tag${if (v3) "3" else "2"}", bound, v3)
      def load() = LakeTable.load(wh, "d", "t")
      val (_, dj) = countJobs(load().deleteMoR(spark, col("id").between(10L, 29L)))
      // a local source: 395..399 update, 400 inserts
      val src = rows(6, 395L).withColumn("v", upper(col("v")))
      val (_, mj) = countJobs(load().mergeMoR(spark, src, Seq("id")))
      val (_, cj) = countJobs(load().compact(spark))
      val got = load().read(spark).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.keySet == ((0L to 9L) ++ (30L to 400L)).toSet)
      assert(got(395L) == "V395" && got(400L) == "V400" && got(394L) == "v394")
      val label = s"v3=$v3 bound=$bound: delete $dj, merge $mj, compact $cj"
      if (local) assert(dj == 0 && mj == 0 && cj == 0, label)
      else assert(dj >= 1 && mj >= 1 && cj >= 1, label)
    }
  }

  test("a refresh's changelog and backing reads run no job under the " +
      "bound, and distributed with the bound at 0") {
    for ((tag, bound, local) <- Seq(("cl", None, true), ("cl0", Some(0L), false))) {
      val (wh, t0) = mk(tag, bound)
      val from = t0.metadata.snapshots.last.id
      LakeTable.load(wh, "d", "t").deleteMoR(spark, col("id") === 7L)
      LakeTable.load(wh, "d", "t").append(rows(3, 1000L))
      val t = LakeTable.load(wh, "d", "t")
      val log = t.changelogBetween(spark, from, t.metadata.snapshots.last.id)
      val (got, lj) = countJobs(log.select("id", "_change_type").collect())
      assert(got.map(r => r.getLong(0) -> r.getString(1)).toSet ==
        Set(7L -> "delete", 1000L -> "insert", 1001L -> "insert",
          1002L -> "insert"))
      // the touched-group backing read shape: a pinned, pruned read
      val backing = t.readPinned(spark, t.plannedFiles(),
        LakeTable.liveDeletes(t.metadata.snapshots)).filter(col("id") < 20L)
      val (b, bj) = countJobs(ids(backing))
      assert(b == (0L to 19L).filterNot(_ == 7L))
      if (local) assert(lj == 0 && bj == 0, s"jobs: changelog $lj, backing $bj")
      else assert(lj >= 1 && bj >= 1, s"jobs: changelog $lj, backing $bj")
    }
  }

  test("an incremental refresh runs no more jobs with its tables under " +
      "the bound than with the bound at 0, to the same view") {
    def run(tag: String, bound: Option[Long]): (Int, Seq[String]) = {
      val (wh, _) = mk(tag, bound)
      val cat = s"gls$tag"
      catalog(cat, wh)
      def vsql(q: String) = org.apache.spark.sql.GraftViewSubstitution.sql(spark, q)
      vsql(s"CREATE MATERIALIZED VIEW $cat.d.mv AS SELECT g, " +
        s"count(*) AS n, sum(id) AS s FROM $cat.d.t GROUP BY g").collect()
      bound.foreach(b => LakeTable.load(wh, "d", "__mat_mv")
        .updateProperties(Map(LakeLocalScan.MaxBytesProperty -> b.toString)))
      LakeTable.load(wh, "d", "t").mergeMoR(spark, rows(4, 398L), Seq("id"))
      LakeTable.load(wh, "d", "t").deleteMoR(spark, col("id") < 5L)
      val (_, j) = countJobs(
        vsql(s"REFRESH MATERIALIZED VIEW $cat.d.mv INCREMENTAL").collect())
      (j, vsql(s"SELECT g, n, s FROM $cat.d.mv").collect()
        .map(_.toString).toSeq.sorted)
    }
    val (localJobs, localView) = run("mv", None)
    val (distJobs, distView) = run("mv0", Some(0L))
    assert(localView == distView)
    // its scans decode on the driver; its aggregate jobs are not scans
    assert(localJobs <= distJobs,
      s"jobs: local $localJobs, distributed $distJobs")
  }

  test("streaming reads, SQL merge-on-read DELETE and MERGE stay " +
      "distributed under the bound; EXPLAIN shows the scan it runs") {
    val (wh, _) = mk("keep", None)
    val t = catalog("glskeep", wh)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.delete.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    // a predicate no source filter expresses: the row-level group scan
    val (_, dj) = countJobs(spark.sql(s"DELETE FROM $t WHERE id % 7 = 0").collect())
    assert(dj >= 1, s"SQL DELETE jobs: $dj")
    import SparkTestSession.spark.implicits._
    Seq((1L, "M1", 0.0, 1), (1000L, "N", 1.0, 1)).toDF("id", "v", "d", "g")
      .createOrReplaceTempView("glskeep_src")
    val (_, mj) = countJobs(spark.sql(s"MERGE INTO $t USING glskeep_src s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect())
    assert(mj >= 1, s"SQL MERGE jobs: $mj")
    val after = LakeTable.load(wh, "d", "t").read(spark)
    assert(ids(after) == ((0L to 399L).filter(_ % 7 != 0) :+ 1000L).sorted)
    assert(after.filter(col("id") === 1L).collect().head.getString(1) == "M1")

    // the stream plans micro-batch scans, never a LocalRelation
    val q = spark.readStream.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .option("skipDeleteSnapshots", "true").load().writeStream.format("memory").queryName("glskeep_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("MicroBatchScan"), plan)
      assert(spark.table("glskeep_stream").count() > 0)
    } finally q.stop()

    // EXPLAIN: the local plan under the bound, the batch scan over it
    val under = spark.sql(s"EXPLAIN SELECT * FROM $t WHERE id = 3")
      .collect().head.getString(0)
    assert(under.contains("LocalTableScan") && !under.contains("BatchScan"), under)
    LakeTable.load(wh, "d", "t").updateProperties(
      Map(LakeLocalScan.MaxBytesProperty -> "1024"))
    val over = spark.sql(s"EXPLAIN SELECT * FROM $t WHERE id = 3")
      .collect().head.getString(0)
    assert(over.contains("BatchScan"), over)
  }

  test("the bound also caps the decoded size: a file that decodes to many " +
      "times its parquet bytes stays distributed") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id LONG, v STRING")
    val f = graft.lake.DataFileMeta("f", 0, 0, rows = 1000L,
      partitionValues = Map.empty, bytes = 1000L)
    // 1000 rows x (8 + 8 + 20) B = 36 000 B decoded
    assert(LakeLocalScan.fits(36000L / LakeLocalScan.DecodedPerPlannedByte, Seq(f), schema))
    assert(!LakeLocalScan.fits(36000L / LakeLocalScan.DecodedPerPlannedByte - 1,
      Seq(f), schema))
    assert(!LakeLocalScan.fits(999L, Seq(f), schema))
    assert(!LakeLocalScan.fits(0L, Seq(f), schema))
    assert(!LakeLocalScan.fits(1L << 20, Seq(f.copy(bytes = -1L)), schema))

    // one constant-valued file: a few KiB of parquet, megabytes of rows
    val wh = Files.createTempDirectory("graft-localscan-rle").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
        .stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(
      Map(LakeLocalScan.MaxBytesProperty -> (64L << 10).toString))
    LakeTable.load(wh, "d", "t").append(spark.range(200000).repartition(1)
      .selectExpr("CAST(7 AS LONG) AS id", "'constant' AS v"))
    val file = LakeTable.load(wh, "d", "t").plannedFiles().head
    assert(file.bytes < (64L << 10), s"parquet bytes ${file.bytes}")
    val t = catalog("glsrle", wh)
    val q = spark.sql(s"SELECT count(*) FROM $t WHERE v = 'constant'")
    val (n, j) = countJobs(q.collect().head.getLong(0))
    assert(n == 200000L)
    assert(j >= 1, s"jobs: $j")
    assert(q.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("a read of a few hundred tiny files decodes them on at most the " +
      "decode threads") {
    val wh = Files.createTempDirectory("graft-localscan-tiny").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}"""
        .stripMargin)
    LakeTable.load(wh, "d", "t").append(
      spark.range(0, 300, 1, 300).selectExpr("id"))
    val t = LakeTable.load(wh, "d", "t")
    assert(t.plannedFiles().size == 300)
    def decodeThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("graft-local-scan-"))
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val watch = new Thread(() =>
      try while (true) {
        peak.accumulateAndGet(decodeThreads(), math.max)
        Thread.sleep(1)
      } catch { case _: InterruptedException => () })
    watch.setDaemon(true)
    watch.start()
    val (got, j) = try countJobs(ids(t.read(spark)))
      finally { watch.interrupt(); watch.join() }
    assert(got == (0L until 300L))
    assert(j == 0, s"jobs: $j")
    assert(peak.get <= LakeLocalScan.DecodeThreads,
      s"${peak.get} decode threads, at most ${LakeLocalScan.DecodeThreads}")
  }

  test("a sorted table's driver compaction writes write.sort-buckets range " +
      "files, as the distributed one does (sort and z-order)") {
    for (order <- Seq("id", "zorder(id,g)");
         (tag, bound, local) <- Seq(("sb", None, true), ("sb0", Some(0L), false))) {
      val wh = Files.createTempDirectory(s"graft-localscan-$tag").toString
      Engine.processTableDefJson(wh,
        s"""{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"id","data_type":"long"},
          |{"column_name":"g","data_type":"int"}],"partitions":[],
          |"properties":{"write.sort-order":"$order","write.sort-buckets":"4"
          |${bound.fold("")(b => s""","${LakeLocalScan.MaxBytesProperty}":"$b"""")}}}"""
          .stripMargin)
      import SparkTestSession.spark.implicits._
      // four local appends, each spanning the whole id range
      (0 until 4).foreach(b => LakeTable.load(wh, "d", "t").append(
        (0 until 100).map(i => (i * 4L + b, i % 7)).toDF("id", "g")))
      val (_, cj) = countJobs(LakeTable.load(wh, "d", "t").compact(spark))
      val t = LakeTable.load(wh, "d", "t")
      val files = t.plannedFiles()
      val label = s"$order bound=$bound"
      assert(files.size == 4, s"$label: ${files.size} files")
      val fid = graft.schema.FieldIds.idOf(t.currentSchema("id"))
      val ranges = files.map(f => (BigDecimal(f.stats(fid).min),
        BigDecimal(f.stats(fid).max))).sortBy(_._1)
      if (order == "id")
        assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
          s"$label: overlapping ranges $ranges")
      else assert(t.plannedFiles(statsFilters = Seq(graft.lake.RangeFilter("id",
        loNum = Some(BigDecimal(0)), hiNum = Some(BigDecimal(40))))).size < 4,
        s"$label: an id range prunes no file of $ranges")
      assert(ids(t.read(spark)) == (0L until 400L))
      if (local) assert(cj == 0, s"$label: compact jobs $cj")
      else assert(cj >= 1, s"$label: compact jobs $cj")
    }
  }
}
