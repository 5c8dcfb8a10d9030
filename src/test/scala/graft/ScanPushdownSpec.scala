package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Parquet row-group / record-level predicate pushdown inside the
  * graft-lake reader ([[graft.sources.LakeSource.parquetPredicate]]):
  * filtered scans over MULTI-row-group files must return exactly what
  * the unfiltered scan filters to — on clean files AND on positional
  * reads (MoR deletes, `_metadata.row_index` consumers), where since
  * r15 the predicate pushes too: positions come from parquet's own
  * row-index machinery, which stays file-absolute under row-group
  * skipping, so a skipped group can no longer desynchronize delete
  * application. Row-level-op scans still never record-filter (their
  * ranges are emptied at the PLANNER — filters select files for
  * rewrite, not records).
  */
class ScanPushdownSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-pushdown-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"s","data_type":"string"},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    // tiny parquet blocks => many row groups per file, so predicate
    // skipping actually has groups to skip
    // the scans run as jobs (driver decode off): the spec reads the
    // records a task decoded from its input metrics
    t.updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024",
      graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def seed(t: LakeTable, n: Int = 20000): Unit = {
    import SparkTestSession.spark.implicits._
    // sorted by k => row groups carry tight disjoint k-ranges
    t.append((0 until n).map(i =>
      (i.toLong, f"s$i%06d", (i * 7).toLong)).toDF("k", "s", "v")
      .repartition(1).sortWithinPartitions("k"))
  }

  test("range, point, and string filters return EXACT results over " +
      "multi-row-group files") {
    val (wh, t0) = mk("basic")
    seed(t0)
    val t = LakeTable.load(wh, "d", "t")
    assert(t.plannedFiles().size == 1, "one multi-group file")
    spark.conf.set("spark.sql.catalog.gpd", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd.warehouse", wh)
    def q(where: String): Seq[(Long, String, Long)] =
      spark.sql(s"SELECT k, s, v FROM gpd.d.t WHERE $where ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
    assert(q("k BETWEEN 5000 AND 5004") ==
      (5000L to 5004L).map(i => (i, f"s$i%06d", i * 7)))
    assert(q("k = 19999") == Seq((19999L, "s019999", 19999L * 7)))
    assert(q("k > 19999") == Seq.empty)
    assert(q("s = 's000123'") == Seq((123L, "s000123", 123L * 7)))
    assert(q("s >= 's019990' AND s < 's019995'") ==
      (19990L to 19994L).map(i => (i, f"s$i%06d", i * 7)))
    // negative bounds / cross-type: filter on v with a range
    assert(q("v >= 139972 AND v <= 139993").map(_._1) ==
      Seq(19996L, 19997L, 19998L, 19999L))
    // IN-sets translate to parquet in() (dictionary-capable skipping)
    assert(q("k IN (17, 9001, 19998)").map(_._1) ==
      Seq(17L, 9001L, 19998L))
    assert(q("s IN ('s000042', 's010000', 'zzz')").map(_._1) ==
      Seq(42L, 10000L))
  }

  test("the predicate actually ENGAGES: a selective filter reads far " +
      "fewer source records than the table holds") {
    val (wh, t0) = mk("engage")
    seed(t0)
    spark.conf.set("spark.sql.catalog.gpde", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpde.warehouse", wh)
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = spark.sql(
        "SELECT k FROM gpde.d.t WHERE k BETWEEN 10000 AND 10009")
        .collect()
      var prev = -1L
      var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got.length == 10)
      // 20k rows in the file; without in-reader skipping every row is
      // read and recordsRead ~ 20k. With row-group + record filtering
      // a 10-row slice reads at most a couple of row groups.
      assert(cur > 0 && cur < 5000,
        s"the pushed predicate must skip records at the source, " +
          s"read $cur of 20000")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a 1,000-key IN probe skips row groups via column bloom " +
      "filters — the min/max envelope alone is vacuous for scattered keys") {
    val (wh, t0) = mk("inset")
    import SparkTestSession.spark.implicits._
    // EVEN keys only, sorted: a scattered probe's [min,max] envelope
    // covers essentially the whole file, so only per-row-group value
    // checks (parquet's in() against chunk bloom filters /
    // dictionaries) can skip. Through r13 the reader dropped IN-sets
    // past 100 values to the envelope — a 1,000-key broadcast-join
    // probe list read every record. High-cardinality keys write PLAIN
    // (no dictionary), so the table opts its join key into parquet
    // bloom filters — the 100-TB recipe for probe-joined fact tables.
    t0.updateProperties(Map(
      "write.option.parquet.bloom.filter.enabled#k" -> "true"))
    LakeTable.load(wh, "d", "t").append((0 until 20000).map(i =>
      ((2 * i).toLong, f"s$i%06d", (i * 7).toLong)).toDF("k", "s", "v")
      .repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd4", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd4.warehouse", wh)
    val present = Seq(40L, 8000L, 16000L, 24000L, 39998L)
    // 995 ODD (absent) keys spread over the whole key range
    val absent = (0 until 995).map(i => (i * 40 + 1).toLong)
    val inList = (present ++ absent).mkString(", ")
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = spark.sql(
        s"SELECT k FROM gpd4.d.t WHERE k IN ($inList) ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      var prev = -1L
      var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got == present, s"exactness first: $got")
      assert(cur > 0 && cur < 10000,
        s"a scattered 1,000-key IN probe must skip row groups whose " +
          s"dictionaries lack every key: read $cur of 20000")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("positional reads stay EXACT under pushed filters: MoR deletes and " +
      "row_index consumers stay exact under filters") {
    import SparkTestSession.spark.implicits._
    val (wh, t0) = mk("gated")
    seed(t0, 10000)
    // MoR position deletes in the middle of the k-range the filter hits
    LakeTable.load(wh, "d", "t").deleteMoR(spark,
      col("k") >= 5000L && col("k") < 5003L)
    spark.conf.set("spark.sql.catalog.gpd2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd2.warehouse", wh)
    val got = spark.sql(
      "SELECT k FROM gpd2.d.t WHERE k BETWEEN 4998 AND 5005 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4998L, 4999L, 5003L, 5004L, 5005L),
      s"deletes must apply exactly under a pushed filter: $got")
    // row_index consumers (row-level op scans) also stay exact
    val withPos = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()
      .filter(col("k") === 7777L)
      .select(col("k"), col("_graft_pos"))
      .collect()
    assert(withPos.length == 1 && withPos.head.getLong(0) == 7777L &&
      withPos.head.getLong(1) == 7777L,
      "row positions must be physical-file positions, never " +
        "filter-shifted")
  }

  test("position-consuming scans PUSH the predicate (r15): a " +
      "delete-bearing multi-row-group scan reads far fewer records " +
      "than the table holds, with positions and deletes exact") {
    import SparkTestSession.spark.implicits._
    val (wh, t0) = mk("posengage")
    seed(t0)
    // position deletes INSIDE and OUTSIDE the filtered range: the
    // in-range ones must still vanish, the out-of-range ones must not
    // shift any surviving position (probes run on parquet's generated
    // file-absolute row indexes, not a sequential counter)
    LakeTable.load(wh, "d", "t").deleteMoR(spark,
      col("k") % 1000L === 3L)
    spark.conf.set("spark.sql.catalog.gpd11", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd11.warehouse", wh)
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = spark.sql(
        "SELECT k FROM gpd11.d.t WHERE k BETWEEN 10000 AND 10009 ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      var prev = -1L
      var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got == (10000L to 10009L).filter(_ % 1000L != 3L),
        s"deletes exact under the ENGAGED predicate: $got")
      // pre-r15 this scan read all 20k records (pushdown gated off on
      // position-consuming reads); with row-index-driven positions the
      // predicate skips row groups like any clean scan
      assert(cur > 0 && cur < 5000,
        s"the pushed predicate must engage on a delete-bearing scan: " +
          s"read $cur of 20000")
      // _graft_pos through the SAME filtered shape: physical positions
      val withPos = spark.read.format("graft-lake")
        .option("warehouse", wh).option("database", "d")
        .option("table", "t").load()
        .filter(col("k") >= 15000L && col("k") <= 15004L)
        .select(col("k"), col("_graft_pos"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(withPos == (15000L to 15004L).filter(_ % 1000L != 3L)
        .map(k => (k, k)),
        s"file-absolute positions under a pushed predicate: $withPos")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("row-level operations never record-filter: a selective CoW " +
      "UPDATE over a multi-row-group file carries every non-matching " +
      "row through the rewrite") {
    val (wh, t0) = mk("rowlevel")
    seed(t0, 8000)
    spark.conf.set("spark.sql.catalog.gpd3", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd3.warehouse", wh)
    // the UPDATE's WHERE selects a sliver of the one file — with
    // record filtering wrongly active on its scan, the rewrite would
    // silently DROP the other 7990 rows (the lake_sql_dml regression)
    spark.sql("UPDATE gpd3.d.t SET s = 'HIT' WHERE k >= 4000 AND k < 4010")
    val t = LakeTable.load(wh, "d", "t")
    assert(t.read(spark).count() == 8000L,
      "the rewrite must carry every non-matching row")
    val hit = spark.sql(
      "SELECT k FROM gpd3.d.t WHERE s = 'HIT' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(hit == (4000L until 4010L).toSeq, s"got $hit")
    // same for a selective three-clause MERGE
    import SparkTestSession.spark.implicits._
    Seq((4500L, "M"), (90000L, "NEW")).toDF("mk", "mv")
      .createOrReplaceTempView("pushdown_merge_src")
    spark.sql(
      """MERGE INTO gpd3.d.t t USING pushdown_merge_src s
        |ON t.k = s.mk
        |WHEN MATCHED THEN UPDATE SET s = s.mv
        |WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.mk, s.mv, 0L)
        |""".stripMargin)
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 8001L,
      "the merge rewrite must carry every non-matching row")
    assert(spark.sql("SELECT s FROM gpd3.d.t WHERE k = 4500")
      .collect().head.getString(0) == "M")
  }

  test("float/double predicates skip row groups and stay EXACT " +
      "around NaN, ±0.0 and infinities") {
    val wh = Files.createTempDirectory("graft-pushdown-fp").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"d","data_type":"double"},
        |{"column_name":"f","data_type":"float"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    import SparkTestSession.spark.implicits._
    // k sorted; d carries the fp zoo — NaN sprinkled so MOST row
    // groups are NaN-free (skippable) but some hold one (parquet-mr
    // folds NaN into max as the LARGEST value under Double.compare,
    // the same total order Spark's NaN-is-largest comparisons use,
    // so those groups survive every gtEq bound); both zeros; both
    // infinities. f is clean and sorted for the engagement check.
    def dOf(i: Int): Double =
      if (i % 4096 == 1234) Double.NaN
      else if (i == 3000) 0.0
      else if (i == 3001) -0.0
      else if (i == 5000) Double.PositiveInfinity
      else if (i == 5001) Double.NegativeInfinity
      else (i - 10000) * 1.5
    LakeTable.load(wh, "d", "t").append((0 until 20000).map(i =>
      (i.toLong, dOf(i), i.toFloat / 8f)).toDF("k", "d", "f")
      .repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd5", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd5.warehouse", wh)
    // ground truth: the UNFILTERED lake read, cached so every truth
    // filter evaluates over the InMemoryRelation (nothing pushed)
    val truth = spark.sql("SELECT k, d, f FROM gpd5.d.t").cache()
    truth.count()
    truth.createOrReplaceTempView("fp_truth")
    def chk(where: String): Unit = {
      val got = spark.sql(
        s"SELECT k FROM gpd5.d.t WHERE $where ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      val want = spark.sql(
        s"SELECT k FROM fp_truth WHERE $where ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want,
        s"WHERE $where: got ${got.length} rows ${got.take(12)}…, " +
          s"want ${want.length} rows ${want.take(12)}…")
    }
    chk("d > 5000.0") // NaN rows qualify (Spark: NaN > everything)
    // only +Inf and the NaNs qualify — groups whose FINITE max is
    // tiny must still surface the NaN they hold
    chk("d > 1.0e300")
    chk("d < -5000.0") // -Inf qualifies, NaN must not
    chk("d <= -14999.0")
    chk("d >= 14000.0 AND d < 14500.0")
    chk("d = 0.0")  // must return the -0.0 row too (SQL: -0.0 = 0.0)
    chk("d = -0.0") // and the +0.0 rows
    chk("d <=> -0.0")
    chk("d = CAST('NaN' AS DOUBLE)") // NaN = NaN is TRUE in Spark
    chk("d IN (0.0, 4.5, -1.5)") // zero in the set → envelope only
    chk("d IN (-4.5, 4.5)")
    chk("f > 2400.25")
    chk("f = 1250.125")
    chk("f IN (100, 2000)")  // integral floats reach the exact in()
    chk("f IN (0, 100)")     // zero refuses the set, envelope stays
    // engagement: a selective range on the clean sorted float column
    // must skip most of the file's row groups
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = spark.sql(
        "SELECT k FROM gpd5.d.t WHERE f <= 10.0").collect()
      var prev = -1L
      var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got.length == 81, s"exactness first: ${got.length}")
      assert(cur > 0 && cur < 5000,
        s"a pushed float range must skip row groups: read $cur of 20000")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("decimal predicates skip row groups across all three physical " +
      "layouts (INT32 / INT64 / FLBA)") {
    val wh = Files.createTempDirectory("graft-pushdown-dec").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"d7","data_type":"decimal(7,2)"},
        |{"column_name":"d12","data_type":"decimal(12,2)"},
        |{"column_name":"d22","data_type":"decimal(22,4)"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    import SparkTestSession.spark.implicits._
    // negative AND positive values in every column: the FLBA encoding
    // pads two's-complement SIGN bytes, and a sign bug reorders the
    // whole negative half
    LakeTable.load(wh, "d", "t").append(
      (0 until 20000).map(_.toLong).toDF("k").selectExpr("k",
        "CAST((k - 10000) / 4.0 AS DECIMAL(7,2)) AS d7",
        "CAST((k - 10000) * 1234.56 AS DECIMAL(12,2)) AS d12",
        """CAST((k - 10000) *
          |CAST('10000000000000.0007' AS DECIMAL(22,4))
          |AS DECIMAL(22,4)) AS d22""".stripMargin)
        .repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd6", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd6.warehouse", wh)
    val truth = spark.sql("SELECT k, d7, d12, d22 FROM gpd6.d.t").cache()
    truth.count()
    truth.createOrReplaceTempView("dec_truth")
    val fallbacks0 =
      graft.sources.BatchRowLakeReader.predicateFallbacks.get
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    def chk(where: String, expectSkip: Boolean): Unit = {
      records.set(0)
      spark.sparkContext.addSparkListener(l)
      val (got, cur) =
        try {
          val got = spark.sql(
            s"SELECT k FROM gpd6.d.t WHERE $where ORDER BY k")
            .collect().map(_.getLong(0)).toSeq
          var prev = -1L
          var cur = records.get
          while (prev != cur) {
            Thread.sleep(100); prev = cur; cur = records.get
          }
          (got, cur)
        } finally spark.sparkContext.removeSparkListener(l)
      val want = spark.sql(
        s"SELECT k FROM dec_truth WHERE $where ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want,
        s"WHERE $where: got ${got.length} rows, want ${want.length}")
      if (expectSkip)
        assert(cur > 0 && cur < 5000,
          s"WHERE $where must skip row groups: read $cur of 20000")
    }
    // INT32 layout (precision 7): selective mid-range slice
    chk("d7 BETWEEN -1.25 AND 1.25", expectSkip = true)
    chk("d7 = -2500.00", expectSkip = true)
    // INT64 layout (precision 12): top slice; bounds with fractions
    // that do NOT land on stored values exercise the ceil/floor
    chk("d12 > 12000000.01", expectSkip = true)
    chk("d12 <= -12340000.99", expectSkip = true)
    // FLBA layout (precision 22): both signs
    chk("d22 < CAST('-99000000000000000' AS DECIMAL(22,4))",
      expectSkip = true)
    chk("d22 >= CAST('99990000000000000.0001' AS DECIMAL(22,4))",
      expectSkip = true)
    chk("d22 BETWEEN CAST('-5000000000000.0007' AS DECIMAL(22,4)) " +
      "AND CAST('10000000000000.0007' AS DECIMAL(22,4))",
      expectSkip = true)
    // wide (non-selective) predicates stay exact too
    chk("d7 >= -2500.00", expectSkip = false)
    chk("d12 != 0", expectSkip = false)
    assert(graft.sources.BatchRowLakeReader.predicateFallbacks.get ==
      fallbacks0,
      "no predicate may fall back — the engine's standard layout " +
        "must accept every translated decimal bound")
  }

  test("date predicates and IS [NOT] NULL skip row groups") {
    val wh = Files.createTempDirectory("graft-pushdown-date").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"dt","data_type":"date"},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    import SparkTestSession.spark.implicits._
    // dt advances one day per row from 2000-01-01; v is NULL on the
    // first 19,000 rows and set on the last 1,000 — IS NOT NULL has
    // row groups to skip, IS NULL has the tail to skip
    LakeTable.load(wh, "d", "t").append(
      (0 until 20000).map(_.toLong).toDF("k").selectExpr("k",
        "date_add(DATE '2000-01-01', CAST(k AS INT)) AS dt",
        "CASE WHEN k >= 19000 THEN k * 3 ELSE NULL END AS v")
        .repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd7", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd7.warehouse", wh)
    val truth = spark.sql("SELECT k, dt, v FROM gpd7.d.t").cache()
    truth.count()
    truth.createOrReplaceTempView("date_truth")
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    def chk(where: String, expectSkip: Boolean): Unit = {
      records.set(0)
      spark.sparkContext.addSparkListener(l)
      val (got, cur) =
        try {
          val got = spark.sql(
            s"SELECT k FROM gpd7.d.t WHERE $where ORDER BY k")
            .collect().map(_.getLong(0)).toSeq
          var prev = -1L
          var cur = records.get
          while (prev != cur) {
            Thread.sleep(100); prev = cur; cur = records.get
          }
          (got, cur)
        } finally spark.sparkContext.removeSparkListener(l)
      val want = spark.sql(
        s"SELECT k FROM date_truth WHERE $where ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want,
        s"WHERE $where: got ${got.length} rows, want ${want.length}")
      if (expectSkip)
        assert(cur > 0 && cur < 5000,
          s"WHERE $where must skip row groups: read $cur of 20000")
    }
    // the most common warehouse predicate: a date window
    chk("dt >= DATE '2000-02-01' AND dt < DATE '2000-02-08'",
      expectSkip = true)
    chk("dt = DATE '2054-07-19'", expectSkip = true)
    chk("dt IN (DATE '2000-01-05', DATE '2051-01-05')", expectSkip = true)
    // null-count skipping: the sparse column's shape, both directions
    chk("v IS NOT NULL", expectSkip = true)
    chk("v IS NULL AND k >= 18990", expectSkip = true)
    chk("dt IS NOT NULL", expectSkip = false) // nothing to skip: exact
  }

  test("equality-only delete state keeps row-group skipping: eq " +
      "probes consume no positions, so the columnar MoR reader pushes " +
      "the predicate") {
    val (wh, t0) = mk("eqskip")
    seed(t0)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq(10002L, 15000L).toDF("k"))
    spark.conf.set("spark.sql.catalog.gpd10", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd10.warehouse", wh)
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val got = spark.sql(
        "SELECT k FROM gpd10.d.t WHERE k BETWEEN 10000 AND 10009")
        .collect().map(_.getLong(0)).sorted.toSeq
      var prev = -1L
      var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got == (10000L to 10009L).filterNot(_ == 10002L),
        s"eq delete must apply under the pushed predicate: $got")
      assert(cur > 0 && cur < 5000,
        s"an equality-only MoR scan must keep row-group skipping: " +
          s"read $cur of 20000")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("pushed predicates bind by FIELD ID on every reader: a " +
      "dropped-and-readded column never misbinds its stale physical " +
      "namesake") {
    // file1 stores a fully-populated physical column x (old field id,
    // ZERO nulls in every row group). After DROP + re-ADD, the logical
    // x (new id) null-fills everywhere — a name-bound IS NULL pushed
    // into parquet would stats-drop every zero-null group of the OLD
    // x and silently lose all rows.
    val wh = Files.createTempDirectory("graft-pushdown-readd").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"x","data_type":"int"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "t").append(
      (0 until 5000).map(i => (i.toLong, i * 2)).toDF("k", "x")
        .repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd8", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd8.warehouse", wh)
    spark.sql("ALTER TABLE gpd8.d.t DROP COLUMN x")
    spark.sql("ALTER TABLE gpd8.d.t ADD COLUMNS (x INT)")
    def ks(where: String): Seq[Long] = spark.sql(
      s"SELECT k FROM gpd8.d.t WHERE $where ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks("x IS NULL") == (0L until 5000L),
      "the readded column null-fills every pre-evolution row — " +
        "IS NULL must not bind the stale physical x")
    assert(ks("x IS NOT NULL") == Seq.empty,
      "no row carries the NEW x yet")
    assert(ks("x > 100") == Seq.empty,
      "a bounds misbind against the old physical x would resurrect " +
        "rows the logical predicate excludes")

    // rename-SWAP (the r14 review finding): after a↔b swap, logical
    // `a` lives in the file under the physical name `b` — a NAME-bound
    // predicate binds the wrong column's stats and silently drops
    // every matching row group. Ranges rewrite by field id instead.
    val wh2 = Files.createTempDirectory("graft-pushdown-swap").toString
    Engine.processTableDefJson(wh2,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"a","data_type":"long"},
        |{"column_name":"b","data_type":"long"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh2, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    // physical a = 0..4999 (sorted, skippable); physical b = -1
    LakeTable.load(wh2, "d", "t").append(
      (0 until 5000).map(i => (i.toLong, i.toLong, -1L))
        .toDF("k", "a", "b").repartition(1).sortWithinPartitions("k"))
    spark.conf.set("spark.sql.catalog.gpd9", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpd9.warehouse", wh2)
    spark.sql("ALTER TABLE gpd9.d.t RENAME COLUMN a TO swap_tmp")
    spark.sql("ALTER TABLE gpd9.d.t RENAME COLUMN b TO a")
    spark.sql("ALTER TABLE gpd9.d.t RENAME COLUMN swap_tmp TO b")
    def ks2(where: String): Seq[Long] = spark.sql(
      s"SELECT k FROM gpd9.d.t WHERE $where ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks2("a = -1") == (0L until 5000L),
      "logical a (old b) is -1 everywhere — a name-bound predicate " +
        "would bind old a's [0,4999] stats and drop every group")
    assert(ks2("b >= 4900") == (4900L until 5000L),
      "logical b (old a) carries the key values")
    assert(ks2("b >= 4900 AND a = -1") == (4900L until 5000L))
  }
}
