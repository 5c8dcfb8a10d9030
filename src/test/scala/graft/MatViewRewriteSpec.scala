package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}
import graft.sources.MatViewRewrite

/** Materialized-view query rewriting ([[graft.sources.MatViewRewrite]]):
  * an aggregate over the SOURCE answers from a fresh exact-shape MV —
  * plan-audited (backing scan in, source scan out) — and falls back to
  * the source for stale views, shape mismatches, and when disabled.
  */
class MatViewRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vsql(q: String, rewrite: Boolean = true) =
    org.apache.spark.sql.GraftViewSubstitution.sql(spark, q, rewrite)

  /** The rewritten read is a plain parquet scan of the backing
    * table's files (its path carries `__mat_`); the source read is a
    * lake DataSourceV2Relation. Both signatures together audit which
    * side answered. */
  /** The tables the query reads, from its analyzed plan (the rewrite
    * is an analysis rule): the same whether the scan later runs as a job
    * or decodes on the driver. */
  private def scans(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case r: DataSourceV2Relation => r.table.name()
    }

  private def setup(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-mvrw-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "x"))
    wh
  }

  test("a fresh exact-shape MV answers the source aggregate; plan " +
      "scans the backing table, not the source; aliases are free") {
    val wh = setup("hit")
    spark.conf.set("spark.sql.catalog.grw1", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grw1.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grw1.d.roll AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM grw1.d.src GROUP BY k")
      .collect()
    val df = vsql("SELECT k, count(*) AS cnt, sum(x) AS total " +
      "FROM grw1.d.src GROUP BY k ORDER BY k")
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 3L), ("b", 1L, 10L)))
    assert(MatViewRewrite.lastRewrite.contains(("d", "roll")))
    val sc = scans(df)
    assert(sc.exists(_.contains("__mat_")), s"backing not in $sc")
    assert(!sc.exists(n => n.contains("src") && !n.contains("__mat_")),
      s"source still scanned: $sc")
    // the rewrite is cost-only: identical values with it disabled
    spark.conf.set("spark.graft.matview.rewrite", "false")
    try {
      val raw = vsql("SELECT k, count(*) AS cnt, sum(x) AS total " +
        "FROM grw1.d.src GROUP BY k ORDER BY k")
      assert(raw.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq == got)
      assert(MatViewRewrite.lastRewrite.isEmpty)
      assert(!scans(raw).exists(_.contains("__mat_")))
    } finally spark.conf.unset("spark.graft.matview.rewrite")
  }

  test("stale views, shape mismatches, and sub/superset aggregates " +
      "fall back to the source scan") {
    val wh = setup("miss")
    import SparkTestSession.spark.implicits._
    spark.conf.set("spark.sql.catalog.grw2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grw2.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grw2.d.roll AS " +
      "SELECT k, sum(x) AS s FROM grw2.d.src GROUP BY k").collect()
    def agg() = vsql("SELECT k, sum(x) AS s FROM grw2.d.src " +
      "GROUP BY k ORDER BY k")
    assert(scans(agg()).exists(_.contains("__mat_")), "fresh → rewrite")
    // stale: a source commit after the last refresh
    LakeTable.load(wh, "d", "src").append(Seq(("c", 5L)).toDF("k", "x"))
    val stale = agg()
    assert(!scans(stale).exists(_.contains("__mat_")),
      "stale MV must not answer")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 3L), ("b", 10L), ("c", 5L)),
      "fallback must serve the LIVE data")
    // refreshed → rewrites again
    vsql("REFRESH MATERIALIZED VIEW grw2.d.roll INCREMENTAL").collect()
    assert(scans(agg()).exists(_.contains("__mat_")))
    // count(*) is not declared on the MV but IS derivable from the
    // retraction row counter — the rollup path serves it
    val other = vsql("SELECT k, count(*) AS n FROM grw2.d.src " +
      "GROUP BY k ORDER BY k")
    assert(scans(other).exists(_.contains("__mat_")),
      "count(*) must derive from the hidden row counter")
    assert(MatViewRewrite.lastRewriteKind.contains("rollup"))
    assert(other.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 2L), ("b", 1L), ("c", 1L)))
    // an aggregate with NO derivable partial (min not materialized)
    // → source
    val mn = vsql("SELECT k, min(x) AS mn FROM grw2.d.src " +
      "GROUP BY k ORDER BY k")
    assert(!scans(mn).exists(_.contains("__mat_")))
    // WHERE over a NON-group column → source
    val flt = vsql("SELECT k, sum(x) AS s FROM grw2.d.src " +
      "WHERE x > 1 GROUP BY k ORDER BY k")
    assert(!scans(flt).exists(_.contains("__mat_")))
    assert(flt.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 2L), ("b", 10L), ("c", 5L)))
    // grouping by a column the MV does not group by → source
    val g2 = vsql("SELECT x, count(*) AS n FROM grw2.d.src " +
      "GROUP BY x ORDER BY x")
    assert(!scans(g2).exists(_.contains("__mat_")))
  }

  test("rollup subsumption: a coarser aggregate re-aggregates a " +
      "finer MV; group-key filters apply to the backing table") {
    val wh = Files.createTempDirectory("graft-mvrw-roll").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"k2","data_type":"string"},
        |{"column_name":"x","data_type":"long"},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, String, Long, String)]) =
      r.toDF("k", "k2", "x", "amt").select(col("k"), col("k2"),
        col("x"), col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "p", 1L, "1.5"), ("a", "q", 2L, null), ("b", "p", 10L, "2.5"),
      ("b", "q", 20L, "4.0"), ("a", "p", 4L, "0.25"))))
    spark.conf.set("spark.sql.catalog.grw4", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grw4.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grw4.d.fine AS " +
      "SELECT k, k2, count(*) AS n, sum(x) AS s, max(x) AS mx, " +
      "avg(amt) AS a FROM grw4.d.src GROUP BY k, k2").collect()
    // every coarser query must equal its rewrite-disabled run
    def both(sql: String): (DataFrame, Option[String]) = {
      val df = vsql(sql)
      val got = df.collect().map(_.toString).toSeq
      val kind = MatViewRewrite.lastRewriteKind
      spark.conf.set("spark.graft.matview.rewrite", "false")
      val want =
        try vsql(sql).collect().map(_.toString).toSeq
        finally spark.conf.unset("spark.graft.matview.rewrite")
      assert(got == want, s"rollup drifted for: $sql\n$got\n$want")
      (df, kind)
    }
    // 1. coarser GROUP BY with sum/count/max/avg re-aggregation
    val (r1, k1) = both("SELECT k, sum(x) AS s, count(*) AS n, " +
      "max(x) AS mx, avg(amt) AS a FROM grw4.d.src GROUP BY k " +
      "ORDER BY k")
    assert(scans(r1).exists(_.contains("__mat_")), scans(r1).toString)
    assert(k1.contains("rollup"), s"kind: $k1")
    // 2. count(DISTINCT group-key) over the backing key column
    val (r2, _) = both("SELECT k, count(DISTINCT k2) AS nd " +
      "FROM grw4.d.src GROUP BY k ORDER BY k")
    assert(scans(r2).exists(_.contains("__mat_")), scans(r2).toString)
    // 3. a WHERE on a GROUP KEY of the mv filters the backing table
    val (r3, _) = both("SELECT k2, sum(x) AS s FROM grw4.d.src " +
      "WHERE k = 'a' GROUP BY k2 ORDER BY k2")
    assert(scans(r3).exists(_.contains("__mat_")), scans(r3).toString)
    // 4. a WHERE on a non-key column cannot subsume → source
    val flt = vsql("SELECT k, sum(x) AS s FROM grw4.d.src " +
      "WHERE x > 1 GROUP BY k ORDER BY k")
    assert(!scans(flt).exists(_.contains("__mat_")))
    // 5. staleness falls back, refresh re-enables — same rules as
    // the exact path
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("c", "p", 7L, "3.0"))))
    val stale = vsql("SELECT k, sum(x) AS s FROM grw4.d.src " +
      "GROUP BY k ORDER BY k")
    assert(!scans(stale).exists(_.contains("__mat_")))
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 7L), ("b", 30L), ("c", 7L)))
    vsql("REFRESH MATERIALIZED VIEW grw4.d.fine INCREMENTAL").collect()
    val (r5, _) = both("SELECT k, sum(x) AS s FROM grw4.d.src " +
      "GROUP BY k ORDER BY k")
    assert(scans(r5).exists(_.contains("__mat_")))
  }

  test("HAVING on either side: a user HAVING filters above the " +
      "rewritten aggregate; a HAVING MV's backing serves unfiltered " +
      "queries, threshold-failing groups included") {
    val wh = setup("having")
    spark.conf.set("spark.sql.catalog.grw5", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grw5.warehouse", wh)
    // 1. plain MV, user query WITH HAVING: the analyzer keeps the
    // outer Filter above the Aggregate — the inner aggregate rewrites
    // (rollup derives the unselected count from the hidden row
    // counter) and the filter applies on top
    vsql("CREATE MATERIALIZED VIEW grw5.d.roll AS " +
      "SELECT k, sum(x) AS s FROM grw5.d.src GROUP BY k").collect()
    val hv = vsql("SELECT k, sum(x) AS s FROM grw5.d.src GROUP BY k " +
      "HAVING count(*) > 1 ORDER BY k")
    val got = hv.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 3L)), s"got $got") // b has 1 row — filtered
    assert(scans(hv).exists(_.contains("__mat_")), scans(hv).toString)
    assert(MatViewRewrite.lastRewriteKind.contains("rollup"))
    vsql("DROP MATERIALIZED VIEW grw5.d.roll").collect()
    // 2. HAVING MV: the backing materializes ALL groups (the
    // threshold is a read-time view filter) — an unfiltered user
    // query answers from it, and groups FAILING the MV's threshold
    // must still appear
    vsql("CREATE MATERIALIZED VIEW grw5.d.big AS " +
      "SELECT k, sum(x) AS s FROM grw5.d.src GROUP BY k " +
      "HAVING count(*) > 1").collect()
    val all = vsql("SELECT k, count(*) AS n, sum(x) AS s " +
      "FROM grw5.d.src GROUP BY k ORDER BY k")
    val gotAll = all.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotAll == Seq(("a", 2L, 3L), ("b", 1L, 10L)), s"$gotAll")
    assert(scans(all).exists(_.contains("__mat_")), scans(all).toString)
    // the MV itself still filters at read time
    assert(vsql("SELECT k FROM grw5.d.big").collect()
      .map(_.getString(0)).toSeq == Seq("a"))
  }

  test("a WHERE-shaped MV rewrites the matching filtered aggregate; " +
      "an extensions session rewrites plain spark.sql") {
    val wh = setup("where")
    spark.conf.set("spark.sql.catalog.grw3", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grw3.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grw3.d.big AS " +
      "SELECT k, sum(x) AS s FROM grw3.d.src WHERE x > 1 GROUP BY k")
      .collect()
    val hit = vsql("SELECT k, sum(x) AS total FROM grw3.d.src " +
      "WHERE x > 1 GROUP BY k ORDER BY k")
    assert(scans(hit).exists(_.contains("__mat_")), scans(hit).toString)
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 2L), ("b", 10L)))
    // the REAL user surface: an extensions session rewrites its own
    // spark.sql without any bridge (getOrCreate reuses the active
    // session, so clear it for the build and restore after)
    import org.apache.spark.sql.SparkSession
    val prior = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[2]")
        .appName("graft-mvrw-ext")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      ext.conf.set("spark.sql.catalog.grwx", "graft.sources.LakeCatalog")
      ext.conf.set("spark.sql.catalog.grwx.warehouse", wh)
      val edf = ext.sql("SELECT k, sum(x) AS total FROM grwx.d.src " +
        "WHERE x > 1 GROUP BY k ORDER BY k")
      assert(scans(edf).exists(_.contains("__mat_big")),
        "extensions session must rewrite plain spark.sql")
      assert(edf.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("a", 2L), ("b", 10L)))
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("a JOIN-shaped MV rewrites the same fact⋈dim aggregate; a dim " +
      "append staleness falls back until the dim-delta refresh") {
    val wh = Files.createTempDirectory("graft-mvrw-join").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"fact","columns":[
        |{"column_name":"f_cust","data_type":"long"},
        |{"column_name":"f_amt","data_type":"long"}],
        |"partitions":[]}""".stripMargin)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"cust","columns":[
        |{"column_name":"c_id","data_type":"long"},
        |{"column_name":"c_seg","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "cust").append(
      Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "fact").append(
      Seq((1L, 10L), (2L, 20L), (3L, 40L), (1L, 80L))
        .toDF("f_cust", "f_amt"))
    spark.conf.set("spark.sql.catalog.grwj", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grwj.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grwj.d.segroll AS " +
      "SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM grwj.d.fact JOIN grwj.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg").collect()
    // a FINER two-key join MV for rollup subsumption below
    vsql("CREATE MATERIALIZED VIEW grwj.d.custroll AS " +
      "SELECT c_seg, f_cust, count(*) AS n, sum(f_amt) AS s " +
      "FROM grwj.d.fact JOIN grwj.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg, f_cust").collect()
    def agg() = vsql("SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM grwj.d.fact JOIN grwj.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg ORDER BY c_seg")
    val hit = agg()
    assert(scans(hit).exists(_.contains("__mat_")),
      s"join shape must rewrite: ${scans(hit)}")
    assert(!scans(hit).exists(n => n.contains("fact") &&
      !n.contains("__mat_")), s"fact still scanned: ${scans(hit)}")
    // BOTH views match this query (segroll exactly, custroll by
    // rollup) — candidate ordering must prefer the exact match, not
    // directory-listing order
    assert(MatViewRewrite.lastRewriteKind.contains("exact"),
      s"exact match must win over rollup: " +
        s"${MatViewRewrite.lastRewriteKind}")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq == Seq(("A", 3L, 130L), ("B", 1L, 20L)))
    // a coarser aggregate (f_cust ⊂ {c_seg, f_cust}) re-aggregates
    // the finer join MV's partials — rollup subsumption over joins
    val roll = vsql("SELECT f_cust, count(*) AS n, sum(f_amt) AS s " +
      "FROM grwj.d.fact JOIN grwj.d.cust ON f_cust = c_id " +
      "GROUP BY f_cust ORDER BY f_cust")
    assert(scans(roll).exists(_.contains("__mat_")) &&
      MatViewRewrite.lastRewriteKind.contains("rollup"),
      s"${scans(roll)} ${MatViewRewrite.lastRewriteKind}")
    assert(roll.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq((1L, 2L, 90L), (2L, 1L, 20L), (3L, 1L, 40L)))
    // a dim append makes the pins stale → fallback serves LIVE data
    LakeTable.load(wh, "d", "cust").append(
      Seq((1L, "C")).toDF("c_id", "c_seg"))
    val stale = agg()
    assert(!scans(stale).exists(_.contains("__mat_")),
      "stale dim pin must not answer")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("A", 3L, 130L), ("B", 1L, 20L), ("C", 2L, 90L)))
    // the dim-delta incremental refresh re-pins → rewrites again
    vsql("REFRESH MATERIALIZED VIEW grwj.d.segroll INCREMENTAL")
      .collect()
    val back = agg()
    assert(scans(back).exists(_.contains("__mat_")),
      s"refreshed join MV must rewrite again: ${scans(back)}")
    assert(back.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("A", 3L, 130L), ("B", 1L, 20L), ("C", 2L, 90L)))
    // a DIFFERENT join condition must not match
    val off = vsql("SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM grwj.d.fact JOIN grwj.d.cust ON f_cust = c_id + 1 " +
      "GROUP BY c_seg ORDER BY c_seg")
    assert(!scans(off).exists(_.contains("__mat_")),
      "a different join condition must fall back")
  }

  test("rewrite.max-staleness-ms admits a bounded-stale serve; " +
      "correctness conditions never relax") {
    val wh = setup("stale")
    import SparkTestSession.spark.implicits._
    spark.conf.set("spark.sql.catalog.grws", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grws.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grws.d.roll AS " +
      "SELECT k, sum(x) AS s FROM grws.d.src GROUP BY k").collect()
    def agg() = vsql("SELECT k, sum(x) AS s FROM grws.d.src " +
      "GROUP BY k ORDER BY k")
    // source moves → no bound declared → fallback
    LakeTable.load(wh, "d", "src").append(Seq(("c", 5L)).toDF("k", "x"))
    assert(!scans(agg()).exists(_.contains("__mat_")))
    // a generous bound (1h): the minutes-old missing commit is inside
    // it — the view answers STALE (pre-append content) and the
    // observable reports a positive age
    vsql("ALTER MATERIALIZED VIEW grws.d.roll SET TBLPROPERTIES " +
      "('rewrite.max-staleness-ms'='3600000')").collect()
    val stale = agg()
    assert(scans(stale).exists(_.contains("__mat_")),
      s"within the bound the MV must answer: ${scans(stale)}")
    assert(MatViewRewrite.lastRewriteAgeMs.exists(_ > 0L),
      s"age must be positive: ${MatViewRewrite.lastRewriteAgeMs}")
    assert(stale.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 3L), ("b", 10L)),
      "the bounded-stale serve returns the materialized (old) content")
    // refresh → exact fresh again, age 0, live content
    vsql("REFRESH MATERIALIZED VIEW grws.d.roll INCREMENTAL").collect()
    val freshDf = agg()
    assert(scans(freshDf).exists(_.contains("__mat_")))
    assert(MatViewRewrite.lastRewriteAgeMs.contains(0L))
    assert(freshDf.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 3L), ("b", 10L), ("c", 5L)))
    // a ZERO bound never admits staleness
    vsql("ALTER MATERIALIZED VIEW grws.d.roll SET TBLPROPERTIES " +
      "('rewrite.max-staleness-ms'='0')").collect()
    LakeTable.load(wh, "d", "src").append(Seq(("d", 7L)).toDF("k", "x"))
    assert(!scans(agg()).exists(_.contains("__mat_")),
      "a zero bound must fall back the moment the source moves")
    // correctness is never relaxed: a source ROLLBACK through the
    // watermark refuses even under an infinite bound
    vsql("ALTER MATERIALIZED VIEW grws.d.roll SET TBLPROPERTIES " +
      "('rewrite.max-staleness-ms'='9999999999')").collect()
    vsql("REFRESH MATERIALIZED VIEW grws.d.roll INCREMENTAL").collect()
    val head = LakeTable.load(wh, "d", "src").metadata.snapshots
      .map(_.id).max
    LakeTable.load(wh, "d", "src").rollbackTo(head - 1)
    LakeTable.load(wh, "d", "src").append(Seq(("e", 9L)).toDF("k", "x"))
    val broken = agg()
    assert(!scans(broken).exists(_.contains("__mat_")),
      "a rollback through the watermark is wrong, not stale — refuse")
  }

  test("the candidate doc scan caches per warehouse: a repeated " +
      "aggregate re-reads ZERO docs; CREATE / refresh / DROP " +
      "invalidate only what changed") {
    val wh = setup("doccache")
    spark.conf.set("spark.sql.catalog.grwc", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grwc.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW grwc.d.roll AS " +
      "SELECT k, count(*) AS n FROM grwc.d.src GROUP BY k").collect()
    def agg() = vsql(
      "SELECT k, count(*) AS n FROM grwc.d.src GROUP BY k ORDER BY k")
    import graft.sources.MatViews
    agg().collect()
    assert(MatViewRewrite.lastRewrite.contains(("d", "roll")))
    val (_, listed1) = MatViews.lastDocScan.get
    assert(listed1 >= 1)
    // the second identical query lists (stat-only) but re-reads NOTHING
    agg().collect()
    val (reread2, listed2) = MatViews.lastDocScan.get
    assert(reread2 == 0 && listed2 == listed1,
      s"a repeated scan must reuse every cached doc: " +
        s"re-read $reread2/$listed2")
    assert(MatViewRewrite.lastRewrite.contains(("d", "roll")))
    // CREATE of a second view re-reads exactly the new doc
    vsql("CREATE MATERIALIZED VIEW grwc.d.roll2 AS " +
      "SELECT k, sum(x) AS s FROM grwc.d.src GROUP BY k").collect()
    agg().collect()
    val (reread3, listed3) = MatViews.lastDocScan.get
    assert(listed3 == listed1 + 1 && reread3 == 1,
      s"a CREATE must invalidate only itself: re-read $reread3/$listed3")
    // a refresh rewrites the doc (stamp) — the scan picks it up and
    // the rewrite still serves; only the touched doc re-reads
    locally {
      import SparkTestSession.spark.implicits._
      LakeTable.load(wh, "d", "src").append(
        Seq(("z", 100L)).toDF("k", "x"))
    }
    vsql("REFRESH MATERIALIZED VIEW grwc.d.roll INCREMENTAL").collect()
    val fresh = agg()
    val got = fresh.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    assert(got == Seq(("a", 2L), ("b", 1L), ("z", 1L)))
    assert(scans(fresh).exists(_.contains("__mat_")),
      "the refreshed view must serve through the cache")
    val (_, listed4) = MatViews.lastDocScan.get
    assert(listed4 == listed3)
    // DROP removes the doc from the next listing; the rewrite falls
    // back to the source with no stale serve
    vsql("DROP MATERIALIZED VIEW grwc.d.roll").collect()
    vsql("DROP MATERIALIZED VIEW grwc.d.roll2").collect()
    val after = agg()
    after.collect()
    assert(!scans(after).exists(_.contains("__mat_")),
      "dropped views must leave the cache at the next listing")
  }
}
