package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Materialized views (`CALL system.create_mat_view / refresh_mat_view`):
  * the defining query materializes into a hidden backing lake table
  * that a registered view fronts — reads are table-fast and STALE
  * until refreshed (that staleness is the defining semantic, asserted
  * here), refresh is a full recompute into one replace snapshot (the
  * any-SQL fallback; the CDC-delta incremental path is
  * lake_incr_rollup's machinery).
  */
class MatViewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vsql(q: String) =
    org.apache.spark.sql.GraftViewSubstitution.sql(spark, q)

  test("create materializes, reads stay stale until refresh recomputes") {
    val wh = Files.createTempDirectory("graft-matview").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmv", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmv.warehouse", wh)
    val created = spark.sql(
      "CALL gmv.system.create_mat_view('d', 'agg', " +
        "'SELECT k, sum(x) AS sx FROM gmv.d.src GROUP BY k')").collect()
    assert(created.head.getString(0) == "__mat_agg")
    def readMv(): Map[String, Long] =
      vsql("SELECT k, sx FROM gmv.d.agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(readMv() == Map("a" -> 3L, "b" -> 10L))
    // the MV read plans against the BACKING TABLE, not the source: a
    // source append must NOT show up until refresh (staleness is the
    // semantic that distinguishes an MV from a plain view)
    LakeTable.load(wh, "d", "src").append(Seq(("b", 5L)).toDF("k", "x"))
    assert(readMv() == Map("a" -> 3L, "b" -> 10L),
      "an unrefreshed MV must serve the materialized state")
    val refreshed = spark.sql(
      "CALL gmv.system.refresh_mat_view('d', 'agg')").collect()
    assert(refreshed.head.getLong(1) == 2L, "2 groups after refresh")
    assert(readMv() == Map("a" -> 3L, "b" -> 15L))
    // bookkeeping: the view doc marks the MV and its backing table
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "agg")).get
    assert(doc.properties.get("graft.mat-view").contains("true"))
    assert(doc.properties("graft.mat-view.table") == "__mat_agg")
    // refresh on a PLAIN view refuses by name
    vsql("CREATE VIEW gmv.d.plain AS SELECT k FROM gmv.d.src").collect()
    val e = intercept[Exception] {
      spark.sql("CALL gmv.system.refresh_mat_view('d', 'plain')").collect()
    }
    assert(e.getMessage.contains("not a materialized view"))
  }

  test("incremental refresh merges the delta exactly; guards refuse") {
    val wh = Files.createTempDirectory("graft-matview-incr").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, Long, String)]) =
      r.toDF("k", "x", "amt")
        .select(col("k"), col("x"),
          col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", 1L, "1.5"), ("a", 5L, "2.25"), ("b", 10L, "7.0"))))
    spark.conf.set("spark.sql.catalog.gmvi", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvi.warehouse", wh)
    spark.sql("CALL gmvi.system.create_mat_view('d', 'roll', " +
      "'SELECT k, count(*) AS n, sum(amt) AS s, min(x) AS mn, " +
      "max(x) AS mx FROM gmvi.d.src GROUP BY k')").collect()
    // the shape was recorded as incrementally maintainable
    val doc0 = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc0.properties.get("graft.mat-view.incr").contains("true"),
      doc0.properties)
    // append a delta touching one existing group + one new group
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", 0L, "0.25"), ("c", 3L, "9.0"))))
    val res = spark.sql(
      "CALL gmvi.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    assert(res.head.getLong(1) > res.head.getLong(0),
      "watermark must advance")
    // the merged state equals a from-scratch recompute, bit for bit
    val got = vsql("SELECT k, n, CAST(s AS STRING) AS s, mn, mx " +
      "FROM gmvi.d.roll ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", 3L, "4.0000", 0L, 5L),
      ("b", 1L, "7.0000", 10L, 10L),
      ("c", 1L, "9.0000", 3L, 3L)), s"got $got")
    // a no-op refresh (source unmoved) leaves the watermark in place
    val noop = spark.sql(
      "CALL gmvi.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    assert(noop.head.getLong(0) == noop.head.getLong(1))
    // a DELETE in the range defeats the signed merge (MIN/MAX cannot
    // un-see a removed extremum) — the refresh falls back to
    // recomputing just the TOUCHED groups and still lands incrementally
    LakeTable.load(wh, "d", "src").delete(spark, col("k") === "b")
    val r2 = spark.sql(
      "CALL gmvi.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    assert(r2.head.getLong(1) > r2.head.getLong(0),
      "recompute fallback still advances the watermark")
    assert(vsql("SELECT k FROM gmvi.d.roll ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c"),
      "the emptied group must leave the materialization")
    // a full-content REPLACE resets the replay — even the recompute
    // cannot name its touched groups; refuse by name
    LakeTable.load(wh, "d", "src").overwrite(rows(Seq(
      ("a", 1L, "2.0"), ("c", 3L, "9.0"))))
    val e = intercept[Exception] {
      spark.sql(
        "CALL gmvi.system.refresh_mat_view('d', 'roll', 'incremental')")
        .collect()
    }
    assert(e.getMessage.contains("full refresh"), e.getMessage)
    // a FULL refresh recovers (recomputes + re-pins the watermark),
    // and incremental works again afterwards
    spark.sql("CALL gmvi.system.refresh_mat_view('d', 'roll', 'full')")
      .collect()
    assert(vsql("SELECT k FROM gmvi.d.roll ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(("c", 4L, "1.0"))))
    spark.sql(
      "CALL gmvi.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    assert(vsql("SELECT CAST(s AS STRING) FROM gmvi.d.roll " +
      "WHERE k = 'c'").collect().head.getString(0) == "10.0000")
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("a concurrent refresher is refused by name; the loser re-run " +
      "after the winner is a no-op (no double count)") {
    val wh = Files.createTempDirectory("graft-matview-race").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvr", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvr.warehouse", wh)
    spark.sql("CALL gmvr.system.create_mat_view('d', 'roll', " +
      "'SELECT k, count(*) AS n, sum(x) AS s FROM gmvr.d.src " +
      "GROUP BY k')").collect()
    LakeTable.load(wh, "d", "src").append(Seq(("a", 10L)).toDF("k", "x"))
    // a competing refresher holds the lock → this one must be refused
    // BY NAME, not silently double-count the delta
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.sources.LakeViews.withRefreshLock(wh, "d", "roll") {
        held.countDown(); release.await()
      })
    holder.start(); held.await()
    val e = intercept[Exception] {
      spark.sql(
        "CALL gmvr.system.refresh_mat_view('d', 'roll', 'incremental')")
        .collect()
    }
    assert(messages(e).contains("being refreshed"), messages(e))
    release.countDown(); holder.join()
    // winner's refresh applies the delta once ...
    spark.sql(
      "CALL gmvr.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    // ... and the loser re-run AFTER the winner re-reads the doc under
    // the lock, sees the advanced watermark, and no-ops: the delta can
    // never be merged twice
    val rerun = spark.sql(
      "CALL gmvr.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    assert(rerun.head.getLong(0) == rerun.head.getLong(1),
      "post-winner re-run must be a watermark no-op")
    assert(vsql("SELECT k, n, s FROM gmvr.d.roll ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 11L), ("b", 1L, 2L)))
  }

  test("incremental refresh scans only backing files that can hold " +
      "touched groups") {
    val wh = Files.createTempDirectory("graft-matview-prune").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // 4000 groups: the seed aggregate shuffles across the session's 32
    // partitions → the backing table lands as MANY files, with group
    // keys hash-spread so min/max envelopes cover everything and only
    // the bloom probe (write.bloom-columns is auto-set on the group
    // key at create) can prune
    // the source scan stays distributed (driver decode off), so the
    // seed aggregate's write is one task per shuffle partition
    LakeTable.load(wh, "d", "src").updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    LakeTable.load(wh, "d", "src").append(
      (0L until 4000L).map(i => (i, i * 3)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvp", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvp.warehouse", wh)
    // AQE would coalesce the small seed aggregate into one file —
    // keep the shuffle partitioning so the backing table spans many
    // files, the shape a real MV has at scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try spark.sql("CALL gmvp.system.create_mat_view('d', 'roll', " +
      "'SELECT k, count(*) AS n, sum(x) AS s FROM gmvp.d.src " +
      "GROUP BY k')").collect()
    finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(LakeTable.load(wh, "d", "__mat_roll").metadata.properties
      .get("write.bloom-columns").contains("k"),
      "MV create must bloom the backing group key")
    // one-group delta → the backing read must plan a strict subset
    LakeTable.load(wh, "d", "src").append(Seq((7L, 100L)).toDF("k", "x"))
    spark.conf.set("spark.graft.matview.incr-scan-audit", "true")
    try spark.sql(
      "CALL gmvp.system.refresh_mat_view('d', 'roll', 'incremental')")
      .collect()
    finally spark.conf.unset("spark.graft.matview.incr-scan-audit")
    val (scanned, total) = graft.sources.MatViews.lastBackingScan.get
    assert(total >= 4, s"backing should span many files, got $total")
    assert(scanned < total,
      s"touched-group pruning must drop backing files: $scanned/$total")
    // and the merge is still exact
    assert(vsql("SELECT n, s FROM gmvp.d.roll WHERE k = 7").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 121L)))
    assert(vsql("SELECT count(*) AS c FROM gmvp.d.roll").collect()
      .head.getLong(0) == 4000L)
  }

  test("touched-group recompute scans only source files that can " +
      "hold touched groups; min/max come back exactly after deletes") {
    val wh = Files.createTempDirectory("graft-matview-rprune").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // 8 source files with DISJOINT group-key ranges — the touched-key
    // envelope must prune the recompute's source scan to the files
    // that can hold the touched groups
    for (b <- 0 until 8)
      LakeTable.load(wh, "d", "src").append(
        (0 until 50).map(i => (b * 100L + i, b * 1000L + i))
          .toDF("k", "x").coalesce(1))
    spark.conf.set("spark.sql.catalog.gmvrp", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvrp.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvrp.d.mm AS " +
      "SELECT k, min(x) AS mn, max(x) AS mx, count(*) AS n " +
      "FROM gmvrp.d.src GROUP BY k").collect()
    // delete the row holding group 105's MAX — the signed merge can't
    // serve this (max can't retract); the recompute must re-derive the
    // group from source, scanning only the file(s) covering k=105
    LakeTable.load(wh, "d", "src").append(
      Seq((105L, 9999L)).toDF("k", "x").coalesce(1))
    vsql("REFRESH MATERIALIZED VIEW gmvrp.d.mm INCREMENTAL").collect()
    assert(vsql("SELECT mx FROM gmvrp.d.mm WHERE k = 105").collect()
      .head.getLong(0) == 9999L)
    LakeTable.load(wh, "d", "src").deleteMoR(spark,
      col("k") === 105L && col("x") === 9999L)
    spark.conf.set("spark.graft.matview.incr-scan-audit", "true")
    try vsql("REFRESH MATERIALIZED VIEW gmvrp.d.mm INCREMENTAL")
      .collect()
    finally spark.conf.unset("spark.graft.matview.incr-scan-audit")
    val (scanned, total) = graft.sources.MatViews.lastRecomputeScan.get
    assert(total >= 8, s"source should span many files, got $total")
    assert(scanned < total,
      s"touched-key envelope must prune the source scan: " +
        s"$scanned/$total")
    // the max is back to its pre-append value — a signed merge could
    // never have produced this
    assert(vsql("SELECT mn, mx, n FROM gmvrp.d.mm WHERE k = 105")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((1005L, 1005L, 1L)))
    // untouched groups are untouched; group count intact
    assert(vsql("SELECT count(*) AS c FROM gmvrp.d.mm").collect()
      .head.getLong(0) == 400L)
    // a delete EMPTYING a group removes it from the materialization
    // through the recompute path too
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("k") === 203L)
    vsql("REFRESH MATERIALIZED VIEW gmvrp.d.mm INCREMENTAL").collect()
    assert(vsql("SELECT count(*) AS c FROM gmvrp.d.mm WHERE k = 203")
      .collect().head.getLong(0) == 0L)
    assert(vsql("SELECT count(*) AS c FROM gmvrp.d.mm").collect()
      .head.getLong(0) == 399L)
  }

  test("AVG over decimals refreshes incrementally, bit-for-bit") {
    val wh = Files.createTempDirectory("graft-matview-avg").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, String)]) = r.toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "1.5000"), ("a", "2.2500"), ("b", "7.0001"))))
    spark.conf.set("spark.sql.catalog.gmva", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmva.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmva.d.roll AS " +
      "SELECT k, avg(amt) AS a, count(*) AS n FROM gmva.d.src " +
      "GROUP BY k").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc.properties.get("graft.mat-view.incr").contains("true"),
      s"decimal AVG must be detected as maintainable: ${doc.properties}")
    // the backing table stores hidden exact sum/count parts, and the
    // fronting view projects the declared columns back out
    val backing = LakeTable.load(wh, "d", "__mat_roll")
    assert(backing.metadata.currentSchema.fieldNames.toSet ==
      Set("k", "__avg_sum_a", "__avg_cnt_a", "n"),
      backing.metadata.currentSchema.fieldNames.toSeq.toString)
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "0.0001"), ("c", "9.9999"), ("c", "0.0003"))))
    vsql("REFRESH MATERIALIZED VIEW gmva.d.roll INCREMENTAL").collect()
    val got = vsql("SELECT k, CAST(a AS STRING) AS a, n " +
      "FROM gmva.d.roll ORDER BY k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // oracle: Spark's own avg over the full source, rendered the same
    val want = LakeTable.load(wh, "d", "src").read(spark)
      .groupBy("k").agg(avg("amt").as("a"), count(lit(1)).as("n"))
      .select(col("k"), col("a").cast("string").as("a"), col("n"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("AVG over int/long stays full-refresh-only (double-buffered " +
      "upstream)") {
    val wh = Files.createTempDirectory("graft-matview-avgl").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 1L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmval", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmval.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmval.d.av AS " +
      "SELECT k, avg(x) AS a FROM gmval.d.src GROUP BY k").collect()
    assert(!graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "av")).get
      .properties.contains("graft.mat-view.incr"),
      "avg(long) must not record an incremental shape")
  }

  test("deletes and CoW updates retract incrementally; emptied groups " +
      "vanish; equality deletes refuse by name") {
    val wh = Files.createTempDirectory("graft-matview-retr").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string","required":true},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, String)]) = r.toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "1.0000"), ("a", "2.0000"), ("b", "5.0000"),
      ("c", "3.0000"))))
    spark.conf.set("spark.sql.catalog.gmvt", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvt.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvt.d.roll AS " +
      "SELECT k, count(*) AS n, sum(amt) AS s, avg(amt) AS a " +
      "FROM gmvt.d.src GROUP BY k").collect()
    // a retraction-bearing delta: CoW delete empties group c, a CoW
    // update changes one of a's rows, MoR delete removes b's row,
    // and an append adds a new group
    val src = LakeTable.load(wh, "d", "src")
    src.delete(spark, col("k") === "c")
    LakeTable.load(wh, "d", "src").update(spark,
      Map("amt" -> lit("9.0000").cast("decimal(18,4)")),
      col("k") === "a" && col("amt") === java.math.BigDecimal.valueOf(1.0))
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("k") === "b")
    LakeTable.load(wh, "d", "src").append(rows(Seq(("d", "4.0000"))))
    val r = vsql("REFRESH MATERIALIZED VIEW gmvt.d.roll INCREMENTAL")
      .collect()
    assert(r.head.getLong(1) > r.head.getLong(0), "watermark advances")
    val got = vsql("SELECT k, n, CAST(s AS STRING) AS s, " +
      "CAST(a AS STRING) AS a FROM gmvt.d.roll ORDER BY k").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getString(2),
        x.getString(3))).toSeq
    // oracle: full recompute over the live source
    val want = LakeTable.load(wh, "d", "src").read(spark)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("amt").as("s"),
        avg("amt").as("a"))
      .select(col("k"), col("n"), col("s").cast("string").as("s"),
        col("a").cast("string").as("a"))
      .orderBy("k").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getString(2),
        x.getString(3))).toSeq
    assert(got == want, s"got $got want $want")
    assert(!got.exists(_._1 == "b") && !got.exists(_._1 == "c"),
      "emptied groups must be deleted from the materialization")
    // equality deletes defeat the SIGNED merge (markers carry only
    // keys, so the deleted measures can't be re-derived) — the refresh
    // falls back to recomputing the touched groups: the marker keys
    // name the victims in the watermark image, and those rows still
    // carry their group keys in full
    LakeTable.load(wh, "d", "src").updateProperties(
      Map("identifier-fields" -> "k"))
    LakeTable.load(wh, "d", "src").upsertMoR(spark,
      rows(Seq(("d", "8.0000"))), keys = Seq("k"))
    val r2 = vsql("REFRESH MATERIALIZED VIEW gmvt.d.roll INCREMENTAL")
      .collect()
    assert(r2.head.getLong(1) > r2.head.getLong(0),
      "eq-delete range must still refresh incrementally (recompute)")
    assert(vsql("SELECT CAST(s AS STRING) AS s FROM gmvt.d.roll " +
      "WHERE k = 'd'").collect().head.getString(0) == "8.0000")
  }

  test("retracting a group's last non-null value restores NULL sum " +
      "and avg (not 0) via the hidden non-null counter") {
    val wh = Files.createTempDirectory("graft-matview-nullsum").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string","required":true},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, String)]) = r.toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(18,4)").as("amt"))
    // group a: one non-null + one NULL; group b: control
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "5.0000"), ("a", null), ("b", "2.0000"))))
    spark.conf.set("spark.sql.catalog.gmvns", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvns.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvns.d.roll AS " +
      "SELECT k, count(*) AS n, sum(amt) AS s, avg(amt) AS a " +
      "FROM gmvns.d.src GROUP BY k").collect()
    // the nullable sum was recorded with its non-null counter
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc.properties("graft.mat-view.specs").contains("sumn:"),
      doc.properties("graft.mat-view.specs"))
    // delete the ONLY non-null value of group a — the group survives
    // (n=1) but its true sum/avg is now NULL; signed merge alone would
    // serve 0
    LakeTable.load(wh, "d", "src").deleteMoR(spark,
      col("k") === "a" && col("amt").isNotNull)
    vsql("REFRESH MATERIALIZED VIEW gmvns.d.roll INCREMENTAL").collect()
    def state(): Seq[(String, Long, String, String)] =
      vsql("SELECT k, n, CAST(s AS STRING) AS s, CAST(a AS STRING) " +
        "AS a FROM gmvns.d.roll ORDER BY k").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getString(2),
          x.getString(3))).toSeq
    assert(state() == Seq(("a", 1L, null, null), ("b", 1L, "2.0000",
      "2.00000000")), state())
    // and a later non-null append revives the sum from the true base
    LakeTable.load(wh, "d", "src").append(rows(Seq(("a", "7.0000"))))
    vsql("REFRESH MATERIALIZED VIEW gmvns.d.roll INCREMENTAL").collect()
    assert(state().head == (("a", 2L, "7.0000", "7.00000000")), state())
    // a CoW update nulling the last non-null value retracts the same
    LakeTable.load(wh, "d", "src").update(spark,
      Map("amt" -> lit(null).cast("decimal(18,4)")), col("k") === "a")
    vsql("REFRESH MATERIALIZED VIEW gmvns.d.roll INCREMENTAL").collect()
    assert(state().head == (("a", 2L, null, null)), state())
  }

  test("JOIN-shaped MVs maintain incrementally on fact deltas " +
      "(append, retraction, recompute); dim deltas refuse by name") {
    val wh = Files.createTempDirectory("graft-matview-join").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"fact","columns":[
        |{"column_name":"f_cust","data_type":"long"},
        |{"column_name":"f_item","data_type":"long"},
        |{"column_name":"f_amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"cust","columns":[
        |{"column_name":"c_id","data_type":"long"},
        |{"column_name":"c_seg","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"item","columns":[
        |{"column_name":"i_id","data_type":"long"},
        |{"column_name":"i_cat","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def facts(r: Seq[(Long, Long, String)]) = r.toDF("f_cust", "f_item",
      "f_amt").select(col("f_cust"), col("f_item"),
      col("f_amt").cast("decimal(18,4)").as("f_amt"))
    LakeTable.load(wh, "d", "cust").append(
      Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "item").append(
      Seq((10L, "x"), (20L, "y")).toDF("i_id", "i_cat"))
    LakeTable.load(wh, "d", "fact").append(facts(Seq(
      (1L, 10L, "1.0"), (1L, 20L, "2.0"), (2L, 10L, "4.0"),
      (3L, 20L, "8.0"))))
    spark.conf.set("spark.sql.catalog.gmvj", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvj.warehouse", wh)
    // a two-dim star rollup grouping by DIM columns
    vsql("CREATE MATERIALIZED VIEW gmvj.d.roll AS " +
      "SELECT c_seg, i_cat, count(*) AS n, sum(f_amt) AS s " +
      "FROM gmvj.d.fact JOIN gmvj.d.cust ON f_cust = c_id " +
      "JOIN gmvj.d.item ON f_item = i_id " +
      "GROUP BY c_seg, i_cat").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc.properties.get("graft.mat-view.incr").contains("true"),
      doc.properties.toString)
    assert(doc.properties.get("graft.mat-view.dims").exists(d =>
      d.contains("cust") && d.contains("item")), doc.properties)
    // dim pins live on the backing table
    val pins = LakeTable.load(wh, "d", "__mat_roll").metadata.properties
    assert(pins.contains("graft.mat-view.dim-watermark.d.cust") &&
      pins.contains("graft.mat-view.dim-watermark.d.item"), pins)
    def state(): Set[(String, String, Long, String)] =
      vsql("SELECT c_seg, i_cat, n, CAST(s AS STRING) AS s " +
        "FROM gmvj.d.roll").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    def recompute(): Set[(String, String, Long, String)] =
      vsql("SELECT c_seg, i_cat, count(*) AS n, " +
        "CAST(sum(f_amt) AS STRING) AS s " +
        "FROM gmvj.d.fact JOIN gmvj.d.cust ON f_cust = c_id " +
        "JOIN gmvj.d.item ON f_item = i_id GROUP BY c_seg, i_cat")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getString(3))).toSet
    assert(state() == recompute(), "seed")
    // 1. fact APPEND merges as ΔF ⋈ D, additively
    LakeTable.load(wh, "d", "fact").append(facts(Seq(
      (2L, 20L, "16.0"), (3L, 10L, "32.0"))))
    val r1 = vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL")
      .collect()
    assert(r1.head.getLong(1) > r1.head.getLong(0))
    assert(state() == recompute(), "after fact append")
    // 2. fact RETRACTION (MoR delete) through the signed changelog —
    // the deleted rows join to the dims with their minus sign
    LakeTable.load(wh, "d", "fact").deleteMoR(spark,
      col("f_cust") === 1L && col("f_item") === 20L)
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "after fact retraction")
    // 3. a DIM APPEND maintains through the delta-join expansion:
    // (1L,"C") gives customer 1's UNCHANGED fact rows a second join
    // partner, so the F_w ⋈ ΔD leg must add whole new groups — the
    // hardest case, since no fact-side delta names them
    LakeTable.load(wh, "d", "cust").append(
      Seq((4L, "B"), (1L, "C")).toDF("c_id", "c_seg"))
    val r3 = vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL")
      .collect()
    assert(r3.nonEmpty, "dim append must refresh, not no-op")
    assert(state() == recompute(), "after dim append (F_w ⋈ ΔD leg)")
    // the moved dim re-pins at its head in the refresh's own flip
    val custHead = LakeTable.load(wh, "d", "cust").metadata.snapshots
      .map(_.id).max
    assert(LakeTable.load(wh, "d", "__mat_roll").metadata.properties(
      "graft.mat-view.dim-watermark.d.cust")
      .split(":")(0).toLong == custHead, "dim must re-pin at head")
    // 3b. BOTH dims and the fact move at once: ΔF⋈D_head plus one
    // sequential F_w leg per dim must telescope exactly
    LakeTable.load(wh, "d", "cust").append(
      Seq((5L, "A")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "item").append(
      Seq((20L, "z")).toDF("i_id", "i_cat"))
    LakeTable.load(wh, "d", "fact").append(facts(Seq(
      (5L, 20L, "64.0"))))
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "after two dim appends + fact append")
    // 3c. a dim DELETE removes join contributions of unchanged fact
    // rows — no insert-only leg expresses that; refuse by name, full
    // refresh re-pins, incremental works again
    LakeTable.load(wh, "d", "cust").deleteMoR(spark, col("c_id") === 4L)
    val e = intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    }
    assert(messages(e).contains("dim") &&
      messages(e).contains("full refresh"), messages(e))
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll").collect()
    assert(state() == recompute(), "after full refresh re-pin")
    LakeTable.load(wh, "d", "fact").append(facts(Seq(
      (4L, 10L, "64.0"))))
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "incremental after re-pin")
    // 4. an eq-upsert on the fact routes through the touched-group
    // recompute, still joined to the pinned dims
    LakeTable.load(wh, "d", "fact").upsertMoR(spark,
      facts(Seq((2L, 10L, "100.0"))), keys = Seq("f_cust", "f_item"))
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "after fact eq-upsert (recompute)")
    // 4b. an eq-upsert on the fact TOGETHER WITH a dim append: the
    // touched-group recompute takes its extra touched keys from the
    // dim leg and recomputes against the dim heads
    LakeTable.load(wh, "d", "cust").append(
      Seq((2L, "C")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "fact").upsertMoR(spark,
      facts(Seq((3L, 20L, "200.0"))), keys = Seq("f_cust", "f_item"))
    vsql("REFRESH MATERIALIZED VIEW gmvj.d.roll INCREMENTAL").collect()
    assert(state() == recompute(),
      "after fact eq-upsert + dim append (recompute + dim leg)")
  }

  test(".refreshes serves the refresh history (modes, strategies, " +
      "refusals); DESCRIBE EXTENDED shows the MV section") {
    val wh = Files.createTempDirectory("graft-matview-obs").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvobs", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvobs.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvobs.d.roll AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM gmvobs.d.src " +
      "GROUP BY k").collect()
    // append → incremental (append strategy); MoR delete →
    // incremental (signed); full; no-op; then a refusal (replace)
    LakeTable.load(wh, "d", "src").append(Seq(("a", 3L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvobs.d.roll INCREMENTAL").collect()
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("x") === 2L)
    vsql("REFRESH MATERIALIZED VIEW gmvobs.d.roll INCREMENTAL").collect()
    vsql("REFRESH MATERIALIZED VIEW gmvobs.d.roll").collect()
    vsql("REFRESH MATERIALIZED VIEW gmvobs.d.roll INCREMENTAL").collect()
    LakeTable.load(wh, "d", "src").overwrite(
      Seq(("z", 9L)).toDF("k", "x"))
    intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvobs.d.roll INCREMENTAL").collect()
    }
    val hist = vsql("SELECT mode, strategy, from_snapshot, " +
      "to_snapshot, groups, outcome, reason FROM gmvobs.d.roll.refreshes")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    assert(hist == Seq(
      ("incremental", "append", 1L, 2L, 1L, "ok"),
      ("incremental", "signed", 2L, 3L, 1L, "ok"),
      ("full", "recompute-all", 3L, 3L, 1L, "ok"),
      ("incremental", "no-op", 3L, 3L, 0L, "ok"),
      ("incremental", "", -1L, -1L, -1L, "refused")), hist.toString)
    // the refusal carries its reason
    val reason = vsql("SELECT reason FROM gmvobs.d.roll.refreshes " +
      "WHERE outcome = 'refused'").collect().head.getString(0)
    assert(reason.contains("full refresh"), reason)
    // DESCRIBE EXTENDED: the MV section with backing table, shape,
    // authoritative watermark, and the last refresh
    val desc = vsql("DESCRIBE EXTENDED gmvobs.d.roll").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.contains("# Materialized View Information"), desc)
    assert(desc.get("Backing Table").contains("d.__mat_roll"))
    assert(desc.get("Incremental Shape").exists(_.contains("retractable")),
      desc.get("Incremental Shape"))
    assert(desc.get("Watermark (authoritative)").contains("3"))
    assert(desc.get("Last Refresh").exists(_.contains("refused")),
      desc.get("Last Refresh"))
    // DROP removes the history sidecar with the view
    vsql("DROP VIEW gmvobs.d.roll").collect()
    assert(!Files.exists(graft.sources.LakeViews.refreshLogPath(
      wh, "d", "roll")), "drop must remove the refresh history")
  }

  test("a join with AMBIGUOUS referenced names stays " +
      "full-refresh-only (qualifier-stripped SQL could rebind)") {
    val wh = Files.createTempDirectory("graft-matview-amb").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"f","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"long"}],"partitions":[]}""".stripMargin)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"g","columns":[
        |{"column_name":"gid","data_type":"long"},
        |{"column_name":"v","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "f").append(
      Seq((1L, 5L)).toDF("id", "v"))
    LakeTable.load(wh, "d", "g").append(
      Seq((1L, 7L)).toDF("gid", "v"))
    spark.conf.set("spark.sql.catalog.gmvamb", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvamb.warehouse", wh)
    // `v` exists on BOTH sides and the aggregate references it —
    // persisted as bare `v` it could rebind; the shape must refuse
    // (full-refresh-only), not guess
    vsql("CREATE MATERIALIZED VIEW gmvamb.d.amb AS " +
      "SELECT id, sum(f.v) AS s FROM gmvamb.d.f f " +
      "JOIN gmvamb.d.g g ON id = gid GROUP BY id").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "amb")).get
    assert(!doc.properties.contains("graft.mat-view.incr"),
      doc.properties.toString)
    // the view still serves, and full refresh works
    assert(vsql("SELECT s FROM gmvamb.d.amb").collect()
      .head.getLong(0) == 5L)
    vsql("REFRESH MATERIALIZED VIEW gmvamb.d.amb").collect()
    assert(vsql("SELECT s FROM gmvamb.d.amb").collect()
      .head.getLong(0) == 5L)
  }

  test("GROUP BY columns missing from the output refuse the " +
      "incremental shape (coarser materialization would be wrong)") {
    val wh = Files.createTempDirectory("graft-matview-coarse").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k1","data_type":"string"},
        |{"column_name":"k2","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(
      ("a", "p", 1L), ("a", "q", 2L), ("b", "p", 3L))
      .toDF("k1", "k2", "x"))
    spark.conf.set("spark.sql.catalog.gmvc", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvc.warehouse", wh)
    // groups by (k1, k2) but only projects k1: one row per (k1, k2)
    vsql("CREATE MATERIALIZED VIEW gmvc.d.byk AS " +
      "SELECT k1, sum(x) AS s FROM gmvc.d.src GROUP BY k1, k2")
      .collect()
    assert(!graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "byk")).get
      .properties.contains("graft.mat-view.incr"),
      "a grouping column outside the output must refuse the shape")
    // the materialization still honors the defining query exactly
    assert(vsql("SELECT k1, s FROM gmvc.d.byk ORDER BY k1, s").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("a", 2L), ("b", 3L)))
  }

  test("the declared column order survives SELECT * even though " +
      "storage is groups-first") {
    val wh = Files.createTempDirectory("graft-matview-order").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 5L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvo", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvo.warehouse", wh)
    // aggregate FIRST, key second — storage is (k, n) but the view
    // must serve (n, k)
    vsql("CREATE MATERIALIZED VIEW gmvo.d.ord AS " +
      "SELECT count(*) AS n, k FROM gmvo.d.src GROUP BY k").collect()
    val star = vsql("SELECT * FROM gmvo.d.ord").collect().head
    assert(vsql("SELECT * FROM gmvo.d.ord").schema.fieldNames.toSeq ==
      Seq("n", "k"))
    assert((star.getLong(0), star.getString(1)) == ((1L, "a")))
    // and the incremental path preserves it too
    LakeTable.load(wh, "d", "src").append(Seq(("a", 6L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvo.d.ord INCREMENTAL").collect()
    val after = vsql("SELECT * FROM gmvo.d.ord").collect().head
    assert((after.getLong(0), after.getString(1)) == ((2L, "a")))
  }

  test("NULL group keys in the delta refuse incremental merge; full " +
      "refresh serves them") {
    val wh = Files.createTempDirectory("graft-matview-nullkey").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvn", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvn.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvn.d.roll AS " +
      "SELECT k, count(*) AS n FROM gmvn.d.src GROUP BY k").collect()
    // a NULL-key row lands in the delta: equality join/upsert can't
    // merge it — refuse by name rather than split the group
    LakeTable.load(wh, "d", "src").append(
      Seq((Option.empty[String], 2L), (Some("a"), 3L)).toDF("k", "x"))
    val e = intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvn.d.roll INCREMENTAL").collect()
    }
    assert(messages(e).contains("NULL group keys"), messages(e))
    vsql("REFRESH MATERIALIZED VIEW gmvn.d.roll").collect()
    val got = vsql("SELECT k, n FROM gmvn.d.roll ORDER BY k").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(got == Seq((None, 1L), (Some("a"), 2L)), got.toString)
  }

  test("SHOW CREATE VIEW on an MV emits the real MV definition, and " +
      "it round-trips") {
    val wh = Files.createTempDirectory("graft-matview-show").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 1L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvsh", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvsh.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvsh.d.agg AS " +
      "SELECT k, sum(x) AS s FROM gmvsh.d.src GROUP BY k").collect()
    val stmt = vsql("SHOW CREATE VIEW gmvsh.d.agg").collect()
      .head.getString(0)
    assert(stmt.startsWith("CREATE MATERIALIZED VIEW gmvsh.d.agg"),
      stmt)
    assert(stmt.contains("FROM gmvsh.d.src") &&
      !stmt.contains("__mat_"),
      s"must emit the defining query, not storage internals: $stmt")
    vsql("DROP MATERIALIZED VIEW gmvsh.d.agg").collect()
    vsql(stmt).collect()
    assert(vsql("SELECT k, s FROM gmvsh.d.agg").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 1L)))
    // IF NOT EXISTS must not swallow a PLAIN view of the same name
    vsql("CREATE VIEW gmvsh.d.plain AS SELECT k FROM gmvsh.d.src")
      .collect()
    val e = intercept[Exception] {
      vsql("CREATE MATERIALIZED VIEW IF NOT EXISTS gmvsh.d.plain AS " +
        "SELECT 1 AS one").collect()
    }
    assert(messages(e).contains("already exists"), messages(e))
  }

  test("a WHERE over the source stays incrementally maintainable, " +
      "appends and retractions both") {
    val wh = Files.createTempDirectory("graft-matview-where").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(
      ("a", 5L), ("a", 20L), ("b", 30L), ("b", 7L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvw", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvw.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvw.d.roll AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM gmvw.d.src " +
      "WHERE x >= 10 GROUP BY k").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc.properties.get("graft.mat-view.incr").contains("true"),
      s"filtered aggregate must record the shape: ${doc.properties}")
    assert(doc.properties.contains("graft.mat-view.filter"),
      doc.properties.toString)
    // the filter applied at seed time: only x >= 10 rows counted
    def state(): Seq[(String, Long, Long)] =
      vsql("SELECT k, n, s FROM gmvw.d.roll ORDER BY k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(state() == Seq(("a", 1L, 20L), ("b", 1L, 30L)))
    // an append with matching AND non-matching rows merges only the
    // matches
    LakeTable.load(wh, "d", "src").append(Seq(
      ("a", 100L), ("a", 1L), ("c", 50L), ("c", 2L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvw.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", 2L, 120L), ("b", 1L, 30L),
      ("c", 1L, 50L)))
    // retraction through the same filter: deleting a NON-matching row
    // changes nothing; deleting matching rows retracts them
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("x") === 1L)
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("k") === "b")
    vsql("REFRESH MATERIALIZED VIEW gmvw.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", 2L, 120L), ("c", 1L, 50L)),
      "the b group emptied through the filter; the x=1 delete is " +
        "invisible to it")
  }

  test("expression group keys and aggregate arguments maintain " +
      "incrementally") {
    val wh = Files.createTempDirectory("graft-matview-expr").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"},
        |{"column_name":"y","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(
      ("ap", 2L, 3L), ("aq", 5L, 7L), ("bx", 1L, 1L))
      .toDF("k", "x", "y"))
    spark.conf.set("spark.sql.catalog.gmve", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmve.warehouse", wh)
    // group key = substr expression, sum argument = x * y expression
    vsql("CREATE MATERIALIZED VIEW gmve.d.roll AS " +
      "SELECT substring(k, 1, 1) AS pre, sum(x * y) AS sxy, " +
      "count(*) AS n FROM gmve.d.src GROUP BY substring(k, 1, 1)")
      .collect()
    assert(graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
      .properties.get("graft.mat-view.incr").contains("true"),
      "expression shapes must record incrementally")
    def state(): Seq[(String, Long, Long)] =
      vsql("SELECT pre, sxy, n FROM gmve.d.roll ORDER BY pre").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(state() == Seq(("a", 41L, 2L), ("b", 1L, 1L)))
    LakeTable.load(wh, "d", "src").append(Seq(
      ("ar", 10L, 10L), ("cz", 4L, 4L)).toDF("k", "x", "y"))
    vsql("REFRESH MATERIALIZED VIEW gmve.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", 141L, 3L), ("b", 1L, 1L),
      ("c", 16L, 1L)))
    // retraction evaluates the same expressions over the changelog
    LakeTable.load(wh, "d", "src").deleteMoR(spark, col("k") === "bx")
    vsql("REFRESH MATERIALIZED VIEW gmve.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", 141L, 3L), ("c", 16L, 1L)))
  }

  test("time-zone-sensitive shapes pin the session zone: mismatched " +
      "incremental refuses, full refresh re-pins") {
    val wh = Files.createTempDirectory("graft-matview-tz").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"ts","data_type":"timestamp"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, Long)]) = r.toDF("s", "x")
      .select(to_timestamp(col("s")).as("ts"), col("x"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("2024-03-01 10:00:00", 1L), ("2024-03-01 23:30:00", 2L))))
    spark.conf.set("spark.sql.catalog.gmvtz", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvtz.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvtz.d.daily AS " +
      "SELECT date_trunc('DAY', ts) AS day, count(*) AS n " +
      "FROM gmvtz.d.src GROUP BY date_trunc('DAY', ts)").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "daily")).get
    assert(doc.properties.contains("graft.mat-view.tz"),
      s"date_trunc shapes must pin the zone: ${doc.properties}")
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("2024-03-02 01:00:00", 3L))))
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // a differently-zoned session would bucket the delta into
      // DIFFERENT days than the materialization — refuse by name
      val e = intercept[Exception] {
        vsql("REFRESH MATERIALIZED VIEW gmvtz.d.daily INCREMENTAL")
          .collect()
      }
      assert(messages(e).contains("time zone"), messages(e))
      // full refresh recomputes under the new zone and RE-PINS it —
      // authoritatively on the BACKING TABLE (same transaction as the
      // rebucketed data, so a crash can't split them), advisorily on
      // the doc
      vsql("REFRESH MATERIALIZED VIEW gmvtz.d.daily").collect()
      assert(LakeTable.load(wh, "d", "__mat_daily")
        .metadata.properties.get("graft.mat-view.tz")
        .contains("America/New_York"),
        "tz must re-pin inside the backing-table transaction")
      assert(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "d", "daily")).get
        .properties.get("graft.mat-view.tz")
        .contains("America/New_York"))
      // ... after which incremental works again in this session
      LakeTable.load(wh, "d", "src").append(rows(Seq(
        ("2024-03-02 12:00:00", 4L))))
      vsql("REFRESH MATERIALIZED VIEW gmvtz.d.daily INCREMENTAL")
        .collect()
      // exact vs a recompute under the SAME session zone
      val got = vsql("SELECT day, n FROM gmvtz.d.daily ORDER BY day")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
      val want = LakeTable.load(wh, "d", "src").read(spark)
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("n")).orderBy("day")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
      assert(got == want, s"got $got want $want")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("HAVING maintains incrementally: threshold crossings appear " +
      "and disappear; unselected aggregates materialize hidden") {
    val wh = Files.createTempDirectory("graft-matview-having").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"amt","data_type":"decimal(18,4)"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def rows(r: Seq[(String, String)]) = r.toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(18,4)").as("amt"))
    LakeTable.load(wh, "d", "src").append(rows(Seq(
      ("a", "1.0000"), ("a", "2.0000"), ("b", "5.0000"))))
    spark.conf.set("spark.sql.catalog.gmvh", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvh.warehouse", wh)
    // the HAVING references count(*), which is NOT selected — it
    // materializes as a hidden storage aggregate
    vsql("CREATE MATERIALIZED VIEW gmvh.d.roll AS " +
      "SELECT k, sum(amt) AS s FROM gmvh.d.src GROUP BY k " +
      "HAVING count(*) > 1").collect()
    val doc = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
    assert(doc.properties.get("graft.mat-view.incr").contains("true"),
      doc.properties.toString)
    assert(doc.properties.contains("graft.mat-view.having") &&
      doc.properties.contains("graft.mat-view.visible"),
      doc.properties.toString)
    // the hidden count doubles as the retraction row counter; the
    // nullable sum carries its non-null counter
    val backing = LakeTable.load(wh, "d", "__mat_roll")
    assert(backing.metadata.currentSchema.fieldNames.toSet ==
      Set("k", "s", "__sum_cnt_s", "__having_0"),
      backing.metadata.currentSchema.fieldNames.toSeq.toString)
    def state(): Seq[(String, String)] =
      vsql("SELECT k, CAST(s AS STRING) AS s FROM gmvh.d.roll " +
        "ORDER BY k").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(state() == Seq(("a", "3.0000")),
      "only groups past the threshold are served")
    // b crosses the threshold through an incremental append ...
    LakeTable.load(wh, "d", "src").append(rows(Seq(("b", "4.0000"))))
    vsql("REFRESH MATERIALIZED VIEW gmvh.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", "3.0000"), ("b", "9.0000")))
    // ... and a falls back under it through a retraction
    LakeTable.load(wh, "d", "src").deleteMoR(spark,
      col("k") === "a" && col("amt") === java.math.BigDecimal.valueOf(2.0))
    vsql("REFRESH MATERIALIZED VIEW gmvh.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("b", "9.0000")),
      "a dropped below the threshold but stays materialized (hidden)")
    // the under-threshold group is still MAINTAINED, just not served
    LakeTable.load(wh, "d", "src").append(rows(Seq(("a", "0.5000"))))
    vsql("REFRESH MATERIALIZED VIEW gmvh.d.roll INCREMENTAL").collect()
    assert(state() == Seq(("a", "1.5000"), ("b", "9.0000")))
  }

  test("a column subset/reorder over a grouped subquery still " +
      "records the shape") {
    val wh = Files.createTempDirectory("graft-matview-proj").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvp2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvp2.warehouse", wh)
    // the subquery computes count(*) too; the outer SELECT drops it
    // and reorders — the shape must still detect (count hidden)
    vsql("CREATE MATERIALIZED VIEW gmvp2.d.roll AS " +
      "SELECT s, k FROM (SELECT k, count(*) AS n, sum(x) AS s " +
      "FROM gmvp2.d.src GROUP BY k) t").collect()
    assert(graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
      .properties.get("graft.mat-view.incr").contains("true"))
    LakeTable.load(wh, "d", "src").append(Seq(("a", 10L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvp2.d.roll INCREMENTAL").collect()
    val got = vsql("SELECT * FROM gmvp2.d.roll ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((11L, "a"), (2L, "b")), got.toString)
    assert(vsql("SELECT * FROM gmvp2.d.roll").schema.fieldNames.toSeq ==
      Seq("s", "k"), "declared order: s first")
  }

  test("an unselected, unreferenced double-sum is pruned instead of " +
      "forfeiting the shape; count(NULL) is not a row count") {
    val wh = Files.createTempDirectory("graft-matview-prune2").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"},
        |{"column_name":"dv","data_type":"double"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L, 0.5), ("a", 2L, 1.5)).toDF("k", "x", "dv"))
    spark.conf.set("spark.sql.catalog.gmvu", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvu.warehouse", wh)
    // the dropped sum(dv) over a DOUBLE would refuse the shape if it
    // were materialized — pruning it keeps the visible query
    // incrementally maintainable
    vsql("CREATE MATERIALIZED VIEW gmvu.d.roll AS " +
      "SELECT k, n FROM (SELECT k, count(*) AS n, sum(dv) AS sd " +
      "FROM gmvu.d.src GROUP BY k) t").collect()
    assert(graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
      .properties.get("graft.mat-view.incr").contains("true"),
      "dropping the unreferenced double-sum must keep the shape")
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 3L, 9.0)).toDF("k", "x", "dv"))
    vsql("REFRESH MATERIALIZED VIEW gmvu.d.roll INCREMENTAL").collect()
    assert(vsql("SELECT n FROM gmvu.d.roll WHERE k = 'a'").collect()
      .head.getLong(0) == 3L)
    // count(NULL) is the constant 0 per group, NOT a row count
    vsql("CREATE MATERIALIZED VIEW gmvu.d.cn AS " +
      "SELECT k, count(NULL) AS z, count(*) AS n FROM gmvu.d.src " +
      "GROUP BY k").collect()
    val rows = vsql("SELECT k, z, n FROM gmvu.d.cn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", 0L, 3L)), rows.toString)
  }

  test("an expire-squash inside the refresh range refuses by name " +
      "(silent row loss); pre-watermark expiry stays fine") {
    val wh = Files.createTempDirectory("graft-matview-expire").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 1L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvex2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvex2.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvex2.d.roll AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM gmvex2.d.src " +
      "GROUP BY k").collect()
    // two post-watermark appends, then expire squashes the FIRST of
    // them away — its per-commit delta no longer exists
    LakeTable.load(wh, "d", "src").append(Seq(("b", 2L)).toDF("k", "x"))
    val midHead = LakeTable.load(wh, "d", "src")
      .metadata.snapshots.map(_.id).max
    LakeTable.load(wh, "d", "src").append(Seq(("c", 3L)).toDF("k", "x"))
    LakeTable.load(wh, "d", "src").expireSnapshots(keepAfter = midHead)
    val e = intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvex2.d.roll INCREMENTAL")
        .collect()
    }
    // the watermark-identity guard catches this first (the squash
    // expired the watermark snapshot itself); both refusals are
    // correct and both name full refresh as the recovery
    assert(messages(e).contains("expired/squashed") ||
      messages(e).contains("no longer exists"), messages(e))
    // full refresh recovers, with the squashed rows intact
    vsql("REFRESH MATERIALIZED VIEW gmvex2.d.roll").collect()
    assert(vsql("SELECT k, n, s FROM gmvex2.d.roll ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("a", 1L, 1L), ("b", 1L, 2L), ("c", 1L, 3L)))
    // expiry that stays AT or BEFORE the (re-pinned) watermark is
    // invisible to later incremental refreshes
    LakeTable.load(wh, "d", "src").append(Seq(("d", 4L)).toDF("k", "x"))
    val preW = graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "roll")).get
      .properties("graft.mat-view.watermark").toLong
    LakeTable.load(wh, "d", "src").expireSnapshots(keepAfter = preW)
    vsql("REFRESH MATERIALIZED VIEW gmvex2.d.roll INCREMENTAL").collect()
    assert(vsql("SELECT s FROM gmvex2.d.roll WHERE k = 'd'").collect()
      .head.getLong(0) == 4L)
  }

  test("a source rollback through the watermark refuses — even when " +
      "later appends re-use the freed snapshot ids") {
    val wh = Files.createTempDirectory("graft-matview-rb").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 1L)).toDF("k", "x"))
    val base = LakeTable.load(wh, "d", "src")
      .metadata.snapshots.map(_.id).max
    LakeTable.load(wh, "d", "src").append(Seq(("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvrb", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvrb.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvrb.d.roll AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM gmvrb.d.src " +
      "GROUP BY k").collect()
    // rollback BELOW the watermark, then re-append until the head id
    // passes it again — the id names a DIFFERENT commit now
    LakeTable.load(wh, "d", "src").rollbackTo(base)
    Thread.sleep(3) // ms-resolution commit stamps must differ
    LakeTable.load(wh, "d", "src").append(Seq(("c", 9L)).toDF("k", "x"))
    LakeTable.load(wh, "d", "src").append(Seq(("d", 8L)).toDF("k", "x"))
    val e = intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvrb.d.roll INCREMENTAL")
        .collect()
    }
    assert(messages(e).contains("rollback") ||
      messages(e).contains("rolled back"), messages(e))
    // full refresh reconciles against the post-rollback truth
    vsql("REFRESH MATERIALIZED VIEW gmvrb.d.roll").collect()
    assert(vsql("SELECT k FROM gmvrb.d.roll ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "c", "d"),
      "the rolled-back b must be gone")
    // and incremental works again from the re-pinned watermark
    LakeTable.load(wh, "d", "src").append(Seq(("e", 7L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvrb.d.roll INCREMENTAL").collect()
    assert(vsql("SELECT s FROM gmvrb.d.roll WHERE k = 'e'").collect()
      .head.getLong(0) == 7L)
  }

  test("double sums stay full-refresh-only, with a named refusal") {
    val wh = Files.createTempDirectory("graft-matview-dbl").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"v","data_type":"double"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1.5)).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gmvd", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvd.warehouse", wh)
    spark.sql("CALL gmvd.system.create_mat_view('d', 'dv', " +
      "'SELECT k, sum(v) AS s FROM gmvd.d.src GROUP BY k')").collect()
    assert(!graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "dv")).get
      .properties.contains("graft.mat-view.incr"),
      "a double SUM must not record an incremental shape")
    val e = intercept[Exception] {
      spark.sql(
        "CALL gmvd.system.refresh_mat_view('d', 'dv', 'incremental')")
        .collect()
    }
    assert(e.getMessage.contains("not a materialized view") ||
      e.getMessage.contains("no recorded incremental"), e.getMessage)
    // full refresh still works
    spark.sql("CALL gmvd.system.refresh_mat_view('d', 'dv')").collect()
    assert(vsql("SELECT s FROM gmvd.d.dv").collect()
      .head.getDouble(0) == 1.5)
  }

  test("SQL DDL: CREATE / REFRESH [INCREMENTAL] / DROP MATERIALIZED " +
      "VIEW drive the same lifecycle as the procedures") {
    val wh = Files.createTempDirectory("graft-matview-sql").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvs", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvs.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvs.d.agg AS " +
      "SELECT k, count(*) AS n, sum(x) AS s FROM gmvs.d.src GROUP BY k")
      .collect()
    assert(LakeTable.exists(wh, "d", "__mat_agg"))
    // IF NOT EXISTS is a no-op on an existing MV
    vsql("CREATE MATERIALIZED VIEW IF NOT EXISTS gmvs.d.agg AS " +
      "SELECT 1 AS one").collect()
    assert(vsql("SELECT k, n, s FROM gmvs.d.agg ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    // INCREMENTAL refresh returns the merged snapshot range
    LakeTable.load(wh, "d", "src").append(Seq(("a", 9L)).toDF("k", "x"))
    val r = vsql("REFRESH MATERIALIZED VIEW gmvs.d.agg INCREMENTAL")
      .collect()
    assert(r.head.getLong(1) > r.head.getLong(0),
      "watermark must advance")
    assert(vsql("SELECT s FROM gmvs.d.agg WHERE k = 'a'").collect()
      .head.getLong(0) == 10L)
    // DROP MATERIALIZED VIEW refuses a plain view by name ...
    vsql("CREATE VIEW gmvs.d.plain AS SELECT k FROM gmvs.d.src").collect()
    val e = intercept[Exception] {
      vsql("DROP MATERIALIZED VIEW gmvs.d.plain").collect()
    }
    assert(messages(e).contains("not a materialized view"), messages(e))
    // ... and removes an MV together with its backing table
    vsql("DROP MATERIALIZED VIEW gmvs.d.agg").collect()
    assert(!LakeTable.exists(wh, "d", "__mat_agg"))
    vsql("DROP MATERIALIZED VIEW IF EXISTS gmvs.d.agg").collect()
    intercept[Exception] {
      vsql("DROP MATERIALIZED VIEW gmvs.d.agg").collect()
    }
  }

  test("dropping an MV removes its backing table; the name is reusable") {
    val wh = Files.createTempDirectory("graft-matview3").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(Seq(("a", 1L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmv3", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmv3.warehouse", wh)
    spark.sql("CALL gmv3.system.create_mat_view('d', 'm', " +
      "'SELECT k, sum(x) AS s FROM gmv3.d.src GROUP BY k')").collect()
    assert(LakeTable.exists(wh, "d", "__mat_m"))
    vsql("DROP VIEW gmv3.d.m").collect()
    assert(!LakeTable.exists(wh, "d", "__mat_m"),
      "dropping the MV must drop its backing table")
    // the name is immediately reusable
    spark.sql("CALL gmv3.system.create_mat_view('d', 'm', " +
      "'SELECT count(*) AS n FROM gmv3.d.src')").collect()
    assert(vsql("SELECT n FROM gmv3.d.m").collect().head.getLong(0) == 1L)
    // an MV named after an existing TABLE refuses (it would shadow it)
    val e = intercept[Exception] {
      spark.sql("CALL gmv3.system.create_mat_view('d', 'src', " +
        "'SELECT 1 AS one')").collect()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // an ORPHAN backing table (a create that crashed between the
    // table and the view registration) must not brick a retried
    // CREATE: no fronting view exists, so the orphan is cleared.
    // A real crashed CREATE always stamped graft.mat-view.backing —
    // an UNSTAMPED table under the prefix refuses instead
    // (MatViewHardeningSpec)
    vsql("DROP VIEW gmv3.d.m").collect()
    LakeTable.create(wh, graft.schema.TableDef("d", "__mat_m",
      Seq(graft.schema.TypeMapper.toColumnDef("junk",
        org.apache.spark.sql.types.LongType, true)), Seq.empty,
      Map("graft.mat-view.backing" -> "m")))
    assert(LakeTable.exists(wh, "d", "__mat_m"))
    spark.sql("CALL gmv3.system.create_mat_view('d', 'm', " +
      "'SELECT count(*) AS n FROM gmv3.d.src')").collect()
    assert(vsql("SELECT n FROM gmv3.d.m").collect().head.getLong(0) == 1L,
      "a retried CREATE must replace the orphan backing table")
  }

  test("ALTER MATERIALIZED VIEW: property edits and rename; a rename " +
      "keeps the backing table claimed (recreate under the old name " +
      "refuses)") {
    val wh = Files.createTempDirectory("graft-matview-alter").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmvalter", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvalter.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvalter.d.m AS " +
      "SELECT k, sum(x) AS s FROM gmvalter.d.src GROUP BY k").collect()
    vsql("ALTER MATERIALIZED VIEW gmvalter.d.m SET TBLPROPERTIES " +
      "('team'='curation')").collect()
    assert(graft.sources.LakeViews.read(
      graft.sources.LakeViews.path(wh, "d", "m")).get
      .properties.get("team").contains("curation"))
    vsql("ALTER MATERIALIZED VIEW gmvalter.d.m UNSET TBLPROPERTIES " +
      "('team')").collect()
    // rename: the MV stays readable AND refreshable under its new
    // name; refresh history follows it
    vsql("REFRESH MATERIALIZED VIEW gmvalter.d.m").collect()
    vsql("ALTER MATERIALIZED VIEW gmvalter.d.m RENAME TO gmvalter.d.m2")
      .collect()
    LakeTable.load(wh, "d", "src").append(Seq(("a", 10L)).toDF("k", "x"))
    vsql("REFRESH MATERIALIZED VIEW gmvalter.d.m2 INCREMENTAL").collect()
    assert(vsql("SELECT s FROM gmvalter.d.m2 WHERE k = 'a'").collect()
      .head.getLong(0) == 11L)
    assert(vsql("SELECT count(*) AS c FROM gmvalter.d.m2.refreshes")
      .collect().head.getLong(0) == 2L,
      "refresh history must follow the rename")
    // the old name is free for a PLAIN view, but a new MV under it
    // must NOT steal m2's backing table (__mat_m still belongs to m2)
    val e = intercept[Exception] {
      vsql("CREATE MATERIALIZED VIEW gmvalter.d.m AS " +
        "SELECT count(*) AS n FROM gmvalter.d.src").collect()
    }
    assert(messages(e).contains("belongs to another"), messages(e))
    assert(vsql("SELECT s FROM gmvalter.d.m2 WHERE k = 'a'").collect()
      .head.getLong(0) == 11L, "m2 must survive the refused create")
  }

  test("an MV can be defined over another view; duplicate name refuses") {
    val wh = Files.createTempDirectory("graft-matview2").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "src").append(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    spark.conf.set("spark.sql.catalog.gmv2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmv2.warehouse", wh)
    vsql("CREATE VIEW gmv2.d.doubled AS " +
      "SELECT k, x * 2 AS x2 FROM gmv2.d.src").collect()
    spark.sql("CALL gmv2.system.create_mat_view('d', 'magg', " +
      "'SELECT k, sum(x2) AS s FROM gmv2.d.doubled GROUP BY k')").collect()
    assert(vsql("SELECT k, s FROM gmv2.d.magg ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 4L)))
    val e = intercept[Exception] {
      spark.sql("CALL gmv2.system.create_mat_view('d', 'magg', " +
        "'SELECT 1 AS one')").collect()
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("dim byte-moves (compaction) are tolerated by incremental " +
      "refresh and re-pinned; a real dim delta still refuses") {
    val wh = Files.createTempDirectory("graft-matview-dimbm").toString
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
    // two dim appends → two files, so compaction has bytes to move
    LakeTable.load(wh, "d", "cust").append(
      Seq((1L, "A"), (2L, "B")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "cust").append(
      Seq((3L, "A")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "fact").append(
      Seq((1L, 10L), (2L, 20L), (3L, 40L)).toDF("f_cust", "f_amt"))
    spark.conf.set("spark.sql.catalog.gmvbm", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvbm.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvbm.d.roll AS " +
      "SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM gmvbm.d.fact JOIN gmvbm.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg").collect()
    val pinKey = "graft.mat-view.dim-watermark.d.cust"
    def pin(): String = LakeTable.load(wh, "d", "__mat_roll")
      .metadata.properties(pinKey)
    def state(): Set[(String, Long, Long)] =
      vsql("SELECT c_seg, n, s FROM gmvbm.d.roll").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def recompute(): Set[(String, Long, Long)] =
      vsql("SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
        "FROM gmvbm.d.fact JOIN gmvbm.d.cust ON f_cust = c_id " +
        "GROUP BY c_seg").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val pin0 = pin()
    // 1. dim COMPACTION (byte-move, same rows) + fact append: the
    // incremental refresh must accept, merge the fact delta, and
    // re-pin the dim at its compacted head in the same flip
    val dim = LakeTable.load(wh, "d", "cust")
    dim.compact(spark)
    val dimHead = LakeTable.load(wh, "d", "cust").metadata.snapshots
      .map(_.id).max
    LakeTable.load(wh, "d", "fact").append(
      Seq((3L, 80L)).toDF("f_cust", "f_amt"))
    vsql("REFRESH MATERIALIZED VIEW gmvbm.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "after dim compaction + fact append")
    assert(pin() != pin0 && pin().split(":")(0).toLong == dimHead,
      s"byte-moved dim must be re-pinned at its head: ${pin()}")
    // 2. byte-move with the FACT unmoved: the no-op refresh still
    // publishes the re-pin (so the superseded dim snapshot can expire)
    LakeTable.load(wh, "d", "cust").compact(spark)
    val dimHead2 = LakeTable.load(wh, "d", "cust").metadata.snapshots
      .map(_.id).max
    vsql("REFRESH MATERIALIZED VIEW gmvbm.d.roll INCREMENTAL").collect()
    assert(pin().split(":")(0).toLong == dimHead2,
      s"no-op refresh must still re-pin the byte-moved dim: ${pin()}")
    assert(state() == recompute(), "no-op refresh changes nothing")
    // 3. a dim APPEND (past the byte-moves) maintains through the
    // delta-join expansion together with the fact delta, and re-pins
    LakeTable.load(wh, "d", "cust").append(
      Seq((4L, "B")).toDF("c_id", "c_seg"))
    LakeTable.load(wh, "d", "fact").append(
      Seq((4L, 160L)).toDF("f_cust", "f_amt"))
    vsql("REFRESH MATERIALIZED VIEW gmvbm.d.roll INCREMENTAL").collect()
    assert(state() == recompute(), "dim append + fact append maintain")
    val dimHead3 = LakeTable.load(wh, "d", "cust").metadata.snapshots
      .map(_.id).max
    assert(pin().split(":")(0).toLong == dimHead3,
      s"dim-delta refresh must re-pin at the dim head: ${pin()}")
    // 4. a dim movement that REMOVES rows (CoW delete) still refuses
    // by name — no insert-only leg can retract a join contribution
    LakeTable.load(wh, "d", "cust").delete(spark, col("c_id") === 4L)
    val e = intercept[Exception] {
      vsql("REFRESH MATERIALIZED VIEW gmvbm.d.roll INCREMENTAL").collect()
    }
    assert(messages(e).contains("dim") &&
      messages(e).contains("full refresh"), messages(e))
    vsql("REFRESH MATERIALIZED VIEW gmvbm.d.roll").collect()
    assert(state() == recompute(), "full refresh re-pins past the delete")
  }

  test("the eq-delete pre-image scan prunes source files by the " +
      "marker-key envelope") {
    val wh = Files.createTempDirectory("graft-matview-eqprune").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"src","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"x","data_type":"long"}],"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // 8 disjoint-range files — the marker envelope must prune the
    // pre-watermark victim scan to the file(s) covering the upserted
    // keys, not rescan the whole watermark image
    for (b <- 0 until 8)
      LakeTable.load(wh, "d", "src").append(
        (0 until 50).map(i => (b * 100L + i, b * 1000L + i))
          .toDF("k", "x").coalesce(1))
    spark.conf.set("spark.sql.catalog.gmveq", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmveq.warehouse", wh)
    // min/max defeats signed merging, so the eq-upsert routes through
    // the touched-group recompute (the path that reads the pre-image)
    vsql("CREATE MATERIALIZED VIEW gmveq.d.mm AS " +
      "SELECT k, min(x) AS mn, max(x) AS mx, count(*) AS n " +
      "FROM gmveq.d.src GROUP BY k").collect()
    LakeTable.load(wh, "d", "src").upsertMoR(spark,
      Seq((305L, 7L)).toDF("k", "x"), keys = Seq("k"))
    spark.conf.set("spark.graft.matview.incr-scan-audit", "true")
    try vsql("REFRESH MATERIALIZED VIEW gmveq.d.mm INCREMENTAL").collect()
    finally spark.conf.unset("spark.graft.matview.incr-scan-audit")
    val (scanned, total) = graft.sources.MatViews.lastEqPreImageScan.get
    assert(total >= 8, s"pre-image should span many files, got $total")
    assert(scanned < total,
      s"marker envelope must prune the pre-image scan: $scanned/$total")
    assert(vsql("SELECT mn, mx, n FROM gmveq.d.mm WHERE k = 305")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((7L, 7L, 1L)))
    assert(vsql("SELECT count(*) AS c FROM gmveq.d.mm").collect()
      .head.getLong(0) == 400L)
  }

  test("CALL expire_snapshots never squashes past an MV watermark or " +
      "dim pin — incremental refresh survives routine retention") {
    val wh = Files.createTempDirectory("graft-matview-expire").toString
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
      Seq((1L, "A"), (2L, "B")).toDF("c_id", "c_seg"))
    for (i <- 1 to 3)
      LakeTable.load(wh, "d", "fact").append(
        Seq((1L, i * 10L), (2L, i * 100L)).toDF("f_cust", "f_amt"))
    spark.conf.set("spark.sql.catalog.gmvex", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvex.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvex.d.roll AS " +
      "SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM gmvex.d.fact JOIN gmvex.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg").collect()
    val wm = LakeTable.load(wh, "d", "__mat_roll").metadata
      .properties("graft.mat-view.watermark").toLong
    // two more fact commits past the watermark, then retention asking
    // to squash EVERYTHING — the cap must hold the line at the
    // watermark so (wm, head] stays replayable
    for (i <- 4 to 5)
      LakeTable.load(wh, "d", "fact").append(
        Seq((1L, i * 10L)).toDF("f_cust", "f_amt"))
    val factHead = LakeTable.load(wh, "d", "fact").metadata
      .snapshots.map(_.id).max
    val wmSnapBefore = LakeTable.load(wh, "d", "fact").metadata
      .snapshots.find(_.id == wm).get
    spark.sql(s"CALL gmvex.system.expire_snapshots('d', 'fact', " +
      s"$factHead)").collect()
    val left = LakeTable.load(wh, "d", "fact").metadata.snapshots
    assert(left.exists(_.id == wm),
      s"the MV watermark snapshot $wm must survive: ${left.map(_.id)}")
    // survive UNSQUASHED: a squash that keeps the pin's id stamps
    // max-of-expired timestamps — under clock skew that fails the
    // watermark-ts lineage check and strands the MV into full
    // refreshes; the cap must hold BELOW the pin
    val wmSnapAfter = left.find(_.id == wm).get
    assert(wmSnapAfter.operation == wmSnapBefore.operation &&
      wmSnapAfter.timestampMs == wmSnapBefore.timestampMs,
      s"the pinned snapshot itself must survive expiry untouched, " +
        s"got op=${wmSnapAfter.operation} ts=${wmSnapAfter.timestampMs}" +
        s" (was op=${wmSnapBefore.operation} " +
        s"ts=${wmSnapBefore.timestampMs})")
    assert(left.count(_.id > wm) == 2,
      "the replay range past the watermark must survive untouched")
    // the dim pin is protected the same way
    LakeTable.load(wh, "d", "cust").append(
      Seq((3L, "A")).toDF("c_id", "c_seg"))
    val custHead = LakeTable.load(wh, "d", "cust").metadata
      .snapshots.map(_.id).max
    spark.sql(s"CALL gmvex.system.expire_snapshots('d', 'cust', " +
      s"$custHead)").collect()
    val pin = LakeTable.load(wh, "d", "__mat_roll").metadata
      .properties("graft.mat-view.dim-watermark.d.cust")
      .split(":")(0).toLong
    assert(LakeTable.load(wh, "d", "cust").metadata.snapshots
      .exists(_.id == pin), "the dim pin must survive expiry")
    // and the incremental refresh (fact delta + dim append delta)
    // still runs after routine retention
    vsql("REFRESH MATERIALIZED VIEW gmvex.d.roll INCREMENTAL").collect()
    val got = vsql("SELECT c_seg, n, s FROM gmvex.d.roll")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = vsql("SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM gmvex.d.fact JOIN gmvex.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "refresh after capped expiry must stay exact")
  }

  test("the dim-delta leg prunes the watermark-image fact scan by " +
      "the Δdim join-key envelope") {
    val wh = Files.createTempDirectory("graft-matview-dimprune").toString
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
    // 8 disjoint-key fact files; the Δdim keys land in ONE of them
    for (b <- 0 until 8)
      LakeTable.load(wh, "d", "fact").append(
        (0 until 50).map(i => (b * 100L + i, b * 1000L + i))
          .toDF("f_cust", "f_amt").coalesce(1))
    // the seed dim covers a slice of every block, so the MV has rows
    LakeTable.load(wh, "d", "cust").append(
      (0 until 8).map(b => (b * 100L + 5L, s"S$b"))
        .toDF("c_id", "c_seg"))
    spark.conf.set("spark.sql.catalog.gmvdp", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmvdp.warehouse", wh)
    vsql("CREATE MATERIALIZED VIEW gmvdp.d.roll AS " +
      "SELECT c_seg, count(*) AS n, sum(f_amt) AS s " +
      "FROM gmvdp.d.fact JOIN gmvdp.d.cust ON f_cust = c_id " +
      "GROUP BY c_seg").collect()
    // a dim append whose keys live entirely in fact block 3: the F_w
    // leg must plan ONLY that block's file, not rescan the fact
    LakeTable.load(wh, "d", "cust").append(
      Seq((303L, "NEW"), (307L, "NEW")).toDF("c_id", "c_seg"))
    spark.conf.set("spark.graft.matview.incr-scan-audit", "true")
    try vsql("REFRESH MATERIALIZED VIEW gmvdp.d.roll INCREMENTAL")
      .collect()
    finally spark.conf.unset("spark.graft.matview.incr-scan-audit")
    val (scanned, total) = graft.sources.MatViews.lastDimDeltaScan.get
    assert(total >= 8, s"watermark image should span many files: $total")
    assert(scanned < total,
      s"Δdim envelope must prune the fact scan: $scanned/$total")
    assert(vsql("SELECT n, s FROM gmvdp.d.roll WHERE c_seg = 'NEW'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 3003L + 3007L)))
  }
}
