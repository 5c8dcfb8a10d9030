package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** ANALYZE statistics: one scan computes per-column ndv + null counts
  * into table metadata (snapshot-stamped); the DSv2 scan serves them
  * through `columnStats` so Spark's cost-based optimizer sees real
  * cardinalities, and `.stats` exposes them to SQL.
  */
class AnalyzeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-analyze-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"grp","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    // the scans stay distributed (driver decode off): the spec reads the
    // statistics the scan relation serves
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    import SparkTestSession.spark.implicits._
    rows.toDF("id", "grp", "v")
  }

  test("exact analyze records true ndv and null counts; .stats serves them") {
    val (wh, t) = mkTable("exact")
    t.append(df((1L to 20L).map(i =>
      (i, s"g${i % 3}", if (i % 5 == 0) null else s"v$i"))))
    val ts = t.analyze(spark, exact = true)
    assert(ts.rowCount == 20L && ts.exact)
    val byName = {
      val schema = t.currentSchema
      ts.cols.map(c => schema.fields.find(f =>
        graft.schema.FieldIds.idOf(f) == c.fieldId).get.name -> c).toMap
    }
    assert(byName("id").ndv == 20L && byName("id").nullCount == 0L)
    assert(byName("grp").ndv == 3L)
    assert(byName("v").ndv == 16L && byName("v").nullCount == 4L)

    spark.conf.set("spark.sql.catalog.gas", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gas.warehouse", wh)
    val got = spark.sql(
      "SELECT column_name, ndv, null_count FROM gas.d.t.stats " +
        "ORDER BY column_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("grp", 3L, 0L), ("id", 20L, 0L), ("v", 16L, 4L)))
  }

  test("the DSv2 scan serves analyze stats through columnStats") {
    val (wh, t) = mkTable("cbo")
    t.append(df((1L to 30L).map(i => (i, s"g${i % 4}", s"v$i"))))
    t.analyze(spark, exact = true)
    val frame = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()
    val scan = frame.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.getOrElse(fail("no v2 scan in plan"))
    val stats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 30L)
    val colStats = stats.columnStats()
    assert(!colStats.isEmpty, "columnStats must be served after analyze")
    val grpStats = colStats.entrySet().iterator().asScala
      .find(_.getKey.fieldNames()(0) == "grp")
      .getOrElse(fail("no stats for grp")).getValue
    assert(grpStats.distinctCount().getAsLong == 4L)

    // before analyze, a fresh table serves none
    val (wh2, t2) = mkTable("nostats")
    t2.append(df(Seq((1L, "a", "x"))))
    val frame2 = spark.read.format("graft-lake")
      .option("warehouse", wh2).option("database", "d").option("table", "t")
      .load()
    val scan2 = frame2.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.get
    assert(scan2.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics]
      .estimateStatistics().columnStats().isEmpty)
  }

  private implicit class IterHasAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(it).asScala
  }

  private def columnStatsOf(wh: String): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val frame = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()
    frame.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics]
      .estimateStatistics().columnStats()
  }

  test("stale stats scale with moderate churn and abstain past it") {
    val (wh, t) = mkTable("stale")
    t.append(df((1L to 30L).map(i => (i, s"g${i % 4}", s"v$i"))))
    t.analyze(spark, exact = true)
    // fresh: served verbatim
    def ndv(cs: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics],
        name: String): Option[Long] =
      cs.entrySet().iterator().asScala
        .find(_.getKey.fieldNames()(0) == name)
        .map(_.getValue.distinctCount().getAsLong)
    assert(ndv(columnStatsOf(wh), "id").contains(30L))
    // moderate churn (2x rows): ndv scales by the row ratio, never
    // serves the analyze-time number verbatim
    LakeTable.load(wh, "d", "t").append(
      df((31L to 60L).map(i => (i, s"g${i % 4}", s"v$i"))))
    val scaled = ndv(columnStatsOf(wh), "id")
    assert(scaled.contains(60L), s"expected 2x-scaled ndv, got $scaled")
    // heavy churn (>8x the analyzed rows): a confident misestimate is
    // worse than none — the scan must abstain
    LakeTable.load(wh, "d", "t").append(
      df((61L to 300L).map(i => (i, s"g${i % 4}", s"v$i"))))
    assert(columnStatsOf(wh).isEmpty,
      "stats must abstain after the table churned beyond recognition")
  }

  test("approx analyze tracks exact within HLL error; maps are skipped") {
    val (_, t) = mkTable("approx")
    t.append(df((1L to 500L).map(i => (i, s"g${i % 7}", s"v${i % 50}"))))
    val approx = t.analyze(spark)
    assert(!approx.exact)
    val exact = t.analyze(spark, exact = true)
    approx.cols.zip(exact.cols).foreach { case (a, e) =>
      assert(a.fieldId == e.fieldId)
      assert(math.abs(a.ndv - e.ndv) <= math.max(1L, (e.ndv * 0.2).toLong),
        s"field ${a.fieldId}: approx ${a.ndv} too far from exact ${e.ndv}")
    }
  }

  test("a dropped column's stale stats row is omitted from .stats") {
    val (wh, t) = mkTable("drop")
    t.append(df(Seq((1L, "a", "x"), (2L, "b", "y"))))
    t.analyze(spark, exact = true)
    // drop column v via evolution
    val t2 = LakeTable.load(wh, "d", "t")
    t2.evolve(graft.schema.TableDef.parse(
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"grp","data_type":"string"}],"partitions":[]}"""
        .stripMargin).toOption.get)
    spark.conf.set("spark.sql.catalog.gds", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gds.warehouse", wh)
    val cols = spark.sql("SELECT column_name FROM gds.d.t.stats")
      .collect().map(_.getString(0)).toSet
    assert(cols == Set("id", "grp"), s"got $cols")
  }
}
