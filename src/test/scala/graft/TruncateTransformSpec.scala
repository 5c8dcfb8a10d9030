package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable, Transforms}

/** `truncate[W]` hidden-partition transform (Iceberg's truncate,
  * engine extension beyond the reference's identity/time transforms —
  * `iceberg_helper.py:398-425` has no truncate): int/long floor to a
  * multiple of W, string prefix of W chars. Order-preserving, so range
  * predicates prune to contiguous directory runs — the clustering to
  * reach for when ids arrive in ranges (bucket destroys order).
  */
class TruncateTransformSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("long truncate floors to the W-multiple, negatives included") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-trunc").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"id","transform":"truncate[10]"}]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((0L, "a"), (9L, "b"), (10L, "c"), (-1L, "d"), (-10L, "e"))
      .toDF("id", "v"))
    val byVal = t.plannedFiles()
      .flatMap(f => f.partitionValues("id_truncate_10") match {
        case pv => spark.read.parquet(f.path).select("id")
          .collect().map(_.getLong(0) -> pv)
      }).toMap
    assert(byVal == Map(0L -> "0", 9L -> "0", 10L -> "10",
      -1L -> "-10", -10L -> "-10"))
    // read-back unaffected by the hidden column
    assert(t.read(spark).columns.toSeq == Seq("id", "v"))
    assert(t.read(spark).count() == 5)
  }

  test("string truncate keeps the W-char prefix") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-trunc-s").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"s","columns":[
        |{"column_name":"name","data_type":"string"},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[{"column":"name","transform":"truncate[3]"}]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "s")
    t.append(Seq(("alphabet", 1L), ("alpine", 2L), ("beta", 3L), ("ab", 4L))
      .toDF("name", "v"))
    val dirs = t.plannedFiles().map(_.partitionValues("name_truncate_3")).toSet
    assert(dirs == Set("alp", "bet", "ab"))
    assert(t.read(spark).count() == 4)
  }

  test("partition pruning on the truncated dir value opens fewer files") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-trunc-p").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"p","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"id","transform":"truncate[100]"}]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "p")
    t.append((0L until 400L).map(i => (i, s"v$i")).toDF("id", "v"))
    val all = t.plannedFiles()
    assert(all.map(_.partitionValues("id_truncate_100")).toSet ==
      Set("0", "100", "200", "300"))
    // manual dir-value prune (the engine's prune contract) + the
    // stats-based skip both reduce the file set for a range predicate
    val pruned = LakeTable.matchingFiles(all, t.currentSchema,
      Map("id_truncate_100" -> Set("100")), Seq.empty)
    assert(pruned.size < all.size)
    assert(pruned.forall(_.partitionValues("id_truncate_100") == "100"))
  }

  test("SQL DDL: PARTITIONED BY (truncate(8, k)) maps to truncate[8]") {
    val wh = Files.createTempDirectory("graft-trunc-ddl").toString
    spark.conf.set("spark.sql.catalog.gtr", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gtr.warehouse", wh)
    spark.sql("""CREATE TABLE gtr.d.tt (k BIGINT, v STRING)
                |PARTITIONED BY (truncate(8, k))""".stripMargin)
    assert(LakeTable.load(wh, "d", "tt").metadata.currentSpec.fields
      .map(_.transform) == Seq("truncate[8]"))
    spark.sql("INSERT INTO gtr.d.tt VALUES (7, 'a'), (8, 'b'), (17, 'c')")
    val t = LakeTable.load(wh, "d", "tt") // reload: INSERT committed a snapshot
    assert(t.plannedFiles().map(_.partitionValues("k_truncate_8")).toSet ==
      Set("0", "8", "16"))
    assert(spark.sql("SELECT sum(k) FROM gtr.d.tt").collect()(0).getLong(0) == 32L)
  }

  test("streaming sink renders the same truncate values as the batch writer") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-trunc-sink").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"w","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"name","data_type":"string"}],
        |"partitions":[{"column":"id","transform":"truncate[10]"},
        | {"column":"name","transform":"truncate[2]"}]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "w")
    t.append(Seq((15L, "spark")).toDF("id", "name"))
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    in.addData(Seq((15L, "split")))
    val ckpt = Files.createTempDirectory("graft-trunc-sink-ckpt").toString
    val q = in.toDF().toDF("id", "name")
      .writeStream.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "w")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t2 = LakeTable.load(wh, "d", "w")
    val vals = t2.plannedFiles()
      .map(f => (f.partitionValues("id_truncate_10"),
        f.partitionValues("name_truncate_2"))).distinct
    assert(vals == Seq(("10", "sp")), s"batch/stream disagree: $vals")
  }

  test("truncate-partitioned tables join through the catalog with zero shuffle") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-trunc-spj").toString
    spark.conf.set("spark.sql.catalog.gtj", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gtj.warehouse", wh)
    spark.sql("""CREATE TABLE gtj.d.ja (k BIGINT, v STRING)
                |PARTITIONED BY (truncate(10, k))""".stripMargin)
    spark.sql("""CREATE TABLE gtj.d.jb (k BIGINT, w STRING)
                |PARTITIONED BY (truncate(10, k))""".stripMargin)
    // scans stay distributed (driver decode off): the join's plan is
    // what the test checks
    Seq("ja", "jb").foreach(t => LakeTable.load(wh, "d", t).updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0")))
    LakeTable.load(wh, "d", "ja").append(
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v"))
    LakeTable.load(wh, "d", "jb").append(
      (30L to 60L).map(i => (i, s"b$i")).toDF("k", "w"))
    val pairs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.sql(
        """SELECT a.k, a.v, b.w FROM gtj.d.ja a
          |JOIN gtj.d.jb b ON a.k = b.k""".stripMargin)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      assert(joined.collect().map(_.getLong(0)).toSet == (30L to 40L).toSet)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("expr rejects unsupported truncate source types") {
    intercept[IllegalArgumentException] {
      Transforms.expr("truncate[4]", col("x"),
        Some(org.apache.spark.sql.types.DoubleType))
    }
    assert(Transforms.truncateWidth("truncate[16]").contains(16))
    assert(Transforms.truncateWidth("bucket[16]").isEmpty)
    assert(Transforms.isSupported("truncate[4]"))
  }
}
