package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Storage-partitioned joins through the DSv2 connector: two lake
  * tables identity-partitioned on the same key report
  * KeyGroupedPartitioning + HasPartitionKey, so Spark lines the file
  * tasks up by partition value and the join runs with ZERO shuffle —
  * the metadata-driven co-located join that matters at 100 TB.
  */
class StoragePartitionJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // every table here keeps its scans distributed (driver decode off):
  // the spec checks the key-grouped partitioning the scans report
  private def mkTable(wh: String, tbl: String, partCol: String): LakeTable = {
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"$tbl","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"$partCol"}],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", tbl)
  }

  private def lakeReader(wh: String, tbl: String) =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", tbl)
      .load()

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect { case s: ShuffleExchangeExec => s }

  private def withSpjConfs[T](body: => T): T = {
    val pairs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-partitioned lake tables join with zero shuffle") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj").toString
    val ta = mkTable(wh, "a", "k")
    val tb = mkTable(wh, "b", "k")
    ta.append(Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (1L, "a4")).toDF("k", "v"))
    ta.append(Seq((2L, "a5"), (4L, "a6")).toDF("k", "v"))
    tb.append(Seq((1L, "b1"), (2L, "b2"), (5L, "b5")).toDF("k", "v"))

    withSpjConfs {
      val joined = lakeReader(wh, "a").as("l")
        .join(lakeReader(wh, "b").as("r"), "k")
        .select($"k", $"l.v".as("lv"), $"r.v".as("rv"))
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      val got = joined.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "a1", "b1"), (1L, "a4", "b1"),
        (2L, "a2", "b2"), (2L, "a5", "b2")))
    }
  }

  test("non-partition-key join still shuffles and stays correct") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj2").toString
    val ta = mkTable(wh, "a", "k")
    ta.append(Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val tb = mkTable(wh, "b", "k")
    tb.append(Seq((7L, "x"), (8L, "z")).toDF("k", "v"))
    withSpjConfs {
      // join on v, not the partition key — must NOT be treated co-partitioned
      val joined = lakeReader(wh, "a").as("l")
        .join(lakeReader(wh, "b").as("r"), "v")
      assert(shuffles(joined.queryExecution.executedPlan).nonEmpty)
      assert(joined.collect().map(_.getString(0)).toSeq == Seq("x"))
    }
  }

  test("partition-key grouped aggregation avoids the shuffle too") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj3").toString
    val ta = mkTable(wh, "a", "k")
    ta.append(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v"))
    ta.append(Seq((2L, "d"), (3L, "e")).toDF("k", "v"))
    withSpjConfs {
      val agg = lakeReader(wh, "a").groupBy("k").agg(count("*").as("n"))
      assert(shuffles(agg.queryExecution.executedPlan).isEmpty,
        s"expected no shuffle:\n${agg.queryExecution.executedPlan}")
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L), (2L, 2L), (3L, 1L)))
    }
  }

  test("month-partitioned tables join through the catalog with zero shuffle") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-time").toString
    def mk(tbl: String): LakeTable = {
      Engine.processTableDefJson(wh,
        s"""{"database_name":"d","table_name":"$tbl","columns":[
          |{"column_name":"ts","data_type":"timestamp"},
          |{"column_name":"v","data_type":"string"}],
          |"partitions":[{"column":"ts","transform":"month"}],
          |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
      LakeTable.load(wh, "d", tbl)
    }
    def t(s: String) = java.time.LocalDateTime.parse(s)
    val ta = mk("ea")
    val tb = mk("eb")
    ta.append(Seq(
      (t("2024-01-05T10:00:00"), "a1"), (t("2024-02-10T11:00:00"), "a2"),
      (t("2024-02-20T12:00:00"), "a3")).toDF("ts", "v"))
    tb.append(Seq(
      (t("2024-01-05T10:00:00"), "b1"), (t("2024-02-10T11:00:00"), "b2"),
      (t("2024-03-01T09:00:00"), "b3")).toDF("ts", "v"))
    spark.conf.set("spark.sql.catalog.gspj", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
    withSpjConfs {
      // join on the SOURCE column: months(ts) clustering is implied
      // compatible, resolved via the catalog's months() function
      val joined = spark.sql(
        """SELECT a.ts, a.v av, b.v bv
          |FROM gspj.d.ea a JOIN gspj.d.eb b ON a.ts = b.ts""".stripMargin)
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      val got = joined.collect().map(r =>
        (r.getString(1), r.getString(2))).toSet
      assert(got == Set(("a1", "b1"), ("a2", "b2")))
    }
  }

  test("streaming sink clusters rows: one file per identity partition") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-sink").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"w","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"k"}],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // 40 rows over 2 keys, many input partitions — without the write
    // distribution every task would open a file per key it sees
    in.addData((1L to 40L).map(i => (i % 2, s"v$i")))
    val ckpt = Files.createTempDirectory("graft-spj-sink-ckpt").toString
    val q = in.toDF().toDF("k", "v").repartition(8)
      .writeStream.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "w")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t = LakeTable.load(wh, "d", "w")
    val files = t.plannedFiles()
    assert(files.map(_.partitionValues("k_identity")).toSet == Set("0", "1"))
    assert(files.size == 2, s"expected one file per partition, got $files")
  }

  test("bucket-partitioned tables join through the catalog with zero shuffle") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-bucket").toString
    spark.conf.set("spark.sql.catalog.gbkt", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gbkt.warehouse", wh)
    // DDL route: PARTITIONED BY (bucket(4, k)) maps to bucket[4]
    spark.sql("""CREATE TABLE gbkt.d.fa (k BIGINT, v STRING)
                |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql("""CREATE TABLE gbkt.d.fb (k BIGINT, w STRING)
                |PARTITIONED BY (bucket(4, k))""".stripMargin)
    Seq("fa", "fb").foreach(t => LakeTable.load(wh, "d", t).updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0")))
    LakeTable.load(wh, "d", "fa").append(
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v"))
    LakeTable.load(wh, "d", "fb").append(
      (30L to 60L).map(i => (i, s"b$i")).toDF("k", "w"))
    withSpjConfs {
      val joined = spark.sql(
        """SELECT a.k, a.v, b.w FROM gbkt.d.fa a
          |JOIN gbkt.d.fb b ON a.k = b.k""".stripMargin)
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        s"expected no shuffle:\n${joined.queryExecution.executedPlan}")
      assert(joined.collect().map(_.getLong(0)).toSet == (30L to 40L).toSet)
    }
  }

  test("sorted bucket tables join with zero shuffle AND zero sort") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-sorted").toString
    spark.conf.set("spark.sql.catalog.gso", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gso.warehouse", wh)
    // bucket co-partitioning + recorded write sort order: the merge
    // join needs neither an Exchange nor a Sort on either side
    // sort-buckets = 1 pins one file per bucket dir regardless of AQE
    // coalescing: Spark drops the reported ordering when a grouped
    // partition holds more than one file (a second append would do the
    // same — conservative fallback, not a correctness issue)
    spark.sql("""CREATE TABLE gso.d.sa (k BIGINT, v STRING)
                |PARTITIONED BY (bucket(4, k))
                |TBLPROPERTIES ('write.sort-order' = 'k',
                |               'write.sort-buckets' = '1')""".stripMargin)
    spark.sql("""CREATE TABLE gso.d.sb (k BIGINT, w STRING)
                |PARTITIONED BY (bucket(4, k))
                |TBLPROPERTIES ('write.sort-order' = 'k',
                |               'write.sort-buckets' = '1')""".stripMargin)
    Seq("sa", "sb").foreach(t => LakeTable.load(wh, "d", t).updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0")))
    LakeTable.load(wh, "d", "sa").append(
      (1L to 40L).map(i => (i, s"a$i")).toDF("k", "v"))
    LakeTable.load(wh, "d", "sb").append(
      (30L to 60L).map(i => (i, s"b$i")).toDF("k", "w"))
    // the recorded order must be real: each file's rows ascend by k
    val t = LakeTable.load(wh, "d", "sa")
    assert(t.metadata.allFiles.forall(_.sortedByIds.nonEmpty), "order recorded")
    assert(t.metadata.allFiles.groupBy(_.partitionValues).forall(_._2.size == 1),
      "one file per bucket (the layout the reported ordering relies on)")
    t.metadata.allFiles.foreach { f =>
      val ks = spark.read.parquet(f.path).select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"file ${f.path} not sorted: $ks")
    }
    withSpjConfs {
      val joined = spark.sql(
        """SELECT a.k, a.v, b.w FROM gso.d.sa a
          |JOIN gso.d.sb b ON a.k = b.k""".stripMargin)
      val plan = joined.queryExecution.executedPlan
      assert(shuffles(plan).isEmpty, s"expected no shuffle: $plan")
      val sorts = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty, s"expected no sort: $plan")
      assert(joined.collect().map(_.getLong(0)).toSet == (30L to 40L).toSet)
    }
  }

  test("streaming sink renders the same bucket values as the batch writer") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj-bsink").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"bk","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"k","transform":"bucket[4]"}],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "bk")
    t.append(Seq((1L, "batch")).toDF("k", "v"))
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    in.addData(Seq((1L, "stream")))
    val ckpt = Files.createTempDirectory("graft-spj-bsink-ckpt").toString
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "bk")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val t2 = LakeTable.load(wh, "d", "bk")
    val vals = t2.plannedFiles().map(_.partitionValues("k_bucket_4")).distinct
    assert(vals.size == 1, s"batch and stream disagree on bucket: $vals")
    // and the V2 function (via the catalog) agrees with both
    spark.conf.set("spark.sql.catalog.gbsink", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gbsink.warehouse", wh)
    val cat = spark.sessionState.catalogManager.catalog("gbsink")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.FunctionCatalog]
    val fn = cat.loadFunction(org.apache.spark.sql.connector.catalog
        .Identifier.of(Array.empty[String], "bucket"))
      .bind(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Int]]
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](4, 1L))
    assert(fn.produceResult(row).toString == vals.head)
  }

  test("string partition keys group correctly (escaped values round-trip)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-spj4").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"s","columns":[
        |{"column_name":"k","data_type":"string"},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[{"column":"k"}],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "s")
    t.append(Seq(("c++", 1L), ("a b", 2L), ("plain", 3L)).toDF("k", "v"))
    t.append(Seq(("c++", 4L)).toDF("k", "v"))
    withSpjConfs {
      val agg = lakeReader(wh, "s").groupBy("k").agg(sum("v").as("s"))
      assert(shuffles(agg.queryExecution.executedPlan).isEmpty)
      assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("c++", 5L), ("a b", 2L), ("plain", 3L)))
    }
  }
}
