package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Small-file packing of the connector scan: `LakeScan` groups file
  * reads into input partitions by Spark's own file-source rule, so a
  * lake scan plans the tasks `spark.read.parquet` plans over the same
  * files — and a compaction fed by the scan writes the files the
  * parquet read used to feed it. Keyed (storage-partitioned) scans keep
  * one file per partition.
  */
class ScanPackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String, parts: String = "[]"): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-pack-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"g","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":$parts}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  /** `n` appends of a few rows each: `n` small files. */
  private def smallFiles(t: LakeTable, wh: String, n: Int): LakeTable = {
    import SparkTestSession.spark.implicits._
    (0 until n).foreach { i =>
      LakeTable.load(wh, "d", "t").append((0 until 3 + i % 4)
        .map(j => (i * 100L + j, s"g${i % 3}", "x" * (j * 40)))
        .toDF("id", "g", "v"))
    }
    LakeTable.load(wh, "d", "t")
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def parquetParts(t: LakeTable): Int =
    spark.read.parquet(t.plannedFiles().map(_.path): _*).rdd.getNumPartitions

  private def partitionKinds(wh: String, t: LakeTable): Seq[String] =
    new graft.sources.LakeScanBuilder(wh, "d", "t", 0L, t.currentSchema)
      .build().toBatch.planInputPartitions().toSeq
      .map(_.getClass.getSimpleName)

  test("N small files plan the partitions spark.read.parquet plans, " +
      "under maxPartitionBytes and openCostInBytes") {
    val (wh, t0) = mkTable("count")
    val t = smallFiles(t0, wh, 14)
    assert(t.plannedFiles().size == 14)
    val sizes = t.plannedFiles().map(_.bytes)
    assert(t.plannedFiles().forall(f =>
      Files.size(java.nio.file.Paths.get(f.path)) == f.bytes),
      "metadata sizes are the on-disk sizes the file source packs by")
    val confs = Seq(
      Seq.empty[(String, String)],
      Seq("spark.sql.files.openCostInBytes" -> "1"),
      Seq("spark.sql.files.openCostInBytes" -> "1",
        "spark.sql.files.maxPartitionBytes" -> (sizes.max * 3).toString),
      Seq("spark.sql.files.openCostInBytes" -> (sizes.max / 2).toString,
        "spark.sql.files.maxPartitionBytes" -> (sizes.max * 2).toString),
      Seq("spark.sql.files.minPartitionNum" -> "2",
        "spark.sql.files.openCostInBytes" -> "1"))
    val counts = confs.map { kv =>
      withConf(kv: _*) {
        val want = parquetParts(t)
        val got = t.read(spark).rdd.getNumPartitions
        assert(got == want, s"$kv: lake scan $got vs parquet $want")
        // the catalog/format read plans through the same scan
        assert(spark.read.format("graft-lake").option("warehouse", wh)
          .option("database", "d").option("table", "t").load()
          .rdd.getNumPartitions == want, kv.toString)
        assert(t.read(spark).count() == t.plannedFiles().map(_.rows).sum)
        want
      }
    }
    assert(counts.exists(c => c > 1 && c < 14),
      s"some setting packs several files per task: $counts")
    withConf("spark.sql.files.openCostInBytes" -> "1") {
      assert(partitionKinds(wh, t).contains("LakeMultiFilePartition"))
    }
  }

  test("packed partitions serve the row and the columnar readers") {
    val (wh, t0) = mkTable("modes")
    val t = smallFiles(t0, wh, 9)
    withConf("spark.sql.files.openCostInBytes" -> "1") {
      val want = t.plannedFiles().map(_.rows).sum
      // columnar: clean files, no metadata columns
      val clean = t.read(spark)
      assert(clean.queryExecution.executedPlan.exists(_.supportsColumnar))
      assert(clean.rdd.getNumPartitions < 9)
      assert(clean.select("id").distinct().count() == want)
      // row mode: a merge-on-read delete plus the position columns
      t.deleteMoR(spark, col("id") % 5 === 0L)
      val t2 = LakeTable.load(wh, "d", "t")
      val rows = t2.liveRowsWithPos(spark)
      assert(rows.rdd.getNumPartitions < 9)
      val got = rows.select("_graft_dfile", "_graft_dpos", "id").collect()
      val live = t2.read(spark).select("id").collect().map(_.getLong(0))
      assert(got.map(_.getLong(2)).sorted.toSeq == live.sorted.toSeq)
      assert(!live.exists(_ % 5 == 0))
      // positions are file-absolute and unique per file
      assert(got.map(r => (r.getString(0), r.getLong(1))).distinct.length ==
        got.length)
    }
  }

  test("keyed scans stay one file per partition") {
    val (wh, t0) = mkTable("keyed", """[{"column":"g","name":"g"}]""")
    val t = smallFiles(t0, wh, 6)
    val files = t.plannedFiles().size
    withConf("spark.sql.files.openCostInBytes" -> "1",
        "spark.sql.files.minPartitionNum" -> "1") {
      val kinds = partitionKinds(wh, t)
      assert(kinds.size == files && kinds.forall(_ == "LakeKeyedFilePartition"),
        kinds.toString)
      // the engine read reports no key layout (as the parquet read)
      // and packs
      assert(t.read(spark).rdd.getNumPartitions == parquetParts(t))
      assert(parquetParts(t) < files)
      assert(t.read(spark).count() == t.plannedFiles().map(_.rows).sum)
    }
  }

  test("a scan that reports a sort order keeps one file per partition") {
    val wh = Files.createTempDirectory("graft-pack-sorted").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"g","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"write.sort-order":"id"}}""".stripMargin)
    val t = smallFiles(LakeTable.load(wh, "d", "t"), wh, 8)
    withConf("spark.sql.files.openCostInBytes" -> "1") {
      val sql = spark.read.format("graft-lake").option("warehouse", wh)
        .option("database", "d").option("table", "t").load()
      // the reported ordering holds per partition: no packing
      assert(sql.rdd.getNumPartitions == 8)
      val runs = sql.select("id").rdd.mapPartitions(it =>
        Iterator(it.map(_.getLong(0)).toSeq)).collect()
      assert(runs.forall(r => r == r.sorted), runs.toSeq.toString)
      // a local sort over the scan is then elided, and stays correct
      val local = sql.sortWithinPartitions("id").select("id").rdd
        .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
      assert(local.forall(r => r == r.sorted))
      // the engine read reports no ordering (as the parquet read) and packs
      assert(t.read(spark).rdd.getNumPartitions < 8)
      val packed = t.read(spark).sortWithinPartitions("id").select("id").rdd
        .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
      assert(packed.forall(r => r == r.sorted))
    }
  }

  test("compact writes as many files as the parquet read of the live " +
      "set has tasks") {
    for ((n, conf) <- Seq(
        (12, Seq.empty[(String, String)]),
        (12, Seq("spark.sql.files.openCostInBytes" -> "1")),
        (7, Seq("spark.sql.files.maxPartitionBytes" -> "1500")))) {
      val (wh, t0) = mkTable(s"compact$n")
      val t = smallFiles(t0, wh, n)
      t.deleteMoR(spark, col("id") % 7 === 0L)
      val t2 = LakeTable.load(wh, "d", "t")
      withConf(conf: _*) {
        val want = parquetParts(t2)
        t2.compact(spark)
        val after = LakeTable.load(wh, "d", "t").plannedFiles()
        assert(after.size == want, s"$conf: ${after.size} files vs $want")
      }
    }
  }
}
