package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** The r17 direct write path: eligible [[LakeTable]] batch writes go
  * through the DSv2 per-task parquet writer (no FileFormatWriter
  * commit protocol), producing flat files whose partition values live
  * in metadata — the layout DSv2 delta/streaming writes always used.
  * Pins: (a) the direct path and the legacy Hive-dir path produce
  * IDENTICAL table state (rows, partitionValues, pruning) for the
  * same input; (b) the declared fallbacks (write.sort-order,
  * write.option.*) still take the FileFormatWriter path.
  */
class DirectWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String, props: Map[String, String] = Map.empty)
      : (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-directw-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"long"},
         |{"column_name":"grp","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[{"column":"grp","name":"g"}]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "t")
    if (props.nonEmpty) t0.updateProperties(props)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def seed(n: Int = 200) = {
    import SparkTestSession.spark.implicits._
    (0 until n).map(i => (i.toLong, s"g${i % 3}", i * 1.5))
      .toDF("id", "grp", "score")
      // a multi-partition scan-shaped plan, NOT a LocalRelation, so the
      // write takes the distributed path under test
      .repartition(4)
  }

  test("direct path writes flat files whose partitionValues match the " +
      "Hive path's, and reads/pruning agree") {
    val (_, tDirect) = mk("on")
    tDirect.append(seed())
    val (_, tHive) = GlobalFlagLock.synchronized {
      sys.props("graft.write.nodirect") = "1"
      try { val p = mk("off"); p._2.append(seed()); p }
      finally sys.props.remove("graft.write.nodirect")
    }
    val fd = tDirect.metadata.snapshots.flatMap(_.files)
    val fh = tHive.metadata.snapshots.flatMap(_.files)
    assert(fd.nonEmpty && fh.nonEmpty)
    // direct files are FLAT (no Hive dirs), hive files are dir-encoded —
    // but the metadata partition values are identical sets
    assert(fd.forall(f => !f.path.contains("_p_g=")))
    assert(fh.forall(f => f.path.contains("_p_g=")))
    assert(fd.map(_.partitionValues).toSet === fh.map(_.partitionValues).toSet)
    assert(fd.map(_.partitionValues("g")).toSet === Set("g0", "g1", "g2"))
    // one file per partition value (the hash-distribute contract)
    assert(fd.size === 3 && fh.size === 3)
    // row counts + footer stats populated the same way
    assert(fd.map(_.rows).sum === 200L && fh.map(_.rows).sum === 200L)
    assert(fd.forall(_.stats.nonEmpty))
    // reads agree bit-for-bit
    val a = tDirect.read(spark).orderBy("id").collect().toSeq
    val b = tHive.read(spark).orderBy("id").collect().toSeq
    assert(a === b)
    // partition pruning still selects the same single file
    val prunedD = tDirect.read(spark, prune = Map("g" -> Set("g1")))
      .select(sum(lit(1)).cast("long")).collect()(0).getLong(0)
    val prunedH = tHive.read(spark, prune = Map("g" -> Set("g1")))
      .select(sum(lit(1)).cast("long")).collect()(0).getLong(0)
    assert(prunedD === prunedH)
  }

  test("write.sort-order and write.option tables keep the " +
      "FileFormatWriter path") {
    val (_, tSorted) = mk("sorted", Map("write.sort-order" -> "id"))
    tSorted.append(seed())
    val fs = tSorted.metadata.snapshots.flatMap(_.files)
    assert(fs.nonEmpty && fs.forall(f => f.path.contains("_p_g=")),
      "sort-order writes must stay on the Hive-dir path (the direct " +
        "writer has no dynamic-partition sort)")
    assert(fs.forall(_.sortedByIds.nonEmpty))
    val (_, tOpt) = mk("opt",
      Map("write.option.parquet.page.size.check.estimate" -> "false"))
    tOpt.append(seed())
    val fo = tOpt.metadata.snapshots.flatMap(_.files)
    assert(fo.nonEmpty && fo.forall(f => f.path.contains("_p_g=")),
      "write.option.* tables must stay on the Hive-dir path (options " +
        "flow through the hadoop conf there)")
  }

  test("high-cardinality partitioning writes without an open-sink cap " +
      "(sorted close-on-key-change mode)") {
    // 1500 distinct partition values — above the streaming writer's
    // 1000-open-sink cap — must write fine on the batch direct path:
    // rows are sorted by the transform within each task, so the writer
    // holds ONE open file (FileFormatWriter's sorted dynamic-partition
    // contract, which the pre-r17 Hive path provided)
    import SparkTestSession.spark.implicits._
    val (_, t) = mk("hicard")
    val wide = (0 until 3000).map(i => (i.toLong, s"g${i % 1500}", i * 1.0))
      .toDF("id", "grp", "score").repartition(2)
    t.append(wide)
    val fs = t.metadata.snapshots.flatMap(_.files)
    assert(fs.map(_.partitionValues("g")).toSet.size === 1500)
    assert(fs.map(_.rows).sum === 3000L)
    val n = t.read(spark).select(sum(lit(1)).cast("long"))
      .collect()(0).getLong(0)
    assert(n === 3000L)
    val pruned = t.read(spark, prune = Map("g" -> Set("g7")))
      .select(sum(lit(1)).cast("long")).collect()(0).getLong(0)
    assert(pruned === 2L)
  }

  test("null and empty partition sources render the Hive default " +
      "partition on both paths") {
    import SparkTestSession.spark.implicits._
    def seedNulls = Seq((1L, null: String, 1.0), (2L, "", 2.0),
      (3L, "gx", 3.0)).toDF("id", "grp", "score").repartition(2)
    val (_, tDirect) = mk("nullon")
    tDirect.append(seedNulls)
    val (_, tHive) = GlobalFlagLock.synchronized {
      sys.props("graft.write.nodirect") = "1"
      try { val p = mk("nulloff"); p._2.append(seedNulls); p }
      finally sys.props.remove("graft.write.nodirect")
    }
    val vd = tDirect.metadata.snapshots.flatMap(_.files)
      .map(_.partitionValues("g")).toSet
    val vh = tHive.metadata.snapshots.flatMap(_.files)
      .map(_.partitionValues("g")).toSet
    assert(vd === vh)
    assert(vd.contains("__HIVE_DEFAULT_PARTITION__"))
    val a = tDirect.read(spark).orderBy("id")
      .collect().toSeq.map(_.toString)
    val b = tHive.read(spark).orderBy("id")
      .collect().toSeq.map(_.toString)
    assert(a === b)
  }

  test("task-fused footer stats equal a fresh driver-side footer read " +
      "(rows, per-column min/max, bytes)") {
    val (_, t) = mk("fusedstats")
    t.append(seed())
    val fd = t.metadata.snapshots.flatMap(_.files)
    assert(fd.nonEmpty)
    fd.foreach { f =>
      val (rows, stats) = graft.lake.FileStats.fromFooterWithRows(
        f.path, t.currentSchema)
      assert(f.rows === rows, f.path)
      assert(f.stats === stats, f.path)
      assert(f.bytes === Files.size(Paths.get(f.path)), f.path)
    }
  }

  test("a lake append leaves the caller's session parquet timestamp " +
      "type as it was, while its files still carry INT64 micros " +
      "timestamps with min/max stats") {
    val key = "spark.sql.parquet.outputTimestampType"
    // a session of its own: the INT96 setting must not leak into
    // other suites sharing the default session
    val s2 = spark.newSession()
    s2.conf.set(key, "INT96")
    // the driver run of the direct writer, then the FileFormatWriter
    // path a write.sort-order table keeps
    for (props <- Seq(Map.empty[String, String],
        Map("write.sort-order" -> "k"))) {
      val wh = Files.createTempDirectory("graft-directw-ts").toString
      Engine.processTableDefJson(wh,
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"ts","data_type":"timezone"}],
          |"partitions":[]}""".stripMargin)
      if (props.nonEmpty) LakeTable.load(wh, "d", "t").updateProperties(props)
      LakeTable.load(wh, "d", "t").append(s2.sql(
        """SELECT * FROM VALUES (2L, TIMESTAMP'2024-01-02 03:04:05.123456'),
          |(1L, TIMESTAMP'2023-05-06 07:08:09') AS v(k, ts)""".stripMargin))
      assert(s2.conf.get(key) == "INT96", s"props $props")
      val t = LakeTable.load(wh, "d", "t")
      val tsId = graft.schema.FieldIds.idOf(t.currentSchema("ts"))
      val files = t.metadata.snapshots.flatMap(_.files)
      assert(files.nonEmpty)
      files.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(Paths.get(f.path)))
        val ts = try {
          val m = reader.getFooter.getFileMetaData.getSchema
          m.getType(m.getFieldIndex("ts")).asPrimitiveType
        } finally reader.close()
        assert(ts.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
          s"props $props")
        assert(ts.getLogicalTypeAnnotation == org.apache.parquet.schema
          .LogicalTypeAnnotation.timestampType(true,
            org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS),
          s"props $props")
        assert(f.stats.get(tsId).exists(_.kind == "num"), s"props $props")
      }
      assert(t.read(s2).count() == 2L)
    }
  }
}
