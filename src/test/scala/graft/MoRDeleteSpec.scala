package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Merge-on-read position deletes (Iceberg v2 delete-file model):
  * deleteMoR commits small (file_path, pos) parquet files instead of
  * rewriting data files; reads — driver-side and through the DSv2
  * connector — anti-join the dead positions out; metadata-only
  * COUNT(*) stays exact via per-file deleted-row counts; compaction
  * folds deletes back in and clears them.
  */
class MoRDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-mor-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import SparkTestSession.spark.implicits._
    rows.toDF("id", "v")
  }

  private def lakeReader(wh: String) =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()

  private def ids(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("deleteMoR drops rows without rewriting data files") {
    val (wh, t) = mkTable("basic")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    t.append(df(Seq((4L, "d"), (5L, "e"))))
    val filesBefore = t.plannedFiles().map(_.path).toSet

    val snap = t.deleteMoR(spark, col("id") === 2L || col("id") === 5L)
    assert(snap.isDefined)
    assert(snap.get.operation == "delete")
    assert(snap.get.files.isEmpty)
    assert(snap.get.deleteCounts.values.sum == 2L)

    val t2 = LakeTable.load(wh, "d", "t")
    assert(ids(t2.read(spark)) == Set(1L, 3L, 4L))
    // data files untouched — only delete files were written
    assert(t2.plannedFiles().map(_.path).toSet == filesBefore)
  }

  test("connector read applies deletes; metadata COUNT(*) is exact") {
    val (wh, t) = mkTable("conn")
    t.append(df((1L to 10L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") % 2 === 0)
    assert(ids(lakeReader(wh)) == Set(1L, 3L, 5L, 7L, 9L))
    // count(*) answered from snapshot metadata minus delete counts
    assert(lakeReader(wh).count() == 5L)
    // pushed filter + deletes compose
    assert(ids(lakeReader(wh).filter(col("id") > 4L)) == Set(5L, 7L, 9L))
  }

  test("successive overlapping deletes never double-count") {
    val (wh, t) = mkTable("twice")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") <= 3L)
    val t2 = LakeTable.load(wh, "d", "t")
    // overlaps the first delete on ids 2,3 — only id 4 is newly dead
    val snap2 = t2.deleteMoR(spark, col("id").between(2L, 4L))
    assert(snap2.isDefined)
    assert(snap2.get.deleteCounts.values.sum == 1L)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(ids(t3.read(spark)) == Set(5L, 6L))
    assert(lakeReader(wh).count() == 2L)
    // fully-covered predicate → no new snapshot
    assert(t3.deleteMoR(spark, col("id") === 3L).isEmpty)
  }

  test("copy-on-write update after MoR delete does not resurrect rows") {
    val (wh, t) = mkTable("cow")
    // one data file so the update's rewrite covers the deleted position
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))).repartition(1))
    t.deleteMoR(spark, col("id") === 2L)
    val t2 = LakeTable.load(wh, "d", "t")
    t2.update(spark, Map("v" -> lit("upd")), col("id") === 3L)
    val t3 = LakeTable.load(wh, "d", "t")
    val got = t3.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (3L, "upd")))
    // the rewrite dropped the file's delete entries from the live state
    assert(LakeTable.liveDeletes(t3.metadata.snapshots).isEmpty)
  }

  test("compaction folds deletes into data files and clears them") {
    val (wh, t) = mkTable("compact")
    t.append(df((1L to 8L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") > 6L)
    val t2 = LakeTable.load(wh, "d", "t")
    t2.compact(spark)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(LakeTable.liveDeletes(t3.metadata.snapshots).isEmpty)
    assert(ids(t3.read(spark)) == (1L to 6L).toSet)
    assert(lakeReader(wh).count() == 6L)
  }

  test("time travel reads the state before the delete") {
    val (wh, t) = mkTable("tt")
    t.append(df(Seq((1L, "a"), (2L, "b")))) // snapshot 1
    t.deleteMoR(spark, col("id") === 1L)    // snapshot 2
    val t2 = LakeTable.load(wh, "d", "t")
    assert(ids(t2.read(spark, asOfSnapshot = Some(1L))) == Set(1L, 2L))
    assert(ids(t2.read(spark)) == Set(2L))
    spark.conf.set("spark.sql.catalog.gmor", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    assert(spark.sql("SELECT id FROM gmor.d.t VERSION AS OF 1").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("expire keeps live deletes; orphan cleanup keeps delete files") {
    val (wh, t) = mkTable("expire")
    t.append(df(Seq((1L, "a"), (2L, "b")))) // snap 1
    t.deleteMoR(spark, col("id") === 1L)    // snap 2
    t.append(df(Seq((3L, "c"))))            // snap 3
    val expired = t.expireSnapshots(keepAfter = 2L)
    assert(expired == 2)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(ids(t2.read(spark)) == Set(2L, 3L))
    val removed = t2.removeOrphanFiles(olderThanMillis = 0L)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(ids(t3.read(spark)) == Set(2L, 3L), s"orphans removed: $removed")
    assert(lakeReader(wh).count() == 2L)
  }

  test("updateMoR rewrites no data file and keeps counts exact") {
    val (wh, t) = mkTable("upd")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val before = t.plannedFiles().map(_.path).toSet
    val snap = t.updateMoR(spark, Map("v" -> concat(col("v"), lit("!"))),
      col("id") >= 2L)
    assert(snap.isDefined && snap.get.operation == "delete")
    assert(snap.get.files.nonEmpty && snap.get.deletePaths.nonEmpty)
    val t2 = LakeTable.load(wh, "d", "t")
    // original data files all still live, plus the appended copies
    assert(before.subsetOf(t2.plannedFiles().map(_.path).toSet))
    val got = t2.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b!"), (3L, "c!")))
    assert(lakeReader(wh).count() == 3L)
    assert(ids(lakeReader(wh)) == Set(1L, 2L, 3L))
  }

  test("updateMoR assignment RHS sees the pre-update row (swap)") {
    val wh = Files.createTempDirectory("graft-mor-swap").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"a","data_type":"long"},
        |{"column_name":"b","data_type":"long"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    import SparkTestSession.spark.implicits._
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("a", "b"))
    t.updateMoR(spark, Map("a" -> col("b"), "b" -> col("a")), col("a") === 1L)
    val got = LakeTable.load(wh, "d", "t").read(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (2L, 20L)))
  }

  test("mergeMoR upserts via deltas: no target data file rewritten") {
    val (wh, t) = mkTable("mrg")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val before = t.plannedFiles().map(_.path).toSet
    val src = df(Seq((2L, "B"), (4L, "D")))
    val snap = t.mergeMoR(spark, src, Seq("id"))
    assert(snap.isDefined && snap.get.operation == "delete")
    val t2 = LakeTable.load(wh, "d", "t")
    assert(before.subsetOf(t2.plannedFiles().map(_.path).toSet))
    val got = t2.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    assert(lakeReader(wh).count() == 4L)
  }

  test("mergeMoR delete mode removes matched keys only") {
    val (wh, t) = mkTable("mrgdel")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    t.mergeMoR(spark, df(Seq((2L, "x"))), Seq("id"),
      onMatch = "delete", insertUnmatched = false)
    assert(ids(LakeTable.load(wh, "d", "t").read(spark)) == Set(1L, 3L))
    assert(lakeReader(wh).count() == 2L)
  }

  test("mergeMoR: NULL source keys insert, duplicate target keys all " +
      "update, the insert side never re-scans the target") {
    import SparkTestSession.spark.implicits._
    val (wh, t) = mkTable("mrgnull")
    // the target scan runs as a job (driver decode off) for the
    // listener below to count
    t.updateProperties(Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    t.append(Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (2L, "b2"),
      (null, "n")).toDF("id", "v"))
    val src = Seq[(java.lang.Long, String)]((2L, "B"), (null, "N"),
      (5L, "E")).toDF("id", "v")
    // the target is scanned ONCE (the matched checkpoint); the insert
    // anti-join reads that checkpoint, not a second target scan
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler
          .SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD")))
          scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try t.mergeMoR(spark, src, Seq("id"))
    finally {
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(scans.get == 1, s"target scans: ${scans.get}")
    val got = LakeTable.load(wh, "d", "t").read(spark).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1)))
      .toSeq.sorted
    // both id=2 rows match and update; NULL never matches, on either
    // side: the target's NULL row stays, the source's NULL row inserts
    assert(got == Seq((None, "N"), (None, "n"), (Some(1L), "a"),
      (Some(2L), "B"), (Some(2L), "B"), (Some(5L), "E")))
  }

  test("mergeMoR refuses duplicate source keys with one message for a " +
      "driver-resident and an RDD-backed source") {
    import SparkTestSession.spark.implicits._
    val (_, t) = mkTable("mrgdup")
    t.append(df(Seq((1L, "a"), (2L, "b"))))
    val rows = Seq((2L, "x"), (7L, "y"), (2L, "z"))
    val local = rows.toDF("id", "v")
    val distributed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2)).toDF("id", "v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val localErr = try intercept[IllegalArgumentException](
        t.mergeMoR(spark, local, Seq("id")))
      finally {
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(jobs.get == 0, "the driver-side check runs no Spark job")
    val rddErr = intercept[IllegalArgumentException](
      t.mergeMoR(spark, distributed, Seq("id")))
    assert(localErr.getMessage ==
      "requirement failed: merge source has multiple rows for key Some([2,2])")
    assert(rddErr.getMessage == localErr.getMessage)
    assert(ids(LakeTable.load(t.location.getParent.getParent.toString,
      "d", "t").read(spark)) == Set(1L, 2L), "nothing committed")
  }

  test("mergeMoR refuses duplicate NaN and binary source keys, " +
      "driver-resident or not") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-mor-mrgnan").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"d","data_type":"double"},
        |{"column_name":"b","data_type":"binary"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
        .stripMargin)
    val schema = StructType(Seq(StructField("d", DoubleType),
      StructField("b", BinaryType), StructField("v", StringType)))
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
    val t = LakeTable.load(wh, "d", "t")
    t.append(frame(Seq(Row(1.0, Array[Byte](1), "a"))))
    // two NaN keys; two equal binary keys in distinct arrays
    val dupNaN = Seq(Row(Double.NaN, Array[Byte](1), "x"),
      Row(Double.NaN, Array[Byte](2), "y"))
    val dupBin = Seq(Row(1.0, Array[Byte](7, 8), "x"),
      Row(2.0, Array[Byte](7, 8), "y"))
    for ((rows, key) <- Seq(dupNaN -> "d", dupBin -> "b");
         src <- Seq(frame(rows), frame(rows).repartition(2))) {
      val e = intercept[IllegalArgumentException](
        LakeTable.load(wh, "d", "t").mergeMoR(spark, src, Seq(key)))
      assert(e.getMessage.startsWith(
        "requirement failed: merge source has multiple rows for key"),
        e.getMessage)
    }
    assert(LakeTable.load(wh, "d", "t").metadata.snapshots.size == 1,
      "nothing committed")
  }

  test("metadata columns _graft_file/_graft_pos are selectable") {
    val (wh, t) = mkTable("metacols")
    t.append(df(Seq((1L, "a"), (2L, "b"))).repartition(1))
    val rows = lakeReader(wh)
      .select(col("id"), col("_graft_file"), col("_graft_pos"))
      .orderBy("id").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 1L))
    assert(rows.map(_.getString(1)).distinct.length == 1)
    assert(rows(0).getString(1).endsWith(".parquet"))
  }

  test("SQL UPDATE routes to merge-on-read deltas via table property") {
    val wh = Files.createTempDirectory("graft-mor-sqlupd").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"write.update.mode":"merge-on-read"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val before = t.plannedFiles().map(_.path).toSet
    spark.conf.set("spark.sql.catalog.gdelta", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gdelta.warehouse", wh)
    spark.sql("UPDATE gdelta.d.t SET v = concat(v, '!') WHERE id >= 2")
    val t2 = LakeTable.load(wh, "d", "t")
    val last = t2.metadata.snapshots.last
    assert(last.operation == "delete", s"got ${last.operation}")
    assert(last.deletePaths.nonEmpty && last.files.nonEmpty)
    assert(last.deleteCounts.values.sum == 2L)
    // no original data file was rewritten
    assert(before.subsetOf(t2.plannedFiles().map(_.path).toSet))
    val got = spark.sql("SELECT id, v FROM gdelta.d.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b!"), (3L, "c!")))
    assert(spark.sql("SELECT count(*) n FROM gdelta.d.t").collect()(0)
      .getLong(0) == 3L)
  }

  test("SQL MERGE routes to merge-on-read deltas via table property") {
    val wh = Files.createTempDirectory("graft-mor-sqlmrg").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"write.merge.mode":"merge-on-read"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val before = t.plannedFiles().map(_.path).toSet
    spark.conf.set("spark.sql.catalog.gdm", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gdm.warehouse", wh)
    df(Seq((2L, "B"), (4L, "D"))).createOrReplaceTempView("mor_merge_src")
    spark.sql(
      """MERGE INTO gdm.d.t t USING mor_merge_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.snapshots.last.operation == "delete")
    assert(before.subsetOf(t2.plannedFiles().map(_.path).toSet))
    val got = spark.sql("SELECT id, v FROM gdm.d.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    assert(spark.sql("SELECT count(*) n FROM gdm.d.t").collect()(0)
      .getLong(0) == 4L)

    // WHEN NOT MATCHED BY SOURCE on the delta path: rows the source no
    // longer carries are position-deleted, no target file rewritten
    df(Seq((2L, "B2"), (3L, "C"))).createOrReplaceTempView("mor_merge_src2")
    spark.sql(
      """MERGE INTO gdm.d.t t USING mor_merge_src2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(t3.metadata.snapshots.last.operation == "delete",
      "replace-style sync must stay merge-on-read")
    assert(before.subsetOf(t3.plannedFiles().map(_.path).toSet),
      "no pre-existing file rewritten")
    assert(spark.sql("SELECT id, v FROM gdm.d.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((2L, "B2"), (3L, "C")))
  }

  test("SQL DELETE routes to merge-on-read via table property") {
    val wh = Files.createTempDirectory("graft-mor-sql").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"write.delete.mode":"merge-on-read"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    spark.conf.set("spark.sql.catalog.gmor2", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmor2.warehouse", wh)
    spark.sql("DELETE FROM gmor2.d.t WHERE id = 2")
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.snapshots.last.operation == "delete")
    assert(t2.metadata.snapshots.last.deletePaths.nonEmpty)
    assert(spark.sql("SELECT id FROM gmor2.d.t").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("task-fused deleteCounts equal a read-back group-by of the " +
      "written delete files") {
    val (wh, t) = mkTable("fusedcnt")
    // two data files so the delete spans multiple victim paths
    t.append(df((1L to 5L).map(i => (i, s"a$i"))))
    t.append(df((6L to 10L).map(i => (i, s"b$i"))))
    val snap = LakeTable.load(wh, "d", "t")
      .deleteMoR(spark, col("id").isin(2L, 3L, 7L))
    assert(snap.isDefined)
    val readBack = spark.read.parquet(snap.get.deletePaths: _*)
      .groupBy("file_path").count().collect()
      .map(r => java.nio.file.Paths.get(r.getString(0))
        .getFileName.toString -> r.getLong(1)).toMap
    val fused = snap.get.deleteCounts.map { case (p, n) =>
      java.nio.file.Paths.get(p).getFileName.toString -> n }
    assert(fused === readBack)
    assert(fused.values.sum === 3L)
  }
}
