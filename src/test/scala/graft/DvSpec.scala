package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.lake.{DeletionVectors, Engine, LakeTable}

/** Deletion vectors (Iceberg v3's delete model, `format-version=3` —
  * v3 tables must vector their position deletes, exactly Iceberg's
  * rule): every MoR row-level op commits ONE Roaring bitmap per
  * affected data file that REPLACES the file's whole earlier delete
  * state — live delete structures stay O(1) per file no matter how
  * many delete commits accumulate, where the v2 positional-parquet
  * model grows a delete-file list the reader must scan every time.
  */
class DvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The pinned file-list read of every live file with the live
    * delete state — the shape scoped compaction and the copy-on-write
    * rewrites read.
    */
  private def fileListRead(t: LakeTable): DataFrame =
    t.readPinned(spark, t.plannedFiles(),
      LakeTable.liveDeletes(t.metadata.snapshots))

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-dv-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.updateProperties(Map("format-version" -> "3"))
    (wh, t)
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

  test("container round-trips full+delta blobs with CRC protection") {
    val dir = Files.createTempDirectory("graft-dv-io")
    val full = new Roaring64Bitmap(); full.add(0L, 5L, 1000000L)
    val delta = new Roaring64Bitmap(); delta.addLong(1000000L)
    val path = dir.resolve("c.gdv")
    val metas = DeletionVectors.writeContainer(path,
      Seq("/data/f1.parquet" -> ((full, delta))))
    assert(metas.size == 1)
    val m = metas.head
    assert(m.cardinality == 3L)
    val fullBack = DeletionVectors.readBlob(m.dvPath, m.offset, m.length)
    assert(fullBack.contains(0L) && fullBack.contains(1000000L) &&
      !fullBack.contains(6L))
    val deltaBack =
      DeletionVectors.readBlob(m.dvPath, m.deltaOffset, m.deltaLength)
    assert(deltaBack.getLongCardinality == 1L && deltaBack.contains(1000000L))
    // flip one byte inside the full blob: the CRC must catch it
    val bytes = Files.readAllBytes(path)
    bytes(m.offset.toInt + 5) = (bytes(m.offset.toInt + 5) ^ 0x7).toByte
    val corrupt = dir.resolve("corrupt.gdv")
    Files.write(corrupt, bytes)
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.readBlob(corrupt.toString, m.offset, m.length)
    }
    assert(e.getMessage.contains("CRC"))
  }

  test("vector delete: no delete parquet, one vector per file, reads agree") {
    val (wh, t) = mkTable("basic")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    t.append(df(Seq((4L, "d"), (5L, "e"))))
    val filesBefore = t.plannedFiles().map(_.path).toSet

    val snap = t.deleteMoR(spark, col("id") === 2L || col("id") === 5L)
    assert(snap.isDefined)
    assert(snap.get.operation == "delete")
    assert(snap.get.deletePaths.isEmpty, "vector mode writes no parquet")
    assert(snap.get.dvs.size == 2, "one vector per affected file")
    assert(snap.get.dvs.map(_.cardinality).sum == 2L)
    assert(snap.get.deleteCounts.values.sum == 2L)

    val t2 = LakeTable.load(wh, "d", "t")
    assert(ids(t2.read(spark)) == Set(1L, 3L, 4L))
    assert(ids(lakeReader(wh)) == Set(1L, 3L, 4L))
    assert(lakeReader(wh).count() == 3L) // metadata-only count stays exact
    assert(t2.plannedFiles().map(_.path).toSet == filesBefore)
  }

  test("successive deletes supersede: one live vector, additive cardinality") {
    val (wh, t) = mkTable("merge")
    t.append(df((1L to 10L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") <= 3L)
    val t2 = LakeTable.load(wh, "d", "t")
    val snap2 = t2.deleteMoR(spark, col("id").between(2L, 5L))
    // overlap on 2,3 — only 4,5 newly dead
    assert(snap2.get.deleteCounts.values.sum == 2L)
    val t3 = LakeTable.load(wh, "d", "t")
    val live = LakeTable.liveDeletes(t3.metadata.snapshots)
    // every file's live state is ONE vector (no accumulating list),
    // and the vectors' total cardinality is the 5 dead rows
    assert(live.values.forall(ds => ds.dv.isDefined && ds.paths.isEmpty))
    assert(live.values.map(_.rows).sum == 5L)
    assert(live.values.map(_.dv.get.cardinality).sum == 5L)
    assert(ids(t3.read(spark)) == Set(6L, 7L, 8L, 9L, 10L))
    assert(ids(lakeReader(wh)) == Set(6L, 7L, 8L, 9L, 10L))
    assert(lakeReader(wh).count() == 5L)
  }

  test("updateMoR under vectors: delete vector + appended copies, one commit") {
    val (wh, t) = mkTable("upd")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val snap = t.updateMoR(spark, Map("v" -> lit("X")), col("id") >= 2L)
    assert(snap.get.dvs.nonEmpty && snap.get.files.nonEmpty)
    val t2 = LakeTable.load(wh, "d", "t")
    val got = t2.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(1L -> "a", 2L -> "X", 3L -> "X"))
  }

  test("positional-to-vector transition folds legacy parquet state in") {
    val wh = Files.createTempDirectory("graft-dv-mix").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df((1L to 8L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") === 1L) // v2 positional parquet
    val t2 = LakeTable.load(wh, "d", "t")
    t2.updateProperties(Map("format-version" -> "3"))
    val snap = t2.deleteMoR(spark, col("id") === 2L)
    assert(snap.get.deleteCounts.values.sum == 1L)
    val t3 = LakeTable.load(wh, "d", "t")
    val live = LakeTable.liveDeletes(t3.metadata.snapshots)
    // if ids 1 and 2 landed in the same file, its vector REPLACED the
    // legacy parquet state (carrying both positions); either way the
    // total live count is 2 and no parquet path lingers for vectored
    // files
    assert(live.values.map(_.rows).sum == 2L)
    assert(live.values.filter(_.dv.isDefined).forall(_.paths.isEmpty))
    assert(ids(t3.read(spark)) == (3L to 8L).toSet)
    assert(ids(lakeReader(wh)) == (3L to 8L).toSet)
    assert(lakeReader(wh).count() == 6L)
  }

  test("upgraded to v3: a MoR delete's vector holds the legacy and the new " +
      "positions, and folding the legacy parquet state runs no job") {
    def upgraded(tag: String, legacy: Boolean): String = {
      val wh = Files.createTempDirectory(s"graft-dv-fold-$tag").toString
      Engine.processTableDefJson(wh,
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"id","data_type":"long"},
          |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
          .stripMargin)
      // one driver-written file: id i sits at position i - 1
      LakeTable.load(wh, "d", "t").append(df((1L to 12L).map(i => (i, s"v$i"))))
      if (legacy) LakeTable.load(wh, "d", "t")
        .deleteMoR(spark, col("id").isin(2L, 3L)) // v2 positional parquet
      LakeTable.load(wh, "d", "t")
        .updateProperties(Map("format-version" -> "3"))
      wh
    }
    def jobsOf(body: => Unit): Int = {
      val group = s"dv-fold-${java.util.UUID.randomUUID()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null &&
              group == j.properties.getProperty("spark.jobGroup.id"))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      spark.sparkContext.setJobGroup(group, "dv fold jobs")
      try {
        body
        var prev = -1
        while (prev != jobs.get) { prev = jobs.get; Thread.sleep(100) }
        prev
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(l)
      }
    }
    val wh = upgraded("mixed", legacy = true)
    val jobs = jobsOf(LakeTable.load(wh, "d", "t")
      .deleteMoR(spark, col("id").isin(6L, 7L)))
    assert(jobs == 0, s"a small upgraded table's MoR delete ran $jobs jobs")
    val t = LakeTable.load(wh, "d", "t")
    val live = LakeTable.liveDeletes(t.metadata.snapshots)
    assert(live.size == 1 && live.values.head.paths.isEmpty)
    val dv = live.values.head.dv.get
    assert(ParquetReference.vectorBits(dv.dvPath, dv.offset, dv.length).toSet ==
      Set(1L, 2L, 5L, 6L), "the vector is the legacy plus the new positions")
    assert(ParquetReference.vectorBits(dv.dvPath, dv.deltaOffset,
      dv.deltaLength).toSet == Set(5L, 6L), "the delta is the new positions")
    assert(ids(t.read(spark)) == (1L to 12L).toSet -- Set(2L, 3L, 6L, 7L))
    // scans run as jobs (bound 0): the fold adds none to the delete's own
    val bound0 = Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0")
    val (whA, whB) = (upgraded("mixed0", legacy = true),
      upgraded("pure0", legacy = false))
    Seq(whA, whB).foreach(w => LakeTable.load(w, "d", "t").updateProperties(bound0))
    val withFold = jobsOf(LakeTable.load(whA, "d", "t")
      .deleteMoR(spark, col("id").isin(6L, 7L)))
    val without = jobsOf(LakeTable.load(whB, "d", "t")
      .deleteMoR(spark, col("id").isin(6L, 7L)))
    assert(withFold == without,
      s"folding legacy positions ran ${withFold - without} extra jobs")
    assert(ids(LakeTable.load(whA, "d", "t").read(spark)) ==
      (1L to 12L).toSet -- Set(2L, 3L, 6L, 7L))
  }

  test("changelog reads the delta blob: exactly this commit's deletions") {
    val (wh, t) = mkTable("cdc")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val s1 = t.deleteMoR(spark, col("id") <= 2L).get
    val t2 = LakeTable.load(wh, "d", "t")
    val s2 = t2.deleteMoR(spark, col("id") === 3L).get
    val log = t2.changelogBetween(spark, 1L, s2.id)
    val dels = log.filter(col("_change_type") === "delete")
      .select("id", "_change_snapshot_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(dels == Set(1L -> s1.id, 2L -> s1.id, 3L -> s2.id),
      "each commit's markers come from its OWN delta, not the merged vector")
  }

  test("compaction folds vectors in and clears them; container survives sweep until then") {
    val (wh, t) = mkTable("compact")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") % 2 === 0L)
    val t2 = LakeTable.load(wh, "d", "t")
    val dvPath = t2.metadata.snapshots.flatMap(_.dvs).head.dvPath
    assert(Files.exists(Paths.get(dvPath)))
    // referenced container must survive an orphan sweep
    val swept = t2.removeOrphanFiles(olderThanMillis = -1L)
    assert(!swept.contains(dvPath))
    t2.compactScoped(spark)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(LakeTable.liveDeletes(t3.metadata.snapshots).isEmpty)
    assert(ids(t3.read(spark)) == Set(1L, 3L, 5L))
    assert(ids(lakeReader(wh)) == Set(1L, 3L, 5L))
  }

  test("expire squash carries the live vector state") {
    val (wh, t) = mkTable("expire")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val s = t.deleteMoR(spark, col("id") <= 2L).get
    t.append(df(Seq((7L, "g"))))
    val t2 = LakeTable.load(wh, "d", "t")
    t2.expireSnapshots(keepAfter = s.id)
    val t3 = LakeTable.load(wh, "d", "t")
    val squash = t3.metadata.snapshots.head
    assert(squash.operation == "rewrite" && squash.dvs.nonEmpty)
    assert(ids(t3.read(spark)) == Set(3L, 4L, 5L, 6L, 7L))
    assert(ids(lakeReader(wh)) == Set(3L, 4L, 5L, 6L, 7L))
    assert(lakeReader(wh).count() == 5L)
  }

  test("vector read plan: bitmap probe inside the scan stage, no delete join") {
    val (_, t) = mkTable("plan")
    // the plans below are the distributed scan's (driver decode off)
    t.updateProperties(Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") <= 2L)
    // the connector read applies the vector inside its reader: no
    // join, no probe expression
    val rp = t.read(spark).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!rp.contains("Join") && !rp.contains("dvdeleted("), rp)
    assert(t.read(spark).count() == 4L)
    // the file-list reads (scoped compaction, copy-on-write rewrites)
    // run on the same pinned scan: the vector applies in the reader
    val p = fileListRead(t).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BatchScan"), p)
    assert(!p.contains("Join") && !p.contains("Filter"),
      "a vectored file-list read must not join or filter:\n" + p)
    assert(fileListRead(t).count() == 4L)
  }

  test("SQL DELETE/UPDATE on a v3 merge-on-read table commit vectors") {
    val wh = Files.createTempDirectory("graft-dv-sql").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"write.delete.mode":"merge-on-read",
        |"write.update.mode":"merge-on-read","format-version":"3"}}"""
        .stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", wh)
    spark.sql("DELETE FROM gdv.d.t WHERE id <= 2")
    val afterDel = LakeTable.load(wh, "d", "t").metadata.snapshots.last
    assert(afterDel.operation == "delete" && afterDel.dvs.nonEmpty &&
      afterDel.deletePaths.isEmpty,
      "SQL WriteDelta on a v3 table must vectorize its deletes")
    assert(afterDel.deleteCounts.values.sum == 2L)
    spark.sql("UPDATE gdv.d.t SET v = concat(v, '!') WHERE id = 3")
    val t2 = LakeTable.load(wh, "d", "t")
    val afterUpd = t2.metadata.snapshots.last
    assert(afterUpd.dvs.nonEmpty && afterUpd.files.nonEmpty &&
      afterUpd.deletePaths.isEmpty)
    val got = spark.sql("SELECT id, v FROM gdv.d.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "v3!"), (4L, "v4"), (5L, "v5"), (6L, "v6")))
    assert(spark.sql("SELECT count(*) n FROM gdv.d.t").collect()(0)
      .getLong(0) == 4L)
    // every live structure is a vector
    val live = LakeTable.liveDeletes(t2.metadata.snapshots)
    assert(live.nonEmpty &&
      live.values.forall(ds => ds.dv.isDefined && ds.paths.isEmpty))
  }

  test("rewrite_position_delete_files on a v3 table converts parquet to vectors") {
    val wh = Files.createTempDirectory("graft-dv-conv").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(df((1L to 10L).map(i => (i, s"v$i"))))
    t.deleteMoR(spark, col("id") <= 2L) // v2 parquet
    val t2 = LakeTable.load(wh, "d", "t")
    t2.deleteMoR(spark, col("id") === 3L) // second v2 parquet commit
    val t3 = LakeTable.load(wh, "d", "t")
    t3.updateProperties(Map("format-version" -> "3")) // upgrade
    val snap = t3.rewritePositionDeleteFiles()
    assert(snap.isDefined && snap.get.deletePaths.isEmpty &&
      snap.get.dvs.nonEmpty)
    val t4 = LakeTable.load(wh, "d", "t")
    val live = LakeTable.liveDeletes(t4.metadata.snapshots)
    assert(live.values.forall(ds => ds.dv.isDefined && ds.paths.isEmpty),
      "after conversion no positional parquet may remain live")
    assert(live.values.map(_.rows).sum == 3L)
    assert(ids(t4.read(spark)) == (4L to 10L).toSet)
    assert(ids(lakeReader(wh)) == (4L to 10L).toSet)
    assert(lakeReader(wh).count() == 7L)
    // idempotent: nothing positional left to convert
    assert(LakeTable.load(wh, "d", "t")
      .rewritePositionDeleteFiles().isEmpty)
  }

  test("mergeMoR under vectors: matched rows vector-deleted, updates append") {
    val (wh, t) = mkTable("mrg")
    t.append(df(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    val src = df(Seq((2L, "B2"), (9L, "I9")))
    val snap = t.mergeMoR(spark, src, Seq("id"))
    assert(snap.get.dvs.nonEmpty)
    val t2 = LakeTable.load(wh, "d", "t")
    val got = t2.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "I9"))
    assert(ids(lakeReader(wh)) == Set(1L, 2L, 3L, 9L))
  }
}
