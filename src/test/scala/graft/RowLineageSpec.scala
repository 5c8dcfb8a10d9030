package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Row lineage (Iceberg v3): every committed data file is stamped with
  * a `firstRowId` range from the table's `next-row-id` counter, so
  * `_row_id = firstRowId + position` is a table-wide stable identity;
  * on v3 tables every rewrite (compaction, copy-on-write ops)
  * MATERIALIZES the ids of moved rows so they survive the move, and
  * `_last_updated_sequence_number` tracks the commit that last wrote
  * each row (inherited from the file's data sequence for untouched
  * rows, re-stamped through the null-inheritance rule for updated
  * ones).
  */
class RowLineageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String, v3: Boolean = true): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-lineage-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    if (v3) t.updateProperties(Map("format-version" -> "3"))
    (wh, t)
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import SparkTestSession.spark.implicits._
    rows.toDF("id", "v")
  }

  /** id -> (_row_id, _last_updated_sequence_number) */
  private def lineage(t: LakeTable): Map[Long, (Long, Long)] =
    t.readLineage(spark).collect().map(r =>
      r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap

  test("appends assign disjoint contiguous id ranges; counter persists") {
    val (wh, t) = mkTable("assign")
    t.append(df((1L to 5L).map(i => (i, s"a$i"))))
    t.append(df((6L to 8L).map(i => (i, s"b$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.nextRowId == 8L)
    val all = t2.readLineage(spark).select("_row_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(all == (0L until 8L).toSeq,
      "ids must cover exactly [0, rowcount) with no gaps or dupes")
    // every stamped file has a non-negative base and they don't overlap
    val files = t2.plannedFiles()
    assert(files.forall(_.firstRowId >= 0))
    val ranges = files.map(f => (f.firstRowId, f.firstRowId + f.rows))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => hi <= lo2
      case _ => true
    })
  }

  test("compaction preserves every row's id and last-updated sequence") {
    val (wh, t) = mkTable("compact")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    t.append(df((7L to 9L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    t2.compact(spark)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(t3.plannedFiles().forall(_.lineageCols),
      "compacted files must carry materialized lineage columns")
    assert(lineage(t3) == before,
      "a rewrite must not re-identify or re-stamp rows")
  }

  test("CoW update: updated rows keep ids and bump last-updated; others untouched") {
    val (wh, t) = mkTable("upd")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    val snap = t2.update(spark, Map("v" -> lit("X")), col("id") <= 2L).get
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    for (i <- 1L to 6L) {
      assert(after(i)._1 == before(i)._1, s"row $i changed identity")
      if (i <= 2L)
        assert(after(i)._2 == snap.id,
          s"updated row $i must carry the updating commit's sequence")
      else
        assert(after(i)._2 == before(i)._2,
          s"untouched row $i must keep its last-updated sequence")
    }
  }

  test("CoW merge: updates keep ids, inserts get fresh ids, deletes vanish") {
    val (wh, t) = mkTable("mrg")
    t.append(df((1L to 4L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    val maxBefore = before.values.map(_._1).max
    t2.merge(spark, df(Seq((2L, "U2"), (10L, "I10"))), Seq("id"))
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    assert(after(2L)._1 == before(2L)._1, "merged-update row kept its id")
    assert((1L to 4L).forall(i => after(i)._1 == before(i)._1))
    assert(after(10L)._1 > maxBefore, "insert must get a FRESH id")
  }

  test("MoR update: updated copies keep ids and bump last-updated") {
    val (wh, t) = mkTable("morupd")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    val snap = t2.updateMoR(spark, Map("v" -> lit("X")), col("id") <= 2L).get
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    for (i <- 1L to 6L) {
      assert(after(i)._1 == before(i)._1,
        s"row $i changed identity across an MoR update")
      if (i <= 2L)
        assert(after(i)._2 == snap.id,
          s"updated row $i must carry the updating commit's sequence")
      else
        assert(after(i)._2 == before(i)._2,
          s"untouched row $i must keep its last-updated sequence")
    }
  }

  test("MoR merge: updates keep ids, inserts fresh, across a compaction") {
    val (wh, t) = mkTable("mormrg")
    t.append(df((1L to 4L).map(i => (i, s"v$i"))))
    // a compaction first, so the matched rows come from a
    // MATERIALIZED-lineage file (coalesce branch), then merge
    LakeTable.load(wh, "d", "t").compact(spark)
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    val maxBefore = before.values.map(_._1).max
    t2.mergeMoR(spark, df(Seq((2L, "U2"), (10L, "I10"))), Seq("id"))
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    assert((1L to 4L).forall(i => after(i)._1 == before(i)._1),
      "every pre-existing row must keep its id across an MoR merge")
    assert(after(10L)._1 > maxBefore, "insert must get a FRESH id")
  }

  test("vectored MoR delete leaves survivors' lineage untouched") {
    val (wh, t) = mkTable("mor")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    t2.deleteMoR(spark, col("id") <= 2L)
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    assert(after.keySet == (3L to 6L).toSet)
    assert(after.forall { case (k, v) => before(k) == v })
  }

  test("branch CoW update + publish: ids stable, deletes retire, appends fresh") {
    val (wh, t) = mkTable("brcow")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    val maxBefore = before.values.map(_._1).max
    t2.createBranch("curate")
    t2.updateBranchCoW(spark, "curate", Map("v" -> lit("X")), col("id") <= 2L)
    var h = LakeTable.load(wh, "d", "t")
    h.deleteFromBranchCoW(spark, "curate", col("id") === 6L)
    h = LakeTable.load(wh, "d", "t")
    h.appendToBranch(df(Seq((10L, "new"))), "curate")
    h = LakeTable.load(wh, "d", "t")
    val published = h.fastForward("curate")
    val t3 = LakeTable.load(wh, "d", "t")
    val after = lineage(t3)
    assert(after.keySet == Set(1L, 2L, 3L, 4L, 5L, 10L))
    for (i <- 1L to 5L)
      assert(after(i)._1 == before(i)._1,
        s"row $i must keep its identity through the branch curation")
    assert(after(10L)._1 > maxBefore, "branch append must mint a fresh id")
    // updated rows re-stamp at the PUBLISH sequence (that's when they
    // land on main); untouched survivors keep their original
    val updSeq = published.find(_.operation == "overwrite").get.id
    assert(after(1L)._2 == updSeq && after(2L)._2 == updSeq)
    assert(after(4L)._2 == before(4L)._2)
  }

  test("a second staged CoW over rows an earlier STAGED commit " +
      "rewrote defers their lineage to publish — no dangling staged " +
      "sequence ever lands in parquet") {
    // ONE data file, so the second pass necessarily rewrites the first
    // pass's output: materializing the inherited sequence there would
    // bake the STAGED id (re-numbered at publish) into the file
    val (wh, t) = mkTable("brchain")
    t.append(df((1L to 5L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    val before = lineage(t2)
    t2.createBranch("cur")
    // pass 1: update rows 1,2; pass 2 rewrites the SAME file again
    t2.updateBranchCoW(spark, "cur", Map("v" -> lit("A")), col("id") <= 2L)
    var h = LakeTable.load(wh, "d", "t")
    h.updateBranchCoW(spark, "cur", Map("v" -> lit("B")), col("id") === 4L)
    h = LakeTable.load(wh, "d", "t")
    val published = h.fastForward("cur")
    val updSeq1 = published.head.id
    val updSeq2 = published(1).id
    val after = lineage(LakeTable.load(wh, "d", "t"))
    val publishedIds = LakeTable.load(wh, "d", "t").metadata
      .snapshots.map(_.id).toSet
    // every lineage sequence must reference a REAL main snapshot
    after.values.map(_._2).foreach(s =>
      assert(publishedIds.contains(s),
        s"dangling lineage sequence $s (snapshots: $publishedIds)"))
    for (i <- 1L to 5L)
      assert(after(i)._1 == before(i)._1, s"row $i identity must hold")
    assert(after(1L)._2 == updSeq1 && after(2L)._2 == updSeq1,
      s"pass-1 rows must re-stamp at pass 1's PUBLISHED id: $after")
    assert(after(4L)._2 == updSeq2,
      s"pass-2 row must re-stamp at pass 2's published id: $after")
    assert(after(3L)._2 == before(3L)._2 && after(5L)._2 == before(5L)._2,
      s"untouched survivors keep their original sequence: $after")
  }

  test("connector metadata columns agree with the native lineage read") {
    val (wh, t) = mkTable("conn")
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    val t2 = LakeTable.load(wh, "d", "t")
    t2.update(spark, Map("v" -> lit("X")), col("id") === 3L)
    val t3 = LakeTable.load(wh, "d", "t")
    val native = lineage(t3)
    val conn = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()
      .select(col("id"), col("_graft_row_id"), col("_graft_last_updated"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(conn == native,
      "SQL-surface lineage must match the Spark-native read")
  }

  test("lineage read plan: per-file constants resolve in the scan stage, no join") {
    val (_, t) = mkTable("plan")
    // the plans below are the distributed scan's (driver decode off)
    t.updateProperties(Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    t.append(df((1L to 6L).map(i => (i, s"v$i"))))
    // the connector lineage read takes per-file constants from its
    // input partitions: no join, no lookup expression
    val rp = t.readLineage(spark).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!rp.contains("Join") && !rp.contains("fileconst("), rp)
    // the file-list reads (scoped compaction, copy-on-write rewrites)
    // run on the same pinned scan: the constants ride the partitions
    val p = t.readPinned(spark, t.plannedFiles(), lineage = true)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BatchScan"), p)
    assert(!p.contains("Join") && !p.contains("fileconst("),
      "lineage must not join a file-constant table:\n" + p)
  }

  test("zero-copy clone carries the id counter: no collisions after cloning") {
    val (wh, t) = mkTable("clone")
    t.append(df((1L to 5L).map(i => (i, s"v$i"))))
    LakeTable.snapshotTable(wh, "d", "t", "d", "t2")
    val clone = LakeTable.load(wh, "d", "t2")
    clone.append(df(Seq((9L, "new"))))
    val c2 = LakeTable.load(wh, "d", "t2")
    val ids = c2.readLineage(spark).select("_row_id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size,
      "cloned rows and post-clone appends must not share row ids")
  }

  test("v1/v2 tables assign no ids; the v3 upgrade starts assignment") {
    val (wh, t) = mkTable("gate", v3 = false)
    t.append(df((1L to 4L).map(i => (i, s"v$i"))))
    val pre = LakeTable.load(wh, "d", "t")
    // lineage is a v3 feature: a pre-v3 commit must not hand out ids
    // that the upgrade's re-baselined counter would then conflict with
    assert(pre.metadata.nextRowId == 0L)
    assert(pre.plannedFiles().forall(_.firstRowId < 0))
    assert(pre.readLineage(spark).collect().forall(_.isNullAt(2)),
      "pre-v3 rows must read a null _row_id")
    pre.updateProperties(Map("format-version" -> "3"))
    val t3 = LakeTable.load(wh, "d", "t")
    t3.append(df(Seq((9L, "new"))))
    val after = LakeTable.load(wh, "d", "t")
    // pre-upgrade files stay unstamped (same nulls time-travel always
    // showed); the post-upgrade append takes ids from 0
    val byId = after.readLineage(spark).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some(r.getLong(2)))).toMap
    assert((1L to 4L).forall(byId(_).isEmpty))
    assert(byId(9L).contains(0L))
    assert(after.metadata.nextRowId == 1L)
  }
}
