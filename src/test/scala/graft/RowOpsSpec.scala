package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Copy-on-write row-level ops (DELETE / UPDATE / MERGE): only files
  * containing matching rows are rewritten, untouched files survive
  * by path, overwrite snapshots replay correctly through load() and
  * time travel, and SQL NULL-predicate semantics hold.
  */
class RowOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-rowops-$tag").toString
    val r = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"grp","data_type":"string"},
        |{"column_name":"v","data_type":"double"}],
        |"partitions":[{"column":"grp"}]}""".stripMargin)
    assert(!r.hasError, r.messageList)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def rows(t: LakeTable): Set[(Long, String, Double)] = {
    t.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
  }

  private def df(data: Seq[(Long, String, Double)]) = {
    import SparkTestSession.spark.implicits._
    data.toDF("id", "grp", "v")
  }

  test("delete rewrites only affected files; others survive by path") {
    val (_, t) = mkTable("del")
    // two appends × two partitions = 4 files
    t.append(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.append(df(Seq((3L, "a", 3.0), (4L, "b", 4.0))))
    val before = LakeTable.liveFiles(t.metadata.snapshots)
    assert(before.size == 4)

    // matches only the file holding id=3 (partition a, snapshot 2)
    val snap = t.delete(spark, col("id") === 3L)
    assert(snap.isDefined && snap.get.operation == "overwrite")
    assert(snap.get.removedPaths.size == 1)
    assert(rows(t) == Set((1L, "a", 1.0), (2L, "b", 2.0), (4L, "b", 4.0)))

    // the three untouched files must still be the same physical files
    val after = LakeTable.liveFiles(t.metadata.snapshots).map(_.path).toSet
    assert((before.map(_.path).toSet -- snap.get.removedPaths).subsetOf(after))
    // deleting everything leaves an empty table but a valid snapshot log
    t.delete(spark, lit(true))
    assert(t.read(spark).count() == 0)
    // no-match delete commits nothing
    val v = t.metadata.snapshots.size
    assert(t.delete(spark, col("id") === 99L).isEmpty)
    assert(t.metadata.snapshots.size == v)
  }

  test("a copy-on-write delete of rows a merge-on-read delete already " +
      "removed rewrites nothing") {
    val (_, t) = mkTable("delaftermor")
    t.append(df(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))))
    assert(t.deleteMoR(spark, col("id") === 1L).isDefined)
    // the candidate scan applies the live position deletes: no live
    // row matches, so no file is rewritten and no overwrite commits
    assert(t.delete(spark, col("id") === 1L).isEmpty)
    val t2 = LakeTable.load(t.location.getParent.getParent.toString, "d", "t")
    assert(t2.metadata.snapshots.map(_.operation) == Seq("append", "delete"))
    assert(rows(t2) == Set((2L, "a", 2.0), (3L, "b", 3.0)))
    // the changelog replays without a copy-on-write diff to refuse
    assert(t2.changelogBetween(spark, 0L, t2.metadata.snapshots.last.id)
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a branch copy-on-write delete skips rows deleted in the " +
      "branch view") {
    val (_, t) = mkTable("branchdelaftermor")
    t.append(df(Seq((1L, "a", 1.0), (2L, "a", 2.0))))
    assert(t.deleteMoR(spark, col("id") === 1L).isDefined)
    t.createBranch("fix")
    assert(t.deleteFromBranchCoW(spark, "fix", col("id") === 1L).isEmpty)
    assert(t.deleteFromBranchCoW(spark, "fix", col("id") === 2L).isDefined)
  }

  test("delete keeps NULL-predicate rows (SQL semantics)") {
    val (_, t) = mkTable("delnull")
    import SparkTestSession.spark.implicits._
    t.append(Seq((1L, "a", Some(1.0)), (2L, "a", None), (3L, "a", Some(3.0)))
      .toDF("id", "grp", "v"))
    t.delete(spark, col("v") > 1.0) // NULL for id=2 → keep
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("update applies assignments to matching rows only") {
    val (_, t) = mkTable("upd")
    t.append(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))))
    val snap = t.update(spark,
      Map("v" -> (col("v") * 10), "grp" -> lit("z")),
      col("id") >= 2L)
    assert(snap.isDefined)
    assert(rows(t) == Set((1L, "a", 1.0), (2L, "z", 20.0), (3L, "z", 30.0)))
    // updated rows land under their new partition value
    val moved = LakeTable.liveFiles(t.metadata.snapshots)
      .filter(_.partitionValues.get("grp_identity").contains("z"))
    assert(moved.nonEmpty)
    intercept[IllegalArgumentException] {
      t.update(spark, Map("nope" -> lit(1)), lit(true))
    }
  }

  test("update SET a=b, b=a swaps (all RHS see pre-update values)") {
    val (_, t) = mkTable("swap")
    t.append(df(Seq((1L, "g1", 10.0))))
    // grp:=concat of v, v:=v+id — both must read the original row
    t.update(spark,
      Map("grp" -> concat(lit("was_"), col("v").cast("string")),
        "v" -> (col("v") + col("id"))),
      lit(true))
    assert(rows(t) == Set((1L, "was_10.0", 11.0)))
  }

  test("merge rejects duplicate source keys (cardinality rule)") {
    val (_, t) = mkTable("dupsrc")
    t.append(df(Seq((1L, "a", 1.0))))
    val src = df(Seq((1L, "x", 9.0), (1L, "y", 8.0)))
    val e = intercept[IllegalArgumentException] {
      t.merge(spark, src, Seq("id"))
    }
    assert(e.getMessage.contains("multiple rows"))
    // table untouched
    assert(rows(t) == Set((1L, "a", 1.0)))
  }

  test("merge upserts: update matched, insert unmatched, delete matched") {
    val (_, t) = mkTable("mrg")
    t.append(df(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))))
    // source updates id=2, inserts id=9; extra column ignored
    import SparkTestSession.spark.implicits._
    val src = Seq((2L, "b2", 22.0, "x"), (9L, "n", 9.0, "y"))
      .toDF("id", "grp", "v", "extra")
    val snap = t.merge(spark, src, Seq("id"))
    assert(snap.isDefined)
    assert(rows(t) ==
      Set((1L, "a", 1.0), (2L, "b2", 22.0), (3L, "a", 3.0), (9L, "n", 9.0)))
    // only the file containing id=2 was rewritten
    assert(snap.get.removedPaths.size == 1)

    // merge-delete: remove matched keys, no inserts
    val src2 = Seq(Tuple1(1L), Tuple1(9L)).toDF("id")
    t.merge(spark, src2, Seq("id"), onMatch = "delete", insertUnmatched = false)
    assert(rows(t).map(_._1) == Set(2L, 3L))

    // insert-only merge (onMatch=keep): existing rows untouched
    val src3 = Seq((3L, "dup", 333.0), (7L, "c", 7.0)).toDF("id", "grp", "v")
    t.merge(spark, src3, Seq("id"), onMatch = "keep")
    assert(rows(t) ==
      Set((2L, "b2", 22.0), (3L, "a", 3.0), (7L, "c", 7.0)))
  }

  test("overwrite snapshots replay through load() and time travel") {
    val (wh, t) = mkTable("replay")
    t.append(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    val preDelete = t.metadata.snapshots.last.id
    t.delete(spark, col("id") === 1L)
    t.merge(spark, df(Seq((5L, "c", 5.0))), Seq("id"))

    val reloaded = LakeTable.load(wh, "d", "t")
    assert(rows(reloaded) == Set((2L, "b", 2.0), (5L, "c", 5.0)))
    // time travel to before the delete still sees id=1
    assert(reloaded.read(spark, asOfSnapshot = Some(preDelete))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // compaction after row-level ops preserves the live set
    reloaded.compact(spark)
    assert(rows(reloaded) == Set((2L, "b", 2.0), (5L, "c", 5.0)))
  }

  test("row ops reconcile across schema versions") {
    val (wh, t) = mkTable("evo")
    t.append(df(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    // evolve: add a column; old files lack it
    val r = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"grp","data_type":"string"},
        |{"column_name":"v","data_type":"double"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[{"column":"grp"}]}""".stripMargin)
    assert(!r.hasError)
    val t2 = LakeTable.load(wh, "d", "t")
    t2.update(spark, Map("tag" -> lit("old")), col("id") === 1L)
    val got = t2.read(spark).collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toSet
    assert(got == Set((1L, Some("old")), (2L, None)))
  }
}
