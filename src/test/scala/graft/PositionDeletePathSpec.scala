package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable, SnapshotMeta}
import graft.sources.LakeLocalScan

/** Every merge-on-read delete reaches stored delete state the same
  * way: SQL `DELETE`/`UPDATE`/`MERGE` in merge-on-read mode and the
  * API's `deleteMoR`/`updateMoR`/`mergeMoR` must leave equal tables and
  * equal deleted positions in each data file, and the stored delete
  * state of one commit must not follow how the scan that found the
  * positions was packed into tasks: one position-delete file (v2) or
  * one deletion-vector container (v3) per commit, whatever
  * `spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
  * `minPartitionNum` or the table's data file count.
  */
class PositionDeletePathSpec extends AnyFunSuite {
  import PositionDeletePathSpec._
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("g", IntegerType)))

  private def frame(s: SparkSession, rows: Seq[(Long, String, Int)]): DataFrame =
    s.createDataFrame(rows.map { case (k, v, g) => Row(k, v, g) }.asJava, schema)

  /** A table of `n` base rows (k = 0 until n) in `files` data files,
    * merge-on-read for every SQL row-level command. */
  private def mk(tag: String, v3: Boolean, files: Int, n: Int,
      props: Map[String, String]): String = {
    val wh = Files.createTempDirectory(s"graft-posdel-$tag").toString
    val all = props ++ Map("write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read") ++
      (if (v3) Map("format-version" -> "3") else Map.empty)
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"g","data_type":"int"}],"partitions":[],
        |"properties":{${all.map { case (k, v) => s""""$k":"$v"""" }
          .mkString(",")}}}""".stripMargin)
    (0 until n).grouped((n + files - 1) / files).foreach(ks =>
      LakeTable.load(wh, "d", "t").append(frame(spark,
        ks.map(k => (k.toLong, s"v$k", k % 4)))))
    wh
  }

  private def catalog(s: SparkSession, name: String, wh: String): String = {
    s.conf.set(s"spark.sql.catalog.$name", "graft.sources.LakeCatalog")
    s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$name.d.t"
  }

  /** One merge-on-read op, run through SQL or through the API. */
  private sealed trait Op
  private case class Del(m: Int, r: Int) extends Op
  private case class Upd(lo: Long, hi: Long) extends Op
  private case class Mrg(src: Seq[(Long, String, Int)]) extends Op
  private case class MrgDel(keys: Seq[Long]) extends Op
  private case object DelUpdated extends Op

  private def runSql(s: SparkSession, t: String, view: String, op: Op): Unit =
    op match {
      case Del(m, r) => s.sql(s"DELETE FROM $t WHERE k % $m = $r")
      case Upd(lo, hi) =>
        s.sql(s"UPDATE $t SET v = concat(v, '!') WHERE k BETWEEN $lo AND $hi")
      case Mrg(src) =>
        frame(s, src).createOrReplaceTempView(view)
        s.sql(s"MERGE INTO $t t USING $view s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      case MrgDel(keys) =>
        frame(s, keys.map(k => (k, "x", 0))).createOrReplaceTempView(view)
        s.sql(s"MERGE INTO $t t USING $view s ON t.k = s.k " +
          "WHEN MATCHED THEN DELETE")
      case DelUpdated => s.sql(s"DELETE FROM $t WHERE v LIKE '%!' AND k % 2 = 0")
    }

  private def runApi(s: SparkSession, wh: String, op: Op,
      distributedSource: Boolean): Unit = {
    val t = LakeTable.load(wh, "d", "t")
    def src(df: DataFrame) = if (distributedSource) df.repartition(3) else df
    op match {
      case Del(m, r) => t.deleteMoR(s, col("k") % m === r)
      case Upd(lo, hi) =>
        t.updateMoR(s, Map("v" -> concat(col("v"), lit("!"))),
          col("k").between(lo, hi))
      case Mrg(rows) => t.mergeMoR(s, src(frame(s, rows)), Seq("k"))
      case MrgDel(keys) => t.mergeMoR(s, src(frame(s, keys.map(k => (k, "x", 0)))),
        Seq("k"), onMatch = "delete", insertUnmatched = false)
      case DelUpdated =>
        t.deleteMoR(s, col("v").endsWith("!") && col("k") % 2 === 0)
    }
  }

  private def plan(rnd: scala.util.Random, n: Int): Seq[Op] = Seq(
    Del(3 + rnd.nextInt(4), rnd.nextInt(3)),
    Upd(rnd.nextInt(n / 2).toLong, (n / 2 + rnd.nextInt(n / 2)).toLong),
    Mrg((0 until 6).map(_ => rnd.nextInt(n).toLong).distinct
      .map(k => (k, s"m$k", 9)) ++ Seq((n + 1L, "new1", 1), (n + 7L, "new7", 2))),
    MrgDel((0 until 5).map(_ => rnd.nextInt(n).toLong).distinct),
    DelUpdated)

  test("SQL merge-on-read DELETE/UPDATE/MERGE and deleteMoR/updateMoR/" +
      "mergeMoR leave equal tables and equal deleted positions per data " +
      "file (seeded, v2 and v3, both read bounds)") {
    for (v3 <- Seq(false, true); bound <- LocalScanDiff.Bounds;
         seed <- Seq(11L, 12L)) {
      val rnd = new scala.util.Random(seed * 31 + (if (v3) 1 else 0))
      val ops = plan(rnd, 90)
      val label = s"v3=$v3 ${LocalScanDiff.label(bound)} seed=$seed"
      val props = LocalScanDiff.props(bound)
      val sqlWh = mk(s"sql$seed", v3, files = 3, n = 90, props)
      val apiWh = mk(s"api$seed", v3, files = 3, n = 90, props)
      // a catalog name per table: the session caches catalog instances
      val t = catalog(spark,
        s"gposdiff${if (v3) 3 else 2}${bound.getOrElse(9L)}$seed", sqlWh)
      ops.foreach(runSql(spark, t, s"posdiff_src_$seed", _))
      ops.foreach(runApi(spark, apiWh, _, distributedSource = false))
      val sqlT = LakeTable.load(sqlWh, "d", "t")
      val apiT = LakeTable.load(apiWh, "d", "t")
      assert(sqlT.metadata.snapshots.map(_.operation) ==
        apiT.metadata.snapshots.map(_.operation), label)
      assert(LocalScanDiff.state(spark, sqlT) == LocalScanDiff.state(spark, apiT),
        s"$label: live or deleted rows differ")
      assert(deletedByFile(spark, sqlT, base = 3) ==
        deletedByFile(spark, apiT, base = 3), s"$label: base-file positions")
    }
  }

  test("delete-file count and deleted positions do not follow scan " +
      "packing: maxPartitionBytes, openCostInBytes, minPartitionNum and " +
      "the data file count vary on a cloned session (v2 and v3)") {
    // the op scans run as jobs (driver decode off): only a job packs
    val props = Map(LakeLocalScan.MaxBytesProperty -> "0")
    val packings = Seq(
      Map.empty[String, String],
      Map("spark.sql.files.maxPartitionBytes" -> "1024",
        "spark.sql.files.openCostInBytes" -> "0"),
      Map("spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.files.minPartitionNum" -> "1"))
    val n = 120
    for (v3 <- Seq(false, true)) {
      val runs = for (files <- Seq(2, 6); (packing, pi) <- packings.zipWithIndex)
        yield {
          val s = spark.newSession()
          packing.foreach { case (k, v) => s.conf.set(k, v) }
          val wh = mk(s"pack$files$pi", v3, files, n, props)
          val t = catalog(s, s"gpospack$pi", wh)
          val ops = Seq(Del(5, 2), Upd(30L, 70L),
            Mrg(Seq((3L, "m3", 9), (64L, "m64", 9), (111L, "m111", 9),
              (n + 1L, "new", 1))), MrgDel(Seq(8L, 90L, 119L)))
          val prevActive = SparkSession.getActiveSession
          SparkSession.setActiveSession(s)
          val perOp = try ops.map { op =>
            runApi(s, wh, op, distributedSource = true)
            LakeTable.load(wh, "d", "t").metadata.snapshots.last
          } :+ {
            s.sql(s"DELETE FROM $t WHERE k % 7 = 3")
            LakeTable.load(wh, "d", "t").metadata.snapshots.last
          } finally prevActive match {
            case Some(a) => SparkSession.setActiveSession(a)
            case None => SparkSession.clearActiveSession()
          }
          val tbl = LakeTable.load(wh, "d", "t")
          val label = s"v3=$v3 files=$files packing=$packing"
          perOp.foreach(sn => assert(sn.operation == "delete", label))
          (files, label, perOp.map(deleteFileCount),
            LocalScanDiff.state(spark, tbl),
            deletedByFile(spark, tbl, base = files))
        }
      runs.foreach { case (_, label, counts, _, _) =>
        assert(counts == Seq.fill(5)(1), s"$label: delete files per commit $counts")
      }
      runs.groupBy(_._1).values.foreach { same =>
        val (_, l0, _, state0, pos0) = same.head
        same.tail.foreach { case (_, l, _, state, pos) =>
          assert(state == state0, s"$l vs $l0: rows")
          assert(pos == pos0, s"$l vs $l0: deleted positions")
        }
      }
      // another data file count: other files, the same deleted rows
      assert(runs.map(_._4).distinct.size == 1, s"v3=$v3: deleted rows")
    }
  }

  test("a SQL merge-on-read DELETE commits one position-delete file on v2 " +
      "and leaves no parquet delete stage file on v3") {
    for (v3 <- Seq(false, true)) {
      val wh = mk(s"stage$v3", v3, files = 4, n = 200,
        Map(LakeLocalScan.MaxBytesProperty -> "0"))
      val t = catalog(spark, s"gposstage${if (v3) 3 else 2}", wh)
      // a predicate hitting every data file: four scan tasks
      spark.sql(s"DELETE FROM $t WHERE k % 9 = 4")
      val tbl = LakeTable.load(wh, "d", "t")
      val sn = tbl.metadata.snapshots.last
      assert(sn.deleteCounts.size == 4 && sn.deleteCounts.values.sum == 22L)
      if (v3) assert(sn.deletePaths.isEmpty && sn.dvs.size == 4 &&
        sn.dvs.map(_.dvPath).distinct.size == 1)
      else assert(sn.deletePaths.size == 1, s"delete files: ${sn.deletePaths}")
      val referenced = tbl.metadata.snapshots.flatMap(s =>
        s.files.map(_.path) ++ s.deletePaths).toSet
      assert(parquetUnder(Paths.get(wh, "d", "t")).toSet == referenced,
        s"v3=$v3: unreferenced parquet left in the table directory")
    }
  }
}

object PositionDeletePathSpec {
  /** Stored delete files of one commit: its position-delete files, or
    * its deletion-vector containers. */
  def deleteFileCount(sn: SnapshotMeta): Int =
    sn.deletePaths.size + sn.dvs.map(_.dvPath).distinct.size

  def parquetUnder(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toVector)

  /** Deleted positions of the first `base` data files (the seeded
    * appends, the same bytes in every table built alike), keyed by the
    * file's rows so two tables' files compare by content, not name. */
  def deletedByFile(spark: SparkSession, t: LakeTable, base: Int)
      : Map[String, Seq[Long]] = {
    val snaps = t.metadata.snapshots
    val files = snaps.take(base).flatMap(_.files)
    val key = files.map { f =>
      LakeTable.normalizePath(f.path) -> spark.read.parquet(f.path)
        .select("k", "v", "g").collect().mkString(";")
    }.toMap
    val live = LakeTable.liveFiles(snaps)
    ParquetReference.deletedPositions(spark, live, LakeTable.liveDeletes(snaps))
      .collect { case (p, pos) if key.contains(p) => key(p) -> pos }
      .groupMap(_._1)(_._2).map { case (k, ps) => k -> ps.sorted }
  }
}
