package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Differential check of the two ways `mergeMoR` matches its source:
  * the driver-paired path (a LocalRelation source: one scan job, the
  * pairing and the writes on the driver) against the distributed join
  * (the same rows `repartition(2)`-ed, which `LakeTable.isLocalPlan`
  * rejects). Each case builds the same seeded table twice — the same
  * appends, a merge-on-read delete and, on v3, a merge-on-read update
  * that materializes lineage — merges one copy each way, and asserts
  * equal table rows, changelogs, per-file delete counts and v3 row
  * lineage.
  *
  * Keys cover a long, a (long, string) pair, a (double, long) pair
  * (NaN, -0.0 and 0.0 among the values, the source's zeros signed
  * opposite to the target's: a join treats NaN as equal to NaN and -0.0
  * as equal to 0.0) and a binary (content equality); NULLs sit on both
  * sides and never match. A double-only key, which no task-side filter
  * narrows, takes the distributed join from both sources. Inserted
  * rows take fresh ids from their new file's range, so their
  * `_row_id`s depend on the written file layout and are compared as
  * fresh and unique, not equal. Every case runs under both read bounds
  * ([[LocalScanDiff]]): at the default the driver path's scan decodes
  * on the driver and runs no job; the two bounds must agree on rows,
  * changelog, lineage and table state.
  */
class MergeDriverRandomSpec extends AnyFunSuite {
  import MergeDriverRandomSpec._
  lazy val spark = SparkTestSession.spark

  private val tableSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("b", BinaryType),
    StructField("v", StringType)))

  private val ddl =
    """{"database_name":"d","table_name":"t","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"},
      |{"column_name":"d","data_type":"double"},
      |{"column_name":"b","data_type":"binary"},
      |{"column_name":"v","data_type":"string"}],"partitions":[]}"""
      .stripMargin

  private val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, 7.0)
  private val binaries = (0 until 6).map(i => Array[Byte](i.toByte, 42))

  /** One target row for key slot `i` (slots repeat: duplicate target
    * keys all match), NULL keys on every 7th row. */
  private def targetRow(r: scala.util.Random, i: Int): Row = {
    val slot = i % 40
    Row(if (i % 7 == 3) null else slot.toLong, s"s${slot % 3}",
      if (i % 9 == 4) null else doubles(slot % doubles.size),
      if (i % 11 == 5) null else binaries(slot % binaries.size).clone(),
      s"t$i-${r.nextInt(1000)}")
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, tableSchema)

  /** The seeded table: two appends, a merge-on-read delete, and on v3 a
    * merge-on-read update (materialized lineage). */
  private def build(wh: String, seed: Long, v3: Boolean,
      bound: Option[Long] = None): LakeTable = {
    val r = new scala.util.Random(seed)
    Engine.processTableDefJson(wh, ddl)
    LocalScanDiff.set(LakeTable.load(wh, "d", "t"), bound)
    if (v3) LakeTable.load(wh, "d", "t")
      .updateProperties(Map("format-version" -> "3"))
    LakeTable.load(wh, "d", "t").append(frame((0 until 30).map(targetRow(r, _))))
    LakeTable.load(wh, "d", "t").append(frame((30 until 55).map(targetRow(r, _))))
    LakeTable.load(wh, "d", "t").deleteMoR(spark, col("v").endsWith("7"))
    if (v3) LakeTable.load(wh, "d", "t").updateMoR(spark,
      Map("v" -> concat(col("v"), lit("u"))), col("k") === 5L)
    LakeTable.load(wh, "d", "t")
  }

  /** Source rows keyed by `keys`, unique under join equality: some
    * slots the target holds, some it lacks, and NULL keys. */
  private def source(r: scala.util.Random, keys: Seq[String],
      matchNone: Boolean): Seq[Row] = {
    val slots = r.shuffle((0 until 60).toList).take(14)
      .map(s => if (matchNone) s + 100 else s)
    // the target's zeros with the other sign: every zero match is a
    // -0.0 = 0.0 match
    def dbl(slot: Int): Double =
      if (keys.contains("d") && matchNone) 100.0 + slot
      else { val d = doubles(slot % doubles.size); if (d == 0.0) -d else d }
    def keyOf(slot: Int): Seq[Any] = keys.map {
      case "k" => slot.toLong
      case "s" => s"s${slot % 3}"
      case "d" => dbl(slot)
      case "b" => Seq(slot % binaries.size, if (matchNone) 1 else 42)
    }
    // one row per key value; -0.0 and 0.0 are one key, as in a join
    val uniq = slots.groupBy(s => keyOf(s).map {
      case d: Double if d == 0.0 => 0.0
      case d: Double if d.isNaN => "NaN"
      case o => o
    }).values.map(_.head).toSeq.sorted
    val rows = uniq.map { slot =>
      Row(slot.toLong, s"s${slot % 3}", dbl(slot),
        Array[Byte]((slot % binaries.size).toByte,
          (if (keys.contains("b") && matchNone) 1 else 42).toByte),
        s"src$slot-${r.nextInt(1000)}")
    }
    // NULL in every key column: inserts, never matches
    rows :+ Row(null, "s0", null, null, s"srcnull-${r.nextInt(1000)}")
  }

  private def render(v: Any): String = v match {
    case b: Array[Byte] => b.mkString("0x[", ",", "]")
    case null => "null"
    case o => o.toString
  }
  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(render).mkString("|")).toSeq.sorted

  private def before(t: LakeTable, v3: Boolean): Before = Before(
    t.plannedFiles().map(f => LakeTable.normalizePath(f.path))
      .zipWithIndex.toMap,
    t.metadata.snapshots.last.id,
    if (!v3) Set.empty
    else t.readLineage(spark).select("_row_id").collect()
      .map(_.getLong(0)).toSet)

  private def outcome(wh: String, pre: Before, v3: Boolean,
      res: Option[graft.lake.SnapshotMeta]): Outcome = {
    val t = LakeTable.load(wh, "d", "t")
    val postSnap = t.metadata.snapshots.last.id
    val counts = res.map(_.deleteCounts.map { case (p, n) =>
      pre.files(LakeTable.normalizePath(p)) -> n }).getOrElse(Map.empty)
    val dataCols = tableSchema.fieldNames.toSeq.map(c => col(c))
    val (carried, lastUpd, fresh) =
      if (!v3) (Seq.empty, Seq.empty, Seq.empty)
      else {
        val lin = t.readLineage(spark).select(dataCols ++ Seq(
          col("_row_id"), col("_last_updated_sequence_number")): _*)
          .collect().toSeq
        val (old, born) = lin.partition(r => pre.ids(r.getLong(5)))
        (old.map(r => r.toSeq.take(6).map(render).mkString("|")).sorted,
          lin.map(r => (r.toSeq.take(5) :+ r.get(6)).map(render)
            .mkString("|")).sorted,
          born.map(_.getLong(5)))
      }
    Outcome(res.map(_.operation), rendered(t.read(spark)),
      if (postSnap == pre.snapshot) Seq.empty
      else rendered(t.changelogBetween(spark, pre.snapshot, postSnap)),
      counts, carried, lastUpd, fresh)
  }

  /** `body`'s result and the Spark jobs it launched, counted by a job
    * group of its own (suites share the session). */
  private def withJobs[A](body: => A): (A, Int) = {
    val group = s"mdr-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "merge jobs")
    try {
      val r = body
      // the listener bus is async: wait for a stable count
      var prev = -1
      while (prev != jobs.get) { prev = jobs.get; Thread.sleep(100) }
      (r, prev)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private val keySets =
    Seq(Seq("k"), Seq("k", "s"), Seq("d", "k"), Seq("b"), Seq("d"))

  /** (format v3, key set, onMatch, insertUnmatched, matchNone): every
    * onMatch mode and insert setting on both format versions, every key
    * set, and an empty match on each format version. */
  private val cases = Seq(
    (false, 0, "update", true, false), (true, 0, "update", true, false),
    (false, 1, "delete", true, false), (true, 1, "update", false, false),
    (false, 2, "update", true, false), (true, 2, "delete", false, false),
    (false, 3, "keep", true, false), (true, 3, "update", true, false),
    (false, 0, "delete", false, false), (true, 0, "keep", true, false),
    (false, 1, "update", false, false), (true, 1, "keep", false, false),
    (false, 0, "update", true, true), (true, 2, "update", true, true),
    (false, 4, "update", true, false), (true, 4, "delete", true, false))

  test("a driver-resident source merges exactly as the distributed " +
      "join over seeded tables") {
    cases.zipWithIndex.foreach { case ((v3, ks, onMatch, ins, none), i) =>
      val seed = 7100L + i
      val keys = keySets(ks)
      val tag = s"case $i (v3=$v3 keys=$keys onMatch=$onMatch " +
        s"insertUnmatched=$ins matchNone=$none)"
      val src = source(new scala.util.Random(seed), keys, none)
      // every case under both read bounds: at the default the scans
      // decode on the driver, at 0 they run as jobs
      val runs = for (bound <- LocalScanDiff.Bounds) yield {
        val outs = Seq(true, false).map { driver =>
          val wh = Files.createTempDirectory(s"graft-mdr-$i").toString
          val t = build(wh, seed, v3, bound)
          val pre = before(t, v3)
          val df = frame(src)
          val (res, jobs) = withJobs(t.mergeMoR(spark,
            if (driver) df else df.repartition(2), keys, onMatch, ins))
          // the driver path runs at most its one scan job, none when the
          // scan decodes on the driver; a double-only key, unbounded by
          // the scan's filter, joins distributed
          val maxJobs = if (bound.isEmpty) 0 else 1
          if (driver && keys == Seq("d"))
            assert(jobs > 1, s"$tag: a double-only key ran $jobs job(s)")
          else if (driver)
            assert(jobs <= maxJobs, s"$tag ${LocalScanDiff.label(bound)}: " +
              s"driver-paired merge ran $jobs jobs")
          (outcome(wh, pre, v3, res), pre,
            LocalScanDiff.state(spark, LakeTable.load(wh, "d", "t")))
        }
        val (drv, dist) = (outs(0)._1, outs(1)._1)
        val btag = s"$tag ${LocalScanDiff.label(bound)}"
        assert(drv.operation == dist.operation, btag)
        assert(drv.rows == dist.rows, btag)
        assert(drv.changelog == dist.changelog, btag)
        assert(drv.deleteCounts == dist.deleteCounts, btag)
        assert(drv.carried == dist.carried, btag)
        assert(drv.lastUpdated == dist.lastUpdated, btag)
        assert(drv.fresh.size == dist.fresh.size, btag)
        assert(outs(0)._3 == outs(1)._3, s"$btag: table state")
        outs.foreach { case (o, pre, _) =>
          assert(o.fresh.distinct.size == o.fresh.size, s"$btag: fresh ids unique")
          assert(o.fresh.forall(_ > pre.ids.foldLeft(-1L)(math.max)),
            s"$btag: fresh ids above every earlier id")
        }
        if (none) {
          assert(drv.operation.contains("append"),
            s"$btag: a merge that matches nothing appends its inserts")
          assert(drv.deleteCounts.isEmpty, btag)
        } else if (onMatch != "keep")
          assert(drv.deleteCounts.nonEmpty, s"$btag: the case matched rows")
        (drv, outs(0)._3)
      }
      // the bounds agree: same rows, changelog, lineage and table state
      // (the files an update's copies land in may differ, so the
      // per-file delete counts compare by their total)
      val ((a, sa), (b, sb)) = (runs(0), runs(1))
      assert(a.operation == b.operation && a.rows == b.rows &&
        a.changelog == b.changelog && a.carried == b.carried &&
        a.lastUpdated == b.lastUpdated && a.fresh.size == b.fresh.size,
        s"$tag: the two bounds' merges differ")
      assert(a.deleteCounts.values.sum == b.deleteCounts.values.sum, tag)
      assert(sa == sb, s"$tag: the two bounds' table states differ")
    }
  }

  test("a stale handle's merge is refused on both paths") {
    Seq(true, false).foreach { driver =>
      val wh = Files.createTempDirectory("graft-mdr-stale").toString
      val stale = build(wh, 7200L, v3 = false)
      LakeTable.load(wh, "d", "t").append(frame(Seq(targetRow(
        new scala.util.Random(1), 99))))
      val df = frame(source(new scala.util.Random(7200L), Seq("k"), false))
      intercept[java.util.ConcurrentModificationException](
        stale.mergeMoR(spark, if (driver) df else df.repartition(2), Seq("k")))
      assert(LakeTable.load(wh, "d", "t").metadata.snapshots.last.operation ==
        "append", "nothing committed")
    }
  }
}

object MergeDriverRandomSpec {
  final case class Outcome(operation: Option[String],
      rows: Seq[String], changelog: Seq[String],
      deleteCounts: Map[Int, Long], carried: Seq[String],
      lastUpdated: Seq[String], fresh: Seq[Long])

  /** What the outcome is measured against, taken before the merge (the
    * merging handle moves to the new snapshot): the live data files in
    * plan order, the head snapshot and, on v3, the live row ids. */
  final case class Before(files: Map[String, Int], snapshot: Long,
      ids: Set[Long])
}
