package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable, Reconcile}

/** Differential check of `LakeTable.changelogBetween` (one pinned
  * connector scan of the changelog partitions) against
  * [[ChangelogReference]] (the DataFrame union it replaced): seeded
  * random histories on a v2 (delete files) and a v3 (deletion-vector
  * deltas) table — appends, MoR deletes and merges, upserts with
  * local and distributed equality batches, a struct-nested key batch, an
  * ALTER (int→long promotion, a rename, an added column), full and
  * scoped compactions (byte moves), and a copy-on-write overwrite
  * read with `includeCowDiffs`. Every compared range must yield the
  * same rows with the same change types, ordinals and snapshot ids,
  * under the same schema (field metadata aside). Every seed runs under
  * both read bounds ([[LocalScanDiff]]) and must give the same
  * changelogs and table state under both.
  */
class ChangelogRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tableDef(evolved: Boolean): String =
    s"""{"database_name":"d","table_name":"t","columns":[
       |{"column_name":"id","data_type":"long"},
       |{"column_name":"n","data_type":"${if (evolved) "long" else "int"}"},
       |{"column_name":"${if (evolved) "w" else "v"}","data_type":"string"},
       |{"column_name":"meta","data_type":"struct","struct_def":[
       |  {"column_name":"region","data_type":"string"},
       |  {"column_name":"score","data_type":"int"}]}
       |${if (evolved) """,{"column_name":"extra","data_type":"int"}""" else ""}
       |],"partitions":[]}""".stripMargin

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The newest equality batch is small: its key frame is served from
    * a LocalRelation (no Spark job), whatever wrote it.
    */
  private def newestBatchLocal(t: LakeTable): Boolean = LocalPlans.allLocal(
    LakeTable.eqBatchFrame(spark, t.metadata.snapshots.last.eqDeletes.head))

  test("changelogBetween matches the union reference over random " +
      "v2/v3 histories") {
    import SparkTestSession.spark.implicits._
    val regions = Seq("eu", "us", "apac")
    var seen = Set.empty[String]
    for (seed <- Seq(11L, 23L, 37L); v3 <- Seq(false, true)) {
      // every seed under both read bounds: at the default the scans
      // decode on the driver, at 0 they run as jobs
      val runs = LocalScanDiff.Bounds.map { bound =>
        val rnd = new scala.util.Random(seed)
        val tag = s"seed $seed ${if (v3) "v3" else "v2"} " +
          LocalScanDiff.label(bound)
        val wh = Files.createTempDirectory("graft-chrand").toString
        Engine.processTableDefJson(wh, tableDef(evolved = false))
        LocalScanDiff.set(LakeTable.load(wh, "d", "t"), bound)
        if (v3) LakeTable.load(wh, "d", "t")
          .updateProperties(Map("format-version" -> "3"))
        def t = LakeTable.load(wh, "d", "t")
        var evolved = false
        var nextId = 0L

        // the table's current column set, from local rows
        def local(ids: Seq[Long]): DataFrame = {
          val df = ids.map(i => (i, rnd.nextInt(40), s"s${rnd.nextInt(1000)}",
              regions(rnd.nextInt(3)), rnd.nextInt(100), rnd.nextInt(9)))
            .toDF("id", "n", "v", "region", "score", "extra")
          shaped(df)
        }
        // the same shape from a distributed plan (a file equality batch)
        def distributed(lo: Long, hi: Long): DataFrame = shaped(
          spark.range(lo, hi).select(col("id"),
            (col("id") % 40).cast("int").as("n"),
            concat(lit("d"), col("id").cast("string")).as("v"),
            lit("us").as("region"), (col("id") % 100).cast("int").as("score"),
            lit(3).as("extra")).repartition(2))
        def shaped(df: DataFrame): DataFrame = df.select(Seq(col("id"),
            if (evolved) col("n").cast("long").as("n") else col("n"),
            col("v").as(if (evolved) "w" else "v"),
            struct(col("region"), col("score")).as("meta")) ++
          (if (evolved) Seq(col("extra")) else Nil): _*)
        def fresh(k: Int): Seq[Long] = {
          val ids = nextId until nextId + k
          nextId += k
          ids
        }

        // position-delete verbs refuse while equality batches are live:
        // a full compaction (a byte move) materializes them first
        def positional(op: LakeTable => Unit): Unit = {
          if (LakeTable.liveEqDeletes(t.metadata.snapshots).nonEmpty)
            t.compact(spark)
          op(t)
        }

        t.append(local(fresh(30)))
        t.append(local(fresh(20)))
        val steps = 9 + rnd.nextInt(3)
        for (step <- 1 to steps) {
          if (step == steps / 2) {
            // ALTER: n int→long, an added column, then v renamed to w
            Engine.processTableDefJson(wh, tableDef(evolved = true)
              .replace("\"w\"", "\"v\""))
            t.renameColumn("v", "w")
            evolved = true
          }
          rnd.nextInt(8) match {
            case 0 => t.append(local(fresh(10 + rnd.nextInt(10))))
            case 1 =>
              val lo = rnd.nextInt(nextId.toInt).toLong
              positional(_.deleteMoR(spark, col("id").between(lo, lo + 6)))
            case 2 =>
              // driver-written equality batch: a local upsert source
              val ids = Seq.fill(4)(rnd.nextInt(nextId.toInt).toLong).distinct
              t.upsertMoR(spark, local(ids), Seq("id"))
              assert(newestBatchLocal(t), tag)
              seen += "local batch"
            case 3 =>
              // task-written equality batch: a distributed upsert source
              val lo = rnd.nextInt(nextId.toInt).toLong
              t.upsertMoR(spark, distributed(lo, lo + 5), Seq("id"))
              assert(newestBatchLocal(t), tag)
              seen += "distributed batch"
            case 4 =>
              // struct-nested equality key
              t.deleteByKeysMoR(spark,
                Seq(regions(rnd.nextInt(3))).toDF("meta.region"))
            case 5 =>
              val upd = rnd.nextInt(nextId.toInt).toLong
              positional(_.mergeMoR(spark, local(Seq(upd) ++ fresh(2)),
                Seq("id")))
            case 6 => t.compact(spark)
            case 7 => t.compactScoped(spark)
          }
        }
        // a copy-on-write overwrite (CoW verbs need no live equality
        // batches: compact first — a byte move the changelog skips)
        t.compact(spark)
        t.delete(spark, col("id") % 5 === 0)
        // two position deletes on the same files: the second one's
        // vector delta differs from its full vector
        t.deleteMoR(spark, col("id") % 7 === 1)
        t.deleteMoR(spark, col("id") % 7 === 2)

        val ids = t.metadata.snapshots.map(_.id).sorted
        val mid = ids(ids.size / 2)
        val logs = for ((from, to) <- Seq((0L, ids.last), (mid, ids.last),
            (0L, mid), (ids(1), ids(ids.size - 2)))) yield {
          val got = t.changelogBetween(spark, from, to, includeCowDiffs = true)
          val want = ChangelogReference.changelogBetween(spark, t, from, to)
          // field metadata aside: the reference leaks nested field ids
          // when its first leg is an equality marker frame (a null-cast
          // struct keeps its target type's metadata)
          assert(got.schema == Reconcile.clean(want.schema),
            s"$tag ($from, $to]: schema ${got.schema.treeString} vs " +
              want.schema.treeString)
          val (g, w) = (sorted(got), sorted(want))
          assert(g == w, s"$tag ($from, $to]: ${g.size} vs ${w.size} rows; " +
            s"only new ${g.diff(w).take(5)}, only reference " +
            s"${w.diff(g).take(5)}")
          g
        }
        val snaps = t.metadata.snapshots
        val batches = snaps.flatMap(_.eqDeletes)
        val nestedId = graft.schema.FieldIds.idOf(t.currentSchema("meta")
          .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("region"))
        seen ++= Seq(
          "nested key" -> batches.exists(_.fieldIds == Seq(nestedId)),
          "delete files" -> snaps.exists(_.deletePaths.nonEmpty),
          "vector deltas" -> snaps.exists(_.dvs.nonEmpty),
          "byte move" -> snaps.exists(s => LakeTable.isByteMove(s.operation)),
          "overwrite" -> snaps.exists(_.operation == "overwrite"))
          .filter(_._2).map(_._1)
        (logs, LocalScanDiff.state(spark, t))
      }
      // the whole history's changes, by row and change type: a file
      // layout that differs between the bounds may let a scoped
      // compaction commit in one run and not the other, which shifts
      // later snapshot ids and ordinals (and the sub-ranges with them)
      def changes(log: Seq[String]): Seq[String] =
        log.map(_.replaceAll(",-?\\d+,-?\\d+\\]$", "]")).sorted
      val (a, b) = (changes(runs(0)._1.head), changes(runs(1)._1.head))
      assert(a == b, s"seed $seed v3=$v3: the two bounds' changelogs " +
        s"differ: default only ${a.diff(b).take(5)}, bound 0 only " +
        s"${b.diff(a).take(5)}")
      assert(runs(0)._2 == runs(1)._2,
        s"seed $seed v3=$v3: the two bounds' table states differ")
    }
    // the seeded histories exercised every marker kind
    assert(seen == Set("local batch", "distributed batch", "nested key",
      "delete files", "vector deltas", "byte move", "overwrite"), seen)
  }
}
