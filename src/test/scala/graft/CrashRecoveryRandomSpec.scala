package graft

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Randomized crash-recovery model check: random append / blind-upsert /
  * keyed-delete schedules with faults injected at BOTH commit crash
  * windows, against an exact in-memory model of what must be visible.
  *
  * Crash semantics modeled precisely:
  *   - "post-write-pre-commit" (data written, nothing claimed): the
  *     op's effect is LOST — readers never see it, period.
  *   - "post-claim-pre-flip" (v{N+1}.json claimed, pointer not
  *     flipped): the effect is PENDING — invisible to readers until
  *     the next commit attempt collides with the claim and
  *     `recoverTornClaim` rolls it forward, at which point it becomes
  *     visible BEFORE that next commit's own effect.
  *
  * The multi-JVM MaintenanceSpec kills real processes at these windows
  * once each; this spec exercises the same on-disk states over many
  * random schedules per run (in-process throw ≡ halt for on-disk
  * state: no cleanup path runs between the fault point and the op's
  * public exit).
  */
class CrashRecoveryRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private class TornCrash extends RuntimeException("injected crash")

  private def df(rows: Seq[(Long, String)]) = {
    import SparkTestSession.spark.implicits._
    rows.toDF("id", "v")
  }

  private def state(wh: String): Map[Long, String] =
    LakeTable.load(wh, "d", "t").read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("random op/crash schedules match the visibility model") {
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed * 7919)
      val wh = Files.createTempDirectory(s"graft-crashrnd-$seed").toString
      Engine.processTableDefJson(wh,
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"id","data_type":"long"},
          |{"column_name":"v","data_type":"string"}],"partitions":[],
          |"properties":{"commit.recovery.grace-ms":"0"}}""".stripMargin)

      var model = Map.empty[Long, String]
      // the effect of a claimed-but-unflipped commit, applied to the
      // model when the NEXT commit attempt triggers roll-forward
      var pending: Option[Map[Long, String] => Map[Long, String]] = None
      var freshId = 1000L

      def applyPending(): Unit = { pending.foreach(f => model = f(model)); pending = None }

      try {
        (1 to 10).foreach { step =>
          val opKind = rnd.nextInt(3)
          // append crashes at either window; the MoR verbs share only
          // the claim window (their data/batch writes happen inside
          // writeMoR, before commit)
          val fault = rnd.nextInt(4) match {
            case 0 if opKind == 0 => "post-write-pre-commit"
            case 1 => "post-claim-pre-flip"
            case _ => null
          }
          // one-shot arm: a retried claim after an absorbed recovery
          // still crashes exactly once
          var armed = fault
          LakeTable.faultHook = name =>
            if (armed != null && name == armed) { armed = null; throw new TornCrash }

          val t = LakeTable.load(wh, "d", "t")
          val (run, effect): (() => Unit, Map[Long, String] => Map[Long, String]) =
            opKind match {
              case 0 =>
                val rows = Seq((freshId, s"a$step"), (freshId + 1, s"b$step"))
                freshId += 10
                (() => { t.append(df(rows)) },
                  m => m ++ rows)
              case 1 =>
                val rows = (1 to 2).map(_ =>
                  (rnd.nextInt(10).toLong, s"u$step"))
                (() => { t.upsertMoR(spark, df(rows), keys = Seq("id")) },
                  m => m ++ rows)
              case 2 =>
                val ks = (1 to 2).map(_ => rnd.nextInt(10).toLong).distinct
                (() => {
                  import spark.implicits._
                  t.deleteByKeysMoR(spark, ks.toDF("id"))
                }, m => m -- ks)
            }
          val crashed =
            try { run(); false }
            catch { case _: TornCrash => true }
          LakeTable.faultHook = _ => ()

          if (!crashed) {
            // any collision with a prior pending claim rolled it
            // forward inside this op's (internally retried) commit
            applyPending()
            model = effect(model)
          } else fault match {
            case "post-write-pre-commit" =>
              // nothing claimed: effect lost; a prior pending stays
              // pending (no commit attempt happened)
              ()
            case "post-claim-pre-flip" =>
              // if a prior pending existed, this op's FIRST claim
              // collided and rolled it forward before the retried
              // claim crashed — visible despite this op's crash
              applyPending()
              pending = Some(effect)
            case other => fail(s"crashed with no fault armed: $other")
          }
          assert(state(wh) == model,
            s"seed=$seed step=$step fault=$fault crashed=$crashed")
        }
        // a clean trailing append rolls forward any final pending
        val t = LakeTable.load(wh, "d", "t")
        t.append(df(Seq((9999L, "final"))))
        applyPending()
        model += (9999L -> "final")
        assert(state(wh) == model, s"seed=$seed final")
        // version chain stays gap-free through every crash
        val metaDir = java.nio.file.Paths.get(wh, "d", "t", "metadata")
        val hint = Files.readString(metaDir.resolve("version-hint.text"))
          .trim.toInt
        (1 to hint).foreach(v => assert(
          Files.exists(metaDir.resolve(s"v$v.json")),
          s"seed=$seed: gap at v$v of $hint"))
      } finally LakeTable.faultHook = _ => ()
    }
  }

  private def isCrash(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[TornCrash] || isCrash(e.getCause))

  private def isConflict(e: Throwable): Boolean = e != null &&
    (e.isInstanceOf[java.util.ConcurrentModificationException] ||
      isConflict(e.getCause))

  test("position deletes crash at the position write and at the claim: " +
      "pre- or post-state, the sweep reclaims the stranded delete file, " +
      "a retry converges (deleteMoR, mergeMoR, SQL DELETE; v2 and v3)") {
    val faults = Seq("post-dv-write-pre-commit", "post-claim-pre-flip")
    for (v3 <- Seq(false, true); op <- Seq("deleteMoR", "mergeMoR", "sql");
         fault <- faults) {
      val label = s"v3=$v3 op=$op fault=$fault"
      val wh = Files.createTempDirectory("graft-crashpos").toString
      Engine.processTableDefJson(wh,
        s"""{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"id","data_type":"long"},
          |{"column_name":"v","data_type":"string"}],"partitions":[],
          |"properties":{"commit.recovery.grace-ms":"0",
          |"write.delete.mode":"merge-on-read"
          |${if (v3) ""","format-version":"3"""" else ""}}}""".stripMargin)
      (0 until 2).foreach(b => LakeTable.load(wh, "d", "t").append(
        df((0 until 10).map(i => (b * 10L + i, s"v${b * 10 + i}")))))
      val cat = s"gcrash${if (v3) 3 else 2}${op}${faults.indexOf(fault)}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val pre = state(wh)
      val (run, post): (() => Unit, Map[Long, String]) = op match {
        case "deleteMoR" =>
          (() => { LakeTable.load(wh, "d", "t").deleteMoR(spark,
            org.apache.spark.sql.functions.col("id") % 3 === 0L) },
            pre.filter(_._1 % 3 != 0))
        case "mergeMoR" =>
          val src = Seq((1L, "m1"), (12L, "m12"), (100L, "n100"))
          (() => { LakeTable.load(wh, "d", "t").mergeMoR(spark, df(src),
            Seq("id")) }, pre ++ src)
        case "sql" =>
          (() => { spark.sql(s"DELETE FROM $cat.d.t WHERE id % 4 = 1").collect() },
            pre.filter(_._1 % 4 != 1))
      }
      def referenced(): Set[String] = {
        val md = LakeTable.load(wh, "d", "t").metadata
        md.snapshots.flatMap(s => s.files.map(_.path) ++ s.deletePaths ++
          s.dvs.map(_.dvPath)).toSet
      }
      var armed = fault
      LakeTable.faultHook = name =>
        if (armed != null && name == armed) { armed = null; throw new TornCrash }
      val crashed = try { run(); false } catch { case e: Throwable if isCrash(e) => true }
      LakeTable.faultHook = _ => ()
      try {
        assert(crashed, s"$label: the fault point never fired")
        // died before the pointer flip either way: the pre-state
        assert(state(wh) == pre, s"$label: after the crash")
        if (fault == "post-dv-write-pre-commit") {
          // the stranded delete file (v2) or container (v3) is swept;
          // a claim's files are referenced by a version not yet
          // flipped, so that case sweeps after the retry
          val swept = LakeTable.load(wh, "d", "t").removeOrphanFiles(0L)
          assert(swept.exists(p => if (v3) p.endsWith(".gdv")
            else p.contains("/deletes-") && p.endsWith(".parquet")),
            s"$label: swept $swept")
          assert(state(wh) == pre, s"$label: after the sweep")
        }
        // retry until the op commits: a pending claim rolls forward on
        // the first attempt's commit, which then refuses as a conflict
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          assert(attempts <= 3, s"$label: no convergence")
          done = try { run(); true } catch { case e: Throwable if isConflict(e) => false }
        }
        assert(state(wh) == post, s"$label: after the retry")
        LakeTable.load(wh, "d", "t").removeOrphanFiles(0L)
        assert(state(wh) == post, s"$label: after the final sweep")
        assert(referenced().forall(p => Files.exists(java.nio.file.Paths.get(p))),
          s"$label: the sweep removed a referenced file")
      } finally LakeTable.faultHook = _ => ()
    }
  }
}
