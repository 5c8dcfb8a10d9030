package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{BloomFilters, Engine, LakeTable}

/** r18 in-write-task bloom fusion: the write tasks build the per-file
  * filters from the rows they are writing, so no write reads its files
  * back. These tests pin the two things that must never drift:
  *
  *   1. the incremental Accumulator is bit-identical to the batch
  *      build() across its internal pin boundary, and
  *   2. the fused filters' BITS equal a read-back build over the
  *      FileFormatWriter reference write of the same rows
  *      ([[graft.lake.HiveDirWriteReference]]) — including nulls,
  *      unicode, negative longs, and an int-typed column — so build
  *      and probe can never disagree.
  *
  * Plus the optimization's observable: a bloom-bearing append launches
  * exactly as many Spark jobs as a bloom-less one.
  */
class BloomTaskFusionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Accumulator equals build() across sizes incl. the pin boundary") {
    val rnd = new java.util.Random(7L)
    // the accumulator pins when its power-of-two buffer fills AND the
    // final size no longer depends on the count: first at n = 524288
    // (524288·10 > MaxBits/2) — 600000 crosses it, 500000 does not
    for (n <- Seq(0, 1, 63, 64, 65, 4096, 500000, 600000)) {
      val hashes = Array.fill(n)(rnd.nextLong())
      val acc = new BloomFilters.Accumulator()
      hashes.foreach(acc.add)
      assert(java.util.Arrays.equals(acc.finish(),
        BloomFilters.build(hashes)),
        s"accumulator diverged from build() at n=$n")
    }
    assert(524288L * BloomFilters.BitsPerValue > BloomFilters.MaxBits / 2)
    assert(262144L * BloomFilters.BitsPerValue <= BloomFilters.MaxBits / 2)
  }

  private def mk(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-bfuse-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"int"},
         |{"column_name":"tag","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.updateProperties(Map("write.bloom-columns" -> "id,tag"))
    (wh, LakeTable.load(wh, "d", "t"))
  }

  /** Adversarial rows: nulls in each column, negative ids, unicode and
    * empty strings, values whose cast-to-string must match catalyst's.
    */
  private def fixture = {
    import SparkTestSession.spark.implicits._
    Seq[(Option[Int], Option[String])](
      (Some(1), Some("plain")),
      (Some(-2147483648), Some("")),
      (None, Some("null-id")),
      (Some(42), None),
      (None, None),
      (Some(7), Some("unié中😀")),
      (Some(0), Some(" leading and trailing ")),
      (Some(123456789), Some("tag`with`quotes"))
    ).toDF("id", "tag").withColumn("score", lit(0.5))
  }

  test("fused filters are bit-identical to the read-back build") {
    def blobsOf(t: LakeTable): Map[Int, Seq[Array[Long]]] = {
      val files = t.plannedFiles()
      assert(files.nonEmpty && files.forall(_.blooms.size == 2),
        s"expected id+tag blooms on every file, got " +
          s"${files.map(_.blooms.size)}")
      files.flatMap(_.blooms).groupBy(_.fieldId).map { case (fid, refs) =>
        fid -> refs.map(r => BloomFilters.readBlob(r.path, r.offset,
          r.length)).sortBy(_.toSeq.hashCode)
      }
    }
    // distributed (non-local-plan) write: repartition(2) forces the
    // task-writer job; same rows both ways
    val (whA, tA) = mk("fused")
    tA.append(fixture.repartition(2, col("id")))
    val fused = blobsOf(LakeTable.load(whA, "d", "t"))

    // the read-back build of the FileFormatWriter reference write
    val (_, tB) = mk("readback")
    val ref = graft.lake.HiveDirWriteReference.write(tB,
      graft.lake.Align(fixture.repartition(2, col("id")), tB.currentSchema),
      Files.createTempDirectory("graft-bfuse-ref"))
    val readBack: Map[Int, Seq[Array[Long]]] = ref.flatMap(_.blooms.toSeq)
      .groupBy(_._1).map { case (fid, bs) =>
        fid -> bs.map(_._2).sortBy(_.toSeq.hashCode)
      }
    assert(ref.nonEmpty && ref.forall(_.blooms.size == 2))

    assert(fused.keySet == readBack.keySet)
    for (fid <- fused.keySet) {
      val (a, b) = (fused(fid), readBack(fid))
      assert(a.size == b.size, s"file count drifted for field $fid")
      a.zip(b).foreach { case (wa, wb) =>
        assert(java.util.Arrays.equals(wa, wb),
          s"filter bits drifted for field $fid")
      }
    }
    // and the fused table prunes + finds exactly like the read-back one
    val t = LakeTable.load(whA, "d", "t")
    assert(t.read(spark).filter(col("id") === -2147483648)
      .count() == 1L)
    assert(t.read(spark).filter(col("tag") === "unié中😀")
      .count() == 1L)
  }

  test("a bloom-bearing distributed append launches no extra job") {
    // count ONLY this test's jobs: suites share one session and run in
    // parallel, so a global count races concurrent suites' jobs. The
    // job group is a thread-local the engine's async SQL executions
    // propagate (SQLExecution.withThreadLocalCaptured), so every job
    // an append launches from this thread carries it.
    val group = s"bloom-fusion-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null &&
              group == j.properties.getProperty("spark.jobGroup.id"))
            jobs.incrementAndGet()
      })
    // the listener bus is async — quiesce like Bench does: a stable
    // count over consecutive polls
    def quiesce(): Int = {
      var stable = 0; var prev = jobs.get
      while (stable < 3) {
        Thread.sleep(30)
        val cur = jobs.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }
    def countJobs(f: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, "bloom fusion job count")
      try { val j0 = quiesce(); f; quiesce() - j0 }
      finally spark.sparkContext.clearJobGroup()
    }
    val (_, tBloom) = mk("jobs")
    val wh2 = Files.createTempDirectory("graft-bfuse-nobloom").toString
    Engine.processTableDefJson(wh2,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"int"},
         |{"column_name":"tag","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[]}""".stripMargin)
    val tPlain = LakeTable.load(wh2, "d", "t")
    val src = fixture.repartition(2, col("id")).localCheckpoint()
    val jPlain = countJobs { tPlain.append(src) }
    val jBloom = countJobs { tBloom.append(src) }
    assert(jBloom == jPlain,
      s"bloom fusion must not add jobs: $jBloom vs $jPlain")
  }
}
