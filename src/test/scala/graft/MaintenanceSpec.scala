package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Table maintenance: snapshot expiration (metadata squash) and orphan
  * data-file removal — correctness of the live set before/after, and
  * safety (referenced files never touched).
  */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-maint-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def df(data: (Long, String)*) = {
    import SparkTestSession.spark.implicits._
    data.toDF("id", "v")
  }

  private def ids(t: LakeTable): Set[Long] =
    t.read(spark).select("id").collect().map(_.getLong(0)).toSet

  test("metadata-version retention sweeps old version documents") {
    val wh = Files.createTempDirectory("graft-maint-vers").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"vr","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[],
        |"properties":{"metadata.previous-versions-max":"2"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "vr")
    import SparkTestSession.spark.implicits._
    (1L to 5L).foreach(i => t.append(Seq(i).toDF("id")))
    val mdDir = Paths.get(wh, "d", "vr", "metadata")
    def versions: Set[Int] = scala.util.Using.resource(Files.list(mdDir)) {
      st => scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala.map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+\\.json") =>
          n.stripPrefix("v").stripSuffix(".json").toInt }.toSet
    }
    assert(versions == (1 to 6).toSet, "one document per commit")
    val removed = t.removeOrphanFiles(olderThanMillis = 0)
    assert(removed.count(_.matches(".*v\\d+\\.json")) == 4,
      "versions older than the newest 2 are swept")
    assert(versions == Set(5, 6))
    // the table stays fully readable and writable
    val t2 = LakeTable.load(wh, "d", "vr")
    assert(t2.read(spark).count() == 5)
    t2.append(Seq(6L).toDF("id"))
    assert(t2.read(spark).count() == 6)
  }

  test("expireSnapshots squashes history, preserves live set and later replay") {
    val (wh, t) = mkTable("expire")
    t.append(df(1L -> "a"))
    t.append(df(2L -> "b"))
    t.delete(spark, col("id") === 1L)   // snapshot 3 (overwrite)
    t.append(df(3L -> "c"))             // snapshot 4
    assert(ids(t) == Set(2L, 3L))

    val n = t.expireSnapshots(keepAfter = 3)
    assert(n == 3)
    // live set unchanged, later append replays on top of the squash
    assert(ids(t) == Set(2L, 3L))
    val reloaded = LakeTable.load(wh, "d", "t")
    assert(ids(reloaded) == Set(2L, 3L))
    assert(reloaded.metadata.snapshots.map(_.operation) ==
      Seq("rewrite", "append"))
    // time travel to expired ids is gone; to the squash point works
    intercept[IllegalArgumentException] {
      reloaded.read(spark, asOfSnapshot = Some(1L))
    }
    assert(reloaded.read(spark, asOfSnapshot = Some(3L))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    // expiring nothing is a no-op (no commit)
    val v = reloaded.metadata.snapshots.size
    assert(reloaded.expireSnapshots(keepAfter = 0) == 0)
    assert(reloaded.metadata.snapshots.size == v)
  }

  test("removeOrphanFiles deletes only unreferenced parquet") {
    val (wh, t) = mkTable("orphan")
    t.append(df(1L -> "a", 2L -> "b"))
    t.delete(spark, col("id") === 1L)  // old file now unreferenced? no —
    // the delete's removed file is still listed by snapshot 1 (history)
    assert(t.removeOrphanFiles(0).isEmpty)

    // after expiry the pre-delete file is referenced by no snapshot
    t.expireSnapshots(keepAfter = 2)
    val removed = t.removeOrphanFiles(0)
    assert(removed.nonEmpty)
    assert(ids(t) == Set(2L))
    assert(ids(LakeTable.load(wh, "d", "t")) == Set(2L))

    // a stray write-attempt leftover is cleaned too
    val stray = Paths.get(t.location.toString, "data", "snap-9-dead",
      "part-junk.parquet")
    Files.createDirectories(stray.getParent)
    Files.write(stray, Array[Byte](1, 2, 3))
    val removed2 = t.removeOrphanFiles(0)
    assert(removed2 == Seq(stray.toString))
    assert(!Files.exists(stray.getParent), "empty snap dir pruned")
  }

  /** Spawn a TornWriteWorker JVM that halts at `fault`; returns after
    * asserting it died exactly there (rc 137).
    */
  private def crashWorkerAt(wh: String, fault: String): Unit = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin",
      "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val log = Files.createTempFile("graft-torn", ".log").toFile
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ addOpens ++ Seq("-Xmx1500m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        "graft.TornWriteWorker", wh, "d", "t", fault)): _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    assert(proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
      "torn writer timed out")
    val logText = new String(Files.readAllBytes(log.toPath))
    assert(proc.exitValue() == 137,
      s"worker must die AT the fault point (rc ${proc.exitValue()}); " +
        "log tail:\n" + logText.takeRight(3000))
    assert(logText.contains("TORN about to halt"))
  }

  test("a JVM killed between data-file write and commit leaves the " +
      "table clean, sweepable, and retryable") {
    val (wh, t) = mkTable("torn")
    t.append(df(1L -> "committed"))
    val beforeVersion = Files.readString(
      Paths.get(wh, "d", "t", "metadata", "version-hint.text")).trim
    // real crash: a separate JVM appends and HALTS (no shutdown hooks)
    // at the fault point after writeDataFiles, before commitSnapshot
    crashWorkerAt(wh, "post-write-pre-commit")

    // the torn state is real: stranded parquet under data/, no commit
    val dataDir = Paths.get(wh, "d", "t", "data")
    def strandedParquet() = {
      val referenced = LakeTable.load(wh, "d", "t").metadata.snapshots
        .flatMap(_.files.map(_.path)).toSet
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dataDir)) { st =>
        st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .filterNot(p => referenced(p.toString)).toList
      }
    }
    assert(strandedParquet().nonEmpty,
      "crash must strand the written-but-uncommitted files")
    assert(Files.readString(Paths.get(wh, "d", "t", "metadata",
      "version-hint.text")).trim == beforeVersion,
      "a torn write must not advance the committed version")

    // 1) the table reads CLEAN — uncommitted files are invisible
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.read(spark).collect().map(r =>
      r.getLong(0) -> r.getString(1)).toSeq == Seq(1L -> "committed"))

    // 2) the orphan sweep collects the stranded files
    val swept = t2.removeOrphanFiles(olderThanMillis = 0)
    assert(swept.nonEmpty, "sweep must collect the torn write's files")
    assert(strandedParquet().isEmpty, "no stranded parquet after sweep")

    // 3) a retried commit through a fresh handle succeeds
    LakeTable.load(wh, "d", "t").append(df(999L -> "retried"))
    assert(LakeTable.load(wh, "d", "t").read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet ==
      Set(1L -> "committed", 999L -> "retried"))
  }

  test("a JVM killed between deletion-vector container write and " +
      "commit leaves the table clean, sweepable, and retryable") {
    val (wh, t) = mkTable("torndv")
    t.updateProperties(Map("format-version" -> "3"))
    t.append(df(1L -> "a", 2L -> "b", 3L -> "c"))
    val beforeVersion = Files.readString(
      Paths.get(wh, "d", "t", "metadata", "version-hint.text")).trim
    // the worker vector-deletes id <= 1 and halts after writing the
    // .gdv container but before the metadata commit references it
    crashWorkerAt(wh, "post-dv-write-pre-commit")

    val dataDir = Paths.get(wh, "d", "t", "data")
    def strandedGdv() = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(dataDir)) { st =>
        st.iterator().asScala
          .filter(_.toString.endsWith(".gdv")).toList
      }
    }
    assert(strandedGdv().nonEmpty,
      "crash must strand the written-but-uncommitted container")
    assert(Files.readString(Paths.get(wh, "d", "t", "metadata",
      "version-hint.text")).trim == beforeVersion,
      "a torn vector write must not advance the committed version")

    // 1) the table reads CLEAN — no row went missing
    val t2 = LakeTable.load(wh, "d", "t")
    assert(ids(t2) == Set(1L, 2L, 3L))

    // 2) the orphan sweep collects the stranded container
    val swept = t2.removeOrphanFiles(olderThanMillis = 0)
    assert(swept.exists(_.endsWith(".gdv")),
      s"sweep must collect the torn container, swept: $swept")
    assert(strandedGdv().isEmpty)

    // 3) the retried vector delete through a fresh handle succeeds and
    //    its committed container survives the next sweep
    val t3 = LakeTable.load(wh, "d", "t")
    val snap = t3.deleteMoR(spark, col("id") <= 1L)
    assert(snap.isDefined && snap.get.dvs.nonEmpty)
    assert(ids(LakeTable.load(wh, "d", "t")) == Set(2L, 3L))
    val swept2 = LakeTable.load(wh, "d", "t")
      .removeOrphanFiles(olderThanMillis = 0)
    assert(!swept2.exists(_.endsWith(".gdv")),
      "a referenced container must never be swept")
    assert(ids(LakeTable.load(wh, "d", "t")) == Set(2L, 3L))
  }

  test("a JVM killed between the metadata claim and the pointer flip " +
      "does not wedge the table (torn claim self-heals)") {
    // zero recovery grace: the test must not wait out the 30 s default
    val wh = Files.createTempDirectory("graft-maint-claim").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"commit.recovery.grace-ms":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(df(1L -> "committed"))
    crashWorkerAt(wh, "post-claim-pre-flip")
    // the torn state: v3.json claimed (create=1, append=2, claim=3)
    // but the pointer still reads 2 — before recovery existed, EVERY
    // future commit re-collided on v3 forever
    val metaDir = Paths.get(wh, "d", "t", "metadata")
    assert(Files.exists(metaDir.resolve("v3.json")))
    assert(Files.readString(metaDir.resolve("version-hint.text"))
      .trim == "2")
    // a valid torn claim rolls FORWARD: the dead writer's row commits,
    // and the new append lands on top of it
    LakeTable.load(wh, "d", "t").append(df(5L -> "after"))
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.read(spark).collect().map(r =>
      r.getLong(0) -> r.getString(1)).toSet ==
      Set(1L -> "committed", 999L -> "torn-row", 5L -> "after"))
    assert(Files.readString(metaDir.resolve("version-hint.text"))
      .trim == "4")
    // a TORN (unparseable) claim is deleted and its version re-taken
    Files.writeString(metaDir.resolve("v5.json"), "{ \"not\": json...")
    LakeTable.load(wh, "d", "t").append(df(6L -> "again"))
    assert(Files.readString(metaDir.resolve("version-hint.text"))
      .trim == "5")
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 4)
  }

  test("removeOrphanFiles refuses to run on a stale handle") {
    val (wh, t) = mkTable("stale-orphan")
    t.append(df(1L -> "a"))
    val stale = LakeTable.load(wh, "d", "t")
    // another handle commits: files the stale handle never observed
    // exist on disk, and a sweep computed from its referenced set
    // could delete them (age guard notwithstanding — mtimes can fall
    // before the cutoff)
    t.append(df(2L -> "b"))
    intercept[java.util.ConcurrentModificationException] {
      stale.removeOrphanFiles(0)
    }
    // a fresh load sees everything and sweeps nothing
    assert(LakeTable.load(wh, "d", "t").removeOrphanFiles(0).isEmpty)
    assert(ids(LakeTable.load(wh, "d", "t")) == Set(1L, 2L))
  }

  test("expireSnapshotsOlderThan keeps the latest snapshot regardless of age") {
    val wh = java.nio.file.Files.createTempDirectory("graft-age").toString
    graft.lake.Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"age","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    val t = graft.lake.LakeTable.load(wh, "d", "age")
    import spark.implicits._
    t.append(Seq(1L).toDF("id"))
    t.append(Seq(2L).toDF("id"))
    t.append(Seq(3L).toDF("id"))
    // cutoff far in the future: everything is "old", but the latest
    // snapshot must survive (squashed history replaces the rest)
    val expired = t.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000)
    assert(expired == 2)
    assert(t.read(spark).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // nothing old remains
    assert(t.expireSnapshotsOlderThan(0L) == 0)
    // idempotence at the same cutoff: the squash snapshot must not be
    // re-squashed forever — "run until 0 expired" loops terminate
    val again = t.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000)
    assert(again == 0, s"second expiry at same cutoff must be 0, was $again")
  }

  // ---- partition-scoped compaction ------------------------------------

  private def mkPartTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-scoped-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"pt","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"p","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"p","name":"pp"}]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "pt"))
  }

  private def pdf(rows: (Long, String, String)*) = {
    import SparkTestSession.spark.implicits._
    rows.toDF("id", "p", "v")
  }

  private def planned(t: LakeTable): Seq[(String, Long, String)] =
    t.plannedFiles().map(f => (f.path, f.seq, f.partitionValues("pp")))

  test("compactScoped rewrites only the target partition, carries the rest") {
    val (wh, t) = mkPartTable("basic")
    t.append(pdf((1L, "a", "x"), (10L, "b", "x")))
    t.append(pdf((2L, "a", "y"), (11L, "b", "y")))
    t.deleteMoR(spark, col("p") === "a" && col("id") === 1L,
      prune = Map("pp" -> Set("a")))
    val before = planned(t)
    val snap = t.compactScoped(spark, Map("pp" -> Set("a")))
    assert(snap.isDefined)
    val t2 = LakeTable.load(wh, "d", "pt")
    val after = planned(t2)
    assert(before.filter(_._3 == "b").toSet == after.filter(_._3 == "b").toSet,
      "untouched partition keeps exact paths and seqs")
    assert(after.filter(_._3 == "a").map(_._1).toSet
      .intersect(before.filter(_._3 == "a").map(_._1).toSet).isEmpty,
      "every in-scope file rewritten")
    assert(after.filter(_._3 == "a").forall(_._2 == snap.get.id),
      "rewritten files take the compaction snapshot's sequence")
    assert(LakeTable.liveDeletes(t2.metadata.snapshots).isEmpty,
      "the scope's position deletes are materialized away")
    assert(ids(t2) == Set(2L, 10L, 11L))
    // the commit is a byte move, not a CoW overwrite: changelog/CDC
    // consumers skip it instead of wedging on "copy-on-write commits
    // carry no row-level change information"
    assert(snap.get.operation == "rewrite-data")
    val log = t2.changelogBetween(spark, 0L,
      t2.metadata.snapshots.map(_.id).max)
    assert(log.filter(col("_change_type") === "insert").count() >= 3)
    // the .files metadata relation (replaySuffix path) agrees with the
    // replay about which files the rewrite-data commit removed
    spark.conf.set("spark.sql.catalog.gmscoped", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmscoped.warehouse", wh)
    val metaPaths = spark.sql(
      "SELECT path FROM gmscoped.d.pt.files").collect()
      .map(_.getString(0)).toSet
    assert(metaPaths == after.map(_._1).toSet,
      ".files relation must reflect the scoped rewrite")
  }

  test("compactScoped no-ops when nothing in scope needs rewriting") {
    val (_, t) = mkPartTable("noop")
    t.append(pdf((1L, "a", "x"), (10L, "b", "x")))
    val n = t.metadata.snapshots.size
    // threshold 1 byte: no live file is smaller, none carries deletes
    assert(t.compactScoped(spark, smallerThanBytes = 1L).isEmpty)
    // single clean file per partition in scope: rewriting gains nothing
    assert(t.compactScoped(spark, Map("pp" -> Set("a"))).isEmpty)
    assert(t.metadata.snapshots.size == n, "no empty overwrite committed")
  }

  test("rewritePositionDeleteFiles merges tombstones, drops dead ones, " +
      "keeps counts exact") {
    val (wh, t) = mkTable("posmerge")
    t.append(df(1L -> "a", 2L -> "b", 5L -> "e").coalesce(1))  // file A
    t.append(df(3L -> "c", 4L -> "d").coalesce(1))             // file B
    // one delete SNAPSHOT spanning BOTH files: its delete file carries
    // rows for A and B together
    t.deleteMoR(spark, col("id") === 1L || col("id") === 3L)
    t.deleteMoR(spark, col("id") === 5L)                       // A again
    // CoW delete rewrites file B (materializing its tombstone): the
    // spanning delete file's B-rows now reference a DEAD file — the
    // merge must drop them while keeping A's
    t.delete(spark, col("id") === 4L)
    assert(LakeTable.liveDeletes(t.metadata.snapshots)
      .values.flatMap(_.paths).toSeq.distinct.size >= 2,
      "multiple live delete files before the merge")
    val snap = t.rewritePositionDeleteFiles()
    assert(snap.isDefined, "multiple live delete files must merge")
    val t2 = LakeTable.load(wh, "d", "t")
    val liveAfter = LakeTable.liveDeletes(t2.metadata.snapshots)
    assert(liveAfter.values.flatMap(_.paths).toSeq.distinct.size == 1,
      "all live tombstones consult ONE merged file")
    // merged rows = exactly the LIVE tombstones (ids 1 and 5 in A);
    // the dead B-row from the spanning delete file is gone
    assert(spark.read.parquet(snap.get.deletePaths: _*).count() == 2L)
    assert(liveAfter.values.map(_.rows).sum == 2L)
    // content identical, counts exact, replay stable across reload
    assert(ids(t2) == Set(2L))
    assert(t2.read(spark).count() == 1L)
    // a second run has nothing to merge (fixpoint for maintenance loops)
    assert(t2.rewritePositionDeleteFiles().isEmpty)
    // later MoR deletes accumulate on top of the merged state
    t2.deleteMoR(spark, col("id") === 2L)
    assert(ids(LakeTable.load(wh, "d", "t")).isEmpty)
  }

  test("snapshotTable clones out-of-line manifests and isolates writes") {
    val (wh, t) = mkTable("clone")
    t.append(df(1L -> "a", 2L -> "b"))
    t.append(df(3L -> "c"))
    // force the out-of-line manifest tier so the clone exercises the
    // manifest-document copy, not just inline file lists
    t.rewriteManifests()
    t.append(df(4L -> "d"))
    val (clone, msgs) = LakeTable.snapshotTable(wh, "d", "t", "d", "t2")
    assert(msgs.head.contains("zero data copied"))
    assert(ids(clone) == Set(1L, 2L, 3L, 4L))
    // fresh load re-resolves manifests against the CLONE's metadata dir
    val re = LakeTable.load(wh, "d", "t2")
    assert(ids(re) == Set(1L, 2L, 3L, 4L))
    assert(!Files.exists(re.location.resolve("data")),
      "no data bytes under the clone")
    // writes are isolated in both directions
    re.append(df(5L -> "e"))
    t.append(df(6L -> "f"))
    assert(ids(LakeTable.load(wh, "d", "t2")) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(LakeTable.load(wh, "d", "t")) == Set(1L, 2L, 3L, 4L, 6L))
    // the clone's sweep refuses; the SOURCE's still runs
    intercept[IllegalArgumentException] { re.removeOrphanFiles(0) }
    assert(LakeTable.load(wh, "d", "t").removeOrphanFiles(0).isEmpty)
    // re-cloning over an existing table refuses
    intercept[IllegalArgumentException] {
      LakeTable.snapshotTable(wh, "d", "t", "d", "t2")
    }
  }

  test("compactScoped keeps equality-delete batches applying to carried files") {
    val (wh, t) = mkPartTable("eq")
    t.append(pdf((1L, "a", "old"), (10L, "b", "old")))
    // eq batch (seq 2) supersedes id=10 in the UNTOUCHED partition
    t.upsertMoR(spark, pdf((10L, "b", "new")), keys = Seq("id"))
    val snap = t.compactScoped(spark, Map("pp" -> Set("a")))
    assert(snap.isDefined)
    val t2 = LakeTable.load(wh, "d", "pt")
    assert(LakeTable.liveEqDeletes(t2.metadata.snapshots).nonEmpty,
      "an out-of-scope eq batch survives the scoped rewrite")
    val rows = t2.read(spark).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "old", 10L -> "new"),
      "carried file still superseded; rewritten rows not re-deleted")
  }
}
