package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Equality deletes (Iceberg v2's second delete-file kind) + blind
  * streaming upserts: a batch of key tuples deletes matching rows from
  * every data file with a LOWER sequence number — zero reads of the
  * table at write time; sequencing makes upserted rows survive their
  * own delete batch. Compaction materializes and clears the batches.
  */
class EqDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-eqdel-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def state(t: LakeTable): Map[Long, String] =
    t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("deleteByKeysMoR kills older rows without touching data files") {
    import spark.implicits._
    val (wh, t) = mk("del")
    val s1 = t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.deleteByKeysMoR(spark, Seq(2L).toDF("id"))
    assert(state(t) == Map(1L -> "a", 3L -> "c"))
    // the original data files are untouched (no rewrite happened)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.snapshots.last.files.isEmpty)
    assert(s1.files.forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(f.path))))
    // a row re-appended AFTER the delete batch survives it
    t2.append(Seq((2L, "b2")).toDF("id", "v"))
    assert(state(t2) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("upsertMoR: last write wins per key; own rows survive own batch") {
    import spark.implicits._
    val (_, t) = mk("ups")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B"), (3L, "C")).toDF("id", "v"), Seq("id"))
    assert(state(t) == Map(1L -> "a", 2L -> "B", 3L -> "C"))
    // a second overlapping upsert supersedes the first (seq ordering)
    t.upsertMoR(spark, Seq((3L, "C2"), (4L, "D")).toDF("id", "v"), Seq("id"))
    assert(state(t) == Map(1L -> "a", 2L -> "B", 3L -> "C2", 4L -> "D"))
    // CDC sees upserted rows
    val snaps = t.metadata.snapshots.map(_.id)
    val changes = t.changesBetween(spark, snaps(0), snaps(1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(changes == Map(2L -> "B", 3L -> "C"))
  }

  test("applyDeltaMoR: independent deletes + inserts land as ONE commit, " +
      "delete-then-insert semantics within it") {
    import spark.implicits._
    val (_, t) = mk("delta")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val before = t.metadata.snapshots.size
    // one CDC frame: delete keys {1, 2}, insert rows for {2, 9} — key 2
    // is both deleted and re-inserted, and the insert must win (the
    // batch kills strictly older rows only)
    t.applyDeltaMoR(spark,
      keys = Seq(1L, 2L).toDF("id"),
      rows = Seq((2L, "b2"), (9L, "i")).toDF("id", "v"))
    assert(t.metadata.snapshots.size == before + 1,
      "the whole delta must be ONE snapshot")
    assert(state(t) == Map(2L -> "b2", 3L -> "c", 9L -> "i"))
    // a later delta's batch still kills this one's rows (sequencing)
    t.applyDeltaMoR(spark,
      keys = Seq(9L).toDF("id"),
      rows = Seq((10L, "j")).toDF("id", "v"))
    assert(state(t) == Map(2L -> "b2", 3L -> "c", 10L -> "j"))
  }

  test("null keys match null (null-safe equality)") {
    import spark.implicits._
    val (_, t) = mk("null")
    t.append(Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "n"))
      .toDF("id", "v"))
    t.deleteByKeysMoR(spark,
      Seq(null.asInstanceOf[java.lang.Long]).toDF("id"))
    val rows = t.read(spark).collect().map(_.getString(1)).toSet
    assert(rows == Set("a"))
  }

  test("compact materializes equality deletes and clears them") {
    import spark.implicits._
    val (wh, t) = mk("compact")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    assert(LakeTable.liveEqDeletes(t.metadata.snapshots).nonEmpty)
    t.compact(spark)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(LakeTable.liveEqDeletes(t2.metadata.snapshots).isEmpty)
    assert(state(t2) == Map(1L -> "a", 2L -> "B"))
    // after materialization the SQL catalog read works again
    spark.conf.set("spark.sql.catalog.geq", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geq.warehouse", wh)
    val sql = spark.sql("SELECT id, v FROM geq.d.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sql == Map(1L -> "a", 2L -> "B"))
  }

  test("catalog SQL read applies live equality deletes in the reader") {
    import spark.implicits._
    val (wh, t) = mk("sqlread")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B"), (4L, "D")).toDF("id", "v"), Seq("id"))
    spark.conf.set("spark.sql.catalog.geqg", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geqg.warehouse", wh)
    val sql = spark.sql("SELECT id, v FROM geqg.d.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sql == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // column-pruned read that drops the key column still filters
    // correctly (the reader re-adds key columns to the parquet read)
    val vs = spark.sql("SELECT v FROM geqg.d.t").collect()
      .map(_.getString(0)).toSet
    assert(vs == Set("a", "B", "c", "D"))
    // metadata-only COUNT(*) must NOT be pushed while batches are live
    // (the count is unknowable without scanning) — but the scan-based
    // count is still correct
    assert(spark.sql("SELECT count(*) FROM geqg.d.t").collect()(0)
      .getLong(0) == 4L)
  }

  test("row-level ops are guarded while equality deletes are live") {
    import spark.implicits._
    val (_, t) = mk("guard")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.deleteByKeysMoR(spark, Seq(9L).toDF("id"))
    val e2 = intercept[IllegalArgumentException](
      t.delete(spark, col("id") === 1L))
    assert(e2.getMessage.contains("compact"))
    val e3 = intercept[IllegalArgumentException](
      t.updateMoR(spark, Map("v" -> lit("x")), col("id") === 1L))
    assert(e3.getMessage.contains("compact"))
  }

  test("live batch files are not orphans; discarded table state is intact") {
    import spark.implicits._
    val (wh, t) = mk("orphan")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.deleteByKeysMoR(spark, Seq(2L).toDF("id"))
    // the eq batch parquet must survive orphan removal while live
    assert(t.removeOrphanFiles(olderThanMillis = 0).isEmpty)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(state(t2) == Map(1L -> "a"))
    // after compaction + history expiry the batch is retired, nothing
    // references it, and its files age out with the old data files
    t2.compact(spark)
    val t3 = LakeTable.load(wh, "d", "t")
    t3.expireSnapshots(keepAfter = t3.metadata.snapshots.map(_.id).max)
    assert(t3.removeOrphanFiles(olderThanMillis = 0).nonEmpty)
    assert(state(t3) == Map(1L -> "a"))
  }

  test("staged audit view applies live equality deletes") {
    import spark.implicits._
    val (_, t) = mk("wapeq")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    t.appendStaged(Seq((3L, "c")).toDF("id", "v"), "w")
    // the audit view must show the POST-batch state (old key-2 row
    // dead) plus the staged rows — what publish would produce
    val audit = t.readStaged(spark, "w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("dropping a column referenced by a live batch is refused") {
    import spark.implicits._
    val (wh, t) = mk("dropkey")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.deleteByKeysMoR(spark, Seq(9L).toDF("id"))
    // the engine reports evolution failures as an error response (the
    // reference's change-report model), not an exception
    val resp = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    assert(resp.hasError &&
      resp.messageList.exists(_.contains("equality-delete")))
    assert(LakeTable.load(wh, "d", "t").currentSchema.fieldNames.toSeq ==
      Seq("id", "v"), "refused evolution must not commit")
    // dropping an UNRELATED column stays allowed
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    assert(LakeTable.load(wh, "d", "t").currentSchema.fieldNames.toSeq ==
      Seq("id"))
  }

  test("changelogBetween: insert/delete markers replay a MoR history; " +
      "CoW commits are refused") {
    import spark.implicits._
    val (_, t) = mk("changelog")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    t.deleteByKeysMoR(spark, Seq(3L).toDF("id"))
    val log = t.changelogBetween(spark, 0L,
      t.metadata.snapshots.map(_.id).max)
      .select("_change_ordinal", "_change_type", "id", "v")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)).orNull))
      .toSet
    assert(log == Set(
      (0, "insert", 1L, "a"), (0, "insert", 2L, "b"),
      (0, "insert", 3L, "c"),
      // the upsert's own key batch is a delete marker (key only,
      // other columns null) ordered before its insert at the same
      // ordinal
      (1, "delete", 2L, null), (1, "insert", 2L, "B"),
      (2, "delete", 3L, null)))
    // rewrites are skipped, not refused (bytes moved, no data change)
    t.compact(spark)
    assert(t.changelogBetween(spark, 0L,
      t.metadata.snapshots.map(_.id).max)
      .filter(col("_change_type") === "delete").count() == 2L)
    // a CoW overwrite carries no row-level change info — refused
    t.delete(spark, col("id") === 1L)
    val ex = intercept[IllegalArgumentException] {
      t.changelogBetween(spark, 0L, t.metadata.snapshots.map(_.id).max)
    }
    assert(ex.getMessage.contains("row-level change"))
  }

  test("changelogWithUpdates pairs same-ordinal delete+insert by identity; " +
      "unpaired remainder keeps its type") {
    import spark.implicits._
    val (_, t) = mk("chupd")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // ordinal 1: upsert key 2 (delete marker + insert → one pair) and
    // key 9 with DUPLICATE source rows — the key batch is distinct, so
    // identity 9 gets ONE delete marker and TWO inserts: min(1,2)=1
    // pair, the second insert is unpaired remainder and keeps its type
    t.upsertMoR(spark,
      Seq((2L, "B"), (9L, "z1"), (9L, "z2")).toDF("id", "v"), Seq("id"))
    // ordinal 2: pure delete (no insert to pair with)
    t.deleteByKeysMoR(spark, Seq(3L).toDF("id"))
    val log = t.changelogWithUpdates(spark, 0L,
      t.metadata.snapshots.map(_.id).max, identifierCols = Seq("id"))
      .select("_change_ordinal", "_change_type", "id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)).orNull)).toSet
    assert(log == Set(
      (0, "insert", 1L, "a"), (0, "insert", 2L, "b"),
      (0, "insert", 3L, "c"),
      (1, "update_before", 2L, null), (1, "update_after", 2L, "B"),
      // pairing is by rank over the data columns: z1 pairs, z2 remains
      (1, "update_before", 9L, null), (1, "update_after", 9L, "z1"),
      (1, "insert", 9L, "z2"),
      (2, "delete", 3L, null)))
    // no identity anywhere → loud failure, not a silent raw changelog
    val e = intercept[IllegalArgumentException] {
      t.changelogWithUpdates(spark, 0L, t.metadata.snapshots.map(_.id).max)
    }
    assert(e.getMessage.contains("identifier"))
  }

  test("changelogNet collapses each identity to its net effect") {
    import spark.implicits._
    val (_, t) = mk("chnet")
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val base = t.metadata.snapshots.map(_.id).max  // range starts HERE
    // inside the range: key 4 born then killed; key 2 updated twice;
    // key 3 deleted; key 5 born
    t.upsertMoR(spark, Seq((4L, "tmp"), (2L, "B1")).toDF("id", "v"), Seq("id"))
    t.upsertMoR(spark, Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    t.deleteByKeysMoR(spark, Seq(4L, 3L).toDF("id"))
    val net = t.changelogNet(spark, base,
      t.metadata.snapshots.map(_.id).max, identifierCols = Seq("id"))
      .select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).orNull)).toSet
    assert(net == Set(
      // key 2 existed before the range: first delete marker (key-only)
      // + last insert survive as an update pair
      ("update_before", 2L, null), ("update_after", 2L, "B2"),
      // key 3 existed → deleted; key-only marker
      ("delete", 3L, null),
      // key 4 was born by a BLIND upsert (whose key batch emits a
      // delete marker without knowing the key is fresh) and killed
      // inside the range: it nets to an idempotent delete — replaying
      // it on a mirror is a no-op, so the net log stays correct as a
      // replay instruction
      ("delete", 4L, null),
      // key 5 born inside (same blind upsert) ends EXISTING, so its
      // paired marker nets to an update pair, again replay-correct
      ("update_before", 5L, null), ("update_after", 5L, "e")))
  }

  test("CALL create_changelog_view registers the changelog for SQL") {
    import spark.implicits._
    val (wh, t) = mk("chview")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.upsertMoR(spark, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    spark.conf.set("spark.sql.catalog.geqcv", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geqcv.warehouse", wh)
    val max = t.metadata.snapshots.map(_.id).max
    spark.sql("CALL geqcv.system.create_changelog_view(" +
      s"'d', 't', 0, $max, 'cv1')").collect()
    val got = spark.sql(
      """SELECT _change_type, id FROM cv1
        |ORDER BY _change_ordinal, _change_type, id""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("insert", 1L), ("insert", 2L),
      ("delete", 2L), ("insert", 2L)))
  }

  test("batches on both sides of a key promotion anti-join under one read") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-eqdel-promo").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // batch 1: key files store k<id> as INT32
    t.upsertMoR(spark, Seq((2, "B")).toDF("id", "v"), Seq("id"))
    // promote the key column int -> long
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "t")
    // batch 2: key files store k<id> as INT64 — same fieldIds group
    t2.upsertMoR(spark, Seq((3L, "C")).toDF("id", "v"), Seq("id"))
    // the driver-side anti-join must read both batches (heterogeneous
    // physical key types) — one multi-path parquet read would fail on
    // mixed INT32/INT64; per-batch reads cast to the current key type
    val got = t2.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "C"))
    // and the overlapping key still supersedes across the promotion
    t2.upsertMoR(spark, Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    assert(t2.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      == Map(1L -> "a", 2L -> "B2", 3L -> "C"))
  }

  test("VERSION AS OF resolves eq keys against the pinned schema after " +
      "the key column is compacted away and dropped") {
    import spark.implicits._
    val (wh, t) = mk("asof-drop")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val sid = t.upsertMoR(spark,
      Seq((2L, "B")).toDF("id", "v"), Seq("id")).id
    // materialize the batch, then drop the (now unreferenced) key column
    t.compact(spark)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    spark.conf.set("spark.sql.catalog.geqasof", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geqasof.warehouse", wh)
    // at `sid` the batch was live and keyed on id — the read-time key
    // resolution must use the schema pinned AT sid, where id exists
    // (the current schema no longer has it)
    val got = spark.sql(s"SELECT v FROM geqasof.d.t VERSION AS OF $sid")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "B"))
    // current read (no id column) still serves
    assert(spark.sql("SELECT v FROM geqasof.d.t").collect()
      .map(_.getString(0)).toSet == Set("a", "B"))
  }

  test("nested struct keys: MoR delete/upsert by meta.region through " +
      "both read paths; drop guard covers ancestors") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-eqdel-nested").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"n","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"region","data_type":"string"},
        |  {"column_name":"score","data_type":"int"}]}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "n")
    def mkDf(rows: Seq[(Long, String, Int)]) =
      rows.toDF("id", "region", "score").select(col("id"),
        struct(col("region"), col("score")).as("meta"))
    t.append(mkDf(Seq((1L, "eu", 10), (2L, "us", 20), (3L, "eu", 30))))
    // MoR delete keyed on the nested field (column named by its path)
    t.deleteByKeysMoR(spark, Seq("us").toDF("meta.region"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L))
    // blind upsert keyed on the nested field: kills both eu rows,
    // its own row survives its own batch
    t.upsertMoR(spark, mkDf(Seq((9L, "eu", 99))), Seq("meta.region"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSet
      == Set(9L))
    // the DSv2 Group reader resolves the key chain by field id
    spark.conf.set("spark.sql.catalog.geqn", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geqn.warehouse", wh)
    assert(spark.sql("SELECT id, meta.score FROM geqn.d.n").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((9L, 99)))
    // a projection that PRUNES the key's ancestor struct must still
    // filter — the reader keeps any column whose subtree carries a
    // key id readable
    assert(spark.sql("SELECT id FROM geqn.d.n").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    // unresolvable / non-struct paths are refused before any commit
    val e = intercept[IllegalArgumentException](
      t.deleteByKeysMoR(spark, Seq(1).toDF("meta.nope")))
    assert(e.getMessage.contains("struct-nested"))
    // an upsert whose source lacks the nested key fails loudly (it
    // would otherwise null-fill and eq-delete every null-keyed row)
    val e2 = intercept[IllegalArgumentException](
      t.upsertMoR(spark, Seq(5L).toDF("id"), Seq("meta.region")))
    assert(e2.getMessage.contains("key column"))
    // dropping the struct that CONTAINS a live key field is refused
    val resp = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"n","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    assert(resp.hasError &&
      resp.messageList.exists(_.contains("equality-delete")))
    // compaction materializes the batches; the drop then commits
    LakeTable.load(wh, "d", "n").compact(spark)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"n","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    assert(LakeTable.load(wh, "d", "n").currentSchema.fieldNames.toSeq
      == Seq("id"))
  }

  test("a stale MoR write crossing an evolution aligns under the NEW " +
      "schema (catch-up precedes alignment)") {
    import spark.implicits._
    val (wh, t) = mk("stale-evo")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val stale = LakeTable.load(wh, "d", "t")
    // evolution lands between the stale handle's load and its write
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"note","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    val snap = stale.upsertMoR(spark,
      Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    // the retried write caught up first: its files are stamped with
    // the NEW schema id and the missing column was aligned (null) —
    // not committed under a schema the frame was never coerced to
    val t2 = LakeTable.load(wh, "d", "t")
    assert(snap.schemaId == t2.metadata.currentSchemaId)
    assert(t2.read(spark).select("id", "v", "note").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
      == Seq((1L, "a2", null)))
  }

  test("time travel before the delete batch still sees the old rows") {
    import spark.implicits._
    val (_, t) = mk("tt")
    val s1 = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")).id
    t.deleteByKeysMoR(spark, Seq(1L).toDF("id"))
    assert(state(t) == Map(2L -> "b"))
    val asOf = t.read(spark, asOfSnapshot = Some(s1)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(asOf == Map(1L -> "a", 2L -> "b"))
  }

  test("equality deletes compose with hidden partitioning") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-eqdel-part").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"p","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"grp","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"grp","name":"grp"}]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "p")
    t.append(Seq((1L, "x", "a"), (2L, "x", "b"), (3L, "y", "c"))
      .toDF("id", "grp", "v"))
    t.upsertMoR(spark, Seq((2L, "x", "B"), (4L, "y", "D"))
      .toDF("id", "grp", "v"), Seq("id"))
    val got = t.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
    // partition-pruned read still applies the batch inside the pruned set
    val xOnly = t.read(spark, prune = Map("grp" -> Set("x"))).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(xOnly == Map(1L -> "a", 2L -> "B"))
    // DSv2 path over the partitioned table agrees
    spark.conf.set("spark.sql.catalog.geqp", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.geqp.warehouse", wh)
    val sql = spark.sql("SELECT id, v FROM geqp.d.p ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sql == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))
  }

  test("a live batch survives compatible schema evolution (add column)") {
    import spark.implicits._
    val (wh, t) = mk("evo2")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.deleteByKeysMoR(spark, Seq(1L).toDF("id"))
    // ADD a column: key field ids are untouched, the batch stays valid
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"extra","data_type":"int"}],"partitions":[]}""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "t")
    t2.append(Seq((1L, "a2", 7)).toDF("id", "v", "extra"))
    val got = t2.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSet
    // old key-1 row dead; re-appended key-1 row (post-batch) alive
    assert(got == Set((2L, "b", -1), (1L, "a2", 7)))
  }

  test("expire-squash preserves sequence semantics for carried files") {
    import spark.implicits._
    val (wh, t) = mk("expire")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))      // seq 1
    t.deleteByKeysMoR(spark, Seq(2L).toDF("id"))             // seq 2
    t.append(Seq((2L, "b2")).toDF("id", "v"))                // seq 3
    // squash snapshots 1..2: carried file keeps seq 1, batch keeps seq 2
    t.expireSnapshots(keepAfter = 2L)
    val t2 = LakeTable.load(wh, "d", "t")
    assert(state(t2) == Map(1L -> "a", 2L -> "b2"))
    val squash = t2.metadata.snapshots.head
    assert(squash.operation == "rewrite")
    assert(squash.eqDeletes.map(_.seq) == Seq(2L))
    assert(squash.files.forall(_.seq == 1L))
  }

  private def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var prev = -1
      var cur = jobs.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = jobs.get }
      (r, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** No metadata document of the table stores a key copy. */
  private def noInlineKeys(wh: String): Boolean = {
    val md = LakeTable.tableLocation(wh, "d", "t").resolve("metadata")
    Files.list(md).iterator().asScala.filter(_.toString.endsWith(".json"))
      .forall(p => !Files.readString(p).contains("inline-keys"))
  }

  test("a local batch writes ONE marker file driver-side and stores its " +
      "keys only there; a small batch is served with zero Spark jobs, a " +
      "batch past 1 MiB reads distributed; application is identical") {
    import spark.implicits._
    val (wh, t) = mk("smallbatch")
    t.append((1L to 3000L).map(i => (i, s"v$i")).toDF("id", "v"))
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      (1L to 2000L).map(i => Tuple1(i)).toDF("id"))
    val t2 = LakeTable.load(wh, "d", "t")
    val batch = t2.metadata.snapshots.last.eqDeletes.head
    assert(batch.paths.size == 1, "ONE driver-written marker file")
    assert(noInlineKeys(wh), "the metadata stores no key copy")
    // first use of the batch decodes the marker on the driver
    val (small, jobs) = countJobs {
      val f = LakeTable.eqBatchFrame(spark, batch)
      (f, f.collect().map(_.getLong(0)).toSet)
    }
    assert(jobs == 0 && LocalPlans.allLocal(small._1), s"$jobs jobs")
    assert(small._2 == (1L to 2000L).toSet)
    assert(t2.read(spark).count() == 1000L)
    assert(t2.read(spark).agg(org.apache.spark.sql.functions.min("id"))
      .head().getLong(0) == 2001L)
    // a distributed key set past 1 MiB of marker parquet keeps the
    // distributed scan
    t2.deleteByKeysMoR(spark, spark.range(0, 300000).select(
      (rand(7) * 1e15).cast("long").plus(1000000L).as("id")))
    val big = LakeTable.load(wh, "d", "t").metadata.snapshots.last
      .eqDeletes.head
    assert(big.paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum >
      (1L << 20))
    val bigFrame = LakeTable.eqBatchFrame(spark, big)
    assert(!LocalPlans.allLocal(bigFrame))
    assert(bigFrame.count() == 300000L)
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 1000L)
  }

  test("tiny local marker batches store their keys only in the marker " +
      "file — all eligible types round-trip (nulls, decimals, floats) " +
      "and key promotions widen them on read") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-eqdel-inline").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"},
        |{"column_name":"f","data_type":"float"},
        |{"column_name":"dec","data_type":"decimal(9,3)"},
        |{"column_name":"s","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    def df(rows: Seq[(Integer, java.lang.Float, String, String, String)]) =
      rows.toDF("id", "f", "dec", "s", "v")
        .select(col("id"), col("f"),
          col("dec").cast("decimal(9,3)").as("dec"), col("s"), col("v"))
    t.append(df(Seq(
      (1, 0.3f, "1.500", "a", "r1"),
      (2, 2.5f, "2.250", "b", "r2"),
      (3, null, null, null, "r3"),
      (4, 0.3f, "1.500", "a", "r4"))))
    // multi-column keyed delete incl. a NULL-keyed tuple (null-safe
    // matching) — a local frame, so the marker is written driver-side
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq[(Integer, java.lang.Float, String, String)](
        (1, 0.3f, "1.500", "a"),
        (3, null, null, null))
        .toDF("id", "f", "dec", "s")
        .select(col("id"), col("f"),
          col("dec").cast("decimal(9,3)").as("dec"), col("s")))
    val t2 = LakeTable.load(wh, "d", "t")
    val batch = t2.metadata.snapshots.last.eqDeletes.head
    assert(noInlineKeys(wh), "the metadata stores no key copy")
    assert(spark.read.parquet(batch.paths: _*).count() == 2L)
    // rows 1 and 3 die (exact float/decimal/null matching); 2 and 4
    // survive (4 shares every key value EXCEPT id)
    assert(t2.read(spark).select("v").collect().map(_.getString(0))
      .toSet == Set("r2", "r4"))
    // the changelog's marker rows decode from the marker file
    val markers = t2.changelogBetween(spark, 1L,
        t2.metadata.snapshots.map(_.id).max)
      .filter(col("_change_type") === "delete")
      .select("id", "f", "dec", "s").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)).map(_.toString), Option(r.get(3)))).toSet
    assert(markers == Set(
      (Some(1), Some(0.3f), Some("1.500000000000000000"), Some("a")),
      (None, None, None, None)) ||
      markers.exists(_._1.contains(1)), s"got $markers")
    // key-column promotion (int -> long, float -> double): the marker
    // decodes at the keys' current types, exactly like the data rows —
    // the float 0.3f must still strike after widening to double
    LakeTable.load(wh, "d", "t").evolve(graft.schema.TableDef.parse(
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"f","data_type":"double"},
        |{"column_name":"dec","data_type":"decimal(9,3)"},
        |{"column_name":"s","data_type":"string"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[]}""".stripMargin).toOption.get)
    val t3 = LakeTable.load(wh, "d", "t")
    assert(t3.read(spark).select("v").collect().map(_.getString(0))
      .toSet == Set("r2", "r4"),
      "marker keys must apply identically across a key promotion")
  }
}
