package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{BloomFilters, Engine, LakeTable, RangeFilter, Reconcile}

/** Per-file bloom filters (`write.bloom-columns`): point-lookup file
  * skipping for high-cardinality columns whose min/max ranges overlap
  * in every file — at 100 TB, `WHERE id = x` on an unsorted id column
  * prunes nothing by range, while a ~1%-fpp bloom drops ~99% of files
  * for the cost of one cached blob probe each. Blobs live out-of-line
  * in a `.gbf` container (manifest carries ~40 bytes per file-column);
  * skipping must stay conservative everywhere the probe can't answer.
  */
class BloomSkipSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String, idType: String = "long")
      : (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-bloom-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"$idType"},
         |{"column_name":"tag","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.updateProperties(Map("write.bloom-columns" -> "id,tag,score"))
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def seed(t: LakeTable, n: Int = 400, parts: Int = 20): Unit = {
    import SparkTestSession.spark.implicits._
    // ids shuffled across files so min/max ranges overlap everywhere —
    // the bloom is the ONLY thing that can prune a point lookup
    val rnd = new scala.util.Random(42L)
    val rows = rnd.shuffle((0 until n).toVector)
      .map(i => (i.toLong, s"tag$i", i * 0.5))
    t.append(rows.toDF("id", "tag", "score").repartition(parts))
  }

  test("point lookups prune most files; the matching file survives") {
    val (wh, t0) = mk("prune")
    seed(t0)
    val t = LakeTable.load(wh, "d", "t")
    val all = t.plannedFiles()
    assert(all.size >= 15, s"fixture must spread over files, got ${all.size}")
    // eligible columns carry refs; the ineligible double does not
    assert(all.forall(_.blooms.size == 2),
      s"expected blooms for id+tag only, got ${all.map(_.blooms.size).toSet}")
    val eq = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(137)), hiNum = Some(BigDecimal(137))))
    val candidates = t.plannedFiles(statsFilters = eq)
    assert(candidates.size < all.size / 2,
      s"bloom must prune: ${candidates.size} of ${all.size} kept")
    // zero lost rows: the scan through the pruned plan still finds it
    val got = t.read(spark).filter(col("id") === 137L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(137L))
    // string point lookup prunes the same way
    val eqS = Seq(RangeFilter("tag",
      loStr = Some("tag55"), hiStr = Some("tag55")))
    assert(t.plannedFiles(statsFilters = eqS).size < all.size / 2)
    assert(t.read(spark).filter(col("tag") === "tag55")
      .collect().map(_.getLong(0)).toSeq == Seq(55L))
  }

  test("many-file builds write per-task containers — blobs never " +
      "stage on the driver") {
    val (wh, t0) = mk("percont")
    // AQE would coalesce this fixture's hash shuffle into fewer tasks;
    // keep the partitioning so the build runs as the many-task job it
    // is at real scale. The write tasks build the filters inline, and
    // a task whose blobs exceed the 64 KiB ship bound writes its own
    // container executor-side: past 26,214 rows a file's bloom is 2^19
    // bits (64 KiB) per column, so with two bloom columns every task
    // here blows the bound
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    val parts = 16
    val perTask = 27000
    try {
      // ids spread round-robin across the tasks, so min/max ranges
      // overlap everywhere — the bloom is the ONLY thing that can
      // prune a point lookup
      t0.append(spark.range(0L, parts.toLong * perTask)
        .select(col("id"), concat(lit("tag"), col("id").cast("string"))
          .as("tag"), (col("id") * 0.5).as("score"))
        .repartition(parts))
    } finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")
    val t = LakeTable.load(wh, "d", "t")
    val all = t.plannedFiles()
    assert(all.size >= 15, s"fixture must spread over files, got ${all.size}")
    // >1 distinct container proves the write happened per task: a
    // driver-side build would funnel every blob into ONE container
    // (and stage all of them on the driver to do it)
    val containers = all.flatMap(_.blooms.map(_.path)).distinct
    assert(containers.size == all.size,
      s"expected one container per task, got ${containers.size} for " +
        s"${all.size} files")
    // every ref resolves to a readable, CRC-checked blob
    for (f <- all; r <- f.blooms)
      assert(BloomFilters.readBlob(r.path, r.offset, r.length).nonEmpty)
    // and the probe still prunes without losing the matching row
    val eq = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(421)), hiNum = Some(BigDecimal(421))))
    assert(t.plannedFiles(statsFilters = eq).size < all.size / 2)
    assert(t.read(spark).filter(col("id") === 421L)
      .collect().map(_.getLong(0)).toSeq == Seq(421L))
  }

  test("small-delta builds collect once and write ONE driver-side " +
      "container; pruning identical") {
    // the r17 fast path: a routine lifecycle write (a few files, rows
    // under the driver-build bound) must not pay the groupByKey row
    // shuffle + second container-writing job — one narrow collect, one
    // container, same blobs the distributed path would build
    val (wh, t0) = mk("drvcont")
    seed(t0, n = 400, parts = 20)
    val t = LakeTable.load(wh, "d", "t")
    val all = t.plannedFiles()
    assert(all.size >= 15, s"fixture must spread over files, got ${all.size}")
    assert(all.forall(_.blooms.size == 2),
      s"expected blooms for id+tag, got ${all.map(_.blooms.size).toSet}")
    val containers = all.flatMap(_.blooms.map(_.path)).distinct
    assert(containers.size == 1,
      s"small delta must write one driver-side container, got " +
        s"${containers.size}")
    for (f <- all; r <- f.blooms)
      assert(BloomFilters.readBlob(r.path, r.offset, r.length).nonEmpty)
    val eq = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(137)), hiNum = Some(BigDecimal(137))))
    assert(t.plannedFiles(statsFilters = eq).size < all.size / 2)
    assert(t.read(spark).filter(col("id") === 137L)
      .collect().map(_.getLong(0)).toSeq == Seq(137L))
  }

  test("build_blooms backfills pre-property and registered files; " +
      "seqs and pruning survive; idempotent") {
    val wh = Files.createTempDirectory("graft-bloom-bf").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"tag","data_type":"string"},
        |{"column_name":"score","data_type":"double"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // files written BEFORE the property exists carry no filters
    val rnd = new scala.util.Random(7L)
    val rows = rnd.shuffle((0 until 300).toVector)
      .map(i => (i.toLong, s"tag$i", i * 0.5))
    LakeTable.load(wh, "d", "t")
      .append(rows.toDF("id", "tag", "score").repartition(8))
    // plus a file registered BY REFERENCE (add_files) — the other
    // class of never-bloomed file
    val extDir = Files.createTempDirectory("graft-bloom-ext")
    (300 until 340).map(i => (i.toLong, s"tag$i", i * 0.5))
      .toDF("id", "tag", "score").coalesce(1).write
      .mode("overwrite").parquet(extDir.toString)
    val extFiles = java.nio.file.Files.list(extDir)
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    LakeTable.load(wh, "d", "t").addFiles(spark, extFiles)
    val before = LakeTable.load(wh, "d", "t")
    assert(before.plannedFiles().forall(_.blooms.isEmpty))
    val seqsBefore = before.plannedFiles()
      .map(f => LakeTable.normalizePath(f.path) -> f.seq).toMap
    // the backfill verb (through the SQL CALL surface)
    before.updateProperties(Map("write.bloom-columns" -> "id,tag"))
    spark.conf.set("spark.sql.catalog.gbf", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gbf.warehouse", wh)
    val n = spark.sql("CALL gbf.system.build_blooms('d', 't')")
      .collect().head.getInt(0)
    assert(n == seqsBefore.size, s"all $n files should backfill")
    val t = LakeTable.load(wh, "d", "t")
    val live = t.plannedFiles()
    assert(live.forall(_.blooms.map(_.fieldId).size == 2),
      "every live file (incl. the registered one) carries id+tag blooms")
    // data sequences are PRESERVED (eq-delete applicability, lineage)
    assert(live.forall(f =>
      seqsBefore(LakeTable.normalizePath(f.path)) == f.seq),
      "backfill must not bump data sequences")
    // pruning now works, losslessly — including into the external file
    val all = live.size
    for (v <- Seq(137L, 320L)) {
      val kept = t.plannedFiles(statsFilters = Seq(RangeFilter("id",
        loNum = Some(BigDecimal(v)), hiNum = Some(BigDecimal(v)))))
      assert(kept.size < all, s"$v: ${kept.size} of $all kept")
      assert(t.read(spark).filter(col("id") === v)
        .collect().map(_.getLong(0)).toSeq == Seq(v))
    }
    // idempotent: everything already carries the wanted filters
    assert(LakeTable.load(wh, "d", "t").buildBlooms(spark) == 0)
  }

  test("build_blooms reconciles old-schema files (type promotion)") {
    val wh = Files.createTempDirectory("graft-bloom-evo").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "t").append(
      (0 until 100).map(i => (i, s"tag$i")).toDF("id", "tag")
        .repartition(4))
    // promote id int -> long AFTER the files were written
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t")
      .updateProperties(Map("write.bloom-columns" -> "id"))
    assert(LakeTable.load(wh, "d", "t").buildBlooms(spark) == 4)
    val t = LakeTable.load(wh, "d", "t")
    // the old int files answer probes under the promoted type: the
    // cast-to-string hash is promotion-stable
    val all = t.plannedFiles().size
    val kept = t.plannedFiles(statsFilters = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(42)), hiNum = Some(BigDecimal(42)))))
    assert(kept.size < all)
    assert(t.read(spark).filter(col("id") === 42L).count() == 1L)
  }

  test("build_blooms over the connector builds the same bits as a " +
      "per-schema parquet read, across rename, promotion and a default") {
    import SparkTestSession.spark.implicits._
    val wh = Files.createTempDirectory("graft-bloom-alter").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append((0 until 120)
      .map(i => (i - 60, if (i % 9 == 0) null else s"tag$i"))
      .toDF("id", "tag").repartition(3))
    // deleted rows still contribute bits (no deletes passed)
    LakeTable.load(wh, "d", "t").deleteMoR(spark, col("id") === 5)
    LakeTable.load(wh, "d", "t").renameColumn("tag", "label")
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"label","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    spark.conf.set("spark.sql.catalog.gbfalter", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gbfalter.warehouse", wh)
    spark.sql("ALTER TABLE gbfalter.d.t ADD COLUMN note STRING DEFAULT 'n/a'")
    LakeTable.load(wh, "d", "t").append((0 until 40)
      .map(i => (i.toLong * 1000000007L, s"new$i", s"note${i % 4}"))
      .toDF("id", "label", "note").repartition(2))
    val t0 = LakeTable.load(wh, "d", "t")
    t0.updateProperties(Map("write.bloom-columns" -> "id,label,note"))
    val t = LakeTable.load(wh, "d", "t")
    val files = t.plannedFiles()
    assert(files.map(_.schemaId).distinct.size >= 2 && files.size == 5)
    // the per-schema-group parquet build buildBlooms ran before:
    // each group reconciled to the current schema, then hashed
    val current = t.currentSchema
    val names = Seq("id", "label", "note")
    val want: Map[(String, Int), Seq[Long]] = files.groupBy(_.schemaId)
      .toSeq.flatMap { case (sid, group) =>
        val fileSchema = t.metadata.schemaById(sid)
        spark.read
          .schema(Reconcile.clean(fileSchema).asInstanceOf[StructType])
          .parquet(group.map(_.path): _*)
          .select(col("_metadata.file_path").as("_fp") +:
            Reconcile.projection(fileSchema, current): _*)
          .select(col("_fp") +: names.map(n => when(col(n).isNotNull,
            xxhash64(col(n).cast("string")))): _*)
          .collect().groupBy(r => LakeTable.normalizePath(r.getString(0)))
          .toSeq.flatMap { case (p, rs) =>
            names.zipWithIndex.map { case (n, i) =>
              (p, graft.schema.FieldIds.idOf(current(n))) ->
                BloomFilters.build(rs.iterator.filterNot(_.isNullAt(i + 1))
                  .map(_.getLong(i + 1)).toArray).toSeq
            }
          }
      }.toMap
    assert(t.buildBlooms(spark) == files.size)
    val got: Map[(String, Int), Seq[Long]] =
      LakeTable.load(wh, "d", "t").plannedFiles().flatMap { f =>
        f.blooms.map(r => (LakeTable.normalizePath(f.path), r.fieldId) ->
          BloomFilters.readBlob(r.path, r.offset, r.length).toSeq)
      }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, bits) => assert(got(k) == bits, k) }
  }

  test("every present value is found (no false negatives, seeded sweep)") {
    val (wh, t0) = mk("fn")
    seed(t0, n = 200, parts = 10)
    val t = LakeTable.load(wh, "d", "t")
    val byId = t.plannedFiles()
    for (v <- 0 until 200 by 7) {
      val kept = t.plannedFiles(statsFilters = Seq(RangeFilter("id",
        loNum = Some(BigDecimal(v)), hiNum = Some(BigDecimal(v)))))
      // conservative direction: the file holding v must be kept
      val holder = t.read(spark).filter(col("id") === v.toLong).count()
      assert(holder == 1L, s"value $v lost through bloom pruning")
      assert(kept.nonEmpty)
    }
  }

  test("probe is conservative: absent property, range shapes, fractions") {
    val wh = Files.createTempDirectory("graft-bloom-off").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"tag","data_type":"string"},
        |{"column_name":"score","data_type":"double"}],
        |"partitions":[]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "t")
    seed(t0, n = 100, parts = 5)
    val t = LakeTable.load(wh, "d", "t")
    assert(t.plannedFiles().forall(_.blooms.isEmpty),
      "no write.bloom-columns -> no blooms built")
    // with blooms: the PROBE itself must pass every non-equality shape
    // through — min/max pruning is a separate layer with its own pins
    val (wh2, t2) = mk("range")
    seed(t2, n = 100, parts = 5)
    val tr = LakeTable.load(wh2, "d", "t")
    val schema = tr.currentSchema
    val files = tr.plannedFiles()
    assert(files.forall(_.blooms.nonEmpty))
    // a range (lo != hi) never probes
    assert(files.forall(f => LakeTable.bloomMightMatch(f, schema,
      Seq(RangeFilter("id",
        loNum = Some(BigDecimal(10)), hiNum = Some(BigDecimal(20)))))),
      "a range filter must not bloom-prune any file")
    // fractional equality against the integral column: probe skipped
    // (min/max would prune it; bloom must not mis-hash it)
    assert(files.forall(f => LakeTable.bloomMightMatch(f, schema,
      Seq(RangeFilter("id",
        loNum = Some(BigDecimal("10.5")), hiNum = Some(BigDecimal("10.5")))))))
    // sanity: a real point lookup DOES get refused by some file
    assert(files.exists(f => !LakeTable.bloomMightMatch(f, schema,
      Seq(RangeFilter("id",
        loNum = Some(BigDecimal(10)), hiNum = Some(BigDecimal(10)))))))
  }

  test("IN-lists probe per value: kept iff some listed value may be present") {
    val (wh, t0) = mk("inlist")
    seed(t0, n = 300, parts = 15)
    val t = LakeTable.load(wh, "d", "t")
    val all = t.plannedFiles()
    // three keys: the plan is the union of each key's candidates —
    // more than one point lookup, far fewer than all files
    val in3 = t.plannedFiles(statsFilters = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(5)), hiNum = Some(BigDecimal(250)),
      eqSet = Seq("5", "99", "250"))))
    assert(in3.size < all.size,
      s"IN probe must prune: ${in3.size} of ${all.size}")
    // every listed value's holder file is in the candidate set
    for (v <- Seq(5L, 99L, 250L))
      assert(t.read(spark).filter(col("id") === v).count() == 1L)
    // and the DSv2 SQL surface routes IN through the same probe
    spark.conf.set("spark.sql.catalog.gbin", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gbin.warehouse", wh)
    val got = spark.sql(
      "SELECT id FROM gbin.d.t WHERE id IN (5, 99, 250) ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L, 99L, 250L))
  }

  test("int->long promotion keeps old blooms answering correctly") {
    val (wh, t0) = mk("promo", idType = "int")
    import SparkTestSession.spark.implicits._
    t0.append((0 until 100).map(i => (i, s"tag$i", i * 0.5))
      .toDF("id", "tag", "score").repartition(8))
    // promote id to long via evolution
    val t1 = LakeTable.load(wh, "d", "t")
    t1.evolve(graft.schema.TableDef.parse(
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"long"},
         |{"column_name":"tag","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[]}""".stripMargin).toOption.get)
    val t = LakeTable.load(wh, "d", "t")
    // the pre-promotion bloom hashed cast(int AS STRING); the
    // post-promotion probe hashes the long's rendering — identical, so
    // the true file is kept and most others still prune
    val all = t.plannedFiles()
    val kept = t.plannedFiles(statsFilters = Seq(RangeFilter("id",
      loNum = Some(BigDecimal(42)), hiNum = Some(BigDecimal(42)))))
    assert(kept.size < all.size)
    assert(t.read(spark).filter(col("id") === 42L).count() == 1L)
  }

  test("containers are sweep-aware: live survives, orphaned collects") {
    val (wh, t0) = mk("sweep")
    seed(t0, n = 100, parts = 4)
    val t = LakeTable.load(wh, "d", "t")
    val live = t.plannedFiles().flatMap(_.blooms.map(_.path)).distinct
    assert(live.size == 1)
    // CoW-delete everything: old files (and their container refs) drop
    // from the live set; the rewrite's own new container appears
    t.delete(spark, lit(true))
    val t2 = LakeTable.load(wh, "d", "t")
    val swept = t2.removeOrphanFiles(olderThanMillis = 0L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(live.head)),
      "a container referenced by HISTORY must survive the sweep")
    // expire history down to the delete, then sweep again: the old
    // container is unreachable and must collect
    t2.expireSnapshots(keepAfter = t2.metadata.snapshots.map(_.id).max)
    val t3 = LakeTable.load(wh, "d", "t")
    t3.removeOrphanFiles(olderThanMillis = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(live.head)),
      "an unreferenced .gbf container must be collected")
  }

  test("bloom math: fpp sanity and container round-trip") {
    val rnd = new scala.util.Random(7L)
    val present = Array.fill(5000)(rnd.nextLong())
    val words = BloomFilters.build(present)
    assert(present.forall(BloomFilters.mightContain(words, _, BloomFilters.K)))
    val absentHits = (0 until 20000).count(_ =>
      BloomFilters.mightContain(words, rnd.nextLong(), BloomFilters.K))
    assert(absentHits < 20000 * 0.03,
      s"fpp too high: $absentHits/20000")
    val dir = Files.createTempDirectory("gbf")
    val p = dir.resolve("t.gbf")
    val spans = BloomFilters.writeContainer(p,
      Seq(BloomFilters.serialize(words)))
    val back = BloomFilters.readBlob(p.toString, spans.head._1, spans.head._2)
    assert(back.toSeq == words.toSeq)
  }
}
