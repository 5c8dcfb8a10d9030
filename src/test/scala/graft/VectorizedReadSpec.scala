package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** The vectorized DSv2 read path ([[graft.sources.VectorizedLakeReader]]
  * + [[graft.sources.LakeVectorize]]): clean-file scans must serve
  * ColumnarBatches (pinned — the fast path cannot silently regress to
  * row mode), EVOLVED tables (rename / int→long / float→double /
  * decimal widen / added columns) must stay on the batch path, and
  * every read must equal the values the test wrote (or, for an
  * external file, `spark.read.parquet` of it).
  */
class VectorizedReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private var n = 0
  // every table here keeps its scans distributed (driver decode off):
  // the spec pins the columnar form the scans run in
  private def mk(defJson: String): String = {
    val wh = Files.createTempDirectory("graft-vec").toString
    Engine.processTableDefJson(wh, defJson)
    val d = graft.schema.TableDef.parse(defJson).toOption.get
    LakeTable.load(wh, d.databaseName, d.tableName).updateProperties(
      Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    wh
  }
  private def cat(wh: String): String = {
    n += 1
    val c = s"gvec$n"
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    c
  }

  /** The scan's columnar decisions, one per BatchScanExec in the plan. */
  private def columnarFlags(df: DataFrame): Seq[Boolean] = {
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no BatchScanExec in\n$plan")
    scans.map(_.supportsColumnar)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `(k, s)` rows as written, in [[rows]]' rendering. */
  private def ks(written: Seq[(Long, String)]): Seq[String] =
    written.map { case (k, s) => s"[$k,$s]" }.sorted

  test("clean-file catalog scan is pinned COLUMNAR — and not via the " +
      "kill switch") {
    val wh = mk("""{"database_name":"d","table_name":"t","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.append((0L until 100L).map(i => (i, s"v$i")).toDF("k", "s"))
    t.append((100L until 200L).map(i => (i, s"v$i")).toDF("k", "s"))
    val c = cat(wh)
    val df = spark.sql(s"SELECT k, s FROM $c.d.t")
    assert(columnarFlags(df).forall(identity),
      "a clean multi-file scan must serve ColumnarBatches")
    assert(df.count() == 200)
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.t").head.getLong(0) ==
      (0L until 200L).sum)
  }

  test("EVOLVED table — rename, int→long, float→double, added column " +
      "— stays columnar and equals the row path exactly") {
    val v1 = """{"database_name":"d","table_name":"e","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"cnt","data_type":"int"},
      |{"column_name":"ratio","data_type":"float"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin
    val wh = mk(v1)
    import spark.implicits._
    val t1 = LakeTable.load(wh, "d", "e")
    t1.append((0 until 50).map(i =>
      (i.toLong, i * 3, i / 7.0f, s"a$i")).toDF("k", "cnt", "ratio", "s"))
    // promote cnt int→long, ratio float→double (same def, wider types)
    Engine.processTableDefJson(wh, """{"database_name":"d","table_name":"e","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"cnt","data_type":"long"},
      |{"column_name":"ratio","data_type":"double"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    // id-preserving rename: old files resolve "s" by field ID
    LakeTable.load(wh, "d", "e").renameColumn("s", "label")
    // a NEW column (no default): absent from the v1 file → nulls
    val c = cat(wh)
    spark.sql(s"ALTER TABLE $c.d.e ADD COLUMN extra STRING")
    val t2 = LakeTable.load(wh, "d", "e")
    t2.append((50 until 80).map(i =>
      (i.toLong, i * 3L, i / 7.0d, s"a$i", s"x$i"))
      .toDF("k", "cnt", "ratio", "label", "extra"))

    val df = spark.sql(s"SELECT k, cnt, ratio, label, extra FROM $c.d.e")
    assert(columnarFlags(df).forall(identity),
      "renames/promotions/nested-adds must NOT drop the scan to row mode")
    val vec = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getString(3), r.getString(4))).sortBy(_._1).toSeq
    assert(vec == (0 until 80).map(i => (i.toLong, i * 3L,
      if (i < 50) (i / 7.0f).toDouble else i / 7.0d, s"a$i",
      if (i < 50) null else s"x$i")),
      "the evolved read must equal the written rows, widened")
    // spot-check the promoted values decode as widened types
    val r = spark.sql(
      s"SELECT cnt, ratio, extra FROM $c.d.e WHERE k = 10").head
    assert(r.getLong(0) == 30L && math.abs(r.getDouble(1) - 10 / 7.0f) < 1e-6
      && r.isNullAt(2))
  }

  test("decimal precision widening stays columnar and exact") {
    val wh = mk("""{"database_name":"d","table_name":"dec","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"amt","data_type":"decimal(9,2)"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    val t = LakeTable.load(wh, "d", "dec")
    t.append((0 until 20).map(i =>
      (i.toLong, BigDecimal(i * 100 + 7, 2))).toDF("k", "amt"))
    Engine.processTableDefJson(wh, """{"database_name":"d","table_name":"dec","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"amt","data_type":"decimal(18,2)"}],"partitions":[]}""".stripMargin)
    val c = cat(wh)
    val df = spark.sql(s"SELECT k, amt FROM $c.d.dec")
    assert(columnarFlags(df).forall(identity))
    assert(rows(df) == (0 until 20).map(i =>
      s"[$i,${new java.math.BigDecimal(java.math.BigInteger.valueOf(
        i * 100 + 7), 2)}]").sorted)
    assert(spark.sql(s"SELECT sum(amt) FROM $c.d.dec").head
      .getDecimal(0) == new java.math.BigDecimal("191.40")
      .setScale(2))
  }

  test("MoR position deletes stay COLUMNAR (selection mask); initial " +
      "defaults and rename-swap read as constants (r15), exact") {
    // (a) MoR position deletes — the deletes apply as a selection map
    // on the decoded batch; the scan keeps its columnar form
    val wh = mk("""{"database_name":"d","table_name":"g","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    LakeTable.load(wh, "d", "g")
      .append((0L until 30L).map(i => (i, s"v$i")).toDF("k", "s"))
    LakeTable.load(wh, "d", "g").deleteMoR(spark, col("k") < 5L)
    val c = cat(wh)
    val mor = spark.sql(s"SELECT k, s FROM $c.d.g")
    assert(columnarFlags(mor).forall(identity),
      "MoR deletes must stay columnar via the selection mask — " +
        "demoting the whole scan to row mode is the 100-TB decode cliff")
    assert(rows(mor) == ks((5L until 30L).map(i => (i, s"v$i"))),
      "masked columnar MoR must equal the written rows minus the deletes")
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.g").head.getLong(0) ==
      (5L until 30L).sum)

    // (b) initial DEFAULT on a column absent from old files: the batch
    // reader would null-fill where the row path fills the default
    spark.sql(s"ALTER TABLE $c.d.g ADD COLUMN note STRING DEFAULT 'n/a'")
    // compact away the MoR state so ONLY the default gates
    LakeTable.load(wh, "d", "g").compact(spark)
    val withDef = spark.sql(s"SELECT note FROM $c.d.g")
    val notes = withDef.collect().map(_.getString(0)).toSet
    assert(notes == Set("n/a"), s"initial default must fill: $notes")

    // (c) rename-swap: drop s, re-add a column NAMED s (new field id).
    // Old files still hold a physical column "s" (the dropped one) —
    // name-based clipping would bind it. Since r15 the absent new
    // column is served as a CONSTANT (never requested by name at
    // all), so the scan stays COLUMNAR and the hazard is structurally
    // gone; the value must still be NULL, never the dropped bytes
    val wh2 = mk("""{"database_name":"d","table_name":"sw","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh2, "d", "sw")
      .append(Seq((1L, "OLD")).toDF("k", "s"))
    Engine.processTableDefJson(wh2, """{"database_name":"d","table_name":"sw","columns":[
      |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    Engine.processTableDefJson(wh2, """{"database_name":"d","table_name":"sw","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    val c2 = cat(wh2)
    val sw = spark.sql(s"SELECT k, s FROM $c2.d.sw")
    assert(columnarFlags(sw).forall(identity),
      "a dropped-and-readded ATOMIC column reads as a constant — " +
        "columnar, with no by-name request to misbind")
    val got = sw.collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L &&
      got.head.isNullAt(1),
      "the re-added column must read NULL from pre-drop files, " +
        s"never the dropped column's bytes: ${got.toSeq}")
  }

  test("PARTITIONED table (keyed partitions for storage-partitioned " +
      "joins) stays columnar and equals the row path") {
    val wh = mk("""{"database_name":"d","table_name":"pt","columns":[
      |{"column_name":"grp","data_type":"int"},
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],
      |"partitions":[{"column":"grp"}]}""".stripMargin)
    import spark.implicits._
    LakeTable.load(wh, "d", "pt").append((0 until 60).map(i =>
      (i % 3, i.toLong, s"v$i")).toDF("grp", "k", "s"))
    val c = cat(wh)
    val df = spark.sql(s"SELECT grp, k, s FROM $c.d.pt")
    assert(columnarFlags(df).forall(identity),
      "keyed file partitions must serve ColumnarBatches too — " +
        "partitioned tables are the normal state at scale")
    assert(rows(df) ==
      (0 until 60).map(i => s"[${i % 3},$i,v$i]").sorted)
    // partition-pruned scan stays columnar and exact
    val pruned = spark.sql(s"SELECT k FROM $c.d.pt WHERE grp = 1")
    assert(columnarFlags(pruned).forall(identity))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 60).filter(_ % 3 == 1).map(_.toLong))
  }

  test("MoR reads stay COLUMNAR (selection mask) and equal the " +
      "Group walk on an evolved table with deletes") {
    val wh = mk("""{"database_name":"d","table_name":"mv","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"cnt","data_type":"int"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    LakeTable.load(wh, "d", "mv").append((0 until 40).map(i =>
      (i.toLong, i * 2, s"v$i")).toDF("k", "cnt", "s"))
    // evolve: promote cnt, rename s — old files now need the mapping
    Engine.processTableDefJson(wh, """{"database_name":"d","table_name":"mv","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"cnt","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "mv").renameColumn("s", "label")
    // MoR deletes on top of the evolution: the scan stays COLUMNAR —
    // renames/widenings map by field ID, deletes mask the batch
    LakeTable.load(wh, "d", "mv").deleteMoR(spark, col("k") < 7L)
    val c = cat(wh)
    val before = graft.sources.BatchRowLakeReader.opened.get()
    val df = spark.sql(s"SELECT k, cnt, label FROM $c.d.mv")
    assert(columnarFlags(df).forall(identity),
      "evolved + MoR scans stay columnar via the selection mask")
    val vec = rows(df)
    assert(graft.sources.BatchRowLakeReader.opened.get() > before,
      "the masked columnar reader must serve MoR reads of " +
        "engine-written files")
    assert(vec == (7 until 40).map(i => s"[$i,${i * 2},v$i]").sorted,
      "masked columnar decode must equal the written rows, widened")
    // position metadata (row-emitting path, vectorized decode) stays
    // file-physical and exact alongside the MoR state
    val pos = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "mv")
      .load().filter(col("k") === 10L)
      .select(col("k"), col("_graft_pos")).collect()
    assert(pos.length == 1 && pos.head.getLong(1) == 10L,
      s"physical positions must survive: ${pos.toSeq}")
  }

  test("LARGE files split into byte-range partitions (read.split." +
      "target-size): parallel columnar reads, exact under row-mode too") {
    val wh = mk("""{"database_name":"d","table_name":"big","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "big")
    t0.updateProperties(Map(
      "read.split.target-size" -> "65536",
      "write.option.parquet.block.size" -> "16384",
      "write.option.parquet.page.size" -> "2048"))
    import spark.implicits._
    // one ~1 MB sorted file => many row groups, several 64 KiB ranges
    LakeTable.load(wh, "d", "big").append(
      (0 until 30000).map(i => (i.toLong, f"s$i%08d")).toDF("k", "s")
        .repartition(1).sortWithinPartitions("k"))
    val c = cat(wh)
    val df = spark.sql(s"SELECT k, s FROM $c.d.big")
    assert(df.rdd.getNumPartitions > 1,
      "a file several times the split target must plan multiple " +
        "byte-range partitions — one task per multi-GB file is the " +
        "1000-executor serialization cliff")
    assert(columnarFlags(df).forall(identity))
    // every row exactly once across the ranges (midpoint rule)
    assert(df.count() == 30000)
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.big").head.getLong(0) ==
      (0L until 30000L).sum)
    val written = (0 until 30000).map(i => (i.toLong, f"s$i%08d"))
    assert(rows(df) == ks(written))

    // mixed scan: a second file takes MoR deletes AND the big file
    // takes one — the whole scan stays COLUMNAR (selection mask), the
    // big file still range-splits, and every split probes file-absolute
    // row-index positions (parquet's own machinery) so the delete
    // lands exactly once
    LakeTable.load(wh, "d", "big").append(
      (30000 until 30010).map(i => (i.toLong, f"s$i%08d")).toDF("k", "s"))
    LakeTable.load(wh, "d", "big").deleteMoR(spark,
      col("k") === 30005L || col("k") === 12345L)
    val mixed = spark.sql(s"SELECT k, s FROM $c.d.big")
    assert(columnarFlags(mixed).forall(identity),
      "MoR files must not demote the scan — deletes mask the batch")
    assert(mixed.rdd.getNumPartitions > 1,
      "a delete-bearing large file must STILL split into byte ranges — " +
        "one task per compacted-then-deleted file is the straggler norm")
    assert(mixed.count() == 30008)
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.big").head.getLong(0) ==
      (0L until 30010L).sum - 30005L - 12345L)
    assert(rows(mixed) == ks((written ++ (30000 until 30010).map(i =>
      (i.toLong, f"s$i%08d"))).filterNot(r => r._1 == 30005L || r._1 == 12345L)),
      "split masked-columnar MoR must equal the written rows minus the " +
        "deletes")
  }

  test("split DELETE-BEARING file: position deletes, _graft_pos, and " +
      "equality deletes stay exact across byte-range splits") {
    val wh = mk("""{"database_name":"d","table_name":"sm","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "sm")
    t0.updateProperties(Map(
      "read.split.target-size" -> "65536",
      "write.option.parquet.block.size" -> "16384",
      "write.option.parquet.page.size" -> "2048"))
    import spark.implicits._
    // one sorted ~1 MB file: pos == k by construction
    LakeTable.load(wh, "d", "sm").append(
      (0 until 30000).map(i => (i.toLong, f"s$i%08d")).toDF("k", "s")
        .repartition(1).sortWithinPartitions("k"))
    // position deletes scattered across EVERY byte range: a counter
    // that restarts at 0 per split would delete the wrong rows in
    // every range but the first — caught here by value
    LakeTable.load(wh, "d", "sm").deleteMoR(spark, col("k") % 1000L === 7L)
    val c = cat(wh)
    val df = spark.sql(s"SELECT k, s FROM $c.d.sm")
    assert(df.rdd.getNumPartitions > 1, "delete-bearing file must split")
    assert(columnarFlags(df).forall(identity))
    val expect = (0L until 30000L).filter(_ % 1000L != 7L)
    assert(df.count() == expect.size)
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.sm").head.getLong(0) ==
      expect.sum)
    assert(rows(df) == ks(expect.map(k => (k, f"s$k%08d"))),
      "split masked-columnar must equal the written rows minus the deletes")
    // _graft_pos (row-emitting vectorized decode, BatchRowLakeReader):
    // file-absolute positions must survive the split — pos == k
    val posDf = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "sm")
      .load().select(col("k"), col("_graft_pos"))
    assert(posDf.rdd.getNumPartitions > 1,
      "meta-consuming scans split too (row-index positions stay exact)")
    val bad = posDf.filter(col("k") =!= col("_graft_pos")).count()
    assert(bad == 0, s"$bad rows with _graft_pos != k after splitting")
    // equality deletes on top: masked columnar, still split, still exact
    LakeTable.load(wh, "d", "sm").deleteByKeysMoR(spark,
      Seq(20002L, 4L).toDF("k"))
    val eq = spark.sql(s"SELECT k, s FROM $c.d.sm")
    assert(columnarFlags(eq).forall(identity),
      "equality deletes stay columnar (probe against the decoded batch)")
    val expect2 = expect.filterNot(k => k == 20002L || k == 4L)
    assert(eq.count() == expect2.size)
    assert(spark.sql(s"SELECT sum(k) FROM $c.d.sm").head.getLong(0) ==
      expect2.sum)
    assert(rows(eq) == ks(expect2.map(k => (k, f"s$k%08d"))))
  }

  test("EXTERNAL (add_files) flat-standard files take the " +
      "vectorized-decode path; case-mismatch and absent columns hold") {
    import spark.implicits._
    // external parquet: columns spelled in a different case, one table
    // column missing entirely — legal at registration
    val extDir = Files.createTempDirectory("graft-vec-ext").toString
    (0L until 50L).map(i => (i, s"e$i")).toDF("ID", "V")
      .coalesce(1).write.mode("overwrite").parquet(extDir)
    val ext = Files.list(java.nio.file.Paths.get(extDir))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val wh = mk("""{"database_name":"d","table_name":"x","columns":[
      |{"column_name":"id","data_type":"long"},
      |{"column_name":"v","data_type":"string"},
      |{"column_name":"missing","data_type":"string"}],
      |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "x").addFiles(spark, Seq(ext))
    val c = cat(wh)
    val before = graft.sources.BatchRowLakeReader.opened.get()
    val df = spark.sql(s"SELECT id, v, missing FROM $c.d.x")
    val vec = rows(df)
    assert(graft.sources.BatchRowLakeReader.opened.get() > before,
      "an external file must decode vectorized")
    assert(vec == rows(spark.read.parquet(ext)
      .selectExpr("ID", "V", "CAST(NULL AS STRING)")))
    assert(vec.size == 50)
    val r = spark.sql(s"SELECT v, missing FROM $c.d.x WHERE id = 7").head
    assert(r.getString(0) == "e7" && r.isNullAt(1))
  }

  test("pushed predicate on a RENAMED column prunes by the physical " +
      "name: selective filter reads a fraction of the records, exactly") {
    val wh = mk("""{"database_name":"d","table_name":"p","columns":[
      |{"column_name":"k","data_type":"long"},
      |{"column_name":"v","data_type":"long"}],"partitions":[]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "p")
    t0.updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    import spark.implicits._
    LakeTable.load(wh, "d", "p").append(
      (0 until 20000).map(i => (i.toLong, i * 7L)).toDF("k", "v")
        .repartition(1).sortWithinPartitions("k"))
    LakeTable.load(wh, "d", "p").renameColumn("k", "id")
    val c = cat(wh)
    val records = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = spark.sql(
        s"SELECT id, v FROM $c.d.p WHERE id BETWEEN 9000 AND 9009")
      assert(columnarFlags(df).forall(identity),
        "a renamed table's clean scan stays columnar")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      var prev = -1L; var cur = records.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = records.get }
      assert(got.toSeq == (9000L to 9009L).map(i => (i, i * 7)))
      assert(cur > 0 && cur < 5000,
        s"the pushed predicate must engage under the PHYSICAL column " +
          s"name (renameRanges): read $cur of 20000")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
