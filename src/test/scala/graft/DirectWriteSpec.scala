package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Align, BloomFilters, ColStats, DataFileMeta, Engine,
  HiveDirWriteReference, LakeTable}

/** The one write path: every snapshot-producing batch write runs the
  * lake parquet writer ([[graft.sources.LakeParquetDataWriter]]) —
  * on the driver for a frame whose optimized plan is a LocalRelation,
  * in tasks otherwise — producing flat files whose partition values
  * live in metadata. Pins the writer against the FileFormatWriter
  * Hive-directory write it replaced ([[HiveDirWriteReference]]):
  * cells, partition values, file counts, per-file rows/stats, sort
  * ids, bloom bits, row groups and footer schemas agree for every
  * partition transform, sort order, writer option and VARIANT, in
  * both modes.
  */
class DirectWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String, props: Map[String, String] = Map.empty)
      : (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-directw-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"long"},
         |{"column_name":"grp","data_type":"string"},
         |{"column_name":"score","data_type":"double"}],
         |"partitions":[{"column":"grp","name":"g"}]}""".stripMargin)
    val t0 = LakeTable.load(wh, "d", "t")
    if (props.nonEmpty) t0.updateProperties(props)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def seed(n: Int = 200) = {
    import SparkTestSession.spark.implicits._
    (0 until n).map(i => (i.toLong, s"g${i % 3}", i * 1.5))
      .toDF("id", "grp", "score")
      // a multi-partition scan-shaped plan, NOT a LocalRelation, so the
      // write runs in tasks
      .repartition(4)
  }

  /** Whether the write of `df` runs on the driver: its aligned frame
    * optimizes to a LocalRelation. */
  private def driverResident(t: LakeTable, df: DataFrame): Boolean =
    Align(df, t.currentSchema).queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** The reference write of `df` into a scratch directory of `t`. */
  private def reference(t: LakeTable, df: DataFrame)
      : Seq[HiveDirWriteReference.RefFile] =
    HiveDirWriteReference.write(t, Align(df, t.currentSchema),
      Files.createTempDirectory("graft-directw-ref"))

  test("direct path writes flat files whose partitionValues match the " +
      "Hive path's, and reads/pruning agree") {
    val (_, tDirect) = mk("on")
    tDirect.append(seed())
    val fh = reference(tDirect, seed()).map(_.meta)
    val fd = tDirect.metadata.snapshots.flatMap(_.files)
    assert(fd.nonEmpty && fh.nonEmpty)
    // direct files are FLAT (no Hive dirs), hive files are dir-encoded —
    // but the metadata partition values are identical sets
    assert(fd.forall(f => !f.path.contains("_p_g=")))
    assert(fh.forall(f => f.path.contains("_p_g=")))
    assert(fd.map(_.partitionValues).toSet === fh.map(_.partitionValues).toSet)
    assert(fd.map(_.partitionValues("g")).toSet === Set("g0", "g1", "g2"))
    // one file per partition value (the hash-distribute contract)
    assert(fd.size === 3 && fh.size === 3)
    // row counts + footer stats populated the same way
    assert(fd.map(_.rows).sum === 200L && fh.map(_.rows).sum === 200L)
    assert(fd.map(f => (f.partitionValues, f.rows, f.stats)).toSet ===
      fh.map(f => (f.partitionValues, f.rows, f.stats)).toSet)
    // reads agree with the reference files' rows
    val a = tDirect.read(spark).orderBy("id").collect().toSeq
    val b = spark.read.parquet(fh.map(_.path): _*)
      .select("id", "grp", "score").orderBy("id").collect().toSeq
    assert(a === b)
    // partition pruning selects the one file of the value
    val prunedD = tDirect.read(spark, prune = Map("g" -> Set("g1")))
      .select(sum(lit(1)).cast("long")).collect()(0).getLong(0)
    assert(prunedD === fh.filter(_.partitionValues("g") == "g1")
      .map(_.rows).sum)
  }

  test("sort-order and write.option tables use the one writer") {
    val (_, tSorted) = mk("sorted", Map("write.sort-order" -> "id"))
    tSorted.append(seed())
    val fs = tSorted.metadata.snapshots.flatMap(_.files)
    assert(fs.nonEmpty && fs.forall(f => !f.path.contains("_p_g=")),
      "sort-order writes lay flat files")
    val idField = graft.schema.FieldIds.idOf(tSorted.currentSchema("id"))
    assert(fs.forall(_.sortedByIds == Seq(idField)))
    // each file is sorted by id
    fs.foreach { f =>
      val ids = spark.read.parquet(f.path).select("id").collect()
        .map(_.getLong(0)).toSeq
      assert(ids === ids.sorted, f.path)
    }
    // the options reach the parquet builder: small row groups and a
    // parquet bloom filter on id
    val (_, tOpt) = mk("opt", Map(
      "write.option.parquet.block.size" -> "1024",
      "write.option.parquet.page.size" -> "256",
      "write.option.parquet.page.size.check.estimate" -> "false",
      "write.option.parquet.bloom.filter.enabled#id" -> "true"))
    tOpt.append(seed(3000))
    val fo = tOpt.metadata.snapshots.flatMap(_.files)
    assert(fo.nonEmpty && fo.forall(f => !f.path.contains("_p_g=")),
      "write.option writes lay flat files")
    fo.foreach { f =>
      val blocks = DirectWriteSpec.footer(f.path).getBlocks.asScala
      assert(blocks.size > 1, s"${f.path}: one row group despite block.size")
      assert(blocks.forall(_.getColumns.asScala
        .find(_.getPath.toDotString == "id").exists(_.getBloomFilterOffset >= 0)),
        s"${f.path}: no parquet bloom filter on id")
    }
    assert(tOpt.read(spark).count() === 3000L)
  }

  test("high-cardinality partitioning writes without an open-sink cap " +
      "(sorted close-on-key-change mode)") {
    // 1500 distinct partition values — above the streaming writer's
    // 1000-open-sink cap — must write fine on the batch direct path:
    // rows are sorted by the transform within each task, so the writer
    // holds ONE open file (FileFormatWriter's sorted dynamic-partition
    // contract, which the pre-r17 Hive path provided)
    import SparkTestSession.spark.implicits._
    val (_, t) = mk("hicard")
    val wide = (0 until 3000).map(i => (i.toLong, s"g${i % 1500}", i * 1.0))
      .toDF("id", "grp", "score").repartition(2)
    t.append(wide)
    val fs = t.metadata.snapshots.flatMap(_.files)
    assert(fs.map(_.partitionValues("g")).toSet.size === 1500)
    assert(fs.map(_.rows).sum === 3000L)
    val n = t.read(spark).select(sum(lit(1)).cast("long"))
      .collect()(0).getLong(0)
    assert(n === 3000L)
    val pruned = t.read(spark, prune = Map("g" -> Set("g7")))
      .select(sum(lit(1)).cast("long")).collect()(0).getLong(0)
    assert(pruned === 2L)
  }

  test("null and empty partition sources render the Hive default " +
      "partition on both paths") {
    import SparkTestSession.spark.implicits._
    def seedNulls = Seq((1L, null: String, 1.0), (2L, "", 2.0),
      (3L, "gx", 3.0)).toDF("id", "grp", "score").repartition(2)
    val (_, tDirect) = mk("nullon")
    tDirect.append(seedNulls)
    val vd = tDirect.metadata.snapshots.flatMap(_.files)
      .map(_.partitionValues("g")).toSet
    val vh = reference(tDirect, seedNulls).map(_.meta.partitionValues("g"))
      .toSet
    assert(vd === vh)
    assert(vd.contains("__HIVE_DEFAULT_PARTITION__"))
    val a = tDirect.read(spark).orderBy("id")
      .collect().toSeq.map(_.toString)
    assert(a === Seq("[1,null,1.0]", "[2,,2.0]", "[3,gx,3.0]"))
  }

  test("task-fused footer stats equal a fresh driver-side footer read " +
      "(rows, per-column min/max, bytes)") {
    val (_, t) = mk("fusedstats")
    t.append(seed())
    val fd = t.metadata.snapshots.flatMap(_.files)
    assert(fd.nonEmpty)
    fd.foreach { f =>
      val (rows, stats) = graft.lake.FileStats.fromFooterWithRows(
        f.path, t.currentSchema)
      assert(f.rows === rows, f.path)
      assert(f.stats === stats, f.path)
      assert(f.bytes === Files.size(Paths.get(f.path)), f.path)
    }
  }

  test("a lake append leaves the caller's session parquet timestamp " +
      "type as it was, while its files still carry INT64 micros " +
      "timestamps with min/max stats") {
    val key = "spark.sql.parquet.outputTimestampType"
    // a session of its own: the INT96 setting must not leak into
    // other suites sharing the default session
    val s2 = spark.newSession()
    s2.conf.set(key, "INT96")
    // a plain table and a write.sort-order table, driver-resident rows
    for (props <- Seq(Map.empty[String, String],
        Map("write.sort-order" -> "k"))) {
      val wh = Files.createTempDirectory("graft-directw-ts").toString
      Engine.processTableDefJson(wh,
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"ts","data_type":"timezone"}],
          |"partitions":[]}""".stripMargin)
      if (props.nonEmpty) LakeTable.load(wh, "d", "t").updateProperties(props)
      LakeTable.load(wh, "d", "t").append(s2.sql(
        """SELECT * FROM VALUES (2L, TIMESTAMP'2024-01-02 03:04:05.123456'),
          |(1L, TIMESTAMP'2023-05-06 07:08:09') AS v(k, ts)""".stripMargin))
      assert(s2.conf.get(key) == "INT96", s"props $props")
      val t = LakeTable.load(wh, "d", "t")
      val tsId = graft.schema.FieldIds.idOf(t.currentSchema("ts"))
      val files = t.metadata.snapshots.flatMap(_.files)
      assert(files.nonEmpty)
      files.foreach { f =>
        val m = DirectWriteSpec.footer(f.path).getFileMetaData.getSchema
        val ts = m.getType(m.getFieldIndex("ts")).asPrimitiveType
        assert(ts.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
          s"props $props")
        assert(ts.getLogicalTypeAnnotation == org.apache.parquet.schema
          .LogicalTypeAnnotation.timestampType(true,
            org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS),
          s"props $props")
        assert(f.stats.get(tsId).exists(_.kind == "num"), s"props $props")
      }
      assert(t.read(s2).count() == 2L)
    }
  }

  // ---- the seeded differential against the FileFormatWriter write ----

  private val Columns =
    """{"column_name":"k","data_type":"long"},
      |{"column_name":"s","data_type":"string"},
      |{"column_name":"n","data_type":"int"},
      |{"column_name":"d","data_type":"date"},
      |{"column_name":"dec","data_type":"decimal(10,2)"},
      |{"column_name":"bin","data_type":"binary"},
      |{"column_name":"ts","data_type":"timestamp"},
      |{"column_name":"tz","data_type":"timezone"},
      |{"column_name":"st","data_type":"struct","struct_def":[
      |  {"column_name":"a","data_type":"int"},
      |  {"column_name":"c","data_type":"string"}]}""".stripMargin

  private val VariantColumn = """{"column_name":"v","data_type":"variant"}"""

  /** Seeded rows for the differential table; every partition source is
    * NULL in about one row of six. */
  private def diffRows(rnd: scala.util.Random, n: Int,
      variant: Boolean): Seq[String] =
    (0 until n).map { i =>
      def orNull(sql: => String) = if (rnd.nextInt(6) == 0) "NULL" else sql
      val j = rnd.nextInt(1000)
      (Seq(s"${i}L",
        orNull(s"'${Seq("", "a", "ab", "abc/d", "b=c", "zz%")(rnd.nextInt(6))}'"),
        orNull(s"${rnd.nextInt(200) - 100}"),
        orNull(s"DATE'202${rnd.nextInt(3)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)}'"),
        orNull(s"CAST('${rnd.nextInt(50) - 25}.${rnd.nextInt(4) * 25}' AS DECIMAL(10,2))"),
        // printable bytes: the Hive-directory reference cannot create
        // a directory whose name holds a NUL
        orNull(s"X'${"%02X".format(0x61 + rnd.nextInt(4))}'"),
        orNull(s"TIMESTAMP_NTZ'202${rnd.nextInt(3)}-0${1 + rnd.nextInt(9)}-" +
          s"1${rnd.nextInt(9)} ${10 + rnd.nextInt(14)}:${10 + rnd.nextInt(50)}:00'"),
        orNull(s"TIMESTAMP'202${rnd.nextInt(3)}-1${rnd.nextInt(3)}-" +
          s"0${1 + rnd.nextInt(9)} ${10 + rnd.nextInt(14)}:30:00'"),
        orNull(s"named_struct('a', ${rnd.nextInt(9)}, 'c', " +
          s"${if (rnd.nextInt(6) == 0) "NULL" else s"'c${rnd.nextInt(4)}'"})")) ++
        (if (variant) Seq(orNull(
          s"""parse_json('{"a": $j, "b": "t${j % 7}", "c": ${j % 3}.5}')"""))
         else Nil)).mkString("(", ", ", ")")
    }

  private def cellExpr(schema: StructType): Column =
    concat_ws("|", schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      coalesce(f.dataType match {
        case BinaryType => hex(c)
        case _: StructType => to_json(c)
        case _ => c.cast("string")
      }, lit("<null>"))
    }: _*)

  /** Everything the differential compares per file (paths excluded). */
  private case class FileSig(partitionValues: Map[String, String],
      rows: Long, stats: Map[Int, ColStats], sortedByIds: Seq[Int],
      blooms: Map[Int, Seq[Long]], rowGroups: Int,
      parquetBlooms: Seq[String], footer: String, cells: Seq[String])

  private def sigs(s: SparkSession, t: LakeTable, files: Seq[DataFileMeta],
      blooms: DataFileMeta => Map[Int, Array[Long]]): Seq[FileSig] = {
    val schema = graft.lake.Reconcile.clean(t.currentSchema)
      .asInstanceOf[StructType]
    val cells = s.read.schema(schema).parquet(files.map(_.path): _*)
      .select(col("_metadata.file_path"), cellExpr(schema))
      .collect().groupBy(r => LakeTable.normalizePath(r.getString(0)))
      .map { case (p, rs) => p -> rs.map(_.getString(1)).toSeq.sorted }
    files.map { f =>
      val ft = DirectWriteSpec.footer(f.path)
      val blocks = ft.getBlocks.asScala
      FileSig(f.partitionValues, f.rows, f.stats, f.sortedByIds,
        blooms(f).map { case (k, v) => k -> v.toSeq },
        blocks.size,
        blocks.flatMap(_.getColumns.asScala)
          .filter(_.getBloomFilterOffset >= 0)
          .map(_.getPath.toDotString).distinct.sorted.toSeq,
        ft.getFileMetaData.getSchema.toString,
        cells.getOrElse(LakeTable.normalizePath(f.path), Seq.empty))
    }.sortBy(_.toString)
  }

  private def lakeBlooms(f: DataFileMeta): Map[Int, Array[Long]] =
    f.blooms.map(r => r.fieldId ->
      BloomFilters.readBlob(r.path, r.offset, r.length)).toMap

  test("seeded differential: the one writer equals the FileFormatWriter " +
      "reference for every transform, sort order, option and VARIANT, " +
      "in driver and task mode") {
    // a non-UTC session: timezone-typed transforms render in it
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    def part(col: String, transform: String) =
      s"""{"column":"$col","transform":"$transform","name":"p"}"""
    val opts = Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024",
      "write.option.parquet.page.size.check.estimate" -> "false",
      "write.option.parquet.bloom.filter.enabled#k" -> "true")
    // (label, partition spec, nested source, properties, variant)
    val cases: Seq[(String, Seq[String], Option[String],
        Map[String, String], Boolean)] =
      Seq("s", "n", "d", "dec", "bin").map(c =>
        (s"identity($c)", Seq(part(c, "identity")), None,
          Map.empty[String, String], false)) ++
      (for (c <- Seq("ts", "tz"); tf <- Seq("year", "month", "day", "hour"))
        yield (s"$tf($c)", Seq(part(c, tf)), None,
          Map.empty[String, String], false)) ++
      Seq(
        ("bucket", Seq(part("n", "bucket[4]")), None, Map.empty[String, String], false),
        ("truncate(s)", Seq(part("s", "truncate[2]")), None, Map.empty[String, String], false),
        ("truncate(n)", Seq(part("n", "truncate[25]")), None, Map.empty[String, String], false),
        ("nested st.c", Seq.empty, Some("st.c"), Map.empty[String, String], false),
        ("sort-order", Seq(part("s", "identity")), None,
          Map("write.sort-order" -> "k"), false),
        ("zorder", Seq.empty, None, Map("write.sort-order" -> "zorder(k,n)"), false),
        ("write.option", Seq.empty, None, opts, false),
        ("variant", Seq.empty, None, Map.empty[String, String], true),
        ("variant partitioned", Seq(part("n", "bucket[2]")), None,
          Map.empty[String, String], true))
    for (((label, spec, nested, props, variant), ci) <- cases.zipWithIndex;
         mode <- Seq("driver", "task")) {
      val ctx = s"$label, $mode"
      val wh = Files.createTempDirectory(s"graft-directw-diff-$ci").toString
      Engine.processTableDefJson(wh,
        s"""{"database_name":"d","table_name":"t","columns":[$Columns
           |${if (variant) s",$VariantColumn" else ""}],
           |"partitions":[${spec.mkString(",")}],
           |"properties":{"write.bloom-columns":"k,s"}}""".stripMargin)
      nested.foreach(p =>
        LakeTable.load(wh, "d", "t").addPartitionField(p, "identity", Some("p")))
      if (props.nonEmpty) LakeTable.load(wh, "d", "t").updateProperties(props)
      val t = LakeTable.load(wh, "d", "t")
      val rnd = new scala.util.Random(7100L + ci)
      val local = s.sql(s"SELECT * FROM VALUES " +
        // the option case writes enough rows for several 4 KiB row groups
        diffRows(rnd, if (label == "write.option") 800 else 60 + rnd.nextInt(40),
          variant).mkString(", ") +
        " AS v(k, s, n, d, dec, bin, ts, tz, st" +
        (if (variant) ", v)" else ")"))
      val df = if (mode == "driver") local else local.repartition(3)
      assert(driverResident(t, df) == (mode == "driver"), ctx)
      val ref = reference(t, df)
      t.append(df)
      val lake = LakeTable.load(wh, "d", "t").metadata.snapshots.last.files
      assert(lake.forall(f => !f.path.contains("_p_")), ctx)
      val refBlooms = ref.map(r => r.meta.path -> r.blooms).toMap
      val got = sigs(s, t, lake, lakeBlooms)
      val want = sigs(s, t, ref.map(_.meta), m => refBlooms(m.path))
      assert(got.size == want.size, s"$ctx: file count")
      got.zip(want).foreach { case (g, w) => assert(g == w, ctx) }
      assert(got.map(_.rows).sum == got.flatMap(_.cells).size, ctx)
      if (variant)
        assert(got.forall(_.footer.contains("typed_value")),
          s"$ctx: VARIANT not shredded")
      if (label == "write.option")
        assert(got.forall(g => g.rowGroups > 1 && g.parquetBlooms == Seq("k")),
          ctx)
      if (label == "sort-order")
        assert(got.forall(_.sortedByIds.nonEmpty), ctx)
    }
  }

  // ---- empty writes and distribution modes ----

  test("zero-row task-mode appends and overwrites commit file-less " +
      "snapshots that read, changelog and stream correctly") {
    import org.apache.spark.sql.streaming.Trigger
    val tables = Seq(
      "plain" -> Map.empty[String, String],
      "sorted" -> Map("write.sort-order" -> "id"),
      "opt" -> Map("write.option.parquet.block.size" -> "4096"))
    for ((tag, props) <- tables) {
      val (wh, t) = mk(s"empty-$tag", props)
      t.append(seed(30))
      val empty = seed(30).filter(col("id") < 0)
      assert(!driverResident(t, empty))
      val appended = LakeTable.load(wh, "d", "t").append(empty)
      assert(appended.files.isEmpty, tag)
      val t1 = LakeTable.load(wh, "d", "t")
      assert(t1.read(spark).count() == 30L, tag)
      val first = t1.metadata.snapshots.head.id
      assert(t1.changelogBetween(spark, first, appended.id).count() == 0L, tag)
      val q = spark.readStream.format("graft-lake")
        .option("warehouse", wh).option("database", "d").option("table", "t")
        .load().writeStream.format("memory").queryName(s"directw_empty_$tag")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.sql(s"SELECT id FROM directw_empty_$tag").collect()
        .map(_.getLong(0)).sorted.toSeq == (0L until 30L), tag)
      // the one append after the empty one streams exactly its rows
      LakeTable.load(wh, "d", "t").append(seed(35).filter(col("id") >= 30))
      val t2 = LakeTable.load(wh, "d", "t")
      assert(t2.changelogBetween(spark, first, t2.metadata.snapshots.last.id)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        (30L until 35L), tag)
      // an empty overwrite replaces the table with nothing
      val before = t2.metadata.snapshots.last.id
      val replaced = t2.overwrite(empty)
      assert(replaced.files.isEmpty, tag)
      val t3 = LakeTable.load(wh, "d", "t")
      assert(t3.read(spark).count() == 0L, tag)
      assert(t3.changelogBetween(spark, before, replaced.id,
        includeReplaceDiffs = true)
        .filter(col("_change_type") === "delete").count() == 35L, tag)
      t3.append(seed(3).repartition(1))
      assert(LakeTable.load(wh, "d", "t").read(spark).count() == 3L, tag)
    }
  }

  test("an unknown write.distribution-mode hash-distributes like the " +
      "default, as the Hive path did") {
    val (_, t) = mk("distmode", Map("write.distribution-mode" -> "range"))
    t.append(seed(400))
    val files = t.metadata.snapshots.flatMap(_.files)
    assert(files.size == 3, "one file per partition value")
    val ref = reference(t, seed(400)).map(_.meta)
    assert(files.map(f => (f.partitionValues, f.rows)).toSet ==
      ref.map(f => (f.partitionValues, f.rows)).toSet)
    // and "none" writes one file per (task, value)
    val (_, tNone) = mk("distnone", Map("write.distribution-mode" -> "none"))
    tNone.append(seed(400))
    val none = tNone.metadata.snapshots.flatMap(_.files)
    assert(none.size == 12, "4 tasks x 3 values")
    assert(none.map(f => (f.partitionValues, f.rows)).sortBy(_.toString) ==
      reference(tNone, seed(400)).map(_.meta)
        .map(f => (f.partitionValues, f.rows)).sortBy(_.toString))
  }
}

object DirectWriteSpec {
  def footer(path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(Paths.get(path)))
    try reader.getFooter finally reader.close()
  }
}
