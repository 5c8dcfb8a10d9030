package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Align, BloomFilters, Engine, FileStats, LakeTable}

/** Seeded differential for the r12 publication fast paths: the SAME
  * random op sequence runs into two tables — one with the driver-side
  * LocalRelation write + inline eq-keys enabled (default), one forced
  * onto the distributed job path (`graft.write.nolocal`) — and the
  * visible state, the changelog, and the applied-delete semantics must
  * be identical at every checkpoint. Catches any divergence between
  * the driver-written parquet/inline-key decode and what a Spark job
  * would have produced (value encoding, null handling, dedupe,
  * sequencing). The driver run of the direct writer is also pinned
  * against the task run for every partition transform, and against
  * the retired single-file driver writer's bytes, stats and blooms on
  * unpartitioned shapes.
  */
class LocalWriteRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-lwrand-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"f","data_type":"float"},
        |{"column_name":"dec","data_type":"decimal(10,2)"},
        |{"column_name":"s","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    wh
  }

  private def read(wh: String): Set[(Long, Option[Float],
      Option[String], Option[String])] =
    LakeTable.load(wh, "d", "t").read(spark).collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getFloat(1)),
        Option(r.getDecimal(2)).map(_.toPlainString),
        Option(r.getString(3)))
    }.toSet

  test("random append/upsert/keyed-delete soups: local fast path == " +
      "forced distributed path, state and changelog alike") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    def randRows(n: Int): Seq[(Long, java.lang.Float, String, String)] =
      (0 until n).map { _ =>
        (rnd.nextInt(12).toLong,
          if (rnd.nextInt(4) == 0) null
          else java.lang.Float.valueOf(
            (rnd.nextInt(100) / 10.0 + 0.3).toFloat),
          if (rnd.nextInt(5) == 0) null else s"${rnd.nextInt(500)}.25",
          if (rnd.nextInt(6) == 0) null else s"s${rnd.nextInt(30)}")
      }
    def df(rows: Seq[(Long, java.lang.Float, String, String)]): DataFrame =
      rows.toDF("k", "f", "dec", "s")
        .select(col("k"), col("f"),
          col("dec").cast("decimal(10,2)").as("dec"), col("s"))

    val whA = mk("fast")
    val whB = mk("slow")
    def both(op: String => Unit): Unit = {
      op(whA)
      withNoLocal(op(whB))
    }
    for (step <- 0 until 18) {
      rnd.nextInt(3) match {
        case 0 =>
          val rows = randRows(1 + rnd.nextInt(8))
          both(wh => LakeTable.load(wh, "d", "t").append(df(rows)))
        case 1 =>
          val rows = randRows(1 + rnd.nextInt(6))
          // dedupe keys driver-side: upsert sources must carry one row
          // per key (both paths would diverge arbitrarily otherwise)
          val uniq = rows.groupBy(_._1).map(_._2.head).toSeq
          both(wh => LakeTable.load(wh, "d", "t")
            .upsertMoR(spark, df(uniq), keys = Seq("k")))
        case 2 =>
          val ks = (0 until 1 + rnd.nextInt(3))
            .map(_ => rnd.nextInt(12).toLong)
          both(wh => LakeTable.load(wh, "d", "t")
            .deleteByKeysMoR(spark, ks.toDF("k")))
      }
      assert(read(whA) == read(whB), s"state diverged at step $step")
    }
    // the fast-path table really used inline batches somewhere
    val inlined = LakeTable.load(whA, "d", "t").metadata.snapshots
      .flatMap(_.eqDeletes).count(_.inlineKeys.isDefined)
    val slowInlined = LakeTable.load(whB, "d", "t").metadata.snapshots
      .flatMap(_.eqDeletes).count(_.inlineKeys.isDefined)
    assert(inlined > 0, "the fast path must have inlined key batches")
    assert(slowInlined == 0, "the forced path must not inline")
    // changelogs agree row-for-row (same ordinals, types, values)
    def log(wh: String): Seq[(Long, String, Int)] = {
      val t = LakeTable.load(wh, "d", "t")
      t.changelogBetween(spark, 0L, t.metadata.snapshots.map(_.id).max)
        .select("k", "_change_type", "_change_ordinal").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
        .sorted
    }
    assert(log(whA) == log(whB), "changelogs diverged")
    // compaction materializes identically on both
    both(wh => { LakeTable.load(wh, "d", "t").compact(spark); () })
    assert(read(whA) == read(whB), "post-compaction state diverged")
  }

  private def withNoLocal[T](body: => T): T = {
    sys.props("graft.write.nolocal") = "1"
    try body finally sys.props.remove("graft.write.nolocal")
  }

  private val partSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("n", IntegerType), StructField("ts", TimestampNTZType),
    StructField("d", DateType), StructField("v", DoubleType)))

  /** Seeded rows over [[partSchema]]; every partition source column is
    * NULL in roughly one row of six. */
  private def partRows(rnd: scala.util.Random, count: Int): Seq[Row] =
    (0 until count).map { _ =>
      def orNull[A](a: => A): Any = if (rnd.nextInt(6) == 0) null else a
      Row(rnd.nextLong() % 1000L,
        orNull(Seq("", "a", "ab", "abcd", "b", "bcde", "zz")(rnd.nextInt(7))),
        orNull(rnd.nextInt(200) - 100),
        orNull(java.time.LocalDateTime.of(2020 + rnd.nextInt(3),
          1 + rnd.nextInt(12), 1 + rnd.nextInt(28), rnd.nextInt(24),
          rnd.nextInt(60), rnd.nextInt(60))),
        orNull(java.time.LocalDate.of(2021, 1 + rnd.nextInt(12),
          1 + rnd.nextInt(28))),
        orNull(rnd.nextDouble() * 100))
    }

  test("partitioned appends executed on the driver equal the task-" +
      "executed write: rows, partition values, one file per value, stats") {
    val specs = Seq(
      """{"column":"s","transform":"identity","name":"p"}""",
      """{"column":"ts","transform":"year","name":"p"}""",
      """{"column":"ts","transform":"month","name":"p"}""",
      """{"column":"d","transform":"day","name":"p"}""",
      """{"column":"ts","transform":"hour","name":"p"}""",
      """{"column":"n","transform":"bucket[4]","name":"p"}""",
      """{"column":"s","transform":"truncate[2]","name":"p"}""",
      """{"column":"n","transform":"truncate[25]","name":"p"}""")
    for ((spec, si) <- specs.zipWithIndex) {
      def mkTable(tag: String): String = {
        val wh = Files.createTempDirectory(s"graft-lwpart-$si-$tag").toString
        Engine.processTableDefJson(wh,
          s"""{"database_name":"d","table_name":"t","columns":[
             |{"column_name":"k","data_type":"long"},
             |{"column_name":"s","data_type":"string"},
             |{"column_name":"n","data_type":"int"},
             |{"column_name":"ts","data_type":"timestamp"},
             |{"column_name":"d","data_type":"date"},
             |{"column_name":"v","data_type":"double"}],
             |"partitions":[$spec]}""".stripMargin)
        wh
      }
      val whDriver = mkTable("driver")
      val whTask = mkTable("task")
      val rnd = new scala.util.Random(4100L + si)
      for (batch <- 0 until 3) {
        val rows = partRows(rnd, 1 + rnd.nextInt(40))
        def df = spark.createDataFrame(rows.asJava, partSchema)
        LakeTable.load(whDriver, "d", "t").append(df)
        withNoLocal(LakeTable.load(whTask, "d", "t").append(df))
        val fd = LakeTable.load(whDriver, "d", "t").metadata.snapshots.last.files
        val ft = LakeTable.load(whTask, "d", "t").metadata.snapshots.last.files
        val ctx = s"spec $spec, batch $batch"
        // one file per partition value on both sides
        assert(fd.map(_.partitionValues).distinct.size == fd.size, ctx)
        assert(ft.map(_.partitionValues).distinct.size == ft.size, ctx)
        // the same values, rows and footer stats per value
        def byValue(fs: Seq[graft.lake.DataFileMeta]) =
          fs.map(f => f.partitionValues -> ((f.rows, f.stats))).toMap
        assert(byValue(fd) == byValue(ft), ctx)
        assert(fd.map(_.rows).sum == rows.size, ctx)
      }
      def contents(wh: String): Seq[String] =
        LakeTable.load(wh, "d", "t").read(spark).collect().map(_.toString)
          .toSeq.sorted
      assert(contents(whDriver) == contents(whTask), s"spec $spec")
    }
  }

  /** The single-file driver writer the direct writer's driver run
    * replaced, kept as the byte-level reference: Spark's
    * ParquetWriteSupport through parquet's writer builder, snappy,
    * INT64-micros timestamps, field ids, the default variant
    * annotation. */
  private def retiredDriverWrite(schema: StructType,
      rows: Seq[InternalRow], p: Path): Unit = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = graft.lake.HadoopConfs.mutable()
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    final class B(f: org.apache.parquet.io.OutputFile)
        extends org.apache.parquet.hadoop.ParquetWriter.Builder[
          InternalRow, B](f) {
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration) =
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetWriteSupport
      override def self(): B = this
    }
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), conf)
    val w = new B(out).withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(w.write) finally w.close()
  }

  test("unpartitioned driver appends reproduce the retired driver " +
      "writer's bytes, stats and blooms for every storable type, " +
      "VARIANT included") {
    val wh = Files.createTempDirectory("graft-lwbytes").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"i","data_type":"int"},
        |{"column_name":"f","data_type":"float"},
        |{"column_name":"b","data_type":"boolean"},
        |{"column_name":"dec","data_type":"decimal(12,4)"},
        |{"column_name":"s","data_type":"string"},
        |{"column_name":"ts","data_type":"timestamp"},
        |{"column_name":"tz","data_type":"timezone"},
        |{"column_name":"dt","data_type":"date"},
        |{"column_name":"bin","data_type":"binary"},
        |{"column_name":"st","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"},
        |  {"column_name":"c","data_type":"string"}]},
        |{"column_name":"xs","data_type":"array","array_def":
        |  {"column_name":"element","data_type":"long"}},
        |{"column_name":"m","data_type":"map","map_def":{
        |  "key":{"column_name":"mk","data_type":"string","required":true},
        |  "value":{"column_name":"mv","data_type":"long"}}},
        |{"column_name":"v","data_type":"variant"}],
        |"partitions":[],
        |"properties":{"write.bloom-columns":"k,s"}}""".stripMargin)
    val rnd = new scala.util.Random(9031L)
    for (batch <- 0 until 4) {
      val n = 1 + rnd.nextInt(30)
      val values = (0 until n).map { _ =>
        def orNull(sql: String) = if (rnd.nextInt(5) == 0) "NULL" else sql
        val j = rnd.nextInt(1000)
        Seq(s"${rnd.nextInt(50)}L", orNull(s"${rnd.nextInt(1000) - 500}"),
          orNull(s"CAST(${rnd.nextInt(100)}.25 AS FLOAT)"),
          orNull(if (rnd.nextBoolean()) "true" else "false"),
          orNull(s"CAST('${rnd.nextInt(99999)}.${rnd.nextInt(9999)}' " +
            "AS DECIMAL(12,4))"),
          orNull(s"'s${rnd.nextInt(40)}'"),
          orNull(s"TIMESTAMP_NTZ'2024-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)} " +
            s"0${rnd.nextInt(9)}:12:34.${100000 + rnd.nextInt(899999)}'"),
          orNull(s"TIMESTAMP'2023-1${rnd.nextInt(3)}-0${1 + rnd.nextInt(9)} " +
            "10:00:00'"),
          orNull(s"DATE'2022-0${1 + rnd.nextInt(9)}-2${rnd.nextInt(9)}'"),
          orNull(s"X'${"%04X".format(rnd.nextInt(65536))}'"),
          orNull(s"named_struct('a', ${rnd.nextInt(9)}, 'c', 'c$j')"),
          orNull(s"array(${rnd.nextInt(9)}L, NULL, ${rnd.nextInt(9)}L)"),
          orNull(s"map('x$j', ${rnd.nextInt(9)}L)"),
          orNull(s"""parse_json('{"a": $j, "b": "t${j % 7}"}')"""))
          .mkString("(", ", ", ")")
      }
      val df = spark.sql(s"SELECT * FROM VALUES ${values.mkString(", ")} " +
        "AS v(k, i, f, b, dec, s, ts, tz, dt, bin, st, xs, m, v)")
      val t = LakeTable.load(wh, "d", "t")
      val aligned = Align(df, t.currentSchema)
      val rows = aligned.queryExecution.optimizedPlan match {
        case lr: LocalRelation => lr.data
        case other => fail(s"not a local relation: ${other.nodeName}")
      }
      t.append(df)
      val meta = LakeTable.load(wh, "d", "t").metadata
      val file = meta.snapshots.last.files match {
        case Seq(one) => one
        case many => fail(s"batch $batch wrote ${many.size} files")
      }
      val ref = Files.createTempDirectory("graft-lwbytes-ref")
        .resolve("ref.parquet")
      retiredDriverWrite(aligned.schema, rows, ref)
      assert(java.util.Arrays.equals(Files.readAllBytes(ref),
        Files.readAllBytes(Paths.get(file.path))),
        s"batch $batch: file bytes differ from the retired writer's")
      assert(FileStats.fromFooterWithRows(ref.toString, meta.currentSchema) ==
        ((file.rows, file.stats)), s"batch $batch")
      // blooms: the retired path built each filter from the null-gated
      // xxhash64(cast(c AS STRING)) of the rows it held
      val hashes = df.select(Seq("k", "s").map(c => when(col(c).isNotNull,
        xxhash64(col(c).cast("string")))): _*).collect()
      val fields = meta.currentSchema.fields
      assert(file.blooms.map(_.fieldId).toSet ==
        Seq("k", "s").map(c => graft.schema.FieldIds.idOf(
          fields.find(_.name == c).get)).toSet, s"batch $batch")
      Seq("k", "s").zipWithIndex.foreach { case (c, ci) =>
        val fid = graft.schema.FieldIds.idOf(fields.find(_.name == c).get)
        val bloom = file.blooms.find(_.fieldId == fid).get
        val expected = BloomFilters.build(hashes.iterator
          .filterNot(_.isNullAt(ci)).map(_.getLong(ci)).toArray)
        assert(BloomFilters.readBlob(bloom.path, bloom.offset, bloom.length)
          .sameElements(expected), s"batch $batch bloom $c")
      }
    }
  }
}
