package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable, RangeFilter, Reconcile}

/** Seeded randomized round-trip for the DSv2 record reader: random
  * schemas (primitives, structs, arrays of structs, maps) with random
  * rows (including nulls at every level) must read back through
  * `format("graft-lake")` cell-identical to the engine's native
  * reconciling reader.
  *
  * Since `LakeTable.read` and the merge-on-read row-op scan are served
  * by the connector, the spec is also their differential against the
  * parquet stack they replaced: `readFiles` (parquet read + reconciling
  * projection + delete anti-joins) over the same planned files, and the
  * `_metadata`-tagged position scan of the retired `liveRowsWithPos`
  * body (kept below as the reference) — merge-on-read position
  * deletes, equality batches (inline and file-based), v3 deletion
  * vectors, time travel across an ALTER, partition pruning and stats
  * filters. Cells AND schemas (names, types, nullability, field
  * metadata) must agree.
  */
class ConnectorRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val prims: Seq[(String, DataType)] = Seq(
    "boolean" -> BooleanType, "int" -> IntegerType, "long" -> LongType,
    "float" -> FloatType, "double" -> DoubleType, "string" -> StringType,
    "timestamp" -> TimestampNTZType, "date" -> DateType)

  private def randomColumns(rnd: scala.util.Random): Seq[(String, String)] = {
    // (name, defJson fragment) pairs; at least one scalar column
    val n = 3 + rnd.nextInt(4)
    (0 until n).map { i =>
      val name = s"c$i"
      rnd.nextInt(10) match {
        case 7 => // struct of two primitives
          val (t1, _) = prims(rnd.nextInt(prims.size))
          val (t2, _) = prims(rnd.nextInt(prims.size))
          name -> s"""{"column_name":"$name","data_type":"struct","struct_def":[
            {"column_name":"a","data_type":"$t1"},
            {"column_name":"b","data_type":"$t2"}]}"""
        case 8 => // array of struct
          val (t1, _) = prims(rnd.nextInt(prims.size))
          name -> s"""{"column_name":"$name","data_type":"array","array_def":
            {"column_name":"element","data_type":"struct","struct_def":[
              {"column_name":"x","data_type":"$t1"},
              {"column_name":"y","data_type":"long"}]}}"""
        case 9 => // map string -> primitive
          val (t1, _) = prims(rnd.nextInt(prims.size))
          name -> s"""{"column_name":"$name","data_type":"map","map_def":{
            "key":{"column_name":"key","data_type":"string","required":true},
            "value":{"column_name":"value","data_type":"$t1"}}}"""
        case _ =>
          val (t1, _) = prims(rnd.nextInt(prims.size))
          name -> s"""{"column_name":"$name","data_type":"$t1"}"""
      }
    }
  }

  private def randomValue(dt: DataType, rnd: scala.util.Random): Any = {
    if (rnd.nextInt(5) == 0) return null
    dt match {
      case BooleanType => rnd.nextBoolean()
      case IntegerType => rnd.nextInt()
      case LongType => rnd.nextLong()
      case FloatType => rnd.nextFloat()
      case DoubleType => rnd.nextDouble()
      case StringType => rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      case TimestampNTZType => java.time.LocalDateTime
        .ofEpochSecond(rnd.nextInt(1700000000).toLong, 1000 * rnd.nextInt(1000000),
          java.time.ZoneOffset.UTC)
      case DateType => java.time.LocalDate.ofEpochDay(rnd.nextInt(20000).toLong)
      case st: StructType =>
        Row.fromSeq(st.fields.toSeq.map(f => randomValue(f.dataType, rnd)))
      case ArrayType(et, _) =>
        Seq.fill(rnd.nextInt(4))(randomValue(et, rnd))
      case MapType(_, vt, _) =>
        (0 until rnd.nextInt(3)).map(i =>
          s"k$i" -> randomValue(vt, rnd)).toMap
      case other => throw new IllegalStateException(other.toString)
    }
  }

  test("random schemas and rows: connector read == native read (seeded)") {
    val rnd = new scala.util.Random(77770001L)
    for (iter <- 1 to 4) {
      val wh = Files.createTempDirectory(s"graft-connrand-$iter").toString
      val cols = randomColumns(rnd)
      Engine.processTableDefJson(wh,
        s"""{"database_name":"d","table_name":"t","columns":[
           |${cols.map(_._2).mkString(",")}],"partitions":[]}""".stripMargin)
      val t = LakeTable.load(wh, "d", "t")
      val schema = graft.lake.Reconcile.clean(t.currentSchema)
        .asInstanceOf[StructType]
      val rows = (0 until 40).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => randomValue(f.dataType, rnd))))
      t.append(spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), schema))
      // second append exercises multi-file planning
      val rows2 = (0 until 15).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => randomValue(f.dataType, rnd))))
      t.append(spark.createDataFrame(
        new java.util.ArrayList[Row](rows2.asJava), schema))

      val native = t.read(spark).collect().map(_.toString).sorted.toSeq
      val dsv2 = spark.read.format("graft-lake")
        .option("warehouse", wh).option("database", "d").option("table", "t")
        .load().collect().map(_.toString).sorted.toSeq
      assert(dsv2 == native, s"iter $iter schema=${schema.simpleString}")
    }
  }

  // ---- differential: connector read vs the parquet stack -------------

  private def defTable(wh: String, json: String): Unit = {
    val r = Engine.processTableDefJson(wh, json)
    assert(!r.hasError, r.toString)
  }

  /** The parquet-stack read `LakeTable.read` used to be. */
  private def stackRead(t: LakeTable,
      prune: Map[String, Set[String]] = Map.empty,
      asOf: Option[Long] = None,
      stats: Seq[RangeFilter] = Seq.empty): DataFrame = {
    val md = t.metadata
    val visible = asOf.map(sid => md.snapshots.filter(_.id <= sid))
      .getOrElse(md.snapshots)
    val schema = asOf.map(t.schemaAsOf).getOrElse(md.currentSchema)
    t.readFiles(spark, t.plannedFiles(prune, stats, asOf), schema,
      LakeTable.liveDeletes(visible), LakeTable.liveEqDeletes(visible))
  }

  /** The retired `liveRowsWithPos` body: every live file read through
    * parquet with `_metadata` file path (normalized by the udf) and row
    * index, live vectors probed, live position-delete files anti-joined.
    */
  private def stackRowsWithPos(t: LakeTable): DataFrame = {
    val md = t.metadata
    val files = LakeTable.liveFiles(md.snapshots)
    val existing = LakeTable.liveDeletes(md.snapshots)
    val tagged = files.groupBy(_.schemaId).map { case (sid, group) =>
      val fs = md.schemaById(sid)
      spark.read.schema(Reconcile.clean(fs).asInstanceOf[StructType])
        .parquet(group.map(_.path): _*)
        .withColumn("_graft_dfile",
          LakeTable.normalizeUdf(col("_metadata.file_path")))
        .withColumn("_graft_dpos", col("_metadata.row_index"))
        .select(Reconcile.projection(fs, md.currentSchema) ++
          Seq(col("_graft_dfile"), col("_graft_dpos")): _*)
    }.reduce(_.unionByName(_))
    val sets = files.flatMap(f =>
      existing.get(LakeTable.normalizePath(f.path)))
    val dvRefs = sets.flatMap(_.dv).map(d =>
      LakeTable.normalizePath(d.dataPath) -> ((d.dvPath, d.offset, d.length)))
      .toMap
    val vecLive = if (dvRefs.isEmpty) tagged else
      tagged.filter(!LakeTable.dvDeletedCol(spark, col("_graft_dfile"),
        col("_graft_dpos"), dvRefs))
    val delPaths = sets.flatMap(_.paths).distinct
    val live = if (delPaths.isEmpty) vecLive
      else vecLive.join(spark.read.schema(LakeTable.DeleteFileSchema)
        .parquet(delPaths: _*)
        .select(col("file_path").as("_graft_dfile"),
          col("pos").as("_graft_dpos")),
      Seq("_graft_dfile", "_graft_dpos"), "left_anti")
    // the join put its keys first; the columns are read by name
    live.select((md.currentSchema.fieldNames.toSeq ++
      Seq("_graft_dfile", "_graft_dpos")).map(c => col(s"`$c`")): _*)
  }

  private def cells(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(got: DataFrame, want: DataFrame,
      clue: => String): Unit = {
    assert(got.schema == want.schema,
      s"$clue: schema ${got.schema.treeString} vs ${want.schema.treeString}")
    val (g, w) = (cells(got), cells(want))
    assert(g == w, s"$clue: ${g.size} vs ${w.size} rows\n" +
      g.diff(w).take(5).mkString("\n") + "\n--\n" +
      w.diff(g).take(5).mkString("\n"))
  }

  private def mkKeyed(rnd: scala.util.Random, tag: String,
      v3: Boolean): (String, LakeTable, StructType) = {
    val wh = Files.createTempDirectory(s"graft-conndiff-$tag").toString
    // id: the row key (optional; nulls included); one random column
    // declared required, to pin the nullability the reads declare
    val cols = randomColumns(rnd).zipWithIndex.map {
      case ((n, j), 0) if !j.contains("struct") && !j.contains("array") &&
          !j.contains("map") =>
        n -> j.replace("}", ""","required":true}""")
      case (c, _) => c
    }
    defTable(wh,
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"id","data_type":"long"},
         |${cols.map(_._2).mkString(",")}],"partitions":[]${
           if (v3) ""","properties":{"format-version":"3"}""" else ""}}"""
        .stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    (wh, t, Reconcile.clean(t.currentSchema).asInstanceOf[StructType])
  }

  private def rowsFor(schema: StructType, ids: Seq[java.lang.Long],
      rnd: scala.util.Random): DataFrame = {
    val rows = ids.map(id => Row.fromSeq(id +: schema.fields.toSeq.tail
      .map { f =>
        val v = randomValue(f.dataType, rnd)
        if (v == null && !f.nullable) randomValue(f.dataType, rnd) match {
          case null => f.dataType match {
            case BooleanType => true
            case IntegerType => 1
            case LongType => 1L
            case FloatType => 1f
            case DoubleType => 1d
            case StringType => "x"
            case TimestampNTZType => java.time.LocalDateTime.of(2020, 1, 1, 0, 0)
            case DateType => java.time.LocalDate.of(2020, 1, 1)
            case _ => null
          }
          case w => w
        } else v
      }))
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
  }

  test("differential: read and the row-op scan vs the parquet stack " +
      "under position deletes, vectors and equality batches (seeded)") {
    val rnd = new scala.util.Random(77770002L)
    for (iter <- 1 to 4) {
      val v3 = iter % 2 == 0
      val (wh, t0, schema) = mkKeyed(rnd, s"mor$iter", v3)
      def load() = LakeTable.load(wh, "d", "t")
      def ids(r: Range): Seq[java.lang.Long] =
        r.map(i => java.lang.Long.valueOf(i.toLong)) ++ Seq(null)
      t0.append(rowsFor(schema, ids(0 until 30), rnd))
      load().append(rowsFor(schema, ids(30 until 50), rnd))
      load().append(rowsFor(schema, ids(50 until 60), rnd))
      def check(stage: String): Unit = {
        val t = load()
        assertSame(t.read(spark), stackRead(t), s"iter $iter $stage read")
        val snaps = t.metadata.snapshots
        assertSame(t.readLineage(spark), t.readFiles(spark, t.plannedFiles(),
          t.currentSchema, LakeTable.liveDeletes(snaps),
          LakeTable.liveEqDeletes(snaps), lineage = true),
          s"iter $iter $stage lineage")
      }
      def checkPos(stage: String): Unit = {
        val t = load()
        assertSame(t.liveRowsWithPos(spark), stackRowsWithPos(t),
          s"iter $iter $stage positions")
      }
      check("clean")
      checkPos("clean")
      val m = 2 + rnd.nextInt(3)
      load().deleteMoR(spark, col("id") % m === 1L)
      check("deleteMoR")
      checkPos("deleteMoR")
      // a second delete on the same files accumulates (v2 files) /
      // replaces (v3 vectors)
      load().deleteMoR(spark, col("id") > 45L && col("id") < 55L)
      load().mergeMoR(spark, rowsFor(schema, ids(20 until 70).filter(
        i => i != null && i % 3 == 0), rnd), Seq("id"))
      check("mergeMoR")
      checkPos("mergeMoR")
      // equality batches: a local key set (inline keys) and an
      // RDD-backed one (marker files only)
      load().upsertMoR(spark, rowsFor(schema, ids(5 until 15), rnd),
        Seq("id"))
      assert(load().metadata.snapshots.last.eqDeletes.head.inlineKeys
        .isDefined, "a local upsert batch inlines its keys")
      load().deleteByKeysMoR(spark, spark.range(25, 40, 1, 2)
        .select(col("id")))
      assert(load().metadata.snapshots.last.eqDeletes.head.inlineKeys
        .isEmpty, "a distributed key set writes marker files only")
      check("eq batches")
      load().append(rowsFor(schema, ids(100 until 110), rnd))
      check("eq batches + later append")
    }
  }

  test("differential: time travel across an ALTER, partition pruning " +
      "and stats filters match the parquet stack (seeded)") {
    val rnd = new scala.util.Random(77770003L)
    val wh = Files.createTempDirectory("graft-conndiff-alter").toString
    defTable(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"p","data_type":"string"},
        |{"column_name":"n","data_type":"int"},
        |{"column_name":"s","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"}]}],
        |"partitions":[{"column":"p","name":"p"}]}"""
        .stripMargin)
    def load() = LakeTable.load(wh, "d", "t")
    def batch(from: Int, to: Int, v2: Boolean): DataFrame = {
      val base = spark.range(from, to).select(col("id"),
        concat(lit("p"), (col("id") % 3).cast("string")).as("p"),
        (col("id") * 7 % 11).cast("int").as("n"),
        struct((col("id") % 5).cast("int").as("a")).as("s"))
      if (!v2) base.coalesce(1)
      else base.withColumn("w", (col("id") / 2.0).cast("double"))
        .withColumn("s", struct(col("s.a"),
          (col("id") % 2 === 0).as("b"))).coalesce(1)
    }
    load().append(batch(0, 40, v2 = false))
    load().append(batch(40, 60, v2 = false))
    load().deleteMoR(spark, col("id") % 4 === 0L)
    val preAlter = load().metadata.snapshots.map(_.id)
    // ALTER: n int -> long, a new top-level and nested column, a rename
    defTable(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"p","data_type":"string"},
        |{"column_name":"n","data_type":"long"},
        |{"column_name":"s","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"},
        |  {"column_name":"b","data_type":"boolean"}]},
        |{"column_name":"w","data_type":"double"}],
        |"partitions":[{"column":"p","name":"p"}]}"""
        .stripMargin)
    load().renameColumn("w", "w2")
    load().append(batch(60, 90, v2 = true).withColumnRenamed("w", "w2"))
    load().deleteMoR(spark, col("id") % 5 === 0L)
    val t = load()
    for (sid <- t.metadata.snapshots.map(_.id))
      assertSame(t.read(spark, asOfSnapshot = Some(sid)),
        stackRead(t, asOf = Some(sid)),
        s"asOf $sid (pre-ALTER ${preAlter.contains(sid)})")
    assertSame(t.read(spark), stackRead(t), "current")
    for (i <- 1 to 6) {
      val prune =
        if (rnd.nextBoolean()) Map("p" -> Set(s"p${rnd.nextInt(3)}"))
        else Map.empty[String, Set[String]]
      val lo = rnd.nextInt(80)
      val stats = Seq(RangeFilter("id", loNum = Some(BigDecimal(lo)),
        hiNum = Some(BigDecimal(lo + rnd.nextInt(20)))))
      val asOf = if (rnd.nextBoolean()) None else Some(preAlter.last)
      val got = t.read(spark, prune = prune, asOfSnapshot = asOf,
        statsFilters = stats)
      assert(t.plannedFiles(prune, stats, asOf).size <
        t.plannedFiles(asOfSnapshot = asOf).size || prune.isEmpty,
        "the case must prune something")
      assertSame(got, stackRead(t, prune, asOf, stats),
        s"prune=$prune stats=$stats asOf=$asOf")
    }
  }

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }
}
