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
  * Every engine-internal read is served by the connector, so the spec
  * is also their differential against a plain parquet reference
  * ([[ParquetReference]]: parquet read + reconciling projection,
  * driver-collected delete positions anti-joined on `_metadata`):
  * `LakeTable.read`, `readLineage` and the merge-on-read row-op scan
  * under merge-on-read position deletes, equality batches (driver-
  * and task-written), v3 deletion vectors, time travel across an ALTER,
  * partition pruning and stats filters; and the pinned file-list reads
  * (`readPinned`) of each of their callers — constraint scans,
  * `changesBetween`, changelog delete markers, the copy-on-write
  * before-state, scoped compaction with lineage, `readStaged` and
  * `readBranch`. Cells AND schemas (names, types, nullability, field
  * metadata) must agree. The differentials run every seed under both
  * read bounds ([[LocalScanDiff]]): driver-decoded and distributed
  * scans must leave the tables in the same state.
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

  /** The parquet reference of `LakeTable.read`. */
  private def stackRead(t: LakeTable,
      prune: Map[String, Set[String]] = Map.empty,
      asOf: Option[Long] = None,
      stats: Seq[RangeFilter] = Seq.empty): DataFrame = {
    val md = t.metadata
    val visible = asOf.map(sid => md.snapshots.filter(_.id <= sid))
      .getOrElse(md.snapshots)
    val schema = asOf.map(t.schemaAsOf).getOrElse(md.currentSchema)
    ParquetReference.read(spark, t, t.plannedFiles(prune, stats, asOf),
      schema, LakeTable.liveDeletes(visible), LakeTable.liveEqDeletes(visible))
  }

  /** The parquet reference of `liveRowsWithPos`: every live file with
    * its normalized path and row index, live deletes applied.
    */
  private def stackRowsWithPos(t: LakeTable): DataFrame = {
    val md = t.metadata
    val live = ParquetReference.read(spark, t,
      LakeTable.liveFiles(md.snapshots), md.currentSchema,
      LakeTable.liveDeletes(md.snapshots), withPos = true)
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
      v3: Boolean, bound: Option[Long]): (String, LakeTable, StructType) = {
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
    LocalScanDiff.set(LakeTable.load(wh, "d", "t"), bound)
    val t = LakeTable.load(wh, "d", "t")
    (wh, t, Reconcile.clean(t.currentSchema).asInstanceOf[StructType])
  }

  /** `body` once per read bound ([[LocalScanDiff]]), each from the same
    * seed; the tables it returns must end in the same state under both.
    */
  private def underBothBounds(body: Option[Long] => Seq[LakeTable]): Unit = {
    val states = LocalScanDiff.Bounds.map(b =>
      body(b).map(t => LocalScanDiff.state(spark, t)))
    states(0).zip(states(1)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"table $i: the two bounds' table states differ")
    }
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
      "under position deletes, vectors and equality batches (seeded)") { underBothBounds { bound =>
    val rnd = new scala.util.Random(77770002L)
    for (iter <- 1 to 4) yield {
      val v3 = iter % 2 == 0
      val (wh, t0, schema) = mkKeyed(rnd, s"mor$iter", v3, bound)
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
        assertSame(t.readLineage(spark), ParquetReference.read(spark, t,
          t.plannedFiles(), t.currentSchema, LakeTable.liveDeletes(snaps),
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
      // equality batches: a local key set (one driver-written marker
      // file) and an RDD-backed one (task-written marker files); both
      // are small, so their key frames are LocalRelations (no job)
      def newestBatch = load().metadata.snapshots.last.eqDeletes.head
      def servedLocally(b: graft.lake.EqDeleteMeta): Boolean =
        LocalPlans.allLocal(LakeTable.eqBatchFrame(spark, b))
      load().upsertMoR(spark, rowsFor(schema, ids(5 until 15), rnd),
        Seq("id"))
      assert(newestBatch.paths.size == 1 && servedLocally(newestBatch),
        "a local upsert batch writes one marker file, served locally")
      load().deleteByKeysMoR(spark, spark.range(25, 40, 1, 2)
        .select(col("id")))
      assert(servedLocally(newestBatch),
        "a small distributed key set is served locally too")
      check("eq batches")
      load().append(rowsFor(schema, ids(100 until 110), rnd))
      check("eq batches + later append")
      load()
    }
  }}

  test("differential: time travel across an ALTER, partition pruning " +
      "and stats filters match the parquet stack (seeded)") { underBothBounds { bound =>
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
    LocalScanDiff.set(LakeTable.load(wh, "d", "t"), bound)
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
    Seq(t)
  }}

  /** The changelog delete markers of one position-delete snapshot,
    * by the reference: the affected files read whole, semi-joined
    * against the positions the snapshot deleted — its delete files'
    * rows, or its vectors' delta bits.
    */
  private def refMarkers(t: LakeTable, sn: graft.lake.SnapshotMeta): DataFrame = {
    val byPath = t.metadata.snapshots.filter(_.id <= sn.id).flatMap(_.files)
      .map(f => LakeTable.normalizePath(f.path) -> f).toMap
    val files = sn.deleteCounts.keySet.toSeq.sorted.map(byPath)
    val pairs =
      if (sn.dvs.nonEmpty) sn.dvs.flatMap(d =>
        ParquetReference.vectorBits(d.dvPath, d.deltaOffset, d.deltaLength)
          .map(LakeTable.normalizePath(d.dataPath) -> _))
      else spark.read.schema(LakeTable.DeleteFileSchema)
        .parquet(sn.deletePaths: _*).collect().toSeq
        .map(r => (LakeTable.normalizePath(r.getString(0)), r.getLong(1)))
    ParquetReference.read(spark, t, files, t.currentSchema, withPos = true)
      .join(ParquetReference.positionFrame(spark, pairs),
        Seq("_graft_dfile", "_graft_dpos"), "left_semi")
      .select(t.currentSchema.fieldNames.toSeq.map(c => col(s"`$c`")): _*)
  }

  test("differential: the pinned file-list reads of constraint scans, " +
      "changesBetween, changelog markers, the copy-on-write before-state, " +
      "scoped compaction, readStaged and readBranch vs the parquet " +
      "reference (seeded)") { underBothBounds { bound =>
    val rnd = new scala.util.Random(77770004L)
    for (iter <- 1 to 2) yield {
      val v3 = iter % 2 == 0
      val (wh, t0, schema) = mkKeyed(rnd, s"pin$iter", v3, bound)
      def load() = LakeTable.load(wh, "d", "t")
      def ids(r: Range): Seq[java.lang.Long] =
        r.map(i => java.lang.Long.valueOf(i.toLong))
      def snaps() = load().metadata.snapshots
      t0.append(rowsFor(schema, ids(0 until 30) :+ null, rnd))
      val firstAppend = snaps().last.id
      load().append(rowsFor(schema, ids(30 until 50), rnd))
      load().append(rowsFor(schema, ids(50 until 60), rnd))
      val lastAppend = snaps().last.id

      // changesBetween: the range's added files, no deletes
      val added = snaps().filter(s => s.id > firstAppend && s.id <= lastAppend)
        .flatMap(_.files)
      assertSame(load().changesBetween(spark, firstAppend, lastAppend),
        ParquetReference.read(spark, load(), added, load().currentSchema),
        s"iter $iter changesBetween")

      // changelog delete markers: a first delete, then a second one on
      // the same files (v2 delete files accumulate, v3 vectors replace
      // with a delta blob of the new positions)
      val m = 2 + rnd.nextInt(3)
      load().deleteMoR(spark, col("id") % m === 1L)
      load().deleteMoR(spark, col("id") > 40L && col("id") < 52L)
      for (sn <- snaps().takeRight(2)) {
        assert(if (v3) sn.dvs.nonEmpty else sn.deletePaths.nonEmpty)
        val t = load()
        val prev = t.metadata.snapshots.filter(_.id < sn.id).map(_.id).max
        val markers = t.changelogBetween(spark, prev, sn.id)
          .filter(col("_change_type") === "delete")
          .drop("_change_type", "_change_ordinal", "_change_snapshot_id")
        assertSame(markers, refMarkers(t, sn), s"iter $iter markers ${sn.id}")
      }

      // the copy-on-write before-state: the replaced files as visible
      // just before the overwrite, their position deletes applied
      load().delete(spark, col("id") % 5 === 2L)
      val cow = snaps().last
      assert(cow.operation == "overwrite" && cow.removedPaths.nonEmpty)
      val t1 = load()
      val before = t1.metadata.snapshots.filter(_.id < cow.id)
      val byPath = before.flatMap(_.files)
        .map(f => LakeTable.normalizePath(f.path) -> f).toMap
      val removed = cow.removedPaths.map(p => byPath(LakeTable.normalizePath(p)))
      assertSame(t1.readPinned(spark, removed, LakeTable.liveDeletes(before)),
        ParquetReference.read(spark, t1, removed, t1.currentSchema,
          LakeTable.liveDeletes(before)), s"iter $iter cow before-state")

      // equality batches, then a constraint scan over the files stats
      // cannot prove (addConstraint's shape: live deletes applied)
      load().upsertMoR(spark, rowsFor(schema, ids(5 until 15), rnd), Seq("id"))
      load().deleteByKeysMoR(spark, spark.range(25, 35, 1, 2).select(col("id")))
      val t2 = load()
      val live = LakeTable.liveFiles(t2.metadata.snapshots)
      val check = "id < 45"
      val unproven = graft.lake.Constraints.violationFilters(check,
          t2.currentSchema) match {
        case Some(vfs) => live.filter(f => vfs.exists(vf =>
          graft.lake.FileStats.mightMatch(f.stats, t2.currentSchema, Seq(vf))))
        case None => live
      }
      assert(unproven.nonEmpty && unproven.size < live.size,
        s"the case must prove some files: ${unproven.size}/${live.size}")
      val liveDel = LakeTable.liveDeletes(t2.metadata.snapshots)
      val liveEq = LakeTable.liveEqDeletes(t2.metadata.snapshots)
      assertSame(t2.readPinned(spark, unproven, liveDel, liveEq)
          .filter(!coalesce(expr(check), lit(true))),
        ParquetReference.read(spark, t2, unproven, t2.currentSchema,
          liveDel, liveEq).filter(!coalesce(expr(check), lit(true))),
        s"iter $iter constraint scan")

      // readStaged: the live state plus the staged files, stamped with
      // the staged snapshot's id as their sequence
      val staged = load().appendStaged(rowsFor(schema, ids(8 until 12), rnd),
        "w1")
      val t3 = load()
      assertSame(t3.readStaged(spark, "w1"), ParquetReference.read(spark, t3,
        live ++ staged.files.map(f =>
          if (f.seq >= 0) f else f.copy(seq = staged.id)),
        t3.currentSchema, liveDel, liveEq), s"iter $iter readStaged")
      load().discardStaged("w1")

      // readBranch: the fork base plus re-sequenced branch commits
      // carrying equality batches; main's post-fork upsert stays out
      load().createBranch("b")
      load().upsertMoR(spark, rowsFor(schema, ids(0 until 6), rnd), Seq("id"))
      load().upsertToBranchMoR(spark, "b", rowsFor(schema, ids(20 until 28), rnd),
        Seq("id"))
      load().upsertToBranchMoR(spark, "b", rowsFor(schema, ids(24 until 40), rnd),
        Seq("id"))
      val t4 = load()
      val base = t4.metadata.refs("b").baseSnapshotId.get
      val visible = t4.metadata.snapshots.filter(_.id <= base)
      val (overlay, branchEqs) = LakeTable.resequenceOverlay(base,
        t4.metadata.staged.filter(_.wapId.contains("branch:b")).sortBy(_.id))
      assert(branchEqs.size == 2)
      assertSame(t4.readBranch(spark, "b"), ParquetReference.read(spark, t4,
        LakeTable.liveFiles(visible) ++ overlay, t4.currentSchema,
        LakeTable.liveDeletes(visible),
        LakeTable.liveEqDeletes(visible) ++ branchEqs),
        s"iter $iter readBranch")

      // scoped compaction: its input read (lineage on v3), then the
      // rewritten table reads back the same rows and lineage
      val t5 = load()
      val s5 = t5.metadata.snapshots
      val all = LakeTable.liveFiles(s5)
      val (del5, eq5) = (LakeTable.liveDeletes(s5), LakeTable.liveEqDeletes(s5))
      val ref = ParquetReference.read(spark, t5, all, t5.currentSchema, del5,
        eq5, lineage = v3)
      assertSame(t5.readPinned(spark, all, del5, eq5, lineage = v3), ref,
        s"iter $iter compaction input")
      val want = cells(ref)
      assert(t5.compactScoped(spark).isDefined)
      val t6 = load()
      val got = if (v3) t6.readLineage(spark) else t6.read(spark)
      assert(cells(got) == want, s"iter $iter compacted rows")
      t6
    }
  }}

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }
}
