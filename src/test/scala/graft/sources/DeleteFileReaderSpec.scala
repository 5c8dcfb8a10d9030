package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.schema.FieldIds

/** Differential check of the delete-file reads: position-delete files
  * and equality-delete batches decoded by the connector must hold
  * exactly what `spark.read.parquet` reads from the same files, cast
  * to the key's current type. Keys are written at their old types and
  * read after int→long, float→double and decimal(7,2)→decimal(12,2)
  * promotions; the values are seeded random with NULLs, NaN, −0.0/0.0,
  * empty and non-ASCII strings, dates, timestamps and a struct-nested
  * key.
  */
class DeleteFileReaderSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def dir(tag: String): Path =
    Files.createTempDirectory(s"graft-delreader-$tag")

  /** One parquet file holding `rows` under `schema`, written by the
    * lake's own parquet writer (the writer of every delete file).
    */
  private def writeOne(rows: Seq[Row], schema: StructType, at: Path): String = {
    val w = new LakeParquetDataWriter(at.toString, schema, WritePlan.empty, "del")
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    if (rows.isEmpty) w.openEmpty()
    rows.foreach(r => w.write(toCatalyst(r).asInstanceOf[InternalRow]))
    val Seq(path) = w.commit().asInstanceOf[LakeFilesCommit].files.map(_._1)
    path
  }

  test("position-delete files: every data file's positions match " +
      "spark.read.parquet of the same files") {
    val rnd = new java.util.Random(11)
    val base = dir("pos")
    val dataPaths = (0 until 5).map(i => s"/lake/t/data/part-$i.parquet")
    // the same data file spelled both plain and as a file: URI
    def spelled(p: String) = if (rnd.nextBoolean()) p else s"file:$p"
    val deleteFiles = (0 until 4).map { f =>
      val rows = Seq.fill(50 + rnd.nextInt(400)) {
        Row(spelled(dataPaths(rnd.nextInt(dataPaths.length))),
          rnd.nextInt(5000).toLong)
      }
      writeOne(rows, LakeTable.DeleteFileSchema, base.resolve(s"d$f"))
    }
    for (n <- 1 to deleteFiles.length; dp <- dataPaths) {
      val use = deleteFiles.take(n)
      val expected = spark.read.schema(LakeTable.DeleteFileSchema)
        .parquet(use: _*).collect()
        .filter(r => LakeTable.normalizePath(r.getString(0)) == dp)
        .map(_.getLong(1)).toSet
      val got = LakeSource.loadDeletedPositions(use, dp)
      assert(expected.nonEmpty && got.asScala.map(_.longValue).toSet == expected,
        s"$n delete files, data file $dp")
    }
    assert(LakeSource.loadDeletedPositions(Nil, dataPaths.head) == null)
  }

  // key columns at WRITE time and the types they read as after the
  // promotions; ids 1-7 are top-level keys, id 8 sits inside the
  // struct column `meta` (id 20)
  private val writeTypes: Seq[(Int, DataType)] = Seq(
    1 -> IntegerType, 2 -> FloatType, 3 -> DecimalType(7, 2),
    4 -> DoubleType, 5 -> StringType, 6 -> DateType, 7 -> TimestampType,
    8 -> LongType)
  private val readTypes: Map[Int, DataType] = Map(
    1 -> LongType, 2 -> DoubleType, 3 -> DecimalType(12, 2),
    4 -> DoubleType, 5 -> StringType, 6 -> DateType, 7 -> TimestampType,
    8 -> LongType)

  private def keyField(id: Int): StructField =
    FieldIds.withId(StructField(s"c$id", readTypes(id)), id)

  private def randomKeyRow(rnd: java.util.Random): Row = {
    def maybeNull(v: => Any): Any = if (rnd.nextInt(8) == 0) null else v
    val specialD = Seq(Double.NaN, -0.0, 0.0, 1.5, -1.5)
    val specialF = Seq(Float.NaN, -0.0f, 0.0f, 2.25f)
    Row(
      maybeNull(rnd.nextInt(20) - 10),
      maybeNull(if (rnd.nextBoolean()) specialF(rnd.nextInt(specialF.length))
        else rnd.nextFloat() * 100),
      maybeNull(java.math.BigDecimal.valueOf(rnd.nextInt(2000000) - 1000000, 2)),
      maybeNull(if (rnd.nextBoolean()) specialD(rnd.nextInt(specialD.length))
        else rnd.nextGaussian() * 1e6),
      maybeNull(Seq("", "a", "ß", "键", "x" * (1 + rnd.nextInt(30)))
        .apply(rnd.nextInt(5))),
      maybeNull(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 10000L))),
      maybeNull(new java.sql.Timestamp(rnd.nextLong() % 4000000000000L)),
      maybeNull(rnd.nextLong() % 1000))
  }

  /** A batch of `nFiles` marker files (one of them empty) under the
    * write types, as `k<id>` columns.
    */
  private def writeBatch(tag: String, seed: Int, nFiles: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    val schema = StructType(writeTypes.map { case (id, dt) =>
      StructField(s"k$id", dt) })
    val base = dir(tag)
    (0 until nFiles).map { f =>
      val n = if (f == 0) 0 else 20 + rnd.nextInt(200)
      val rows = Seq.fill(n)(randomKeyRow(rnd))
      // duplicate tuples in the file too
      writeOne(rows ++ rows.take(3), schema, base.resolve(s"m$f"))
    }
  }

  private def copyValue(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
    case other => other
  }

  /** `spark.read.parquet` of the batch cast to the read types, as
    * Catalyst-internal tuples.
    */
  private def sparkTuples(paths: Seq[String], ids: Seq[Int])
      : Seq[java.util.ArrayList[Any]] = {
    val df: DataFrame = spark.read.parquet(paths: _*)
      .select(ids.map(id => col(s"k$id").cast(readTypes(id))): _*)
    df.queryExecution.toRdd.map(_.copy()).collect().toSeq.map { r =>
      val t = new java.util.ArrayList[Any](ids.length)
      ids.zipWithIndex.foreach { case (id, i) =>
        t.add(if (r.isNullAt(i)) null else copyValue(r.get(i, readTypes(id))))
      }
      t
    }
  }

  test("equality batches: key tuples match spark.read.parquet cast to " +
      "the promoted read types") {
    for (seed <- Seq(3, 5, 8)) {
      val paths = writeBatch(s"eq$seed", seed, nFiles = 3)
      // every key, a composite subset, and the struct-nested key alone
      for (ids <- Seq(1 to 8, Seq(2, 5, 8), Seq(8), Seq(3, 6, 7))) {
        val keys = StructType(ids.map(keyField))
        val carriers = ids.map(id =>
          if (id == 8) FieldIds.withId(StructField("meta",
            StructType(Seq(keyField(8)))), 20)
          else keyField(id))
        val got = EqBatchCache.get(LakeEqBatch(paths, keys, carriers))
        val expected = new java.util.HashSet[java.util.ArrayList[Any]](
          sparkTuples(paths, ids).asJava)
        assert(got == expected, s"seed $seed keys ${ids.mkString(",")}")
      }
    }
  }

  /** An emitted row as nested java lists (structs recursed). */
  private def norm(r: InternalRow, st: StructType): java.util.List[Any] =
    st.fields.zipWithIndex.map { case (f, i) =>
      if (r.isNullAt(i)) null
      else f.dataType match {
        case s: StructType => norm(r.getStruct(i, s.length), s)
        case dt => copyValue(r.get(i, dt))
      }
    }.toSeq.asJava.asInstanceOf[java.util.List[Any]]

  private def markerRows(p: LakeEqMarkerPartition): Seq[java.util.List[Any]] = {
    val reader = new EqMarkerReader(p)
    try Iterator.continually(reader).takeWhile(_.next())
      .map(r => norm(r.get(), p.target)).toList
    finally reader.close()
  }

  private def counts[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  test("equality delete markers: one row per stored tuple, keys at the " +
      "promoted types, a nested key rebuilt inside its struct") {
    val paths = writeBatch("marker", 13, nFiles = 3)
    val ids = 1 to 8
    // target: every top-level key, a non-key column, and `meta` holding
    // the nested key next to a non-key child
    val target = StructType((1 to 7).map(keyField) ++ Seq(
      FieldIds.withId(StructField("other", StringType), 30),
      FieldIds.withId(StructField("meta", StructType(Seq(
        keyField(8), FieldIds.withId(StructField("note", StringType), 31)))),
        20)))
    val got = markerRows(LakeEqMarkerPartition(paths, ids, target))
    val expected = sparkTuples(paths, ids).map { t =>
      val v = t.asScala.toSeq
      val meta: java.util.List[Any] =
        if (v(7) == null) Seq[Any](null, null).asJava
        else Seq[Any](v(7), null).asJava
      (v.take(7) ++ Seq(null, meta)).asJava.asInstanceOf[java.util.List[Any]]
    }
    assert(got.size == expected.size)
    assert(counts(got) == counts(expected))
    // a target holding none of the keys still emits one all-null row
    // per stored tuple
    val pruned = StructType(Seq(
      FieldIds.withId(StructField("other", StringType), 30)))
    val none = markerRows(LakeEqMarkerPartition(paths, ids, pruned))
    assert(none.size == expected.size && none.forall(_.get(0) == null))
  }
}
