package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** `addFiles` (Iceberg's add_files / migrate): external parquet joins
  * the table by reference — validation edges, read-path integration
  * (name-matched columns, null-fill, eq-delete applicability), and
  * the not-owned contract.
  */
class AddFilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String, cols: String, parts: String = "[]")
      : (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-addf-$tag").toString
    Engine.processTableDefJson(wh,
      s"""{"database_name":"d","table_name":"t","columns":[$cols],
         |"partitions":$parts}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def extParquet(tag: String, rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-ext-$tag").toString
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    Files.list(java.nio.file.Paths.get(dir)).filter(
      _.toString.endsWith(".parquet")).findFirst().get().toString
  }

  private val idv =
    """{"column_name":"id","data_type":"long"},
      |{"column_name":"v","data_type":"string"}""".stripMargin

  test("registers by reference; reads, null-fills, and eq-deletes apply") {
    val ext = extParquet("basic", Seq(1L -> "a", 2L -> "b"))
    // table has an EXTRA column the file lacks → null-filled on read
    val (_, t) = mk("basic",
      """{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"extra","data_type":"string"}""".stripMargin)
    val snap = t.addFiles(spark, Seq(ext))
    assert(snap.files.map(_.path) == Seq(ext))
    assert(snap.files.head.rows == 2L)
    val got = t.read(spark).select("id", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", null), (2L, "b", null)))
    // an eq-delete batch (later sequence) kills rows in the external file
    import spark.implicits._
    t.deleteByKeysMoR(spark, Seq(1L).toDF("id"))
    assert(t.read(spark).select("id").collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    // compaction rewrites the external data into OWNED files
    t.compact(spark)
    assert(!t.plannedFiles().map(_.path).contains(ext))
    assert(Files.exists(java.nio.file.Paths.get(ext)),
      "compaction must not delete a file the table never owned")
  }

  test("type mismatch, duplicates, partitioned specs, missing files refuse") {
    val ext = extParquet("edges", Seq(1L -> "a"))
    // column 'id' declared int (file has int64) → loud refusal
    val (_, bad) = mk("edges-int",
      """{"column_name":"id","data_type":"int"},
        |{"column_name":"v","data_type":"string"}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      bad.addFiles(spark, Seq(ext))
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("int"))
    // partitioned spec without a hive base → refused
    val (_, parted) = mk("edges-part", idv,
      """[{"column":"v","name":"pv"}]""")
    assert(intercept[IllegalArgumentException] {
      parted.addFiles(spark, Seq(ext))
    }.getMessage.contains("base dir"))
    // non-identity spec → refused even with a base
    val (_, bucketed) = mk("edges-bucket", idv,
      """[{"column":"id","transform":"bucket[4]","name":"pb"}]""")
    assert(intercept[IllegalArgumentException] {
      bucketed.addFiles(spark, Seq(ext), Some("/tmp"))
    }.getMessage.contains("identity"))
    // double registration → refused
    val (_, ok) = mk("edges-dup", idv)
    ok.addFiles(spark, Seq(ext))
    assert(intercept[IllegalArgumentException] {
      ok.addFiles(spark, Seq(ext))
    }.getMessage.contains("already"))
    // missing path → refused by name
    assert(intercept[IllegalArgumentException] {
      ok.addFiles(spark, Seq("/no/such/file.parquet"))
    }.getMessage.contains("no such file"))
    // the same path twice in ONE call → refused (would double-count)
    val ext2 = extParquet("edges2", Seq(7L -> "q"))
    assert(intercept[IllegalArgumentException] {
      ok.addFiles(spark, Seq(ext2, ext2))
    }.getMessage.contains("more than once"))
    // a stale handle surfaces the concurrent commit instead of blindly
    // retrying past the duplicate check
    val (wh3, fresh) = mk("edges-stale", idv)
    val stale = LakeTable.load(wh3, "d", "t")
    fresh.addFiles(spark, Seq(ext2))
    intercept[java.util.ConcurrentModificationException] {
      stale.addFiles(spark, Seq(ext2))
    }
    // case-differing type mismatch is still caught (reader resolves
    // case-insensitively, so must the validation)
    import spark.implicits._
    val dirCase = Files.createTempDirectory("graft-ext-case").toString
    Seq(("1", "a")).toDF("ID", "v").coalesce(1)
      .write.mode("overwrite").parquet(dirCase)
    val caseFile = Files.list(java.nio.file.Paths.get(dirCase))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val (_, caseT) = mk("edges-case", idv)
    assert(intercept[IllegalArgumentException] {
      caseT.addFiles(spark, Seq(caseFile))
    }.getMessage.contains("'ID'"))
  }

  test("hive-layout registration derives partition values and prunes") {
    import spark.implicits._
    // external hive layout that RETAINS the partition column in rows
    val base = Files.createTempDirectory("graft-ext-hive").toString
    Seq("x", "y").foreach { pv =>
      Files.createDirectories(java.nio.file.Paths.get(base, s"v=$pv"))
      Seq((pv.hashCode.toLong, pv)).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/v=$pv")
    }
    def fileIn(pv: String): String =
      Files.list(java.nio.file.Paths.get(base, s"v=$pv"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val (_, t) = mk("hive", idv, """[{"column":"v","name":"pv"}]""")
    t.addFiles(spark, Seq(fileIn("x"), fileIn("y")), Some(base))
    // metadata carries the derived values → partition pruning works
    assert(t.plannedFiles().size == 2)
    val pruned = t.plannedFiles(prune = Map("pv" -> Set("x")))
    assert(pruned.size == 1 && pruned.head.partitionValues("pv") == "x")
    assert(t.read(spark, prune = Map("pv" -> Set("x")))
      .select("id", "v").collect().map(r =>
        (r.getLong(0), r.getString(1))).toSet ==
      Set(("x".hashCode.toLong, "x")))
    // a file whose rows DROPPED the partition column is refused — the
    // readers never re-inject dir values, so it would read as null
    val dropped = Files.createTempDirectory("graft-ext-dropped").toString
    Seq((9L, "z")).toDF("id", "v").write.mode("overwrite")
      .partitionBy("v").parquet(dropped)
    val zFile = Files.walk(java.nio.file.Paths.get(dropped))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    assert(intercept[IllegalArgumentException] {
      t.addFiles(spark, Seq(zFile), Some(dropped))
    }.getMessage.contains("does not carry partition source column"))
  }

  test("the DSv2 connector read honors the case-insensitive / null-fill " +
      "registration contract (not just LakeTable.read)") {
    import spark.implicits._
    // external file spells the columns UPPER-case and lacks `extra`
    val dirCase = Files.createTempDirectory("graft-ext-dsv2").toString
    Seq((1L, "a"), (2L, "b")).toDF("ID", "V").coalesce(1)
      .write.mode("overwrite").parquet(dirCase)
    val caseFile = Files.list(java.nio.file.Paths.get(dirCase))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().toString
    val (wh, t) = mk("dsv2",
      """{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"extra","data_type":"string"}""".stripMargin)
    t.addFiles(spark, Seq(caseFile))
    spark.conf.set("spark.sql.catalog.gaf", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gaf.warehouse", wh)
    // the reader requests the table's columns by the file's physical
    // spelling (footer reconciliation) and null-fills the absent one
    val got = spark.sql("SELECT id, v, extra FROM gaf.d.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(got == Seq((1L, "a", null), (2L, "b", null)))
    // a column-pruned projection over the same file stays readable too
    // (pruning must request the footer's spelling, not the table's)
    assert(spark.sql("SELECT v FROM gaf.d.t ORDER BY v")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // eq-deletes keyed on the table's name still hit the case-differing
    // file through the connector
    t.deleteByKeysMoR(spark, Seq(1L).toDF("id"))
    assert(spark.sql("SELECT id FROM gaf.d.t").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("external TIMESTAMP(MILLIS), INT96 and nested columns read " +
      "exactly as spark.read.parquet reads the same file") {
    import spark.implicits._
    val tsKey = "spark.sql.parquet.outputTimestampType"
    def file(dir: String): String =
      Files.list(java.nio.file.Paths.get(dir)).filter(
        _.toString.endsWith(".parquet")).findFirst().get().toString
    def tsFile(outType: String): String = {
      val dir = Files.createTempDirectory(s"graft-ext-$outType").toString
      val prev = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, outType)
      try Seq((1L, "2024-03-05 06:07:08.123"), (2L, "1999-12-31 23:59:59.999"),
          (3L, null)).toDF("id", "s")
        .select(col("id"), to_timestamp(col("s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      finally prev.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
      file(dir)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Seq("TIMESTAMP_MILLIS", "INT96").foreach { outType =>
      val ext = tsFile(outType)
      val (_, t) = mk(s"ts-$outType",
        """{"column_name":"id","data_type":"long"},
          |{"column_name":"ts","data_type":"timezone"}""".stripMargin)
      t.addFiles(spark, Seq(ext))
      val got = rows(t.read(spark).select("id", "ts"))
      assert(got == rows(spark.read.parquet(ext)), outType)
      assert(t.read(spark).filter(col("id") === 1L).select("ts").head
        .getTimestamp(0) == java.sql.Timestamp.valueOf("2024-03-05 06:07:08.123"),
        s"$outType: the stored instant must survive the read")
    }
    // a struct and an array column, one row with both null
    val nestedDir = Files.createTempDirectory("graft-ext-nested").toString
    Seq((1L, 10, "x", Seq(1L, 2L)), (2L, 20, null, Seq.empty[Long]),
        (3L, 0, "", null)).toDF("id", "a", "b", "arr")
      .select(col("id"),
        when(col("id") < 3L, struct(col("a"), col("b"))).as("st"),
        col("arr"))
      .coalesce(1).write.mode("overwrite").parquet(nestedDir)
    val nested = file(nestedDir)
    val (_, nt) = mk("nested",
      """{"column_name":"id","data_type":"long"},
        |{"column_name":"st","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"},
        |  {"column_name":"b","data_type":"string"}]},
        |{"column_name":"arr","data_type":"array",
        |  "array_def":{"column_name":"element","data_type":"long"}}""".stripMargin)
    nt.addFiles(spark, Seq(nested))
    assert(rows(nt.read(spark).select("id", "st", "arr")) ==
      rows(spark.read.parquet(nested)))
  }

  test("a column added after registration null-fills even where the " +
      "file carries an unregistered column of that name") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ext-extra").toString
    Seq((1L, "a", 7)).toDF("id", "v", "a")
      .select(col("id"), col("v"), struct(col("a")).as("extra"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val ext = Files.list(java.nio.file.Paths.get(dir)).filter(
      _.toString.endsWith(".parquet")).findFirst().get().toString
    val (wh, t) = mk("extra", idv)
    t.addFiles(spark, Seq(ext))
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"extra","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"}]}],
        |"partitions":[]}""".stripMargin)
    val got = LakeTable.load(wh, "d", "t").read(spark).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L && got.head.isNullAt(2),
      s"the table's extra was added after the file: ${got.toSeq}")
  }

  test("a rename after registration keeps the file readable (by-name " +
      "match is pinned to the registration-time schema)") {
    val ext = extParquet("rename", Seq(5L -> "x"))
    val (wh, t) = mk("rename", idv)
    t.addFiles(spark, Seq(ext))
    t.renameColumn("v", "val")
    val t2 = LakeTable.load(wh, "d", "t")
    val got = t2.read(spark).select("id", "val").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((5L, "x")))
  }
}
