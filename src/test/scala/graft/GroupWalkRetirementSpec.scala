package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Evolved-schema reads on the one decoder, Spark's parquet reader:
  * STRUCT-NESTED equality-delete keys (probe chains read through
  * struct children of the decoded row), absent-with-DEFAULT columns
  * (per-reader constants, or constant injections into a decoded
  * struct), and equality keys on those defaults. Each scenario pins
  * its rows against values computed from the rows the test wrote, so
  * the expectation does not depend on any engine read path.
  */
class GroupWalkRetirementSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def read(wh: String) = spark.read.format("graft-lake")
    .option("warehouse", wh).option("database", "d").option("table", "t")
    .load()

  test("nested equality-delete keys decode vectorized (columnar MoR), " +
      "exact vs the forced Group walk") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-nested").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"seg","data_type":"string"},
        |  {"column_name":"name","data_type":"string"}]}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append((0 until 300).map(i =>
      (i.toLong, s"seg${i % 7}", s"n$i")).toDF("k", "seg", "name")
      .select(col("k"),
        struct(col("seg"), col("name")).as("meta")))
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq("seg3", "seg5").toDF("meta.seg"))
    val live = (0 until 300).filterNot(i => i % 7 == 3 || i % 7 == 5)
    // full projection (nested key read through the projected struct)
    assert(rows(read(wh)) ==
      live.map(i => s"[$i,[seg${i % 7},n$i]]").sorted)
    // pruned projection (the carrier struct drops out of the target:
    // the reader re-requests it cut down to the key chain)
    assert(rows(read(wh).select("k")) == live.map(i => s"[$i]").sorted)
  }

  test("absent-with-DEFAULT columns decode vectorized as constants " +
      "(clean AND delete-bearing files), exact vs the Group walk") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-def").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append((0 until 100).map(_.toLong).toDF("k"))
    spark.conf.set("spark.sql.catalog.ggwr", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.ggwr.warehouse", wh)
    spark.sql("ALTER TABLE ggwr.d.t ADD COLUMN note STRING DEFAULT 'n/a'")
    spark.sql("ALTER TABLE ggwr.d.t ADD COLUMN score DOUBLE DEFAULT 2.5")
    // a second file WITH the columns, so both fill paths mix in one scan
    LakeTable.load(wh, "d", "t").append(
      Seq((1000L, "real", 9.9)).toDF("k", "note", "score"))
    // and MoR deletes so the DEFAULT + delete combination exercises
    // the columnar MoR reader's constant vectors
    LakeTable.load(wh, "d", "t").deleteMoR(spark, col("k") % 10L === 7L)
    val expect = (0 until 100).filterNot(_ % 10 == 7)
      .map(i => s"[$i,n/a,2.5]") :+ "[1000,real,9.9]"
    assert(rows(read(wh)) == expect.sorted)
    val notes = read(wh).select("note").distinct()
      .collect().map(_.getString(0)).toSet
    assert(notes == Set("n/a", "real"), s"default must fill: $notes")
  }

  test("TWO eq-delete batches keyed on the same PRUNED column share " +
      "one re-requested column (review-found r15 regression: the " +
      "second batch re-appended it, tripping the names-distinct " +
      "check and demoting the scan)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-twobatch").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"long"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(
      (0 until 200).map(i => (i.toLong, i * 10L)).toDF("k", "v"))
    // two separate eq-delete commits => two batches, both keyed on k
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq(5L, 50L).toDF("k"))
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq(6L, 60L).toDF("k"))
    // projection PRUNES k: both batches must resolve through the ONE
    // appended request column
    val got = read(wh).select("v").collect().map(_.getLong(0)).sorted.toSeq
    val expect = (0 until 200).filterNot(i =>
      Set(5, 50, 6, 60)(i)).map(_ * 10L)
    assert(got == expect)
  }

  test("a ZERO-column projection over a clean file stays columnar and " +
      "never leaks the row-count-driving row-index column") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-zero").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append((0 until 123).map(_.toLong).toDF("k"))
    val lit1 = read(wh)
      .select(org.apache.spark.sql.functions.lit(1).as("one"))
      .collect()
    assert(lit1.length == 123 && lit1.forall(r =>
      r.length == 1 && r.getInt(0) == 1),
      "zero-column scan must emit exactly the literal — a leaked " +
        "row-index column would widen the batch past the scan schema")
  }

  test("equality-delete key on a column ABSENT from an old file " +
      "probes the constant (default), exact vs the Group walk") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-absent").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(Seq(1L, 2L, 3L).toDF("k"))
    spark.conf.set("spark.sql.catalog.ggwa", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.ggwa.warehouse", wh)
    spark.sql("ALTER TABLE ggwa.d.t ADD COLUMN tag STRING DEFAULT 'old'")
    LakeTable.load(wh, "d", "t").append(
      Seq((10L, "new"), (11L, "old")).toDF("k", "tag"))
    // delete by tag='old': the pre-evolution file's rows carry the
    // DEFAULT 'old' — all three must vanish, plus the new file's k=11
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq("old").toDF("tag"))
    assert(rows(read(wh)) == Seq("[10,new]"))
    // the key column pruned from the projection: the old file lacks
    // it, so its rows probe the default as a constant
    assert(rows(read(wh).select("k")) == Seq("[10]"))
  }

  test("NESTED absent-with-DEFAULT fields decode vectorized via " +
      "constant injection (clean, MoR, and row-emitting paths), " +
      "exact vs the Group walk (r16)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-nestdef").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"seg","data_type":"string"}]}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append((0 until 200).map(i =>
      (i.toLong, s"seg${i % 5}")).toDF("k", "seg")
      .select(col("k"), struct(col("seg")).as("meta")))
    // TWO injected children on one struct spine, added via table-def
    // evolution with initial_default: the old file's rows must read
    // them as per-row constants wherever meta is non-null
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"seg","data_type":"string"},
        |  {"column_name":"note","data_type":"string",
        |   "initial_default":"n/a"},
        |  {"column_name":"score","data_type":"double",
        |   "initial_default":"2.5"}]}],
        |"partitions":[]}""".stripMargin)
    // a post-evolution file carrying REAL values, so one scan mixes
    // injected and decoded children
    LakeTable.load(wh, "d", "t").append(
      Seq((1000L, "segX", "real", 9.9)).toDF("k", "seg", "note", "score")
        .select(col("k"), struct(col("seg"), col("note"),
          col("score")).as("meta")))
    // MoR deletes drive the columnar-MoR path (selection map OVER the
    // injected children)
    LakeTable.load(wh, "d", "t").deleteMoR(spark, col("k") % 10L === 7L)
    val live = (0 until 200).filterNot(_ % 10 == 7)
    assert(rows(read(wh)) == (live.map(i => s"[$i,[seg${i % 5},n/a,2.5]]") :+
      "[1000,[segX,real,9.9]]").sorted)
    // row-EMITTING path: a position-meta projection demotes the scan
    // to row mode, exercising the injectStruct rebuild. Each append
    // wrote one driver-side file in row order, so the position of a
    // pre-evolution row is its k
    assert(rows(read(wh).select(col("k"), col("meta"), col("_graft_pos"))) ==
      (live.map(i => s"[$i,[seg${i % 5},n/a,2.5],$i]") :+
        "[1000,[segX,real,9.9],0]").sorted)
    val notes = read(wh).select("meta.note").distinct()
      .collect().map(_.getString(0)).toSet
    assert(notes == Set("n/a", "real"), s"nested default must fill: $notes")
    val scores = read(wh).agg(sum("meta.score")).collect()(0).getDouble(0)
    val expect = live.size * 2.5 + 9.9
    assert(math.abs(scores - expect) < 1e-9, s"$scores != $expect")
  }

  test("an equality-delete KEYED on an injected nested default reads " +
      "the default wherever the parent struct is non-null, on the " +
      "columnar, row-emitting and pruned-projection paths") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-nestdefeq").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"seg","data_type":"string"}]}],
        |"partitions":[]}""".stripMargin)
    // k = 50 has a NULL meta: its injected child reads null, not the
    // default, so the delete below must not match it
    LakeTable.load(wh, "d", "t").append((0 to 50).map(i =>
      (i.toLong, if (i == 50) null else s"seg${i % 5}")).toDF("k", "seg")
      .select(col("k"), when(col("k") < 50L, struct(col("seg")))
        .as("meta")))
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"seg","data_type":"string"},
        |  {"column_name":"tag","data_type":"string",
        |   "initial_default":"old"}]}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(
      Seq((100L, "segX", "new")).toDF("k", "seg", "tag")
        .select(col("k"), struct(col("seg"), col("tag")).as("meta")))
    // eq-delete keyed on the INJECTED child: every pre-evolution row
    // with a non-null meta carries the default 'old' — each must vanish
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq("old").toDF("meta.tag"))
    assert(rows(read(wh)) == Seq("[100,[segX,new]]", "[50,null]"))
    assert(rows(read(wh).select(col("k"), col("_graft_pos"))) ==
      Seq("[100,0]", "[50,50]"))
    assert(rows(read(wh).select("k")) == Seq("[100]", "[50]"))
  }

  test("an add_files'd file carrying a column spelled like the reader's " +
      "row-index column fails a position-consuming read loudly, naming " +
      "the file") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-gwr-collide").toString
    val rowIdx = org.apache.spark.sql.execution.datasources.parquet
      .GraftRowIndexBridge.RowIndexTempCol
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"k","data_type":"long"}],
         |"partitions":[]}""".stripMargin)
    // tables cannot take the name, but a registered file's footer can
    val ext = Files.createTempDirectory("graft-gwr-collide-ext").toString
    Seq((1L, 7L), (2L, 8L)).toDF("k", rowIdx).coalesce(1)
      .write.mode("overwrite").parquet(ext)
    val file = Files.list(java.nio.file.Paths.get(ext)).filter(
      _.toString.endsWith(".parquet")).findFirst().get().toString
    LakeTable.load(wh, "d", "t").addFiles(spark, Seq(file))
    assert(rows(read(wh)) == Seq("[1]", "[2]"))
    val e = intercept[Exception] {
      read(wh).select(col("k"), col("_graft_pos")).collect()
    }
    val ise = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).collectFirst { case x: IllegalStateException => x }
    assert(ise.exists(x => x.getMessage.contains("collide by name") &&
      x.getMessage.contains(file)), s"got $e")
  }
}
