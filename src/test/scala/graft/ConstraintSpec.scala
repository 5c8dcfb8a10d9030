package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Constraints, Engine, LakeTable}

/** CHECK constraints ([[graft.lake.Constraints]]): declared via
  * `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`, enforced on every
  * commit that adds data files, stats-first (footer min/max/null-count
  * proofs skip the read), refusing BY NAME with nothing landed.
  */
class ConstraintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vsql(q: String) =
    org.apache.spark.sql.GraftViewSubstitution.sql(spark, q)

  private def setup(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-cons-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"amt","data_type":"long"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    wh
  }

  test("ADD CONSTRAINT validates existing data; commits refuse " +
      "violating rows by name with nothing landed; DROP lifts it") {
    val wh = setup("basic")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "amt", "tag"))
    spark.conf.set("spark.sql.catalog.gcons", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gcons.warehouse", wh)
    vsql("ALTER TABLE gcons.d.t ADD CONSTRAINT amt_pos CHECK (amt > 0)")
      .collect()
    assert(LakeTable.load(wh, "d", "t").constraints ==
      Map("amt_pos" -> "amt > 0"))
    // a clean append passes
    vsql("INSERT INTO gcons.d.t VALUES (3, 30, 'c')").collect()
    // a violating append refuses BY NAME and lands NOTHING (the good
    // row in the same batch must not survive)
    val e = intercept[Exception] {
      vsql("INSERT INTO gcons.d.t VALUES (4, 40, 'd'), (5, -5, 'e')")
        .collect()
    }
    def msgs(x: Throwable): String = Iterator.iterate(x)(_.getCause)
      .takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" ")
    assert(msgs(e).contains("amt_pos"), msgs(e))
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 3L,
      "the refused batch must land nothing")
    // NULL passes a CHECK (SQL semantics)
    vsql("INSERT INTO gcons.d.t VALUES (6, NULL, 'f')").collect()
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 4L)
    // a CoW UPDATE that would break the constraint refuses too
    val e2 = intercept[Exception] {
      vsql("UPDATE gcons.d.t SET amt = -1 WHERE k = 1").collect()
    }
    assert(msgs(e2).contains("amt_pos"), msgs(e2))
    assert(LakeTable.load(wh, "d", "t").read(spark)
      .filter(col("k") === 1L).head().getLong(1) == 10L)
    // ADD over violating existing data refuses
    val e3 = intercept[Exception] {
      vsql("ALTER TABLE gcons.d.t ADD CONSTRAINT big CHECK (amt >= 15)")
        .collect()
    }
    assert(msgs(e3).contains("existing rows violate"), msgs(e3))
    // DROP lifts enforcement
    vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT amt_pos").collect()
    vsql("INSERT INTO gcons.d.t VALUES (7, -7, 'g')").collect()
    assert(LakeTable.load(wh, "d", "t").constraints.isEmpty)
    // DROP of a missing name refuses unless IF EXISTS
    intercept[Exception] {
      vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT nope").collect()
    }
    vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT IF EXISTS nope")
      .collect()
  }

  test("stats-first: files proven clean by footer min/max skip the " +
      "validation read; only boundary-straddling files scan") {
    val wh = setup("stats")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.addConstraint(spark, "amt_pos", "amt > 0 AND tag IS NOT NULL")
    locally {
      // 4 single-file appends, all clean, min(amt) comfortably > 0:
      // every file must be PROVEN — zero validation scans
      for (b <- 1 to 4)
        LakeTable.load(wh, "d", "t").append(
          (0 until 50).map(i => (b * 100L + i, b * 10L + i, s"t$i"))
            .toDF("k", "amt", "tag").coalesce(1))
      val (scanned, total) = Constraints.lastValidationScan.get
      assert(total > 0 && scanned == 0,
        s"clean far-from-boundary files must prove via stats: " +
          s"$scanned/$total")
    }
    // an unprovable expression shape (arithmetic) always scans — and
    // still enforces correctly
    val t2 = LakeTable.load(wh, "d", "t")
    t2.addConstraint(spark, "sum_ok", "k + amt > 0")
    locally {
      LakeTable.load(wh, "d", "t").append(
        Seq((1000L, 1L, "x")).toDF("k", "amt", "tag").coalesce(1))
      val (scanned2, _) = Constraints.lastValidationScan.get
      assert(scanned2 >= 1, "unprovable shape must scan")
      val e = intercept[Exception] {
        LakeTable.load(wh, "d", "t").append(
          Seq((-10L, 5L, "x")).toDF("k", "amt", "tag").coalesce(1))
      }
      assert(e.getMessage.contains("sum_ok"), e.getMessage)
    }
  }

  test("required (non-nullable) columns enforce as implicit IS NOT " +
      "NULL on every write — the Iceberg required-field contract") {
    val wh = Files.createTempDirectory("graft-cons-req").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long","required":true},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // clean writes pass (and prove via null-count stats — no read)
    LakeTable.load(wh, "d", "t").append(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))
    val (scanned, total) = Constraints.lastValidationScan.get
    assert(total > 0 && scanned == 0,
      s"null-count stats must prove the clean file: $scanned/$total")
    // a NULL in the required column refuses by name, nothing lands
    val df = Seq((Option.empty[Long], 3L), (Some(4L), 4L))
      .toDF("k", "v")
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "t").append(df)
    }
    assert(e.getMessage.contains("required column 'k'"), e.getMessage)
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 2L,
      "the refused batch must land nothing")
    // NULLs in the OPTIONAL column stay fine
    LakeTable.load(wh, "d", "t").append(
      Seq((5L, Option.empty[Long])).toDF("k", "v"))
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 3L)
  }

  test("constraints bind names: dropping a referenced column refuses; " +
      "add over staged WAP snapshots refuses; bad shapes refuse") {
    val wh = setup("guards")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1L, 10L, "a")).toDF("k", "amt", "tag"))
    t.addConstraint(spark, "amt_pos", "amt > 0")
    // dropping the referenced column refuses by name
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "t").evolve(graft.schema.TableDef.parse(
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"tag","data_type":"string"}],
          |"partitions":[]}""".stripMargin).toOption.get)
    }
    assert(e.getMessage.contains("amt_pos"), e.getMessage)
    // unknown column / unparseable expression refuse at ADD
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "bad", "zzz > 0")
    }
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "bad", "amt >")
    }
    // duplicate name refuses
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "amt_pos",
        "amt > 1")
    }
  }

  test("float/double boundaries: stats proofs widen by ulps — a " +
      "decimal literal the engine evaluates in binary cannot prove a " +
      "boundary file clean; far-from-boundary files still prove") {
    val wh = Files.createTempDirectory("graft-cons-fp").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"f","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"dv","data_type":"double"},
        |{"column_name":"fv","data_type":"float"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    def msgs(x: Throwable): String = Iterator.iterate(x)(_.getCause)
      .takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" ")
    // CHECK (dv < 0.30000000000000001): the literal casts to double
    // 0.3 at evaluation, so a row dv = 0.3d VIOLATES (0.3 < 0.3 is
    // false) — but its footer stats render as exactly "0.3", which an
    // unwidened exact-decimal bound (violation: dv >= 0.300…01) would
    // prove 'clean' and land the bad row
    val t = LakeTable.load(wh, "d", "f")
    t.addConstraint(spark, "dv_lt", "dv < 0.30000000000000001")
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "f").append(
        Seq((1L, 0.3d, 0.0f)).toDF("k", "dv", "fv").coalesce(1))
    }
    assert(msgs(e).contains("dv_lt"), msgs(e))
    assert(LakeTable.load(wh, "d", "f").read(spark).count() == 0L)
    // same miss on the float side: fv = 0.3f is binary ~0.300000012,
    // which violates fv < 0.30000001 — stats "0.3" must not prove it
    val t2 = LakeTable.load(wh, "d", "f")
    t2.addConstraint(spark, "fv_lt", "fv < 0.30000001")
    val e2 = intercept[Exception] {
      LakeTable.load(wh, "d", "f").append(
        Seq((2L, 0.1d, 0.3f)).toDF("k", "dv", "fv").coalesce(1))
    }
    assert(msgs(e2).contains("fv_lt"), msgs(e2))
    // far from the boundary the 2-ulp widening is invisible: a clean
    // file still proves via stats (zero validation scans)
    LakeTable.load(wh, "d", "f").append(
      Seq((3L, 0.1d, 0.1f)).toDF("k", "dv", "fv").coalesce(1))
    val (scanned, total) = Constraints.lastValidationScan.get
    assert(total > 0 && scanned == 0,
      s"far-from-boundary floats must still prove via stats: " +
        s"$scanned/$total")
    assert(LakeTable.load(wh, "d", "f").read(spark).count() == 1L)
  }

  /** Every message along the cause chain. */
  private def causes(x: Throwable): String = Iterator.iterate(x)(_.getCause)
    .takeWhile(_ != null)
    .map(c => Option(c.getMessage).getOrElse("")).mkString(" ")

  /** Spark jobs this thread launches inside `body`, counted by job
    * group (suites share the session, so a global count would race). */
  private def jobsOf(body: => Unit): Int = {
    val group = s"cons-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    // the listener bus is async: a stable count over consecutive polls
    def quiesce(): Int = {
      var stable = 0; var prev = jobs.get
      while (stable < 3) {
        Thread.sleep(30)
        val cur = jobs.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "constraint validation jobs")
    try { body; quiesce() }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** k (required long), items (required array), addr (required
    * struct), note (optional): stats prove k; only footers can prove
    * items and addr. */
  private def setupNested(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-cons-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long","required":true},
        |{"column_name":"items","data_type":"array","required":true,
        |  "array_def":{"column_name":"element","data_type":"long"}},
        |{"column_name":"addr","data_type":"struct","required":true,
        |  "struct_def":[{"column_name":"city","data_type":"string"}]},
        |{"column_name":"note","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    wh
  }

  private def nestedFrame(wh: String, nullable: Boolean,
      rows: org.apache.spark.sql.Row*) = {
    val schema = LakeTable.load(wh, "d", "t").currentSchema
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      if (!nullable) schema
      else org.apache.spark.sql.types.StructType(
        schema.fields.map(_.copy(nullable = true))))
  }

  private def refusal(wh: String, df: org.apache.spark.sql.DataFrame)
      : Exception = {
    val before = LakeTable.load(wh, "d", "t").read(spark).count()
    val e = intercept[Exception](LakeTable.load(wh, "d", "t").append(df))
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == before,
      "the refused batch must land nothing")
    e
  }

  test("required array and struct columns are proven from the parquet " +
      "footer: no validation scan, no Spark job") {
    import org.apache.spark.sql.Row
    val wh = setupNested("footer")
    val jobs = jobsOf {
      LakeTable.load(wh, "d", "t").append(nestedFrame(wh, nullable = false,
        Row(1L, Seq(1L, 2L), Row("x"), null), Row(2L, Seq(), Row(null), "n")))
    }
    assert(Constraints.lastValidationScan == Some((0, 3)),
      "stats prove k, the REQUIRED footer columns prove items and addr")
    assert(jobs == 0, s"a clean local append launched $jobs Spark jobs")
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 2L)
  }

  test("a nullable-declared frame keeps the validation scan: clean rows " +
      "pass through it, a NULL refuses by name with nothing landed") {
    import org.apache.spark.sql.Row
    val wh = setupNested("scan")
    // OPTIONAL footer columns prove nothing: items and addr are scanned
    LakeTable.load(wh, "d", "t").append(nestedFrame(wh, nullable = true,
      Row(1L, Seq(1L), Row("x"), null)))
    assert(Constraints.lastValidationScan == Some((2, 3)))
    val e = refusal(wh, nestedFrame(wh, nullable = true,
      Row(2L, Seq(2L), Row("y"), null), Row(3L, null, Row("z"), null)))
    assert(e.getMessage == "requirement failed: required column 'items' " +
      "(`items` IS NOT NULL) is violated by incoming rows — commit refused",
      e.getMessage)
  }

  test("the writer refuses a NULL in a non-nullable write column with " +
      "the validation's message, before any file is committed") {
    import org.apache.spark.sql.Row
    val wh = Files.createTempDirectory("graft-cons-writer").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long","required":true},
        |{"column_name":"blob","data_type":"binary","required":true},
        |{"column_name":"note","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    // the frame DECLARES blob non-nullable yet holds a NULL, so its file
    // column would be REQUIRED and the writer itself must refuse. (Spark
    // carries such a NULL through its local-relation folding only for
    // types it does not copy, binary among them; most others fail in
    // Spark before any write.)
    val e = refusal(wh, spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, Array[Byte](1), null), Row(2L, null, "n")),
      LakeTable.load(wh, "d", "t").currentSchema))
    assert(e.getMessage == "requirement failed: required column 'blob' " +
      "(`blob` IS NOT NULL) is violated by incoming rows — commit refused",
      e.getMessage)
    assert(e.getStackTrace.exists(
      _.getClassName == "graft.sources.LakeParquetDataWriter"),
      "refused by the writer, not by the validation scan")
    assert(Files.walk(java.nio.file.Paths.get(wh)).iterator().asScala
      .forall(!_.toString.endsWith(".parquet")),
      "the aborted write leaves no data file behind")
  }

  test("an add_files-adopted file whose required columns are OPTIONAL " +
      "in its footer goes through the validation scan") {
    import org.apache.spark.sql.Row
    val wh = setupNested("addfiles")
    // a Spark-written external file: file sources write every column
    // OPTIONAL
    val dir = Files.createTempDirectory("graft-cons-ext").toString
    nestedFrame(wh, nullable = true, Row(1L, Seq(1L), Row("x"), "e"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val ext = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    assert(graft.lake.FileStats.requiredTopLevel(ext).isEmpty)
    LakeTable.load(wh, "d", "t").addFiles(spark, Seq(ext))
    assert(Constraints.lastValidationScan == Some((2, 3)),
      "items and addr are scanned; k is proven by its null count")
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 1L)
  }
}
