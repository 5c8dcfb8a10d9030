package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Seeded randomized differential for the in-file predicate pushdown
  * (LakeSource.parquetPredicate + the per-reader range rewrite):
  * random predicates — every pushed type (int/long/float/double/
  * decimal/date/string), every shape (cmp/between/in/null-checks/
  * conjunction), adversarial values (NaN, ±0.0, ±Inf, type extremes,
  * empty strings) — over a multi-row-group table seeded with the same
  * adversarial pool, compared against the identical filter evaluated
  * on a LOCAL-relation copy of one unfiltered read (Spark semantics,
  * no source pushdown, and immune to CacheManager plan substitution —
  * see [[truthDF]]). Any row parquet wrongly drops or resurrects
  * fails the k-list compare. A rename-swap pass pins the by-field-id
  * range rewrite on live random predicates, and a live-delete pass
  * (r15) pins the row-index-driven position probes under an ENGAGED
  * predicate.
  */
class PushdownRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 20000

  private def buildTable(tag: String, seed: Long): String = {
    val wh = Files.createTempDirectory(s"graft-pdrnd-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"i","data_type":"int"},
        |{"column_name":"l","data_type":"long"},
        |{"column_name":"f","data_type":"float"},
        |{"column_name":"d","data_type":"double"},
        |{"column_name":"dec","data_type":"decimal(12,2)"},
        |{"column_name":"dt","data_type":"date"},
        |{"column_name":"s","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").updateProperties(Map(
      "write.option.parquet.block.size" -> "4096",
      "write.option.parquet.page.size" -> "1024"))
    val rnd = new scala.util.Random(seed)
    def opt[A](v: => A): Option[A] =
      if (rnd.nextDouble() < 0.05) None else Some(v)
    val fPool = Array(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinValue, Float.MaxValue,
      Float.MinPositiveValue)
    val dPool = Array(Double.NaN, 0.0d, -0.0d, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinValue, Double.MaxValue,
      Double.MinPositiveValue)
    def fv: Float =
      if (rnd.nextDouble() < 0.05) fPool(rnd.nextInt(fPool.length))
      else (rnd.nextInt(20001) - 10000).toFloat / 8f
    def dv: Double =
      if (rnd.nextDouble() < 0.05) dPool(rnd.nextInt(dPool.length))
      else (rnd.nextInt(20001) - 10000) * 1.5
    val iPool = Array(0, -1, 1, Int.MinValue, Int.MaxValue)
    def iv: Int =
      if (rnd.nextDouble() < 0.03) iPool(rnd.nextInt(iPool.length))
      else rnd.nextInt(20001) - 10000
    val lPool = Array(0L, -1L, 1L, Long.MinValue, Long.MaxValue)
    def lv: Long =
      if (rnd.nextDouble() < 0.03) lPool(rnd.nextInt(lPool.length))
      else (rnd.nextInt(20001) - 10000).toLong * 1000L
    val decPool = Array(BigDecimal("0.00"), BigDecimal("9999999999.99"),
      BigDecimal("-9999999999.99"), BigDecimal("0.01"),
      BigDecimal("-0.01"))
    def decv: BigDecimal =
      if (rnd.nextDouble() < 0.03) decPool(rnd.nextInt(decPool.length))
      else BigDecimal(rnd.nextInt(2000001) - 1000000) / 100
    val dayPool = Array(0L, -100000L, 100000L)
    def dtv: java.sql.Date = java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(
        if (rnd.nextDouble() < 0.03) dayPool(rnd.nextInt(dayPool.length))
        else rnd.nextInt(40000).toLong - 5000L))
    val sPool = Array("", " x", "unicode-\u00fc\u00ef",
      "\ud83d\ude00", "z" * 200)
    def sv: String =
      if (rnd.nextDouble() < 0.03) sPool(rnd.nextInt(sPool.length))
      else f"s${rnd.nextInt(20000)}%06d"
    import spark.implicits._
    val rows = (0 until N).map { j =>
      (j.toLong, opt(iv), opt(lv), opt(fv), opt(dv),
        opt(decv), opt(dtv), opt(sv))
    }
    val df = rows.toDF("k", "i", "l", "f", "d", "dec", "dt", "s")
      .selectExpr("k", "i", "l", "f", "d",
        "CAST(dec AS DECIMAL(12,2)) AS dec", "dt", "s")
      .repartition(1).sortWithinPartitions("k")
    LakeTable.load(wh, "d", "t").append(df)
    wh
  }

  private def lakeDF(wh: String): DataFrame =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()

  /** One random predicate Column against a name→Column resolver. */
  private def randomPred(rnd: scala.util.Random,
      col: String => Column): Column = {
    val cols = Array("i", "l", "f", "d", "dec", "dt", "s", "k")
    def value(c: String): Any = c match {
      case "i" => rnd.nextInt(20001) - 10000
      case "l" => (rnd.nextInt(20001) - 10000).toLong * 1000L
      case "f" =>
        if (rnd.nextDouble() < 0.15) {
          val pool = Array[Any](Float.NaN, 0.0f, -0.0f,
            Float.PositiveInfinity)
          pool(rnd.nextInt(4))
        } else (rnd.nextInt(20001) - 10000).toFloat / 8f
      case "d" =>
        if (rnd.nextDouble() < 0.15) {
          val pool = Array[Any](Double.NaN, 0.0d, -0.0d,
            Double.NegativeInfinity)
          pool(rnd.nextInt(4))
        } else (rnd.nextInt(20001) - 10000) * 1.5
      case "dec" => new java.math.BigDecimal(
        BigDecimal(rnd.nextInt(2000001) - 1000000)./(100).toString)
      case "dt" => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(rnd.nextInt(40000).toLong - 5000L))
      case "s" => f"s${rnd.nextInt(20000)}%06d"
      case _ => rnd.nextInt(N).toLong
    }
    def one(): Column = {
      val c = cols(rnd.nextInt(cols.length))
      rnd.nextInt(8) match {
        case 0 => col(c) === lit(value(c))
        case 1 => col(c) < lit(value(c))
        case 2 => col(c) <= lit(value(c))
        case 3 => col(c) > lit(value(c))
        case 4 => col(c) >= lit(value(c))
        case 5 => col(c).isNull
        case 6 => col(c).isNotNull
        case _ =>
          val n = if (rnd.nextBoolean()) 2 + rnd.nextInt(7)
            else 20 + rnd.nextInt(15) // both the OR-of-eq and in() paths
          col(c).isin((0 until n).map(_ => value(c)): _*)
      }
    }
    if (rnd.nextDouble() < 0.25) one() && one() else one()
  }

  /** The unpushed truth as a LOCAL relation: one UNFILTERED source
    * read collected and re-wrapped, so truth filters evaluate pure
    * Spark semantics with no source pushdown — and, critically, no
    * `.cache()`: a cached `lake` plan gets substituted back into the
    * PUSHED side's query too (CacheManager replaces matching
    * subplans), which silently turned the r14 differential into a
    * cache-vs-cache compare. Caught in r15 by a bite test: a
    * deliberately desynced position probe sailed through the old
    * structure and fails against this one.
    */
  private def truthDF(lake: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(lake.collect(): _*), lake.schema)

  private def soak(wh: String, seed: Long, preds: Int): Unit = {
    val lake = lakeDF(wh)
    val truth = truthDF(lake)
    (0 until preds).foreach { pi =>
      val predLake = randomPred(
        new scala.util.Random(seed + pi), lake.col)
      val predTruth = randomPred(
        new scala.util.Random(seed + pi), truth.col)
      val got = lake.filter(predLake).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = truth.filter(predTruth).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want,
        s"seed $seed predicate #$pi: pushed scan returned " +
          s"${got.length} rows, unpushed ${want.length} " +
          s"(pred: $predLake)")
    }
  }

  test("random predicates match an unpushed cached read (seeds 1-3)") {
    Seq(101L, 202L, 303L).foreach { seed =>
      val wh = buildTable(s"s$seed", seed)
      soak(wh, seed, preds = 30)
    }
  }

  test("random predicates over LIVE DELETE STATE stay exact (r15: " +
      "pushdown engages on position-consuming scans via row indexes)") {
    // position deletes + a deletion-vector-free eq delete over the
    // same adversarial table: every random predicate now runs with
    // the parquet predicate ENGAGED while position probes read the
    // reader-generated file-absolute row index — a desync anywhere
    // (skipped group, filtered record, split) resurrects or drops a
    // deleted row and fails the k-list compare
    val wh = buildTable("del", 808L)
    import spark.implicits._
    val t = graft.lake.LakeTable.load(wh, "d", "t")
    t.deleteMoR(spark, col("k") % 97L === 13L)
    graft.lake.LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      (0 until 50).map(i => (i * 379L + 7L)).toDF("k"))
    // k-RANGE sweeps first: k is the SORTED column, so `k >= cut`
    // skips every leading row group — the one shape that desyncs a
    // counter-based position under an engaged predicate (random
    // predicates mostly hit unsorted columns, whose full-range stats
    // never skip; this sweep is what catches the regression class)
    def rangeSweep(): Unit = {
      val lake = lakeDF(wh)
      val truth = truthDF(lake)
      (1 to 10).foreach { c =>
        val cut = c * 1900L
        def r(df: DataFrame) = df
          .filter(col("k") >= cut && col("k") < cut + 500L)
          .select("k").collect().map(_.getLong(0)).sorted.toSeq
        assert(r(lake) == r(truth),
          s"k-range [$cut, ${cut + 500}) diverged under live deletes")
      }
    }
    rangeSweep()
    soak(wh, 909L, preds = 25)
  }

  test("random predicates survive a rename swap (by-id range rewrite)") {
    val wh = buildTable("swap", 505L)
    val t = LakeTable.load(wh, "d", "t")
    // i ↔ l swap: logical names now point at each other's physical
    // columns in the already-written file
    t.renameColumn("i", "pdrnd_tmp")
    LakeTable.load(wh, "d", "t").renameColumn("l", "i")
    LakeTable.load(wh, "d", "t").renameColumn("pdrnd_tmp", "l")
    soak(wh, 606L, preds = 25)
  }
}
