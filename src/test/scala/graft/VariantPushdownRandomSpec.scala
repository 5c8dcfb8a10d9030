package graft

import java.nio.file.Files

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Seeded randomized DIFFERENTIAL for variant extraction pushdown +
  * the shredded-read clip: every random query must return identical
  * rows with `spark.sql.variant.pushVariantIntoScan` on and off. The
  * fixture deliberately mixes the hard shapes in ONE table scan —
  * a SHREDDED file (distributed write), an UNSHREDDED file
  * (driver-local publication write: no shredding path), rows with
  * null payloads, scalar payloads, and missing keys, plus live MoR
  * position deletes — so the clip's binary-`value` fallback, the
  * full-variant field, nested-object paths (clip keeps the whole
  * top-level child subtree), array steps (clip bails), and the
  * null-constant path all get adversarial coverage the handwritten
  * spec cannot enumerate. `try_variant_get` drives random
  * path × type pairs (total, never throws); `variant_get` runs on
  * type-correct paths. A vacuity guard pins that the pushed side
  * actually rewrote (no variant_get above the scan) on a checked
  * fraction of the queries.
  */
class VariantPushdownRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val PushKey = "spark.sql.variant.pushVariantIntoScan"

  test("30 random extraction queries match the unpushed truth over " +
      "mixed shredded/unshredded files with MoR deletes (seed 20260816)") {
    val rnd = new Random(20260816L)
    val wh = Files.createTempDirectory("graft-vprand").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"payload","data_type":"variant"}],
        |"partitions":[]}""".stripMargin)
    def jsonFor(i: Int): String = {
      if (i % 17 == 0) return "null"
      if (i % 13 == 0) return s"${i * 3}" // scalar variant
      val parts = scala.collection.mutable.ArrayBuffer(
        s""""i": ${i % 97}""",
        s""""l": ${i.toLong * 1000000007L}""",
        // MIXED-TYPE field: the inferred shredding schema picks ONE
        // representation, so the other half of the rows stores m in
        // the binary `value` — the clip's fallback column is LIVE on
        // $.m reads, not just theoretically kept
        (if (i % 2 == 0) s""""m": ${i % 23}"""
         else s""""m": "mx${i % 23}""""),
        s""""s": "v${i % 31}"""")
      if (i % 3 != 0) parts += s""""d": ${i % 19}.${i % 7}5"""
      if (i % 5 != 0) parts += s""""b": ${i % 2 == 0}"""
      if (i % 7 == 0) parts += s""""o": {"x": ${i % 11}, "y": "n$i"}"""
      if (i % 4 == 0) parts += s""""arr": [${i % 5}, ${i % 9}]"""
      parts.mkString("{", ", ", "}")
    }
    import spark.implicits._
    // file 1: PARTIALLY shredded (task-mode write, shredding width
    // capped at 3): only the first observed keys get typed_value
    // children — the REST live in the top-level binary `value`, so a
    // clipped read of an unshredded key exercises the fallback column
    // for real (per-field type mismatches land in the per-FIELD value
    // inside typed_value, not here — the cap is what makes the
    // top-level fallback load-bearing)
    val widthKey = "spark.sql.variant.shredding.maxSchemaWidth"
    val prevWidth = spark.conf.get(widthKey)
    spark.conf.set(widthKey, "3")
    try LakeTable.load(wh, "d", "t").append(
      spark.createDataset((0 until 2000).map(i => (i.toLong, jsonFor(i))))
        .toDF("k", "j").selectExpr("k", "parse_json(j) AS payload")
        .repartition(1))
    finally spark.conf.set(widthKey, prevWidth)
    // file 2: UNSHREDDED (write shredding off for this write, a
    // driver-resident batch)
    val shredKey = "spark.sql.variant.writeShredding.enabled"
    val prevShred = spark.conf.get(shredKey)
    spark.conf.set(shredKey, "false")
    try LakeTable.load(wh, "d", "t").append(
      (2000 until 2200).map(i => (i.toLong, jsonFor(i))).toDF("k", "j")
        .selectExpr("k", "parse_json(j) AS payload"))
    finally spark.conf.set(shredKey, prevShred)
    // file 3: UNIFORM objects under the same width cap — mixed
    // object/scalar/null batches can make the writer skip shredding
    // altogether (leaving the clip nothing to do), so this file
    // guarantees a shredded group with requested-but-unshredded keys
    spark.conf.set(widthKey, "3")
    try LakeTable.load(wh, "d", "t").append(
      spark.createDataset((2200 until 2500).map(i => (i.toLong,
        s"""{"i": ${i % 97}, "l": ${i.toLong * 31}, "m": ${i % 23}, """ +
          s""""s": "v${i % 31}", "d": ${i % 19}.5, "b": ${i % 2 == 0}}""")))
        .toDF("k", "j").selectExpr("k", "parse_json(j) AS payload")
        .repartition(1))
    finally spark.conf.set(widthKey, prevWidth)
    LakeTable.load(wh, "d", "t").deleteMoR(spark,
      org.apache.spark.sql.functions.expr("k % 10 = 6"))
    spark.conf.set("spark.sql.catalog.gvpr", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gvpr.warehouse", wh)

    val paths = Seq("$.i", "$.l", "$.d", "$.s", "$.b", "$.m", "$.o",
      "$.o.x", "$.o.y", "$.arr", "$.arr[0]", "$.missing", "$")
    val types = Seq("long", "string", "double", "boolean", "variant")
    val safePairs = Seq("$.i" -> "long", "$.l" -> "long",
      "$.s" -> "string", "$.o.x" -> "long", "$.o.y" -> "string")
    def randExpr(n: Int): String =
      if (rnd.nextInt(4) == 0) {
        val (p, t) = safePairs(rnd.nextInt(safePairs.size))
        s"variant_get(payload, '$p', '$t') AS e$n"
      } else {
        val p = paths(rnd.nextInt(paths.size))
        val t = types(rnd.nextInt(types.size))
        // uniform STRING rendering for the compare: a 'variant'-typed
        // extraction casts through its JSON form, scalars through
        // their SQL form — both deterministic across the pushed and
        // truth sides
        s"CAST(try_variant_get(payload, '$p', '$t') AS STRING) AS e$n"
      }
    var rewrote = 0
    val clipped0 = org.apache.spark.sql.execution.datasources.parquet
      .GraftVariantReadSupport.clippedChildren.get
    // queries 0-1 pin the partially-shredded field DETERMINISTICALLY
    // (both representations of m, under the clip) before the random
    // sweep: the value-binary fallback must serve the unshredded half
    (0 until 30).foreach { qi =>
      val exprs =
        if (qi == 0) Seq(
          "CAST(try_variant_get(payload, '$.m', 'long') AS STRING) AS e0",
          "CAST(try_variant_get(payload, '$.m', 'string') AS STRING) AS e1")
        else if (qi == 1)
          // EVERY key at once: whichever subset the width-capped
          // inference shredded, the clipped typed_value stays nonempty
          // AND at least one requested key lives only in the top-level
          // value binary — the fallback column is provably load-bearing
          // (bite-verified: dropping `value` from the clip fails here)
          Seq("i" -> "long", "l" -> "long", "m" -> "string",
            "s" -> "string", "d" -> "double", "b" -> "boolean",
            "o" -> "variant").zipWithIndex.map { case ((k, t), n) =>
            s"CAST(try_variant_get(payload, '$$.$k', '$t') AS STRING) " +
              s"AS e$n"
          }
        else (0 until 1 + rnd.nextInt(3)).map(randExpr)
      val where = rnd.nextInt(3) match {
        case 0 => s"WHERE k % ${2 + rnd.nextInt(7)} = 1"
        case 1 => "WHERE try_variant_get(payload, '$.i', 'long') > " +
          rnd.nextInt(60)
        case _ => ""
      }
      val sql = s"SELECT k, ${exprs.mkString(", ")} FROM gvpr.d.t " +
        s"$where ORDER BY k"
      def run(push: Boolean): Seq[String] = {
        val prev = spark.conf.get(PushKey)
        spark.conf.set(PushKey, push.toString)
        try {
          val df = spark.sql(sql)
          if (push && !df.queryExecution.executedPlan.toString
              .contains("variant_get")) rewrote += 1
          df.collect().map(_.toString).toSeq
        } finally spark.conf.set(PushKey, prev)
      }
      val truth = run(push = false)
      val got = run(push = true)
      assert(got == truth,
        s"query $qi diverged under pushdown:\n$sql\n" +
          s"first diff: ${truth.zip(got).find(p => p._1 != p._2)}")
      assert(truth.nonEmpty, s"query $qi vacuously empty:\n$sql")
    }
    // vacuity guard: the differential must have exercised the REWRITE
    // on a real fraction of the queries (try_variant_get and plain
    // variant_get both rewrite; only exotic shapes keep the expression
    // above the scan)
    assert(rewrote >= 10, s"pushdown rewrote only $rewrote/30 queries")
    // and the CLIP must have engaged too — a fixture whose files all
    // skip shredding would leave the whole sweep clip-vacuous
    assert(org.apache.spark.sql.execution.datasources.parquet
      .GraftVariantReadSupport.clippedChildren.get > clipped0,
      "the shredded clip never engaged during the sweep")
  }
}
