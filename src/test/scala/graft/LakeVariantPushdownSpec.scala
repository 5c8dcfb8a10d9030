package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Variant EXTRACTION pushdown through the DSv2 connector (r16):
  * `variant_get(v, path, type)` over a lake variant column rewrites —
  * via Spark's `SupportsPushDownVariantExtractions` — into struct-field
  * reads served by the scan, so the parquet request clips the SHREDDED
  * variant group to the referenced typed_value children and the
  * untouched shredded fields' column chunks are never read. The
  * Catalyst contract pinned here (derived from the 4.1.2 rule, which
  * has no documentation): the connector must rewrite its OWN
  * readSchema — `pruneColumns` is never called on the variant path;
  * the rule derives the new relation output positionally from
  * `scan.readSchema()` and aliases it under the pre-rewrite exprIds,
  * so a scan that keeps reporting VariantType breaks analysis
  * downstream (the r16 first-attempt failure mode:
  * `Invalid call to exprId on unresolved object`).
  *
  * Upstream cost (Spark's own parquet DSv2 behaves identically): the
  * variant path bypasses `pruneColumns` entirely, so in a PLAIN session
  * NON-variant columns the query never references stay in the scan
  * when an extraction is accepted. r17 closes that in
  * extensions-enabled sessions via VariantScanPrep's referenced-column
  * channel, and closes the aggregate-shape full-variant push the same
  * way — both pinned below in ext-session tests, while the plain-
  * session tests keep pinning the upstream default.
  */
class LakeVariantPushdownSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** k + variant payload with one small and one fat field; the lake
    * writer shreds it (the session's write-shredding defaults), so the
    * clip has children to skip.
    */
  // every table here keeps its scans distributed (driver decode off):
  // the spec checks what the variant push plans into the scan
  private def mk(tag: String, rows: Int = 20000): (String, String) = {
    val wh = Files.createTempDirectory(s"graft-vpush-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"payload","data_type":"variant"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // fat field = concatenated digests: incompressible, so byte-level
    // IO reflects the skipped column chunk instead of snappy's ratio
    val df = SparkTestSession.spark.range(rows).selectExpr("id AS k",
      """parse_json(concat('{"small": ', id, ', "fat": "',
        |sha2(concat('a', id), 256), sha2(concat('b', id), 256),
        |sha2(concat('c', id), 256), '"}')) AS payload"""
        .stripMargin.replace("\n", ""))
    LakeTable.load(wh, "d", "t").append(df)
    val cat = s"gvp$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (wh, cat)
  }

  private def withPush[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.variant.pushVariantIntoScan"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Process-wide read() bytes (VFS layer, page-cache hits included):
    * the parquet data path reads through nio channels that Hadoop's
    * FileSystem.Statistics never see, and the engine's DSv2 scan has
    * no Spark inputMetrics wiring, so /proc/self/io rchar is the one
    * observer that counts the column chunks actually fetched.
    */
  private def rchar(): Long =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/io"))).linesIterator
      .find(_.startsWith("rchar:")).get.split(":")(1).trim.toLong

  test("extraction rewrites into the scan and matches the unpushed " +
      "truth — projections and filters") {
    val (_, cat) = mk("basic", rows = 5000)
    val sql =
      s"""SELECT k, variant_get(payload, '$$.small', 'long') AS sm
         |FROM $cat.d.t
         |WHERE variant_get(payload, '$$.small', 'long') % 100 = 7
         |ORDER BY k""".stripMargin
    val truth = withPush(on = false)(spark.sql(sql).collect().toSeq)
    val (pushedPlan, got) = withPush(on = true) {
      val df = spark.sql(sql)
      (df.queryExecution.executedPlan.toString, df.collect().toSeq)
    }
    assert(truth.nonEmpty)
    assert(got == truth)
    // the executed plan carries NO variant_get — every extraction was
    // rewritten to a struct read the scan serves
    assert(!pushedPlan.contains("variant_get"), pushedPlan)
    val unpushedPlan = withPush(on = false)(
      spark.sql(sql).queryExecution.executedPlan.toString)
    assert(unpushedPlan.contains("variant_get"), unpushedPlan)
  }

  test("shredded clip engages: extracting the small field skips the " +
      "fat typed_value chunk (measured ~21x fewer bytes)") {
    val (_, cat) = mk("clip")
    // NON-aggregate shape first. In this PLAIN session (no extensions,
    // no VariantScanPrep) an Aggregate leaves only the bare attribute
    // visible and the FULL variant ('$') is pushed, which the clip
    // correctly refuses to touch — pinned at the end; the ext-session
    // aggregate-clip behavior is pinned in its own r17 test
    val sql = s"SELECT variant_get(payload, '$$.small', 'long') AS sm " +
      s"FROM $cat.d.t WHERE k % 7 = 0"
    def bytesOf(push: Boolean): Long = withPush(push) {
      spark.sql(sql).collect() // warm (classloading, footer cache)
      val b0 = rchar()
      spark.sql(sql).collect()
      rchar() - b0
    }
    val unpushed = bytesOf(push = false)
    val clipped0 = org.apache.spark.sql.execution.datasources.parquet
      .GraftVariantReadSupport.clippedChildren.get
    val pushed = bytesOf(push = true)
    assert(org.apache.spark.sql.execution.datasources.parquet
      .GraftVariantReadSupport.clippedChildren.get > clipped0,
      "clip never dropped a shredded child")
    // fat is ~192 incompressible bytes/row vs one int64 chunk:
    // measured ~21x; require 3x to stay robust against JVM read noise
    assert(pushed * 3 < unpushed,
      s"pushed=$pushed unpushed=$unpushed — shredded clip not engaging")
    // correctness under the clip
    val truth = withPush(on = false)(spark.sql(sql).collect().toSeq)
    val got = withPush(on = true)(spark.sql(sql).collect().toSeq)
    assert(got.toSet == truth.toSet && truth.size == 20000 / 7 + 1)
    // the aggregate shape requests the full variant — the clip must
    // pass it through untouched and stay correct
    val aggSql = s"SELECT sum(variant_get(payload, '$$.small', " +
      s"'long')) AS t FROM $cat.d.t"
    val aggTruth = withPush(on = false)(
      spark.sql(aggSql).collect()(0).getLong(0))
    assert(withPush(on = true)(
      spark.sql(aggSql).collect()(0).getLong(0)) == aggTruth)
    assert(aggTruth == (0L until 20000L).sum)
  }

  test("merge-on-read deletes apply on variant-pushed scans (columnar " +
      "selection over the extraction struct)") {
    val (wh, cat) = mk("mor", rows = 5000)
    LakeTable.load(wh, "d", "t").deleteMoR(spark,
      org.apache.spark.sql.functions.expr("k % 10 = 3"))
    val sql =
      s"""SELECT count(*) AS n,
         |  sum(variant_get(payload, '$$.small', 'long')) AS sm
         |FROM $cat.d.t WHERE k < 1000""".stripMargin
    val truth = withPush(on = false)(spark.sql(sql).collect().toSeq)
    val got = withPush(on = true)(spark.sql(sql).collect().toSeq)
    assert(got == truth)
    assert(truth(0).getLong(0) == 900)
  }

  test("a file that PREDATES the variant column serves null " +
      "extractions (constant path, no request)") {
    val wh = Files.createTempDirectory("graft-vpush-evolve").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    import SparkTestSession.spark.implicits._
    LakeTable.load(wh, "d", "t").append(
      Seq(1L, 2L).toDF("k"))
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"payload","data_type":"variant"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(
      Seq((3L, """{"small": 30}"""), (4L, """{"small": 40}"""))
        .toDF("k", "json")
        .selectExpr("k", "parse_json(json) AS payload"))
    spark.conf.set("spark.sql.catalog.gvpev", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gvpev.warehouse", wh)
    val sql = "SELECT k, variant_get(payload, '$.small', 'long') AS sm " +
      "FROM gvpev.d.t ORDER BY k"
    val truth = withPush(on = false)(spark.sql(sql).collect().toSeq)
    val got = withPush(on = true)(spark.sql(sql).collect().toSeq)
    assert(got == truth)
    assert(got.map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))) ==
      Seq((1L, -1L), (2L, -1L), (3L, 30L), (4L, 40L)))
  }

  test("raw variant + extraction mix: the full-variant struct field " +
      "reassembles the original value") {
    val (_, cat) = mk("raw", rows = 100)
    val sql =
      s"""SELECT to_json(payload) AS j,
         |  variant_get(payload, '$$.small', 'long') AS sm
         |FROM $cat.d.t WHERE k < 5 ORDER BY sm""".stripMargin
    val truth = withPush(on = false)(spark.sql(sql).collect().toSeq)
    val got = withPush(on = true)(spark.sql(sql).collect().toSeq)
    assert(got == truth)
    assert(got.size == 5 && got(0).getString(0).contains("\"small\":0"))
  }

  /** A session with GraftExtensions installed: the r17 VariantScanPrep
    * rule (aggregate-shape hoist + referenced-column channel) is a
    * pre-CBO extension rule, invisible to the plain shared session the
    * other tests pin (whose aggregate-shape full-variant push stays
    * the documented NON-extensions behavior).
    */
  private def withExtSession[T](body: org.apache.spark.sql.SparkSession => T): T = {
    val prior = spark
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      body(s2)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(prior)
      org.apache.spark.sql.SparkSession.setActiveSession(prior)
    }
  }

  private def withPushIn[T](s: org.apache.spark.sql.SparkSession,
      on: Boolean)(body: => T): T = {
    val key = "spark.sql.variant.pushVariantIntoScan"
    val prev = s.conf.get(key)
    s.conf.set(key, on.toString)
    try body finally s.conf.set(key, prev)
  }

  test("aggregate shapes clip too (r17): the pre-CBO hoist gives the " +
      "pushdown rule a Project to rewrite, and the clip engages") {
    val (wh, cat) = mk("agghoist")
    withExtSession { s2 =>
      s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val sql =
        s"""SELECT variant_get(payload, '$$.small', 'long') % 10 AS g,
           |  count(*) AS n,
           |  sum(variant_get(payload, '$$.small', 'long')) AS sm
           |FROM $cat.d.t GROUP BY 1 ORDER BY g""".stripMargin
      def bytesOf(push: Boolean): Long = withPushIn(s2, push) {
        s2.sql(sql).collect()
        val b0 = rchar()
        s2.sql(sql).collect()
        rchar() - b0
      }
      val truth = withPushIn(s2, on = false)(s2.sql(sql).collect().toSeq)
      val unpushedBytes = bytesOf(push = false)
      val clipped0 = org.apache.spark.sql.execution.datasources.parquet
        .GraftVariantReadSupport.clippedChildren.get
      val (plan, got) = withPushIn(s2, on = true) {
        val df = s2.sql(sql)
        (df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
      assert(got == truth && truth.size == 10)
      // the hoist + rewrite leave NO variant_get in the executed plan
      assert(!plan.contains("variant_get"), plan)
      // and the shredded clip actually dropped the fat child
      assert(org.apache.spark.sql.execution.datasources.parquet
        .GraftVariantReadSupport.clippedChildren.get > clipped0,
        "clip never engaged on the aggregate shape")
      val pushedBytes = bytesOf(push = true)
      assert(pushedBytes * 3 < unpushedBytes,
        s"pushed=$pushedBytes unpushed=$unpushedBytes — fat chunk read")
    }
  }

  test("aggregate hoist bails on a bare variant use (conservative: " +
      "results stay correct through the full-variant push)") {
    val (wh, cat) = mk("aggbail", rows = 500)
    withExtSession { s2 =>
      s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // min(cast(payload as string)) consumes the RAW variant beside
      // the extraction — hoisting only the extraction would still read
      // the full variant, so the rule must leave the plan alone
      val sql =
        s"""SELECT sum(variant_get(payload, '$$.small', 'long')) AS sm,
           |  min(length(cast(payload AS STRING))) AS raw_len
           |FROM $cat.d.t""".stripMargin
      val truth = withPushIn(s2, on = false)(s2.sql(sql).collect().toSeq)
      val got = withPushIn(s2, on = true)(s2.sql(sql).collect().toSeq)
      assert(got == truth)
      assert(truth(0).getLong(0) == (0L until 500L).sum)
    }
  }

  test("variant-accepted scans drop unreferenced NON-variant columns " +
      "(r17): the referenced-column channel restores the pruning the " +
      "bypassed pruneColumns never performs") {
    // k + fat junk string + variant payload: the query never touches
    // junk, and before r17 an accepted extraction kept it in the scan
    val wh = Files.createTempDirectory("graft-vpush-prune").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"junk","data_type":"string"},
        |{"column_name":"payload","data_type":"variant"}],
        |"partitions":[],
        |"properties":{"read.local-scan.max-bytes":"0"}}""".stripMargin)
    val df = SparkTestSession.spark.range(20000).selectExpr("id AS k",
      "concat(sha2(concat('j', id), 256), sha2(concat('k', id), 256))" +
        " AS junk",
      """parse_json(concat('{"small": ', id, '}')) AS payload""")
    LakeTable.load(wh, "d", "t").append(df)
    withExtSession { s2 =>
      s2.conf.set("spark.sql.catalog.gvprune", "graft.sources.LakeCatalog")
      s2.conf.set("spark.sql.catalog.gvprune.warehouse", wh)
      val sql =
        s"""SELECT k, variant_get(payload, '$$.small', 'long') AS sm
           |FROM gvprune.d.t WHERE k % 100 = 7 ORDER BY k""".stripMargin
      val truth = withPushIn(s2, on = false)(s2.sql(sql).collect().toSeq)
      val (readSchemas, got) = withPushIn(s2, on = true) {
        val q = s2.sql(sql)
        val out = q.collect().toSeq
        val schemas = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.scan.readSchema()
        }
        (schemas, out)
      }
      assert(got == truth && truth.size == 200)
      assert(readSchemas.size == 1)
      val names = readSchemas.head.fieldNames.toSeq
      // junk is gone; payload rides as the rewritten extraction struct
      // (a plain VariantType here would mean the push was refused and
      // the normal pruneColumns path answered instead)
      assert(names == Seq("k", "payload"), names)
      assert(readSchemas.head("payload").dataType
        .isInstanceOf[org.apache.spark.sql.types.StructType],
        readSchemas.head("payload").dataType)
    }
  }

  test("metadata-column references bail the trim (review-found r17): " +
      "_graft_file lands in the relation output after AddMetadataColumns " +
      "but the data readSchema cannot carry it — recording it would " +
      "misalign the positional zip") {
    val (wh, cat) = mk("metabail", rows = 500)
    withExtSession { s2 =>
      s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val sql =
        s"""SELECT _graft_file, k,
           |  variant_get(payload, '$$.small', 'long') AS sm
           |FROM $cat.d.t WHERE k < 50 ORDER BY k""".stripMargin
      val truth = withPushIn(s2, on = false)(s2.sql(sql).collect().toSeq)
      val got = withPushIn(s2, on = true)(s2.sql(sql).collect().toSeq)
      assert(got == truth && truth.size == 50)
    }
  }

  test("a metadata column in the relation output refuses the variant " +
      "push for bare and filter-only variant uses too") {
    val (wh, cat) = mk("metaout", rows = 500)
    withExtSession { s2 =>
      s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // a bare variant (the whole '$' is pushed) and an extraction that
      // only the Filter holds, each beside a metadata column
      val cases = Seq(
        s"SELECT _graft_file, payload FROM $cat.d.t" -> 500,
        s"""SELECT _graft_pos, k FROM $cat.d.t
           |WHERE variant_get(payload, '$$.small', 'long') > 480"""
          .stripMargin -> 19)
      for ((sql, n) <- cases) {
        def run() = s2.sql(sql).collect().map(_.toString).sorted.toSeq
        val truth = withPushIn(s2, on = false)(run())
        val got = withPushIn(s2, on = true)(run())
        assert(got == truth && truth.size == n, sql)
      }
    }
  }

  test("q_star_join's fixture memo survives interleaved sfDirs " +
      "(review-found r17: a fixed warehouse path let a second dir's " +
      "build destroy the first memo entry's data)") {
    val q = SparkEntry.queries("q_star_join")
    val a1 = q(spark, "/root/testdata/sf0.001").collect().toSeq
    val b = q(spark, "/root/testdata/sf0.01").collect().toSeq
    val a2 = q(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(a1.nonEmpty && b.nonEmpty)
    assert(a2 == a1, "the sf0.01 build corrupted the sf0.001 memo entry")
    assert(b != a1)
  }
}
