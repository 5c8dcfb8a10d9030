package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{Engine, LakeTable, LakeTxn}

/** Lake read paths under the DuckDB oracle: the DSv2 connector +
  * catalog SQL (record reader, pushdowns) and time travel both produce
  * results hash-checked against plain SQL over the same source rows.
  */
object LakeReadQueries extends QueryModule {
  import graft.lake.{Engine, LakeTable}

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    lakeReadQueries1 ++ lakeReadQueries2

  private def lakeReadQueries1
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_scan_sql" -> QueryModule.micro(4)((s, dir) => {
      // parquet → lake table → catalog SQL with a filter: exercises the
      // connector's record reader, column pruning, and stats skipping
      // under the oracle gate
      val wh = LakeQueries.freshWarehouse("scansql")
      Engine.processTableDefJson(wh,
        """{"database_name":"rq","table_name":"cust","columns":[
          |{"column_name":"c_custkey","data_type":"long"},
          |{"column_name":"c_name","data_type":"string"},
          |{"column_name":"c_mktsegment","data_type":"string"},
          |{"column_name":"c_acctbal","data_type":"double"}],
          |"partitions":[],
          |"properties":{"write.sort-order":"c_custkey"}}""".stripMargin)
      LakeTable.load(wh, "rq", "cust").append(
        Tables(s, dir, "customer").select(
          "c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
      s.conf.set("spark.sql.catalog.graftq", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftq.warehouse", wh)
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal AS acctbal
          |FROM graftq.rq.cust
          |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0.0
          |ORDER BY c_custkey""".stripMargin)
    }),

    "lake_variant" -> QueryModule.micro(4)((s, dir) => {
      // semi-structured VARIANT columns (r15): orders rows ingest as
      // schema-on-read JSON (parse_json → Spark 4 VariantType, shredded
      // by the parquet writer), a MoR delete lands on the
      // variant-bearing file (columnar selection map across the
      // variant children), and the read side extracts typed fields
      // with variant_get under a pushed key filter — the whole variant
      // lifecycle under the oracle gate. Money sums in exact decimals,
      // output double (driver compare contract).
      val wh = LakeQueries.freshWarehouse("variant")
      Engine.processTableDefJson(wh,
        """{"database_name":"vq","table_name":"ordersv","columns":[
          |{"column_name":"o_key","data_type":"long"},
          |{"column_name":"payload","data_type":"variant"}],
          |"partitions":[],
          |"properties":{"write.sort-order":"o_key"}}""".stripMargin)
      LakeTable.load(wh, "vq", "ordersv").append(
        Tables(s, dir, "orders").selectExpr(
          "o_orderkey AS o_key",
          "parse_json(to_json(struct(o_orderstatus, o_totalprice)))" +
            " AS payload"))
      LakeTable.load(wh, "vq", "ordersv").deleteMoR(s,
        org.apache.spark.sql.functions.expr("o_key % 10 = 3"))
      s.conf.set("spark.sql.catalog.graftv", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftv.warehouse", wh)
      s.sql(
        """SELECT variant_get(payload, '$.o_orderstatus', 'string')
          |    AS status,
          |  count(*) AS n,
          |  CAST(sum(CAST(variant_get(payload, '$.o_totalprice',
          |    'double') AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM graftv.vq.ordersv
          |WHERE o_key <= 5000
          |GROUP BY 1
          |ORDER BY status""".stripMargin)
    }),

    "lake_variant_prune" -> QueryModule.micro(4)((s, dir) => {
      // variant EXTRACTION pushdown + SHREDDED-READ clip (r16): a
      // non-aggregate variant_get projection rewrites into a struct
      // read the scan serves (SupportsPushDownVariantExtractions), and
      // GraftVariantReadSupport clips the shredded group to the one
      // touched typed_value child — the fat o_comment and o_totalprice
      // children are never read. Self-audit: the executed plan carries
      // NO variant_get (the rewrite fired) and the clip counter
      // advanced (children were actually dropped); the oracle
      // recomputes the slice from the raw fixture.
      val wh = LakeQueries.freshWarehouse("variantprune")
      Engine.processTableDefJson(wh,
        """{"database_name":"vp","table_name":"ordersv","columns":[
          |{"column_name":"o_key","data_type":"long"},
          |{"column_name":"payload","data_type":"variant"}],
          |"partitions":[]}""".stripMargin)
      // the lake writer SHREDS the variant (the session's write
      // shredding + schema inference defaults)
      LakeTable.load(wh, "vp", "ordersv").append(
        Tables(s, dir, "orders").selectExpr(
          "o_orderkey AS o_key",
          "parse_json(to_json(struct(o_orderstatus, o_totalprice, " +
            "CAST(o_orderdate AS STRING) AS o_orderdate))) AS payload"))
      s.conf.set("spark.sql.catalog.graftvp", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftvp.warehouse", wh)
      val clipped0 = org.apache.spark.sql.execution.datasources.parquet
        .GraftVariantReadSupport.clippedChildren.get
      val q = s.sql(
        """SELECT o_key,
          |  variant_get(payload, '$.o_orderstatus', 'string') AS status
          |FROM graftvp.vp.ordersv
          |WHERE o_key % 10 = 3
          |ORDER BY o_key""".stripMargin)
      val out = q.collect()
      require(!q.queryExecution.executedPlan.toString
        .contains("variant_get"),
        "variant extraction must push into the scan")
      require(org.apache.spark.sql.execution.datasources.parquet
        .GraftVariantReadSupport.clippedChildren.get > clipped0,
        "the shredded clip must drop untouched typed_value children")
      import s.implicits._
      out.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("o_key", "status").orderBy("o_key")
    }),

    "lake_join_skew" -> QueryModule.micro(8)((s, dir) => {
      // skewed FACT-FACT lake join (r15): ~80% of lineitem rows remap
      // onto one hot order key, then sort-merge-join (merge hint — no
      // session-conf mutation) against the orders lake table through
      // the DSv2 connector. At test SF the hot partition is below
      // AQE's default 256 MB skew threshold; at 100 TB the identical
      // shape is what OptimizeSkewedJoin splits at runtime —
      // AqeSkewJoinSpec pins the mechanism firing through this
      // connector with test-scaled thresholds. Money sums in exact
      // decimals, output double.
      val wh = LakeQueries.freshWarehouse("skewjoin")
      Engine.processTableDefJson(wh,
        """{"database_name":"kq","table_name":"lfact","columns":[
          |{"column_name":"sk","data_type":"long"},
          |{"column_name":"qty","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"kq","table_name":"ofact","columns":[
          |{"column_name":"sk","data_type":"long"},
          |{"column_name":"tp","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val mn = Tables(s, dir, "orders")
        .agg(org.apache.spark.sql.functions.min("o_orderkey"))
        .head.getLong(0)
      LakeTable.load(wh, "kq", "lfact").append(
        Tables(s, dir, "lineitem").selectExpr(
          s"CASE WHEN l_orderkey % 10 < 8 THEN ${mn}L ELSE l_orderkey " +
            "END AS sk",
          "l_quantity AS qty"))
      LakeTable.load(wh, "kq", "ofact").append(
        Tables(s, dir, "orders")
          .where(s"o_orderkey = ${mn}L OR o_orderkey % 10 >= 8")
          .selectExpr("o_orderkey AS sk", "o_totalprice AS tp"))
      s.conf.set("spark.sql.catalog.graftk", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftk.warehouse", wh)
      s.sql(
        """SELECT /*+ MERGE(o) */ count(*) AS n,
          |  CAST(sum(CAST(l.qty AS DECIMAL(18,4))) AS DOUBLE) AS qty,
          |  CAST(sum(CAST(o.tp AS DECIMAL(18,4))) AS DOUBLE) AS tp
          |FROM graftk.kq.lfact l JOIN graftk.kq.ofact o USING (sk)
          |ORDER BY n""".stripMargin)
    }),

    "q_star_join" -> ((s, dir) => {
      // Flagship STAR JOIN (TPC-H Q5 shape) over LAKE tables through
      // the DSv2 connector: region→nation→customer dims broadcast off
      // the connector's reported size stats, orders carries the
      // selective date window, lineitem is the fact side. At scale the
      // fact scan is additionally pruned by the join's RUNTIME filters
      // (file min/max vs the broadcast keys — PlanAuditSpec pins the
      // mechanism on a clustered fixture, plus broadcasts and zero
      // cartesians on this exact plan). Revenue math in exact
      // decimals, output double (driver compare contract). The
      // five-table fixture memoizes per (JVM, sfDir) — it is a
      // deterministic function of the input tables, and the bench's
      // forced retime of FixtureBuildKeys relies on the second run
      // hitting the memo to record the QUERY-ONLY wall (r17: the sf1
      // lane was timing a sorted-bucketed 6M-row lake write inside
      // this key's window and comparing it against DuckDB's bare
      // SELECT).
      // a UNIQUE directory per (JVM, sfDir) — freshWarehouse's fixed
      // tag path would let a second sfDir's build (or a concurrent
      // process) destroy the data under an existing memo entry
      // (review-found r17)
      val wh = starFixture.computeIfAbsent(dir, _ => {
        val fwh = java.nio.file.Files
          .createTempDirectory("graft-lake-star").toString
        buildStarFixture(s, dir, fwh)
        fwh
      })
      // catalog instances CACHE by name per session, so the name must
      // be a function of the warehouse — reusing "gstar" across
      // sfDir-keyed memo entries would pin the first dir's warehouse
      // forever (review-found r17)
      val cat = s"gstar_${java.lang.Integer.toHexString(wh.hashCode)}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.LakeCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(
        s"""SELECT n_name, count(*) AS order_lines,
           |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
           |    * (1 - CAST(l_discount AS DECIMAL(18,4)))
           |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           |FROM $cat.sq.lineitem
           |JOIN $cat.sq.orders   ON l_orderkey = o_orderkey
           |JOIN $cat.sq.customer ON o_custkey = c_custkey
           |JOIN $cat.sq.nation   ON c_nationkey = n_nationkey
           |JOIN $cat.sq.region   ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1997-01-01'
           |GROUP BY n_name
           |ORDER BY n_name""".stripMargin)
    }),
  )

  /** q_star_join's memoized fixture warehouses, keyed by sfDir. */
  private val starFixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildStarFixture(s: SparkSession, dir: String,
      wh: String): Unit = {
      Engine.processTableDefJson(wh,
        """{"database_name":"sq","table_name":"lineitem","columns":[
          |{"column_name":"l_orderkey","data_type":"long"},
          |{"column_name":"l_extendedprice","data_type":"double"},
          |{"column_name":"l_discount","data_type":"double"}],
          |"partitions":[],
          |"properties":{"write.sort-order":"l_orderkey",
          |  "write.sort-buckets":"8"}}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"sq","table_name":"orders","columns":[
          |{"column_name":"o_orderkey","data_type":"long"},
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_orderdate","data_type":"timestamp"}],
          |"partitions":[],
          |"properties":{"write.sort-order":"o_orderkey"}}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"sq","table_name":"customer","columns":[
          |{"column_name":"c_custkey","data_type":"long"},
          |{"column_name":"c_nationkey","data_type":"long"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"sq","table_name":"nation","columns":[
          |{"column_name":"n_nationkey","data_type":"long"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"long"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"sq","table_name":"region","columns":[
          |{"column_name":"r_regionkey","data_type":"long"},
          |{"column_name":"r_name","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      LakeTable.load(wh, "sq", "lineitem").append(
        Tables(s, dir, "lineitem").select(
          col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_extendedprice"), col("l_discount")))
      LakeTable.load(wh, "sq", "orders").append(
        Tables(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate")))
      LakeTable.load(wh, "sq", "customer").append(
        Tables(s, dir, "customer").select(
          col("c_custkey").cast("long").as("c_custkey"),
          col("c_nationkey").cast("long").as("c_nationkey")))
      LakeTable.load(wh, "sq", "nation").append(
        Tables(s, dir, "nation").select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey")))
      LakeTable.load(wh, "sq", "region").append(
        Tables(s, dir, "region").select(
          col("r_regionkey").cast("long").as("r_regionkey"),
          col("r_name")))
  }

  private def lakeReadQueries2
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_null_skip" -> QueryModule.micro(4)((s, dir) => {
      // null-count + schema-absence file skipping under the oracle
      // gate: v1 files predate the n_regionkey column (they read as
      // all-NULL for it), v2 files carry it fully populated. A pushed
      // IS NOT NULL must plan ONLY the v2 files (schema-absence
      // prune), IS NULL only the v1 files (zero-null counts prune the
      // rest), and the two plans must partition the live set exactly —
      // self-audited before the oracle compare. At 100 TB this is the
      // difference between scanning the whole evolved history and
      // touching just the files that can match.
      import graft.lake.RangeFilter
      val wh = LakeQueries.freshWarehouse("nullskip")
      Engine.processTableDefJson(wh,
        """{"database_name":"nk","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      LakeTable.load(wh, "nk", "nat").append(
        Tables(s, dir, "nation").select("n_nationkey", "n_name"))
      Engine.processTableDefJson(wh,
        """{"database_name":"nk","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val t = LakeTable.load(wh, "nk", "nat")
      t.append(Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey"))
      val live = t.plannedFiles().size
      val notNull = t.plannedFiles(statsFilters =
        Seq(RangeFilter("n_regionkey", notNull = true))).size
      val isNull = t.plannedFiles(statsFilters =
        Seq(RangeFilter("n_regionkey", isNull = true))).size
      require(notNull < live && isNull < live && notNull + isNull == live,
        s"nullness skipping must partition the live set: " +
          s"live=$live notNull=$notNull isNull=$isNull")
      s.conf.set("spark.sql.catalog.gnull", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gnull.warehouse", wh)
      s.sql(
        """SELECT n_nationkey, n_name, n_regionkey
          |FROM gnull.nk.nat
          |WHERE n_regionkey IS NOT NULL
          |ORDER BY n_nationkey""".stripMargin)
    }),

    "lake_mat_view" -> QueryModule.micro(4)((s, dir) => {
      // materialized view lifecycle: create over half the source,
      // append the rest (the MV must serve the STALE materialized
      // state — self-audited), refresh, read through the view name.
      // The oracle is the defining aggregate over the full source.
      val wh = LakeQueries.freshWarehouse("matview")
      Engine.processTableDefJson(wh,
        """{"database_name":"mv","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_totalprice","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select("o_custkey", "o_totalprice")
      LakeTable.load(wh, "mv", "ord")
        .append(orders.filter(col("o_custkey") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvq", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvq.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      // the SQL DDL surface (parser extension): CREATE / REFRESH
      // MATERIALIZED VIEW route through the same MatViewDdl the CALL
      // procedures use
      vsql("CREATE MATERIALIZED VIEW gmvq.mv.cust_rollup AS " +
        "SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS sum_price FROM gmvq.mv.ord GROUP BY o_custkey").collect()
      val staleRows = vsql("SELECT * FROM gmvq.mv.cust_rollup").count()
      LakeTable.load(wh, "mv", "ord")
        .append(orders.filter(col("o_custkey") % 2 =!= 0))
      require(vsql("SELECT * FROM gmvq.mv.cust_rollup").count() ==
        staleRows,
        "an unrefreshed MV must serve the materialized state, not the " +
          "live source")
      vsql("REFRESH MATERIALIZED VIEW gmvq.mv.cust_rollup").collect()
      vsql("SELECT o_custkey, n_orders, sum_price " +
        "FROM gmvq.mv.cust_rollup ORDER BY o_custkey")
    }),

    "lake_mat_view_incr" -> QueryModule.micro(4)((s, dir) => {
      // INCREMENTAL materialized-view refresh: the defining aggregate
      // is detected as self-maintainable at create (decimal sum +
      // count + min/max over one table), so the second refresh pulls
      // ONLY the appended delta and blind-upserts the touched groups —
      // O(delta) source reads at any scale. The oracle recomputes the
      // aggregate from scratch; an incremental merge that drifted by
      // one row or one ulp hash-mismatches.
      val wh = LakeQueries.freshWarehouse("matviewincr")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvi","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvi", "ord")
        .append(orders.filter(col("o_custkey") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvi2", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvi2.warehouse", wh)
      s.sql("CALL gmvi2.system.create_mat_view('mvi', 'roll', " +
        "'SELECT o_custkey, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvi2.mvi.ord GROUP BY o_custkey')").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mvi", "roll")).get
        .properties.get("graft.mat-view.incr").contains("true"),
        "the aggregate shape must be recorded as incrementally " +
          "maintainable")
      LakeTable.load(wh, "mvi", "ord")
        .append(orders.filter(col("o_custkey") % 2 =!= 0))
      val res = s.sql("CALL gmvi2.system.refresh_mat_view(" +
        "'mvi', 'roll', 'incremental')").collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("SELECT o_custkey, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvi2.mvi.roll ORDER BY o_custkey")
    }),

    "lake_mat_view_avg" -> QueryModule.micro(4)((s, dir) => {
      // AVG over decimals maintained INCREMENTALLY: the backing table
      // stores hidden exact sum/count parts and the fronting view
      // reproduces Spark's own Average division bit-for-bit, so the
      // merged state equals a recompute. The oracle corroborates with
      // the exact decimal sum plus a rounded avg (DuckDB's avg itself
      // accumulates in double, so the raw division is not hashable).
      val wh = LakeQueries.freshWarehouse("matviewavg")
      Engine.processTableDefJson(wh,
        """{"database_name":"mva","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mva", "ord")
        .append(orders.filter(col("o_custkey") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvavg", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvavg.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvavg.mva.roll AS " +
        "SELECT o_custkey, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price, avg(o_price) AS avg_price FROM gmvavg.mva.ord " +
        "GROUP BY o_custkey").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mva", "roll")).get
        .properties.get("graft.mat-view.incr").contains("true"),
        "decimal AVG must be recorded as incrementally maintainable")
      LakeTable.load(wh, "mva", "ord")
        .append(orders.filter(col("o_custkey") % 2 =!= 0))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvavg.mva.roll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      vsql("SELECT o_custkey, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price, " +
        "ROUND(CAST(avg_price AS DOUBLE), 6) AS avg6 " +
        "FROM gmvavg.mva.roll ORDER BY o_custkey")
    }),

    "lake_mat_view_expr" -> QueryModule.micro(4)((s, dir) => {
      // the canonical production MV: a TIME-BUCKETED rollup — group
      // key `date_trunc('DAY', ts)` and an expression aggregate
      // argument (the exactness cast inside the sum), both persisted
      // as SQL and re-evaluated identically over every delta. The
      // oracle recomputes the bucketed rollup from the raw events.
      val wh = LakeQueries.freshWarehouse("matviewexpr")
      Engine.processTableDefJson(wh,
        """{"database_name":"mve","table_name":"ev","columns":[
          |{"column_name":"event_id","data_type":"long"},
          |{"column_name":"ts","data_type":"timestamp"},
          |{"column_name":"value","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val events = Tables(s, dir, "events")
        .select("event_id", "ts", "value")
      LakeTable.load(wh, "mve", "ev")
        .append(events.filter(col("event_id") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvex", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvex.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvex.mve.daily AS " +
        "SELECT date_trunc('DAY', ts) AS day, count(*) AS n_events, " +
        "sum(CAST(value AS DECIMAL(18,4))) AS sv " +
        "FROM gmvex.mve.ev GROUP BY date_trunc('DAY', ts)").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mve", "daily")).get
        .properties.get("graft.mat-view.incr").contains("true"),
        "the bucketed rollup must record an incremental shape")
      LakeTable.load(wh, "mve", "ev")
        .append(events.filter(col("event_id") % 2 =!= 0))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvex.mve.daily INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      vsql("SELECT CAST(day AS DATE) AS day, n_events, " +
        "CAST(sv AS DOUBLE) AS sum_value " +
        "FROM gmvex.mve.daily ORDER BY day")
    }),

    "lake_mat_view_having" -> QueryModule.micro(4)((s, dir) => {
      // HAVING in the incremental class: the condition references an
      // UNSELECTED count(*), which materializes as a hidden storage
      // aggregate the fronting view filters on at read time — groups
      // are maintained unconditionally, so threshold crossings track
      // the deltas exactly. Oracle recomputes the HAVING query from
      // scratch.
      val wh = LakeQueries.freshWarehouse("matviewhav")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvh","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvh", "ord")
        .append(orders.filter(col("o_custkey") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvhav", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvhav.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvhav.mvh.big AS " +
        "SELECT o_custkey, sum(o_price) AS sum_price " +
        "FROM gmvhav.mvh.ord GROUP BY o_custkey " +
        "HAVING count(*) >= 2").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mvh", "big")).get
        .properties.contains("graft.mat-view.having"),
        "the HAVING must be recorded with the incremental shape")
      LakeTable.load(wh, "mvh", "ord")
        .append(orders.filter(col("o_custkey") % 2 =!= 0))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvhav.mvh.big INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      vsql("SELECT o_custkey, CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvhav.mvh.big ORDER BY o_custkey")
    }),

    "lake_mat_view_filter" -> QueryModule.micro(4)((s, dir) => {
      // WHERE-filtered defining queries in the incremental class: the
      // persisted predicate filters the seed, every delta, and every
      // recompute identically, so a filtered rollup (the common
      // production MV shape) still refreshes in O(delta). The oracle
      // applies the same WHERE from scratch — a delta that bypassed
      // the filter (or double-applied it) hash-mismatches.
      val wh = LakeQueries.freshWarehouse("matviewfil")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvf","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvf", "ord")
        .append(orders.filter(col("o_custkey") % 2 === 0))
      s.conf.set("spark.sql.catalog.gmvfil", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvfil.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvfil.mvf.roll AS " +
        "SELECT o_custkey, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvfil.mvf.ord " +
        "WHERE o_price > 1000.0 AND o_custkey % 100 != 7 " +
        "GROUP BY o_custkey").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mvf", "roll")).get
        .properties.contains("graft.mat-view.filter"),
        "the WHERE must be recorded with the incremental shape")
      LakeTable.load(wh, "mvf", "ord")
        .append(orders.filter(col("o_custkey") % 2 =!= 0))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvfil.mvf.roll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      vsql("SELECT o_custkey, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvfil.mvf.roll ORDER BY o_custkey")
    }),

    "lake_mat_view_retract" -> QueryModule.micro(4)((s, dir) => {
      // incremental refresh CONSUMING deletions: copy-on-write and
      // merge-on-read deletes land in the delta as SIGNED changelog
      // rows (inserts add, deletes subtract), and groups whose row
      // count reaches zero are deleted from the materialization — the
      // oracle recomputes over the surviving rows, so a missed
      // retraction or a lingering emptied group hash-mismatches.
      val wh = LakeQueries.freshWarehouse("matviewretr")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvr","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 6 === 0) // bench-sized fixture
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      // half the fixture keeps CoW-rewrite/diff cost down; the delete
      // predicates are chosen so BOTH populations retract: %10==2 hits
      // only EVEN keys (seed rows — groups materialized at create get
      // rows subtracted and some empty out of the backing table), and
      // %10==5 hits only ODD keys (rows first seen in this delta)
      LakeTable.load(wh, "mvr", "ord")
        .append(orders.filter(col("o_custkey") % 4 === 0))
      s.conf.set("spark.sql.catalog.gmvret", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvret.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvret.mvr.roll AS " +
        "SELECT o_custkey, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvret.mvr.ord GROUP BY o_custkey").collect()
      // the delta holds appends AND retractions, touching both
      // seed-time groups and rows first seen in this very delta
      LakeTable.load(wh, "mvr", "ord")
        .append(orders.filter(col("o_custkey") % 4 === 1))
      LakeTable.load(wh, "mvr", "ord")
        .delete(s, col("o_custkey") % 10 === 2) // CoW, seed-era rows
      LakeTable.load(wh, "mvr", "ord")
        .deleteMoR(s, col("o_custkey") % 10 === 5) // MoR, delta rows
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvret.mvr.roll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      vsql("SELECT o_custkey, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvret.mvr.roll ORDER BY o_custkey")
    }),

    "lake_mat_view_observe" -> QueryModule.micro(4)((s, dir) => {
      // MV observability: every refresh attempt — mode requested,
      // strategy the engine ran, watermark range, touched groups,
      // outcome (refusals included, with their reason) — lands in a
      // sidecar history served as the `.refreshes` metadata relation,
      // the MV sibling of `.snapshots`. The key drives one append
      // merge, one full recompute, one no-op, and one refusal (a
      // full-content replace on the source), then QUERIES the history;
      // the oracle is the exact expected event list (snapshot ids are
      // deterministic), minus the wall-clock columns.
      val wh = LakeQueries.freshWarehouse("matviewobs")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvo","table_name":"nat","columns":[
          |{"column_name":"n_regionkey","data_type":"int"},
          |{"column_name":"n_nationkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val nation = Tables(s, dir, "nation")
        .select(col("n_regionkey"), col("n_nationkey"))
      LakeTable.load(wh, "mvo", "nat").append(nation)
      s.conf.set("spark.sql.catalog.gmvo2", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvo2.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvo2.mvo.roll AS " +
        "SELECT n_regionkey, count(*) AS n FROM gmvo2.mvo.nat " +
        "GROUP BY n_regionkey").collect()
      LakeTable.load(wh, "mvo", "nat").append(nation) // all 5 regions
      vsql("REFRESH MATERIALIZED VIEW gmvo2.mvo.roll INCREMENTAL")
        .collect()
      vsql("REFRESH MATERIALIZED VIEW gmvo2.mvo.roll").collect()
      vsql("REFRESH MATERIALIZED VIEW gmvo2.mvo.roll INCREMENTAL")
        .collect()
      LakeTable.load(wh, "mvo", "nat").overwrite(nation.limit(1))
      try vsql("REFRESH MATERIALIZED VIEW gmvo2.mvo.roll INCREMENTAL")
        .collect()
      catch { case _: Exception => () } // the refusal still logs
      vsql("SELECT mode, strategy, from_snapshot, to_snapshot, " +
        "groups, outcome FROM gmvo2.mvo.roll.refreshes " +
        "ORDER BY ts_ms, strategy")
    }),

    "lake_mat_view_rewrite" -> QueryModule.micro(4)((s, dir) => {
      // MV QUERY REWRITING: the same aggregate SQL over the SOURCE
      // table answers from the materialized view when it is fresh —
      // O(groups) backing read instead of O(source) scan + shuffle,
      // the half of the MV story that makes materialization pay off
      // without users rewriting their queries. Self-audits: the fresh
      // query's physical plan scans the backing table (and not the
      // lake source), a STALE view falls back to the source and
      // serves the live data, and a refresh re-enables the rewrite.
      // The oracle recomputes the final aggregate raw.
      val wh = LakeQueries.freshWarehouse("matviewrw")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvr","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvr", "ord")
        .append(orders.filter(col("o_custkey") % 9 === 0))
      s.conf.set("spark.sql.catalog.gmvr", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvr.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q,
          rewrite = true)
      vsql("CREATE MATERIALIZED VIEW gmvr.mvr.roll AS " +
        "SELECT o_custkey, count(*) AS n_orders, sum(o_price) AS s " +
        "FROM gmvr.mvr.ord GROUP BY o_custkey").collect()
      // the user's aggregate over the SOURCE (aliases their own; the
      // outer CAST projection is above the aggregate and free)
      val q = "SELECT o_custkey, n_orders, CAST(s AS DOUBLE) AS " +
        "sum_price FROM (SELECT o_custkey, count(*) AS n_orders, " +
        "sum(o_price) AS s FROM gmvr.mvr.ord GROUP BY o_custkey) " +
        "ORDER BY o_custkey"
      val hit = vsql(q)
      hit.collect()
      require(graft.sources.MatViewRewrite.lastRewrite
        .contains(("mvr", "roll")), "fresh MV must answer the query")
      // the rewrite is an analysis rule: the analyzed plan names the
      // table read, whether its scan runs as a job or on the driver
      require(hit.queryExecution.analyzed.toString
        .contains("__mat_roll"), "plan must scan the backing table")
      // stale: a source commit the view hasn't merged — fall back to
      // the source and serve the LIVE rows
      LakeTable.load(wh, "mvr", "ord")
        .append(orders.filter(col("o_custkey") % 9 === 1))
      val stale = vsql(q)
      val staleRows = stale.collect()
      require(graft.sources.MatViewRewrite.lastRewrite.isEmpty &&
        !stale.queryExecution.executedPlan.toString
          .contains("__mat_roll"),
        "a stale MV must not answer")
      require(staleRows.length == LakeTable.load(wh, "mvr", "ord")
        .read(s).select("o_custkey").distinct().count(),
        "fallback must aggregate the live source")
      // refreshed → the SAME SQL routes through the view again
      vsql("REFRESH MATERIALIZED VIEW gmvr.mvr.roll INCREMENTAL")
        .collect()
      val again = vsql(q)
      again.collect()
      require(graft.sources.MatViewRewrite.lastRewrite
        .contains(("mvr", "roll")), "refresh must re-enable rewriting")
      again
    }),

    "lake_mat_view_rewrite_rollup" -> QueryModule.micro(4)((s, dir) => {
      // ROLLUP SUBSUMPTION: a COARSER aggregate answers from a FINER
      // fresh MV by re-aggregating its per-group partials — count(*)
      // sums the row counts, sum() sums the partial sums, a WHERE on
      // a GROUP KEY filters the backing table (each group's rows all
      // share the key value), and count(DISTINCT key) counts backing
      // rows. The Calcite-style aggregate-rollup match, scoped to
      // shapes derivable from this engine's own persisted metadata.
      // Self-audits: the rollup plan scans the backing table (source
      // absent), the match kind is "rollup", and a non-key WHERE
      // falls back to the source. The oracle recomputes raw.
      val wh = LakeQueries.freshWarehouse("matviewrwr")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvu","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_prio","data_type":"string"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_custkey"),
          col("o_orderpriority").as("o_prio"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvu", "ord").append(orders)
      s.conf.set("spark.sql.catalog.gmvu", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvu.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q,
          rewrite = true)
      vsql("CREATE MATERIALIZED VIEW gmvu.mvu.fine AS " +
        "SELECT o_custkey, o_prio, count(*) AS n, sum(o_price) AS s " +
        "FROM gmvu.mvu.ord GROUP BY o_custkey, o_prio").collect()
      // coarser grouping + a group-key WHERE, both absorbed by the
      // backing table; the outer CAST projection sits above the
      // rewritten aggregate
      val q = "SELECT o_prio, n_orders, CAST(s AS DOUBLE) AS " +
        "sum_price FROM (SELECT o_prio, count(*) AS n_orders, " +
        "sum(o_price) AS s FROM gmvu.mvu.ord " +
        "WHERE o_custkey % 10 = 0 GROUP BY o_prio) ORDER BY o_prio"
      val hit = vsql(q)
      hit.collect()
      require(graft.sources.MatViewRewrite.lastRewriteKind
        .contains("rollup"), "the coarser aggregate must roll up " +
        s"from the finer MV, got ${
          graft.sources.MatViewRewrite.lastRewriteKind}")
      require(hit.queryExecution.analyzed.toString
        .contains("__mat_fine"), "plan must scan the backing table")
      // count(DISTINCT group-key) derives from the backing key column
      val dct = vsql("SELECT o_custkey, count(DISTINCT o_prio) AS " +
        "n_prios FROM gmvu.mvu.ord GROUP BY o_custkey " +
        "ORDER BY o_custkey")
      dct.collect()
      require(graft.sources.MatViewRewrite.lastRewriteKind
        .contains("rollup"), "count(DISTINCT key) must roll up")
      // a WHERE on a NON-key column cannot subsume — source answers
      val miss = vsql("SELECT o_prio, count(*) AS n FROM " +
        "gmvu.mvu.ord WHERE o_price > 1000 GROUP BY o_prio " +
        "ORDER BY o_prio")
      miss.collect()
      require(graft.sources.MatViewRewrite.lastRewriteKind.isEmpty &&
        !miss.queryExecution.executedPlan.toString
          .contains("__mat_fine"),
        "a non-key WHERE must fall back to the source")
      vsql(q)
    }),

    "lake_mat_view_join" -> QueryModule.micro(4)((s, dir) => {
      // incremental maintenance of a JOIN-shaped MV (the production
      // fact ⋈ dim rollup): the defining query joins the orders fact
      // to a customer dim and groups by a DIM column. A fact append
      // refreshes by delta-join expansion — γ(ΔF ⋈ D) merged
      // additively, the dim read pinned at its recorded snapshot, so
      // the refresh costs O(fact delta), never O(fact). The oracle
      // recomputes the join from scratch; the key self-audits that the
      // refresh was incremental (no replace snapshot on the backing
      // table) and that a dim movement refuses by name.
      val wh = LakeQueries.freshWarehouse("matviewjoin")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvj","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"mvj","table_name":"cust","columns":[
          |{"column_name":"c_id","data_type":"long"},
          |{"column_name":"c_seg","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 6 === 0) // bench-sized fixture
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvj", "cust").append(
        Tables(s, dir, "customer")
          .select(col("c_custkey").as("c_id"),
            col("c_mktsegment").as("c_seg")))
      LakeTable.load(wh, "mvj", "ord")
        .append(orders.filter(col("o_custkey") % 4 === 0))
      s.conf.set("spark.sql.catalog.gmvj2", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvj2.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvj2.mvj.segroll AS " +
        "SELECT c_seg, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvj2.mvj.ord JOIN gmvj2.mvj.cust " +
        "ON o_custkey = c_id GROUP BY c_seg").collect()
      require(graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "mvj", "segroll")).get
        .properties.contains("graft.mat-view.dims"),
        "the join shape must be recorded as incrementally maintainable")
      // fact delta: an append AND a MoR retraction, both expanded
      // through the pinned dim
      LakeTable.load(wh, "mvj", "ord")
        .append(orders.filter(col("o_custkey") % 4 === 1))
      LakeTable.load(wh, "mvj", "ord")
        .deleteMoR(s, col("o_custkey") % 10 === 4)
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvj2.mvj.segroll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      require(!LakeTable.load(wh, "mvj", "__mat_segroll").metadata
        .snapshots.exists(sn => LakeTable.isReset(sn.operation)),
        "the refresh must merge incrementally, not replace")
      // a DIM movement that can REMOVE rows cannot be expressed by any
      // insert-only leg — refuse by name (append-only dim deltas now
      // maintain; that's lake_mat_view_dimdelta's territory — this key
      // pins the guard on the destructive case)
      LakeTable.load(wh, "mvj", "cust")
        .deleteMoR(s, col("c_id") === 1L)
      val refusal =
        try { vsql("REFRESH MATERIALIZED VIEW gmvj2.mvj.segroll " +
          "INCREMENTAL").collect(); "" }
        catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => Option(t.getMessage).getOrElse("")).mkString(" ") }
      require(refusal.contains("dim") &&
        refusal.contains("full refresh"),
        s"dim movement must refuse by name, got: $refusal")
      vsql("SELECT c_seg, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvj2.mvj.segroll ORDER BY c_seg")
    }),

    "lake_txn_observe" -> QueryModule.micro(4)((s, dir) => {
      // TRANSACTION LOG OBSERVABILITY (r11): every coordinated
      // cross-table transaction leaves an intent record + final state
      // in the warehouse commit log, served as a `.transactions`
      // metadata relation (the transactional sibling of .snapshots /
      // .refreshes — zero data IO). The key runs two committed
      // transactions (one programmatic LakeTxn, one SQL BEGIN…COMMIT)
      // and one ABORTED one (a deterministic claim conflict: a direct
      // commit lands on a participant between staging and publish),
      // then queries the log; the oracle is the exact expected
      // (state, participants) multiset. Single-table commits never
      // coordinate and never appear.
      import graft.lake.LakeTxn
      val wh = LakeQueries.freshWarehouse("txnobserve")
      for (t <- Seq("a", "b")) Engine.processTableDefJson(wh,
        s"""{"database_name":"to","table_name":"$t","columns":[
           |{"column_name":"n_nationkey","data_type":"int"},
           |{"column_name":"n_name","data_type":"string"}],
           |"partitions":[]}""".stripMargin)
      val nation = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name")
      // committed transaction 1 (programmatic)
      LakeTxn.transaction(wh) { ctx =>
        ctx.table("to", "a").append(nation.filter(col("n_nationkey") < 5))
        ctx.table("to", "b").append(nation.filter(col("n_nationkey") < 5))
      }
      // committed transaction 2 (SQL BEGIN…COMMIT — same protocol)
      s.conf.set("spark.sql.catalog.gto", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gto.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      try {
        vsql("BEGIN TRANSACTION").collect()
        vsql("INSERT INTO gto.to.a SELECT n_nationkey, n_name FROM " +
          "gto.to.b WHERE n_nationkey < 2").collect()
        vsql("INSERT INTO gto.to.b VALUES (90, 'x')").collect()
        vsql("COMMIT").collect()
      } finally if (graft.lake.SqlTxn.active.nonEmpty)
        graft.lake.SqlTxn.rollback()
      // ABORTED transaction: a conflicting direct commit lands on a
      // participant after staging — the publish claim collides, the
      // coordinator writes the abort record, nothing becomes visible
      val aBefore = LakeTable.load(wh, "to", "a").read(s).count()
      try {
        LakeTxn.transaction(wh) { ctx =>
          ctx.table("to", "a").append(nation.filter(
            col("n_nationkey") >= 5 && col("n_nationkey") < 8))
          ctx.table("to", "b").append(nation.filter(
            col("n_nationkey") >= 5 && col("n_nationkey") < 8))
          LakeTable.load(wh, "to", "a") // the interloper
            .append(nation.filter(col("n_nationkey") === 20))
        }
        require(false, "the claim conflict must abort the transaction")
      } catch {
        case _: java.util.ConcurrentModificationException => ()
      }
      require(LakeTable.load(wh, "to", "a").read(s).count() ==
        aBefore + 1, // the interloper's row, never the aborted txn's
        "the aborted transaction must publish nothing")
      vsql("SELECT state, participants FROM gto.to.a.transactions " +
        "ORDER BY state, participants")
    }),

    "lake_auto_evolve" -> QueryModule.micro(4)((s, dir) => {
      // INGESTION AUTO-EVOLUTION (r11, Delta's mergeSchema): with
      // write.merge-schema=true an append carrying NEW top-level
      // columns adds them as optional and a column arriving legally
      // WIDER (int→long here) evolves up — both through the same
      // SchemaDiff-validated evolution ALTER TABLE runs, committed in
      // ONE transaction flip with the data (self-audited: exactly two
      // snapshots, schema id advanced, key column widened). Pre-
      // evolution rows read NULL for the added column; the oracle
      // reconstructs the same shape from the raw fixture.
      val wh = LakeQueries.freshWarehouse("autoevolve")
      Engine.processTableDefJson(wh,
        """{"database_name":"ae","table_name":"ord",
          |"properties":{"write.merge-schema":"true"},"columns":[
          |{"column_name":"o_ckey","data_type":"int"},
          |{"column_name":"o_price","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
      // writer v1: two columns, int key
      LakeTable.load(wh, "ae", "ord").append(
        orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_custkey").cast("int").as("o_ckey"),
            col("o_totalprice").as("o_price")))
      // writer v2: a NEW column (o_prio) and the key arriving as LONG
      LakeTable.load(wh, "ae", "ord").append(
        orders.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_custkey").as("o_ckey"),
            col("o_totalprice").as("o_price"),
            col("o_orderpriority").as("o_prio")))
      val t = LakeTable.load(wh, "ae", "ord")
      require(t.currentSchema.fieldNames.toSeq ==
        Seq("o_ckey", "o_price", "o_prio"),
        s"auto-add must evolve the schema: " +
          t.currentSchema.fieldNames.mkString(","))
      require(graft.lake.Reconcile.clean(t.currentSchema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]("o_ckey")
        .dataType == org.apache.spark.sql.types.LongType,
        "the int key must widen to long")
      require(t.metadata.snapshots.size == 2,
        "evolution and data must share one commit each — no extra " +
          s"snapshots: ${t.metadata.snapshots.size}")
      t.read(s)
        .groupBy(coalesce(col("o_prio"), lit("<none>")).as("o_prio"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Tables.dec(col("o_price"))).cast("double").as("sum_price"))
        .orderBy("o_prio")
    }),

    "lake_constraints" -> QueryModule.micro(4)((s, dir) => {
      // CHECK CONSTRAINTS (r11): ALTER TABLE ADD CONSTRAINT name
      // CHECK (expr), enforced on every commit that adds data files,
      // STATS-FIRST — a file whose footer min/max/null-count proves it
      // cannot hold a violating row is accepted without being read
      // (self-audited: the clean far-from-boundary append scans ZERO
      // files), a violating batch refuses BY NAME with nothing landed
      // (the good rows in the same batch must not survive), NULL
      // passes (SQL CHECK semantics), and a CoW UPDATE that would
      // break the constraint refuses like any other write. The oracle
      // recomputes the surviving table.
      val wh = LakeQueries.freshWarehouse("constraints")
      Engine.processTableDefJson(wh,
        """{"database_name":"co","table_name":"ord","columns":[
          |{"column_name":"o_okey","data_type":"long"},
          |{"column_name":"o_prio","data_type":"string"},
          |{"column_name":"o_price","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("o_okey"),
          col("o_orderpriority").as("o_prio"),
          col("o_totalprice").as("o_price"))
      s.conf.set("spark.sql.catalog.gco", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gco.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("ALTER TABLE gco.co.ord ADD CONSTRAINT price_pos " +
        "CHECK (o_price > 0 AND o_prio IS NOT NULL)").collect()
      // clean append, every price far above 0: footer stats must
      // PROVE it — zero validation reads (empty write partitions are
      // trivially violation-free)
      LakeTable.load(wh, "co", "ord")
        .append(orders.filter(col("o_okey") % 4 === 0))
      val (scanned, total) =
        graft.lake.Constraints.lastValidationScan.get
      require(total > 0 && scanned == 0,
        s"stats must prove the clean append without reading it: " +
          s"$scanned/$total")
      // a batch hiding one negated price refuses BY NAME and lands
      // NOTHING — its clean rows must not survive either
      val before = LakeTable.load(wh, "co", "ord").read(s).count()
      val poisoned = orders.filter(col("o_okey") % 4 === 1)
        .withColumn("o_price",
          when(col("o_okey") % 1000 === 1, -col("o_price"))
            .otherwise(col("o_price")))
      val refusal =
        try { LakeTable.load(wh, "co", "ord").append(poisoned); "" }
        catch { case e: Exception =>
          Option(e.getMessage).getOrElse("") }
      require(refusal.contains("price_pos"),
        s"the poisoned batch must refuse by name, got: $refusal")
      require(LakeTable.load(wh, "co", "ord").read(s).count() == before,
        "a refused batch must land nothing")
      // a CoW UPDATE breaking the constraint refuses; a legal one lands
      val updRefusal =
        try { vsql("UPDATE gco.co.ord SET o_price = -1.0 " +
          "WHERE o_okey % 100 = 0").collect(); "" }
        catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => Option(t.getMessage).getOrElse("")).mkString(" ") }
      require(updRefusal.contains("price_pos"),
        s"the violating UPDATE must refuse by name, got: $updRefusal")
      vsql("UPDATE gco.co.ord SET o_price = o_price + 10.0 " +
        "WHERE o_okey % 100 = 0").collect()
      vsql("SELECT o_prio, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_price AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS sum_price FROM gco.co.ord GROUP BY o_prio ORDER BY o_prio")
    }),

    "lake_txn_sql" -> QueryModule.micro(4)((s, dir) => {
      // SQL SESSION TRANSACTIONS (r11): BEGIN TRANSACTION / COMMIT /
      // ROLLBACK over lake tables — every statement in between stages
      // on buffered handles (graft.lake.SqlTxn): reads see the
      // session's own staged writes (statement 2 aggregates statement
      // 1's rows), NOTHING is visible to other sessions until COMMIT
      // (self-audited from a fresh thread), and COMMIT publishes every
      // staged table through the same cross-table final-record
      // protocol as lake_txn_cross. A ROLLBACK block then proves
      // staged changes discard completely. The oracle recomputes the
      // committed rollup from the raw fixture.
      val wh = LakeQueries.freshWarehouse("txnsql")
      for (t <- Seq(
        """{"database_name":"txs","table_name":"acct","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"double"}],
          |"partitions":[]}""".stripMargin,
        """{"database_name":"txs","table_name":"sums","columns":[
          |{"column_name":"bucket","data_type":"long"},
          |{"column_name":"n_orders","data_type":"long"},
          |{"column_name":"sum_price","data_type":"double"}],
          |"partitions":[]}""".stripMargin)) Engine.processTableDefJson(wh, t)
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_custkey"), col("o_totalprice").as("o_price"))
        .createOrReplaceTempView("txsql_orders_src")
      s.conf.set("spark.sql.catalog.gtxs", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gtxs.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      def outside[A](body: => A): A = {
        @volatile var out: A = null.asInstanceOf[A]
        val t = new Thread(() => out = body)
        t.start(); t.join(); out
      }
      try {
        vsql("BEGIN TRANSACTION").collect()
        vsql("INSERT INTO gtxs.txs.acct " +
          "SELECT o_custkey, o_price FROM txsql_orders_src").collect()
        // statement 2: a THREE-CLAUSE MERGE (matched update /
        // not-matched insert / not-matched-by-source delete) walks the
        // DSv2 row-level plumbing INSIDE the transaction — its target
        // scan must see statement 1's staged rows (or the matched
        // clause finds nothing and the not-matched inserts garbage),
        // and its rewrite must stage, not commit
        vsql(
          """MERGE INTO gtxs.txs.acct t
            |USING (SELECT DISTINCT o_custkey AS k FROM txsql_orders_src
            |       WHERE o_custkey % 7 = 0) s
            |ON t.o_custkey = s.k
            |WHEN MATCHED THEN UPDATE SET o_price = t.o_price + 100000.0
            |WHEN NOT MATCHED THEN INSERT (o_custkey, o_price)
            |  VALUES (s.k, 0.0)
            |WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 10 = 3
            |  THEN DELETE""".stripMargin).collect()
        // statement 3 READS the staged MERGE result (read-your-writes
        // across row-level DML) and stages into a SECOND table
        vsql("INSERT INTO gtxs.txs.sums " +
          "SELECT o_custkey % 10 AS bucket, count(*) AS n_orders, " +
          "CAST(sum(CAST(o_price AS DECIMAL(18,4))) AS DOUBLE) " +
          "AS sum_price FROM gtxs.txs.acct " +
          "GROUP BY o_custkey % 10").collect()
        // invisible to every other session until COMMIT
        val pre = outside((
          LakeTable.load(wh, "txs", "acct").read(s).count(),
          LakeTable.load(wh, "txs", "sums").read(s).count()))
        require(pre == ((0L, 0L)),
          s"staged rows leaked before COMMIT: $pre")
        val c = vsql("COMMIT").collect().head
        require(c.getInt(1) == 2, s"both tables must publish: $c")
      } finally if (graft.lake.SqlTxn.active.nonEmpty)
        graft.lake.SqlTxn.rollback()
      // a rolled-back block leaves no trace
      try {
        vsql("BEGIN TRANSACTION").collect()
        vsql("INSERT INTO gtxs.txs.sums VALUES (-1, -1, -1.0)").collect()
        vsql("ROLLBACK").collect()
      } finally if (graft.lake.SqlTxn.active.nonEmpty)
        graft.lake.SqlTxn.rollback()
      vsql("SELECT bucket, n_orders, sum_price FROM gtxs.txs.sums " +
        "ORDER BY bucket")
    }),

    "lake_mat_view_dimupsert" -> QueryModule.micro(4)((s, dir) => {
      // BLIND-UPSERT DIM MOVEMENT maintains incrementally (r12): a dim
      // that moves by equality upsert (the CDC-sink shape — markers +
      // replacement rows in one snapshot) used to refuse the join-MV
      // incremental path by name, forcing a full O(source) refresh.
      // The retracted dim rows are derivable (the pin image still
      // holds them), so the refresh routes to the touched-group
      // recompute: changed dim rows = pin-vs-head multiset diff,
      // touched groups = fact rows joining them expanded through BOTH
      // dim images, recomputed from head. The fixture re-segments a
      // customer slice via upsertMoR while a fact append lands in the
      // same range; self-audits the strategy name
      // ("recompute+dim-upsert"), no full-refresh replace, and the
      // re-pin. The oracle recomputes the join with the moved
      // segments from scratch.
      val wh = LakeQueries.freshWarehouse("matviewdu")
      Engine.processTableDefJson(wh,
        """{"database_name":"mdu","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"mdu","table_name":"cust","columns":[
          |{"column_name":"c_id","data_type":"long"},
          |{"column_name":"c_seg","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      val custs = Tables(s, dir, "customer")
        .select(col("c_custkey").as("c_id"),
          col("c_mktsegment").as("c_seg"))
      LakeTable.load(wh, "mdu", "cust").append(custs)
      LakeTable.load(wh, "mdu", "ord").append(
        orders.filter(col("o_orderkey") % 12 === 0)
          .select("o_custkey", "o_price"))
      s.conf.set("spark.sql.catalog.gmvdu", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvdu.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvdu.mdu.segroll AS " +
        "SELECT c_seg, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvdu.mdu.ord JOIN gmvdu.mdu.cust " +
        "ON o_custkey = c_id GROUP BY c_seg").collect()
      // the dim MOVES BY BLIND UPSERT: a customer slice re-segments
      // (groups lose their old contributions AND gain new ones — the
      // case no insert-only dim leg can express); a fact append lands
      // in the same refresh range
      LakeTable.load(wh, "mdu", "cust").upsertMoR(s,
        custs.filter(col("c_id") % 10 === 2)
          .withColumn("c_seg", lit("MOVED")),
        keys = Seq("c_id"))
      LakeTable.load(wh, "mdu", "ord").append(
        orders.filter(col("o_orderkey") % 12 === 3)
          .select("o_custkey", "o_price"))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvdu.mdu.segroll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      val strat = vsql("SELECT strategy FROM " +
        "gmvdu.mdu.segroll.refreshes WHERE mode = 'incremental'")
        .collect().map(_.getString(0)).toSeq
      require(strat == Seq("recompute+dim-upsert"),
        s"the refresh must run the dim-upsert recompute, got $strat")
      require(!LakeTable.load(wh, "mdu", "__mat_segroll").metadata
        .snapshots.exists(sn => LakeTable.isReset(sn.operation)),
        "the refresh must upsert touched groups, not full-refresh")
      val custHead = LakeTable.load(wh, "mdu", "cust").metadata
        .snapshots.map(_.id).max
      require(LakeTable.load(wh, "mdu", "__mat_segroll").metadata
        .properties("graft.mat-view.dim-watermark.mdu.cust")
        .split(":")(0).toLong == custHead,
        "the dim-upsert refresh must re-pin the dim at its head")
      vsql("SELECT c_seg, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvdu.mdu.segroll ORDER BY c_seg")
    }),

    "lake_mat_view_dimdelta" -> QueryModule.micro(4)((s, dir) => {
      // APPEND-ONLY DIM DELTAS maintain incrementally (r11): the
      // delta-join identity F_h⋈D_h − F_w⋈D_p = ΔF⋈D_head + F_w⋈ΔD
      // turns a dim append — previously a by-name refusal forcing a
      // full O(fact) refresh — into one extra leg joining the
      // watermark fact image against ONLY the appended dim rows, with
      // the fact scan file-pruned by the Δdim join-key envelope. The
      // fixture seeds the dim with only EVEN customers, so the odd-
      // customer fact rows sit unjoined until the dim delta arrives —
      // the case no fact-side delta can express. The oracle recomputes
      // the final join from scratch; the key self-audits the strategy
      // (.refreshes names "append+dim-delta") and that the backing
      // table saw no full-refresh replace.
      val wh = LakeQueries.freshWarehouse("matviewdd")
      Engine.processTableDefJson(wh,
        """{"database_name":"mdd","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"mdd","table_name":"cust","columns":[
          |{"column_name":"c_id","data_type":"long"},
          |{"column_name":"c_seg","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_custkey") % 4 === 0 || col("o_custkey") % 4 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      val custs = Tables(s, dir, "customer")
        .select(col("c_custkey").as("c_id"),
          col("c_mktsegment").as("c_seg"))
      LakeTable.load(wh, "mdd", "cust")
        .append(custs.filter(col("c_id") % 2 === 0))
      LakeTable.load(wh, "mdd", "ord").append(
        orders.filter(col("o_orderkey") % 12 === 0)
          .select("o_custkey", "o_price"))
      s.conf.set("spark.sql.catalog.gmvdd", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvdd.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvdd.mdd.segroll AS " +
        "SELECT c_seg, count(*) AS n_orders, sum(o_price) AS " +
        "sum_price FROM gmvdd.mdd.ord JOIN gmvdd.mdd.cust " +
        "ON o_custkey = c_id GROUP BY c_seg").collect()
      // the dim delta (odd customers — unlocks the waiting fact rows)
      // AND a fact delta land together: both legs must merge in one
      // incremental refresh
      LakeTable.load(wh, "mdd", "cust")
        .append(custs.filter(col("c_id") % 2 === 1))
      LakeTable.load(wh, "mdd", "ord").append(
        orders.filter(col("o_orderkey") % 12 === 3)
          .select("o_custkey", "o_price"))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvdd.mdd.segroll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      val strat = vsql("SELECT strategy FROM " +
        "gmvdd.mdd.segroll.refreshes WHERE mode = 'incremental'")
        .collect().map(_.getString(0)).toSeq
      require(strat == Seq("append+dim-delta"),
        s"the refresh must run the dim-delta expansion, got $strat")
      require(!LakeTable.load(wh, "mdd", "__mat_segroll").metadata
        .snapshots.exists(sn => LakeTable.isReset(sn.operation)),
        "the refresh must merge incrementally, not replace")
      // the moved dim re-pins at its head in the same flip
      val custHead = LakeTable.load(wh, "mdd", "cust").metadata
        .snapshots.map(_.id).max
      require(LakeTable.load(wh, "mdd", "__mat_segroll").metadata
        .properties("graft.mat-view.dim-watermark.mdd.cust")
        .split(":")(0).toLong == custHead,
        "the dim-delta refresh must re-pin the dim at its head")
      vsql("SELECT c_seg, n_orders, " +
        "CAST(sum_price AS DOUBLE) AS sum_price " +
        "FROM gmvdd.mdd.segroll ORDER BY c_seg")
    }),

    "lake_mat_view_minmax" -> QueryModule.micro(4)((s, dir) => {
      // MIN/MAX shapes through NON-append deltas: a signed merge
      // cannot un-see a removed extremum, so the refresh falls back to
      // recomputing ONLY the touched groups from the source (the delta
      // names them; equality-delete victims come from the watermark
      // image) — O(delta + touched groups), never the full refresh's
      // O(source). The range here mixes an append, MoR deletes, and an
      // equality upsert; the oracle recomputes from scratch, and the
      // key self-audits that the backing table saw no replace snapshot
      // (the incremental path upserts, a full refresh overwrites).
      val wh = LakeQueries.freshWarehouse("matviewmm")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvm","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_okey","data_type":"long"},
          |{"column_name":"o_price","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 6 === 0) // bench-sized fixture
        .select(col("o_custkey"), col("o_orderkey").as("o_okey"),
          col("o_totalprice").as("o_price"))
      LakeTable.load(wh, "mvm", "ord")
        .append(orders.filter(col("o_custkey") % 8 === 0))
      s.conf.set("spark.sql.catalog.gmvmm", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvmm.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvmm.mvm.roll AS " +
        "SELECT o_custkey, count(*) AS n_orders, min(o_price) AS " +
        "min_price, max(o_price) AS max_price FROM gmvmm.mvm.ord " +
        "GROUP BY o_custkey").collect()
      // the delta: an append, MoR deletes (position markers carry the
      // full victim rows), then an equality upsert re-pricing a slice
      // (markers carry only o_okey — the recompute derives the touched
      // groups from the watermark image)
      LakeTable.load(wh, "mvm", "ord")
        .append(orders.filter(col("o_custkey") % 8 === 1))
      LakeTable.load(wh, "mvm", "ord")
        .deleteMoR(s, col("o_okey") % 7 === 3)
      LakeTable.load(wh, "mvm", "ord").upsertMoR(s,
        orders.filter(col("o_custkey") % 8 === 0 &&
          col("o_okey") % 11 === 4)
          .withColumn("o_price", col("o_price") + 1000.0),
        keys = Seq("o_okey"))
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvmm.mvm.roll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      require(!LakeTable.load(wh, "mvm", "__mat_roll").metadata
        .snapshots.exists(sn => LakeTable.isReset(sn.operation)),
        "the refresh must go through the touched-group recompute " +
          "(upsert snapshots), not a full-refresh replace")
      vsql("SELECT o_custkey, n_orders, min_price, max_price " +
        "FROM gmvmm.mvm.roll ORDER BY o_custkey")
    }),

    "lake_mat_view_distinct" -> QueryModule.micro(4)((s, dir) => {
      // COUNT(DISTINCT) in the incremental class: never additively
      // mergeable (even a pure APPEND may duplicate a value the group
      // already counted), so EVERY refresh routes through the
      // touched-group recompute — O(delta + touched groups), never the
      // full refresh's O(source). The range here is an append followed
      // by MoR deletes; the key self-audits that BOTH refreshes ran
      // the recompute strategy (the .refreshes sidecar names it) and
      // that the backing table saw no full-refresh replace. The oracle
      // recomputes the distinct counts from scratch.
      val wh = LakeQueries.freshWarehouse("matviewdct")
      Engine.processTableDefJson(wh,
        """{"database_name":"mvd","table_name":"ord","columns":[
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_okey","data_type":"long"},
          |{"column_name":"o_prio","data_type":"string"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 6 === 0) // bench-sized fixture
        .select(col("o_custkey"), col("o_orderkey").as("o_okey"),
          col("o_orderpriority").as("o_prio"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"))
      LakeTable.load(wh, "mvd", "ord")
        .append(orders.filter(col("o_custkey") % 32 === 0))
      s.conf.set("spark.sql.catalog.gmvdc", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gmvdc.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE MATERIALIZED VIEW gmvdc.mvd.roll AS " +
        "SELECT o_custkey, count(DISTINCT o_prio) AS n_prios, " +
        "sum(DISTINCT o_price) AS sd, avg(DISTINCT o_price) AS ad, " +
        "count(*) AS n_orders FROM gmvdc.mvd.ord " +
        "GROUP BY o_custkey").collect()
      // 1. a pure append — additively UNmergeable for DISTINCT: the
      // appended rows may repeat clerks their groups already counted
      LakeTable.load(wh, "mvd", "ord")
        .append(orders.filter(col("o_custkey") % 32 === 1))
      vsql("REFRESH MATERIALIZED VIEW gmvdc.mvd.roll INCREMENTAL")
        .collect()
      // 2. MoR deletes retract some rows (possibly one of several
      // duplicates of a clerk — only the recompute can tell)
      LakeTable.load(wh, "mvd", "ord")
        .deleteMoR(s, col("o_okey") % 7 === 3)
      val res = vsql(
        "REFRESH MATERIALIZED VIEW gmvdc.mvd.roll INCREMENTAL")
        .collect()
      require(res.head.getLong(1) > res.head.getLong(0),
        "the incremental refresh must advance the watermark")
      val strategies = vsql("SELECT strategy FROM " +
        "gmvdc.mvd.roll.refreshes WHERE mode = 'incremental'")
        .collect().map(_.getString(0)).toSeq
      require(strategies.size == 2 && strategies.forall(_ == "recompute"),
        s"DISTINCT shapes must route every refresh through the " +
          s"touched-group recompute, got $strategies")
      require(!LakeTable.load(wh, "mvd", "__mat_roll").metadata
        .snapshots.exists(sn => LakeTable.isReset(sn.operation)),
        "the refresh must upsert touched groups, not full-refresh")
      vsql("SELECT o_custkey, n_prios, " +
        "CAST(sd AS DOUBLE) AS sum_dprice, " +
        "ROUND(CAST(ad AS DOUBLE), 6) AS avg_dprice6, n_orders " +
        "FROM gmvdc.mvd.roll ORDER BY o_custkey")
    }),

    "lake_views" -> QueryModule.micro(4)((s, dir) => {
      // persistent catalog views with definition versioning: CREATE,
      // then CREATE OR REPLACE (which must APPEND a version, not
      // overwrite — self-audited), then SELECT through the view; the
      // oracle runs the final definition over the raw table. DDL and
      // resolution go through the same parser + substitution rule the
      // session extensions install, so the key is independent of how
      // the driver built its session.
      val wh = LakeQueries.freshWarehouse("views")
      Engine.processTableDefJson(wh,
        """{"database_name":"vw","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      LakeTable.load(wh, "vw", "nat").append(
        Tables(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey"))
      s.conf.set("spark.sql.catalog.gview", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gview.warehouse", wh)
      def vsql(q: String) =
        org.apache.spark.sql.GraftViewSubstitution.sql(s, q)
      vsql("CREATE VIEW gview.vw.regional AS " +
        "SELECT n_nationkey, n_name FROM gview.vw.nat " +
        "WHERE n_regionkey = 0").collect()
      // the replacing version declares a COLUMN LIST (positional
      // aliases + a comment) — the stored definition must round-trip
      // through SHOW CREATE VIEW and serve the aliased names
      vsql("CREATE OR REPLACE VIEW gview.vw.regional " +
        "(n_nationkey COMMENT 'nation key', tagged) AS " +
        "SELECT n_nationkey, concat(n_name, '/', n_regionkey) " +
        "FROM gview.vw.nat WHERE n_regionkey IN (1, 3)").collect()
      val doc = graft.sources.LakeViews.read(
        graft.sources.LakeViews.path(wh, "vw", "regional")).get
      require(doc.versions.map(_.id) == Seq(1, 2) &&
        doc.currentVersionId == 2,
        s"replace must append a version: ${doc.versions.map(_.id)}")
      val stmt = vsql("SHOW CREATE VIEW gview.vw.regional").collect()
        .head.getString(0)
      require(stmt.contains("COMMENT 'nation key'"),
        s"SHOW CREATE VIEW must carry the column comment: $stmt")
      require(vsql("DESCRIBE gview.vw.regional").collect()
        .map(_.getString(0)).toSeq == Seq("n_nationkey", "tagged"),
        "DESCRIBE must list the aliased view columns")
      vsql("SELECT n_nationkey, tagged FROM gview.vw.regional " +
        "ORDER BY n_nationkey")
    }),

    "lake_txn_multi" -> QueryModule.micro(4)((s, dir) => {
      // one TRANSACTION staging append + UPDATE + DELETE, published
      // through a single pointer flip — the self-audit loads a fresh
      // handle mid-body and requires the base state (atomicity is the
      // operator under test; the oracle pins the final content)
      val wh = LakeQueries.freshWarehouse("txn")
      Engine.processTableDefJson(wh,
        """{"database_name":"tx","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val src = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val t = LakeTable.load(wh, "tx", "nat")
      t.append(src.filter(col("n_nationkey") < 5))
      val versionsBefore = t.metadata.snapshots.size
      t.transaction { tx =>
        tx.append(src.filter(col("n_nationkey") >= 5))
        tx.update(s, Map("n_name" ->
          concat(col("n_name"), lit("_TX"))), col("n_regionkey") === 3)
        tx.delete(s, col("n_regionkey") === 0)
        val mid = LakeTable.load(wh, "tx", "nat").read(s).count()
        require(mid == 5,
          s"transaction leaked before the closing flip: mid-body " +
            s"readers saw $mid rows, expected the 5-row base")
      }
      require(LakeTable.load(wh, "tx", "nat").metadata.snapshots.size ==
        versionsBefore + 3, "per-op snapshots must all survive the flip")
      LakeTable.load(wh, "tx", "nat").read(s)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    "lake_txn_cross" -> QueryModule.micro(4)((s, dir) => {
      // CROSS-TABLE atomic transactions (graft.lake.LakeTxn): a fact
      // table and its audit ledger move together or not at all — the
      // catalog-level commit Iceberg solves with catalog multi-table
      // commits. Three batches: two commit, the third's coordinator
      // DIES between claiming both tables and writing the
      // transaction's final record (the fault-injection seam) — that
      // batch must appear in NEITHER table, while mid-death reads see
      // a consistent pre-transaction state on both. The self-audit
      // also requires the ledger to reconcile against the fact rows
      // batch-by-batch; the oracle recomputes the surviving batches
      // from the raw orders fixture.
      val wh = LakeQueries.freshWarehouse("xtxn")
      Engine.processTableDefJson(wh,
        """{"database_name":"xt","table_name":"fact","columns":[
          |{"column_name":"o_orderkey","data_type":"long"},
          |{"column_name":"o_custkey","data_type":"long"},
          |{"column_name":"o_price","data_type":"decimal(18,4)"},
          |{"column_name":"batch","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      Engine.processTableDefJson(wh,
        """{"database_name":"xt","table_name":"audit","columns":[
          |{"column_name":"batch","data_type":"int"},
          |{"column_name":"n_rows","data_type":"long"},
          |{"column_name":"total","data_type":"decimal(18,4)"}],
          |"partitions":[]}""".stripMargin)
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderkey") <= 30000)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("o_price"),
          (col("o_orderkey") % 3).cast("int").as("batch"))
        .localCheckpoint()
      def runBatch(b: Int): Unit = LakeTxn.transaction(wh) { ctx =>
        val rows = orders.filter(col("batch") === b)
        ctx.table("xt", "fact").append(rows)
        ctx.table("xt", "audit").append(rows.groupBy("batch").agg(
          count(lit(1)).as("n_rows"),
          sum("o_price").cast("decimal(18,4)").as("total")))
        // mid-body: a FRESH observer must see neither half
        require(LakeTable.load(wh, "xt", "fact").read(s)
          .filter(col("batch") === b).isEmpty, "fact half leaked")
        require(LakeTable.load(wh, "xt", "audit").read(s)
          .filter(col("batch") === b).isEmpty, "audit half leaked")
      }
      runBatch(0); runBatch(1)
      // batch 2's coordinator dies after claiming BOTH tables but
      // before the commit record — nothing may ever become visible.
      // The hook is JVM-global, so scope the injection to THIS
      // thread: the verify pool runs other keys' cross-table commits
      // concurrently, and they must not die for this key's fault.
      class Die extends RuntimeException("coordinator death")
      val self = Thread.currentThread()
      LakeTable.faultHook = name =>
        if (name == "txn-post-claims-pre-final" &&
            (Thread.currentThread() eq self)) throw new Die
      val died =
        try { runBatch(2); false }
        catch { case _: Die => true }
        finally LakeTable.faultHook = _ => ()
      require(died, "fault point never fired")
      val factNow = LakeTable.load(wh, "xt", "fact").read(s)
      require(factNow.filter(col("batch") === 2).isEmpty &&
        LakeTable.load(wh, "xt", "audit").read(s)
          .filter(col("batch") === 2).isEmpty,
        "the dead transaction must be invisible on both tables")
      // ledger reconciliation: every surviving batch's audit row
      // matches the fact rows exactly (pairing is the invariant the
      // coordinator exists to protect)
      val recon = LakeTable.load(wh, "xt", "fact").read(s)
        .groupBy("batch").agg(count(lit(1)).as("fn"),
          sum("o_price").cast("decimal(18,4)").as("ft"))
        .join(LakeTable.load(wh, "xt", "audit").read(s), Seq("batch"),
          "full_outer")
        .filter(col("fn") =!= col("n_rows") ||
          col("ft") =!= col("total") ||
          col("fn").isNull || col("n_rows").isNull)
      require(recon.isEmpty, "ledger does not reconcile with facts")
      LakeTable.load(wh, "xt", "fact").read(s)
        .groupBy("o_custkey").agg(
          count(lit(1)).as("n_orders"),
          sum("o_price").cast("double").as("sum_price"))
        .orderBy("o_custkey")
    }),

    "lake_bloom_skip" -> QueryModule.micro(4)((s, dir) => {
      // point-lookup file skipping via opt-in per-file bloom filters
      // (write.bloom-columns): keys are SHUFFLED across the files, so
      // every file's min/max covers nearly the whole key range and
      // range stats prune nothing — the bloom is the only thing that
      // can drop files, and the self-audit requires that it does. At
      // 100 TB this turns `WHERE id = x` on an unsorted id from a
      // full-table scan plan into a handful of candidate files.
      import graft.lake.RangeFilter
      val wh = LakeQueries.freshWarehouse("bloom")
      Engine.processTableDefJson(wh,
        """{"database_name":"bl","table_name":"cust","columns":[
          |{"column_name":"c_custkey","data_type":"long"},
          |{"column_name":"c_name","data_type":"string"},
          |{"column_name":"c_acctbal","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      LakeTable.load(wh, "bl", "cust")
        .updateProperties(Map("write.bloom-columns" -> "c_custkey,c_name"))
      LakeTable.load(wh, "bl", "cust").append(
        Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal").repartition(12))
      val t = LakeTable.load(wh, "bl", "cust")
      val all = t.plannedFiles().size
      val kept = t.plannedFiles(statsFilters = Seq(RangeFilter("c_custkey",
        loNum = Some(BigDecimal(101)), hiNum = Some(BigDecimal(101))))).size
      require(kept < all,
        s"bloom point-lookup must prune files: kept $kept of $all")
      val keptStr = t.plannedFiles(statsFilters = Seq(RangeFilter("c_name",
        loStr = Some("Customer#000000042"),
        hiStr = Some("Customer#000000042")))).size
      require(keptStr < all,
        s"string bloom point-lookup must prune files: kept $keptStr of $all")
      s.conf.set("spark.sql.catalog.gbloom", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gbloom.warehouse", wh)
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal FROM gbloom.bl.cust
          |WHERE c_custkey = 101
          |UNION ALL
          |SELECT c_custkey, c_name, c_acctbal FROM gbloom.bl.cust
          |WHERE c_name = 'Customer#000000042'
          |ORDER BY c_custkey""".stripMargin)
    }),

    "lake_bloom_backfill" -> QueryModule.micro(4)((s, dir) => {
      // bloom BACKFILL: files written before write.bloom-columns was
      // set — plus a parquet file registered by reference via
      // add_files — carry no filters and can never skip; CALL
      // system.build_blooms builds their sidecars in one distributed
      // pass and re-references the same paths (byte-move snapshot, no
      // data rewrite). The self-audit requires pruning to appear only
      // AFTER the call; the oracle pins the lookup results, so a
      // lossy backfill (wrong hash, wrong reconciliation) mismatches.
      import graft.lake.RangeFilter
      val wh = LakeQueries.freshWarehouse("bloombf")
      Engine.processTableDefJson(wh,
        """{"database_name":"bf","table_name":"cust","columns":[
          |{"column_name":"c_custkey","data_type":"long"},
          |{"column_name":"c_name","data_type":"string"},
          |{"column_name":"c_acctbal","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val customers = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      // pre-property files: no blooms at write time
      LakeTable.load(wh, "bf", "cust").append(
        customers.filter(col("c_custkey") % 2 === 0).repartition(8))
      // registered-by-reference files: the other never-bloomed class
      val extDir = java.nio.file.Files
        .createTempDirectory("graft-bloombf-ext")
      customers.filter(col("c_custkey") % 2 =!= 0)
        .coalesce(2).write.mode("overwrite").parquet(extDir.toString)
      val extFiles = java.nio.file.Files.list(extDir).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      LakeTable.load(wh, "bf", "cust").addFiles(s, extFiles)
      LakeTable.load(wh, "bf", "cust")
        .updateProperties(Map("write.bloom-columns" -> "c_custkey"))
      val probe = Seq(RangeFilter("c_custkey",
        loNum = Some(BigDecimal(101)), hiNum = Some(BigDecimal(101))))
      val t0 = LakeTable.load(wh, "bf", "cust")
      val all = t0.plannedFiles().size
      require(t0.plannedFiles(statsFilters = probe).size == all,
        "before the backfill nothing can prune (keys are shuffled, " +
          "ranges overlap)")
      s.conf.set("spark.sql.catalog.gbloombf", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gbloombf.warehouse", wh)
      val n = s.sql("CALL gbloombf.system.build_blooms('bf', 'cust')")
        .collect().head.getInt(0)
      require(n == all, s"all $all files should backfill, got $n")
      val t = LakeTable.load(wh, "bf", "cust")
      require(t.plannedFiles(statsFilters = probe).size < all,
        "after the backfill the point lookup must prune")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal FROM gbloombf.bf.cust
          |WHERE c_custkey IN (101, 102, 407)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "lake_merge_nmbs" -> QueryModule.micro(4)((s, dir) => {
      // MERGE with the full three-clause sync shape, including
      // Spark 4's WHEN NOT MATCHED BY SOURCE — conditional delete of
      // target rows the source no longer carries (the "mirror with
      // carve-outs" pattern). Runs through the engine's DSv2
      // row-level-operation plumbing; the oracle reconstructs the
      // merged state from the raw inputs.
      val wh = LakeQueries.freshWarehouse("mergenmbs")
      Engine.processTableDefJson(wh,
        """{"database_name":"ms","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val nation = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      LakeTable.load(wh, "ms", "nat").append(nation)
      // source: updated copies of keys < 10, plus brand-new keys
      nation.filter(col("n_nationkey") < 10)
        .withColumn("n_name", concat(col("n_name"), lit("_v2")))
        .unionByName(nation.filter(col("n_nationkey") < 5)
          .withColumn("n_nationkey", col("n_nationkey") + 100)
          .withColumn("n_name", concat(col("n_name"), lit("_new"))))
        .createOrReplaceTempView("nmbs_src")
      s.conf.set("spark.sql.catalog.gnmbs", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gnmbs.warehouse", wh)
      s.sql(
        """MERGE INTO gnmbs.ms.nat t USING nmbs_src s
          |ON t.n_nationkey = s.n_nationkey
          |WHEN MATCHED THEN UPDATE SET n_name = s.n_name
          |WHEN NOT MATCHED THEN
          |  INSERT (n_nationkey, n_name, n_regionkey)
          |  VALUES (s.n_nationkey, s.n_name, s.n_regionkey)
          |WHEN NOT MATCHED BY SOURCE AND t.n_regionkey = 0 THEN
          |  DELETE""".stripMargin).collect()
      s.sql("SELECT n_nationkey, n_name, n_regionkey " +
        "FROM gnmbs.ms.nat ORDER BY n_nationkey")
    }),

    "lake_ctas" -> QueryModule.micro(4)((s, dir) => {
      // CTAS / RTAS / timestamp time travel through the catalog
      // plugin: Spark's non-atomic CreateTableAsSelect and
      // ReplaceTableAsSelect compose from the catalog's
      // create/drop/write primitives with NO extra code — the point
      // of implementing TableCatalog properly — and `TIMESTAMP AS OF`
      // resolves through loadTable(ident, timestamp). Self-audits:
      // the pre-append timestamp read serves the old row count; RTAS
      // fully replaces the CTAS schema+content. Oracle pins the final
      // replaced table.
      val wh = LakeQueries.freshWarehouse("ctas")
      Engine.processTableDefJson(wh,
        """{"database_name":"ct","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val nation = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      LakeTable.load(wh, "ct", "nat")
        .append(nation.filter(col("n_regionkey") < 2))
      val firstCount = nation.filter(col("n_regionkey") < 2).count()
      Thread.sleep(5) // snapshot timestamps are ms-resolution
      val ts = java.time.Instant.now().toString
      Thread.sleep(5)
      LakeTable.load(wh, "ct", "nat")
        .append(nation.filter(col("n_regionkey") >= 2))
      s.conf.set("spark.sql.catalog.gctas", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gctas.warehouse", wh)
      require(s.sql(
        s"SELECT count(*) FROM gctas.ct.nat TIMESTAMP AS OF '$ts'")
        .collect().head.getLong(0) == firstCount,
        "TIMESTAMP AS OF must serve the pre-append state")
      s.sql("CREATE TABLE gctas.ct.dst AS " +
        "SELECT n_nationkey, upper(n_name) AS uname FROM gctas.ct.nat")
        .collect()
      require(s.sql("SELECT count(*) FROM gctas.ct.dst").collect()
        .head.getLong(0) == nation.count(), "CTAS must copy all rows")
      // RTAS: a different schema entirely must replace the table
      s.sql("REPLACE TABLE gctas.ct.dst AS " +
        "SELECT n_regionkey, count(*) AS n_nations " +
        "FROM gctas.ct.nat GROUP BY n_regionkey").collect()
      s.sql("SELECT n_regionkey, n_nations FROM gctas.ct.dst " +
        "ORDER BY n_regionkey")
    }),

    "lake_sql_dml" -> QueryModule.micro(4)((s, dir) => {
      // the full SQL surface end-to-end through the catalog plugin:
      // CREATE, INSERT, UPDATE, MERGE INTO, DELETE — oracle expresses
      // the same mutations over the source rows in plain SQL
      val wh = LakeQueries.freshWarehouse("sqldml")
      s.conf.set("spark.sql.catalog.graftdml", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftdml.warehouse", wh)
      s.sql("DROP TABLE IF EXISTS graftdml.rq.n")
      s.sql("""CREATE TABLE graftdml.rq.n (
              |  n_nationkey INT, n_name STRING, n_regionkey INT)""".stripMargin)
      Tables(s, dir, "nation").createOrReplaceTempView("nation_src_v")
      s.sql("""INSERT INTO graftdml.rq.n
              |SELECT n_nationkey, n_name, n_regionkey FROM nation_src_v""".stripMargin)
      s.sql("UPDATE graftdml.rq.n SET n_name = concat(n_name, '_EU') WHERE n_regionkey = 3")
      s.sql("""MERGE INTO graftdml.rq.n t
              |USING (SELECT n_nationkey, n_regionkey FROM nation_src_v
              |       WHERE n_regionkey = 1) s
              |ON t.n_nationkey = s.n_nationkey
              |WHEN MATCHED THEN UPDATE SET t.n_regionkey = s.n_regionkey + 100
              |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
              |  VALUES (s.n_nationkey, 'NEW', s.n_regionkey)""".stripMargin)
      s.sql("DELETE FROM graftdml.rq.n WHERE n_regionkey = 0")
      // replace-style sync: rows the source no longer carries are
      // deleted (WHEN NOT MATCHED BY SOURCE DELETE) or tagged stale
      // (WHEN NOT MATCHED BY SOURCE UPDATE)
      s.sql("""MERGE INTO graftdml.rq.n t
              |USING (SELECT n_nationkey FROM nation_src_v
              |       WHERE n_nationkey < 20) s
              |ON t.n_nationkey = s.n_nationkey
              |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      s.sql("""MERGE INTO graftdml.rq.n t
              |USING (SELECT n_nationkey FROM nation_src_v
              |       WHERE n_nationkey >= 5) s
              |ON t.n_nationkey = s.n_nationkey
              |WHEN NOT MATCHED BY SOURCE THEN
              |  UPDATE SET t.n_name = concat(t.n_name, '_OLD')""".stripMargin)
      s.sql("""SELECT n_nationkey, n_name, n_regionkey
              |FROM graftdml.rq.n ORDER BY n_nationkey""".stripMargin)
    }),

    "lake_scan_pushdown" -> QueryModule.micro(4)((s, dir) => {
      // in-file predicate skipping (r12): a MULTI-row-group lake file
      // (tiny parquet blocks via write.option) read through the DSv2
      // connector with range + IN + string filters — the reader
      // translates the pushed ranges into a parquet FilterPredicate,
      // so row groups skip on stats/dictionaries and records filter
      // before assembly; the residual Spark filter keeps exactness
      // either way, and the oracle recomputes the slice from the raw
      // fixture. Self-audit: the filtered scan must READ far fewer
      // source records than the table holds (recordsRead observable —
      // a regression that stops passing the predicate keeps
      // correctness but fails the audit).
      val wh = LakeQueries.freshWarehouse("pushdown")
      Engine.processTableDefJson(wh,
        """{"database_name":"pd","table_name":"li","columns":[
          |{"column_name":"l_okey","data_type":"long"},
          |{"column_name":"l_part","data_type":"long"},
          |{"column_name":"l_ship","data_type":"string"},
          |{"column_name":"l_qty","data_type":"double"}],
          |"partitions":[],
          |"properties":{
          |  "write.option.parquet.block.size":"16384",
          |  "write.option.parquet.page.size":"2048"}}""".stripMargin)
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("l_okey"),
          col("l_partkey").as("l_part"),
          col("l_returnflag").as("l_ship"),
          col("l_quantity").as("l_qty"))
      // the audit reads the scan's own metric: the scan runs as a job
      // (driver decode off, read.local-scan.max-bytes = 0)
      LakeTable.load(wh, "pd", "li").updateProperties(
        Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
      // one sorted file => row groups carry tight disjoint key ranges
      LakeTable.load(wh, "pd", "li")
        .append(li.repartition(1).sortWithinPartitions("l_okey"))
      s.conf.set("spark.sql.catalog.gpd9", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gpd9.warehouse", wh)
      val total = LakeTable.load(wh, "pd", "li").read(s).count()
      val audited = s.sql(
        "SELECT l_okey, l_part, l_ship, l_qty FROM gpd9.pd.li " +
          "WHERE l_okey BETWEEN 1000 AND 1200 " +
          "AND l_ship IN ('A', 'R') ORDER BY l_okey, l_part")
      val out = audited.collect()
      // the scan's OWN plan metric, not a global recordsRead listener:
      // the listener counted task-end events from whatever else was
      // draining on the shared bus (r16 flake — a preceding key's
      // late events inflated the count past the table size). AQE
      // wrappers hide their subtrees from collect — expand manually.
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scans(q.plan)
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
            b.metrics.get("numOutputRows").map(_.value).toSeq
          case other => other.children.flatMap(scans)
        }
      val cur = scans(audited.queryExecution.executedPlan).sum
      // the vectorized reader skips at row-group/page granularity
      // (no record-level filtering in batch mode), so the audit
      // scales with the file: a tiny sf0.001 file has too few
      // groups for a 2x cut — any skipping proves engagement
      // there, while the driver-gated sizes keep the strong bound
      val budget = if (total >= 20000) total / 2 else total * 4 / 5
      require(cur > 0 && cur < budget,
        s"the pushed predicate must skip source records: read " +
          s"$cur of $total (budget $budget)")
      val rows = out
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
        .toDF("l_okey", "l_part", "l_ship", "l_qty")
        .orderBy("l_okey", "l_part")
    }),

    "lake_rename" -> QueryModule.micro(4)((s, dir) => {
      // ALTER TABLE ... RENAME COLUMN end-to-end: files written under
      // the OLD name must read back under the new one (field-ID
      // reconcile), and a post-rename append under the new name must
      // union cleanly with them.
      val wh = LakeQueries.freshWarehouse("rename")
      s.conf.set("spark.sql.catalog.graftrn", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.graftrn.warehouse", wh)
      s.sql("DROP TABLE IF EXISTS graftrn.rq.r")
      s.sql("""CREATE TABLE graftrn.rq.r (
              |  n_nationkey INT, n_name STRING, n_regionkey INT)""".stripMargin)
      Tables(s, dir, "nation").createOrReplaceTempView("nation_rn_v")
      s.sql("""INSERT INTO graftrn.rq.r
              |SELECT n_nationkey, n_name, n_regionkey FROM nation_rn_v
              |WHERE n_nationkey < 15""".stripMargin)
      s.sql("ALTER TABLE graftrn.rq.r RENAME COLUMN n_name TO nation_name")
      s.sql("""INSERT INTO graftrn.rq.r
              |SELECT n_nationkey, n_name, n_regionkey FROM nation_rn_v
              |WHERE n_nationkey >= 15""".stripMargin)
      s.sql("""SELECT n_nationkey, nation_name, n_regionkey
              |FROM graftrn.rq.r ORDER BY n_nationkey""".stripMargin)
    }),

    "lake_scan_evolved" -> QueryModule.micro(4)((s, dir) => {
      // vectorized read of an EVOLVED table (r13): files written under
      // schema v1 (int counter, float ratio, old column name) read
      // through the DSv2 batch path AFTER an int→long / float→double
      // promotion, an id-preserving rename, and a post-evolution
      // column add — the requested-schema mapping (LakeVectorize)
      // serves old files columnar, renames resolved by field ID and
      // types widened in place by Spark's vectorized updaters.
      // Self-audit: the scan must actually run COLUMNAR
      // (supportsColumnar pinned on the BatchScanExec) — an evolved
      // table silently dropping to row mode is the 100-TB decode
      // cliff this key exists to prevent.
      val wh = LakeQueries.freshWarehouse("scanevolved")
      Engine.processTableDefJson(wh,
        """{"database_name":"ev","table_name":"sup","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"cnt","data_type":"int"},
          |{"column_name":"ratio","data_type":"float"},
          |{"column_name":"sname","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      val sup = Tables(s, dir, "supplier")
      LakeTable.load(wh, "ev", "sup").append(
        sup.filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey").as("k"),
            col("s_nationkey").cast("int").as("cnt"),
            col("s_acctbal").cast("float").as("ratio"),
            col("s_name").as("sname")))
      // promote cnt int→long, ratio float→double (same def, wider)
      Engine.processTableDefJson(wh,
        """{"database_name":"ev","table_name":"sup","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"cnt","data_type":"long"},
          |{"column_name":"ratio","data_type":"double"},
          |{"column_name":"sname","data_type":"string"}],
          |"partitions":[]}""".stripMargin)
      LakeTable.load(wh, "ev", "sup").renameColumn("sname", "label")
      // the check reads the scan's columnar form: the scan runs as a job
      // (driver decode off)
      LakeTable.load(wh, "ev", "sup").updateProperties(
        Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
      s.conf.set("spark.sql.catalog.gse", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.gse.warehouse", wh)
      s.sql("ALTER TABLE gse.ev.sup ADD COLUMN extra STRING")
      LakeTable.load(wh, "ev", "sup").append(
        sup.filter(col("s_suppkey") % 2 === 1)
          .select(col("s_suppkey").as("k"),
            col("s_nationkey").cast("long").as("cnt"),
            col("s_acctbal").as("ratio"),
            col("s_name").as("label"),
            concat(lit("x"), col("s_suppkey").cast("string")).as("extra")))
      val out = s.sql(
        "SELECT k, cnt, ratio, label, extra FROM gse.ev.sup ORDER BY k")
      val scans = out.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b }
      require(scans.nonEmpty && scans.forall(_.supportsColumnar),
        "an evolved table's clean scan must stay on the vectorized path")
      out
    }),

    "lake_timetravel" -> QueryModule.micro(4)((s, dir) => {
      // two appends split on a deterministic predicate; reading AS OF
      // the first snapshot must return exactly the first batch
      val wh = LakeQueries.freshWarehouse("timetravel")
      Engine.processTableDefJson(wh,
        """{"database_name":"rq","table_name":"sup","columns":[
          |{"column_name":"s_suppkey","data_type":"long"},
          |{"column_name":"s_name","data_type":"string"},
          |{"column_name":"s_nationkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val t = LakeTable.load(wh, "rq", "sup")
      val sup = Tables(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
      val firstSnap = t.append(sup.filter(col("s_nationkey") < 12)).id
      t.append(sup.filter(col("s_nationkey") >= 12))
      t.read(s, asOfSnapshot = Some(firstSnap))
        .orderBy("s_suppkey")
    }),

    "lake_rollback_tag" -> QueryModule.micro(4)((s, dir) => {
      // tag the good snapshot, append a bad batch, roll back to the
      // tag via CALL: history truncates instantly (metadata-only) and
      // the read surface returns to the tagged state; the final read
      // goes through VERSION AS OF '<tag>' so ref resolution sits
      // under the oracle too
      val wh = LakeQueries.freshWarehouse("rollback")
      Engine.processTableDefJson(wh,
        """{"database_name":"rq","table_name":"nat","columns":[
          |{"column_name":"n_nationkey","data_type":"int"},
          |{"column_name":"n_name","data_type":"string"},
          |{"column_name":"n_regionkey","data_type":"int"}],
          |"partitions":[]}""".stripMargin)
      val t = LakeTable.load(wh, "rq", "nat")
      val nat = Tables(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val good = t.append(nat.filter(col("n_nationkey") < 13)).id
      t.createRef("validated", good)
      t.append(nat.filter(col("n_nationkey") >= 13)) // the "bad" batch
      s.conf.set("spark.sql.catalog.grbt", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.grbt.warehouse", wh)
      s.sql("CALL grbt.system.rollback_to_snapshot(db => 'rq', " +
        s"`table` => 'nat', snapshot_id => ${good}L)")
      s.sql("""SELECT n_nationkey, n_name, n_regionkey
              |FROM grbt.rq.nat VERSION AS OF 'validated'
              |ORDER BY n_nationkey""".stripMargin)
    }),

    "lake_wap" -> QueryModule.micro(4)((s, dir) => {
      // write-audit-publish: a bad batch is staged (invisible to
      // readers), fails its audit on the staged view, and is discarded;
      // a good batch is staged, passes, and is published via CALL — the
      // final table state is base + good batch only. Iceberg's wap.id +
      // cherrypick flow re-expressed on the engine's staged snapshots.
      val wh = LakeQueries.freshWarehouse("wap")
      Engine.processTableDefJson(wh,
        """{"database_name":"wq","table_name":"cust","columns":[
          |{"column_name":"c_custkey","data_type":"long"},
          |{"column_name":"c_name","data_type":"string"},
          |{"column_name":"c_acctbal","data_type":"double"}],
          |"partitions":[]}""".stripMargin)
      val t = LakeTable.load(wh, "wq", "cust")
      val cust = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      // parity split so both incoming batches are non-empty at every
      // scale factor (negative odd-key balances exist from sf0.001 up)
      t.append(cust.filter(col("c_custkey") % 2 === 0))
      // audit rule: no negative balances may enter the table
      t.appendStaged(cust.filter(col("c_custkey") % 2 === 1 &&
        col("c_acctbal") < 0), wapId = "batch-bad")
      t.appendStaged(cust.filter(col("c_custkey") % 2 === 1 &&
        col("c_acctbal") >= 0), wapId = "batch-good")
      // staged rows must be invisible until published — fail loudly if
      // the staging leaks (keeps the key self-auditing, not just
      // oracle-checked on the happy path)
      val baseRows = t.read(s).count()
      // audit the prospective table state, scoped to the incoming key
      // space (the base batch predates the rule and is grandfathered)
      def violations(wap: String): Long =
        t.readStaged(s, wap)
          .filter(col("c_custkey") % 2 === 1 && col("c_acctbal") < 0).count()
      require(violations("batch-bad") > 0, "bad batch should fail audit")
      require(violations("batch-good") == 0, "good batch should pass audit")
      s.conf.set("spark.sql.catalog.grwp", "graft.sources.LakeCatalog")
      s.conf.set("spark.sql.catalog.grwp.warehouse", wh)
      s.sql("CALL grwp.system.discard_wap(db => 'wq', `table` => 'cust', " +
        "wap_id => 'batch-bad')")
      s.sql("CALL grwp.system.publish_wap(db => 'wq', `table` => 'cust', " +
        "wap_id => 'batch-good')")
      require(LakeTable.load(wh, "wq", "cust").read(s).count() > baseRows,
        "published rows should be visible")
      s.sql("""SELECT c_custkey, c_name, c_acctbal
              |FROM grwp.wq.cust ORDER BY c_custkey""".stripMargin)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "lake_join_skew" ->
      """WITH mn AS (SELECT min(o_orderkey) AS m FROM orders),
        |f AS (SELECT CASE WHEN l_orderkey % 10 < 8
        |    THEN (SELECT m FROM mn) ELSE l_orderkey END AS sk,
        |    l_quantity FROM lineitem),
        |b AS (SELECT o_orderkey AS sk, o_totalprice FROM orders
        |  WHERE o_orderkey = (SELECT m FROM mn) OR o_orderkey % 10 >= 8)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS tp
        |FROM f JOIN b USING (sk)
        |ORDER BY n""".stripMargin,

    "lake_variant" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total
        |FROM orders
        |WHERE o_orderkey % 10 <> 3 AND o_orderkey <= 5000
        |GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin,

    "lake_variant_prune" ->
      """SELECT o_orderkey AS o_key, o_orderstatus AS status
        |FROM orders
        |WHERE o_orderkey % 10 = 3
        |ORDER BY o_key""".stripMargin,

    "lake_scan_sql" ->
      """SELECT c_custkey, c_name, c_acctbal AS acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0.0
        |ORDER BY c_custkey""".stripMargin,

    "lake_scan_pushdown" ->
      """SELECT l_orderkey AS l_okey, l_partkey AS l_part,
        |  l_returnflag AS l_ship, l_quantity AS l_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 1200
        |  AND l_returnflag IN ('A', 'R')
        |ORDER BY l_okey, l_part""".stripMargin,

    "q_star_join" ->
      """SELECT n_name, count(*) AS order_lines,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    // even suppkeys were written pre-evolution (float ratio, no extra
    // column): REAL round-trips the float32 narrowing the lake file
    // stored, widened back to double on read — bit-equal on both sides
    "lake_scan_evolved" ->
      """SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS cnt,
        |  CAST(CAST(s_acctbal AS REAL) AS DOUBLE) AS ratio,
        |  s_name AS label, CAST(NULL AS VARCHAR) AS extra
        |FROM supplier WHERE s_suppkey % 2 = 0
        |UNION ALL
        |SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS cnt,
        |  CAST(s_acctbal AS DOUBLE) AS ratio,
        |  s_name AS label, 'x' || CAST(s_suppkey AS VARCHAR) AS extra
        |FROM supplier WHERE s_suppkey % 2 = 1
        |ORDER BY k""".stripMargin,

    "lake_sql_dml" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey < 5 THEN n_name || '_OLD'
        |       ELSE n_name END AS n_name,
        |  n_regionkey FROM (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 3 THEN n_name || '_EU' ELSE n_name END AS n_name,
        |    CASE WHEN n_regionkey = 1 THEN n_regionkey + 100 ELSE n_regionkey END AS n_regionkey
        |  FROM nation)
        |WHERE n_regionkey <> 0 AND n_nationkey < 20
        |ORDER BY n_nationkey""".stripMargin,

    "lake_timetravel" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE s_nationkey < 12 ORDER BY s_suppkey""".stripMargin,

    "lake_rename" ->
      """SELECT n_nationkey, n_name AS nation_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "lake_rollback_tag" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 13 ORDER BY n_nationkey""".stripMargin,

    "lake_wap" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 2 = 0
        |   OR (c_custkey % 2 = 1 AND c_acctbal >= 0)
        |ORDER BY c_custkey""".stripMargin,
  )
}
