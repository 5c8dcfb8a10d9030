package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.lake.LakeTable

/** Materialized-view QUERY REWRITING: an aggregate SELECT over a lake
  * table answers from a registered materialized view when (a) the
  * query's detected aggregate shape matches the view's recorded
  * shape — EXACTLY (same source, same group keys, same aggregates in
  * order, same WHERE, same join dims — output aliases are free), or
  * by ROLLUP SUBSUMPTION (the query is strictly coarser: its group
  * keys are a subset of the view's and each aggregate re-derives
  * from the view's per-group partials; see [[rollupFrom]]) — and
  * (b) the view is FRESH — its authoritative watermark equals the
  * source head, every dim pin is content-unmoved (byte-moves
  * tolerated), and a tz-sensitive shape was bucketed under the
  * current session zone.
  * Anything else — stale view, underivable shape, HAVING views,
  * approx shapes — falls back to the source scan untouched, so
  * the rewrite can never change a result, only its cost: O(groups)
  * backing read instead of O(source) scan + shuffle. That asymmetry
  * is the whole point at 100 TB — the classic Calcite/Materialize
  * aggregate-rewrite, scoped to shapes this engine can PROVE
  * equivalent from its own persisted metadata.
  *
  * Runs post-analysis (the plan is resolved; detection reuses the
  * exact machinery CREATE MATERIALIZED VIEW runs). Disable with
  * `spark.graft.matview.rewrite=false`.
  */
object MatViewRewrite {

  /** Last rewrite THIS THREAD performed, for plan self-audits:
    * (viewDb, viewName). Cleared at the start of every apply().
    * Thread-local, not JVM-global: concurrent queries (the driver's
    * Verify pool, parallel notebooks) each run apply() on their own
    * calling thread, and a global would let one query's clear race
    * another's assertion. */
  private val lastRewriteTL =
    new ThreadLocal[Option[(String, String)]] {
      override def initialValue: Option[(String, String)] = None
    }
  private val lastRewriteKindTL = new ThreadLocal[Option[String]] {
    override def initialValue: Option[String] = None
  }
  def lastRewrite: Option[(String, String)] = lastRewriteTL.get()

  /** How this thread's last rewrite matched: "exact" (shape
    * identity) or "rollup" (coarser re-aggregation over a finer MV). */
  def lastRewriteKind: Option[String] = lastRewriteKindTL.get()

  private val lastRewriteAgeTL = new ThreadLocal[Option[Long]] {
    override def initialValue: Option[Long] = None
  }

  /** Data age (ms) of this thread's last rewrite: 0 when the view was
    * exactly fresh, positive when a `rewrite.max-staleness-ms` bound
    * admitted a bounded-stale serve. */
  def lastRewriteAgeMs: Option[Long] = lastRewriteAgeTL.get()

  def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.matview.rewrite", "true") != "false"

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    lastRewriteTL.set(None)
    lastRewriteKindTL.set(None)
    lastRewriteAgeTL.set(None)
    if (!enabled(spark)) return plan
    // fast bail: no aggregate over a lake relation, nothing to do
    val hasLakeAgg = plan.exists {
      case a: Aggregate => a.child.exists {
        // engine-internal reads (pinned to a handle) read exactly the
        // handle's state — a view never answers for them
        case r: DataSourceV2Relation => r.table match {
          case t: LakeSparkTable => t.pin.isEmpty
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }
    if (!hasLakeAgg) return plan
    // transformUp, not resolveOperatorsUp: the latter no-ops on plans
    // already marked analyzed (the bridge path hands us exactly that)
    org.apache.spark.sql.catalyst.plans.logical.AnalysisHelper
      .allowInvokingTransformsInAnalyzer {
        plan.transformUp {
          case agg: Aggregate => rewriteAgg(spark, agg).getOrElse(agg)
        }
      }
  }

  private def warehouseOf(p: LogicalPlan): Option[String] =
    p.collectFirst {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[LakeSparkTable] =>
        r.table.asInstanceOf[LakeSparkTable].wh
    }

  /** Spec equality up to output NAMES: the user's aliases are theirs;
    * what must coincide is the kind, the argument SQL, and the order
    * (order fixes the positional column correspondence). */
  private def sameSpecs(a: Seq[MatViews.AggSpec],
      b: Seq[MatViews.AggSpec]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (MatViews.GroupCol(_, x), MatViews.GroupCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.CountStar(_), MatViews.CountStar(_)) => true
      case (MatViews.CountCol(_, x), MatViews.CountCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.SumCol(_, x), MatViews.SumCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.SumNCol(_, x), MatViews.SumNCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.MinCol(_, x), MatViews.MinCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.MaxCol(_, x), MatViews.MaxCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.CountDCol(_, x), MatViews.CountDCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.SumDCol(_, x), MatViews.SumDCol(_, y)) =>
        canon(x) == canon(y)
      case (MatViews.AvgDCol(_, x, p1, s1),
        MatViews.AvgDCol(_, y, p2, s2)) =>
        canon(x) == canon(y) && p1 == p2 && s1 == s2
      case (MatViews.AvgCol(_, x, p1, s1), MatViews.AvgCol(_, y, p2, s2))
        => canon(x) == canon(y) && p1 == p2 && s1 == s2
      case _ => false
    }

  private def sameShape(user: MatViews.AggShape,
      mv: MatViews.AggShape): Boolean =
    user.srcDb == mv.srcDb && user.srcTable == mv.srcTable &&
      user.filterSql == mv.filterSql &&
      // HAVING views filter at read time over hidden columns — their
      // visible set diverges from storage; out of exact-match scope
      mv.havingSql.isEmpty && user.havingSql.isEmpty &&
      mv.visible.isEmpty &&
      user.dims.map(d => (d.db, d.table, d.condSql)) ==
        mv.dims.map(d => (d.db, d.table, d.condSql)) &&
      sameSpecs(user.specs, mv.specs)

  private def q(n: String): Column = col(s"`$n`")

  /** Canonical rendering of a spec's argument SQL: legacy docs stored
    * plain column names backtick-quoted while detect() renders them
    * bare — strip one backtick layer when the inner text is a plain
    * identifier so the two eras compare equal (the same duality
    * [[rollupFrom]]'s backingFilter already accepts). */
  private def canon(s: String): String =
    if (s.length > 1 && s.startsWith("`") && s.endsWith("`")) {
      val inner = s.substring(1, s.length - 1)
      if (inner.matches("[A-Za-z_][A-Za-z0-9_]*")) inner else s
    } else s

  /** ROLLUP SUBSUMPTION: the user's aggregate is derivable from a
    * FINER materialization — user group keys ⊆ mv group keys (matched
    * by argument SQL), same source/dims, and every user aggregate
    * re-aggregates from the mv's per-group storage columns:
    * count(*) = Σ row counts, count(x)/sum(x) = Σ partials, min/max =
    * min/max of partials, avg = Σ sums / Σ counts (the exact division
    * the fronting view runs), count(distinct k) for an mv GROUP KEY k
    * = countDistinct over the backing key column. The WHERE must
    * either match the mv's exactly, or — when the mv is unfiltered —
    * reference ONLY mv group keys stored under their own names, in
    * which case it filters the backing table before re-aggregation
    * (each group's rows all share the key value, so pre- vs
    * post-aggregation filtering is the same set).
    *
    * Returns the storage→result builder producing the user's declared
    * columns in declared order, or None when not derivable. Aggregate
    * sums cast back to the mv storage column's type — the value is
    * identical whenever the user's own query would not overflow.
    */
  private def rollupFrom(user: MatViews.AggShape,
      mv: MatViews.AggShape): Option[DataFrame => DataFrame] = {
    import MatViews._
    if (user.srcDb != mv.srcDb || user.srcTable != mv.srcTable)
      return None
    if (mv.havingSql.nonEmpty || user.havingSql.nonEmpty ||
        mv.visible.nonEmpty) return None
    if (user.dims.map(d => (d.db, d.table, d.condSql)) !=
        mv.dims.map(d => (d.db, d.table, d.condSql))) return None
    def mvGroup(src: String): Option[GroupCol] =
      mv.groupCols.find(g => canon(g.srcCol) == canon(src))
    // WHERE: identical, or a group-key-only predicate over an
    // UNfiltered mv (applied to the backing table pre-aggregation)
    val backingFilter: Option[String] =
      (user.filterSql, mv.filterSql) match {
        case (u, m) if u == m => None
        case (Some(f), None) =>
          val refs = try {
            org.apache.spark.sql.SparkSession.active.sessionState
              .sqlParser.parseExpression(f).collect {
                case a: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => a.name
              }
          } catch { case scala.util.control.NonFatal(_) => return None }
          // every referenced column must be an mv group key stored
          // under its OWN name, so the predicate applies verbatim
          // (srcCol holds the spec's SQL rendering — a plain column
          // arrives unquoted, but accept the quoted form too)
          if (refs.isEmpty || !refs.forall(n =>
              mvGroup(n).orElse(
                mvGroup(s"`${n.replace("`", "``")}`"))
                .exists(_.outName == n)))
            return None
          Some(f)
        case _ => return None
      }
    val userGroups = user.groupCols
    if (!userGroups.forall(g => mvGroup(g.srcCol).isDefined))
      return None
    Some { storage: DataFrame =>
      val schema = storage.schema
      def st(n: String) = schema.fields.find(_.name == n).get.dataType
      def sumAs(c: String, n: String): Column = st(c) match {
        // integral sums stay long; decimal re-sums widen — cast back
        // to the per-group partial's type (value-identical whenever
        // the user's own sum would not overflow)
        case _: DecimalType => sum(q(c)).cast(st(c)).as(n)
        case _ => sum(q(c)).as(n)
      }
      val aggCols: Seq[Column] = user.specs.flatMap {
        case _: GroupCol => Nil
        case CountStar(n) =>
          val rc = mv.specs.collectFirst { case CountStar(m) => m }
            .orElse(if (mv.needsHiddenRows) Some("__g_rows") else None)
            .getOrElse(throw Unsupported)
          Seq(sum(q(rc)).as(n))
        case CountCol(n, c) =>
          val m = mv.specs.collectFirst {
            case CountCol(o, s) if canon(s) == canon(c) => o
          }.getOrElse(throw Unsupported)
          Seq(sum(q(m)).as(n))
        case SumCol(n, c) =>
          val m = mv.specs.collectFirst {
            case SumCol(o, s) if canon(s) == canon(c) => o
          }.getOrElse(throw Unsupported)
          Seq(sumAs(m, n))
        case SumNCol(n, c) =>
          // a fully-retracted group stores sum=0/cnt=0 where the true
          // contribution is NULL — mask before re-summing, and the
          // re-sum's own null-skipping restores NULL iff no group has
          // a non-null value
          val m = mv.specs.collectFirst {
            case SumNCol(o, s) if canon(s) == canon(c) => o
          }.getOrElse(throw Unsupported)
          val masked = when(q(s"__sum_cnt_$m") === 0L, lit(null))
            .otherwise(q(m))
          Seq((st(m) match {
            case _: DecimalType => sum(masked).cast(st(m))
            case _ => sum(masked)
          }).as(n))
        case MinCol(n, c) =>
          val m = mv.specs.collectFirst {
            case MinCol(o, s) if canon(s) == canon(c) => o
          }.getOrElse(throw Unsupported)
          Seq(min(q(m)).as(n))
        case MaxCol(n, c) =>
          val m = mv.specs.collectFirst {
            case MaxCol(o, s) if canon(s) == canon(c) => o
          }.getOrElse(throw Unsupported)
          Seq(max(q(m)).as(n))
        case AvgCol(n, c, p, sc) =>
          val m = mv.specs.collectFirst {
            case AvgCol(o, s, p2, s2)
              if canon(s) == canon(c) && p2 == p && s2 == sc => o
          }.getOrElse(throw Unsupported)
          // cast the re-sum back to the per-group partial's type:
          // the division's adjusted decimal scale must match the one
          // the fronting view (and the user's own query) computes, or
          // a boundary quotient rounds differently — the one way a
          // rewrite could change a result
          val ts = sum(q(s"__avg_sum_$m")).cast(st(s"__avg_sum_$m"))
          val tc = sum(q(s"__avg_cnt_$m"))
          Seq(when(tc === 0L, lit(null).cast(DecimalType(p, sc)))
            .otherwise((ts / tc.cast(DecimalType(20, 0)))
              .cast(DecimalType(p, sc))).as(n))
        case CountDCol(n, c) =>
          // count(distinct k) where k is an mv GROUP KEY: the backing
          // table holds exactly one row per live key combination
          val m = mvGroup(c).getOrElse(throw Unsupported)
          Seq(count_distinct(q(m.outName)).as(n))
        case SumDCol(n, c) =>
          // sum(distinct k) over an mv group key: the DISTINCT value
          // set within a user group is exactly the backing rows' key
          // values (re-deduplicated across finer combinations)
          val m = mvGroup(c).getOrElse(throw Unsupported)
          Seq(sum_distinct(q(m.outName)).as(n))
        case AvgDCol(n, c, p, sc) =>
          val m = mvGroup(c).getOrElse(throw Unsupported)
          Seq(expr(
            s"avg(DISTINCT `${m.outName.replace("`", "``")}`)").as(n))
      }
      if (aggCols.isEmpty) throw Unsupported // degenerate: keys only
      val filtered = backingFilter
        .map(f => storage.filter(expr(f))).getOrElse(storage)
      filtered
        .groupBy(userGroups.map(g =>
          q(mvGroup(g.srcCol).get.outName).as(g.outName)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .select(user.specs.map(sp => q(sp.outName)): _*)
    }
  }

  private object Unsupported extends RuntimeException

  /** The storage→result builder for a candidate MV, trying exact
    * shape identity first, then rollup subsumption. The returned
    * function may still throw [[Unsupported]] lazily (an aggregate
    * with no derivable partial) — callers treat that as no-match.
    */
  private def planBuilder(user: MatViews.AggShape,
      mv: MatViews.AggShape)
      : Option[(String, DataFrame => DataFrame)] =
    if (sameShape(user, mv))
      Some(("exact", (df: DataFrame) => MatViews.visibleFrame(df, mv)))
    else rollupFrom(user, mv).map(b => ("rollup", b))

  /** Servability of the MV for rewriting, as the AGE of the data it
    * is missing: Some(0) = exactly fresh (the backing table's
    * authoritative bookkeeping — watermark, dim pins, tz, all
    * advanced in the same transaction as the data — matches the live
    * heads, byte-moves don't count as movement), Some(age > 0) =
    * stale but within the view's declared
    * `rewrite.max-staleness-ms` bound (the oldest unreplayed source
    * or dim commit is at most that old — the BigQuery/Snowflake
    * bounded-staleness contract, opt-in per view), None = not
    * servable. Correctness conditions are NEVER relaxed by the bound:
    * a rolled-back-through watermark or pin, a mismatched tz, an
    * unstamped (age-unknown) commit, or a lost pin refuse regardless.
    */
  private def freshness(spark: SparkSession, warehouse: String,
      mv: MatViews.AggShape, backing: LakeTable,
      docProps: Map[String, String]): Option[Long] = {
    val props = backing.metadata.properties
    val srcSnaps = LakeTable.load(warehouse, mv.srcDb, mv.srcTable)
      .metadata.snapshots
    val w = props.get("graft.mat-view.watermark")
      .flatMap(_.toLongOption).getOrElse(return None)
    if (w > 0) {
      // the watermark must still NAME the commit it named (a rollback
      // re-uses ids) — broken lineage is never "stale", it's wrong
      val ws = srcSnaps.find(_.id == w).getOrElse(return None)
      if (!props.get("graft.mat-view.watermark-ts")
          .forall(_.toLongOption.contains(ws.timestampMs))) return None
    }
    // tz bucketing correctness is not staleness — mismatch refuses
    if (mv.tzSensitive && !props.get("graft.mat-view.tz")
        .contains(spark.sessionState.conf.sessionLocalTimeZone))
      return None
    // commit times of everything the MV has NOT replayed: real source
    // commits past the watermark plus real dim movement past the pins
    // (byte-moves are content-identical — never missing)
    val missingSrc = srcSnaps
      .filter(s => s.id > w && !LakeTable.isByteMove(s.operation))
      .map(_.timestampMs)
    val missingDims = mv.dims.flatMap { d =>
      val t = LakeTable.load(warehouse, d.db, d.table)
      val pin = props.get(MatViews.dimPinKey(d)).getOrElse(return None)
      if (MatViews.dimContentUnmoved(t, pin)) Nil
      else {
        val Array(idS, tsS) = pin.split(":")
        val (id, ts) = (idS.toLong, tsS.toLong)
        if (id > 0 && !t.metadata.snapshots.exists(s =>
            s.id == id && s.timestampMs == ts)) return None
        t.metadata.snapshots
          .filter(s => s.id > id && !LakeTable.isByteMove(s.operation))
          .map(_.timestampMs)
      }
    }
    val missing = missingSrc ++ missingDims
    if (missing.isEmpty) Some(0L)
    else docProps.get("rewrite.max-staleness-ms")
      .flatMap(_.toLongOption).flatMap { bound =>
        if (missing.exists(_ < 0)) None // unstamped commit: age unknown
        else {
          val age = System.currentTimeMillis() - missing.min
          if (age >= 0 && age <= bound) Some(age) else None
        }
      }
  }

  private def rewriteAgg(spark: SparkSession,
      agg: Aggregate): Option[LogicalPlan] = {
    val wh = warehouseOf(agg.child).getOrElse(return None)
    val userShape = MatViews.detect(agg, wh).getOrElse(return None)
    // scan the warehouse's view docs (shared with the expiry pin cap);
    // O(views) tiny JSON reads, and only for queries that already ARE
    // lake aggregates
    val candidates = MatViews.matViewDocs(wh)
    // evaluate EVERY candidate, then prefer exact-shape over rollup
    // re-aggregation and fresher over bounded-stale — without the
    // ordering, which view answers would follow directory-listing
    // order (a stale-but-bounded view could shadow an exactly-fresh
    // exact match, nondeterministically across machines)
    // rank cheaply first (shape match + freshness — no plan built),
    // THEN build frames lazily in rank order: all but the winner's
    // planning work is skipped, and a best-ranked candidate that
    // fails late (Unsupported partial, type drift) falls through to
    // the next instead of suppressing the rewrite entirely
    val ranked = candidates.flatMap { case (db, doc) =>
      try {
        for {
          mvShape0 <- MatViews.decode(doc.properties)
          // a HAVING MV materializes ALL groups (the threshold is a
          // read-time view filter over hidden columns) — its backing
          // table serves any query the unfiltered shape serves, so
          // match against the shape with the read-time dressing
          // stripped. (A HAVING on the USER side needs nothing here:
          // the analyzer's outer Filter survives above the rewritten
          // inner Aggregate.)
          mvShape = mvShape0.copy(havingSql = None, visible = None)
          (kind, builder) <- planBuilder(userShape, mvShape)
          matTable <- doc.properties.get("graft.mat-view.table")
          backing = LakeTable.load(wh, db, matTable)
          age <- freshness(spark, wh, mvShape, backing, doc.properties)
        } yield (db, doc.name, kind, age, builder, backing)
      } catch { case scala.util.control.NonFatal(_) => None }
    }.sortBy { case (_, _, kind, age, _, _) =>
      (if (kind == "exact") 0 else 1, age)
    }
    val out = agg.aggregateExpressions.map(_.toAttribute)
    ranked.iterator.flatMap {
      case (db, viewName, kind, age, builder, backing) =>
        try {
          // building the result frame may still prove the shape
          // underivable (Unsupported) — fall to the next candidate
          val frame = builder(backing.read(spark))
          val child = frame.queryExecution.analyzed
          // positional correspondence is guaranteed by the builder
          // (user spec order); keep the user's names and exprIds so
          // the parent operators' references stay bound
          if (out.map(_.dataType) != child.output.map(_.dataType))
            None // type drift — try the next candidate
          else {
            lastRewriteTL.set(Some((db, viewName)))
            lastRewriteKindTL.set(Some(kind))
            lastRewriteAgeTL.set(Some(age))
            Some(Project(out.zip(child.output).map { case (o, n) =>
              Alias(n, o.name)(exprId = o.exprId)
            }, child))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption()
  }
}
