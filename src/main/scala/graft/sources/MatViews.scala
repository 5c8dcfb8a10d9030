package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StringType,
  StructType}

import graft.lake.LakeTable

/** Incremental maintenance for materialized views — the classic
  * self-maintainable aggregate class: when the defining query is ONE
  * aggregate over ONE lake table — group keys and aggregate
  * arguments may be any persistable row-local expression
  * (`date_trunc` buckets, `price * qty`), an optional persistable
  * WHERE filters the source; COUNT(*)/COUNT/SUM/MIN/MAX/AVG, no
  * DISTINCT, no FILTER clauses, no joins — a refresh only needs the
  * rows that CHANGED since the recorded snapshot watermark: aggregate the delta,
  * merge it into the current per-group values, and blind-upsert the
  * changed groups — O(delta) source reads and O(changed groups) writes,
  * against the full recompute's O(source).
  *
  * Exactness rules (the oracle compares against a one-pass
  * recompute):
  *   - SUM over float/double is NOT incrementally exact (addition
  *     order changes the ulps) — such shapes stay full-refresh-only.
  *   - AVG is maintainable only over DECIMAL columns, via hidden
  *     exact sum/count storage columns; the fronting view divides
  *     exactly as Spark's own Average does (`sum / CAST(cnt AS
  *     DECIMAL(20,0))`, cast to the declared result type). AVG over
  *     int/long is refused too: Spark's Average there accumulates in
  *     DOUBLE, so even the engine's declared semantics are
  *     order-dependent — an exact integer-sum merge would drift from
  *     the recompute by ulps.
  *   - MIN/MAX merge with least/greatest — exact for appends only;
  *     shapes containing them refuse any non-append delta (a deleted
  *     row can't be retracted out of a min).
  *   - COUNT/SUM/AVG-only shapes RETRACT: a delta containing MoR/CoW
  *     deletes or copy-on-write updates is consumed through the
  *     row-level changelog with +/- signs, and groups whose hidden
  *     row count reaches zero are deleted from the materialization.
  *     Equality-delete snapshots refuse (their markers carry only key
  *     columns, so the deleted measures can't be re-derived).
  *   - the scan that seeds the materialization is PINNED to the
  *     watermark snapshot, so a commit racing the build can never be
  *     half-counted: it lands entirely in the next delta.
  *
  * Storage: "v2" MVs (everything created since AVG/retraction
  * support) materialize a STORAGE layout — group columns, one column
  * per plain aggregate, `__avg_sum_<n>`/`__avg_cnt_<n>` per AVG, and
  * a hidden `__g_rows` COUNT(*) for retractable shapes without a
  * visible one; the registered view projects the declared columns
  * back out. Docs without the storage marker keep the legacy
  * visible-only layout (append-only incremental, no AVG).
  */
private[graft] object MatViews {

  sealed trait AggSpec { def outName: String }
  case class GroupCol(outName: String, srcCol: String) extends AggSpec
  case class CountStar(outName: String) extends AggSpec
  case class CountCol(outName: String, srcCol: String) extends AggSpec
  case class SumCol(outName: String, srcCol: String) extends AggSpec
  /** SUM over a NULLABLE argument: retraction can delete the last
    * non-null value of a surviving group, at which point the true sum
    * is NULL but the signed arithmetic has merged to exactly 0 — so
    * the storage carries a hidden non-null counter
    * (`__sum_cnt_<n>`, like AVG's) and the visible projection nulls
    * the sum when it reaches zero. Legacy `sum:` entries over a
    * nullable argument lack the counter and refuse retraction.
    */
  case class SumNCol(outName: String, srcCol: String) extends AggSpec
  case class MinCol(outName: String, srcCol: String) extends AggSpec
  case class MaxCol(outName: String, srcCol: String) extends AggSpec
  /** COUNT(DISTINCT x): never additively mergeable — a delta row may
    * duplicate a value the group already counted, and a retraction may
    * remove one of several duplicates — so EVERY refresh of a shape
    * carrying one routes through the touched-group recompute
    * ([[AggShape.recomputeOnly]]); the recompute re-derives whole
    * groups from the head image, where DISTINCT is just another
    * aggregate. */
  case class CountDCol(outName: String, srcCol: String) extends AggSpec
  /** SUM(DISTINCT x) / AVG(DISTINCT x): recompute-only like
    * COUNT(DISTINCT) — storage holds the FINAL per-group value (the
    * touched-group recompute overwrites whole groups, so no partials
    * are needed). AVG keeps the declared decimal result type so the
    * recompute reproduces the exact division. */
  case class SumDCol(outName: String, srcCol: String) extends AggSpec
  case class AvgDCol(outName: String, srcCol: String,
      resPrec: Int, resScale: Int) extends AggSpec
  /** AVG over a decimal column; (resPrec, resScale) is the declared
    * Average result type (DECIMAL(p+4, s+4)), persisted so the
    * fronting view can reproduce the exact division + cast. */
  case class AvgCol(outName: String, srcCol: String,
      resPrec: Int, resScale: Int) extends AggSpec {
    def resultType: DecimalType = DecimalType(resPrec, resScale)
  }

  /** One storage column of the materialization and how it merges. */
  sealed trait StoreKind
  case object KCount extends StoreKind
  case object KSum extends StoreKind
  case object KMin extends StoreKind
  case object KMax extends StoreKind
  case class StoreCol(name: String, kind: StoreKind)

  /** One dimension side of a JOIN-shaped MV: a lake table inner-joined
    * to the fact (or to the join built so far — left-deep), with a
    * persistable condition stored as qualifier-stripped SQL. Fact
    * deltas maintain incrementally by delta-join expansion
    * (γ(ΔF ⋈ D) merges exactly like a single-table delta, because
    * inner join distributes over union on the fact side — with D
    * FROZEN at its pinned snapshot); a dim that moved refuses to a
    * full refresh, which re-pins it.
    */
  case class DimSpec(db: String, table: String, condSql: String)

  case class AggShape(srcDb: String, srcTable: String,
      specs: Seq[AggSpec], storageV2: Boolean = true,
      filterSql: Option[String] = None,
      tzSensitive: Boolean = false,
      tz: Option[String] = None,
      havingSql: Option[String] = None,
      visible: Option[Seq[String]] = None,
      dims: Seq[DimSpec] = Nil) {
    /** The columns the VIEW serves, in declared order — a HAVING
      * query may materialize extra storage-only aggregates
      * (`__having_<i>`) its condition references. */
    def visibleCols: Seq[String] = visible.getOrElse(specs.map(_.outName))

    def groupCols: Seq[GroupCol] =
      specs.collect { case g: GroupCol => g }

    /** COUNT/SUM/AVG only — deletes and CoW updates can be merged as
      * signed deltas; MIN/MAX cannot un-see a removed extremum, and
      * COUNT(DISTINCT) cannot tell a duplicate from a new value. */
    def retractable: Boolean = specs.forall {
      case _: MinCol | _: MaxCol | _: CountDCol | _: SumDCol |
          _: AvgDCol => false
      case _ => true
    }

    /** Shapes that can NEVER merge additively — even a pure-append
      * delta may duplicate values a DISTINCT aggregate already saw —
      * so every incremental refresh routes through the touched-group
      * recompute. */
    def recomputeOnly: Boolean = specs.exists {
      case _: CountDCol | _: SumDCol | _: AvgDCol => true
      case _ => false
    }

    /** Retraction needs a per-group row count to know when a group
      * empties; reuse a declared COUNT(*) or add a hidden one. */
    def needsHiddenRows: Boolean = storageV2 && retractable &&
      !specs.exists(_.isInstanceOf[CountStar])

    /** The storage column holding the group's row count (retraction's
      * emptiness signal). */
    def rowsCol: String = specs.collectFirst {
      case CountStar(n) => n
    }.getOrElse("__g_rows")

    /** Storage differs from the declared output (hidden columns). */
    def hidden: Boolean = needsHiddenRows ||
      specs.exists(sp => sp.isInstanceOf[AvgCol] ||
        sp.isInstanceOf[SumNCol])

    /** Non-group storage columns, canonical order: declared aggregate
      * order (AVG expands to sum+cnt), hidden row count last. */
    def storeCols: Seq[StoreCol] = specs.flatMap {
      case _: GroupCol => Nil
      case CountStar(n) => Seq(StoreCol(n, KCount))
      case CountCol(n, _) => Seq(StoreCol(n, KCount))
      case SumCol(n, _) => Seq(StoreCol(n, KSum))
      case SumNCol(n, _) => Seq(StoreCol(n, KSum),
        StoreCol(s"__sum_cnt_$n", KCount))
      case MinCol(n, _) => Seq(StoreCol(n, KMin))
      case MaxCol(n, _) => Seq(StoreCol(n, KMax))
      // kinds nominal — recompute-only shapes never merge(), the
      // blind upsert overwrites whole recomputed groups
      case CountDCol(n, _) => Seq(StoreCol(n, KCount))
      case SumDCol(n, _) => Seq(StoreCol(n, KSum))
      case AvgDCol(n, _, _, _) => Seq(StoreCol(n, KSum))
      case AvgCol(n, _, _, _) => Seq(StoreCol(s"__avg_sum_$n", KSum),
        StoreCol(s"__avg_cnt_$n", KCount))
    } ++ (if (needsHiddenRows) Seq(StoreCol("__g_rows", KCount)) else Nil)
  }

  /** Detect the self-maintainable shape in an ANALYZED plan; None →
    * the view stays full-refresh-only (always sound). Recognized
    * shapes: a bare Aggregate, `HAVING` (a persistable Filter over
    * the Aggregate), and the Project(attrs) the analyzer adds when
    * the HAVING condition references aggregates that are not
    * selected — those materialize as hidden `__having_<i>` storage
    * columns the fronting view filters on (read-time, like any view
    * predicate; maintenance is untouched).
    */
  def detect(plan: LogicalPlan, warehouse: String): Option[AggShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    // subquery aliases are name scoping, not computation — a grouped
    // subquery arrives as Project/Filter over SubqueryAlias(Aggregate)
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      case other => other
    }
    strip(plan) match {
      case agg: Aggregate => detectAgg(agg, warehouse)
      case Filter(cond, fc) if persistable(cond) => strip(fc) match {
        case agg: Aggregate =>
          withHaving(agg, Some(cond),
            agg.aggregateExpressions.map(_.toAttribute), warehouse)
        case _ => None
      }
      case Project(ps, pc)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        strip(pc) match {
          case Filter(cond, fc) if persistable(cond) => strip(fc) match {
            case agg: Aggregate =>
              withHaving(agg, Some(cond),
                ps.map(_.asInstanceOf[AttributeReference]), warehouse)
            case _ => None
          }
          // a pure column subset/reorder above the aggregate — same
          // machinery, no condition
          case agg: Aggregate =>
            withHaving(agg, None,
              ps.map(_.asInstanceOf[AttributeReference]), warehouse)
          case _ => None
        }
      case _ => None
    }
  }

  /** HAVING handling: storage materializes ALL aggregate outputs
    * (unselected ones under hidden names — their analyzer-given names
    * like `count(1)` are not legal storage column names), the shape
    * records the condition against storage names plus the visible
    * column list, and the fronting view applies the filter at read
    * time. The maintenance algebra is identical to the no-HAVING
    * shape: groups are materialized unconditionally.
    */
  private def withHaving(agg: Aggregate, cond: Option[Expression],
      visible: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      warehouse: String): Option[AggShape] = {
    val visIds = visible.map(_.exprId).toSet
    val condRefs = cond.map(_.references.map(_.exprId).toSet)
      .getOrElse(Set.empty[org.apache.spark.sql.catalyst
        .expressions.ExprId])
    def isGroupOut(
        o: org.apache.spark.sql.catalyst.expressions.NamedExpression)
        : Boolean = o match {
      case al: Alias => agg.groupingExpressions
        .exists(_.semanticEquals(al.child))
      case a: AttributeReference => agg.groupingExpressions
        .exists(_.semanticEquals(a))
      case _ => false
    }
    // keep: visible outputs, outputs the condition references, and
    // group outputs (the completeness check needs them — a truly
    // dropped grouping correctly forfeits the shape). An unselected,
    // unreferenced AGGREGATE is pruned entirely: materializing it
    // would only narrow the maintainable class (a dropped double-sum
    // or max would forfeit incrementality/retractability for nothing)
    val kept = agg.aggregateExpressions.filter(o =>
      visIds.contains(o.toAttribute.exprId) ||
        condRefs.contains(o.toAttribute.exprId) || isGroupOut(o))
    var i = -1
    val renames = kept
      .filterNot(o => visIds.contains(o.toAttribute.exprId))
      .map { o => i += 1; o.toAttribute.exprId -> s"__having_$i" }.toMap
    val newOuts = kept.map { o =>
      renames.get(o.toAttribute.exprId) match {
        case Some(n) => o match {
          case al: Alias => Alias(al.child, n)()
          case a: AttributeReference => Alias(a, n)()
          case other => return None
        }
        case None => o
      }
    }
    detectAgg(agg.copy(aggregateExpressions = newOuts), warehouse)
      .map { sh =>
        val havingSql = cond.map(_.transform {
          case a: AttributeReference =>
            a.withName(renames.getOrElse(a.exprId, a.name))
              .withQualifier(Nil)
        }.sql)
        sh.copy(havingSql = havingSql,
          visible = Some(visible.map(_.name)))
      }
  }

  private def detectAgg(agg: Aggregate,
      warehouse: String): Option[AggShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Inner
    def unwrap(p: LogicalPlan): Option[(String, String)] = p match {
      case SubqueryAlias(_, c) => unwrap(c)
      case r: DataSourceV2Relation => r.table match {
        case t: LakeSparkTable
            if t.wh == warehouse && t.asOfSnapshot.isEmpty &&
              t.branchName.isEmpty && t.pin.isEmpty =>
          Some((t.db, t.tbl))
        case _ => None
      }
      case _ => None
    }
    // a LEFT-DEEP tree of INNER equi-ish joins over lake relations:
    // the leftmost leaf is the FACT (whose deltas maintain the view),
    // each right side a DIM (pinned at a snapshot; moving it refuses
    // to full refresh). Any persistable condition joins — the algebra
    // (γ(ΔF ⋈ D) merges additively) doesn't care about its form.
    def unwrapJoins(p: LogicalPlan)
        : Option[((String, String), Seq[(String, String, Expression)])] =
      p match {
        case SubqueryAlias(_, c) => unwrapJoins(c)
        case j: Join if j.joinType == Inner && j.condition.isDefined &&
            persistable(j.condition.get) =>
          for {
            left <- unwrapJoins(j.left)
            dim <- unwrap(j.right)
          } yield (left._1,
            left._2 :+ ((dim._1, dim._2, j.condition.get)))
        case other => unwrap(other).map(r => (r, Nil))
      }
    val groupings = agg.groupingExpressions
    val outs = agg.aggregateExpressions
    val aggChild = agg.child
    // a WHERE over the source stays self-maintainable: the same
        // predicate filters every delta before aggregation. Only
        // persistable conditions qualify; the condition is stored as
        // SQL (qualifiers stripped so it re-parses against the bare
        // source columns)
        val (child, filterSql) = aggChild match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if persistable(f.condition) =>
            (f.child, Some(f.condition.transform {
              case a: AttributeReference => a.withQualifier(Nil)
            }.sql))
          case c => (c, None)
        }
        unwrapJoins(child).flatMap { case ((db, tbl), dimJoins) =>
          // qualifier-stripped persistence needs UNAMBIGUOUS names:
          // every column the shape references must occur exactly once
          // across the combined join output, or re-resolution against
          // the rebuilt join could bind the wrong side. (A single
          // relation can't carry duplicates — check only join shapes.)
          val refNames = (groupings ++ outs ++ aggChild.expressions ++
            dimJoins.map(_._3)).flatMap(e =>
            e.collect { case a: AttributeReference => a.name }).toSet
          val nameCounts = child.output.groupBy(_.name)
            .map { case (n, as) => n -> as.size }
          if (dimJoins.nonEmpty &&
              refNames.exists(n => nameCounts.getOrElse(n, 0) != 1))
            return None
          val dims = dimJoins.map { case (ddb, dtbl, cond) =>
            DimSpec(ddb, dtbl, cond.transform {
              case a: AttributeReference => a.withQualifier(Nil)
            }.sql)
          }
          // group keys and aggregate arguments may be arbitrary
          // PERSISTABLE row-local expressions (`date_trunc('day',
          // ts)`, `price * qty`): the expression evaluates identically
          // over the seed, every delta, and every recompute, so the
          // algebra is unchanged. Persisted as qualifier-stripped SQL.
          def exprOk(e: Expression): Boolean = persistable(e)
          def sqlOf(e: Expression): String = e.transform {
            case a: AttributeReference => a.withQualifier(Nil)
          }.sql
          if (!groupings.forall(exprOk)) return None
          val matchedGroups =
            scala.collection.mutable.Set.empty[Expression]
          val specs = outs.map { out =>
            def asGroup(e: Expression, name: String) =
              groupings.find(_.semanticEquals(e)).map { g =>
                matchedGroups += g
                GroupCol(name, sqlOf(e))
              }
            out match {
              case a: AttributeReference => asGroup(a, a.name)
                .getOrElse(return None)
              // COUNT(DISTINCT x): maintainable via the touched-group
              // recompute only (a delta may duplicate values the group
              // already counted) — AggShape.recomputeOnly routes every
              // refresh there. A distinct literal (constant 0-or-1) and
              // multi-argument DISTINCT stay full-refresh-only.
              case al @ Alias(ae: AggregateExpression, n)
                  if ae.isDistinct && ae.filter.isEmpty =>
                ae.aggregateFunction match {
                  case c: Count => c.children match {
                    case Seq(e) if exprOk(e) &&
                        !e.isInstanceOf[Literal] =>
                      CountDCol(n, sqlOf(e))
                    case _ => return None
                  }
                  case sm: Sum => sm.child match {
                    case e if exprOk(e) && exactSum(al.dataType) &&
                        !e.isInstanceOf[Literal] =>
                      SumDCol(n, sqlOf(e))
                    case _ => return None
                  }
                  case av: Average => (av.child, al.dataType) match {
                    case (e, rt: DecimalType)
                        if exprOk(e) && !e.isInstanceOf[Literal] &&
                          e.dataType.isInstanceOf[DecimalType] =>
                      AvgDCol(n, sqlOf(e), rt.precision, rt.scale)
                    case _ => return None
                  }
                  case _ => return None
                }
              case al @ Alias(ae: AggregateExpression, n)
                  if !ae.isDistinct && ae.filter.isEmpty =>
                ae.aggregateFunction match {
                  case c: Count => c.children match {
                    // count(NULL) is the constant 0, not a row count —
                    // it falls through to CountCol over the literal
                    case Seq(l: Literal) if l.value != null =>
                      CountStar(n)
                    case Seq(e) if exprOk(e) => CountCol(n, sqlOf(e))
                    case _ => return None
                  }
                  case s: Sum => s.child match {
                    case e if exprOk(e) && exactSum(al.dataType) =>
                      // a nullable argument needs the hidden non-null
                      // counter so retraction can restore NULL when a
                      // group's last non-null value is deleted
                      if (e.nullable) SumNCol(n, sqlOf(e))
                      else SumCol(n, sqlOf(e))
                    case _ => return None
                  }
                  // AVG only where the sum side is exact AND the
                  // division is Average's own deterministic decimal
                  // divide — int/long avg buffers in double upstream,
                  // so it is NOT reproducible from exact parts
                  case av: Average => (av.child, al.dataType) match {
                    case (e, rt: DecimalType)
                        if exprOk(e) &&
                          e.dataType.isInstanceOf[DecimalType] =>
                      AvgCol(n, sqlOf(e), rt.precision, rt.scale)
                    case _ => return None
                  }
                  case m: Min => m.child match {
                    case e if exprOk(e) => MinCol(n, sqlOf(e))
                    case _ => return None
                  }
                  case m: Max => m.child match {
                    case e if exprOk(e) => MaxCol(n, sqlOf(e))
                    case _ => return None
                  }
                  case _ => return None
                }
              case al @ Alias(e, n) => asGroup(e, n)
                .getOrElse(return None)
              case _ => return None
            }
          }
          val groupSpecs = specs.collect { case g: GroupCol => g }
          // EVERY grouping expression must appear in the output:
          // `SELECT k1, count(*) FROM t GROUP BY k1, k2` has finer
          // groups than its visible columns — materializing by k1
          // alone would collapse them into a wrong rollup. Such
          // shapes stay full-refresh-only (the raw SQL recompute is
          // correct by construction).
          if (groupSpecs.isEmpty ||
              !groupings.forall(g =>
                matchedGroups.exists(_.semanticEquals(g)))) None
          else Some(AggShape(db, tbl, specs, filterSql = filterSql,
            tzSensitive = (groupings ++ outs ++ aggChild.expressions ++
              dimJoins.map(_._3)).exists(isTzSensitive),
            dims = dims))
        }
  }

  /** A row-local expression whose persisted SQL re-evaluates
    * IDENTICALLY in any later refresh session: deterministic, no
    * subqueries or nested aggregates, no current-time family
    * (CurrentDate/CurrentTimestamp are "deterministic" in Catalyst —
    * they are only pinned per query — but a refresh re-evaluating
    * them gets a different cutoff than the seed did), and no
    * session-registered UDFs (a refresh session may lack the
    * registration, bricking even full refreshes of the shape).
    * Timezone-AWARE expressions are allowed; the create session's
    * zone is pinned in the doc and mismatched incremental refreshes
    * refuse ([[AggShape.tz]]).
    */
  private def persistable(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    e.deterministic && !e.exists { x =>
      x.isInstanceOf[PlanExpression[_]] ||
        x.isInstanceOf[AggregateExpression] ||
        x.isInstanceOf[CurrentDate] ||
        x.isInstanceOf[CurrentTimestamp] || x.isInstanceOf[Now] ||
        x.isInstanceOf[LocalTimestamp] ||
        x.isInstanceOf[CurrentTimeZone] ||
        x.isInstanceOf[ScalaUDF]
    }
  }

  /** Whether evaluation depends on the session time zone (date_trunc
    * buckets, tz-dependent casts) — such shapes pin the creating
    * session's zone so a differently-zoned refresher can't split
    * groups. Cast is TimeZoneAware structurally; only tz-NEEDING
    * casts count.
    */
  private def isTzSensitive(e: Expression): Boolean = e.exists {
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      c.needsTimeZone
    case t: org.apache.spark.sql.catalyst.expressions
        .TimeZoneAwareExpression => true
    case _ => false
  }

  /** SUM is incrementally exact only when addition is associative in
    * the output type — floats/doubles reorder ulps.
    */
  private def exactSum(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => false
    case _ => true
  }

  private def q(n: String): Column = col(s"`$n`")

  /** Apply the shape's persisted WHERE (if any) to source-schema rows
    * — the seed, every full recompute, and every delta go through the
    * SAME predicate, which is what keeps a filtered defining query
    * self-maintainable.
    */
  def sourceRows(df: DataFrame, shape: AggShape): DataFrame =
    shape.filterSql.map(f => df.filter(expr(f))).getOrElse(df)

  // ---- JOIN-shaped views ------------------------------------------------

  /** Backing-table property pinning one dim's snapshot ("id:ts"). */
  def dimPinKey(d: DimSpec): String =
    s"graft.mat-view.dim-watermark.${d.db}.${d.table}"

  /** Pin every dim at its current head — recorded at create and
    * re-recorded by each full refresh (in the same transaction as the
    * recomputed data).
    */
  def dimPinsAtHead(warehouse: String,
      shape: AggShape): Map[String, String] =
    shape.dims.map { d =>
      val t = LakeTable.load(warehouse, d.db, d.table)
      val head = t.metadata.snapshots.map(_.id).foldLeft(0L)(math.max)
      val ts = t.metadata.snapshots.find(_.id == head)
        .map(_.timestampMs).getOrElse(-1L)
      dimPinKey(d) -> s"$head:$ts"
    }.toMap

  /** One dim's frame AT its pinned snapshot (`pins` = backing-table
    * properties; a missing pin reads the head — the seed path records
    * pins first).
    */
  private def dimAtPin(spark: SparkSession, warehouse: String,
      d: DimSpec, pins: Map[String, String]): DataFrame = {
    val t = LakeTable.load(warehouse, d.db, d.table)
    pins.get(dimPinKey(d)).map(_.split(":")(0).toLong) match {
      case Some(id) if id > 0 =>
        t.read(spark, asOfSnapshot = Some(id))
      case Some(_) => // pinned on an EMPTY dim: the join is empty
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          graft.lake.Reconcile.clean(t.metadata.currentSchema)
            .asInstanceOf[StructType])
      case None => t.read(spark)
    }
  }

  /** Join fact-schema rows to every dim, each dim read AT its pinned
    * snapshot. The names the shape references are unique across the
    * combined output (checked at detect), so the qualifier-stripped
    * condition re-resolves unambiguously; `_change_*` columns on a
    * changelog fact frame ride through inner joins untouched. Identity
    * when the shape has no dims.
    */
  def joinedRows(spark: SparkSession, warehouse: String,
      shape: AggShape, factRows: DataFrame,
      pins: Map[String, String]): DataFrame =
    shape.dims.foldLeft(factRows) { (acc, d) =>
      acc.join(dimAtPin(spark, warehouse, d, pins), expr(d.condSql),
        "inner")
    }

  /** The dim-delta expansion leg for moved dim `i` (the delta-join
    * algebra's sequential term): fact rows joined through dims BEFORE
    * `i` at their OLD pins, dim `i` replaced by its append-delta
    * frame, dims AFTER `i` at their NEW pins —
    * `F_w ⋈ D_1,pin ⋈ … ⋈ ΔD_i ⋈ … ⋈ D_n,head`, so summing the legs
    * over every moved dim (plus `ΔF ⋈ D_head`) telescopes exactly to
    * `F_head⋈D_head − F_w⋈D_pin`.
    */
  private def joinedRowsSubst(spark: SparkSession, warehouse: String,
      shape: AggShape, factRows: DataFrame,
      oldPins: Map[String, String], newPins: Map[String, String],
      i: Int, deltaFrame: DataFrame): DataFrame =
    shape.dims.zipWithIndex.foldLeft(factRows) { case (acc, (d, j)) =>
      val df =
        if (j == i) deltaFrame
        else dimAtPin(spark, warehouse, d,
          if (j < i) oldPins else newPins)
      acc.join(df, expr(d.condSql), "inner")
    }

  /** Whether the dim's content at the pin is ROW-identical to its
    * head image: the head is the pin itself, or the pin is still the
    * commit it named (a rollback re-uses ids — the timestamp
    * disambiguates) and every commit past it is a byte-move
    * (compaction, zorder rewrite — same rows, new files). A pin on an
    * EMPTY dim (id 0) is intact by definition; byte-moves can't
    * conjure rows, so an all-byte-move walk from 0 is still empty.
    */
  def dimContentUnmoved(t: LakeTable, pin: String): Boolean = {
    val Array(idS, tsS) = pin.split(":")
    val (id, ts) = (idS.toLong, tsS.toLong)
    val head = t.metadata.snapshots.map(_.id).foldLeft(0L)(math.max)
    val headTs = t.metadata.snapshots.find(_.id == head)
      .map(_.timestampMs).getOrElse(-1L)
    if (head == id && headTs == ts) true
    else {
      val pinIntact = id == 0L ||
        t.metadata.snapshots.exists(s => s.id == id &&
          s.timestampMs == ts)
      val past = t.metadata.snapshots.filter(s => s.id > id)
      pinIntact && past.nonEmpty &&
        past.forall(s => LakeTable.isByteMove(s.operation))
    }
  }

  /** How one dim moved relative to its pin. */
  sealed trait DimMove
  /** Exactly at the pin — nothing to do. */
  case object DimUnmoved extends DimMove
  /** Byte-moves only (compaction/zorder) — content-identical,
    * re-pin in the refresh's own flip. */
  case class DimRePin(newPin: String) extends DimMove
  /** A real APPEND-ONLY delta past the pin: the moved rows are exactly
    * `changesBetween(pin, head)` and every one is an insertion, so the
    * delta-join expansion (`F_w ⋈ ΔD`) expresses the dim's effect on
    * unchanged fact rows. Re-pin at head in the refresh's own flip.
    */
  case class DimAppendDelta(pinId: Long, headId: Long,
      newPin: String) extends DimMove
  /** A delta past the pin containing blind UPSERTS (equality-delete
    * markers + replacement rows in one snapshot — the CDC-sink shape,
    * plus any appends): not insert-only, so no delta-join leg can
    * express it — but the RETRACTED dim rows are derivable (the pin
    * image still holds them), so the refresh routes to the
    * touched-group RECOMPUTE: the groups whose contributions moved are
    * exactly the fact rows joining the dim's changed rows, expanded
    * through BOTH the pin image (groups losing contributions) and the
    * head image (groups gaining). Re-pin at head in the same flip.
    * True deletes/replaces still refuse — a vanished dim row's group
    * is derivable the same way, but their changelog semantics are
    * reserved until a key demands them.
    */
  case class DimUpsertDelta(pinId: Long, headId: Long,
      newPin: String) extends DimMove

  /** Classify every dim against its pinned snapshot. Byte-moved dims
    * re-pin; append-only dim deltas maintain through the delta-join
    * expansion ([[joinedRowsSubst]]); any movement that can REMOVE or
    * REWRITE dim rows (deletes, upserts, replaces — they change the
    * join contribution of unchanged fact rows in ways no insert-only
    * leg can express) still refuses by name, as does a dim range whose
    * per-commit deltas were expired/squashed away. A full refresh
    * recomputes against the dim heads and re-pins.
    */
  def classifyDims(warehouse: String, shape: AggShape,
      pins: Map[String, String]): Seq[(DimSpec, DimMove)] =
    shape.dims.map { d =>
      val t = LakeTable.load(warehouse, d.db, d.table)
      val head = t.metadata.snapshots.map(_.id).foldLeft(0L)(math.max)
      val headTs = t.metadata.snapshots.find(_.id == head)
        .map(_.timestampMs).getOrElse(-1L)
      val pin = pins.getOrElse(dimPinKey(d),
        throw new IllegalStateException(
          s"materialization lost its snapshot pin for dim " +
            s"'${d.db}.${d.table}' — run a full refresh"))
      if (dimContentUnmoved(t, pin)) {
        if (pin == s"$head:$headTs") (d, DimUnmoved)
        else (d, DimRePin(s"$head:$headTs"))
      } else {
        val Array(idS, tsS) = pin.split(":")
        val (id, ts) = (idS.toLong, tsS.toLong)
        val pinIntact = id == 0L ||
          t.metadata.snapshots.exists(s => s.id == id &&
            s.timestampMs == ts)
        val past = t.metadata.snapshots.filter(_.id > id)
        // the same expiry-squash detection the fact range runs: a
        // byte-move/reset in range carrying a post-pin sequence whose
        // originating commit is gone means the per-commit delta is
        // unrecoverable
        val squashed = past
          .filter(s => LakeTable.isByteMove(s.operation) ||
            LakeTable.isReset(s.operation))
          .exists(_.files.exists(f => f.seq >= 0 && f.seq > id &&
            !t.metadata.snapshots.exists(o => o.id == f.seq &&
              !LakeTable.isByteMove(o.operation) &&
              !LakeTable.isReset(o.operation))))
        val appendOnly = past.forall(s => s.operation == "append" ||
          LakeTable.isByteMove(s.operation))
        val upsertOnly = past.forall(s => s.operation == "append" ||
          s.operation == "upsert" || LakeTable.isByteMove(s.operation))
        require(pinIntact && upsertOnly && !squashed,
          s"incremental refresh maintains FACT deltas, APPEND-ONLY " +
            s"dim deltas, and blind-UPSERT dim deltas, but dim " +
            s"'${d.db}.${d.table}' moved in a way none of those " +
            s"express (pinned snapshot ${pin.split(":")(0)}, head now " +
            s"$head) — run a full refresh, which re-pins the dims")
        if (appendOnly) (d, DimAppendDelta(id, head, s"$head:$headTs"))
        else (d, DimUpsertDelta(id, head, s"$head:$headTs"))
      }
    }

  /** The STORAGE aggregation over source-schema rows (seed, full
    * refresh, and the append-delta path): one pass, declared group
    * order, hidden columns materialized. With `storageV2 = false`
    * (legacy docs) the storage layout IS the visible layout.
    */
  def storageAggregate(rows: DataFrame, shape: AggShape): DataFrame =
    buildAggregate(rows, shape, signed = false)

  /** The SIGNED storage aggregation over a row-level changelog
    * (`_change_type` ∈ insert/delete): inserts add, deletes subtract,
    * so the result is the additive delta of a range containing
    * retractions. Only meaningful for retractable shapes.
    */
  def signedStorageAggregate(changelog: DataFrame,
      shape: AggShape): DataFrame =
    buildAggregate(changelog, shape, signed = true)

  private def buildAggregate(rows: DataFrame, shape: AggShape,
      signed: Boolean): DataFrame = {
    val ins = col("_change_type") === "insert"
    def cntStar: Column =
      if (!signed) count(lit(1))
      else sum(when(ins, 1L).otherwise(-1L))
    def cnt(c: Column): Column =
      if (!signed) count(c)
      else sum(when(c.isNotNull, when(ins, 1L).otherwise(-1L))
        .otherwise(0L))
    def sm(c: Column): Column =
      if (!signed) sum(c)
      else sum(when(ins, c).otherwise(-c))
    // srcCol holds qualifier-stripped SQL (a bare column or a
    // deterministic expression) — expr() re-resolves it against the
    // source schema
    val aggCols: Seq[Column] = shape.specs.flatMap {
      case _: GroupCol => Nil
      case CountStar(n) => Seq(cntStar.as(n))
      case CountCol(n, c) => Seq(cnt(expr(c)).as(n))
      case SumCol(n, c) => Seq(sm(expr(c)).as(n))
      case SumNCol(n, c) => Seq(sm(expr(c)).as(n),
        cnt(expr(c)).as(s"__sum_cnt_$n"))
      case MinCol(n, c) => Seq(min(expr(c)).as(n))
      case MaxCol(n, c) => Seq(max(expr(c)).as(n))
      case CountDCol(n, c) =>
        // recompute-only: AggShape.retractable is false for these
        // shapes, so the signed (changelog) aggregation never sees one
        require(!signed,
          s"COUNT(DISTINCT) cannot aggregate a signed changelog ($n)")
        Seq(countDistinct(expr(c)).as(n))
      case SumDCol(n, c) =>
        require(!signed,
          s"SUM(DISTINCT) cannot aggregate a signed changelog ($n)")
        Seq(sum_distinct(expr(c)).as(n))
      case AvgDCol(n, c, _, _) =>
        require(!signed,
          s"AVG(DISTINCT) cannot aggregate a signed changelog ($n)")
        Seq(expr(s"avg(DISTINCT $c)").as(n))
      case AvgCol(n, c, _, _) => Seq(sm(expr(c)).as(s"__avg_sum_$n"),
        cnt(expr(c)).as(s"__avg_cnt_$n"))
    } ++ (if (shape.needsHiddenRows) Seq(cntStar.as("__g_rows")) else Nil)
    rows
      .groupBy(shape.groupCols.map(g => expr(g.srcCol).as(g.outName)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      // canonical storage order: groups (declared order), then store
      // columns — a stable layout for the backing table regardless of
      // how the declared output interleaves keys and aggregates
      .select((shape.groupCols.map(g => q(g.outName)) ++
        shape.storeCols.map(sc => q(sc.name))): _*)
  }

  /** Project the declared (visible) columns back out of a storage
    * frame — plain aggregates pass through, AVG divides its hidden
    * parts exactly as Spark's Average does. (Schema-shaping only:
    * the HAVING condition, a read-time filter, is the view SQL's
    * job and does not change the schema.)
    */
  def visibleFrame(storage: DataFrame, shape: AggShape): DataFrame = {
    val bySpec = shape.specs.map(sp => sp.outName -> sp).toMap
    storage.select(shape.visibleCols.map(n => bySpec(n) match {
      case a @ AvgCol(_, _, _, _) =>
        // cnt can sit at 0 on a surviving group (its last non-null
        // value retracted) — guard the division like Average does
        // (ANSI mode turns an unguarded 0-divisor into an error)
        when(q(s"__avg_cnt_$n") === 0L, lit(null).cast(a.resultType))
          .otherwise((q(s"__avg_sum_$n") /
            q(s"__avg_cnt_$n").cast(DecimalType(20, 0)))
            .cast(a.resultType)).as(n)
      case SumNCol(_, _) =>
        // signed arithmetic merges a fully-retracted sum to exactly 0;
        // the counter says whether any non-null value remains
        when(q(s"__sum_cnt_$n") === 0L, lit(null)).otherwise(q(n)).as(n)
      case sp => q(sp.outName)
    }): _*)
  }

  /** The fronting view's stored SQL over the backing table: ALWAYS an
    * explicit projection in the defining query's declared column
    * order — the backing table stores the canonical groups-first
    * storage layout (plus hidden columns), so a `SELECT *` would both
    * reorder the output and leak storage internals.
    */
  def viewSql(shape: AggShape, catalogName: String, db: String,
      matTable: String): String = {
    def proj(sp: AggSpec): String = sp match {
      case a @ AvgCol(n, _, _, _) =>
        s"IF(`__avg_cnt_$n` = 0, CAST(NULL AS ${a.resultType.sql}), " +
          s"CAST(`__avg_sum_$n` / CAST(`__avg_cnt_$n` AS DECIMAL(20,0)) " +
          s"AS ${a.resultType.sql})) AS `$n`"
      case SumNCol(n, _) =>
        s"IF(`__sum_cnt_$n` = 0, NULL, `$n`) AS `$n`"
      case other => s"`${other.outName}`"
    }
    val bySpec = shape.specs.map(sp => sp.outName -> sp).toMap
    shape.havingSql match {
      case None =>
        val cols = shape.visibleCols.map(n => proj(bySpec(n)))
        s"SELECT ${cols.mkString(", ")} FROM $catalogName.$db.$matTable"
      case Some(h) =>
        // WHERE cannot reference SELECT aliases, so the projections
        // (including hidden __having_* aggregates and AVG divisions)
        // compute in a subquery and the condition filters its output
        val inner = shape.specs.map(proj).mkString(", ")
        val outer = shape.visibleCols.map(n => s"`$n`").mkString(", ")
        s"SELECT $outer FROM (SELECT $inner FROM " +
          s"$catalogName.$db.$matTable) WHERE $h"
    }
  }

  /** Merge a delta (storage) aggregation into the current per-group
    * storage values — one row per TOUCHED group, ready for the blind
    * upsert. Null algebra: a group absent from `current` takes the
    * delta verbatim; a delta aggregate that is NULL (sum/min/max over
    * all-null delta cells) keeps the current value; counts are never
    * null and add. A signed delta makes counts/sums shrink with the
    * same expressions.
    */
  def merge(deltaAgg: DataFrame, current: DataFrame,
      shape: AggShape): DataFrame = {
    val keys = shape.groupCols.map(_.outName)
    val cur = current.select(current.columns.map(c =>
      q(c).as(if (keys.contains(c)) c else s"_cur_$c")): _*)
    deltaAgg.join(cur, keys, "left").select(
      (shape.groupCols.map(g => q(g.outName)) ++
        shape.storeCols.map { sc =>
          val d = q(sc.name)
          val c = q(s"_cur_${sc.name}")
          val mergedV = sc.kind match {
            case KCount => coalesce(c, lit(0L)) + d
            case KSum =>
              when(d.isNull, c).otherwise(when(c.isNull, d)
                .otherwise(c + d))
            case KMin =>
              when(d.isNull, c).otherwise(when(c.isNull, d)
                .otherwise(least(c, d)))
            case KMax =>
              when(d.isNull, c).otherwise(when(c.isNull, d)
                .otherwise(greatest(c, d)))
          }
          mergedV.as(sc.name)
        }): _*)
  }

  // ---- doc-property encoding ------------------------------------------

  /** Spec entries join on ',' and split on ':' — expression SQL may
    * contain both, so every field percent-escapes them (plain column
    * names pass through unchanged, keeping old docs decodable).
    */
  private def esc(s: String): String =
    s.replace("%", "%25").replace(":", "%3A").replace(",", "%2C")
  private def unesc(s: String): String =
    s.replace("%2C", ",").replace("%3A", ":").replace("%25", "%")

  def encode(shape: AggShape, sessionTz: String): Map[String, String] = Map(
    "graft.mat-view.incr" -> "true",
    "graft.mat-view.storage" -> "2",
    // specs fields hold qualifier-stripped SQL (not bare names) since
    // the expression widening — decode quotes legacy docs without it
    "graft.mat-view.specs-sql" -> "true",
    "graft.mat-view.src-db" -> shape.srcDb,
    "graft.mat-view.src-table" -> shape.srcTable) ++
    (if (shape.dims.isEmpty) Map.empty[String, String]
     else Map("graft.mat-view.dims" -> shape.dims.map(d =>
       s"${esc(d.db)}:${esc(d.table)}:${esc(d.condSql)}")
       .mkString(","))) ++
    shape.filterSql.map("graft.mat-view.filter" -> _) ++
    shape.havingSql.map("graft.mat-view.having" -> _) ++
    shape.visible.map(v => "graft.mat-view.visible" ->
      v.map(esc).mkString(",")) ++
    (if (shape.tzSensitive)
      Map("graft.mat-view.tz" -> sessionTz)
     else Map.empty) ++ Map(
    "graft.mat-view.specs" -> shape.specs.map {
      case GroupCol(o, c) => s"group:${esc(o)}:${esc(c)}"
      case CountStar(o) => s"countstar:${esc(o)}"
      case CountCol(o, c) => s"countcol:${esc(o)}:${esc(c)}"
      case SumCol(o, c) => s"sum:${esc(o)}:${esc(c)}"
      case SumNCol(o, c) => s"sumn:${esc(o)}:${esc(c)}"
      case MinCol(o, c) => s"min:${esc(o)}:${esc(c)}"
      case MaxCol(o, c) => s"max:${esc(o)}:${esc(c)}"
      case CountDCol(o, c) => s"countd:${esc(o)}:${esc(c)}"
      case SumDCol(o, c) => s"sumd:${esc(o)}:${esc(c)}"
      case AvgDCol(o, c, p, sc) => s"avgd:${esc(o)}:${esc(c)}:$p:$sc"
      case AvgCol(o, c, p, sc) => s"avg:${esc(o)}:${esc(c)}:$p:$sc"
    }.mkString(","))

  def decode(props: Map[String, String]): Option[AggShape] =
    if (!props.get("graft.mat-view.incr").contains("true")) None
    else {
      // docs from before the expression widening stored RAW column
      // names; those must be backtick-quoted before expr() re-parses
      // them (a name like `o-price` would otherwise parse as
      // subtraction)
      val sqlSpecs = props.get("graft.mat-view.specs-sql")
        .contains("true")
      def src(c: String): String = {
        val u = unesc(c)
        if (sqlSpecs) u else s"`${u.replace("`", "``")}`"
      }
      Some(AggShape(
      props("graft.mat-view.src-db"),
      props("graft.mat-view.src-table"),
      props("graft.mat-view.specs").split(",").toSeq.map { s =>
        s.split(":").toSeq match {
          case Seq("group", o, c) => GroupCol(unesc(o), src(c))
          case Seq("countstar", o) => CountStar(unesc(o))
          case Seq("countcol", o, c) => CountCol(unesc(o), src(c))
          case Seq("sum", o, c) => SumCol(unesc(o), src(c))
          case Seq("sumn", o, c) => SumNCol(unesc(o), src(c))
          case Seq("min", o, c) => MinCol(unesc(o), src(c))
          case Seq("max", o, c) => MaxCol(unesc(o), src(c))
          case Seq("countd", o, c) => CountDCol(unesc(o), src(c))
          case Seq("sumd", o, c) => SumDCol(unesc(o), src(c))
          case Seq("avgd", o, c, p, sc) =>
            AvgDCol(unesc(o), src(c), p.toInt, sc.toInt)
          case Seq("avg", o, c, p, sc) =>
            AvgCol(unesc(o), src(c), p.toInt, sc.toInt)
          case other => throw new IllegalStateException(
            s"corrupt mat-view spec entry: $s")
        }
      },
      storageV2 = props.get("graft.mat-view.storage").contains("2"),
      filterSql = props.get("graft.mat-view.filter"),
      tzSensitive = props.contains("graft.mat-view.tz"),
      tz = props.get("graft.mat-view.tz"),
      havingSql = props.get("graft.mat-view.having"),
      visible = props.get("graft.mat-view.visible")
        .map(_.split(",").toSeq.map(unesc)),
      dims = props.get("graft.mat-view.dims").map(_.split(",").toSeq
        .map { d =>
          d.split(":").toSeq match {
            case Seq(db, tbl, cond) =>
              DimSpec(unesc(db), unesc(tbl), unesc(cond))
            case _ => throw new IllegalStateException(
              s"corrupt mat-view dim entry: $d")
          }
        }).getOrElse(Nil)))
    }

  /** The backing-table group-key columns that can carry per-file bloom
    * filters — set as `write.bloom-columns` at MV create so the
    * touched-group pruning below can drop backing files by exact key
    * probe, not just min/max envelope.
    */
  def bloomableKeys(shape: AggShape,
      viewSchema: StructType): Seq[String] =
    shape.groupCols.map(_.outName).filter(n =>
      viewSchema.fields.find(_.name == n)
        .exists(f => graft.lake.BloomFilters.eligible(f.dataType)))

  /** Stats filters over the backing table's group-key columns from the
    * delta's touched-key set: min/max envelope for range pruning plus
    * the exact value set (`eqSet`) for bloom probing where the
    * rendering is canonical (integrals and strings — the same rule the
    * DSv2 pushdown uses). A column with a NULL among the touched keys
    * contributes no filter (bounds imply NOT NULL for pruning);
    * unsupported types contribute none. Always CONSERVATIVE: these
    * only prune files, the merge join drops untouched groups anyway.
    */
  private[graft] def keyFilters(viewSchema: StructType,
      keyRows: Seq[org.apache.spark.sql.Row],
      groups: Seq[GroupCol]): Seq[graft.lake.RangeFilter] =
    groups.zipWithIndex.flatMap { case (g, i) =>
      val values = keyRows.map(_.get(i))
      val dt = viewSchema.fields.find(_.name == g.outName).map(_.dataType)
      if (values.isEmpty || values.exists(_ == null)) None
      else dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          val nums = values.map(v => BigDecimal(v.toString))
          Some(graft.lake.RangeFilter(g.outName,
            loNum = Some(nums.min), hiNum = Some(nums.max),
            eqSet = values.map(_.toString).distinct))
        case Some(StringType) =>
          val strs = values.map(_.toString)
          Some(graft.lake.RangeFilter(g.outName,
            loStr = Some(strs.min), hiStr = Some(strs.max),
            eqSet = strs.distinct))
        case Some(_: DecimalType) =>
          val nums = values.map {
            case d: java.math.BigDecimal => BigDecimal(d)
            case v => BigDecimal(v.toString)
          }
          Some(graft.lake.RangeFilter(g.outName,
            loNum = Some(nums.min), hiNum = Some(nums.max)))
        // timestamp/date group keys — the time-bucketed rollup's key
        // type — prune by their numeric stats encoding (epoch micros /
        // epoch days, same rule as the DSv2 pushdown)
        case Some(org.apache.spark.sql.types.TimestampType) =>
          val nums = values.collect {
            case t: java.sql.Timestamp => BigDecimal(
              Math.floorDiv(t.getTime, 1000L) * 1000000L +
                t.getNanos / 1000)
            case t: java.time.Instant => BigDecimal(
              t.getEpochSecond * 1000000L + t.getNano / 1000)
          }
          if (nums.size != values.size) None
          else Some(graft.lake.RangeFilter(g.outName,
            loNum = Some(nums.min), hiNum = Some(nums.max)))
        case Some(org.apache.spark.sql.types.DateType) =>
          val nums = values.collect {
            case d: java.sql.Date => BigDecimal(d.toLocalDate.toEpochDay)
            case d: java.time.LocalDate => BigDecimal(d.toEpochDay)
          }
          if (nums.size != values.size) None
          else Some(graft.lake.RangeFilter(g.outName,
            loNum = Some(nums.min), hiNum = Some(nums.max)))
        case _ => None
      }
    }

  /** Stats/bloom filters pruning the WATERMARK-image fact scan of one
    * dim-delta leg: when the join condition is a plain
    * `fact_col = dim_col` equality, the appended dim rows' join-key
    * values (collected below the key limit) bound the fact files that
    * can join them — at 100 TB the difference between reading a
    * handful of fact files and an O(fact) pass per moved dim. Any
    * other condition shape, an over-limit delta, or a NULL among the
    * keys contributes no filter (the join itself stays correct; only
    * pruning is lost).
    */
  private def dimDeltaFactFilters(spark: SparkSession, src: LakeTable,
      d: DimSpec, deltaD: DataFrame,
      limit: Int): Seq[graft.lake.RangeFilter] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    val srcSchema = graft.lake.Reconcile
      .clean(src.metadata.currentSchema).asInstanceOf[StructType]
    val dimCols = deltaD.schema.fieldNames.toSet
    val pair: Option[(String, String)] = try {
      spark.sessionState.sqlParser.parseExpression(d.condSql) match {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          val (an, bn) = (a.name, b.name)
          if (srcSchema.fieldNames.contains(an) && dimCols.contains(bn)
              && !dimCols.contains(an) &&
              !srcSchema.fieldNames.contains(bn)) Some((an, bn))
          else if (srcSchema.fieldNames.contains(bn) &&
              dimCols.contains(an) && !dimCols.contains(bn) &&
              !srcSchema.fieldNames.contains(an)) Some((bn, an))
          else None
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    pair.toSeq.flatMap { case (factCol, dimCol) =>
      val rows = deltaD
        .select(col(s"`${dimCol.replace("`", "``")}`")).distinct()
        .limit(limit + 1).collect().toSeq
      if (rows.size > limit) Nil
      else keyFilters(srcSchema, rows, Seq(GroupCol(factCol, factCol)))
    }
  }

  /** (files scanned after Δdim-key pruning, live watermark-image
    * files) summed over the last refresh's dim-delta legs — a
    * test/tooling observable like [[lastBackingScan]], populated only
    * under `spark.graft.matview.incr-scan-audit`.
    */
  private val lastDimDeltaScanTL =
    new ThreadLocal[Option[(Int, Int)]] {
      override def initialValue(): Option[(Int, Int)] = None
    }
  private[graft] def lastDimDeltaScan: Option[(Int, Int)] =
    lastDimDeltaScanTL.get()
  private[graft] def lastDimDeltaScan_=(v: Option[(Int, Int)]): Unit =
    lastDimDeltaScanTL.set(v)

  /** Every registered MATERIALIZED view in the warehouse, as
    * (db, doc) — shared by query rewriting ([[MatViewRewrite]]) and
    * the expiry pin cap ([[pinnedSnapshots]]).
    *
    * CACHED per warehouse, keyed by each doc file's (mtime-ns, size):
    * the listing re-stats every call (catches CREATE/DROP), but a doc
    * whose stamp is unchanged reuses its parsed value — a busy SQL
    * endpoint's repeated aggregate queries pay O(changed views) JSON
    * reads, not O(views). Sound because a view doc only changes by
    * being rewritten (mtime moves) or created/dropped (listing moves);
    * refresh freshness never depends on the doc (the backing table's
    * watermark property is authoritative). [[lastDocScan]] observes
    * (re-read, listed) per call for the spec.
    */
  private[sources] def matViewDocs(
      warehouse: String): Seq[(String, LakeViews.ViewDoc)] = {
    val whPath = java.nio.file.Paths.get(warehouse)
    if (!java.nio.file.Files.isDirectory(whPath)) return Seq.empty
    val dbs = scala.util.Using.resource(
      java.nio.file.Files.list(whPath)) { st =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator)
        .asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_.startsWith("_")).toList
    }
    val prev = Option(docCache.get(warehouse))
      .getOrElse(Map.empty[String, DocCacheEntry])
    var reread, listed = 0
    val next = Map.newBuilder[String, DocCacheEntry]
    val out = Seq.newBuilder[(String, LakeViews.ViewDoc)]
    dbs.foreach { vdb =>
      val vdir = LakeViews.dir(warehouse, vdb)
      if (java.nio.file.Files.isDirectory(vdir)) {
        val paths = scala.util.Using.resource(
          java.nio.file.Files.list(vdir)) { st =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator)
            .asScala.filter(_.getFileName.toString.endsWith(".json"))
            .toList
        }
        paths.foreach { p =>
          listed += 1
          val key = p.toString
          val (mtime, size) =
            try {
              val a = java.nio.file.Files.readAttributes(p,
                classOf[java.nio.file.attribute.BasicFileAttributes])
              (a.lastModifiedTime.to(
                java.util.concurrent.TimeUnit.NANOSECONDS), a.size)
            } catch { case _: Exception => (-1L, -1L) }
          val entry = prev.get(key) match {
            case Some(e) if e.mtimeNs == mtime && e.size == size &&
                mtime >= 0 => e
            case _ =>
              reread += 1
              DocCacheEntry(mtime, size, LakeViews.read(p)
                .filter(_.properties.get("graft.mat-view")
                  .contains("true")))
          }
          next += key -> entry
          entry.doc.foreach(d => out += ((vdb, d)))
        }
      }
    }
    docCache.put(warehouse, next.result())
    lastDocScanTL.set(Some((reread, listed)))
    out.result()
  }

  private final case class DocCacheEntry(mtimeNs: Long, size: Long,
      doc: Option[LakeViews.ViewDoc])
  private val docCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, DocCacheEntry]]

  /** (docs re-read, docs listed) of the last [[matViewDocs]] call on
    * this thread — the spec's observable that a repeated scan reuses
    * the cache. */
  private val lastDocScanTL =
    new ThreadLocal[Option[(Int, Int)]] {
      override def initialValue(): Option[(Int, Int)] = None
    }
  private[graft] def lastDocScan: Option[(Int, Int)] = lastDocScanTL.get()

  /** Snapshot ids in `db.table` that some registered materialized
    * view still needs for INCREMENTAL maintenance: the watermark of
    * every MV whose source is this table, and the dim pin of every MV
    * joining it. Snapshot expiry consults this to cap its squash —
    * expiring through a pin is never wrong (the refresh detects it
    * and refuses to a full recompute), but it silently downgrades
    * every dependent MV to O(source) refreshes; the cap keeps
    * maintenance and materializations composable. O(views) tiny JSON
    * reads, like the rewrite scan.
    */
  def pinnedSnapshots(warehouse: String, db: String,
      table: String): Seq[(String, String, Long)] =
    matViewDocs(warehouse).flatMap { case (vdb, doc) =>
          try decode(doc.properties).toSeq.flatMap { shape =>
            val props = doc.properties.get("graft.mat-view.table")
              .map(mt => graft.lake.LakeTable
                .load(warehouse, vdb, mt).metadata.properties)
              .getOrElse(Map.empty[String, String])
            val wm =
              if (shape.srcDb == db && shape.srcTable == table)
                props.get("graft.mat-view.watermark")
                  .flatMap(_.toLongOption).filter(_ > 0)
                  .map(w => (s"$vdb.${doc.name}", "watermark", w))
              else None
            val pins = shape.dims
              .filter(d => d.db == db && d.table == table)
              .flatMap(d => props.get(dimPinKey(d))
                .flatMap(_.split(":")(0).toLongOption).filter(_ > 0)
                .map(p => (s"$vdb.${doc.name}", "dim-pin", p)))
            wm.toSeq ++ pins
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq.empty[(String, String, Long)]
          }
    }

  /** Past this many touched groups the key-set collect (and the
    * resulting filter envelope) stops paying for itself — fall back to
    * the full backing scan. Conf-overridable for tests.
    */
  /** The touched/delta group-key collect cap: at or below it the
    * refresh runs the BOUNDED plan (one driver collect, LocalRelation
    * probe sides, single-file zero-job publication, stats/bloom file
    * pruning); past it the fully distributed machinery runs. The cap
    * guards driver memory (≤ limit tiny key rows) and planning cost
    * (bloom probes are O(files × keys) driver work) — 4096 keeps both
    * trivial while covering realistic dashboard-grain group counts;
    * tune with spark.graft.matview.incr-key-limit.
    */
  private def keyLimit(spark: SparkSession): Int =
    spark.conf.get("spark.graft.matview.incr-key-limit", "4096").toInt

  /** (files scanned after pruning, live files) of the last incremental
    * refresh's backing read — a test/tooling observable for the
    * touched-group pruning (specs pin that a small delta plans a
    * strict subset of the backing files).
    */
  private val lastBackingScanTL =
    new ThreadLocal[Option[(Int, Int)]] {
      override def initialValue(): Option[(Int, Int)] = None
    }
  private[graft] def lastBackingScan: Option[(Int, Int)] =
    lastBackingScanTL.get()
  private[graft] def lastBackingScan_=(v: Option[(Int, Int)]): Unit =
    lastBackingScanTL.set(v)

  /** Snapshot operations a retraction-capable refresh can consume:
    * appends, byte-moves, MoR deletes (position/vector markers carry
    * full rows), and CoW overwrites (the changelog computes their row
    * diff). Anything else — replace, eq-delete upserts — falls through
    * to the touched-group recompute.
    */
  private def retractableOp(op: String): Boolean =
    op == "append" || op == "delete" || op == "overwrite" ||
      LakeTable.isByteMove(op)

  /** Operations the touched-group recompute can derive TOUCHED KEYS
    * from: everything the row-level changelog represents (equality
    * upserts included — their pre-images come from the watermark scan)
    * plus byte-moves. Full-content replaces reset the replay and
    * refuse.
    */
  private def recomputableOp(op: String): Boolean =
    op == "append" || op == "delete" || op == "overwrite" ||
      op == "upsert" || LakeTable.isByteMove(op)

  /** Whether the range can merge as a SIGNED delta: the shape retracts
    * (COUNT/SUM/AVG only), storage carries the row counter, every op
    * yields full retractable rows, no equality-delete markers (key
    * columns only), and no legacy nullable SUM without its non-null
    * counter. Anything else routes to the touched-group recompute.
    */
  private def signedMergeable(spark: SparkSession, warehouse: String,
      src: LakeTable, shape: AggShape,
      range: Seq[graft.lake.SnapshotMeta]): Boolean = {
    // an empty frame with the COMBINED (fact ⋈ dims) schema — sum
    // arguments may reference dim columns
    lazy val emptySrc = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(
        graft.lake.Reconcile.clean(src.metadata.currentSchema)
          .asInstanceOf[StructType].fields ++
        shape.dims.flatMap(d => graft.lake.Reconcile.clean(
          LakeTable.load(warehouse, d.db, d.table).metadata
            .currentSchema).asInstanceOf[StructType].fields)))
    shape.retractable && shape.storageV2 &&
      range.forall(s => retractableOp(s.operation)) &&
      range.forall(_.eqDeletes.isEmpty) &&
      !shape.specs.exists {
        case SumCol(_, c) => emptySrc.select(expr(c)).schema.head.nullable
        case _ => false
      }
  }

  /** (files scanned after pruning, live files) of the last recompute
    * refresh's SOURCE read — test/tooling observable (conf-gated),
    * mirroring [[lastBackingScan]].
    */
  private val lastRecomputeScanTL =
    new ThreadLocal[Option[(Int, Int)]] {
      override def initialValue(): Option[(Int, Int)] = None
    }
  private[graft] def lastRecomputeScan: Option[(Int, Int)] =
    lastRecomputeScanTL.get()
  private[graft] def lastRecomputeScan_=(v: Option[(Int, Int)]): Unit =
    lastRecomputeScanTL.set(v)

  /** (files scanned after marker-envelope pruning, live files at the
    * watermark) summed over the last recompute refresh's EQUALITY
    * pre-image reads — test/tooling observable (conf-gated), mirroring
    * [[lastRecomputeScan]]. None when the refresh had no eq batches.
    */
  private val lastEqPreImageScanTL =
    new ThreadLocal[Option[(Int, Int)]] {
      override def initialValue(): Option[(Int, Int)] = None
    }
  private[graft] def lastEqPreImageScan: Option[(Int, Int)] =
    lastEqPreImageScanTL.get()
  private[graft] def lastEqPreImageScan_=(v: Option[(Int, Int)]): Unit =
    lastEqPreImageScanTL.set(v)

  /** Touched-group recompute: the fallback incremental strategy when
    * signed merging is impossible. Derive the set of GROUP KEYS the
    * delta touched — changelog rows for position/CoW changes, plus a
    * watermark-image semi-join against equality-delete markers (the
    * markers carry only key columns, but the pre-image still has the
    * victim rows in full) — then recompute JUST those groups from the
    * source at head and blind-upsert them (deleting touched groups
    * that emptied). O(delta + touched groups' source rows), against
    * the full refresh's O(source); the source scan prunes by the
    * touched-key envelope when the group keys are plain columns.
    *
    * Correct for EVERY maintainable shape (MIN/MAX included): the
    * recomputed groups come from the same one-pass aggregation a full
    * refresh runs, just over a pruned row set. Touched keys
    * over-approximate freely — recomputing an untouched group is
    * wasted work, never a wrong answer.
    */
  private def refreshByRecompute(spark: SparkSession, warehouse: String,
      src: LakeTable, shape: AggShape, w: Long, head: Long,
      range: Seq[graft.lake.SnapshotMeta],
      backing0: LakeTable,
      rePins: Map[String, String] = Map.empty,
      dimLegs: Seq[DataFrame] = Seq.empty): Long = {
    val keyCols = shape.groupCols.map(g => q(g.outName))
    // JOIN shapes: every fact-row frame expands through the pinned
    // dims before the filter/aggregation sees it (group keys and
    // measures may live on the dim side)
    val pins = backing0.metadata.properties ++ rePins
    def expand(rows: DataFrame): DataFrame =
      sourceRows(joinedRows(spark, warehouse, shape, rows, pins), shape)
    // 1. touched keys from the changelog: every row a snapshot added
    // or removed names its group — EXCEPT equality-delete markers,
    // whose non-key columns are null (their group keys may be
    // unrelated columns); their victims come from the pre-image below
    val eqSnaps = range.filter(_.eqDeletes.nonEmpty)
    val eqSnapIds = eqSnaps.map(_.id)
    val cl = src.changelogBetween(spark, w, head, includeCowDiffs = true)
    val clRows = if (eqSnapIds.isEmpty) cl
      else cl.filter(!(col("_change_snapshot_id").isin(eqSnapIds: _*) &&
        col("_change_type") === "delete"))
    val clTouched = expand(clRows)
      .select(shape.groupCols.map(g => expr(g.srcCol).as(g.outName)): _*)
    // 2. touched keys of equality-deleted rows: any watermark-image
    // row matching a marker key set (rows inserted inside the range
    // and then eq-deleted already surfaced as changelog inserts).
    // Over-approximate: no seq comparison needed.
    // pre-watermark image the markers strike (an MV seeded on an
    // empty table has no pre-image — every eq-victim surfaced as an
    // in-range changelog insert first). The marker-key envelope
    // prunes source FILES through the same stats/bloom machinery as
    // the group-key path: victims of a non-null marker value carry
    // that value, so a file whose stats exclude every marker key
    // holds no victims (a NULL marker key contributes no filter —
    // keyFilters is conservative by construction). Past the key
    // limit, fall back to one shared full pre-image scan.
    val limit = keyLimit(spark)
    val srcSchema = graft.lake.Reconcile
      .clean(src.metadata.currentSchema).asInstanceOf[StructType]
    // RAW fact image (no dim expansion): the marker semi-join must
    // resolve eq-delete key names against the fact frame alone — a
    // dim column sharing a key's name would make preImage(n)
    // ambiguous — and joining dims only to the VICTIMS afterwards is
    // strictly cheaper anyway
    lazy val fullPreImage =
      if (w > 0) src.read(spark, asOfSnapshot = Some(w))
      else null
    var eqScanPruned, eqScanTotal = 0
    val auditScans = spark.conf
      .get("spark.graft.matview.incr-scan-audit", "false") == "true"
    val eqTouched = eqSnaps.flatMap(_.eqDeletes).flatMap { b =>
      if (w <= 0) None
      else {
        val schema = src.metadata.currentSchema
        val names = b.fieldIds.map { fid =>
          schema.fields.find(f => graft.schema.FieldIds.hasId(f) &&
            graft.schema.FieldIds.idOf(f) == fid)
            .map(_.name)
            .getOrElse(throw new IllegalArgumentException(
              s"incremental refresh cannot recompute through an " +
                s"equality delete keyed on a NESTED field (id $fid) — " +
                "run a full refresh instead"))
        }
        val markers0 = LakeTable.eqBatchFrame(spark, b).select(
          b.fieldIds.zip(names).map { case (fid, n) =>
            col(s"k$fid").cast(schema.fields.find(_.name == n).get
              .dataType).as(n)
          }: _*)
        val markerRows = markers0.limit(limit + 1).collect().toSeq
        // a bounded marker set probes as a LocalRelation: its
        // broadcast is driver-local (no re-scan job of the batch)
        val markers = if (markerRows.size > limit) markers0
          else spark.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(markerRows).asJava),
            StructType(markers0.schema.fields.map(_.copy(nullable = true))))
        val mFilters =
          if (markerRows.size > limit) Seq.empty
          else keyFilters(srcSchema, markerRows,
            names.map(n => GroupCol(n, s"`${n.replace("`", "``")}`")))
        val preImage =
          if (mFilters.isEmpty) fullPreImage
          else src.read(spark, asOfSnapshot = Some(w),
            statsFilters = mFilters)
        if (preImage == null) None
        else {
          if (auditScans) {
            eqScanPruned += src.plannedFiles(statsFilters = mFilters,
              asOfSnapshot = Some(w)).size
            eqScanTotal += src.plannedFiles(
              asOfSnapshot = Some(w)).size
          }
          // the engine applies markers NULL-SAFELY (c <=> key,
          // LakeTable's eq-delete mask) — a marker carrying a NULL key
          // value strikes null-keyed source rows, so the victim probe
          // must match them too or their groups never recompute.
          // Semi-join on the RAW fact frame, then expand only the
          // victims through the dims (see fullPreImage note).
          val victims = preImage.join(markers,
            names.map(n => preImage(n) <=> markers(n)).reduce(_ && _),
            "left_semi")
          Some(expand(victims)
            .select(shape.groupCols.map(g =>
              expr(g.srcCol).as(g.outName)): _*))
        }
      }
    }
    if (auditScans && eqScanTotal > 0)
      lastEqPreImageScan = Some((eqScanPruned, eqScanTotal))
    // dim-delta legs (F_w ⋈ ΔD, already expanded and filtered) name
    // the groups whose contributions grow through UNCHANGED fact rows
    // joining newly-appended dim rows; the changelog legs above
    // expand through the dim HEADS (rePins), so changed fact rows'
    // new-dim-row groups are already a subset of clTouched
    val dimTouched = dimLegs.map(_.select(shape.groupCols.map(g =>
      expr(g.srcCol).as(g.outName)): _*))
    val touched0 = ((clTouched +: eqTouched) ++ dimTouched)
      .reduce(_.union(_))
      .distinct()
    // ONE action derives everything the bounded (steady-state) path
    // needs: the limit+1 collect caps driver memory, and when the set
    // fits, the key rows double as the NULL-key check, the pruning
    // filters, the semi-join side (a LocalRelation — its broadcast
    // never launches a job), and the dead-group diff. The unbounded
    // fallback checkpoints once and keeps the distributed machinery.
    val keyRows = touched0.limit(limit + 1).collect().toSeq
    val bounded = keyRows.size <= limit
    lazy val touchedCk = touched0.localCheckpoint()
    val touchedSchema = StructType(touched0.schema.fields.map(
      _.copy(nullable = true)))
    def localDf(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        touchedSchema)
    val touched = if (bounded) localDf(keyRows) else touchedCk
    // NULL group keys can't upsert/delete by equality — refuse by name
    val nullKeyed =
      if (bounded) keyRows.exists(_.anyNull)
      else touchedCk
        .filter(keyCols.map(_.isNull).reduce(_ || _)).limit(1).count() > 0
    require(!nullKeyed,
      "incremental refresh cannot merge NULL group keys (equality " +
        "joins and upsert deletes never match NULL) — run a full " +
        "refresh instead")
    // 3. recompute the touched groups from the head image: semi-join
    // keeps only their rows; stats/bloom filters prune source FILES
    // when the group keys are plain columns (an expression key — a
    // date_trunc bucket — must not prune by its bucketed values:
    // a file's raw range can straddle the bucket)
    val wmOnly = Map("graft.mat-view.watermark" -> head.toString,
      "graft.mat-view.watermark-ts" -> src.metadata.snapshots
        .find(_.id == head).map(_.timestampMs).getOrElse(-1L)
        .toString) ++ rePins
    if (keyRows.isEmpty) {
      // the delta changed nothing visible to this shape (rows all
      // failed the WHERE, or pure byte-moves) — just advance the
      // watermark
      backing0.transaction(_.updateProperties(wmOnly))
      return 0L
    }
    def plainName(sql: String): Option[String] = {
      val stripped =
        if (sql.startsWith("`") && sql.endsWith("`") && sql.length > 1)
          sql.substring(1, sql.length - 1).replace("``", "`")
        else sql
      if (srcSchema.fieldNames.contains(stripped) &&
          (sql == stripped || sql == s"`$stripped`")) Some(stripped)
      else None
    }
    val srcFilters =
      if (!bounded) Seq.empty
      else keyFilters(srcSchema,
        keyRows,
        shape.groupCols.map(g => plainName(g.srcCol) match {
          case Some(n) => g.copy(outName = n)
          // an impossible column name → keyFilters finds no dtype and
          // contributes no filter for this position
          case None => g.copy(outName = "__graft_no_such_column")
        }))
    if (spark.conf.get("spark.graft.matview.incr-scan-audit", "false")
        == "true")
      lastRecomputeScan = Some((
        src.plannedFiles(statsFilters = srcFilters).size,
        src.plannedFiles().size))
    val tk = touched.select(shape.groupCols.map(g =>
      q(g.outName).as(s"__tk_${g.outName}")): _*)
    val headRows = expand(src.read(spark, asOfSnapshot = Some(head),
      statsFilters = srcFilters))
    // a bounded touched set broadcasts (zero source shuffle — and a
    // LocalRelation side broadcasts without even a collect job); past
    // the key limit let the planner shuffle both sides
    val tkSide = if (bounded) broadcast(tk) else tk
    val matched = headRows.join(tkSide,
      shape.groupCols.map(g =>
        expr(g.srcCol) === col(s"__tk_${g.outName}")).reduce(_ && _),
      "left_semi")
    // a bounded touched set publishes as ONE file — the default 32
    // post-shuffle partitions would write 32 tiny parquet files whose
    // per-file footer cost dominates the publish (same rule as the
    // signed path's bounded() merge)
    val newAgg0 = storageAggregate(matched, shape)
    // ONE snapshot publishes the whole refresh: the marker batch
    // strikes every TOUCHED key (so groups that emptied just die),
    // the data files re-add the recomputed live groups — no dead-set
    // anti-join, no existence probe, one manifest write
    if (bounded) {
      // ≤ limit ROWS (one per touched group) — collect them in the ONE
      // action that runs the aggregation and publish from
      // LocalRelations (their broadcast/write launch no extra scans)
      val aggRows = newAgg0.collect().toSeq
      val newAggLocal = spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(aggRows).asJava),
        StructType(newAgg0.schema.fields.map(_.copy(nullable = true))))
      backing0.transaction { tx =>
        tx.upsertWithDeletesMoR(spark, newAggLocal, localDf(keyRows))
        tx.updateProperties(wmOnly)
      }
      return keyRows.size.toLong
    }
    val newAgg = newAgg0.localCheckpoint()
    backing0.transaction { tx =>
      tx.upsertWithDeletesMoR(spark, newAgg, touched)
      tx.updateProperties(wmOnly)
    }
    -1L
  }

  /** The incremental refresh itself: delta rows since the watermark →
    * delta (storage) aggregate → merge with current groups → blind
    * upsert (+ delete of emptied groups). Returns the new watermark,
    * or None when the source hasn't moved.
    *
    * Append-only ranges use the cheap `changesBetween` path; ranges
    * with deletions/updates retract through the signed changelog when
    * the shape allows it, and refuse BY NAME otherwise.
    *
    * The merge's `current` side reads ONLY the backing files that can
    * hold a TOUCHED group: the delta aggregate's key set (collected
    * below a threshold) prunes the backing scan through the same
    * stats/bloom machinery as any pushed IN — so a one-group delta
    * against a wide MV costs O(delta + touched groups), not O(MV).
    *
    * Crash atomicity: the backing-table mutations AND the watermark
    * advance (a table property) publish in ONE transaction flip — a
    * crash mid-refresh leaves the old watermark with the old content,
    * never a merged delta that a re-run would merge again. The view
    * doc's watermark property is a convenience copy; the table
    * property is authoritative.
    */
  /** @return None when the source hasn't moved; otherwise the new
    * watermark, the strategy the engine ran ("append" additive merge,
    * "signed" retraction merge, "recompute" touched-group recompute),
    * and the touched-group count (-1 past the key-collect limit).
    */
  def refreshIncremental(spark: SparkSession, warehouse: String,
      shape: AggShape, watermark: Long, matDb: String,
      matTable: String): Option[(Long, String, Long)] = {
    val src = LakeTable.load(warehouse, shape.srcDb, shape.srcTable)
    val backing0 = LakeTable.load(warehouse, matDb, matTable)
    // authoritative watermark: stamped atomically with the data flip.
    // A corrupt (hand-edited) value refuses by name like every other
    // unreconcilable state, rather than dying in a number parse.
    val w = backing0.metadata.properties
      .get("graft.mat-view.watermark") match {
      case Some(s) => s.toLongOption.getOrElse(
        throw new IllegalStateException(
          s"the materialization's watermark property is corrupt " +
            s"('$s') — run a full refresh, which re-stamps it"))
      case None => watermark
    }
    // the watermark must still NAME the snapshot it named when it was
    // stamped: a source ROLLBACK truncates history and later appends
    // RE-USE the freed ids, so a pure id comparison would silently
    // merge on top of retracted (phantom) contributions. The stamped
    // commit timestamp disambiguates; benign expiry keeps both (an
    // at-watermark squash inherits the squashed head's id AND time).
    if (w > 0) {
      val wSnap = src.metadata.snapshots.find(_.id == w)
      require(wSnap.isDefined,
        s"the materialization's watermark snapshot $w no longer " +
          "exists in the source history (rolled back or expired " +
          "through) — the merged state can't be reconciled " +
          "incrementally; run a full refresh instead")
      backing0.metadata.properties.get("graft.mat-view.watermark-ts")
        .flatMap(_.toLongOption).foreach(ts =>
        require(wSnap.get.timestampMs == ts,
          s"snapshot $w in the source is not the commit this " +
            "materialization was computed from (a rollback re-used " +
            "the id) — run a full refresh instead"))
    }
    // JOIN shapes: classify every dim's movement BEFORE the
    // fact-unmoved no-op check, or a dim-only change would silently
    // report "nothing to do". Byte-moved dims (compaction/zorder) are
    // content-identical: accepted, re-pinned in the refresh's own
    // flip. APPEND-ONLY dim deltas maintain through the delta-join
    // expansion below; any other movement refuses by name inside
    // classifyDims.
    val dimMoves: Seq[(DimSpec, DimMove)] =
      if (shape.dims.nonEmpty)
        classifyDims(warehouse, shape, backing0.metadata.properties)
      else Seq.empty
    val rePins: Map[String, String] = dimMoves.collect {
      case (d, DimRePin(p)) => dimPinKey(d) -> p
      case (d, DimAppendDelta(_, _, p)) => dimPinKey(d) -> p
      case (d, DimUpsertDelta(_, _, p)) => dimPinKey(d) -> p
    }.toMap
    val movedDims = dimMoves.zipWithIndex.collect {
      case ((d, m: DimAppendDelta), i) => (d, m, i)
    }
    val upsertDims = dimMoves.collect {
      case (d, m: DimUpsertDelta) => (d, m)
    }
    val head = src.metadata.snapshots.map(_.id).foldLeft(0L)(math.max)
    if (head == w && movedDims.isEmpty && upsertDims.isEmpty) {
      // fact unmoved — still publish byte-move re-pins, so expiring
      // the superseded dim snapshots can't strand the view
      if (rePins.nonEmpty)
        backing0.transaction(_.updateProperties(rePins))
      return None
    }
    // time-zone-sensitive shapes (date_trunc buckets, tz-dependent
    // casts) must merge deltas bucketed EXACTLY like the existing
    // materialization — a differently-zoned session would split
    // groups. Full refresh re-pins the zone. The BACKING TABLE's copy
    // is authoritative (stamped in the same transaction as the data
    // it buckets); the doc's copy is a pre-table-property fallback.
    backing0.metadata.properties.get("graft.mat-view.tz")
      .orElse(shape.tz).foreach { z =>
      val cur = spark.sessionState.conf.sessionLocalTimeZone
      require(cur == z,
        s"incremental refresh needs session time zone '$z' (the zone " +
          s"this materialization was last computed under), but this " +
          s"session uses '$cur' — run a full refresh (which re-pins " +
          "the zone) or match the zone")
    }
    val range = src.metadata.snapshots
      .filter(s => s.id > w && s.id <= head)
    // snapshot EXPIRY can squash part of the range into one "rewrite"
    // snapshot whose carried files keep their ORIGINAL data sequences
    // — the per-commit deltas are gone, and treating the squash as the
    // byte move it resembles would silently drop those rows from the
    // merge. Detect: a reset/byte-move in range carrying a file with
    // an explicit post-watermark sequence whose originating snapshot
    // is no longer a replayable commit. (Compaction is fine — its raw
    // metas carry seq -1; bloom backfill is fine — its re-referenced
    // files point at still-present append snapshots.)
    val squashedAway = range
      .filter(s => LakeTable.isByteMove(s.operation) ||
        LakeTable.isReset(s.operation))
      .exists(_.files.exists(f => f.seq >= 0 && f.seq > w &&
        !src.metadata.snapshots.exists(o => o.id == f.seq &&
          !LakeTable.isByteMove(o.operation) &&
          !LakeTable.isReset(o.operation))))
    require(!squashedAway,
      s"incremental refresh cannot replay ($w, $head]: part of the " +
        "range was expired/squashed and its per-commit deltas are " +
        "gone — run a full refresh instead")
    def expand(rows: DataFrame): DataFrame =
      sourceRows(joinedRows(spark, warehouse, shape, rows,
        backing0.metadata.properties ++ rePins), shape)
    // APPEND-ONLY DIM DELTAS (delta-join algebra): the exact identity
    //   F_h⋈D_h − F_w⋈D_p = ΔF⋈D_head + Σᵢ F_w⋈D₁ₚ…ΔDᵢ…Dₙₕ
    // — one sequential leg per moved dim, each joining the fact image
    // AT THE WATERMARK against the dim's appended rows, dims before it
    // at their old pins and after it at their new heads. Every leg row
    // is an insertion (dim appends can't retract), so it merges
    // additively alongside the fact delta; at scale each leg's fact
    // scan is file-pruned by the Δdim join-key envelope when the join
    // condition is a plain fact-col = dim-col equality.
    val oldPins = backing0.metadata.properties
    val newPins = oldPins ++ rePins
    var dimScanPruned, dimScanTotal = 0
    val auditDimScans = spark.conf
      .get("spark.graft.matview.incr-scan-audit", "false") == "true"
    val dimLegs: Seq[DataFrame] =
      if (movedDims.isEmpty || w <= 0) Seq.empty
      else movedDims.map { case (d, m, i) =>
        val t = LakeTable.load(warehouse, d.db, d.table)
        val deltaD = t.changesBetween(spark, m.pinId, m.headId)
          .localCheckpoint()
        val factFilters = dimDeltaFactFilters(spark, src, d, deltaD,
          keyLimit(spark))
        if (auditDimScans) {
          dimScanPruned += src.plannedFiles(statsFilters = factFilters,
            asOfSnapshot = Some(w)).size
          dimScanTotal += src.plannedFiles(asOfSnapshot = Some(w)).size
        }
        val factW = src.read(spark, asOfSnapshot = Some(w),
          statsFilters = factFilters)
        sourceRows(joinedRowsSubst(spark, warehouse, shape, factW,
          oldPins, newPins, i, deltaD), shape)
      }
    if (auditDimScans && dimScanTotal > 0)
      lastDimDeltaScan = Some((dimScanPruned, dimScanTotal))
    // BLIND-UPSERT dim movement routes to the touched-group recompute:
    // per moved dim, the CHANGED dim rows are the multiset diff of the
    // pin image against the head image (an upsert's victims still sit
    // in the pin image; kept rows cancel — O(dim), and a dim is the
    // small side by construction). The touched groups are the fact
    // rows joining any changed dim row, expanded through BOTH pin dims
    // (groups losing contributions) and head dims (groups gaining);
    // the fact scans prune by the changed-key envelope. Legs feed
    // refreshByRecompute as touched-key sources only.
    val upsertLegs: Seq[DataFrame] = upsertDims.flatMap { case (d, m) =>
      val t = LakeTable.load(warehouse, d.db, d.table)
      val dimSchema = graft.lake.Reconcile
        .clean(t.metadata.currentSchema).asInstanceOf[StructType]
      require(!dimSchema.fields.exists(f =>
        LakeTable.hasMapType(f.dataType)),
        s"incremental refresh cannot diff upsert-moved dim " +
          s"'${d.db}.${d.table}' with MAP columns — run a full refresh")
      val pinImg =
        if (m.pinId > 0) t.read(spark, asOfSnapshot = Some(m.pinId))
        else spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          dimSchema)
      val headImg = t.read(spark, asOfSnapshot = Some(m.headId))
      val changed = pinImg.exceptAll(headImg)
        .unionByName(headImg.exceptAll(pinImg)).localCheckpoint()
      val factFilters = dimDeltaFactFilters(spark, src, d, changed,
        keyLimit(spark))
      def leg(factAsOf: Long, pins: Map[String, String])
          : Option[DataFrame] =
        if (factAsOf <= 0) None
        else {
          val fact = src.read(spark, asOfSnapshot = Some(factAsOf),
            statsFilters = factFilters)
          val affected = fact.join(changed, expr(d.condSql), "left_semi")
          Some(sourceRows(
            joinedRows(spark, warehouse, shape, affected, pins), shape))
        }
      // old contributions come from the WATERMARK fact image through
      // the OLD pins; new contributions from the HEAD image through
      // the NEW pins — both over-approximate freely
      leg(w, oldPins).toSeq ++ leg(head, newPins).toSeq
    }
    val dimTag =
      if (upsertDims.nonEmpty) "+dim-upsert"
      else if (movedDims.nonEmpty) "+dim-delta" else ""
    val nonAppend = range.filterNot(s =>
      s.operation == "append" || LakeTable.isByteMove(s.operation))
    val retract = nonAppend.nonEmpty
    if (shape.recomputeOnly || upsertDims.nonEmpty ||
        (retract && !signedMergeable(spark, warehouse, src, shape,
          range))) {
      // the cheap signed merge is defeated (MIN/MAX can't un-see a
      // removed extremum, eq-delete markers carry only keys, legacy
      // storage lacks the counters) — recompute ONLY the groups the
      // delta touched from the source, instead of refusing to a full
      // O(source) refresh. Anything the changelog can't even name
      // (full-content replaces) still refuses.
      val bad = range.filterNot(s => recomputableOp(s.operation))
      require(bad.isEmpty,
        s"incremental refresh cannot replay snapshot(s) " +
          bad.map(s => s"${s.id}(${s.operation})").mkString(", ") +
          " — full-content replaces reset the history rather than " +
          "changing identifiable rows; run a full refresh instead")
      val groups = refreshByRecompute(spark, warehouse, src, shape, w,
        head, range, backing0, rePins, dimLegs ++ upsertLegs)
      return Some((head, "recompute" + dimTag, groups))
    }
    val factLeg: Option[DataFrame] =
      if (head == w) None // dim-delta-only refresh: no fact leg
      else if (retract) Some(expand(
        src.changelogBetween(spark, w, head, includeCowDiffs = true)))
      else Some(expand(src.changesBetween(spark, w, head)))
    // dim legs are pure insertions — in a signed merge they ride as
    // _change_type='insert' rows; missing changelog bookkeeping
    // columns (ordinal, snapshot id) null-fill, the signed aggregate
    // reads only _change_type
    val legs: Seq[DataFrame] = factLeg.toSeq ++ (
      if (retract)
        dimLegs.map(_.withColumn("_change_type", lit("insert")))
      else dimLegs)
    if (legs.isEmpty) {
      // a moved dim over a never-seeded fact (w=0): nothing to merge,
      // but the pins must still advance in one flip
      backing0.transaction(_.updateProperties(
        Map("graft.mat-view.watermark" -> head.toString) ++ rePins))
      return Some((head, "append" + dimTag, 0L))
    }
    val allRows = legs.reduce(
      (a, b) => a.unionByName(b, allowMissingColumns = true))
    val delta =
      if (retract) signedStorageAggregate(allRows, shape)
      else storageAggregate(allRows, shape)
    // the delta aggregate is consumed multiple times (key-set collect,
    // merge join, retraction split) — pin it so the source delta is
    // scanned once
    val deltaAgg = delta.localCheckpoint()
    val limit = keyLimit(spark)
    val keyCols = shape.groupCols.map(g => q(g.outName))
    val keyRows = deltaAgg.select(keyCols: _*)
      .limit(limit + 1).collect().toSeq
    // NULL group keys are not incrementally mergeable: the merge join
    // and the blind upsert's equality delete both match with plain
    // equality, which NULL never satisfies — a NULL-key group would
    // split into duplicate rows with partial counts. Refuse by name;
    // the full recompute handles NULL groups correctly.
    val nullKeyed =
      if (keyRows.size <= limit) keyRows.exists(r =>
        (0 until r.length).exists(r.isNullAt))
      else deltaAgg.filter(keyCols.map(_.isNull).reduce(_ || _))
        .limit(1).count() > 0
    require(!nullKeyed,
      "incremental refresh cannot merge NULL group keys (equality " +
        "joins and upsert deletes never match NULL) — run a full " +
        "refresh instead")
    val filters =
      if (keyRows.size > limit) Seq.empty // wide delta: scan it all
      else keyFilters(backing0.metadata.currentSchema, keyRows,
        shape.groupCols)
    // test/tooling observable only — the extra planning pass (bloom
    // probes included) must not tax production refreshes
    if (spark.conf.get("spark.graft.matview.incr-scan-audit", "false")
        == "true")
      lastBackingScan = Some((
        backing0.plannedFiles(statsFilters = filters).size,
        backing0.plannedFiles().size))
    // a BOUNDED touched set (≤ key limit) publishes as ONE file: the
    // default 32 post-shuffle partitions would write 32 tiny parquet
    // files per refresh, and the per-file footer/stats cost dominates
    // the whole publish at fixture scale; past the limit the planner's
    // partitioning stands
    def bounded(df: DataFrame): DataFrame =
      if (keyRows.size <= limit) df.coalesce(1) else df
    val merged0 = bounded(merge(deltaAgg,
      backing0.read(spark, statsFilters = filters), shape))
    val keys = shape.groupCols.map(_.outName)
    val wmProp = Map("graft.mat-view.watermark" -> head.toString,
      "graft.mat-view.watermark-ts" -> src.metadata.snapshots
        .find(_.id == head).map(_.timestampMs).getOrElse(-1L)
        .toString) ++ rePins
    // bounded path (≤ key limit): the merge output holds ONE row per
    // touched group, so collect it in the ONE action the checkpoint
    // would have run anyway and publish from LocalRelations — the
    // upsert's two evaluations (key batch + data write) become local
    // scans on the driver-side fast paths (zero extra Spark jobs,
    // zero broadcast-exchange submissions), and the retract branch's
    // underflow check becomes a driver loop instead of an extra
    // aggregation action. Same recipe as the touched-group recompute
    // publish above; the distributed path stands past the limit.
    def localRel(rows: Seq[org.apache.spark.sql.Row],
        schema: StructType): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(schema.fields.map(_.copy(nullable = true))))
    val mergedRowsOpt: Option[Seq[org.apache.spark.sql.Row]] =
      if (keyRows.size <= limit) Some(merged0.collect().toSeq) else None
    if (!retract) {
      mergedRowsOpt match {
        case Some(rows) =>
          backing0.transaction { tx =>
            // the merged frame may be empty (delta had rows but, e.g.,
            // only byte-moves survived the range filter) — upsertMoR
            // handles both
            tx.upsertMoR(spark, localRel(rows, merged0.schema),
              keys = keys)
            tx.updateProperties(wmProp)
          }
        case None =>
          // checkpoint once: upsertMoR evaluates its source twice (key
          // batch + data write) — without the pin that is two full
          // merge joins
          val mergedA = merged0.localCheckpoint()
          backing0.transaction { tx =>
            tx.upsertMoR(spark, mergedA, keys = keys)
            tx.updateProperties(wmProp)
          }
      }
    } else {
      val rc = q(shape.rowsCol)
      val rcIdx = merged0.schema.fieldIndex(shape.rowsCol)
      val keyIdx = keys.map(merged0.schema.fieldIndex)
      val keySchema = StructType(keyIdx.map(merged0.schema.fields))
      val (negative, publish) = mergedRowsOpt match {
        case Some(rows) =>
          // driver equivalents of the SQL below: `rc < 0` / `rc > 0`
          // are null-rejecting, so null counters neither count as
          // negative nor survive the keep filter
          val neg = rows.count(r =>
            !r.isNullAt(rcIdx) && r.getLong(rcIdx) < 0L).toLong
          (neg, (tx: LakeTable) => tx.upsertWithDeletesMoR(spark,
            localRel(rows.filter(r =>
              !r.isNullAt(rcIdx) && r.getLong(rcIdx) > 0L),
              merged0.schema),
            localRel(rows.map(r => org.apache.spark.sql.Row
              .fromSeq(keyIdx.map(r.get))), keySchema)))
        case None =>
          val merged = merged0.localCheckpoint()
          val neg = Option(merged.agg(
            sum(when(rc < 0L, 1L).otherwise(0L)).as("neg")).head().get(0))
            .fold(0L)(_.asInstanceOf[Long])
          (neg, (tx: LakeTable) => tx.upsertWithDeletesMoR(spark,
            merged.filter(rc > 0L), merged.select(keys.map(q): _*)))
      }
      require(negative == 0L,
        s"retraction underflow: $negative group(s) went below zero " +
          "rows — the delta retracts rows this materialization never " +
          "counted; run a full refresh")
      // ONE snapshot: markers strike every merged key (emptied groups
      // included — they simply get no replacement row), data files
      // re-add the surviving groups; was upsert + dead-count +
      // deleteByKeys = two snapshots and an extra driver action
      backing0.transaction { tx =>
        publish(tx)
        tx.updateProperties(wmProp)
      }
    }
    Some((head, (if (retract) "signed" else "append") + dimTag,
      if (keyRows.size <= limit) keyRows.size.toLong else -1L))
  }

  /** Bound the backing table's merge-on-read accumulation. Every
    * incremental refresh publishes one upsert — a new data file plus
    * an equality-delete batch striking the touched keys — and nothing
    * ever retired the old ones: an MV refreshed N times read N live
    * data files through N eq-delete batches, so the per-refresh merge
    * cost grew with history instead of staying O(delta + MV)
    * (measured: 0.8 s/refresh at iteration 2 → 8–10 s at iteration 60
    * on a fixture-sized view). Once the live eq-delete batch, MoR
    * position-delete, or data-file count crosses the threshold, squash
    * the backing table with a scoped compaction — a "rewrite-data"
    * snapshot, i.e. a byte move to CDC/changelog/streaming consumers
    * and NOT a reset, returning identical rows — so the cost of a
    * refresh is again independent of how many refreshes preceded it.
    * Threshold is count-based (never core-count-based); ≤ 0 disables.
    */
  private[sources] def maybeCompactBacking(spark: SparkSession,
      warehouse: String, db: String, matTable: String): Unit = {
    // toInt, not toIntOption: a malformed value must fail loudly like
    // the sibling incr-key-limit read, not silently fall back to 8
    val threshold = spark.conf
      .get("spark.graft.matview.compact-threshold", "8").trim.toInt
    if (threshold <= 0) return
    val t = LakeTable.load(warehouse, db, matTable)
    val snaps = t.metadata.snapshots
    // count only the eq-delete batches a read still APPLIES (a batch
    // strikes files with a lower data sequence — after a squash the
    // retained batches shadow nothing and cost reads nothing), or the
    // first squash would leave the stale count at the threshold and
    // re-trigger a full rewrite on every subsequent refresh
    val files = LakeTable.liveFiles(snaps)
    val eqApplicable = LakeTable.liveEqDeletes(snaps)
      .count(b => files.exists(_.seq < b.seq))
    if (eqApplicable >= threshold ||
        LakeTable.liveDeletes(snaps).size >= threshold ||
        files.size >= 4 * threshold)
      t.compactScoped(spark)
  }
}
