package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.variant.VariantGet
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.VariantType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pre-pushdown plan prep closing the two variant-extraction scope
  * losses SURVEY §1.2 declared in r16 — both are shapes Spark's own
  * `V2ScanRelationPushDown.pushDownVariants` cannot see (it matches
  * `PhysicalOperation(projects, filters, holder)`, i.e. Project/Filter
  * chains directly over the relation):
  *
  *  1. AGGREGATE SHAPES: `agg(variant_get(v, p, t))` directly over a
  *     lake relation leaves only the bare variant attribute visible at
  *     the relation, so the full variant (`$`) is pushed — correct but
  *     clip-less. This rule hoists the extraction subtrees into a
  *     Project BELOW the aggregate (aliases replace them in the agg's
  *     grouping/aggregate expressions), which is exactly the shape the
  *     upstream rule rewrites into served struct reads.
  *
  *  2. LOST NON-VARIANT PRUNING: an accepted extraction bypasses
  *     `pruneColumns` entirely — upstream derives the new relation
  *     output positionally from `scan.readSchema()`, so the scan keeps
  *     serving every unreferenced non-variant column. The connector
  *     cannot know the referenced set (the interface only carries the
  *     extractions), so this rule records it: the relation's output is
  *     trimmed to the referenced columns and the SAME ordered list
  *     rides to the ScanBuilder as the `graft.read.columns` option —
  *     `pushVariantExtractions` trims its readSchema in lockstep, and
  *     the positional zip upstream stays aligned. When the extraction
  *     is refused, the normal path's `pruneColumns` prunes to the same
  *     trimmed output, so the option is a no-op there.
  *
  * Injected as a PRE-CBO rule (Once, immediately before the "Early
  * Filter and Projection Push-Down" batch): inside the fixed-point
  * operator batch, CollapseProject would re-inline the hoisted Project
  * into the Aggregate and the two rules would fight to non-convergence.
  *
  * Conservative bail-outs: any bare (non-extraction) use of a variant
  * attribute, a non-literal path, or a non-lake relation leave the
  * plan untouched; a relation that outputs a metadata column is only
  * marked to refuse the variant push.
  */
object VariantScanPrep extends Rule[LogicalPlan] {

  /** Option key carrying the referenced-column list (relation-output
    * order) from the trimmed relation to its ScanBuilder. */
  val ReferencedColsKey = "graft.read.columns"

  /** Option key telling the ScanBuilder to DECLINE variant extractions
    * for this scan (a relation whose output carries metadata columns —
    * see `apply`). */
  val RefuseVariantsKey = "graft.variant.refuse"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConf(SQLConf.PUSH_VARIANT_INTO_SCAN)) return plan
    // metadata columns force REFUSAL of the whole variant push: once
    // AddMetadataColumns puts _graft_file/_graft_pos INTO a relation's
    // output, the accepted-variant path's readSchema (derived from the
    // DATA schema, no metadata fields) misaligns upstream's positional
    // output↔readSchema zip, and execution dies with
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — whether the variant is
    // extracted in a Project, only in a Filter, or used bare (`$`
    // pushed). The builder is told to decline so the normal
    // pruneColumns path (meta-col pass-through) serves the query.
    plan.transformUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LakeSparkTable] &&
          !r.options.containsKey(RefuseVariantsKey) &&
          r.output.exists(a => LakeSource.isMetaCol(a.name)) =>
        val opts = new java.util.HashMap[String, String](r.options)
        opts.put(RefuseVariantsKey, "true")
        r.copy(options = new CaseInsensitiveStringMap(opts))
    }.transformDown {
      case agg: Aggregate =>
        // the optimizer's PullOutGroupingExpressions (operator batch,
        // before this rule) may already have interposed a Project of
        // `_groupingexpression` aliases — hoist into it rather than
        // stacking a second one, and drop the variant passthrough it
        // kept for the aggregate functions once they read aliases
        (agg.child match {
          case p: Project => relationBelow(p.child)
            .flatMap(rel => hoistAggregateExtractions(agg, rel, Some(p)))
          case other => relationBelow(other)
            .flatMap(rel => hoistAggregateExtractions(agg, rel, None))
        }).getOrElse(agg)
      case p @ Project(list, child) =>
        relationBelow(child) match {
          case Some(rel) if !rel.options.containsKey(ReferencedColsKey) &&
              hasLakeVariantExtraction(list, rel) =>
            trimRelationColumns(p, child, rel)
          case _ => p
        }
    }
  }

  /** The lake DSv2 relation under an (optional) Filter chain — the
    * shapes `PhysicalOperation` will collect past. */
  private def relationBelow(p: LogicalPlan): Option[DataSourceV2Relation] =
    p match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LakeSparkTable] =>
        Some(r)
      case f: Filter => relationBelow(f.child)
      case _ => None
    }

  private def variantAttrs(rel: DataSourceV2Relation): AttributeSet =
    AttributeSet(rel.output.filter(_.dataType == VariantType))

  /** A `variant_get`/`try_variant_get` with a literal path directly
    * over one of the relation's variant attributes — the hoistable
    * (and upstream-pushable) extraction shape. */
  private def isHoistable(vg: VariantGet, vAttrs: AttributeSet): Boolean =
    vg.child.isInstanceOf[AttributeReference] &&
      vAttrs.contains(vg.child.asInstanceOf[AttributeReference]) &&
      vg.path.isInstanceOf[Literal]

  private def hasLakeVariantExtraction(list: Seq[NamedExpression],
      rel: DataSourceV2Relation): Boolean = {
    val vAttrs = variantAttrs(rel)
    vAttrs.nonEmpty && list.exists(_.exists {
      case vg: VariantGet => isHoistable(vg, vAttrs)
      case _ => false
    })
  }

  /** Case 1: rebuild `agg` with every hoistable extraction aliased in
    * the Project below it (`existing` when PullOutGroupingExpressions
    * already made one, else a fresh one over `agg.child`); None when no
    * extraction hoists or a bare variant use remains (hoisting would
    * then not enable a clip anyway). */
  private def hoistAggregateExtractions(agg: Aggregate,
      rel: DataSourceV2Relation,
      existing: Option[Project]): Option[Aggregate] = {
    val vAttrs = variantAttrs(rel)
    if (vAttrs.isEmpty) return None
    val found = scala.collection.mutable.ArrayBuffer.empty[VariantGet]
    var bareUse = false
    def scan(e: Expression): Unit = e match {
      case vg: VariantGet if isHoistable(vg, vAttrs) => found += vg
      case a: AttributeReference if vAttrs.contains(a) => bareUse = true
      case other => other.children.foreach(scan)
    }
    (agg.groupingExpressions ++ agg.aggregateExpressions).foreach(scan)
    if (bareUse || found.isEmpty) return None
    val hoisted = scala.collection.mutable.ArrayBuffer.empty[(VariantGet, Alias)]
    found.foreach { vg =>
      if (!hoisted.exists(_._1.semanticEquals(vg)))
        hoisted += vg -> Alias(vg, s"_vg${hoisted.size}")()
    }
    def rewrite(e: Expression): Expression = e match {
      case vg: VariantGet =>
        hoisted.find(_._1.semanticEquals(vg)).map(_._2.toAttribute)
          .getOrElse(vg.mapChildren(rewrite))
      case other => other.mapChildren(rewrite)
    }
    val newGrouping = agg.groupingExpressions.map(rewrite)
    val newAggExprs = agg.aggregateExpressions.map(rewrite(_)
      .asInstanceOf[NamedExpression])
    val newRefs = AttributeSet((newGrouping ++ newAggExprs)
      .flatMap(_.references))
    val child = existing match {
      case Some(p) =>
        // keep only the entries the rewritten aggregate still reads —
        // in particular the bare variant passthrough, whose survival
        // would push the full '$' and defeat the clip
        Project(p.projectList.filter(ne => newRefs.contains(ne.toAttribute))
          ++ hoisted.map(_._2), p.child)
      case None =>
        Project(agg.child.output.filter(newRefs.contains) ++
          hoisted.map(_._2), agg.child)
    }
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = newAggExprs, child = child))
  }

  /** Case 2: trim the relation's output to the columns the Project +
    * Filter chain references and record the list for the ScanBuilder.
    */
  private def trimRelationColumns(p: Project, child: LogicalPlan,
      rel: DataSourceV2Relation): LogicalPlan = {
    def filterRefs(n: LogicalPlan): AttributeSet = n match {
      case f: Filter => f.condition.references ++ filterRefs(f.child)
      case _ => AttributeSet.empty
    }
    val referenced = AttributeSet(p.projectList.flatMap(_.references)) ++
      filterRefs(child)
    if (!referenced.subsetOf(AttributeSet(rel.output)) ||
        rel.options.containsKey(RefuseVariantsKey)) return p
    val keep = rel.output.filter(referenced.contains)
    if (keep.size == rel.output.size) return p
    val opts = new java.util.HashMap[String, String](rel.options)
    opts.put(ReferencedColsKey, keep.map(_.name).mkString(","))
    val newRel = rel.copy(output = keep,
      options = new CaseInsensitiveStringMap(opts))
    p.copy(child = child.transformUp {
      case r: DataSourceV2Relation if r eq rel => newRel
    })
  }
}
