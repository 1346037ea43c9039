package graft.plans

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized-view substitution: rewrite an aggregate over a fact
  * table onto a registered pre-aggregated SUMMARY of it whenever the
  * query's group keys are a subset of the summary's dims and every
  * aggregate is derivable from the summary's measures:
  *
  *   sum(x)   → sum(sum_x)        count(*) → sum(cnt)
  *   min(x)   → min(min_x)        max(x)   → max(max_x)
  *
  * The 100 TB payoff: recurring rollup dashboards re-aggregate a
  * dims-cardinality summary (maybe 10⁵ rows) instead of re-scanning
  * the 10¹² -row fact — the query text doesn't change, the optimizer
  * redirects it. Sum-of-sums / min-of-mins / max-of-maxs / sum-of-
  * counts are exactly re-aggregable (decimal sums stay exact; double
  * sums change accumulation ORDER, the same latitude Spark's own
  * partial aggregation already exercises). avg is deliberately NOT
  * rewritten — express it as sum/count to opt in.
  *
  * Matching is by `sameResult` against the registered base plan with
  * pure-attribute Projects stripped (column pruning inserts those), so
  * the rule is insensitive to both attribute ids and pruning order.
  * Rewritten output preserves the original exprIds (parents keep
  * resolving); any widened re-agg type (decimal sum-of-sums) is cast
  * back to the original type. An aggregate with FILTER/DISTINCT
  * modifiers, non-attribute group keys, or a Filter between the agg
  * and the base is left untouched (a dims-only filter is safe in
  * principle — not implemented, keep the rule conservative).
  *
  * A LIVE summary — a view that reads the base's own source, such as
  * an unmaterialized aggregate DataFrame over the fact — is never a
  * rewrite target. Substituting it saves no scan, and it cannot be
  * made safe: the rule runs inside the operator-optimization fixpoint,
  * where column pruning trims the substituted copy of the view into an
  * aggregate that no longer matches the registered one, the rule
  * rewrites that copy again, and the plan nests one level deeper per
  * iteration until the stack overflows.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** A registered rollup over `base`, grouped by `dims`; measure maps
    * go base-column-name → summary-column-name. */
  final case class Summary(base: LogicalPlan, view: LogicalPlan,
                           dims: Set[String], sums: Map[String, String],
                           cnt: Option[String], mins: Map[String, String],
                           maxs: Map[String, String])

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Summary]()

  /** Registers `summary` as a rewrite target for aggregates over
    * `base`; a live summary (see above) is ignored. */
  def register(base: DataFrame, summary: DataFrame, dims: Seq[String],
               sums: Map[String, String] = Map.empty,
               cnt: Option[String] = None,
               mins: Map[String, String] = Map.empty,
               maxs: Map[String, String] = Map.empty): Unit = {
    val basePlan = strip(base.queryExecution.analyzed)
    val view = summary.queryExecution.analyzed
    val baseLeaves = basePlan.collectLeaves()
    val live = view.collectLeaves().exists(l => baseLeaves.exists(_.sameResult(l)))
    if (!live)
      registry.add(Summary(basePlan, view, dims.toSet, sums, cnt, mins, maxs))
  }

  def clear(): Unit = registry.clear()

  @tailrec private def strip(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      strip(c)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        registry.asScala.view.flatMap(rewrite(agg, _)).headOption.getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, s: Summary): Option[Aggregate] = {
    if (!strip(agg.child).sameResult(s.base)) return None
    val viewAttr: Map[String, Attribute] =
      s.view.output.map(a => a.name -> a).toMap

    // group keys: direct dim attributes only
    val groupOk = agg.groupingExpressions.forall {
      case a: AttributeReference => s.dims(a.name) && viewAttr.contains(a.name)
      case _ => false
    }
    if (!groupOk) return None

    def rewriteAggFn(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete)
        return None
      val newFn: Option[AggregateFunction] = ae.aggregateFunction match {
        case sum @ Sum(a: AttributeReference, _) =>
          s.sums.get(a.name).flatMap(viewAttr.get).map(c => sum.copy(child = c))
        case Count(Seq(Literal(_, _))) =>
          s.cnt.flatMap(viewAttr.get).map(c => Sum(c))
        case mn @ Min(a: AttributeReference) =>
          s.mins.get(a.name).flatMap(viewAttr.get).map(c => mn.copy(child = c))
        case mx @ Max(a: AttributeReference) =>
          s.maxs.get(a.name).flatMap(viewAttr.get).map(c => mx.copy(child = c))
        case _ => None
      }
      newFn.map { fn =>
        val newAe = ae.copy(aggregateFunction = fn)
        if (newAe.dataType == ae.dataType) newAe else Cast(newAe, ae.dataType)
      }
    }

    // rewrite an expression tree: aggregates via the measure map (no
    // recursion into the replacement), dim attributes onto view
    // attributes, everything else structurally; None = not derivable
    def rw(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAggFn(ae)
      case a: AttributeReference =>
        if (s.dims(a.name)) viewAttr.get(a.name) else None
      case other =>
        val kids = other.children.map(rw)
        if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    // every output keeps its original name AND exprId (parents resolve
    // against the rewritten aggregate unchanged)
    val newOutput: Seq[Option[NamedExpression]] =
      agg.aggregateExpressions.map {
        case orig: AttributeReference =>
          rw(orig).map(v => Alias(v, orig.name)(exprId = orig.exprId))
        case al: Alias =>
          rw(al.child).map(c => Alias(c, al.name)(exprId = al.exprId))
        case _ => None
      }
    if (newOutput.exists(_.isEmpty)) return None
    val fixedOutput = newOutput.map(_.get)
    val newGrouping = agg.groupingExpressions.map {
      case a: AttributeReference => viewAttr(a.name)
      case e => e
    }
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = fixedOutput, child = s.view))
  }
}
