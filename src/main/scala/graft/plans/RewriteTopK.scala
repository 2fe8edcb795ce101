package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (SURVEY.md §2.8, injected via
  * `GraftExtensions.injectOptimizerRule`): rewrites the ubiquitous
  * hand-written top-k pattern
  *
  * {{{ Filter(rn <= k, Window(row_number() OVER (PARTITION BY g ORDER BY s))) }}}
  *
  * into the custom [[GroupTopK]] operator, turning the O(n log n)
  * full-partition WindowExec sort into bounded per-group heaps —
  * users keep writing the idiomatic formulation and the engine picks
  * the scalable plan. Deliberately conservative: only the exact
  * single-row_number / single-comparison shape rewrites; anything
  * else keeps the built-in plan.
  */
object RewriteTopK extends Rule[LogicalPlan] {

  private def rowNumberFrame(spec: WindowSpecDefinition): Boolean = spec.frameSpecification match {
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
    case _ => false
  }

  /** rn <= k / rn < k / k >= rn / k > rn on the window output attr. */
  private def extractK(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn.exprId =>
      Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn.exprId =>
      Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: AttributeReference) if a.exprId == rn.exprId =>
      Some(k)
    case GreaterThan(Literal(k: Int, _), a: AttributeReference) if a.exprId == rn.exprId =>
      Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(1, _)) if a.exprId == rn.exprId => Some(1)
    case _ => None
  }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = w match {
    case Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
        partitionSpec, orderSpec, child, _) if rowNumberFrame(spec) && orderSpec.nonEmpty =>
      extractK(cond, alias.toAttribute).collect {
        case k if k > 0 => GroupTopK(partitionSpec, orderSpec, k, child, alias.toAttribute)
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) =>
      rewrite(cond, w).getOrElse(f)
    // the analyzer usually leaves Project(outputs, Window) between
    case f @ Filter(cond, Project(projList, w: Window))
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      rewrite(cond, w).map(g => Project(projList, g)).getOrElse(f)
  }
}
