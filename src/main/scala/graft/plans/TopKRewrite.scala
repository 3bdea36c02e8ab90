package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the ubiquitous
  * `SELECT cols FROM (SELECT *, row_number() OVER (PARTITION BY p ORDER BY o)
  * AS rn FROM t) WHERE rn <= k`  — when `rn` itself is projected away —
  * into the two-phase TopKPerGroup operator, replacing the full
  * shuffle+sort window with map-side bounded heaps.
  *
  * Fires only on the exact safe shape: Project over Filter(rn ≤/< lit) over
  * a single-row_number Window, where the projection references nothing but
  * the window's child output (so dropping the rank column is observable-
  * equivalence-safe; under order ties both forms pick an arbitrary k, the
  * same nondeterminism class as row_number itself).
  *
  * Relation to Spark's own InferWindowGroupLimit (3.5+): that rule bounds
  * the rows entering the shuffle but still runs Sort + Window + Filter
  * after it to materialize the rank. When the rank is dropped, this rule
  * removes that whole post-shuffle sort/rank tail (and strips the
  * now-redundant WindowGroupLimit Spark already inserted below).
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, _)) if a.exprId == rn => Some(v)
    case LessThan(a: AttributeReference, Literal(v: Int, _)) if a.exprId == rn => Some(v - 1)
    case LessThanOrEqual(a: AttributeReference, Literal(v: Long, _)) if a.exprId == rn => Some(v.toInt)
    case LessThan(a: AttributeReference, Literal(v: Long, _)) if a.exprId == rn => Some(v.toInt - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
          Filter(cond, Window(Seq(alias @ Alias(we: WindowExpression, _)), part, order, child, _)))
        if we.windowFunction.isInstanceOf[RowNumber] &&
          part.forall(_.isInstanceOf[AttributeReference]) =>
      limitOf(cond, alias.exprId) match {
        case Some(k) if k > 0 &&
            projList.forall(_.references.subsetOf(child.outputSet)) &&
            !projList.exists(_.references.contains(alias.toAttribute)) =>
          // Spark's InferWindowGroupLimit may already have inserted a group
          // limit below the window; our partial phase subsumes it
          val base = child match {
            case WindowGroupLimit(_, _, _, _, inner) => inner
            case other                               => other
          }
          Project(projList, TopKPerGroup(part, order, k, base))
        case _ => p
      }
  }
}
