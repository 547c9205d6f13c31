package graft.spark

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeSet, ConditionalExpression,
  Expression, HigherOrderFunction, NamedExpression, NamedLambdaVariable, Or}
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE

/**
 * Evaluate per-document DOM expressions once per document, not once per
 * generated row.
 *
 * `ExtractGenerator` leaves every non-generator expression of a select in a
 * `Project` above the `Generate`, so `select(dom_base_uri(n),
 * explode(dom_attr_each(n, …)))` evaluates `dom_base_uri(n)` once per
 * exploded link: the optimized plan is `Project [canonicalize_url(href,
 * dom_base_uri(n))] ← Generate(explode(…), [n])`. Each evaluation decodes
 * the document's node array again.
 *
 * This rule moves each deterministic [[DomExpression]] of such a `Project`
 * that references only the `Generate` child's output into a new `Project`
 * below the `Generate`, and replaces it above with the new attribute. The
 * `Generate` then keeps just the child columns the `Project` above still
 * reads (as `ColumnPruning` would).
 *
 * Only inputs that the `Project` evaluates for every row are searched, the
 * same exclusions Spark's `EquivalentExpressions` makes: a lambda body (and
 * any expression holding a lambda variable) stays where it is, since it runs
 * per element, or never; so do the branches of a conditional (`If`,
 * `CaseWhen`, `Coalesce`, …) past its always-evaluated inputs and the right
 * side of `AND` / `OR`, which the user may have guarded. A document whose
 * generator yields no rows now evaluates a moved expression once, where
 * before it evaluated it never; DOM expressions are null-safe, so that costs
 * time, not results.
 */
object PushDomBelowGenerate extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(GENERATE)) {
      case p @ Project(projectList, g: Generate) =>
        val pushed = mutable.LinkedHashMap[Expression, Alias]()
        val newList = projectList.map(rewrite(_, g, pushed).asInstanceOf[NamedExpression])
        if (pushed.isEmpty) p
        else {
          val child = Project(g.child.output ++ pushed.values, g.child)
          val used = AttributeSet(newList.flatMap(_.references))
          val unrequired = child.output.indices.filterNot(i => used.contains(child.output(i)))
          p.copy(projectList = newList,
            child = g.copy(unrequiredChildIndex = unrequired, child = child))
        }
    }

  /** `e` with each pushable expression on an always-evaluated path replaced
    * by the attribute of its alias in `pushed`. */
  private def rewrite(
      e: Expression, g: Generate, pushed: mutable.LinkedHashMap[Expression, Alias]): Expression = {
    def only(inputs: Seq[Expression]): Expression =
      e.mapChildren(c => if (inputs.exists(_ eq c)) rewrite(c, g, pushed) else c)
    e match {
      case _ if pushable(e, g) =>
        pushed.getOrElseUpdate(e.canonicalized, Alias(e, e.prettyName)()).toAttribute
      case _: HigherOrderFunction => e
      case c: ConditionalExpression => only(c.alwaysEvaluatedInputs)
      case And(l, _) => only(Seq(l))
      case Or(l, _) => only(Seq(l))
      case _ => e.mapChildren(rewrite(_, g, pushed))
    }
  }

  private def pushable(e: Expression, g: Generate): Boolean =
    e.isInstanceOf[DomExpression] && e.deterministic && e.references.nonEmpty &&
      e.references.subsetOf(g.child.outputSet) &&
      !e.exists(x => x.isInstanceOf[NamedLambdaVariable] || x.isInstanceOf[LambdaVariable])
}
