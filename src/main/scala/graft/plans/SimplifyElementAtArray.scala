package graft.plans

import org.apache.spark.sql.catalyst.expressions.{CreateArray, ElementAt, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Rewrite `element_at(array(e1..ek), ±i)` with a literal in-range
  * index to the selected branch.
  *
  * Catalyst's SimplifyExtractValueOps does this for `GetArrayItem`
  * (`arr[i]`) but `element_at` resolves to `ElementAt`, which it does
  * not match — so a projection extracting one element of a constructed
  * array evaluates EVERY branch. For expression families built as
  * k-branch arrays (e.g. a k-permutation MinHash signature where each
  * branch hashes every shingle) that is a k× compute blowup that
  * whole-stage codegen cannot eliminate (subexpression elimination
  * does not reach inside lambda bodies).
  *
  * Safe because analysis has already coerced the array children to a
  * common element type, and an in-range literal index can neither
  * raise (ANSI) nor hit `defaultValueOutOfBound`. Out-of-range or
  * zero indexes are left alone so runtime error semantics are
  * preserved.
  */
object SimplifyElementAtArray extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ElementAt(ca: CreateArray, Literal(i: Int, IntegerType), _, _)
          if i != 0 && math.abs(i) <= ca.children.size =>
        val idx = if (i > 0) i - 1 else ca.children.size + i
        ca.children(idx)
    }
}
