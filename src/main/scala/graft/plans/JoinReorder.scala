package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** The second stats-feedback registry (the q356 pattern applied to
  * q348's decision): a JOIN-ORDER choice computed from the engine's
  * own statistics (containment estimates over exact counts/NDVs — the
  * q348 advisor) is ENFORCED inside the Catalyst plan.  The consumer
  * computes the estimate for both associations of a linear 3-table
  * chain, registers "the marked join runs FIRST" under a
  * per-call-unique key-column name, and [[ReorderJoinByStats]]
  * rewrites ((A ⋈ B) ⋈ C) into ((A ⋈ C) ⋈ B) when the marked
  * condition is the OUTER one — pure inner-join reassociation,
  * value-preserving by algebra, visible in the physical plan.
  *
  * Scoping mirrors [[BloomRegistry]]: the marker column name is
  * unique per call, so the rule is inert for every other plan.
  */
object JoinOrderRegistry extends BoundedRegistry[Boolean](64) {
  /** innerFirst = true: the join carrying the marked condition should
    * run innermost (first); false records an explicit keep-decision.
    */
  override def register(markerAttrName: String, innerFirst: Boolean): Unit =
    super.register(markerAttrName, innerFirst)
}

/** Optimizer rule: (A ⋈_{c1} B) ⋈_{c2} C → (A ⋈_{c2} C) ⋈_{c1} B
  * when c2 is an equi-condition on a REGISTERED marker column with an
  * innerFirst=true decision, c2's references live entirely in A ∪ C,
  * and c1's in A ∪ B — the guards that make inner-join reassociation
  * sound.  A column-pruning Project (attribute-only) between the two
  * joins is stripped during the rewrite; the next optimizer iteration
  * re-prunes.  Idempotent: after the swap the marked condition sits
  * on the INNER join, whose left child is a leaf subtree, so the
  * pattern cannot match again.
  */
object ReorderJoinByStats extends Rule[LogicalPlan] {

  private def markerDecision(cond: Expression): Option[(AttributeReference, Boolean)] =
    cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        JoinOrderRegistry.lookup(a.name).map(d => (a, d))
          .orElse(JoinOrderRegistry.lookup(b.name).map(d => (b, d)))
      case _ => None
    }

  /** Strip one attribute-only Project (ColumnPruning's shape) so the
    * inner Join is visible; safe to drop because the rewritten tree's
    * output is re-pruned by the fixed-point batch.
    */
  private def innerJoin(plan: LogicalPlan): Option[Join] = plan match {
    case j: Join => Some(j)
    case Project(list, j: Join)
        if list.forall(_.isInstanceOf[AttributeReference]) => Some(j)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (JoinOrderRegistry.isEmpty) plan
    else plan.transform {
      case outer @ Join(left, c, Inner, Some(c2), h2) =>
        (markerDecision(c2), innerJoin(left)) match {
          case (Some((_, true)), Some(inner @ Join(a, b, Inner, Some(c1), h1)))
              if c2.references.subsetOf(a.outputSet ++ c.outputSet) &&
                 c1.references.subsetOf(a.outputSet ++ b.outputSet) &&
                 // TERMINATION guard: when the INNER condition also
                 // carries a registered marker (a chain joining the
                 // same marked column to both tables), the swap would
                 // re-mark the outer join and the fixed-point batch
                 // would oscillate forever (found by the Batch28Spec
                 // property trials: 100 iterations of alternating
                 // swaps, each nesting a Project, until the plan
                 // traversal overflowed).  Refusing is always sound —
                 // the naive order is equally correct.
                 markerDecision(c1).isEmpty =>
            // Preserve the ORIGINAL outer output (set and order): the
            // stripped pruning Project would otherwise let B's pruned
            // columns reappear — invisible under exprId-resolving
            // parents, but schema-changing if this join were the plan
            // root or fed a positional operator (Union).
            Project(outer.output,
              Join(Join(a, c, Inner, Some(c2), h2), b, Inner, Some(c1), h1))
          case _ => outer
        }
    }
}
