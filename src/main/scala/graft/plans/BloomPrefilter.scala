package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BloomFilterMightContain, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, LongType}

/** The stats-feedback registry: a CBO decision (here: the q339 bloom
  * prune, measured and certified zero-false-negative) ENFORCED inside
  * a Catalyst plan instead of reported as an audit row.  A build step
  * aggregates the dim side's join keys into a bloom bitmap
  * (`graft_bloom_agg`, Spark's own distributed BloomFilterAggregate)
  * and registers it under the probe column's name; the injected
  * optimizer rule [[InjectBloomPrefilter]] then splices
  * `might_contain(bloom, key)` as a Filter UNDER the probe side of
  * any inner equi-join on that column — before the shuffle, where the
  * pruning pays.
  *
  * Scoping: consumers register the bloom under a per-call UNIQUE
  * column name (the probe column is renamed internally), so the rule
  * can never fire on an unrelated query's join — the registry is
  * inert for every plan that doesn't carry a registered name.
  *
  * This is the registry flavor of Spark's own InjectRuntimeFilter
  * (which splices the build as a scalar subquery at optimization
  * time); the registry flavor matches the engine's ANALYZE lifecycle
  * — stats are built once (q331/q338/q339), persisted, and consumed
  * by later plans (q335/q348, and now this rule) — and lets the SAME
  * bitmap serve many queries without rebuilding per plan.
  *
  * Registrations are ~16 KB bitmaps, 64 kept; eviction is
  * value-invisible because the prefilter only ever PRUNES.
  */
object BloomRegistry extends BoundedRegistry[Array[Byte]](64)

/** Optimizer rule: for an inner equi-join whose probe-side key column
  * is registered in [[BloomRegistry]], insert
  * `BloomFilterMightContain(bloomLiteral, key)` as a Filter on that
  * side — the join's result is unchanged (a bloom has NO false
  * negatives: every true match passes, the q339-certified property),
  * but definite-miss rows die before the exchange.  Idempotent (the
  * fixed-point batch requirement): a side already carrying a
  * might_contain on the same attribute is left alone.  Only LongType
  * keys are eligible (BloomFilterAggregate's input contract).
  *
  * Soundness scope: candidate attributes are collected from TOP-LEVEL
  * CONJUNCTS only (`splitConjunctivePredicates`).  An equality buried
  * under OR/NOT does not force every result row to satisfy it — a row
  * can match the join via the other disjunct — so splicing a
  * might_contain Filter from such an equality would drop valid rows.
  * Consumers register purely conjunctive conditions today; this guard
  * keeps the always-injected rule sound even if one ever doesn't.
  */
object InjectBloomPrefilter extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  /** Has this side already been prefiltered with THIS bitmap?  Matched
    * by BITMAP IDENTITY, not by attribute name: PushDownPredicates
    * rewrites a spliced filter's attribute through the probe-side
    * alias (the per-call marker name becomes the underlying column),
    * after which a name-based check stops seeing it — and the rule
    * re-splices every iteration, making the fixed-point batch
    * oscillate (splice → push+dedup → splice …), which in turn starves
    * any LATER extended rule of a clean shape to match (found by the
    * Batch28Spec rule-composition pin: ReorderJoinByStats never fired
    * while the bloom was registered on the same join).  The bitmap
    * literal survives every rewrite, so identity on it is rename-proof.
    * A second registration sharing the identical bitmap bytes on a
    * different column of the same join would be suppressed — a missed
    * optimization, never an error.
    */
  private def alreadyFiltered(side: LogicalPlan, bloom: Array[Byte]): Boolean =
    side.collectFirst { case f: Filter if f.condition.exists {
      case BloomFilterMightContain(l: org.apache.spark.sql.catalyst.expressions.Literal, _) =>
        l.value match {
          case b: Array[Byte] => java.util.Arrays.equals(b, bloom)
          case _ => false
        }
      case _ => false
    } => f }.nonEmpty

  private def prefilter(side: LogicalPlan, attr: AttributeReference,
      bloom: Array[Byte]): LogicalPlan =
    Filter(BloomFilterMightContain(Literal(bloom, BinaryType), attr), side)

  private def equiAttrs(cond: Expression): Seq[AttributeReference] =
    splitConjunctivePredicates(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) => Seq(a, b)
    }.flatten

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (BloomRegistry.isEmpty) plan
    else plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val candidates = equiAttrs(cond).filter(a =>
          a.dataType == LongType && BloomRegistry.lookup(a.name).isDefined)
        candidates.foldLeft(j) { (join, attr) =>
          val bloom = BloomRegistry.lookup(attr.name).get
          if (join.left.outputSet.contains(attr) &&
              !alreadyFiltered(join.left, bloom))
            join.copy(left = prefilter(join.left, attr, bloom))
          else if (join.right.outputSet.contains(attr) &&
              !alreadyFiltered(join.right, bloom))
            join.copy(right = prefilter(join.right, attr, bloom))
          else join
        }
    }
}
