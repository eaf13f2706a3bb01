package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one home of the pinned-order double sum.
  *
  * IEEE double addition is not associative, so a plain `sum()` depends
  * on the order rows arrive from the shuffle and cannot be replayed
  * bit for bit by the DuckDB oracle.  Every double sum that reaches an
  * output is therefore a 0.0-seeded LEFT fold in a pinned order —
  * ((0.0 + v₁) + v₂) + … — which the oracle replays as a
  * `list_reduce` over `list(v ORDER BY …)`.
  *
  * Limit: `orderedSum` collects a group's rows into one array, so its
  * memory per group grows with the group's row count.  A key of
  * unbounded degree (a graph hub) goes through
  * `graft.operators.GraphFold.segmentedSum`, which bounds the array by
  * folding residue segments first.
  */
object Folds {

  /** Σ arr, the 0.0-seeded left fold of an array in element order. */
  def sum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Group aggregate Σ v, added in ascending (order…, v) order: the
    * group's `struct(order…, v)` rows are collected, sorted and
    * left-folded from 0.0.  Fields are named by position (`_0`, `_1`,
    * …) so no caller's column name can clash; `v` is the last field,
    * so rows tied on every order key are added in ascending v.
    */
  def orderedSum(v: Column, order: Column*): Column = {
    val fields = (order :+ v).zipWithIndex.map { case (c, i) => c.as(s"_$i") }
    aggregate(sort_array(collect_list(struct(fields: _*))), lit(0.0),
      (acc, x) => acc + x.getField(s"_${order.size}"))
  }
}
