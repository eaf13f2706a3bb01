package graft.operators

import graft.functions.Folds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-state ordered neighbor folds for the iterative graph
  * family (q119 PageRank, q307 HITS).
  *
  * Why not a plain `sum`: IEEE double addition is not associative, so
  * a shuffle-order-dependent sum cannot be replayed by the DuckDB
  * oracle; the graph family therefore folds each node's neighbor
  * contributions in a PINNED order.  The flat form — one
  * `graft.functions.Folds.orderedSum(v, id)` per node — is
  * bit-replayable but carries a HUB HAZARD: one 10M-degree node
  * materializes one 10M-element array in a single row, so per-key
  * memory (not the shuffle) becomes the bound at 100 TB (VERDICT r16).
  *
  * The fix is a two-level segmented fold: neighbors land in RESIDUE
  * segments (id mod `width`), each segment folds in ascending id
  * order, then the segment partials fold in segment order.  The
  * sequence is pinned — both engines fold ((0+v₁)+v₂)+… within
  * segments and ((0+p₁)+p₂)+… across them, replayed CTE-for-CTE by
  * the oracle — and per-row state drops from degree to
  * max(⌈degree/width⌉ expected, width): the level-2 array is ≤ width
  * ALWAYS (residues are bounded), and level-1 segments hold
  * ~degree/width for dense or hash-distributed ids (the TPC-H keys
  * and doc ids here are dense by construction; an adversarial
  * residue-clustered id space would swap the segment expression for
  * `pmod(hv60(id), width)` without changing the shape).  A 10M-degree
  * hub is ~2442 rows per segment at the default width 4096.
  *
  * Plan shape: level 1 exchanges on (key, segment) — the same data
  * volume the flat fold's single exchange moved — and level 2 on key
  * moves only the segment PARTIALS (≤ width rows per key); no sort,
  * no window.  Two rejected variants, both measured on q307 at
  * sf0.1: a rank-segmented form (keyed row_number window) pays a
  * per-partition sort, and an explicit pre-repartition on key (which
  * fuses the two exchanges into one) defeats map-side partial
  * aggregation — both slower than this shape.  Batch23Spec proves
  * fold equivalence on a crafted hub graph and pins the two-exchange
  * shape.
  */
object GraphFold {

  /** Σ v per `key`, folded via the two-level residue-segmented fold
    * described above.  `id` must be unique per key (an edge list
    * after distinct); the result column is named `out`.
    */
  def segmentedSum(df: DataFrame, key: String, id: Column, v: Column,
                   out: String, width: Int = 4096): DataFrame =
    df.withColumn("_seg", pmod(id.cast("long"), lit(width.toLong)))
      .groupBy(col(key), col("_seg"))
      .agg(Folds.orderedSum(v, id).as("_part"))
      .groupBy(col(key))
      .agg(Folds.orderedSum(col("_part"), col("_seg")).as(out))
}
