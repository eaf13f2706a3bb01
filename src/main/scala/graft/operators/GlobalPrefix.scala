package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranks and running sums with NO single-partition
  * window — the two-pass range-partition recipe behind every global
  * rank, cumsum and exact percentile in the registry (q17's chunking,
  * q65's percentiles, q71's packing offsets, q104's deciles, ...),
  * written once so the arithmetic cannot drift between copies:
  *
  *  1. range-partition on (keys ++ order) and tag each row with its
  *     partition id `pid` — contiguous, balanced partitions;
  *  2. pin that frame, so both passes below see the SAME pid
  *     assignment (without the pin, correctness would hinge on
  *     ReuseExchange deduplicating two range shuffles whose sampled
  *     bounds may differ under AQE/pruning divergence);
  *  3. aggregate each measure per (keys, pid) piece — at most
  *     keys × nParts rows — prefix-sum the pieces in pid order into
  *     per-piece offsets (plus the per-key totals) and broadcast them
  *     back;
  *  4. a local window per (pid, keys) in `order`, plus the piece's
  *     offset, is the exact global running value.
  *
  * Every window is keyed: the local ones by (pid, keys), the offsets
  * and totals windows by the keys or, with no keys, by the constant
  * `pmod(pid, 1)` — one partition of ≤ nParts rows, kept off
  * WindowExec's no-partition path.  Integral measures sum exactly, so
  * the split sums equal the single-window form bit for bit, wherever
  * the range bounds land.
  *
  * Pin: `eager` is Pins.eager, required when the result's lineage
  * feeds a broadcast join (a lazy checkpoint materialized from a
  * broadcast thread is the r11 deadlock, util/Pins.scala); otherwise
  * the pin is a lazy `localCheckpoint(false)` — materialized by the
  * caller's first action, released by the ContextCleaner once the
  * frame is unreachable, nothing registered in the SQL CacheManager.
  * The trade of both: an executor lost mid-action fails the job
  * instead of recomputing lineage.
  *
  * 100 TB shape: one range exchange of the input, one piece-sized
  * aggregate and window, one broadcast join back; O(1) state per row.
  */
object GlobalPrefix {

  /** One running value over the global order, named `as`.  With no
    * `measure` it counts rows — the 1-based rank (a row_number);
    * otherwise it sums the named column, over the rows up to and
    * including the current one, or strictly before it when
    * `inclusive` is false.  `total` names the per-key total column.
    */
  final case class Running(as: String, measure: Option[String] = None,
                           inclusive: Boolean = true, total: Option[String] = None)

  /** `df`'s columns plus one long column per `runs` entry and one per
    * requested total, in that order.
    */
  def apply(df: DataFrame, nParts: Int, eager: Boolean, keys: Seq[String],
            order: Seq[Column])(runs: Running*): DataFrame = {
    val ranged = df.repartitionByRange(nParts, keys.map(col) ++ order: _*)
      .withColumn("pid", spark_partition_id())
    val sorted = if (eager) graft.util.Pins.eager(ranged) else ranged.localCheckpoint(false)
    val pieceCols = runs.map(r =>
      r.measure.fold(count(lit(1)))(m => sum(col(m))).as(s"_piece_${r.as}"))
    val pieces = sorted.groupBy(keys.map(col) :+ col("pid"): _*)
      .agg(pieceCols.head, pieceCols.tail: _*)
    // a named key column, so the offsets and totals windows share one
    // exchange (an inline expression is aliased once per window)
    val (keyed, byKey) =
      if (keys.nonEmpty) (pieces, Window.partitionBy(keys.map(col): _*))
      else (pieces.withColumn("_all", pmod(col("pid"), lit(1))), Window.partitionBy("_all"))
    val before = byKey.orderBy(col("pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = runs.foldLeft(keyed) { (f, r) =>
      val piece = col(s"_piece_${r.as}")
      val withOff = f.withColumn(s"_off_${r.as}", coalesce(sum(piece).over(before), lit(0L)))
      r.total.fold(withOff)(t => withOff.withColumn(t, sum(piece).over(byKey)))
    }.drop("_all" +: runs.map(r => s"_piece_${r.as}"): _*)
    val local = Window.partitionBy(col("pid") +: keys.map(col): _*).orderBy(order: _*)
    runs.foldLeft(sorted.join(broadcast(offsets), keys :+ "pid")) { (f, r) =>
      val running = r.measure match {
        case None => row_number().over(local).cast("long")
        case Some(m) if r.inclusive =>
          sum(col(m)).over(local.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case Some(m) =>
          coalesce(sum(col(m)).over(local.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      }
      f.withColumn(r.as, running + col(s"_off_${r.as}"))
    }.select((df.columns.toSeq ++ runs.map(_.as) ++ runs.flatMap(_.total)).map(col): _*)
  }
}
