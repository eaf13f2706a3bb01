package graft

import graft.operators.GlobalPrefix
import graft.operators.GlobalPrefix.Running
import graft.util.Harness.planNodes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The two-pass global prefix helper against the single-window form it
  * replaces: same ranks, running sums and totals at any partition
  * count, with every window keyed.
  */
class GlobalPrefixSpec extends SparkSuite {

  // three groups of uneven size: g1 holds 3/4 of the rows, so at four
  // range partitions its rows span several of them; `score` has ties,
  // broken by id
  private def frame: DataFrame = spark.range(0, 200, 1, 3).select(
    when(col("id") < 150, "g1").when(col("id") < 190, "g2").otherwise("g3").as("g"),
    pmod(col("id") * 37, lit(23L)).as("score"),
    col("id"),
    (pmod(col("id") * 11, lit(7L)) + 1L).as("w"))

  private val order = Seq(col("score").desc, col("id").asc)

  private def reference(keys: Seq[String]): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val w = byKey.orderBy(order: _*)
    frame
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("before",
        coalesce(sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", count(lit(1)).over(byKey))
      .withColumn("wt", sum(col("w")).over(byKey))
  }

  for ((keys, nParts, eager) <- Seq(
      (Nil, 1, false), (Nil, 4, true), (Seq("g"), 1, true), (Seq("g"), 4, false))) {
    test(s"keys=${keys.mkString(",")} nParts=$nParts eager=$eager: equals the single-window form, every window keyed") {
      val got = GlobalPrefix(frame, nParts, eager, keys, order)(
        Running("rank", total = Some("n")),
        Running("cum", Some("w"), total = Some("wt")),
        Running("before", Some("w"), inclusive = false))
      assert(got.columns.toSeq == Seq("g", "score", "id", "w", "rank", "cum", "before", "n", "wt"))
      val rows = got.collect()
      val want = reference(keys).select(got.columns.map(col): _*).collect()
      assert(rows.length == 200)
      assert(rows.toSet == want.toSet)
      val windows = planNodes(got.queryExecution.executedPlan).collect { case w: WindowExec => w }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        "a Window with an empty partitionSpec moves ALL data to one partition")
    }
  }

  test("the grouped case is exercised: one group's rows span several range partitions") {
    val pids = frame.repartitionByRange(4, col("g") +: order: _*)
      .filter(col("g") === "g1")
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(pids > 1, s"g1 landed in $pids range partition(s)")
  }
}
