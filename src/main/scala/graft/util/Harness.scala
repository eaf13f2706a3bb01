package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What the measuring mains (Bench, PlanDump, PlanAudit) and the
  * plan-shape specs share.
  */
object Harness {
  /** Warm up the JVM (codegen compiler, parquet reader, shuffle
    * machinery) so per-query timings measure the query, not first-run
    * JIT: without this the first query absorbs ~7s of fixed startup.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
      graft.Tables.lineitem(spark, sfDir).limit(1000).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

  /** Drain the async listener bus so each query's task-end events are
    * attributed to it, not the next one. `listenerBus` and
    * `waitUntilEmpty` are private[spark], so go through reflection;
    * fall back to a fixed sleep if the internals move.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => Thread.sleep(50) }

  /** Every node of a physical plan, pre-order: AQE wrappers and query
    * stages unwrapped, subqueries walked.  The one plan walker, so a
    * Spark upgrade that adds a wrapper node needs one edit.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case _ => Seq(p)
    }
    self ++ p.children.flatMap(planNodes) ++ p.subqueries.flatMap(planNodes)
  }
}
