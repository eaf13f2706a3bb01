package graft.util

import org.apache.spark.sql.SparkSession

/** What the measuring mains (Bench, PlanDump) share. */
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
}
