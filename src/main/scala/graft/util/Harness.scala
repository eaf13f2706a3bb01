package graft.util

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What the measuring mains (Bench, PlanDump, PlanAudit) and the
  * plan-shape specs share.
  */
object Harness {
  /** Cumulative execution counters over everything the session runs:
    * jobs started, stages completed and their tasks, records read from
    * sources and shuffle bytes written.  Callers snapshot them around
    * a query, after [[drainListenerBus]], to attribute the deltas.
    */
  final class Counters extends SparkListener {
    val jobs = new AtomicLong(0L)
    val stages = new AtomicLong(0L)
    val tasks = new AtomicLong(0L)
    val recordsRead = new AtomicLong(0L)
    val shuffleBytes = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
  }

  /** A [[Counters]] registered on the session's listener bus. */
  def counters(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

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
