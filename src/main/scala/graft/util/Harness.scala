package graft.util

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Bench, PlanDump, Verify and the plan-shape specs share. */
object Harness {
  /** Counter values at one instant; `b - a` is what ran in between. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      recordsRead: Long, shuffleBytes: Long, cpuNs: Long, gcMs: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, recordsRead - o.recordsRead,
      shuffleBytes - o.shuffleBytes, cpuNs - o.cpuNs, gcMs - o.gcMs)
  }

  /** Cumulative execution counters over everything the session runs:
    * jobs started, stages completed and their tasks, records read from
    * sources, shuffle bytes written, executor CPU time and JVM GC time.
    * Callers snapshot them around a query, after [[drainListenerBus]],
    * to attribute the deltas.
    */
  final class Counters extends SparkListener {
    private val jobs, stages, tasks, recordsRead, shuffleBytes, cpuNs, gcMs = new AtomicLong(0L)
    def snapshot: Counts = Counts(jobs.get, stages.get, tasks.get,
      recordsRead.get, shuffleBytes.get, cpuNs.get, gcMs.get)
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
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
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

  /** Free what one query left behind, between queries: catalog cache
    * entries (the two-pass rank queries persist) and localCheckpoint
    * pins ([[Pins.eager]] blocks, which `clearCache` does not touch),
    * so no query's cache evicts another's working set and each run is
    * cold; then drain the bus so the query's events are counted before
    * the next one starts.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Pins.releaseAll(spark)
    drainListenerBus(spark)
  }

  /** Run `body` and return its result with each `(funcName,
    * executedPlan)` the session completed meanwhile, in completion
    * order.  An adaptive plan reads as its final (executed) form
    * through [[planNodes]].
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(func -> qe.executedPlan); ()
      }
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus(spark) // earlier queries' events stay out
    spark.listenerManager.register(listener)
    val r =
      try body
      finally { drainListenerBus(spark); spark.listenerManager.unregister(listener) }
    (r, plans.asScala.toSeq)
  }

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
