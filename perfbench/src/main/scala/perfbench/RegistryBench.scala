package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** registry_slice: a fixed slice of registry queries over the committed
  * sf0.01 tables, each forced through `HashSink` (a noop-shaped write
  * that also hashes the rows) and checked against the hashes recorded in
  * `perfbench/expected/registry_slice.tsv`.  Cache pins are released
  * between queries, as `graft.Bench` does.  The seed sets the query
  * order.  One pass over the slice is one operation; untimed passes
  * (`WarmPasses`) warm the JVM and the code generator first, and the
  * fastest timed pass is reported.
  */
final class RegistryBench(spark: SparkSession, a: Main.Args, sessionS: Double) {
  import RegistryBench._

  private val sc = spark.sparkContext
  private val tracer = new Tracer(Some(sc))
  private val listener = new SparkTrace(tracer, (_, _) => "other")
  private val dataDir = a.root.resolve("perfbench/data/sf0.01").toString
  private val expectedFile = a.root.resolve("perfbench/expected/registry_slice.tsv")
  private val order = new scala.util.Random(a.seed).shuffle(Layers.RegistryQueries)

  /** Plan counters over the final physical plan of every SQL execution. */
  private object Plans extends QueryExecutionListener {
    val planMs, exchanges, reused, scans = new AtomicLong(0L)
    def reset(): Unit = Seq(planMs, exchanges, reused, scans).foreach(_.set(0L))
    private def walk(p: SparkPlan): Unit = p match {
      case x: AdaptiveSparkPlanExec => walk(x.executedPlan)
      case x: QueryStageExec => walk(x.plan)
      case _: ReusedExchangeExec => reused.incrementAndGet(); ()
      case x =>
        if (x.isInstanceOf[Exchange]) exchanges.incrementAndGet()
        if (x.getClass.getSimpleName.endsWith("ScanExec")) scans.incrementAndGet()
        x.children.foreach(walk)
        x.subqueries.foreach(walk)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.on) {
        val phases = qe.tracker.phases
        planMs.addAndGet(Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum)
        walk(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def expected(): Map[String, (Long, String)] =
    if (!Files.exists(expectedFile)) Map.empty
    else Files.readAllLines(expectedFile).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, h) = l.split("\t")
      n -> (rows.toLong, h)
    }.toMap

  private def query(name: String): Query = {
    val jobs0 = listener.jobs.get
    val t0 = System.nanoTime()
    val got =
      try {
        tracer.span("query.force") {
          val df = tracer.span("SparkEntry.queries")(graft.SparkEntry.queries(name)(spark, dataDir))
          df.write.format(HashSink.Format).mode("overwrite").option("key", name).save()
        }
        Right(HashSink.take(name))
      } catch { case NonFatal(e) => Left(s"$name: $e") }
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    graft.util.Pins.releaseAll(spark)
    SparkTrace.drain(sc)
    Query(name, s, listener.jobs.get - jobs0, got.toOption, got.left.toOption)
  }

  private def pass(exp: Map[String, (Long, String)], traced: Boolean): Pass = {
    listener.reset(); Plans.reset()
    tracer.on = traced
    val t0 = System.nanoTime()
    val cpu0 = Main.programCpuNs()
    val qs = order.map(query)
    val s = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.programCpuNs() - cpu0) / 1e9
    tracer.on = false
    System.err.println(f"[perfbench] pass $s%.2f s: " + qs.map(q => f"${q.name}=${q.s}%.2f").mkString(" "))
    val failures = qs.flatMap(q => q.failure.toSeq ++
      q.got.toSeq.flatMap(g => Checks.registry(q.name, exp.get(q.name), g)))
    val layers = if (!traced) Map.empty[String, Double] else Map(
      "plans.plan_s" -> Plans.planMs.get / 1e3,
      "plans.exchanges" -> Plans.exchanges.get.toDouble,
      "plans.reused_exchanges" -> Plans.reused.get.toDouble,
      "plans.scans" -> Plans.scans.get.toDouble,
      "operators.slice_jobs" -> listener.jobs.get.toDouble,
      "operators.slice_stages" -> listener.stages.get.toDouble,
      "operators.slice_tasks" -> listener.tasks.get.toDouble,
      "operators.slice_shuffle_bytes" -> listener.shuffleWriteBytes.get.toDouble,
      "operators.slice_executor_cpu_s" -> listener.executorCpuNs.get / 1e9,
      "operators.slice_gc_s" -> listener.gcMs.get / 1e3) ++
      qs.flatMap(q => Seq(s"q.${q.name}.s" -> q.s, s"q.${q.name}.jobs" -> q.jobs.toDouble))
    Pass(s, cpuS, qs, failures, traced, layers)
  }

  /** Rewrite the expected hashes from one pass (after a deliberate
    * change to a query's output).
    */
  private def record(): Main.Outcome = {
    val p = pass(Map.empty, traced = false)
    val lines = p.queries.sortBy(_.name).flatMap(q => q.got.map { case (r, h) => s"${q.name}\t$r\t$h" })
    Files.createDirectories(expectedFile.getParent)
    Files.write(expectedFile, lines.asJava)
    val failed = p.queries.flatMap(_.failure)
    Main.Outcome(p.queries.size, failed.size, failed, Map.empty, Map.empty)
  }

  def run(): Main.Outcome = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(Plans)
    if (a.record) return record()
    val exp = expected()
    val warm = Seq.fill(WarmPasses)(pass(exp, traced = false))
    val setupS = sessionS + warm.map(_.s).sum
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val passes = Iterator.from(0)
      .takeWhile(k => k < (if (a.trace) 2 else 1) || System.nanoTime() < deadline)
      .map(k => pass(exp, traced = a.trace && k % 2 == 1)).toVector
    val all = warm ++ passes
    val ok = passes.filter(_.failures.isEmpty)
    val (traced, untraced) = ok.partition(_.traced)
    val n = order.size.toDouble
    // the fastest timed pass, as graft.Bench keeps the min of its reps:
    // passes still speed up as the JIT settles, and a slow one is a stall
    def rate(ps: Seq[Pass]): Double = ps.map(n / _.s).maxOption.getOrElse(0.0)
    val perPass = Layers.names.map(_._1).flatMap { m =>
      val vs = traced.flatMap(_.layers.get(m))
      Option.when(vs.nonEmpty)(m -> Main.median(vs))
    }.toMap
    if (a.trace) tracer.writeTo(a.work.getParent.resolve(s"trace-${a.workload}.jsonl"))
    System.err.println(s"[perfbench] warm passes ${warm.map(p => f"${p.s}%.1f").mkString(", ")} s, ${passes.size} passes " +
      passes.map(p => f"${p.s}%.2f").mkString("[", ", ", "]"))
    Main.Outcome(
      attempted = all.map(_.queries.size.toLong).sum,
      failed = all.map(_.queries.count(q => q.failure.nonEmpty ||
        q.got.exists(g => Checks.registry(q.name, exp.get(q.name), g).nonEmpty)).toLong).sum,
      failures = all.flatMap(_.failures),
      endToEnd = Map(
        "items_per_s" -> rate(untraced),
        "cpu_us_per_item" -> untraced.map(_.cpuS / n * 1e6).minOption.getOrElse(0.0),
        "setup_s" -> setupS,
        "peak_rss_mb" -> Main.peakRssMb()),
      perLayer = perPass ++ Layers.selfTimes(tracer, traced.size) ++ Map(
        "setup.session_s" -> sessionS,
        "trace.untraced_items_per_s" -> rate(untraced),
        "trace.traced_items_per_s" -> rate(traced),
        "trace.overhead_pct" -> (rate(untraced) / rate(traced) - 1) * 100))
  }
}

object RegistryBench {
  /** The first pass compiles every query's code; the next two still
    * speed up as the JIT settles.
    */
  val WarmPasses = 3

  final case class Query(name: String, s: Double, jobs: Long,
                         got: Option[(Long, String)], failure: Option[String])

  final case class Pass(s: Double, cpuS: Double, queries: Seq[Query], failures: Seq[String],
                        traced: Boolean, layers: Map[String, Double])
}
