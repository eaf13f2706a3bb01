package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <checkout> --work <work dir> [--record]
  *
  * Prints one JSON object as the last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` — the end-to-end metrics, or with
  * `--trace 1` the per-layer ones.  `--record` (registry_slice only)
  * rewrites the expected registry hashes from one pass instead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, work: Path, record: Boolean)

  /** What a workload run reports. */
  final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
                           endToEnd: Map[String, Double], perLayer: Map[String, Double])

  val Cores = 4

  val EndToEnd: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "cpu_us_per_item" -> "us", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** CPU the program itself spent: process CPU minus the stubs' threads
    * and minus JIT compilation, which is warm-up and would otherwise make
    * the figure depend on how far a given JVM's compiler had got.
    */
  def programCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime -
      StubCpu.nanos.get - ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L

  /** Seconds since the JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def parse(args: Seq[String]): Args = {
    def opt(k: String): Option[String] =
      args.sliding(2).collectFirst { case Seq(`k`, v) => v }
    def req(k: String): String = opt(k).getOrElse(sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      opt("--trace").contains("1"), Paths.get(req("--root")).toAbsolutePath,
      Paths.get(req("--work")).toAbsolutePath, args.contains("--record"))
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    Files.createDirectories(a.work)
    val spark = graft.GraftSession.get(Cores)
    val sessionS = sinceJvmStart()
    val code =
      try {
        val out = a.workload match {
          case "reindex_solr" => new ReindexBench(spark, a, solr = true, sessionS).run()
          case "reindex_files" => new ReindexBench(spark, a, solr = false, sessionS).run()
          case "registry_slice" => new RegistryBench(spark, a, sessionS).run()
          case other => sys.error(s"unknown workload $other")
        }
        report(a, out)
        0
      } finally spark.stop()
    System.exit(code)
  }

  private def report(a: Args, o: Outcome): Unit = {
    o.failures.take(20).foreach(f => println(s"[perfbench] FAILED: $f"))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (n, u) => (n, o.endToEnd.getOrElse(n, 0.0), u) }
      else Layers.names.map { case (n, u) => (n, o.perLayer.getOrElse(n, 0.0), u) }
    metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-44s ${jnum(v)} $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${jnum(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${o.failed == 0 && o.attempted > 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":{$body}}""")
  }
}

/** The per-layer metric names (all printed by every workload's traced
  * run; a layer a workload does not touch reads 0).
  */
object Layers {
  val RegistryQueries: Seq[String] = Seq(
    "q17_reindex_chunks", "q19_dedup_exact", "q113_next_token", "q154_rfm",
    "q247_prefix_jaccard", "q360_cbo_persisted", "q372_stream_mv")

  val JobSites: Seq[String] = Seq("source", "sink_sampling", "sink_write", "errdf_count", "errdf_sample", "other")

  val SpanNames: Seq[String] = Seq("ReindexJob.run", "DocSource.load", "AuthorityStore.enrich",
    "DocSink.write", "SparkEntry.queries", "query.force", "spark.job", "spark.stage",
    "solr.post", "resp.mget")

  val names: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "sources.records_read_per_doc" -> "ratio",
    "sources.authority_enrich_s" -> "s",
    "sources.authority_mget_calls" -> "count",
    "sources.authority_keys" -> "count",
    "sources.authority_connections" -> "count",
    "sources.authority_mget_per_batch" -> "ratio",
    "functions.flatten_us_per_doc" -> "us",
    "functions.parse_errors" -> "count",
    "sinks.write_s" -> "s",
    "sinks.posts" -> "count",
    "sinks.dup_docs" -> "count",
    "sinks.bytes_per_doc" -> "B",
    "sinks.post_handle_ms_p50" -> "ms",
    "sinks.max_posts_in_flight" -> "count",
    "sinks.http_errors" -> "count",
    "sinks.files" -> "count",
    "sinks.bytes_written" -> "B",
    "sinks.max_docs_per_file" -> "count",
    "operators.spark_jobs" -> "count",
    "operators.stages" -> "count",
    "operators.tasks" -> "count",
    "operators.shuffle_write_bytes" -> "B",
    "operators.spill_bytes" -> "B",
    "operators.executor_cpu_s" -> "s",
    "operators.gc_s" -> "s") ++
    JobSites.map(s => s"operators.job_s.$s" -> "s") ++ Seq(
    "plans.plan_s" -> "s",
    "plans.exchanges" -> "count",
    "plans.reused_exchanges" -> "count",
    "plans.scans" -> "count",
    "operators.slice_jobs" -> "count",
    "operators.slice_stages" -> "count",
    "operators.slice_tasks" -> "count",
    "operators.slice_shuffle_bytes" -> "B",
    "operators.slice_executor_cpu_s" -> "s",
    "operators.slice_gc_s" -> "s") ++
    RegistryQueries.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count")) ++
    SpanNames.map(s => s"span.$s.self_s" -> "s") ++ Seq(
    "setup.session_s" -> "s",
    "trace.untraced_items_per_s" -> "1/s",
    "trace.traced_items_per_s" -> "1/s",
    "trace.overhead_pct" -> "%")

  /** Per-op span self time from a tracer, keyed by metric name. */
  def selfTimes(t: Tracer, ops: Int): Map[String, Double] =
    t.selfSeconds().collect { case (n, s) if SpanNames.contains(n) =>
      s"span.$n.self_s" -> s / math.max(ops, 1) }
}
