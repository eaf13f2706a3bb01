package perfbench

import graft.config.ReindexConfig
import graft.functions.ArgotFlatten
import graft.operators.ReindexJob
import graft.sinks.{BatchedUpsertSink, DocSink, HttpUpdateTransport, NdjsonDirSink}
import graft.sources.{AuthorityStore, DocSource, KvAuthorityStore, ParquetDocSource, RespKvTransport}
import graft.util.{ErrorCollector, Lockfile}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Spans around the public calls `ReindexJob.run` makes into each layer. */
private final class TracedSource(in: DocSource, t: Tracer) extends DocSource {
  override def name: String = in.name
  override def healthCheck(): Either[String, Unit] = in.healthCheck()
  override def load(spark: SparkSession): DataFrame = t.span("DocSource.load")(in.load(spark))
}

private final class TracedSink(in: DocSink, t: Tracer) extends DocSink {
  override def name: String = in.name
  override def healthCheck(): Either[String, Unit] = in.healthCheck()
  override def write(df: DataFrame): Long = t.span("DocSink.write")(in.write(df))
  override def checkpoint(): Option[String] = in.checkpoint()
}

private final class TracedStore(in: AuthorityStore, t: Tracer) extends AuthorityStore {
  override def name: String = in.name
  override def healthCheck(): Either[String, Unit] = in.healthCheck()
  override def enrich(df: DataFrame): DataFrame = t.span("AuthorityStore.enrich")(in.enrich(df))
}

/** reindex_solr and reindex_files: repeated `ReindexJob.run` over a
  * generated corpus.  reindex_solr is the production path: authority
  * enrichment through a RESP stub and batched POSTs to a Solr stub,
  * `chunkSize` 1000.  reindex_files skips both network hops and writes
  * NDJSON chunk files at the reference default `chunkSize` 20000.
  *
  * One operation is one `ReindexJob.run` on the whole corpus, with its
  * lock file and output under a fresh directory, followed by the output
  * check.  Set-up comes first: three untimed rounds of the same
  * operation, each with fresh stubs, until the JIT has settled.  Corpus
  * generation is cached by seed and size and is not part of set-up.
  */
final class ReindexBench(spark: SparkSession, a: Main.Args, solr: Boolean, sessionS: Double) {
  import ReindexBench._

  private val sc = spark.sparkContext
  private val tracer = new Tracer(Some(sc))
  private val listener = new SparkTrace(tracer, site)
  private val chunkSize = if (solr) SolrChunk else FilesChunk

  private def stubs(c: Corpus): Option[Stubs] =
    Option.when(solr)(Stubs(new SolrStub(tracer), new RespStub(Corpus.authorities(c.seed), tracer)))

  private var opCount = 0

  private def op(corpusDir: Path, exp: Expected, st: Option[Stubs], traced: Boolean): Op = {
    opCount += 1
    val dir = a.work.resolve(s"op-$opCount")
    Fs.deleteTree(dir)
    Files.createDirectories(dir)
    val out = dir.resolve("out")
    val errors = Option.when(solr)(ErrorCollector(sc))
    val conf = ReindexConfig(password = "bench", chunkSize = chunkSize, authorities = solr,
      sourcePath = corpusDir.toString,
      solrUrl = st.map(_.solr.url).getOrElse(s"file:$out"),
      redisUrl = st.map(_.resp.url).getOrElse(ReindexConfig().redisUrl))
    val sink: DocSink = st match {
      case Some(s) => new BatchedUpsertSink(new HttpUpdateTransport(s.solr.url), chunkSize, errors)
      case None => new NdjsonDirSink(out.toString, chunkSize)
    }
    val store = st.map(s => new TracedStore(new KvAuthorityStore(new RespKvTransport(s.resp.url)), tracer))
    st.foreach(_.reset())
    listener.reset()
    tracer.on = traced
    val cpu0 = Main.programCpuNs()
    val t0 = System.nanoTime()
    val res =
      try tracer.span("ReindexJob.run") {
        ReindexJob.run(spark, conf, new TracedSource(new ParquetDocSource(corpusDir.toString), tracer),
          new TracedSink(sink, tracer), new Lockfile(dir.resolve("reindex.lock")), errors, store)
      } catch { case NonFatal(e) => Left(Seq(s"exception: $e")) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.programCpuNs() - cpu0) / 1e9
    SparkTrace.drain(sc)
    tracer.on = false
    val (failures, docs, outLayers) = res match {
      case Left(reasons) => (reasons, 0L, Map.empty[String, Double])
      case Right(r) => st match {
        case Some(s) =>
          val got = s.solr.docs.asScala.toSeq
          (Checks.solr(exp, r, got), r.docsWritten, Map(
            "functions.parse_errors" -> r.softErrors.toDouble,
            "sources.authority_mget_calls" -> s.resp.mgetCalls.get.toDouble,
            "sources.authority_keys" -> s.resp.keys.get.toDouble,
            "sources.authority_connections" -> s.resp.connections.get.toDouble,
            "sources.authority_mget_per_batch" ->
              s.resp.mgetCalls.get.toDouble / math.ceil(exp.goodIds.size / 512.0),
            "sinks.posts" -> s.solr.posts.get.toDouble,
            "sinks.dup_docs" -> (got.size - got.map(_.id).distinct.size).toDouble,
            "sinks.bytes_per_doc" -> s.solr.bytes.get.toDouble / math.max(got.size, 1),
            "sinks.post_handle_ms_p50" ->
              Main.median(s.solr.handleNanos.asScala.toSeq.map(_.toDouble / 1e6)),
            "sinks.max_posts_in_flight" -> s.solr.maxInFlight.get.toDouble,
            "sinks.http_errors" -> s.solr.errors.get.toDouble))
        case None =>
          val o = Checks.readBack(out)
          (Checks.files(exp, r, o, chunkSize), r.docsWritten, Map(
            "functions.parse_errors" -> r.softErrors.toDouble,
            "sinks.files" -> o.files.toDouble,
            "sinks.bytes_written" -> o.bytes.toDouble,
            "sinks.max_docs_per_file" -> o.maxLines.toDouble))
      }
    }
    Fs.deleteTree(dir)
    val layers = if (!traced) Map.empty[String, Double] else outLayers ++ Map(
      "sources.records_read_per_doc" -> listener.recordsRead.get.toDouble / exp.goodIds.size,
      "operators.spark_jobs" -> listener.jobs.get.toDouble,
      "operators.stages" -> listener.stages.get.toDouble,
      "operators.tasks" -> listener.tasks.get.toDouble,
      "operators.shuffle_write_bytes" -> listener.shuffleWriteBytes.get.toDouble,
      "operators.spill_bytes" -> listener.spillBytes.get.toDouble,
      "operators.executor_cpu_s" -> listener.executorCpuNs.get / 1e9,
      "operators.gc_s" -> listener.gcMs.get / 1e3) ++
      Layers.JobSites.map(s => s"operators.job_s.$s" ->
        Option(listener.siteMs.get(s)).map(_.get / 1e3).getOrElse(0.0))
    Op(docs, wallS, cpuS, failures, traced, layers)
  }

  /** Write (or reuse) the corpus for this seed and size under the cache,
    * keeping only the most recent few.
    */
  private def corpus(c: Corpus): Path = {
    val cache = a.work.getParent.resolve("corpus")
    Files.createDirectories(cache)
    val dir = cache.resolve(s"${c.seed}-${c.docs}")
    c.writeTo(spark, dir)
    Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val all = scala.util.Using.resource(Files.list(cache))(_.iterator.asScala.toSeq)
    all.sortBy(p => -Files.getLastModifiedTime(p).toMillis).drop(KeepCorpora).foreach(Fs.deleteTree)
    dir
  }

  /** Time each layer on its own over the corpus (traced runs only). */
  private def isolatedLayers(corpusDir: Path, exp: Expected, st: Option[Stubs]): Map[String, Double] = {
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val source = new ParquetDocSource(corpusDir.toString)
    val n = (exp.goodIds.size + exp.malformed).toDouble
    val scanS = timed(noop(source.load(spark)))
    val flatS = timed(noop(source.load(spark).select(
      ArgotFlatten.parseError(col("content")), ArgotFlatten.flattenArgot(col("content")))))
    val clean = source.load(spark).filter(ArgotFlatten.parseError(col("content")).isNull)
      .withColumn("flat", ArgotFlatten.flattenArgot(col("content"))).persist()
    clean.count()
    val dir = a.work.resolve("layers")
    Fs.deleteTree(dir)
    Files.createDirectories(dir)
    try {
      val (enrichS, toSink) = st match {
        case Some(s) =>
          val store = new KvAuthorityStore(new RespKvTransport(s.resp.url))
          val t = timed(noop(store.enrich(clean)))
          val enriched = store.enrich(clean).persist()
          enriched.count()
          (t, enriched)
        case None => (0.0, clean)
      }
      st.foreach(_.reset())
      val sink: DocSink = st match {
        case Some(s) => new BatchedUpsertSink(new HttpUpdateTransport(s.solr.url), chunkSize)
        case None => new NdjsonDirSink(dir.resolve("out").toString, chunkSize)
      }
      val writeS = timed(sink.write(toSink))
      toSink.unpersist()
      Map("sources.scan_s" -> scanS,
        "functions.flatten_us_per_doc" -> math.max(flatS - scanS, 0.0) / n * 1e6,
        "sources.authority_enrich_s" -> enrichS,
        "sinks.write_s" -> writeS)
    } finally { clean.unpersist(); Fs.deleteTree(dir) }
  }

  def run(): Main.Outcome = {
    if (a.trace) sc.addSparkListener(listener)
    val main = Corpus(a.seed, Docs)
    val genStart = Main.sinceJvmStart()
    val mainDir = corpus(main)
    val exp = main.expected
    val genS = Main.sinceJvmStart() - genStart

    // set-up rounds: fresh stubs, preflight and one warm-up run each
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      val o = { val st = stubs(main); try op(mainDir, exp, st, traced = false) finally st.foreach(_.close()) }
      ((System.nanoTime() - t0) / 1e9, o)
    }
    val roundsS = Main.sinceJvmStart() - genStart - genS
    val setupS = sessionS + SetupRounds * Main.median(rounds.map(_._1))

    val st = stubs(main)
    val (ops, layers) = try {
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val ops = Iterator.from(0)
        .takeWhile(k => k < (if (a.trace) 2 else 1) || System.nanoTime() < deadline)
        .map(k => op(mainDir, exp, st, traced = a.trace && k % 2 == 1)).toVector
      (ops, if (a.trace) isolatedLayers(mainDir, exp, st) else Map.empty[String, Double])
    } finally st.foreach(_.close())

    val all = rounds.map(_._2) ++ ops
    val ok = ops.filter(o => o.failures.isEmpty && o.docs > 0)
    def rate(os: Seq[Op]): Double = Main.median(os.map(o => o.docs / o.wallS))
    val (traced, untraced) = ok.partition(_.traced)
    val perOp = Layers.names.map(_._1).flatMap { n =>
      val vs = traced.flatMap(_.layers.get(n))
      Option.when(vs.nonEmpty)(n -> Main.median(vs))
    }.toMap
    if (a.trace) tracer.writeTo(a.work.getParent.resolve(s"trace-${a.workload}.jsonl"))
    System.err.println(f"[perfbench] corpus ${genS}%.1f s, set-up rounds " +
      rounds.map(r => f"${r._1}%.2f").mkString("[", ", ", "]") + " s, ops " +
      ops.map(o => f"${o.wallS}%.2f").mkString("[", ", ", "]") + " s")
    Main.Outcome(
      attempted = all.size,
      failed = all.count(_.failures.nonEmpty),
      failures = all.flatMap(_.failures),
      endToEnd = Map(
        "items_per_s" -> rate(untraced),
        "cpu_us_per_item" -> Main.median(untraced.map(o => o.cpuS / o.docs * 1e6)),
        "setup_s" -> setupS,
        "peak_rss_mb" -> Main.peakRssMb()),
      perLayer = perOp ++ layers ++ Layers.selfTimes(tracer, traced.size) ++ Map(
        "setup.session_s" -> sessionS,
        "trace.untraced_items_per_s" -> rate(untraced),
        "trace.traced_items_per_s" -> rate(traced),
        "trace.overhead_pct" -> (rate(untraced) / rate(traced) - 1) * 100))
  }
}

object ReindexBench {
  final case class Stubs(solr: SolrStub, resp: RespStub) extends AutoCloseable {
    def reset(): Unit = { solr.reset(); resp.reset() }
    override def close(): Unit = { solr.close(); resp.close() }
  }

  /** One op's measurements; `layers` is filled for traced ops only. */
  final case class Op(docs: Long, wallS: Double, cpuS: Double, failures: Seq[String],
                    traced: Boolean, layers: Map[String, Double])

  val Docs = 50000
  val SetupRounds = 3
  val SolrChunk = 1000
  val FilesChunk = 20000
  val KeepCorpora = 4

  /** Which part of the pipeline a Spark job serves, from its call site
    * (the final stage's name, e.g. "count at ReindexJob.scala:96") and
    * whether it shuffles: a sink job without a shuffle is the range
    * partitioner's sampling pass.
    */
  def site(callSite: String, shuffles: Boolean): String =
    if (callSite.contains("DocSource.scala")) "source"
    else if (callSite.contains("DocSink.scala")) { if (shuffles) "sink_write" else "sink_sampling" }
    else if (callSite.contains("ReindexJob.scala") && callSite.startsWith("count")) "errdf_count"
    else if (callSite.contains("ReindexJob.scala") && callSite.startsWith("collect")) "errdf_sample"
    else "other"
}
