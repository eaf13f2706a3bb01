package graft.operators

import graft.config.ReindexConfig
import graft.functions.ArgotFlatten
import graft.sinks.DocSink
import graft.sources.{AuthorityStore, DocSource}
import graft.util.{ErrorCollector, Lockfile, Preflight}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The composed reindex job — the reference's `main()` re-expressed as
  * one declarative pipeline (reference driver.go:119-220; lifecycle
  * table in SURVEY.md §3.1):
  *
  *   preflight(source, sink) → lockfile → scan → filter/resume →
  *   enrich → flatten+suffix → persist → chunked idempotent sink +
  *   soft-error count → checkpoint → release
  *
  * What the thread/process choreography becomes (SURVEY §3.1): the
  * bounded file channel and worker pool are Spark task scheduling; the
  * errors channel is an ErrorCollector accumulator (B10 fixed: counts
  * are exact and surfaced in the result); the argot subprocess is the
  * in-JVM flatten (O7); `log.Fatal` mid-worker (B1/B9) has no analog —
  * soft errors skip records, hard errors retry tasks.
  */
object ReindexJob {

  /** Outcome surfaced to the operator (replaces the reference's lossy
    * ≤1-error drain + always-zero exit code, driver.go:215-219).
    * `docsWritten` counts only indexed documents; soft-error records
    * are excluded from the sink, so written + softErrors = scanned.
    */
  final case class Result(
      docsWritten: Long,
      softErrors: Long,
      errorSamples: Seq[String],
      checkpoint: Option[String])

  /** Run the pipeline.  Returns Left(reasons) if preflight or locking
    * refuses to start (reference aborts likewise, driver.go:120-145).
    *
    * `sinkErrors`: pass the same ErrorCollector the sink was built
    * with (BatchedUpsertSink takes one) and its per-record delivery
    * failures fold into the Result.
    *
    * `authorityStore`: consulted only when `conf.authorities` (the
    * reference default, config.go:82).  Enabled-but-unwired is a
    * preflight refusal, and the store's own health check joins the
    * preflight round — the reference likewise pings Redis up front
    * and aborts (driver.go:133-145).
    */
  def run(spark: SparkSession, conf: ReindexConfig,
          source: DocSource, sink: DocSink,
          lock: Lockfile = Lockfile.default(),
          sinkErrors: Option[ErrorCollector] = None,
          authorityStore: Option[AuthorityStore] = None): Either[Seq[String], Result] = {
    if (conf.authorities && authorityStore.isEmpty)
      return Left(Seq("authorities enabled but no authority store wired"))
    val store = authorityStore.filter(_ => conf.authorities)
    Preflight.run(Seq(source, sink) ++ store) match {
      case Left(failures) => return Left(failures)
      case Right(_) => ()
    }
    if (!lock.acquire())
      return Left(Seq(s"another reindex holds ${lock.path}" +
        lock.holderPid.map(p => s" (pid $p)").getOrElse("")))
    try {
      // scan → (source applies NOT-deleted + resume) → authority
      // enrichment when a store is wired (O8, the reference's `argot
      // ingest -a --redis-url` step) → one parse per doc: `p` carries
      // the failure reason and the flattened map (Solr dynamic fields)
      // from a single flatten.  Enrichment runs on the scanned frame,
      // before the parse: a kv store's cost grows with the width of
      // the frame it is handed (AuthorityStore), and the source
      // columns are far narrower than the parsed struct and its map.
      //
      // The frame is persisted once and serves every later job: the
      // sink's range-partition sampling pass materializes it, the
      // write and the soft-error count read the cache.  So each doc is
      // scanned once, parsed once and looked up in the store once.
      // The struct is split only above the cache; split below it, the
      // projection could collapse onto the kernel and parse twice.
      val loaded = source.load(spark)
      val cached = store.map(_.enrich(loaded)).getOrElse(loaded)
        .withColumn("p", ArgotFlatten.parseFlatten(col("content"))).persist()
      try {
        // Records whose content fails to flatten are SKIPPED (not
        // indexed): shipping an empty flat map would plant broken
        // documents in the index.  Columns reach the sink in the
        // order source, flat, enrichment.
        val added = cached.columns.filterNot((loaded.columns :+ "p").contains)
        val toSink = cached.filter(col("p.err").isNull)
          .select(loaded.columns.map(col) ++ (col("p.flat").as("flat") +: added.map(col)): _*)
        val written = sink.write(toSink)
        // Exact soft-error surfacing (fixes reference B10): an ordinary
        // count over the cache, not an accumulator inside the flatten,
        // which would over-count whenever the sink's sampling pass
        // evaluates the plan twice.
        val errDf = cached.filter(col("p.err").isNotNull).select(col("id"), col("p.err"))
        val parseErrors = errDf.count()
        val parseSamples =
          if (parseErrors == 0) Seq.empty[String]
          else errDf.orderBy(col("id")).limit(5).collect()
            .map(r => s"doc ${r.getString(0)}: ${r.getString(1)}").toSeq
        val sinkErrCount = sinkErrors.map(_.count).getOrElse(0L)
        val sinkSamples = sinkErrors.map(_.report).getOrElse(Seq.empty)
        Right(Result(written, parseErrors + sinkErrCount,
          parseSamples ++ sinkSamples, sink.checkpoint()))
      } finally { cached.unpersist(); () }
    } finally lock.release()
  }
}
