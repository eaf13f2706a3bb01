package graft.streaming

import graft.functions.TextFunctions
import graft.sinks.DocSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming document ingest with dedup-against-corpus: the
  * incremental form of Dedup.againstCorpus, run per micro-batch.
  *
  * Every batch is (1) deduped within itself (keep min id per
  * fingerprint — deterministic survivor), (2) anti-joined against the
  * persistent fingerprint store, (3) delivered to the sink and THEN
  * appended to the store.  Ordering is load-bearing for at-least-once
  * replay: sink-first means a crash between the two steps replays the
  * batch with its fingerprints still absent from the store, so the
  * same fresh docs are recomputed and the per-batch-idempotent sink
  * rewrites them (store-first would anti-join the replayed docs away
  * before they ever reached the sink — silent loss).  A replay of a
  * FULLY completed batch anti-joins to empty and the sink write is
  * skipped, leaving the batch's existing output untouched.
  *
  * Scale: the store is a parquet directory keyed by fingerprint —
  * the anti-join is one shuffle on fp (or a broadcast when the batch
  * is small).  Production upgrades the store to a bucketed/Delta
  * table so the join prunes files by fp; the operator shape here is
  * unchanged.
  */
object DocStream {

  private val storeSchema = StructType(Seq(StructField("fp", StringType)))

  /** Run the dedup-ingest stream over a 4-column document stream
    * (id, txn_id, owner, content) until every file available at start
    * is ingested.  `storeDir` holds the fingerprint corpus (created on
    * first batch); fresh docs flow to `sink`.  Each micro-batch goes
    * through [[StreamRunner.eachNonEmpty]]: the pipeline reads the batch
    * twice (the empty probe, then the fresh-docs materialization), and
    * without the pin each read re-scans the batch's source files
    * (caught by StreamProgressSpec's numInputRows pin, which showed
    * exactly double the staged rows).
    */
  def dedupIngest(docs: DataFrame, storeDir: String, sink: DocSink,
                  checkpointDir: String): StreamingQuery =
    StreamRunner.foreachBatch(docs, checkpointDir)(StreamRunner.eachNonEmpty {
      (batch, batchId) => processBatch(batch, storeDir, sink, batchId); ()
    })

  /** One batch of the dedup-ingest pipeline (factored out so batch
    * jobs and tests can drive it directly).  Returns the fresh docs
    * written.
    */
  def processBatch(batch: DataFrame, storeDir: String, sink: DocSink,
                   batchId: Long): Long = {
    val spark = batch.sparkSession
    val withFp = batch.withColumn("fp", TextFunctions.fingerprint(col("content")))
    // within-batch dedup: deterministic survivor = min id per fp
    val w = Window.partitionBy("fp").orderBy(col("id").asc)
    val batchUnique = withFp
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val store = readStore(spark, storeDir, storeSchema)
    // a full replay anti-joins to empty: leave the batch's prior output alone
    StreamRunner.nonEmpty(batchUnique.join(store, Seq("fp"), "left_anti"), 0L) { fresh =>
      // sink BEFORE store (see scaladoc): crash in between replays
      // with fps still unstored → same docs recomputed and
      // idempotently rewritten; the reverse order loses them
      val written = sink.writeBatch(fresh.drop("fp"), batchId)
      publish(fresh.select("fp"), storeDir, batchId)
      written
    }
  }

  /** q336: per-micro-batch HLL register maintenance — the incremental
    * distinct-count a 100 TB ingest pipeline actually runs.  Each
    * micro-batch publishes its OWN m=64 register partial (the q323
    * algebra via [[graft.operators.PipelineAudits.hllRegisterTable]])
    * into the store with the same none-or-all publish the fingerprint
    * store uses; the read side max-merges across epoch partials —
    * exactly the per-shard-build + coordinator-merge shape q333
    * certifies, so a batch REPLAY is idempotent twice over (the replay
    * publishes a newer version of its own epoch; max absorbs
    * duplicates).  No read-modify-write of the store ever happens
    * inside a batch.  Runs until every file available at start is
    * folded in, like [[dedupIngest]].
    */
  def hllMaintain(docs: DataFrame, storeDir: String,
                  checkpointDir: String): StreamingQuery =
    StreamRunner.foreachBatch(docs, checkpointDir)(
      StreamRunner.eachNonEmpty(hllBatch(_, storeDir, _)))

  /** One batch of the HLL maintainer (factored out so the restart spec
    * can drive it directly): the batch's register partial, published
    * as `batch=N`.
    */
  def hllBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val regs = graft.operators.PipelineAudits.hllRegisterTable(
      batch.select(explode(TextFunctions.tokens(col("text"))).as("token")))
    publish(regs, storeDir, batchId)
  }

  /** Read side of the q336 store: max-merge the committed epoch
    * partials (64 rows each) into the current register table.
    */
  def readHllRegisters(spark: SparkSession, storeDir: String): DataFrame =
    readStore(spark, storeDir, hllStoreSchema)
      .groupBy("register").agg(max(col("m")).as("m"))

  private val hllStoreSchema = StructType(Seq(
    StructField("register", org.apache.spark.sql.types.LongType),
    StructField("m", org.apache.spark.sql.types.LongType)))

  /** Atomic store append: the batch's rows become the artifact
    * `batch=N` through [[graft.plans.StatsStore.publishNamed]] (hidden
    * temp dir, one rename to the next `batch=N-vK` version).  A bare
    * parquet append is multi-file — a crash mid-append would leave a
    * PARTIAL fp set, and the replay's anti-join would then recompute
    * only the still-missing docs and overwrite the batch's sink
    * subdirectory with that subset, silently dropping the rest.  With
    * the rename the store only ever holds none-or-all of a batch's
    * rows, so a replay recomputes none-or-all of its docs.  One file
    * per artifact is bounded by the micro-batch, which
    * maxFilesPerTrigger caps.
    */
  private def publish(df: DataFrame, storeDir: String, batchId: Long): Unit =
    graft.plans.StatsStore.publishNamed(df, storeDir, s"batch=$batchId")

  /** Every committed batch's serving version, read as one frame; an
    * empty frame of `schema` before the first commit.  Hidden `.tmp-*`
    * leftovers of crashed commits are never listed.
    */
  private def readStore(spark: SparkSession, storeDir: String,
                        schema: StructType): DataFrame = {
    val paths = graft.plans.StatsStore.artifactDirs(spark, storeDir, "batch=\\d+").values.toSeq
    if (paths.nonEmpty) spark.read.schema(schema).parquet(paths: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
