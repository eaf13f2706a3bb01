package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's reindex pipeline re-expressed as a declarative plan
  * (reference driver.go:178-212; SURVEY.md §7.2-M1):
  *
  *   scan documents → filter(NOT deleted) → project 4 cols
  *     → optional resume `id >= startId` → order by id (asciibetical)
  *     → chunk into ≤ chunkSize record groups → sink
  *
  * Fidelity decisions (SURVEY.md §0.1 policy):
  *  - ids sort and compare as STRINGS ("asciibetical", README.md:77-78):
  *    the fixture's numeric doc_id is cast to string before any
  *    ordering or resume comparison, so '150' < '2'.
  *  - resume is INCLUSIVE (`id >= startId`) as coded (B4 kept).
  *  - chunk index is derived from the global rank, so chunk boundaries
  *    are deterministic and an exact multiple of chunkSize never
  *    produces an empty trailing chunk (B8 fixed by construction).
  *
  * Scale note: `chunked` computes its global ranks with the two-pass
  * range-partition + offset pattern (no single-partition window); the
  * production write path reaches the same chunk contract without any
  * rank: both sinks (NdjsonDirSink, BatchedUpsertSink) write through
  * one repartitionByRange + sortWithinPartitions path and cut each
  * id-ordered partition into ≤ chunkSize chunks (SURVEY.md §7.3).
  */
object Reindex {

  /** The scan→filter→project→resume slice over the documents fixture
    * (doc_id↔id, text↔content, source↔owner; the fixture has no
    * `deleted` column so that filter is identity here — the JDBC source
    * keeps it, see sources.JdbcDocSource).
    */
  def scanSlice(spark: SparkSession, dir: String, startId: String = ""): DataFrame =
    new graft.sources.ParquetDocSource(s"$dir/documents.parquet", startId).load(spark)

  /** Resume-aware ordered scan with deterministic chunk assignment:
    * every output row carries its chunk index (size `chunkSize`,
    * asciibetical id order): chunk = floor((rank-1)/chunkSize), with
    * the exact global rank from GlobalPrefix's two-pass recipe (it
    * replaced the r3 single-partition `Window.orderBy(id)`).
    *
    * Pin: lazy — the rank's only consumer is the caller's action on
    * the main thread, so the checkpoint piggybacks on it and is
    * released by the ContextCleaner once the returned frame is
    * unreachable; repeated invocations cannot accumulate pins.  Same
    * lifecycle on sequencePacking, pricePercentilesScalable and
    * lloydCentroids.
    */
  def chunked(spark: SparkSession, dir: String,
              chunkSize: Int = 20, startId: String = ""): DataFrame =
    GlobalPrefix(scanSlice(spark, dir, startId).select("id", "owner"),
      spark.sparkContext.defaultParallelism, eager = false, keys = Nil,
      order = Seq(col("id").asc))(GlobalPrefix.Running("rn"))
      .withColumn("chunk", floor((col("rn") - 1) / chunkSize).cast("long"))
      .select("id", "owner", "chunk")

  /** Authority enrichment (reference O8): a broadcast lookup join
    * against a small authority dimension.  Here the dimension is
    * derived per-source (the fixture has no external Redis store); the
    * production shape is identical — broadcast(authorities) keeps the
    * fact side shuffle-free at any scale.
    */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val authorities = docs.groupBy("source")
      .agg(count(lit(1)).as("source_docs"), max(col("n_chars")).as("source_max_chars"))
    docs.join(broadcast(authorities), "source")
      .select(col("doc_id"), col("source"), col("source_docs"), col("source_max_chars"))
  }

  /** Reindex diff (SURVEY.md §2.B set ops): documents present in the
    * source but missing from the sink — the operational "what still
    * needs indexing" query, as an anti join.
    */
  def diff(source: DataFrame, sink: DataFrame): DataFrame =
    source.join(sink, Seq("id"), "left_anti")

  /** CDC merge / upsert (q86): apply a change batch (upserts +
    * deletes) to a snapshot — the nightly incremental-maintenance
    * step of a large corpus, and the Spark-native generalization of
    * the reference's resume-from-checkpoint semantics (re-running a
    * slice must land as idempotent updates, ingest/ingest.go:29-31's
    * "add OR update" contract).  One full-outer equi-join on the key
    * classifies every row: snapshot-only → kept, matched upsert →
    * updated, change-only upsert → inserted, delete → dropped.
    *
    * Fixture derivation (deterministic in both engines): snapshot =
    * doc_id < 450; changes = doc_id >= 400, delete when doc_id % 10
    * < 2 else upsert with text || ' v2'.
    *
    * 100 TB shape: ONE shuffle on the join key per side (or zero for
    * the snapshot when both tables are bucketed on the key — the
    * Bucketing module's co-located-join shape); a typical nightly
    * change batch is orders of magnitude smaller than the snapshot,
    * so AQE picks a broadcast and the snapshot never shuffles at all.
    * No window, no pairwise work; the delete filter runs after the
    * join by necessity (a delete row must meet its snapshot partner
    * to remove it) but costs one codegen'd predicate, not a pass.
    */
  def cdcMerge(spark: SparkSession, dir: String,
               snapMax: Long = 450L, changeMin: Long = 400L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val snap = docs.filter(col("doc_id") < snapMax)
      .select(col("doc_id"), col("text"), col("source"))
    val changes = docs.filter(col("doc_id") >= changeMin)
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 2, lit("delete")).otherwise(lit("upsert")).as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    snap.join(changes, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op") =!= "delete", lit(true)))
      .select(
        col("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        when(col("op").isNull, lit("kept"))
          .when(col("text").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("action"))
  }
}
