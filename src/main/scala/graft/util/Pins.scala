package graft.util

import org.apache.spark.sql.DataFrame

/** Materialization pins for frames with multiple downstream consumers.
  *
  * `eager` is the ONLY sanctioned way to pin a frame that broadcast
  * exchanges will consume concurrently (q88/q101's weighted index,
  * q92/q95's PQ codebook union).  It must stay EAGER: a *lazy*
  * `localCheckpoint` first materializes inside whichever consumer
  * thread touches it first, and when that thread is a broadcast-
  * exchange thread the job wedges — the r11 production deadlock:
  *
  *   broadcast thread: holds the global `RDDCheckpointData` lock
  *                     (entered via `doCheckpoint()`), wants the RDD's
  *                     partitions lock to run the materializing job;
  *   DAG scheduler:    holds the RDD's lock while resolving stages,
  *                     wants the global checkpoint lock.
  *
  * Eager materialization runs the checkpoint job HERE, on the main
  * thread, before any consumer exists — every broadcast that follows
  * only reads the already-computed blocks.  PinsSpec proves the
  * materialize-before-return behavior (an accumulator bumps during the
  * `eager` call itself) and UtilSpec's source gate keeps the two hot
  * call sites routed through this helper, so an "optimize to lazy"
  * edit goes red in seconds instead of wedging a bench three rounds
  * later.  Lazy pins (`localCheckpoint(false)`) remain correct — and
  * preferred, they piggyback materialization on the first action —
  * for frames whose consumers are sequential on the main thread
  * (Reindex.chunked, sequencePacking, connectedComponents supersteps).
  */
object Pins {
  // When NOT to pin: shuffle-sized frames consumed twice on the same
  // keys ride Catalyst's exchange reuse instead (measured on q275:
  // reuse 2.59 s vs pin 3.21 s at sf0.1) — see SCALING.md "When NOT
  // to pin at all".  Pins are for broadcast-consumer frames.
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Partitioning-preserving eager pin — for frames that were
    * `repartition(key)`'d so DOWNSTREAM keyed operations can ride the
    * partitioning exchange-free (guide §2.4).  `localCheckpoint`'s
    * LogicalRDD records UnknownPartitioning on Spark 4.1 (measured:
    * the q307 edges copy re-shuffled on every superstep despite the
    * pre-repartition), so `eager` cannot serve this use; an
    * InMemoryRelation keeps the cached plan's HashPartitioning visible
    * to EnsureRequirements, and the `count()` materializes it here on
    * the main thread (same broadcast-deadlock discipline as `eager`).
    * Lineage stays intact, so the between-queries `clearCache()` only
    * ever costs recompute, never a missing-block failure.  Memory
    * note: cached data competes with execution memory (guide §5) —
    * callers pin edge/metadata frames, not corpus payloads.
    */
  def eagerPartitioned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Release every RDD-level persist — which is where localCheckpoint
    * blocks live.
    *
    * CONSTRAINT — call BETWEEN fully-materialized queries ONLY, never
    * mid-query and never concurrently with a running streaming
    * foreachBatch that persists: localCheckpoint RDDs have TRUNCATED
    * lineage, so a DataFrame still referencing a released pin fails
    * with missing-checkpoint-block errors instead of recomputing.
    * Current call sites (Bench between reps, Verify between queries)
    * satisfy this by construction; keep it that way.
    *
    * `spark.catalog.clearCache()` only drops catalog-
    * cached Datasets; checkpoint blocks wait for the ContextCleaner,
    * whose sweep is GC-driven (plus a 30-min periodic System.gc), so
    * a long suite run (Bench: 271 queries × 3 reps, Verify: the whole
    * registry) accumulates every pin it ever made in the block
    * manager.  The resulting memory pressure is invisible until late
    * in the suite — r14's artifact showed "inverted warming" rep
    * arrays exactly there (q261 1.21→2.88→3.12 s, alphabetically
    * last-but-one).  Safe between queries/reps: each invocation
    * builds fresh pins; unpersisting a spent localCheckpoint RDD only
    * frees its blocks (non-blocking).
    */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // per-call optimizer registrations (q356/q357/q360: ~16 KB bloom
    // bitmaps, reorder decisions and MV rewrites under UUID names) are spent once
    // their query has materialized — the same between-queries point
    // this runs at; dropping them keeps suite runs (Verify: whole
    // registry, Bench: queries × reps) from accumulating entries the
    // bounded-LRU backstop would otherwise carry for 64 generations
    graft.plans.BloomRegistry.clear()
    graft.plans.JoinOrderRegistry.clear()
    graft.plans.MvRegistry.clear()
  }
}
