package graft.streaming

import graft.plans.MvRegistry
import graft.util.{Fs, UniqueName}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Oracle-checked streaming queries (SURVEY §2.B streaming row): each
  * runs a Structured Streaming plan to completion over the fixture
  * through [[StreamRunner]] (`Trigger.AvailableNow`, state partitions
  * pinned) and returns the materialized result, so the
  * streaming tier sits in the SAME DuckDB hash gate as every batch
  * operator instead of a weaker spec-only check.  Each call's watch,
  * stage, checkpoint, store and sink dirs are subdirs of one
  * [[graft.util.Fs.withTempDir]] root, deleted when the call returns
  * (q361's sink output, which its returned frame reads, excepted).
  *
  * Cross-engine determinism: every output column is an exact integer or
  * a string.  Value sums follow the house quantize-then-exact-sum rule
  * (floor(v·10^6 + 0.5) per term, summed as LONG — order-independent,
  * so the nondeterministic micro-batch accumulation order cannot drift)
  * and window bounds surface as epoch micros.
  *
  * 100 TB shape: AvailableNow over a watch directory IS the production
  * incremental-refresh pattern — state lives in the state store keyed
  * by (window|session|id), partitioned like any shuffle; the memory
  * sink here is the harness stand-in for the foreachBatch → DocSink
  * bridge (EventStream.toDocSink).  In production the dedup watermark
  * bounds state; the q228/q230 gate runs use an effectively-unbounded
  * horizon because the fixture is finite and the oracle is exact —
  * the bounded-horizon variant with GENUINE eviction is q355
  * ([[dedupTtlAudit]]), whose oracle replays the measured TTL
  * protocol exactly.
  */
object StreamQueries {

  /** The mod-3 residue of the STAGED FILE whose max event time sets
    * batch 3's late-filter watermark in [[lateDataAudit]] — the
    * measured one-batch dual-watermark lag (file 0 of the 3-batch
    * staging; a Spark protocol change shifting the lag moves this to
    * 1).  The q343 oracle SQL and StreamProgressSpec's drop-count pin
    * BOTH derive from this constant, so a divergence fails both
    * gates together instead of letting them drift apart (r17 advice).
    */
  val q343LateLagResidue: Int = 0

  /** FileStreamSource wants a DIRECTORY to watch; the fixture is one
    * file among the other tables' parquet.  A scratch watch dir holding
    * a symlink to events.parquet gives the stream its own source root
    * without copying data.  `build` shapes the event stream; the result
    * is drained to a memory table before the watch dir is deleted.
    */
  private def eventsToTable(spark: SparkSession, dir: String, mode: String,
                            inspect: StreamingQuery => Unit)(
      build: DataFrame => DataFrame): DataFrame =
    Fs.withTempDir("stream-events") { watch =>
      Files.createSymbolicLink(watch.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
      StreamRunner.toTable(mode, inspect)(
        build(EventStream.readEvents(spark, watch.toString)))
    }

  /** q226: hourly event-time windows, streamed.  Equivalent batch/SQL:
    * group by date_trunc-hour — epoch-aligned exactly like Spark's
    * `window(ts, "1 hour")`.
    */
  def windowedTotals(spark: SparkSession, dir: String,
                     inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    eventsToTable(spark, dir, "complete", inspect) {
      _.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long")).as("value_units"))
        .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
          col("n_events"), col("value_units"))
    }

  /** q227: gap-based session windows, streamed.  The oracle replays the
    * exact semantics as gaps-and-islands SQL: a new session starts only
    * when the in-user gap is STRICTLY > 30 min — Spark MERGES an event
    * landing exactly at the previous session's end (measured, pinned by
    * the StreamBatchTwinSpec boundary test; the fixture has no
    * exact-gap pair, so only crafted data can tell `>` from `>=`);
    * session end = last event + gap.
    */
  def sessionTotals(spark: SparkSession, dir: String,
                    inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    eventsToTable(spark, dir, "complete", inspect) {
      _.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long")).as("value_units"))
        .select(unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("user_id"), col("n_events"), col("value_units"))
    }

  /** q229: the stream-stream interval join, gated.  Both sides read the
    * same watch dir; every purchase joins the same user's views from
    * the preceding hour (EventStream.purchaseViewJoin — the only
    * stream-stream join shape whose buffered state a watermark can
    * bound).  Output is exact longs (ids + epoch micros), so the
    * nondeterministic buffering/emission order is invisible to the
    * sorted hash.
    */
  def joinedPairs(spark: SparkSession, dir: String,
                  inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    eventsToTable(spark, dir, "append", inspect) {
      EventStream.purchaseViewJoin(_, watermark = "3650 days", horizon = "1 hour")
        .select(col("purchase_id"), col("user_id"), col("view_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("v_ts")).as("v_us"))
    }

  /** q346: LEFT OUTER stream-stream interval join, gated — q229's
    * missing half: purchases with NO view in the prior hour must
    * surface as null rows, and may do so only once the watermark
    * proves no qualifying view can still arrive.  Inner matches emit
    * as they are found; the outer nulls emit when the purchase's
    * state is provably done — MEASURED rule (the q343 discipline):
    * p_ts ≤ the QUERY watermark, which is the MIN across the two
    * sides' watermarks, each computed as that side's max event time −
    * delay over its per-type FILTERED stream (the global event max is
    * irrelevant — the filters sit before withWatermark).  Probed at
    * both SFs: the emission threshold lands exactly between the
    * no-match purchases above and below min(max_p, max_v) − 1 h.
    * The trailing span's unmatched purchases stay buffered,
    * deliberately NOT emitted, and the oracle replays exactly that
    * cut.
    */
  def leftJoinedPairs(spark: SparkSession, dir: String,
                      inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    eventsToTable(spark, dir, "append", inspect) {
      EventStream.purchaseViewLeftJoin(_, watermark = "1 hour", horizon = "1 hour")
        .select(col("purchase_id"), col("user_id"), col("view_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("v_ts")).as("v_us"))
    }

  /** q230: the WHOLE streaming document-ingest pipeline, gated
    * end-to-end — file-drop source → foreachBatch → within-batch
    * fingerprint dedup → anti-join against the rename-published
    * persistent fp store → chunked NDJSON DocSink → read the sink's
    * actual output back and aggregate it.  Two overlapping source
    * files ride separate micro-batches (maxFilesPerTrigger=1), so the
    * replayed span must be dropped by the STORE anti-join, not
    * within-batch dedup.
    *
    * Determinism: batch 1 holds every id below its cut, so for any
    * fingerprint seen there the batch-1 survivor (min zero-padded id =
    * min numeric id) IS the global min; fingerprints first seen in
    * batch 2 keep their own min — the sink therefore holds exactly the
    * global min-id-per-fingerprint survivor set, which the oracle
    * states directly as one GROUP BY.  Output: per-source survivor
    * count + exact id sum.
    *
    * The result is bounded (one row per source): it is localized and
    * every per-call dir, the sink output included, deleted eagerly.
    */
  def ingestAudit(spark: SparkSession, dir: String,
                  inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(format_string("%08d", col("doc_id")).as("id"),
        col("doc_id").cast("string").as("txn_id"),
        col("source").as("owner"), col("text").as("content"), col("doc_id"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5   // batch 1: ids [0, cut1)
    val cut0 = cut1 / 2              // batch 2: ids [cut0, max] — [cut0, cut1) replays
    Fs.withTempDir("ingest") { root =>
      val staged = StreamRunner.stageSlices(root,
        Seq(col("doc_id") < cut1, col("doc_id") >= cut0)
          .map(docs.filter(_).drop("doc_id")))
      val outDir = root.resolve("out")
      StreamRunner.drain(inspect)(
        DocStream.dedupIngest(staged.read(spark), root.resolve("store").toString,
          new graft.sinks.NdjsonDirSink(outDir.toString, chunkSize = 100),
          root.resolve("ckpt").toString))
      Fs.localize(spark,
        spark.read.schema(graft.sources.DocSource.schema).json(s"$outDir/batch=*")
          .groupBy(col("owner").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("id").cast("long")).as("id_sum"))
          .select(col("source"), col("n_docs"), col("id_sum")))
    }
  }

  /** q278: stream-static broadcast enrichment, gated — the one join
    * shape the streaming tier was missing: a stream joined to a
    * STATIC batch frame (here each user's whole-corpus activity
    * profile) needs NO state store and no watermark; Spark plans a
    * plain broadcast hash join re-evaluated per micro-batch.  The
    * StreamProgressSpec pin asserts exactly that: ONE stateful
    * operator (the complete-mode aggregate) — the join itself
    * contributes zero state, the structural difference from q229's
    * stream-stream buffering.
    *
    * 100 TB shape: the static side is the output of a batch keyed
    * aggregate (dimension-sized), broadcast once per trigger —
    * production refreshes it by swapping the underlying table between
    * triggers.  Output is exact longs (counts + quantized units), so
    * micro-batch order is invisible.
    */
  def staticEnriched(spark: SparkSession, dir: String,
                     inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    eventsToTable(spark, dir, "complete", inspect) { events =>
      val units = floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long")
      val profile = graft.Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("user_events"), sum(units).as("user_units"))
      events
        .join(broadcast(profile), Seq("user_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(units).as("value_units"),
          sum(col("user_units")).as("enriched_units"))
        .select(col("event_type"), col("n_events"), col("value_units"),
          col("enriched_units"))
    }

  /** q228: streaming dedup under whole-source replay.  The watch dir
    * holds the fixture TWICE; maxFilesPerTrigger=1 forces the replay
    * through a separate micro-batch, so the drop rides state-store
    * lookups across batches (not within-batch distinct).  The emitted
    * stream then folds to one row of exact integers that must equal
    * plain aggregates over the fixture — a duplicate surviving OR a
    * unique event dropped both break the hash.
    */
  def dedupReplayAudit(spark: SparkSession, dir: String,
                       inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    Fs.withTempDir("dedup-replay") { watch =>
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      Files.copy(src, watch.resolve("copy_a.parquet"))
      Files.copy(src, watch.resolve("copy_b.parquet"))
      // distinct mod-times pin the two-batch pickup order
      Files.setLastModifiedTime(watch.resolve("copy_b.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(watch.resolve("copy_a.parquet")).toMillis + 1000L))
      StreamRunner.toTable("append", inspect)(
        EventStream.dedupEvents(
          EventStream.readEvents(spark, watch.toString,
            Map("maxFilesPerTrigger" -> "1")),
          watermark = "3650 days"))
    }.agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        sum(floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long")).as("value_units"))
      .select(col("n_events"), col("id_sum"), col("value_units"))
  }

  /** q239: arbitrary keyed state (mapGroupsWithState), gated.  The
    * fixture is split at a fixed timestamp into two files picked up as
    * two micro-batches (maxFilesPerTrigger=1, mod-times pin the
    * order), so every user's (count, units) state genuinely
    * ACCUMULATES across state-store round-trips — within-batch
    * folding alone cannot pass.  Update mode emits one row per user
    * per touched batch; the final state is the row with the largest
    * n_events (strictly monotone across a user's updates — max_by, so
    * the collapse stays correct even for non-monotone value sums), and
    * must equal the plain per-user aggregate of the whole fixture.
    *
    * State is exact integers (the house quantized units), so the
    * nondeterministic order of rows within a group iterator is
    * irrelevant.  100 TB: state lives per-key in the state store,
    * partitioned like any shuffle; production adds a timeout policy
    * for idle-key eviction (EventStream.userActivity doc).
    */
  def statefulTotals(spark: SparkSession, dir: String,
                     inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val cutUs = 1705708800000000L // 2024-01-20T00:00:00Z — mid-fixture split
    val e = graft.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("units"))
    import spark.implicits._
    // collapse update-mode emissions to the FINAL state by the row
    // with the largest n_events — the event count is strictly
    // monotone across a user's updates (each touched batch adds ≥1),
    // where max(value_units) alone would silently pick an
    // intermediate state if values could ever be negative
    Fs.withTempDir("state") { root =>
      val staged = StreamRunner.stageSlices(root,
        Seq(col("us") < cutUs, col("us") >= cutUs).map(e.filter(_)))
      StreamRunner.toTable("update", inspect)(
        staged.read(spark)
          .select(col("user_id").as[Long], col("units").as[Long])
          .groupByKey(_._1)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
              val (pn, pu) = state.getOption.getOrElse((0L, 0L))
              val (n, u) = rows.foldLeft((pn, pu)) {
                case ((c, t), (_, v)) => (c + 1L, t + v)
              }
              state.update((n, u))
              (user, n, u)
          }
          .toDF("user_id", "n_events", "value_units"))
    }.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("value_units"), col("n_events")).as("value_units"))
  }

  /** q343: watermark late-data accounting, gated — the correctness
    * property q226-q229 never exercised: what a watermark actually
    * DROPS.  The fixture arrives as THREE micro-batches split by
    * event-id mod 3, each spanning the whole time range, so batch 3
    * necessarily carries events far older than the watermark by then
    * in force — real late-data pressure, not a synthetic corner.  An
    * hourly append-mode windowed count then emits exactly the windows
    * the final watermark closes.
    *
    * MEASURED protocol (probed on the fixture, the q227 discipline):
    * Spark runs TWO watermarks per micro-batch — late-event filtering
    * uses the PREVIOUS batch's eviction watermark while eviction uses
    * the current one (the 3.4+ watermark-propagation split; a 2-batch
    * staging therefore drops NOTHING, because batch 2's late filter
    * still sees the initial zero watermark — measured, which is why
    * three batches are staged).  The oracle replays it in SQL:
    * batches 1-2 admit everything (late watermarks 0 and 0's
    * successor... the zero from batch 0's eviction); a batch-3 row is
    * admitted iff its window end survives wmₑ(batch 2) = max(batch-1
    * events) − delay; emission is window end ≤ final watermark
    * (global max − delay).  Boundary forms (`<` vs `≤`) cannot
    * diverge on the fixture — window ends are hour-aligned while the
    * watermark inherits the max event's microsecond offset.
    * StreamProgressSpec additionally pins the DROP COUNT via
    * numRowsDroppedByWatermark.
    *
    * 100 TB shape: one stateful hourly aggregate whose state is
    * bounded by the watermark horizon (the whole point of
    * watermarks); the mod-3 staging is test scaffolding — production
    * reads the real out-of-order stream.
    */
  def lateDataAudit(spark: SparkSession, dir: String,
                    inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val e = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"))
    Fs.withTempDir("late") { root =>
      val staged = StreamRunner.stageSlices(root,
        (0L to 2L).map(r => e.filter(pmod(col("event_id"), lit(3L)) === r)))
      StreamRunner.toTable("append", inspect)(
        staged.read(spark)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("window.start")).as("win_us"),
            col("n_events")))
    }
  }

  /** q355: watermark-bounded streaming dedup — the TTL variant the
    * gate-run dedups (q228/q230) deliberately avoid (they use an
    * effectively-unbounded horizon; documented in the object header).
    * Here the watermark GENUINELY evicts fingerprint state, and the
    * oracle replays admit ∩ drop ∩ re-admit exactly.
    *
    * MEASURED protocol (probed before the oracle was written, the
    * q343 discipline — all four facts pinned by the staged probe):
    * for `dropDuplicatesWithinWatermark(delay D)` at micro-batch b
    * with M(b) = max event time through batch b,
    *   (1) the watermark IN FORCE during batch b is M(b−1) − D;
    *   (2) the LATE filter at batch b uses the PREVIOUS batch's
    *       in-force watermark M(b−2) − D (the dual-watermark lag);
    *   (3) duplicate lookups see state as of the END of batch b−1,
    *       and a dropped duplicate does NOT refresh the stored
    *       timestamp;
    *   (4) eviction runs at the END of batch b with the in-force
    *       watermark: entries with stored_ts + D < M(b−1) − D go
    *       (and the boundary is INCLUSIVE — stored + D == wm also
    *       evicts, measured in q361's exact-second staging; this
    *       staging's arbitrary-µs timestamps never hit it).
    *
    * Staging (D = 1h, T = global max event time, fresh(id) =
    * T − (id mod 3600) s — always inside the final hour):
    *   b1: ids ≡0 (mod 3), original ts          → all admitted
    *   b2: ids ≡1 (mod 3) original  → admitted
    *       ids ≡0 (mod 6) at fresh ts → state ALIVE (eviction hasn't
    *         run yet: wm in force is still 0-lagged) — dup-dropped
    *   b3: ids ≡3 (mod 6) at fresh ts → state evicted at end of b2
    *         iff orig ts < M(1) − 2D — those RE-ADMIT (emitted twice);
    *         the handful with orig ts in b1's last 2h stay dup-dropped
    *       ids ≡1 (mod 6) original ts → LATE iff ts < M(1) − D
    *         (dropped by the watermark, measured via
    *         numRowsDroppedByWatermark in StreamProgressSpec); the
    *         non-late rest find their own state alive → dup-dropped
    *
    * Output: per event_id, how many times it was emitted and the
    * exact-integer sum of its emitted micros — duplicates surviving,
    * re-admissions missing, or late rows leaking all break the hash.
    *
    * 100 TB shape: THIS is the production dedup-ingest form — state
    * is bounded by the watermark horizon instead of growing with the
    * corpus (the whole point of TTL dedup); the fp-store variant
    * (q230) is the unbounded-exactness tier, this is the bounded one,
    * and the choice between them is the documented horizon trade.
    */
  def dedupTtlAudit(spark: SparkSession, dir: String,
                    inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val e = graft.Tables.events(spark, dir).select(col("event_id"), col("ts"))
    val maxUs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val fresh = timestamp_micros(
      lit(maxUs) - pmod(col("event_id"), lit(3600L)) * lit(1000000L))
    val b1 = e.filter(pmod(col("event_id"), lit(3L)) === 0L)
    val b2 = e.filter(pmod(col("event_id"), lit(3L)) === 1L)
      .unionByName(e.filter(pmod(col("event_id"), lit(6L)) === 0L)
        .select(col("event_id"), fresh.as("ts")))
    val b3 = e.filter(pmod(col("event_id"), lit(6L)) === 3L)
      .select(col("event_id"), fresh.as("ts"))
      .unionByName(e.filter(pmod(col("event_id"), lit(6L)) === 1L))
    Fs.withTempDir("ttl") { root =>
      StreamRunner.toTable("append", inspect)(
        StreamRunner.stageSlices(root, Seq(b1, b2, b3)).read(spark)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), unix_micros(col("ts")).as("us")))
    }.groupBy("event_id")
      .agg(count(lit(1)).as("n_emits"), sum(col("us")).as("us_sum"))
      .orderBy("event_id")
  }

  /** q361: the TTL dedup COMPOSED with the ingest sink — q355 proved
    * the `dropDuplicatesWithinWatermark` protocol in isolation; q230
    * runs the production ingest through the UNBOUNDED fp store.  This
    * is the third tier the two exist for: watermark-bounded dedup
    * state feeding the per-batch-idempotent NDJSON sink through
    * foreachBatch — the actual 100 TB ingest shape, where state size
    * is a TIME HORIZON (delay × arrival rate) instead of growing with
    * the corpus, and the price is re-admitting a duplicate that
    * returns after the horizon (the documented trade).
    *
    * Staging (delay D = 60 s; ts(doc) = T0 + doc_id seconds,
    * T0 = 1.7e9 epoch seconds; cut1 = (maxId+1)·3/5, cut0 = cut1/2 —
    * the q230 replay cuts):
    *   b1: ids [0, cut1) at original ts           → all admitted
    *   b2: ids [cut0, maxId] at original ts — the [cut0, cut1) replay
    *       finds b1's state ALIVE (eviction through b1 ran with the
    *       zero-lagged watermark) → dropped; [cut1, maxId] admitted.
    *       End-of-b2 eviction runs with the in-force watermark
    *       M(1) − D, and the boundary is INCLUSIVE (measured:
    *       stored + D == wm evicts): ids ≤ E := cut1 − 1 − 2D leave
    *       the state store.
    *   b3: ids ≡ 0 (mod 7) in [0, cut1) RETURN at a fresh ts
    *       (T0 + maxId + 1 + id mod 60 — never late vs M(1) − D):
    *       ids ≤ E were evicted → RE-ADMITTED (written twice, the TTL
    *       trade made visible); ids in (E, cut1) still in state →
    *       dropped.
    * Every fact above is the MEASURED q355 protocol (probed before
    * the oracle; pinned in StreamProgressSpec), not an assumption.
    *
    * The sink is the q230 NdjsonDirSink: each batch's admitted rows
    * land in their own `batch=N` subdirectory (replay-idempotent);
    * the gate reads the sink output back and folds per document —
    * a duplicate leaking past live state, a re-admission missing, or
    * a batch lost by the sink all break the hash.  The returned frame
    * reads the sink output lazily, so that one dir outlives the call
    * ([[graft.util.Fs.tempDirUntilExit]]); the rest are the bracket's.
    *
    * 100 TB shape: dedup state is bounded by the watermark horizon
    * (numRowsRemoved > 0 and decreasing numRowsTotal pinned in
    * StreamProgressSpec); the sink write is the q230 chunked
    * idempotent form; nothing here scales with corpus size except the
    * throughput itself.
    */
  def dedupTtlIngest(spark: SparkSession, dir: String,
                     inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val t0us = 1700000000000000L
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    val origTs = timestamp_micros(lit(t0us) + col("doc_id") * lit(1000000L))
    val freshTs = timestamp_micros(lit(t0us) +
      (lit(maxId + 1L) + pmod(col("doc_id"), lit(60L))) * lit(1000000L))
    def slice(f: org.apache.spark.sql.Column, ts: org.apache.spark.sql.Column) =
      docs.filter(f).select(
        format_string("%08d", col("doc_id")).as("id"),
        col("source").as("owner"), ts.as("ts"))
    val b1 = slice(col("doc_id") < cut1, origTs)
    val b2 = slice(col("doc_id") >= cut0, origTs)
    val b3 = slice(pmod(col("doc_id"), lit(7L)) === 0L &&
      col("doc_id") < cut1, freshTs)
    val outDir = Fs.tempDirUntilExit("ttlingest-out")
    val sink = new graft.sinks.NdjsonDirSink(outDir.toString, chunkSize = 100)
    val admittedSchema = Fs.withTempDir("ttlingest") { root =>
      val admitted = StreamRunner.stageSlices(root, Seq(b1, b2, b3)).read(spark)
        .withWatermark("ts", "60 seconds")
        .dropDuplicatesWithinWatermark("id")
        .select(col("id"), col("owner"), unix_micros(col("ts")).as("us_admit"))
      StreamRunner.drain(inspect)(
        StreamRunner.foreachBatch(admitted, root.resolve("ckpt").toString)(
          StreamRunner.eachNonEmpty { (batch, batchId) => sink.writeBatch(batch, batchId); () }))
      admitted.schema
    }
    spark.read.schema(admittedSchema).json(s"$outDir/batch=*")
      .groupBy(col("id").cast("long").as("doc_id"))
      .agg(count(lit(1)).as("n_writes"), sum(col("us_admit")).as("us_sum"))
      .orderBy("doc_id")
  }

  /** Streaming MV maintenance (q372): the q368 materialized view kept
    * fresh by the stream instead of rebuilt by a batch job — the
    * composition the MV tier exists for at 100 TB (the fact table is
    * an unbounded ingest; "rebuild on refresh" re-scans it, the
    * maintainer pays only each micro-batch).  Lineitem arrives as
    * three disjoint micro-batches; foreachBatch aggregates EACH batch
    * to daily DECIMAL partials and rename-publishes them under the
    * batch's deterministic id ([[graft.plans.MvStore.publishEpoch]]).
    * SUM is not replay-idempotent the way q336's HLL max-merge is, so
    * exactly-once comes from the epoch artifacts themselves: a
    * replayed batch re-publishes its OWN epoch over itself (one
    * rename) — never appends.  The read side merges the epoch
    * partials to the monthly rollup.
    *
    * Gate: the stream-maintained rollup must equal the from-scratch
    * batch MV rollup in EXACT DECIMAL (flags computed by Spark from
    * both genuinely-built sides; the oracle recomputes the values
    * from lineitem and states the flags) — a lost batch, a
    * double-published epoch, or a partial drift breaks values AND
    * flags.
    *
    * 100 TB shape: per micro-batch ONE keyed aggregate (map-side
    * combined to day×flag rows) + a KB-sized artifact rename; the
    * merge reads epochs×(day×flag) rows.  No state store at all —
    * the published partials ARE the recovery state, the same
    * philosophy as q336.
    */
  /** Run the three-epoch lineitem MV-maintenance stream in the
    * caller's scratch `root` (watch, stage and checkpoint subdirs) and
    * return `root/epochs`, the store holding the rename-published
    * `epoch-NNN` partial artifacts; the caller's bracket deletes it
    * all.  Shared by q372 (which gates the merged partials against the
    * batch MV) and q380 (which merges them INTO the artifact the
    * rewrite serves).
    */
  private[graft] def mvEpochStore(spark: SparkSession, dir: String,
      root: java.nio.file.Path,
      inspect: StreamingQuery => Unit = _ => ()): java.nio.file.Path = {
    val li = graft.Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_shipdate").as("day"),
      col("l_returnflag").as("flag"),
      col("l_extendedprice").as("price"), col("l_discount").as("disc"))
    val maxK = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val c1 = (maxK + 1) / 3
    val c2 = 2 * (maxK + 1) / 3
    val staged = StreamRunner.stageSlices(root, Seq(
        col("l_orderkey") < c1,
        col("l_orderkey") >= c1 && col("l_orderkey") < c2,
        col("l_orderkey") >= c2).map(li.filter(_).drop("l_orderkey")))
    val storeDir = root.resolve("epochs")
    StreamRunner.drain(inspect)(
      StreamRunner.foreachBatch(staged.read(spark), root.resolve("ckpt").toString) {
        (batch, batchId) =>
          graft.plans.MvStore.publishEpoch(
            graft.plans.MvStore.epochPartials(batch), storeDir.toString, batchId)
      })
    storeDir
  }

  def mvIngest(spark: SparkSession, dir: String,
               inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    // the result is bounded (month×flag): localize it inside the
    // bracket, which deletes the store EAGERLY — the mvRewrite rule
    Fs.withTempDir("mvingest") { root =>
      val storeDir = mvEpochStore(spark, dir, root, inspect)
      def monthly(partials: DataFrame, revName: String, nName: String) =
        partials.groupBy(
            substring(col("day").cast("string"), 1, 7).as("ship_month"),
            col("flag"))
          .agg(sum(col("rev_partial")).as(revName),
            sum(col("n_partial")).as(nName))
      // resolve each epoch to its serving version (the crash-safe
      // versioned publish) instead of globbing — a crash-leftover old
      // version must never double an epoch's partials
      val epochDirs = graft.plans.StatsStore
        .artifactDirs(spark, storeDir.toString, "epoch-\\d+")
        .toSeq.sortBy(_._1).map(_._2)
      val stream = monthly(spark.read.parquet(epochDirs: _*),
        "rev_s", "n_s")
      val batchMv = monthly(graft.plans.MvStore.mvFrame(spark, dir),
        "rev_b", "n_b")
      Fs.localize(spark,
        stream.join(batchMv, Seq("ship_month", "flag"), "full_outer")
          .select(col("ship_month"), col("flag").as("l_returnflag"),
            col("rev_s").cast("double").as("stream_rev"),
            col("rev_b").cast("double").as("batch_rev"),
            when(col("rev_s") === col("rev_b"), 1).otherwise(0).as("rev_match"),
            col("n_s").as("stream_lines"), col("n_b").as("batch_lines"),
            when(col("n_s") === col("n_b"), 1).otherwise(0).as("lines_match"))
          .orderBy("ship_month", "l_returnflag"))
    }

  /** The MV lifecycle CLOSED (q380): the stream maintains the
    * artifact, the artifact answers the dashboards.  q372 proved the
    * stream's epoch partials merge to the batch MV exactly; q368/q378
    * proved a registered artifact serves consumers with zero
    * base-table scans; this composes them — the three-epoch
    * maintenance stream publishes its partials, a KB-sized merge
    * (epochs × day × flag rows, never the fact table) folds them into
    * the `mv_daily_rev` artifact, the rollup is registered, and the
    * consumer query written against BASE lineitem is answered from
    * the stream-built artifact (Batch31Spec pins zero lineitem scans
    * in the consumer's plan; the DuckDB oracle recomputes the rollup
    * from the base table, so value identity gates the whole chain:
    * staging → per-epoch exactly-once publish → merge → rewrite).
    *
    * Determinism: per-row DECIMAL(18,4) quantization everywhere (the
    * q01 money rule); epoch partials, their merge, and the monthly
    * re-sum are all exact decimal adds, so the stream-served path is
    * bit-identical to the direct base recompute before the one final
    * DOUBLE cast.
    *
    * 100 TB shape: this is the steady state a production MV tier
    * converges to — the fact table is scanned by NOBODY but the
    * ingest stream (each micro-batch aggregated map-side to day×flag
    * partials, one KB artifact rename per epoch); the merge and every
    * rewritten dashboard read KB..MB artifacts.  A "rebuild on
    * refresh" MV re-scans 100 TB per refresh; this one never does.
    */
  /** Fold the per-epoch partials into the `mv_daily_rev` artifact the
    * rewrite serves — a KB-sized keyed merge (epochs × day × flag
    * rows, never the fact table), rename-published.  Shared by
    * [[mvServe]] and its Batch31Spec pin so the test exercises the
    * production merge, not a copy.
    */
  private[graft] def mergeEpochs(spark: SparkSession,
      epochs: java.nio.file.Path, storeDir: String): Unit =
    graft.plans.StatsStore.publishNamed(
      spark.read.parquet(graft.plans.StatsStore
          .artifactDirs(spark, epochs.toString, "epoch-\\d+")
          .toSeq.sortBy(_._1).map(_._2): _*)
        .groupBy("day", "flag")
        .agg(sum(col("rev_partial")).as("rev_partial"),
          sum(col("n_partial")).as("n_partial")),
      storeDir, "mv_daily_rev")

  def mvServe(spark: SparkSession, dir: String,
              inspect: StreamingQuery => Unit = _ => ()): DataFrame =
    Fs.withTempDir("mvserve") { root =>
      val store = root.resolve("store").toString
      mergeEpochs(spark, mvEpochStore(spark, dir, root, inspect), store)
      val marker = UniqueName("gmv_sv_")
      MvRegistry.registered(marker)(
        graft.plans.MvStore.registerRollup(spark, dir, store, marker))(
        Fs.localize(spark, graft.plans.MvStore.baseConsumer(spark, dir, marker)))
    }

  /** Streaming CDC apply (q377): q86's batch upsert/delete merge run
    * AS A STREAM — the change-log consumer every lakehouse upsert sink
    * implements.  Three sequential change batches (initial load;
    * updates + deletes; later updates + deletes, including RE-inserts
    * of previously deleted ids) arrive as micro-batches; foreachBatch
    * applies each to the PREVIOUS epoch's state (one full-outer merge
    * on the key, batch op wins: delete drops, upsert
    * inserts-or-overwrites) and rename-publishes the result as
    * `state-N`.  Exactly-once mirrors q372: a replayed batch N
    * recomputes state-N from the immutable state-(N−1) and renames
    * over itself — read-modify-write made idempotent by per-epoch
    * lineage, which is precisely what a naive "merge into one live
    * table" loses on replay.
    *
    * Gate: the final state must equal the DECLARATIVE fold of the op
    * log (last op per key wins; delete = absent) — the oracle states
    * it as a window over the op union, so a lost batch, a
    * mis-ordered apply, or a delete that failed to drop all break
    * per-row values.
    *
    * 100 TB shape: each epoch is one keyed merge join (change batch
    * broadcast when small — the nightly norm) + one rewrite of the
    * state partition set; production amortizes the rewrite with
    * bucketed copy-on-write or merge-on-read compaction, but the
    * LINEAGE protocol audited here (immutable epochs, replay =
    * recompute, rename publish) is the part that cannot be wrong at
    * any scale.
    */
  def cdcApply(spark: SparkSession, dir: String,
               inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val b1 = docs.filter(col("doc_id") < 300)
      .select(col("doc_id"), lit("upsert").as("op"),
        col("text").as("new_text"), lit(1L).as("new_version"))
    val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 400)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L, "delete").otherwise("upsert")
          .as("op"),
        concat(col("text"), lit(" v2")).as("new_text"), lit(2L).as("new_version"))
    val b3 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 500)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7L)) === 0L, "delete").otherwise("upsert")
          .as("op"),
        concat(col("text"), lit(" v3")).as("new_text"), lit(3L).as("new_version"))
    // final state = the MAX-numbered `state-N` artifact actually in
    // the store — not a literal batch id, so a change to staging
    // granularity (more/fewer micro-batches) can never read a stale
    // epoch.  Bounded result: localize inside the bracket.
    Fs.withTempDir("cdc") { root =>
      val staged = StreamRunner.stageSlices(root, Seq(b1, b2, b3))
      val storeDir = root.resolve("store").toString
      StreamRunner.drain(inspect)(
        StreamRunner.foreachBatch(staged.read(spark), root.resolve("ckpt").toString) { (batch, batchId) =>
          val s = batch.sparkSession
          val prevState =
            if (batchId == 0L) {
              import s.implicits._
              Seq.empty[(Long, String, Long)]
                .toDF("doc_id", "text", "version")
            } else s.read.parquet(
              graft.plans.StatsStore.artifactPath(s, storeDir,
                  f"state-${batchId - 1}%03d")
                .getOrElse(throw new IllegalStateException(
                  s"cdc store missing state-${batchId - 1}")))
          graft.plans.StatsStore.publishNamed(
            applyCdcOps(prevState, batch), storeDir,
            f"state-$batchId%03d")
        })
      // NUMERIC max over the RESOLVED serving dirs — "state-1000"
      // sorts before "state-999" as a string, which would hand back a
      // stale epoch once batch ids outgrow the %03d padding
      val lastState = graft.plans.StatsStore
        .artifactDirs(spark, storeDir, "state-\\d+")
        .toSeq.sortBy(_._1.stripPrefix("state-").toInt).lastOption
        .map(_._2)
        .getOrElse(throw new IllegalStateException(
          "cdc store published no state artifact"))
      Fs.localize(spark,
        spark.read.parquet(lastState)
          .select(col("doc_id"), col("version"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id"))
    }
  }

  /** One CDC epoch: full-outer merge on the key, the batch's op wins
    * (delete drops the row, upsert inserts or overwrites) — q86's
    * classification applied to a maintained state.  Shared by the
    * stream and the Batch31Spec replay pin.
    */
  private[graft] def applyCdcOps(state: DataFrame,
      batch: DataFrame): DataFrame =
    state.join(batch, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        coalesce(col("new_version"), col("version")).as("version"))

  /** q336: streaming HLL register maintenance, gated — the incremental
    * distinct-count a 100 TB ingest runs.  The corpus arrives as two
    * OVERLAPPING micro-batches (ids [0, cut1) then [cut0, max] — the
    * q230 replay harness, so the [cut0, cut1) span hits the sketch
    * twice); each batch publishes its own m=64 register partial via
    * [[DocStream.hllBatch]] (rename-published, none-or-all) and the
    * read side max-merges the epoch partials — the per-shard-build +
    * coordinator-merge shape q333 CERTIFIES, now exercised across
    * real micro-batch boundaries with real replay pressure.
    *
    * Gate: the stream-maintained registers must equal the whole-corpus
    * batch registers bit-for-bit (max is idempotent and associative —
    * overlap and batch boundaries are invisible by the certified
    * algebra).  Spark computes BOTH sides genuinely; the oracle states
    * the theorem (one register table, equal columns, flag 1), so any
    * maintenance bug flips a flag and fails the hash.
    *
    * 100 TB shape: per batch, ONE keyed max over the token explode
    * (map-side combined to ≤64 rows per partition) + a 64-row write;
    * the store read is epochs×64 rows.  No state store, no
    * read-modify-write — the sketch IS the recovery state.
    */
  def hllIngest(spark: SparkSession, dir: String,
                inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    // bounded result (64 registers): localize inside the bracket,
    // which deletes the store eagerly — the mvRewrite rule
    Fs.withTempDir("hll") { root =>
      val staged = StreamRunner.stageSlices(root,
        Seq(col("doc_id") < cut1, col("doc_id") >= cut0)
          .map(docs.filter(_).drop("doc_id")))
      val storeDir = root.resolve("store").toString
      StreamRunner.drain(inspect)(
        DocStream.hllMaintain(staged.read(spark), storeDir, root.resolve("ckpt").toString))
      val streamRegs = DocStream.readHllRegisters(spark, storeDir)
        .withColumnRenamed("m", "m_stream")
      val direct = graft.operators.PipelineAudits.hllRegisterTable(
          graft.Tables.documents(spark, dir)
            .select(explode(graft.functions.TextFunctions.tokens(col("text")))
              .as("token")))
        .withColumnRenamed("m", "m_direct")
      Fs.localize(spark,
        spark.range(0, 64).select(col("id").as("register"))
          .join(streamRegs, Seq("register"), "left").na.fill(0L, Seq("m_stream"))
          .join(direct, Seq("register"), "left").na.fill(0L, Seq("m_direct"))
          .select(col("register"), col("m_stream"), col("m_direct"),
            when(col("m_stream") === col("m_direct"), 1).otherwise(0)
              .as("stream_matches"))
          .orderBy("register"))
    }
  }
}
