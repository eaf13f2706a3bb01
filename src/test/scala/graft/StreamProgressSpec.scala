package graft

import graft.streaming.{StreamQueries, StreamRunner}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Streaming-tier plan pins — the `StreamingQueryProgress` analog of
  * PlanGuardSpec's batch-plan pins.  The oracle gate proves the six
  * streaming queries' VALUES; these tests lock their SHAPES: which
  * stateful operator runs, that state genuinely crosses micro-batch
  * boundaries (the whole point of q228/q230/q239's multi-file
  * staging), that each staged file rides exactly one micro-batch
  * (maxFilesPerTrigger=1 actually honored under AvailableNow), and
  * that the state-partition sizing documented at
  * StreamRunner.statePartitions is the partition count the state store
  * actually applied.  A regression that, e.g., collapsed the staged
  * files into one batch (making the cross-batch dedup vacuous) or
  * silently planned 32 near-empty state stores would pass the value
  * oracle and fail here.
  */
class StreamProgressSpec extends SparkSuite {

  /** Run a StreamQueries entry point, capturing the finished query's
    * recent progress through the inspect hook.  The result frame is
    * forced (count) so lazily-read outputs (q230) are materialized
    * before temp dirs could matter.
    */
  private def capture(run: (StreamingQuery => Unit) => DataFrame)
      : (Long, Seq[StreamingQueryProgress]) = {
    var progs: Seq[StreamingQueryProgress] = Nil
    val df = run(q => progs = q.recentProgress.toSeq)
    (df.count(), progs)
  }

  /** Drain a query started through StreamRunner (state partitions
    * pinned, run to completion) and return its recent progress.
    */
  private def drained(q: => StreamingQuery): Seq[StreamingQueryProgress] = {
    var progs: Seq[StreamingQueryProgress] = Nil
    StreamRunner.drain(done => progs = done.recentProgress.toSeq)(q)
    progs
  }

  /** Micro-batches that actually consumed input, in batch order. */
  private def dataBatches(progs: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    progs.filter(_.numInputRows > 0).sortBy(_.batchId)

  /** The final state snapshot: the stateOperators array of the last
    * progress that reports one (no-data watermark-advance batches
    * still carry state metrics; empty-progress tails do not).
    */
  private def finalState(progs: Seq[StreamingQueryProgress]) =
    progs.sortBy(_.batchId).reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.toSeq).getOrElse(Seq.empty)

  private lazy val events = Tables.events(spark, sf).cache()
  private lazy val nEvents = events.count()

  test("q226 windowed totals: one aggregation state operator, sized-8 stores, state rows = emitted groups") {
    val (rows, progs) = capture(StreamQueries.windowedTotals(spark, sf, _))
    assert(dataBatches(progs).map(_.numInputRows).sum == nEvents,
      "every fixture event must flow through the stream")
    val ops = finalState(progs)
    assert(ops.length == 1, s"exactly one stateful operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.operatorName.contains("stateStoreSave"), ops.head.operatorName)
    assert(ops.head.numShufflePartitions == 8,
      s"state-partition sizing (StreamRunner.statePartitions=8) must reach the store, got ${ops.head.numShufflePartitions}")
    assert(ops.head.numRowsTotal == rows,
      s"state holds exactly the emitted (window,type) groups: state=${ops.head.numRowsTotal} rows=$rows")
  }

  test("q227 session totals: session-window state operator, state rows = emitted sessions") {
    val (rows, progs) = capture(StreamQueries.sessionTotals(spark, sf, _))
    val ops = finalState(progs)
    assert(ops.length == 1, s"exactly one stateful operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.operatorName.toLowerCase.contains("session"), ops.head.operatorName)
    assert(ops.head.numShufflePartitions == 8)
    assert(ops.head.numRowsTotal == rows,
      s"state holds exactly the merged sessions: state=${ops.head.numRowsTotal} rows=$rows")
  }

  test("q228 replay dedup: two micro-batches, second batch updates ZERO state rows") {
    val (_, progs) = capture(StreamQueries.dedupReplayAudit(spark, sf, _))
    val batches = dataBatches(progs)
    assert(batches.length == 2,
      s"two staged copies + maxFilesPerTrigger=1 must ride two micro-batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows == nEvents),
      s"each batch replays the whole fixture: ${batches.map(_.numInputRows)}")
    val perBatch = batches.map(p => p.stateOperators.head.numRowsUpdated)
    assert(perBatch.head == nEvents,
      s"batch 1 inserts every event_id into state, got ${perBatch.head}")
    assert(perBatch(1) == 0L,
      s"batch 2 is a pure replay — the state store must already hold every key, got ${perBatch(1)} updates")
    val ops = finalState(progs)
    assert(ops.head.operatorName.toLowerCase.contains("dedupe"), ops.head.operatorName)
    assert(ops.head.numRowsTotal == nEvents)
    assert(ops.head.numShufflePartitions == 8)
  }

  test("q229 stream-stream join: one symmetric-hash-join operator buffering both sides") {
    val nPurchases = events.filter(col("event_type") === "purchase").count()
    val nViews = events.filter(col("event_type") === "view").count()
    val (_, progs) = capture(StreamQueries.joinedPairs(spark, sf, _))
    val ops = finalState(progs)
    assert(ops.length == 1, s"exactly one stateful operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.operatorName.toLowerCase.contains("join"), ops.head.operatorName)
    assert(ops.head.numShufflePartitions == 8)
    assert(ops.head.numRowsTotal == nPurchases + nViews,
      s"with the far watermark, state buffers every purchase (${nPurchases}) + view (${nViews}) row; got ${ops.head.numRowsTotal}")
  }

  test("q230 ingest pipeline: two file-staged micro-batches with the staged row counts, dedup batch-side not in the state store") {
    val maxId = Tables.documents(spark, sf).agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    val docs = Tables.documents(spark, sf)
    val expect = Seq(docs.filter(col("doc_id") < cut1).count(),
      docs.filter(col("doc_id") >= cut0).count())
    val (_, progs) = capture(StreamQueries.ingestAudit(spark, sf, _))
    val batches = dataBatches(progs)
    assert(batches.length == 2,
      s"two staged files + maxFilesPerTrigger=1 must ride two micro-batches, got ${batches.length}")
    assert(batches.map(_.numInputRows) == expect,
      s"per-batch input must be the staged slice sizes $expect, got ${batches.map(_.numInputRows)}")
    // dedup runs inside foreachBatch against the rename-published fp
    // store — a state-store operator appearing here would mean the
    // pipeline silently swapped to dropDuplicates state, losing the
    // persistent (restart-survivable) store semantics
    assert(progs.forall(_.stateOperators.isEmpty),
      "ingest keeps its dedup in the fp store, not the streaming state store")
  }

  /** The `graft-*` entries in java.io.tmpdir: every scratch root
    * [[graft.util.Fs]] makes is named so.
    */
  private def scratchRoots(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.toSet).getOrElse(Set.empty).filter(_.startsWith("graft-"))

  // every query whose per-call dirs go through Fs.withTempDir: a call
  // (sink output, stores and checkpoints included) leaves nothing behind
  for (q <- Seq("q228_stream_dedup", "q230_stream_ingest", "q231_orc_roundtrip",
      "q256_schema_evolution", "q336_stream_hll", "q360_cbo_persisted",
      "q362_shard_write", "q364_hist_persisted", "q368_mv_rewrite",
      "q372_stream_mv", "q377_stream_cdc", "q380_mv_serve"))
    test(s"scratch dirs: $q leaves no graft-* dir") {
      val before = scratchRoots()
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty)
      val leaked = scratchRoots() -- before
      assert(leaked.isEmpty, s"$q left scratch dirs behind: $leaked")
    }

  test("scratch dirs: a failed q362 call deletes its shard dir") {
    def shardRoots() = scratchRoots().filter(_.startsWith("graft-shard"))
    val before = shardRoots()
    intercept[Exception](
      graft.operators.PipelineAudits.shardWrite(spark, "/nonexistent").collect())
    val leaked = shardRoots() -- before
    assert(leaked.isEmpty, s"a failed shardWrite left its dir behind: $leaked")
  }

  test("q278 stream-static join: ZERO join state — only the aggregate's state operator exists") {
    val (rows, progs) = capture(StreamQueries.staticEnriched(spark, sf, _))
    assert(rows > 0)
    assert(dataBatches(progs).map(_.numInputRows).sum == nEvents)
    val ops = finalState(progs)
    assert(ops.length == 1,
      s"a stream-STATIC join buffers nothing — one state operator (the agg), got ${ops.map(_.operatorName)}")
    assert(ops.head.operatorName.contains("stateStoreSave"), ops.head.operatorName)
    assert(!ops.exists(_.operatorName.toLowerCase.contains("join")),
      "broadcast enrichment must not plan stream-join state (q229's shape)")
    assert(ops.head.numShufflePartitions == 8)
  }

  test("q239 keyed state: both micro-batches update state, final state rows = distinct users") {
    val nUsers = events.select("user_id").distinct().count()
    val (rows, progs) = capture(StreamQueries.statefulTotals(spark, sf, _))
    val batches = dataBatches(progs)
    assert(batches.length == 2,
      s"the timestamp-split staging must ride two micro-batches, got ${batches.length}")
    val updated = batches.map(_.stateOperators.head.numRowsUpdated)
    assert(updated.forall(_ > 0L),
      s"state must be written in BOTH batches (cross-batch accumulation), got $updated")
    val ops = finalState(progs)
    assert(ops.head.operatorName.toLowerCase.contains("groupswithstate"), ops.head.operatorName)
    assert(ops.head.numShufflePartitions == 8)
    assert(ops.head.numRowsTotal == nUsers,
      s"one state row per user: state=${ops.head.numRowsTotal} users=$nUsers")
    assert(rows == nUsers, s"collapsed update-mode output is one row per user: $rows vs $nUsers")
  }

  // ------------------------------------------------------ restart pins
  // The happy-path pins above lock shapes within ONE query run; these
  // two lock the exactly-once claim UNDER RESTART: the query is stopped
  // between micro-batches and a fresh query object resumes from the
  // same checkpoint.  The offset log must skip already-committed files,
  // and recovered state (persistent fp store / state store) must make
  // the resumed run complete to the same table the oracle certifies.

  test("q336 hll maintenance: two staged micro-batches, NO state store, registers identical to batch") {
    val (n, progs) = capture(StreamQueries.hllIngest(spark, sf, _))
    assert(n == 64L, "the register spine is complete")
    val db = dataBatches(progs)
    assert(db.length == 2, "each staged file rides its own micro-batch")
    // the overlapping replay span means batch 2 re-reads [cut0, cut1)
    assert(db.map(_.numInputRows).sum > Tables.documents(spark, sf).count(),
      "the staged batches OVERLAP — replay pressure is real")
    // the sketch is the recovery state: foreachBatch owns the store,
    // Spark's state store must stay empty
    assert(finalState(progs).isEmpty, "no Spark state operator — the register store IS the state")
    val rows = StreamQueries.hllIngest(spark, sf).collect()
    assert(rows.forall(_.getInt(3) == 1),
      "stream-maintained registers equal whole-corpus registers bit-for-bit")
    assert(rows.map(_.getLong(1)).max >= 1L, "registers are populated")
  }

  test("q343 late data: three staged batches; the late filter lags eviction by ONE batch (measured protocol)") {
    val (_, progs) = capture(StreamQueries.lateDataAudit(spark, sf, _))
    val db = dataBatches(progs)
    assert(db.length == 3, "each mod-3 file rides its own micro-batch")
    assert(finalState(progs).head.numShufflePartitions == 8)
    def dropped(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      p.stateOperators.map(_.numRowsDroppedByWatermark).sum
    // batches 1-2 run with late-event watermarks 0 (eviction lags by
    // one batch — the dual-watermark split this query exists to pin)
    assert(dropped(db(0)) == 0L && dropped(db(1)) == 0L,
      "no drops while the late-event watermark is still the initial zero")
    // batch 3's late filter uses eviction-after-batch-2 = max(file-0) − 1h
    val us = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val h = 3600000000L
    // the lag-batch residue is SHARED with the oracle SQL (r17 advice:
    // one constant, so spec and oracle cannot drift apart)
    val lw = us.filter(_._1 % 3 == StreamQueries.q343LateLagResidue)
      .map(_._2).max - h
    // the metric counts PARTIALLY-AGGREGATED group rows reaching the
    // state operator, not raw input rows (measured: 332 late events in
    // 316 distinct windows report 316) — so recount distinct windows
    val expectDrop = us.collect { case (id, t)
      if id % 3 == 2 && (t / h) * h + h <= lw => (t / h) * h }
      .distinct.length.toLong
    assert(expectDrop > 0, "the fixture produces real late pressure")
    assert(dropped(db(2)) == expectDrop,
      "numRowsDroppedByWatermark recounts the replayed late WINDOW set exactly")
  }

  test("q355 TTL dedup: state genuinely evicted (rows decrease), late drops measured, re-admits counted") {
    val us = unix_micros(col("ts"))
    val m1 = events.filter(pmod(col("event_id"), lit(3L)) === 0L)
      .agg(max(us)).head().getLong(0)
    val nB1 = events.filter(pmod(col("event_id"), lit(3L)) === 0L).count()
    val nB2New = events.filter(pmod(col("event_id"), lit(3L)) === 1L).count()
    val nLate = events.filter(pmod(col("event_id"), lit(6L)) === 1L &&
      us < lit(m1 - 3600000000L)).count()
    val nReadmit = events.filter(pmod(col("event_id"), lit(6L)) === 3L &&
      us < lit(m1 - 7200000000L)).count()
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val (_, progs) = capture { inspect =>
      val df = StreamQueries.dedupTtlAudit(spark, sf, inspect)
      rows = df.collect()
      df
    }
    val batches = dataBatches(progs)
    assert(batches.length == 3, s"three staged batches, got ${batches.length}")
    val ops = finalState(progs)
    assert(ops.length == 1 && ops.head.operatorName.toLowerCase.contains("dedupe"),
      s"one dedupeWithinWatermark operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.numShufflePartitions == 8)
    val st = batches.map(_.stateOperators.head)
    // per-batch insertions replay the protocol: b1 all, b2 the new
    // mod-3==1 ids (fresh dups find LIVE state — eviction hasn't run
    // when they look up), b3 exactly the evicted re-admissions
    assert(st(0).numRowsUpdated == nB1, s"b1 inserts all: ${st(0).numRowsUpdated} vs $nB1")
    assert(st(1).numRowsUpdated == nB2New,
      s"b2 inserts only the new ids (dups dropped against live state): ${st(1).numRowsUpdated} vs $nB2New")
    assert(st(2).numRowsUpdated == nReadmit,
      s"b3 re-admits exactly the evicted ids: ${st(2).numRowsUpdated} vs $nReadmit")
    // the watermark GENUINELY evicts: end-of-b2 eviction removes
    // every entry older than max(b1) − 2·delay, so state DECREASES
    // across b2 despite its insertions
    assert(st(1).numRowsRemoved > 0L, "eviction actually bit in batch 2")
    assert(st(1).numRowsTotal < st(0).numRowsTotal,
      s"state rows decrease: ${st(0).numRowsTotal} -> ${st(1).numRowsTotal}")
    // the late filter's drop count is MEASURED and matches the
    // replayed protocol (the q343 discipline applied to dedup state):
    // only b3's original-ts dups below max(b1) − delay are late
    assert(st(0).numRowsDroppedByWatermark == 0L)
    assert(st(1).numRowsDroppedByWatermark == 0L,
      "b2 drops nothing (late watermark still zero-lagged)")
    assert(st(2).numRowsDroppedByWatermark == nLate,
      s"b3 late drops: ${st(2).numRowsDroppedByWatermark} vs replayed $nLate")
    assert(nLate > 0L, "the staging makes the late drop genuinely bite")
    assert(nReadmit > 0L, "the staging makes eviction re-admission genuinely bite")
    // output cross-check: ids emitted twice == the re-admitted set
    assert(rows.count(_.getLong(1) == 2L) == nReadmit)
    assert(rows.length == nB1 + nB2New, "every admitted id appears exactly once in the audit")
  }

  test("q361 TTL ingest: bounded state across the replay (eviction bites), re-admits written twice, sink complete") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    // evicted at end of b2: stored ts + D <= max(b1) − D — the
    // boundary is INCLUSIVE (measured here: the id whose expiry
    // equals the watermark is removed), so ids 0..cut1−121 go
    val e = cut1 - 121
    val nEvict = e + 1
    val nB1 = docs.filter(col("doc_id") < cut1).count()
    val nB2New = docs.filter(col("doc_id") >= cut1).count()
    val nReadmit = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L &&
      col("doc_id") <= e).count()
    assert(e % 7 != 0,
      "staging guard: the eviction-boundary id must stay out of the mod-7 returner set")
    assert(nReadmit > 0, "the staging makes TTL re-admission genuinely bite")
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val (_, progs) = capture { inspect =>
      val df = StreamQueries.dedupTtlIngest(spark, sf, inspect)
      rows = df.collect()
      df
    }
    val batches = dataBatches(progs)
    assert(batches.length == 3, s"three staged batches, got ${batches.length}")
    val ops = finalState(progs)
    assert(ops.length == 1 && ops.head.operatorName.toLowerCase.contains("dedupe"),
      s"the TTL dedup is the only stateful operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.numShufflePartitions == 8)
    val st = batches.map(_.stateOperators.head)
    assert(st(0).numRowsUpdated == nB1, "b1 admits everything")
    assert(st(1).numRowsUpdated == nB2New,
      "b2 admits only the fresh span — the replay finds live state")
    assert(st(2).numRowsUpdated == nReadmit,
      s"b3 re-admits exactly the evicted returners: ${st(2).numRowsUpdated} vs $nReadmit")
    // THE production claim: state is a time horizon, not the corpus —
    // eviction removes the pre-horizon ids at the end of b2, so state
    // stays strictly below the distinct-id count for the rest of the run
    assert(st(1).numRowsRemoved > 0L, "eviction actually bit in batch 2")
    assert(st(1).numRowsRemoved == nEvict,
      s"evicted exactly ids 0..cut1−121 (inclusive boundary): ${st(1).numRowsRemoved} vs $nEvict")
    assert(st(1).numRowsTotal == (cut1 - nEvict) + nB2New,
      "post-eviction state = surviving b1 span + b2 admissions")
    assert(st(1).numRowsTotal < maxId + 1,
      "state stays strictly below the corpus' distinct-id count")
    assert(st.forall(_.numRowsDroppedByWatermark == 0L),
      "this staging never produces late rows — drops would mean the protocol moved")
    // the SINK composed: every id written once by b1/b2, the
    // re-admitted returners exactly twice (the TTL trade as data)
    assert(rows.length == maxId + 1, "every document reached the sink")
    assert(rows.count(_.getLong(1) == 2L) == nReadmit,
      "double-written ids == the evicted mod-7 returners")
    assert(rows.forall(r => r.getLong(1) == 1L || r.getLong(1) == 2L))
  }

  test("q346 left outer join: one join operator; nulls only at/below the MIN watermark; inner set untouched") {
    val (n, progs) = capture(StreamQueries.leftJoinedPairs(spark, sf, _))
    assert(n > 0)
    val ops = finalState(progs)
    assert(ops.length == 1 &&
      ops.head.operatorName.toLowerCase.contains("join"),
      s"exactly the symmetric-hash-join operator, got ${ops.map(_.operatorName)}")
    assert(ops.head.numShufflePartitions == 8)
    val rows = StreamQueries.leftJoinedPairs(spark, sf).collect()
    val nulls = rows.filter(_.isNullAt(2))
    val inner = rows.filter(!_.isNullAt(2))
    val e = Tables.events(spark, sf).select(col("event_type"),
      unix_micros(col("ts")).as("us")).collect()
    val h = 3600000000L
    val wm = math.min(
      e.filter(_.getString(0) == "purchase").map(_.getLong(1)).max,
      e.filter(_.getString(0) == "view").map(_.getLong(1)).max) - h
    assert(nulls.nonEmpty && inner.nonEmpty)
    assert(nulls.forall(_.getLong(3) <= wm),
      "no null row ever emits above the min-of-sides watermark")
    assert(nulls.map(_.getLong(0)).toSet.intersect(inner.map(_.getLong(0)).toSet).isEmpty,
      "a matched purchase never also emits a null row")
  }

  test("restart from checkpoint: TTL dedup resumes — state AND watermark recovered, output equals the single-run protocol") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    val e = events.select(col("event_id"), col("ts"))
    val maxUs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val fresh = timestamp_micros(
      lit(maxUs) - pmod(col("event_id"), lit(3600L)) * lit(1000000L))
    // the q355 staging, split for a stop between batches 2 and 3
    val b1 = e.filter(pmod(col("event_id"), lit(3L)) === 0L)
    val b2 = e.filter(pmod(col("event_id"), lit(3L)) === 1L)
      .unionByName(e.filter(pmod(col("event_id"), lit(6L)) === 0L)
        .select(col("event_id"), fresh.as("ts")))
    val b3 = e.filter(pmod(col("event_id"), lit(6L)) === 3L)
      .select(col("event_id"), fresh.as("ts"))
      .unionByName(e.filter(pmod(col("event_id"), lit(6L)) === 1L))
    val watch = Files.createTempDirectory("graft-ttlrestart-src")
    val staged = Files.createTempDirectory("graft-ttlrestart-stage")
    val ckpt = Files.createTempDirectory("graft-ttlrestart-ckpt")
    val out = Files.createTempDirectory("graft-ttlrestart-out")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType)))
    def drop(df: org.apache.spark.sql.DataFrame, name: String, t: Long): Unit = {
      val part = s"$staged/$name"
      df.coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    def run(): Seq[StreamingQueryProgress] = drained(StreamRunner.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch.toString)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), unix_micros(col("ts")).as("us")))(
      _.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")))
    try {
      drop(b1, "a", 1700000000000L)
      drop(b2, "b", 1700000001000L)
      val p1 = run()
      assert(dataBatches(p1).length == 2, "phase 1 runs batches 1-2")
      // stopped between micro-batches; batch 3 arrives, FRESH query
      drop(b3, "c", 1700000002000L)
      val p2 = run()
      val db2 = dataBatches(p2)
      assert(db2.length == 1 && db2.head.numInputRows == b3.count(),
        "the restarted query reads ONLY file c — files a/b are committed in the offset log")
      val st = db2.head.stateOperators.head
      val nReadmit = e.filter(pmod(col("event_id"), lit(6L)) === 3L &&
        unix_micros(col("ts")) < lit(maxUs0(e) - 7200000000L)).count()
      assert(st.numRowsUpdated == nReadmit,
        "the RECOVERED state admits exactly the evicted re-admissions — " +
          s"${st.numRowsUpdated} vs $nReadmit (a reset store would re-admit every dup)")
      assert(st.numRowsDroppedByWatermark > 0L,
        "the RECOVERED watermark still late-drops batch 3's original-ts dups " +
          "(a watermark reset to zero would drop nothing)")
      // the resumed output equals the single-run q355 protocol exactly
      val got = spark.read.schema(StructType(Seq(
          StructField("event_id", LongType), StructField("us", LongType))))
        .parquet(out.toString)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_emits"), sum(col("us")).as("us_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = StreamQueries.dedupTtlAudit(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect,
        "restart-resumed emissions match the continuous run id-for-id")
    } finally Seq(watch, staged, ckpt, out)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("restart from checkpoint: TTL ingest resumes — recovered state + idempotent sink give exactly-once output") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
    val t0us = 1700000000000000L
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    val nReadmit = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L &&
      col("doc_id") <= cut1 - 121).count()
    val origTs = timestamp_micros(lit(t0us) + col("doc_id") * lit(1000000L))
    val freshTs = timestamp_micros(lit(t0us) +
      (lit(maxId + 1L) + pmod(col("doc_id"), lit(60L))) * lit(1000000L))
    def staged(f: org.apache.spark.sql.Column, ts: org.apache.spark.sql.Column) =
      docs.filter(f).select(
        format_string("%08d", col("doc_id")).as("id"),
        col("source").as("owner"), ts.as("ts"))
    val watch = Files.createTempDirectory("graft-ttlingres-src")
    val stagedDir = Files.createTempDirectory("graft-ttlingres-stage")
    val ckpt = Files.createTempDirectory("graft-ttlingres-ckpt")
    val out = Files.createTempDirectory("graft-ttlingres-out")
    val sink = new graft.sinks.NdjsonDirSink(out.toString, chunkSize = 100)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("owner", StringType),
      StructField("ts", TimestampType)))
    def drop(df: org.apache.spark.sql.DataFrame, name: String, t: Long): Unit = {
      val part = s"$stagedDir/$name"
      df.coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    // Measured protocol fact (this test found it): after the data
    // batches drain, Spark runs a NO-DATA micro-batch that finalizes
    // eviction with the one-batch-later watermark (M(2) − D here) —
    // an idle-then-stopped stream therefore evicts MORE than a stream
    // stopped mid-flow, and every returner would re-admit (43, not
    // 26), making recovered-state and reset-state indistinguishable.
    // Disabling no-data batches keeps the stop surgical (state as of
    // the end of batch b's own commit), which is what "stop between
    // batches 2 and 3" means; the extra idle eviction is just the TTL
    // horizon advancing, not a recovery defect.
    def run(): Seq[StreamingQueryProgress] = {
      val nd = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNd = spark.conf.get(nd)
      try {
        spark.conf.set(nd, "false")
        drained(StreamRunner.foreachBatch(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(watch.toString)
            .withWatermark("ts", "60 seconds")
            .dropDuplicatesWithinWatermark("id")
            .select(col("id"), col("owner"), unix_micros(col("ts")).as("us_admit")),
          ckpt.toString)(
          StreamRunner.eachNonEmpty { (batch, batchId) => sink.writeBatch(batch, batchId); () }))
      } finally spark.conf.set(nd, prevNd)
    }
    try {
      drop(staged(col("doc_id") < cut1, origTs), "a", 1700000000000L)
      drop(staged(col("doc_id") >= cut0, origTs), "b", 1700000001000L)
      val p1 = run()
      assert(dataBatches(p1).length == 2, "phase 1 runs batches 1-2")
      // stopped between micro-batches; the returners arrive, FRESH query
      drop(staged(pmod(col("doc_id"), lit(7L)) === 0L &&
        col("doc_id") < cut1, freshTs), "c", 1700000002000L)
      val p2 = run()
      val db2 = dataBatches(p2)
      assert(db2.length == 1,
        "the restarted query reads ONLY file c — files a/b are committed in the offset log")
      val st = db2.head.stateOperators.head
      assert(st.numRowsUpdated == nReadmit,
        "the RECOVERED state admits exactly the evicted returners — " +
          s"${st.numRowsUpdated} vs $nReadmit (a reset store would re-admit every returner)")
      // the resumed SINK content equals the continuous composed run
      val outSchema = StructType(Seq(
        StructField("id", StringType), StructField("owner", StringType),
        StructField("us_admit", org.apache.spark.sql.types.LongType)))
      val got = spark.read.schema(outSchema).json(s"$out/batch=*")
        .groupBy(col("id").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_writes"), sum(col("us_admit")).as("us_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = StreamQueries.dedupTtlIngest(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect,
        "restart-resumed sink output matches the continuous composed run id-for-id")
    } finally Seq(watch, stagedDir, ckpt, out)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  /** max event-time micros of the batch-1 slice (ids ≡ 0 mod 3) — the
    * q355 protocol's M(1), shared by the restart pin's recounts.
    */
  private def maxUs0(e: org.apache.spark.sql.DataFrame): Long =
    e.filter(pmod(col("event_id"), lit(3L)) === 0L)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)

  test("restart from checkpoint: hll store resumes — batch-1 partial survives, resumed merge completes to the corpus registers") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    val watch = Files.createTempDirectory("graft-hllrestart-src")
    val staged = Files.createTempDirectory("graft-hllrestart-stage")
    val storeDir = Files.createTempDirectory("graft-hllrestart-store")
    val ckpt = Files.createTempDirectory("graft-hllrestart-ckpt")
    val schema = StructType(Seq(StructField("text", StringType)))
    def drop(pred: org.apache.spark.sql.Column, name: String, t: Long): Unit = {
      val part = s"$staged/$name"
      docs.filter(pred).drop("doc_id").coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    def run(): Seq[StreamingQueryProgress] = drained(
      graft.streaming.DocStream.hllMaintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString),
        storeDir.toString, ckpt.toString))
    try {
      drop(col("doc_id") < cut1, "a", 1700000000000L)
      val p1 = run()
      assert(dataBatches(p1).length == 1, "phase 1 is one micro-batch")
      val partial = graft.streaming.DocStream
        .readHllRegisters(spark, storeDir.toString).count()
      assert(partial >= 1L, "batch-1 register partial is published")
      // stopped between micro-batches; the overlapping file arrives
      // and a FRESH query resumes from the same checkpoint
      drop(col("doc_id") >= cut0, "b", 1700000001000L)
      val p2 = run()
      assert(dataBatches(p2).length == 1,
        "the restarted query reads ONLY file b — file a is committed in the offset log")
      val expect = graft.operators.PipelineAudits.hllRegisterTable(
          docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = graft.streaming.DocStream
        .readHllRegisters(spark, storeDir.toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect,
        "recovered store max-merges to the whole-corpus registers exactly")
    } finally Seq(watch, staged, storeDir, ckpt)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("restart from checkpoint: ingest resumes exactly-once — offset log skips the done file, fp store drops the replayed span") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val docs = Tables.documents(spark, sf)
      .select(format_string("%08d", col("doc_id")).as("id"),
        col("doc_id").cast("string").as("txn_id"),
        col("source").as("owner"), col("text").as("content"), col("doc_id"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = (maxId + 1) * 3 / 5
    val cut0 = cut1 / 2
    val watch = Files.createTempDirectory("graft-restart-src")
    val staged = Files.createTempDirectory("graft-restart-stage")
    val storeDir = Files.createTempDirectory("graft-restart-store")
    val ckpt = Files.createTempDirectory("graft-restart-ckpt")
    val out = Files.createTempDirectory("graft-restart-out")
    val docSchema = StructType(Seq("id", "txn_id", "owner", "content")
      .map(StructField(_, StringType)))
    def drop(pred: org.apache.spark.sql.Column, name: String, t: Long): Unit = {
      val part = s"$staged/$name"
      docs.filter(pred).drop("doc_id").coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    def run(): Seq[StreamingQueryProgress] = drained(
      graft.streaming.DocStream.dedupIngest(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString),
        storeDir.toString,
        new graft.sinks.NdjsonDirSink(out.toString, chunkSize = 100),
        ckpt.toString))
    try {
      val nA = docs.filter(col("doc_id") < cut1).count()
      val nB = docs.filter(col("doc_id") >= cut0).count()
      drop(col("doc_id") < cut1, "a", 1700000000000L)
      val p1 = run()
      assert(dataBatches(p1).map(_.numInputRows).sum == nA,
        "phase 1 ingests exactly file a")
      // stopped between micro-batches; the overlapping file arrives and
      // a FRESH query resumes from the same checkpoint
      drop(col("doc_id") >= cut0, "b", 1700000001000L)
      val p2 = run()
      assert(dataBatches(p2).map(_.numInputRows).sum == nB,
        "the restarted query must read ONLY file b — file a is committed in the offset log")
      // and the sink holds exactly the global min-id-per-fingerprint
      // survivors: the [cut0, cut1) replay was dropped by the RECOVERED
      // fp store, nothing was double-written, nothing was lost
      val expect = docs
        .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("content")))
        .groupBy("fp").agg(min(col("id")).as("id"),
          min_by(col("owner"), col("id")).as("owner"))
        .groupBy("owner").agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = spark.read.schema(docSchema).json(s"$out/batch=*")
        .groupBy("owner").agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, "resumed run must complete to the oracle's survivor table")
    } finally Seq(watch, staged, storeDir, ckpt, out)
      .foreach(graft.util.Fs.deleteRecursively)
  }

  test("restart from checkpoint: mapGroupsWithState state survives — resumed emissions carry pre-restart counts") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val cutUs = 1705708800000000L // the q239 mid-fixture split
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("units"))
    val watch = Files.createTempDirectory("graft-srestart-src")
    val staged = Files.createTempDirectory("graft-srestart-stage")
    val ckpt = Files.createTempDirectory("graft-srestart-ckpt")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("us", LongType), StructField("units", LongType)))
    def drop(pred: org.apache.spark.sql.Column, name: String, t: Long): Unit = {
      val part = s"$staged/$name"
      e.filter(pred).coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    val emitted = scala.collection.concurrent.TrieMap[Long, (Long, Long)]()
    def run(): Unit = {
      import spark.implicits._
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch.toString)
      val updated = stream.select(col("user_id").as[Long], col("units").as[Long])
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
        .toDF("user_id", "n_events", "value_units")
      drained(StreamRunner.start(updated)(_.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r =>
            emitted(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
          ()
        }))
      ()
    }
    try {
      drop(col("us") < cutUs, "a", 1700000000000L)
      run()
      emitted.clear() // keep only POST-restart emissions
      drop(col("us") >= cutUs, "b", 1700000001000L)
      run()
      assert(emitted.nonEmpty, "the resumed run must process file b")
      val full = e.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("units")).as("u"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val firstHalf = e.filter(col("us") < cutUs)
        .select("user_id").distinct().collect().map(_.getLong(0)).toSet
      assert(emitted.keySet.exists(firstHalf),
        "at least one resumed user must have pre-restart history, else the pin is vacuous")
      // every post-restart emission equals the WHOLE-fixture total:
      // possible only if batch-1 state was recovered (too small) and
      // batch 1 was not replayed on top of it (too big)
      emitted.foreach { case (u, nu) =>
        assert(nu == full(u), s"user $u resumed state diverges: $nu vs ${full(u)}")
      }
    } finally Seq(watch, staged, ckpt).foreach(graft.util.Fs.deleteRecursively)
  }

  test("restart from checkpoint: streaming MV resumes — committed epochs stay untouched, the resumed merge equals the batch MV") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}
    val li = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_shipdate").as("day"),
      col("l_returnflag").as("flag"),
      col("l_extendedprice").as("price"), col("l_discount").as("disc"))
    val maxK = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val c1 = (maxK + 1) / 3
    val c2 = 2 * (maxK + 1) / 3
    def slice(p: org.apache.spark.sql.Column) = li.filter(p).drop("l_orderkey")
    val watch = Files.createTempDirectory("graft-mvrestart-src")
    val staged = Files.createTempDirectory("graft-mvrestart-stage")
    val ckpt = Files.createTempDirectory("graft-mvrestart-ckpt")
    val store = Files.createTempDirectory("graft-mvrestart-store")
    val schema = StructType(Seq(
      StructField("day", TimestampType), StructField("flag", StringType),
      StructField("price", DoubleType), StructField("disc", DoubleType)))
    def drop(df: org.apache.spark.sql.DataFrame, name: String, t: Long): Unit = {
      val part = s"$staged/$name"
      df.coalesce(1).write.parquet(part)
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
    }
    def run(): Int = dataBatches(drained(StreamRunner.foreachBatch(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(watch.toString),
        ckpt.toString) { (batch, id) =>
      graft.plans.MvStore.publishEpoch(
        graft.plans.MvStore.epochPartials(batch), store.toString, id)
    })).length
    // keys are BASE epoch names — the versioned publish (r22) serves
    // epoch-NNN-v{K}; an un-re-published epoch keeps its v1 dir and
    // mtime, so the untouched-on-restart assertion is unchanged
    def epochMtimes(): Map[String, Long] =
      new java.io.File(store.toString).listFiles()
        .filter(_.getName.startsWith("epoch-"))
        .map(f => f.getName.replaceAll("-v\\d+$", "") -> f.lastModified()).toMap
    try {
      drop(slice(col("l_orderkey") < c1), "a", 1700000000000L)
      drop(slice(col("l_orderkey") >= c1 && col("l_orderkey") < c2), "b",
        1700000001000L)
      assert(run() == 2, "phase 1 publishes epochs 0-1")
      val before = epochMtimes()
      assert(before.keySet == Set("epoch-000", "epoch-001"))
      drop(slice(col("l_orderkey") >= c2), "c", 1700000002000L)
      assert(run() == 1,
        "the restarted query reads ONLY file c — a/b are in the offset log")
      val after = epochMtimes()
      assert(after.keySet == Set("epoch-000", "epoch-001", "epoch-002"))
      assert(before.forall { case (k, t) => after(k) == t },
        "committed epochs are NOT re-published on restart (their renames " +
          "happened once; only epoch-002 is new)")
      // the resumed store merges to the batch MV exactly (exact DECIMAL)
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(substring(col("day").cast("string"), 1, 7).as("m"), col("flag"))
        .agg(sum(col("rev_partial")).as("rev"), sum(col("n_partial")).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getDecimal(2), r.getLong(3))).toSet
      assert(rollup(spark.read.parquet(s"$store/epoch-*")) ==
          rollup(graft.plans.MvStore.mvFrame(spark, sf)),
        "restart-resumed epochs merge to the batch MV bit-for-bit")
    } finally Seq(watch, staged, ckpt, store)
      .foreach(graft.util.Fs.deleteRecursively)
  }
}
