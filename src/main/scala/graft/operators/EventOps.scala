package graft.operators

import graft.Tables
import graft.functions.{ArgotFlatten, Folds}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window / event-time operators over the `events` table (SURVEY.md
  * §2.B window functions; the reference's "latest txn wins" analog).
  *
  * All window specs carry `event_id` as a unique tiebreaker after `ts`
  * so row numbering is total-ordered and engine-portable.  Time deltas
  * are computed in integer epoch-milliseconds (exact in both engines).
  *
  * Scale: every window here partitions by `user_id` — one shuffle on a
  * high-cardinality key, then per-partition sorted evaluation; no
  * global sort, no skew beyond per-user event counts (AQE skew-join
  * handling covers pathological users).
  */
object EventOps {

  private def byUser = Window.partitionBy("user_id")

  /** Latest event per user — row_number over (ts DESC, event_id DESC).
    * This is the dedup-keep-latest pattern (reference resume semantics:
    * the max-id probe in README.md:84-88 is the 1-key special case).
    */
  def latestPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(byUser.orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")

  /** Inter-event gap stats per user via lag(): average time between
    * consecutive events in ms.  Integer-millis sums stay exact under
    * any aggregation order.
    */
  def userGapStats(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser.orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("gap_ms", unix_millis(col("ts")) - col("prev_ms"))
      .filter(col("gap_ms").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        (sum(col("gap_ms")).cast("double") / count(lit(1))).as("avg_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
  }

  /** Sessionization: a new session starts when the gap to the previous
    * event exceeds `gapMs` (default 30 min).  session index = running
    * sum of new-session flags — the classic two-window formulation,
    * one shuffle on user_id.
    */
  def sessionize(spark: SparkSession, dir: String, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val w = byUser.orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("session_value"))
  }

  /** Per-user running total (cumulative frame) — the running-aggregate
    * window shape.  The accumulating sum goes through DECIMAL so every
    * prefix is exact and engine-portable (a double running sum would
    * depend on the engine's window-aggregation tree: Spark accumulates
    * sequentially, DuckDB uses segment trees).
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val w = byUser.orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select("user_id", "event_id", "running_value")
  }

  /** JSON extraction from the `props` payload column with
    * get_json_object, then aggregate over the extracted key — the
    * engine's `events.props` exercise (SURVEY.md §2.B scalar/JSON row).
    */
  def propsKeyStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** Tumbling 1-hour event-time buckets (batch form of the streaming
    * windowed agg; the string bucket key keeps the compare portable).
    */
  def hourlyBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("bucket_value"))

  /** The flatten transform applied to a real JSON column: flatten
    * `props` to the multi-valued map and explode to (event_id, key,
    * value) rows — the engine-side shape of the reference's
    * flatten+suffix stage (O7) over the fixture's JSON payloads.
    */
  def flattenedProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), explode(ArgotFlatten.flattenArgot(col("props"))).as(Seq("key", "values")))
      .select(col("event_id"), col("key"), explode(col("values")).as("value"))

  /** Native session_window in BATCH mode — Spark's dedicated
    * session-window aggregation operator instead of two analytic
    * windows.  Merge semantics (verified empirically on Spark 4.1.2):
    * an event at EXACTLY prev_ts + gap still merges (the merge test is
    * start2 <= end1, inclusive), so a new session starts only when the
    * gap is STRICTLY greater than gapMs — at microsecond precision,
    * since event times carry micros.  The oracle mirrors exactly that
    * (epoch_us, strict >) and derives the window bounds as min(ts) /
    * max(ts)+gap per session.
    */
  def sessionWindows(spark: SparkSession, dir: String,
                     gapMs: Long = 30 * 60 * 1000L): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("session_value"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("session_value"))

  /** As-of join (attribution): for every purchase, the same user's most
    * recent non-purchase event at-or-before it.
    *
    * NOT implemented as a time-range join (which fans out to every
    * candidate pair before picking one): both streams ride ONE window
    * over (user, time) — the union-sort formulation.  Sort order
    * (ms, tag, event_id) puts a same-timestamp non-purchase before the
    * purchase (at-or-before is inclusive); the rows-to-(-1) frame with
    * last(..., ignoreNulls) carries the latest candidate forward.  One
    * shuffle on user_id, O(1) state per row — the as-of shape that
    * survives 100 TB.
    */
  def asOfAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("tag", when(col("event_type") === "purchase", 1).otherwise(0))
    val w = byUser.orderBy(col("ms").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("attr_event_id", last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("attr_ms", last(when(col("tag") === 0, col("ms")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("attr_event_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("attr_event_id"),
        (col("ms") - col("attr_ms")).as("gap_ms"))
  }

  /** Interval/range join, bin-bucketed: for each error event, how many
    * of the same user's events fall in the preceding `windowMs` (24h).
    *
    * The naive form is a θ-join on `a.ms ∈ [e.ms−W, e.ms)` — Spark
    * would nested-loop it.  Bucketing by W turns it into an EQUI-join:
    * a candidate in that interval lives in the probe's bucket or the
    * one before, so the probe side expands to exactly 2 (user, bucket)
    * keys and the range predicate becomes a residual filter after a
    * hash join.  Shuffle is on (user, bucket); fan-out is bounded by
    * events-per-user-per-day, never |events|².
    */
  def precedingCounts(spark: SparkSession, dir: String,
                      windowMs: Long = 24 * 3600 * 1000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    def bucket(ms: org.apache.spark.sql.Column) =
      floor(ms / lit(windowMs.toDouble)).cast("long")
    val cands = ev.select(
      col("user_id").as("c_user"), col("event_id").as("c_id"),
      col("ms").as("c_ms"), bucket(col("ms")).as("c_bucket"))
    val probes = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ms").as("e_ms"))
      .withColumn("e_bucket", explode(array(bucket(col("e_ms")) - 1, bucket(col("e_ms")))))
    probes.join(cands,
        probes("e_user") === cands("c_user") && probes("e_bucket") === cands("c_bucket") &&
          cands("c_ms") >= probes("e_ms") - windowMs && cands("c_ms") < probes("e_ms"),
        "left")
      .groupBy(col("e_id"), col("e_user"))
      .agg(count(col("c_id")).as("n_prev_24h"))
      .select(col("e_id").as("event_id"), col("e_user").as("user_id"), col("n_prev_24h"))
  }

  /** Ordered conversion funnel (q90): how many users reach
    * view → click → purchase IN ORDER — stage n counts users with a
    * stage-n event strictly after their first stage-(n−1) completion.
    * The product-analytics staple, and a pure relational cascade:
    *
    *   u1 = min ts of 'view' per user
    *   u2 = min ts of 'click' after u1,  u3 = min ts of 'purchase' after u2
    *
    * Time is integer epoch-millis (exact both engines); the only
    * double is the final count ratio (one IEEE divide of exact
    * integers).
    *
    * 100 TB shape: each stage is one equi-join ON user_id against the
    * previous stage's per-user frame (which SHRINKS monotonically —
    * stage n+1's build side is at most stage n's users) plus a
    * min-agg with map-side combine; the final three counts are 1-row
    * frames unioned and divided against a broadcast denominator.  No
    * window over a low-cardinality key, nothing pairwise.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    // u1 has THREE consumers in one plan (u2's join — possibly as a
    // broadcast — plus the stage and denominator counts): eager-pin it
    // per the house rule so no broadcast thread ever materializes it
    val u1 = graft.util.Pins.eager(
      e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ms")).as("t1")))
    val u2 = e.filter(col("event_type") === "click")
      .join(u1, Seq("user_id")).filter(col("ms") > col("t1"))
      .groupBy("user_id").agg(min(col("ms")).as("t2"))
    val u3 = e.filter(col("event_type") === "purchase")
      .join(u2, Seq("user_id")).filter(col("ms") > col("t2"))
      .groupBy("user_id").agg(min(col("ms")).as("t3"))
    def stage(u: DataFrame, idx: Int, name: String) =
      u.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_users"))
    val first = u1.agg(count(lit(1)).as("n_first"))
    stage(u1, 1, "view").union(stage(u2, 2, "click")).union(stage(u3, 3, "purchase"))
      .crossJoin(broadcast(first))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        (col("n_users").cast("double") / col("n_first").cast("double")).as("pct_of_first"))
  }

  /** Retention cohorts (q91): users grouped by first-seen week; each
    * (cohort, week-offset) cell counts users from that cohort active
    * that many weeks later.  Weeks are integer epoch-millis DIV
    * 604800000 — integral division, never a float boundary (`ms /
    * weekMs` in doubles can land one ulp under an exact multiple and
    * floor() off by one; `div` can't).
    *
    * 100 TB shape: the distinct (user, week) frame is one shuffle;
    * first-seen is a min-agg on user_id reusing that partitioning;
    * the activity join is an equi-join ON user_id; cohort sizes are a
    * tiny (weeks × 1) frame broadcast onto the cells.  Retention is
    * one IEEE divide of exact integers.
    */
  /** Top session paths (q94): the `n`-step event-type sequences users
    * actually walk inside a session, ranked by frequency — the "what
    * do people do before purchasing" path-analysis staple.  Sessions
    * use the q67 rule (strict > 30-min gap starts a new one) computed
    * in MICROseconds, the precision Tables.events normalizes to, so
    * the DuckDB oracle orders by the identical integer key.
    *
    * 100 TB shape: sessionization is the classic two-window pass, one
    * shuffle on user_id (high-cardinality); per-session event lists
    * are session-bounded (collect_list state ≤ events-per-session,
    * never per-user unbounded); the n-gram expansion is a narrow
    * generator; the final top-M is a TakeOrderedAndProject bounded
    * heap, never a global sort.
    */
  def sessionPaths(spark: SparkSession, dir: String,
                   gapUs: Long = 1800000000L, n: Int = 3, topM: Int = 20): DataFrame = {
    val wOrd = byUser.orderBy(col("us").asc, col("event_id").asc)
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_session"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    e.groupBy("user_id", "sid")
      .agg(sort_array(collect_list(struct(col("us"), col("event_id"), col("event_type"))))
        .as("evs"))
      .filter(size(col("evs")) >= n)
      .select(explode(expr(
        s"""transform(sequence(0, size(evs) - $n),
           |  i -> concat_ws('->', transform(slice(evs, i + 1, $n), x -> x.event_type)))"""
          .stripMargin)).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path").asc)
      .limit(topM)
  }

  /** Rolling 24-hour activity (q99): per event, the count and value
    * sum of the SAME USER's events in the trailing 24h — a true
    * time-RANGE window frame ([ms−24h+1, ms], peers included), not a
    * row frame; the feature-engineering staple for burst/abuse
    * detection.  The value sum rides DECIMAL(18,2) so frame
    * aggregation order can't perturb it (house rule), surfacing as
    * DOUBLE; time is integer epoch-millis, so frame bounds are exact
    * in both engines.
    *
    * 100 TB shape: ONE shuffle on user_id, then per-partition sorted
    * frame evaluation — the same story as every window here; no
    * self-join (q47 solves the bucketed-join variant of this shape
    * when the predicate can't be a frame).
    */
  def rolling24h(spark: SparkSession, dir: String,
                 windowMs: Long = 86400000L): DataFrame = {
    val w = byUser.orderBy(col("ms").asc)
      .rangeBetween(-(windowMs - 1), 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_24h", sum(col("v")).over(w).cast("double"))
      .select("event_id", "user_id", "ms", "n_24h", "sum_24h")
  }

  /** Per-user inter-arrival gap statistics (q123): the arrival-process
    * fingerprint — median / p90 / extreme gaps between consecutive
    * events per user, the raw material for rate limiting, bot
    * detection (metronomic gaps) and session-timeout calibration
    * (q94's 30-min cutoff should sit between the gap median and p90
    * body, not inside it).
    *
    * Gaps are exact integer microseconds (`unix_micros`, the q94
    * convention: events carry µs precision, so integer epoch ordering
    * cannot diverge between engines); ties order by event_id.  The
    * median and p90 are exact-rank selections with PURE-INTEGER rank
    * arithmetic — lower median at (n+1) div 2 (the q93 convention),
    * p90 at ceil(9n/10) = (9n+9) div 10 — no float rank math (see
    * q122).  Every output column is a BIGINT.
    *
    * 100 TB shape: ONE user_id shuffle serves both windows (the gap
    * lag and the gap rank reuse the same partitioning; Spark plans a
    * single exchange), then one combine-friendly agg.  Output is
    * users × 1.
    */
  def interArrivalStats(spark: SparkSession, dir: String): DataFrame = {
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(
        byUser.orderBy(col("us").asc, col("event_id").asc)))
      .filter(col("gap").isNotNull)
    gaps
      .withColumn("rn", row_number().over(
        byUser.orderBy(col("gap").asc, col("event_id").asc)))
      .withColumn("n", count(lit(1)).over(byUser))
      .groupBy("user_id")
      .agg(
        max(col("n")).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap"))).as("median_gap_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap"))).as("p90_gap_us"),
        max(col("gap")).as("max_gap_us"))
  }

  /** First-view → first-purchase conversion latency (q126): the
    * funnel-timing companion to q90 (which counts WHO converts, this
    * measures HOW LONG conversion takes).  Per user the first 'view'
    * and first 'purchase' timestamps reduce in ONE user_id aggregation
    * (conditional mins — no per-type scans); users with a purchase at
    * or after their first view contribute one integer-µs latency, and
    * the output is one row of exact latency percentiles.
    *
    * The global rank over per-user latencies is GlobalPrefix's
    * two-pass recipe on (lat, user_id), not a single-partition
    * `Window.orderBy` (which funnels every row through one task).
    * Rank arithmetic is pure integer per the q122 rule; every output
    * column is BIGINT µs.
    */
  def conversionLatency(spark: SparkSession, dir: String,
                        parts: Int = 0): DataFrame = {
    val nParts = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val lat = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("fv"),
        min(when(col("event_type") === "purchase", col("us"))).as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") >= col("fv"))
      .select(col("user_id"), (col("fp") - col("fv")).as("lat"))
    GlobalPrefix(lat, nParts, eager = false, keys = Nil,
        order = Seq(col("lat").asc, col("user_id").asc))(
        GlobalPrefix.Running("rn", total = Some("n")))
      .agg(
        max(col("n")).as("n_converted"),
        max(when(col("rn") === 1, col("lat"))).as("min_lat_us"),
        max(when(col("rn") === expr("(n + 3) div 4"), col("lat"))).as("p25_lat_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("lat"))).as("median_lat_us"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("lat"))).as("p75_lat_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("lat"))).as("p90_lat_us"),
        max(when(col("rn") === col("n"), col("lat"))).as("max_lat_us"))
  }

  /** Per-user behavioral predictability (q129): the first-order Markov
    * transition entropy rate over each user's event-type stream —
    *   H = −Σ_{prev,next} (c/T)·ln(c/t_prev)
    * (T = the user's transitions, t_prev = transitions leaving
    * `prev`).  Metronomic bots collapse toward 0 nats; erratic
    * explorers approach ln(#types).  The dynamics companion to q123:
    * inter-arrival gaps fingerprint WHEN a user acts, this
    * fingerprints WHAT they do next.
    *
    * Determinism: transition counts are exact integers off the q94
    * (us, event_id)-ordered lag; each probability is one divide; the
    * log is MathFunctions.ln; the per-user sum folds in
    * (prev, next) order, mirrored by list_reduce ORDER BY.
    *
    * 100 TB shape: one user_id shuffle for the lag, one
    * (user, prev, next) agg with map-side combine, per-user
    * re-aggregations of that frame (no second event scan), and a fold
    * bounded by event-type² per user.
    */
  def transitionEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ln = graft.functions.MathFunctions.ln _
    val tr = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(
        byUser.orderBy(col("us").asc, col("event_id").asc)))
      .filter(col("prev").isNotNull)
    val c = tr.groupBy(col("user_id"), col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("c"))
    val t = c.groupBy("user_id", "prev").agg(sum(col("c")).as("t"))
    val tt = c.groupBy("user_id").agg(sum(col("c")).as("tt"))
    c.join(t, Seq("user_id", "prev"))
      .join(tt, Seq("user_id"))
      .withColumn("contrib",
        -((col("c").cast("double") / col("tt").cast("double")) *
          ln(col("c").cast("double") / col("t").cast("double"))))
      .groupBy("user_id")
      .agg(
        max(col("tt")).as("n_transitions"),
        count(lit(1)).as("n_patterns"),
        Folds.orderedSum(col("contrib"), col("prev"), col("next")).as("entropy_nats"))
  }

  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val wk = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("week"))
      .distinct()
    val cohort = wk.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    wk.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double")).as("retention"))
  }

  /** Hourly volume anomalies (q105): the top-`topM` most anomalous
    * (event_type, hour) cells by z-score against that type's hourly
    * mean/stddev — the pipeline-monitoring alarm (an ingest stall or a
    * bot burst shows up here first).  Variance uses q50's exact-sums
    * form: Σc and Σc² are exact integer aggregations, mean/sd/z each
    * ONE fixed IEEE sequence over them — engine-portable, partition-
    * order-independent.  Stats cover PRESENT hours only (an hour with
    * zero events contributes no cell; q106 is the zero-filled view).
    *
    * 100 TB shape: one (type, hour) shuffle with map-side combine
    * collapses the stream to a time-bounded frame (types × hours);
    * per-type stats re-aggregate that tiny frame and join back
    * BROADCAST; the top-M is a TakeOrderedAndProject bounded heap.
    */
  def hourlyAnomalies(spark: SparkSession, dir: String, topM: Int = 20): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).cast("double").as("sx"),
        sum(col("c") * col("c")).cast("double").as("sxx"))
      .select(col("event_type"),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("sd"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("c").cast("double") - col("mean")) / col("sd"))
      .orderBy(abs(col("z")).desc, col("event_type").asc, col("hour").asc)
      .limit(topM)
      .select(col("event_type"), col("hour"), col("c"), col("z"))
  }

  /** Zero-filled hourly resample (q106): the dense (event_type, hour)
    * time series with gaps filled at 0 and a cumulative count per
    * type — the gap-fill/resample primitive every time-series chart
    * and SLA monitor needs (a MISSING hour is the incident; q105's
    * present-hours stats can't see it).
    *
    * The spine is generated, not scanned: sequence(min_hour,
    * max_hour, 1 hour) exploded from a broadcast 1-row bounds frame,
    * crossed with the distinct type dimension.
    *
    * 100 TB shape: the ONLY stream-sized work is ONE (hour, type)
    * count with map-side combine; the result is time-bounded (8766
    * hours/year × types) and EAGER-pinned — it has three consumers
    * (the type dimension derives from it, it broadcasts into the
    * spine join, and the bounds could) and two return as broadcasts,
    * so the pin must not be lazy (util/Pins.scala); deriving types
    * from the pinned frame instead of the raw stream keeps the
    * whole query at one stream scan plus the footer-stats min/max.
    * The cumulative window partitions on type over the same tiny
    * frame.  The stream is never joined row-wise.
    */
  def hourlyResample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val bounds = e.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val spine = broadcast(bounds)
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val hourly = graft.util.Pins.eager(
      e.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("c")))
    val types = hourly.select(col("event_type")).distinct()
    val wCum = Window.partitionBy("event_type").orderBy(col("h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.crossJoin(broadcast(types))
      .join(broadcast(hourly), Seq("h", "event_type"), "left")
      .withColumn("n", coalesce(col("c"), lit(0L)))
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
        col("n"), col("cum_n"))
  }

  /** Within-session event-type co-occurrence lift (q107): for every
    * unordered type pair, how much more often they share a session
    * than independence predicts — lift = P(a,b)/(P(a)·P(b)) over
    * sessions.  The market-basket staple on the q12 session rule
    * (strict >30 min gap, epoch-millis).
    *
    * Determinism: all counts are exact integers over the distinct
    * (user, session, type) frame; lift is (n_ab·S)/(c_a·c_b) with
    * both products computed in doubles — ONE fixed IEEE sequence.
    *
    * 100 TB shape: sessionizing is one user_id window shuffle; the
    * distinct frame is one more keyed shuffle, EAGER-pinned (four
    * consumers — both pair-join sides, the per-type counts, the
    * session total — and the count frames return as broadcasts, so
    * the pin must not be lazy: util/Pins.scala).  The pair join is a
    * session-keyed self-equi-join whose fan-out is bounded by the
    * type-vocabulary² per session, never user- or event-pairwise.
    */
  def sessionCooccurrence(spark: SparkSession, dir: String,
                          gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val w = byUser.orderBy(col("ts").asc, col("event_id").asc)
    val st = graft.util.Pins.eager(
      Tables.events(spark, dir)
        .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("session_idx"), col("event_type"))
        .distinct())
    val total = st.select("user_id", "session_idx").distinct()
      .agg(count(lit(1)).as("s"))
    val ct = st.groupBy("event_type").agg(count(lit(1)).as("c"))
    st.withColumnRenamed("event_type", "t_a")
      .join(st.withColumnRenamed("event_type", "t_b"), Seq("user_id", "session_idx"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b").agg(count(lit(1)).as("n_ab"))
      .join(broadcast(ct.toDF("t_a", "c_a")), Seq("t_a"))
      .join(broadcast(ct.toDF("t_b", "c_b")), Seq("t_b"))
      .crossJoin(broadcast(total))
      .select(col("t_a"), col("t_b"), col("n_ab"),
        ((col("n_ab").cast("double") * col("s").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"))
  }

  /** Rolling 7-day active users (q108): per day, the distinct users
    * active that day (DAU) and in the trailing 7-day window (WAU) —
    * the growth-analytics pair, computed WITHOUT a distinct-over-
    * window (which no engine has): each (user, day) contributes
    * itself to the 7 target days it can influence via a bounded
    * explode, then one exact distinct count per target day.
    *
    * 100 TB shape: the stream collapses to the distinct (user, day)
    * frame in one shuffle; the explode fans out a CONSTANT 7×; the
    * count-distinct is one more keyed shuffle.  Day bounds come from
    * a separate min/max scan of the ts column (parquet footer stats
    * make it ~free) so the big frame keeps a single consumer and
    * needs no pin.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String,
                         window: Int = 7): DataFrame = {
    val e = Tables.events(spark, dir)
    val bounds = broadcast(e.agg(
      expr("unix_millis(max(ts)) div 86400000").as("d1")))
    e.select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(window - 1))).as("k"))
      .withColumn("t_day", col("day") + col("k"))
      .crossJoin(bounds)
      .filter(col("t_day") <= col("d1"))
      .groupBy(col("t_day").as("day"))
      .agg(
        countDistinct(when(col("k") === 0, col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .select(col("day"),
        expr("CAST(DATE_ADD(DATE '1970-01-01', CAST(day AS INT)) AS STRING)").as("day_date"),
        col("dau"), col("wau"))
  }

  /** Forward-fill imputation (q111): the dense hourly mean-value
    * series per event type with gaps carried forward from the last
    * observed hour — the missing-data imputation primitive (a sensor
    * that skipped an hour reports its last reading, not zero; q106 is
    * the zero-fill counting twin).  `has_data` keeps the observed/
    * imputed distinction; both value columns coalesce to 0.0 BEFORE
    * any observation exists (identically in the oracle), so the
    * output carries no NULL doubles.
    *
    * Determinism: hourly means are exact DECIMAL sums ÷ exact counts
    * (one IEEE divide); the carry-forward picks an existing value —
    * no arithmetic.
    *
    * 100 TB shape: q106's exact story — one (hour, type) combine
    * shuffle collapses the stream to a time-bounded frame,
    * EAGER-pinned with the type dimension derived from it (one
    * stream scan total; two consumers return as broadcasts, so the
    * pin must not be lazy); the IGNORE-NULLS window runs over the
    * tiny dense frame, partitioned by type.
    */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val bounds = e.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val spine = broadcast(bounds)
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val hourly = graft.util.Pins.eager(
      e.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg((sum(col("value").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_obs")))
    val types = hourly.select(col("event_type")).distinct()
    val wf = Window.partitionBy("event_type").orderBy(col("h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.crossJoin(broadcast(types))
      .join(broadcast(hourly), Seq("h", "event_type"), "left")
      .withColumn("filled", last(col("avg_obs"), ignoreNulls = true).over(wf))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
        when(col("avg_obs").isNotNull, 1L).otherwise(0L).as("has_data"),
        coalesce(col("avg_obs"), lit(0.0)).as("hour_avg"),
        coalesce(col("filled"), lit(0.0)).as("filled_avg"))
  }

  /** Cumulative user growth (q112): first-seen day per user → new
    * users per day → running total — the growth curve every product
    * dashboard opens with, and the q91 cohort machinery's 1-D
    * projection.  Day math is integral epoch-millis DIV.
    *
    * 100 TB shape: first-seen is one user_id min-agg with map-side
    * combine; the per-day counts are a second keyed agg of a
    * users-sized frame; the running total windows over the tiny
    * (days × 1) frame — deliberately unpartitioned, it has one row
    * per calendar day by construction.
    */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("day"),
        expr("CAST(DATE_ADD(DATE '1970-01-01', CAST(day AS INT)) AS STRING)").as("day_date"),
        col("new_users"), col("cum_users"))
  }

  /** Kaplan–Meier survival curve for time-to-conversion (q138): the
    * censoring-aware answer to "how long until a user purchases?" —
    * the mean-duration answer q126 gives is biased because users who
    * never purchase are silently dropped; KM keeps them AT RISK until
    * their last observed day, which is the whole point of survival
    * analysis.
    *
    *   S(t_i) = Π_{j ≤ i} (n_j − d_j) / n_j
    *
    * where d_j = conversions on day j and n_j = users still at risk
    * (neither converted nor censored before day j).  Durations are
    * integer DAYS from each user's first event (epoch-ms integer
    * div — the q91 rule); a user's first purchase converts them, no
    * purchase censors them at their last event.
    *
    * Determinism: d/c/n are exact integer counts and window sums;
    * each survival factor is ONE divide of exact integers; the
    * running product folds in DAY order via the windowed
    * collect-then-fold (seed 1.0 — exact under multiplication),
    * which DuckDB replays as list(... ORDER BY) + list_reduce.
    *
    * 100 TB shape: per-user reduction is one user_id shuffle with
    * map-side combine; the curve frame is bounded by DISTINCT
    * OBSERVED DAYS (the observation window, not the user count), so
    * the single-partition curve window is a deliberate q85-style
    * tiny-frame escape — at any corpus size the curve has at most
    * `horizon` rows.
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        min(unix_millis(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_millis(col("ts"))))
          .as("tconv"),
        max(unix_millis(col("ts"))).as("tlast"))
      .select(
        col("user_id"),
        when(col("tconv").isNotNull, lit(1L)).otherwise(lit(0L)).as("converted"),
        (coalesce(col("tconv"), col("tlast")) - col("t0")).as("dur_ms"))
      .withColumn("dur_day", expr("dur_ms DIV 86400000"))
    val total = perUser.agg(count(lit(1)).as("n_total"))
    val byDay = perUser.groupBy("dur_day")
      .agg(
        sum(col("converted")).as("n_conv"),
        sum(lit(1L) - col("converted")).as("n_censor"))
    val wPrev = Window.orderBy(col("dur_day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur_day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byDay
      .crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") -
          coalesce(sum(col("n_conv") + col("n_censor")).over(wPrev), lit(0L)))
      .withColumn("factor",
        (col("n_risk") - col("n_conv")).cast("double") / col("n_risk").cast("double"))
      .withColumn("survival",
        aggregate(collect_list(col("factor")).over(wCum), lit(1.0), _ * _))
      .select(col("dur_day"), col("n_risk"), col("n_conv"), col("n_censor"),
        col("survival"))
  }

  /** RFM segmentation (q154): every user scored 1–4 on Recency
    * (days since last event), Frequency (event count), and Monetary
    * (exact DECIMAL(18,2) value sum — the q09 money rule), then the
    * population of each of the ≤64 segments.  The classic
    * behavioral-cohort primitive: "444" is the core audience, "144"
    * a lapsing big spender (win-back list), "411" fresh low-value.
    *
    * Scores come from exact quartile CUT VALUES — order statistics
    * at ranks ⌈n/4⌉, ⌈n/2⌉, ⌈3n/4⌉ — ranked by GlobalPrefix (NO
    * single-task global window over users), then applied as
    * broadcast thresholds: score = 1 + (v>q1) + (v>q2) + (v>q3).
    * Value-based scoring means ties share a score deterministically
    * on any engine and any partitioning (rank-based ntile would be
    * partition-stable but splits ties arbitrarily).
    *
    * Determinism: recency is integer µs-to-days division; frequency
    * an exact count; monetary an exact decimal sum; cuts SELECT
    * existing values; scores are integer comparisons.  The per-user
    * frame is eager-pinned (four consumers) and the two-pass
    * checkpoints are EAGER — their lineages feed broadcast joins,
    * the exact deadlock geometry of the r11 lazy-checkpoint bug
    * (Similarity.scala pqCodebooks note).
    *
    * 100 TB shape: one user-keyed agg of events; three range
    * shuffles of the (much smaller) users frame for the cuts; one
    * broadcast of 9 scalars back onto users; one ≤64-cell agg.
    */
  def rfmSegments(spark: SparkSession, dir: String, parts: Int = 0): DataFrame = {
    val dec2 = DecimalType(18, 2)
    val nParts = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val e = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("value").cast(dec2).as("v"))
    val ref = e.agg(max(col("us")).as("ref"))
    val users = graft.util.Pins.eager(
      e.groupBy("user_id")
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("f"),
          sum(col("v")).as("m"))
        .crossJoin(broadcast(ref))
        .select(col("user_id"),
          expr("(ref - last_us) DIV 86400000000").as("r_days"),
          col("f"), col("m")))
    // exact quartile cuts; EAGER pin: the cuts feed a broadcast join
    def cuts(metric: String): DataFrame =
      GlobalPrefix(users.select(col(metric).as("x"), col("user_id")), nParts,
          eager = true, keys = Nil, order = Seq(col("x").asc, col("user_id").asc))(
          GlobalPrefix.Running("rn", total = Some("n")))
        .agg(
          max(when(col("rn") === ceil(lit(0.25) * col("n")), col("x"))).as(s"${metric}_q1"),
          max(when(col("rn") === ceil(lit(0.5) * col("n")), col("x"))).as(s"${metric}_q2"),
          max(when(col("rn") === ceil(lit(0.75) * col("n")), col("x"))).as(s"${metric}_q3"))
    def score(v: org.apache.spark.sql.Column, q1: org.apache.spark.sql.Column,
              q2: org.apache.spark.sql.Column,
              q3: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(1) + when(v > q1, 1).otherwise(0) + when(v > q2, 1).otherwise(0) +
        when(v > q3, 1).otherwise(0)
    users
      .crossJoin(broadcast(cuts("r_days")))
      .crossJoin(broadcast(cuts("f")))
      .crossJoin(broadcast(cuts("m")))
      .select(col("user_id"), col("m"),
        score(col("r_days"), col("r_days_q1"), col("r_days_q2"), col("r_days_q3")).as("r_score"),
        score(col("f"), col("f_q1"), col("f_q2"), col("f_q3")).as("f_score"),
        score(col("m"), col("m_q1"), col("m_q2"), col("m_q3")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum(col("m")).cast("double").as("total_monetary"))
  }

  /** Event-type run-length statistics (q159) — the gaps-and-islands
    * pattern made explicit: consecutive same-type events in a user's
    * timeline form a RUN (island); a type change starts a new one.
    * Long runs of 'error' are retry storms; long 'click' runs are
    * rage-clicks; the run-length profile per type is the
    * stream-compaction signal (RLE-collapse candidates) a pipeline
    * checks before storing raw event streams.
    *
    * Determinism: the timeline order is (µs, event_id) — total; the
    * island id is the running sum of integer change flags over that
    * order; run lengths and counts are exact integers; the mean is
    * one divide.
    *
    * 100 TB shape: ONE user_id-keyed sort window evaluates both the
    * change flag (lag) and the island id (running sum) — same
    * WindowSpec, one shuffle; per-run and per-type aggregations are
    * keyed with map-side combine; output is event-types × 1.
    */
  def runLengths(spark: SparkSession, dir: String): DataFrame = {
    val ord = byUser.orderBy(col("us").asc, col("event_id").asc)
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(ord).isNull ||
          lag(col("event_type"), 1).over(ord) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(count(lit(1)).as("len"))
    runs.groupBy("event_type")
      .agg(count(lit(1)).as("n_runs"),
        sum(col("len")).as("total_events"),
        max(col("len")).as("max_run_len"))
      .select(col("event_type"), col("n_runs"), col("total_events"),
        col("max_run_len"),
        (col("total_events").cast("double") / col("n_runs").cast("double"))
          .as("mean_run_len"))
  }

  /** Benford first-digit audit of event values (q164): the leading
    * significant digit of naturally-grown monetary amounts follows
    * log₁₀(1 + 1/d); a synthetic, capped, or fraud-injected value
    * stream does not — the cheapest data-quality canary there is,
    * run per ingest batch before values feed revenue metrics.
    *
    * The digit comes from STRING inspection of the DECIMAL(18,2)
    * rendering (first [1-9] character) — both engines render a
    * scale-2 decimal identically, so no log10/pow arithmetic is
    * needed to locate the leading digit (and the q128 rule keeps
    * transcendentals out of the comparison path).  The Benford
    * reference rates are PRECOMPUTED literal doubles stamped
    * identically into the plan and the oracle.
    *
    * Determinism: counts exact; obs_rate one divide; dev one
    * subtract of a shared literal.
    *
    * 100 TB shape: one digit-keyed count with map-side combine (≤9
    * cells) + a broadcast 1-row total.  Nothing else.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val dec2 = DecimalType(18, 2)
    val digits = Tables.events(spark, dir)
      .select(col("value").cast(dec2).as("v"))
      .filter(col("v") > 0)
      .select(regexp_extract(col("v").cast("string"), "[1-9]", 0).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(sum(col("n_obs")).as("n"))
    val bf = EventOps.benfordRates.foldLeft(lit(Double.NaN)) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        (col("n_obs").cast("double") / col("n").cast("double")).as("obs_rate"),
        bf.as("benford_rate"),
        ((col("n_obs").cast("double") / col("n").cast("double")) - bf).as("dev"))
  }

  /** log₁₀(1 + 1/d) for d = 1..9 — shared by the q164 plan and its
    * oracle so both engines stamp bit-identical literals.
    */
  val benfordRates: Seq[(String, Double)] =
    (1 to 9).map(d => d.toString -> math.log(1.0 + 1.0 / d) / math.log(10.0))

  /** Exact-duplicate event audit (q168): how many events are
    * byte-identical re-deliveries of another (same user, µs
    * timestamp, type, and value)?  At-least-once ingestion and
    * client retries both manifest here; the per-type duplication
    * rate is the signal that decides whether q19-style dedup must
    * run on the EVENT stream too, and which event types need it
    * (the streaming tier's dedup-on-ingest sizes its state store
    * from exactly this number).
    *
    * Determinism: grouping on exact values (the double `value` is
    * compared, never summed); counts exact integers; the rate one
    * divide.
    *
    * 100 TB shape: one (user, ts, type, value) keyed count with
    * map-side combine, re-aggregated per type — the same two-level
    * shape as every dedup audit here; nothing row-wise survives the
    * first agg.
    */
  def eventDupAudit(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .groupBy("user_id", "us", "event_type", "value")
      .agg(count(lit(1)).as("c"))
    groups.groupBy("event_type")
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") - lit(1L)).as("n_dup_events"))
      .select(col("event_type"), col("n_events"), col("n_distinct"),
        col("n_dup_events"),
        (col("n_dup_events").cast("double") / col("n_events").cast("double"))
          .as("dup_rate"))
  }

  /** Attributed revenue by touch channel (q155): q149's last-touch
    * assignment rolled up to the channel level with money attached —
    * the report the attribution exists FOR: per channel, how many
    * conversions it closed, the revenue it gets credit for, and how
    * long before purchase the touch happened.  'none' rows price the
    * organic/untracked share.
    *
    * Determinism: inherits q149's deterministic assignment; revenue
    * is the purchase event's value through DECIMAL(18,2) (the q09
    * money rule — order-independent exact sums); mean gap is one
    * divide of an exact integer-µs sum over the attributed subset.
    *
    * 100 TB shape: q149's single user-keyed sort window, one
    * equi-join back to events on the purchase id for the value
    * column (id-keyed, no fanout), one ≤3-cell agg.
    */
  def channelRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dec2 = DecimalType(18, 2)
    val value = Tables.events(spark, dir)
      .select(col("event_id").as("purchase_id"), col("value").cast(dec2).as("v"))
    lastTouchAttribution(spark, dir)
      .join(value, Seq("purchase_id"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("v")).cast("double").as("revenue"),
        sum(when(col("gap_us") >= 0, col("gap_us")).otherwise(lit(0L))).as("gap_sum"),
        sum(when(col("gap_us") >= 0, 1L).otherwise(0L)).as("n_attributed"))
      .select(col("touch_type"), col("n_conversions"), col("revenue"),
        col("n_attributed"),
        when(col("n_attributed") > 0,
          col("gap_sum").cast("double") / col("n_attributed").cast("double"))
          .otherwise(lit(0.0)).as("mean_gap_us"))
  }

  /** Stationary distribution of the event-type Markov chain (q160):
    * 8 unrolled power iterations of v·P over the GLOBAL observed
    * transition matrix (q129's per-user entropy reads the same
    * matrix per user; this is the corpus-level long-run behavior
    * mix — where user attention settles if the observed dynamics
    * keep running, vs the raw frequency mix which measures where it
    * has been).
    *
    * Determinism: transition counts are exact integers; each
    * P(next|prev) is one divide; every neighbor sum folds in prev
    * order (sort_array ↔ list ORDER BY — the q119 contract); the
    * uniform start is 1/k with integer k.  The matrix is bounded by
    * event-types², so the iteration runs on a broadcast-size frame;
    * the transition-count agg is the only corpus-scale shuffle.
    *
    * 100 TB shape: one (prev, next) keyed count with map-side
    * combine; 8 iterations on a ≤types² frame (eager-pinned — 8 join
    * consumers feed broadcast joins, the lazy-checkpoint hazard).
    */
  def stationaryDistribution(spark: SparkSession, dir: String,
                             iters: Int = 8): DataFrame = {
    val ord = byUser.orderBy(col("us").asc, col("event_id").asc)
    val tr = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("next"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("next"), 1).over(ord))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("c"))
    val p = graft.util.Pins.eager(
      tr.join(broadcast(tr.groupBy("prev").agg(sum(col("c")).as("t"))), Seq("prev"))
        .select(col("prev"), col("next"),
          (col("c").cast("double") / col("t").cast("double")).as("p")))
    val states = p.select(col("prev").as("state")).distinct()
    val k = broadcast(states.agg(count(lit(1)).as("k")))
    var v = states.crossJoin(k)
      .select(col("state"), (lit(1.0) / col("k").cast("double")).as("prob"))
    for (_ <- 1 to iters) {
      v = v.join(p, col("state") === col("prev"))
        .groupBy(col("next"))
        .agg(Folds.orderedSum(col("prob") * col("p"), col("prev")).as("prob"))
        .select(col("next").as("state"), col("prob"))
    }
    v.select(col("state").as("event_type"), col("prob").as("stationary_prob"))
  }

  /** Last-touch conversion attribution (q149): for every purchase,
    * the most recent STRICTLY-earlier click/view by the same user —
    * the marketing-attribution primitive (which channel gets credit)
    * and the generic "latest preceding state" as-of pattern.  A
    * same-microsecond touch never attributes (strictly earlier); the
    * latest-µs touch wins, ties broken toward the larger event_id;
    * untouched purchases emit the ('none', −1, −1) sentinel.
    *
    * Determinism: timestamps are exact integer µs (unix_micros ↔
    * epoch_us); the carry-forward ordering (us, is_touch, event_id)
    * is total because event_id is unique; gaps are integer
    * subtraction.
    *
    * 100 TB shape: the union-window as-of — touches and purchases
    * interleave in ONE user_id-keyed sort window, and each purchase
    * reads the running last-touch struct (last(_, ignoreNulls) over
    * rows-unbounded-preceding).  No per-purchase self-join, no
    * fanout; the oracle mirrors the semantics with the quadratic
    * join form.  Purchases sort BEFORE same-µs touches (is_touch
    * asc), which is what makes "strictly earlier" hold inside a
    * running frame.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withColumn("is_touch",
        when(col("event_type") =!= "purchase", 1).otherwise(0))
    val w = byUser
      .orderBy(col("us").asc, col("is_touch").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("t",
        last(when(col("is_touch") === 1,
          struct(col("us").as("t_us"), col("event_id").as("t_id"),
            col("event_type").as("t_type"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("purchase_us"),
        coalesce(col("t.t_type"), lit("none")).as("touch_type"),
        coalesce(col("t.t_id"), lit(-1L)).as("touch_event_id"),
        coalesce(col("us") - col("t.t_us"), lit(-1L)).as("gap_us"))
  }

  /** The zero-filled daily event-count series shared by q173/q174:
    * epoch-day → count with calendar gaps filled by an explicit
    * sequence join, so lagged comparisons see real zeros instead of
    * silently skipping missing days.  Day ids are integers (the q108
    * epoch-day idiom) — no timestamp arithmetic downstream.
    */
  private def dailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    val counts = e.groupBy("day").agg(count(lit(1)).as("c"))
    val cal = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    cal.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as("c"))
  }

  /** Lag-1..7 autocorrelation of the daily event-count series (q173)
    * — the seasonality detector: a spike at lag 7 says weekly
    * periodicity, slow decay says trend, and that decides whether
    * day-of-week stratification belongs in sampling (q75) and
    * anomaly baselines (q105).
    *
    * Exactness: with X_t = N·c_t − S (integers), the N² factors
    * cancel in r_k = Σ(x_t−m)(x_{t+k}−m) / Σ(x_t−m)², so
    * r_k = ΣX_tX_{t+k} / ΣX_t² is a ratio of DECIMAL(38,0)-exact
    * integers — ONE double division per lag, no mean ever
    * materializes as a double.
    *
    * 100 TB shape: the corpus collapses to per-day counts in one
    * partial+final agg (map-side combine does the 100 TB); the
    * calendar frame is bounded by the time span (365 rows/year —
    * O(days), not O(events)), so the zero-fill join, the 7-way lag
    * self-join (an equi-join on day+k), and the per-lag sums are all
    * catalog-sized.  Lags via a 7-row crossJoin, NOT 7 window
    * passes: one joined frame, one grouped agg.
    */
  def dailyAutocorrelation(spark: SparkSession, dir: String,
                           maxLag: Int = 7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val z = dailyCounts(spark, dir)
    val tot = z.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val x = z.crossJoin(broadcast(tot))
      .select(col("day"),
        (col("n").cast(dec) * col("c") - col("s").cast(dec)).as("x"))
    val den = x.agg(sum(col("x") * col("x")).cast(dec).as("den"),
      count(lit(1)).as("n_days"))
    val lags = spark.range(1, maxLag + 1).select(col("id").as("lag"))
    val a = x.select(col("day").as("a_day"), col("x").as("ax"))
    val b = x.select(col("day").as("b_day"), col("x").as("bx"))
    a.crossJoin(broadcast(lags))
      .join(b, col("b_day") === col("a_day") + col("lag"))
      .groupBy("lag")
      .agg(sum(col("ax") * col("bx")).cast(dec).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_days"),
        (col("num").cast("double") / col("den").cast("double")).as("acf"))
  }

  /** Exact 3σ outlier audit of event values per type (q180): how many
    * events sit beyond three standard deviations of their type's mean
    * — the monitoring-rule census that sizes alert volume before a
    * threshold ships.
    *
    * The outlier test never computes z as a double: with x in
    * millionths (the q118 quantization) and S = Σx, Q = Σx² per type,
    * z² > 9 ⇔ (N·x − S)² > 9·(N·Q − S²) — a PURE INTEGER comparison
    * (DECIMAL(38,0) here, HUGEINT in the oracle), so boundary events
    * classify identically in both engines by construction, not by
    * rounding luck.  Bound: N·x must stay under 10³⁸ — at 10¹² events
    * of magnitude ≤10⁹ millionths that is 10²¹ and its square 10⁴²
    * would overflow; shard the audit by day/tenant at that scale (the
    * per-type frame is naturally partitioned) — documented rather
    * than silently approximated.
    *
    * 100 TB shape: one partial+final moment agg per type, broadcast
    * back onto the stream (a types-sized frame), one more counting
    * agg — two keyed shuffles of the stream total, no sort.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val e = Tables.events(spark, dir).select(col("event_type"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("x"))
    val m = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("s"),
      sum((col("x") * col("x")).cast(dec)).as("q"))
    val dev = col("n").cast(dec) * col("x") - col("s")
    val varTerm = col("n").cast(dec) * col("q") - col("s") * col("s")
    e.join(broadcast(m), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        max(col("n")).as("n_events"),
        max(col("s")).as("s_kept"),
        sum(when(dev * dev > lit(9L).cast(dec) * varTerm, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_events").cast("double"))
          .as("outlier_rate"),
        ((col("s_kept").cast("double") / col("n_events").cast("double")) / lit(1.0e6))
          .as("mean_value"))
  }

  /** Association rules over user event-type baskets (q185):
    * support / confidence / lift for every ordered type pair — the
    * market-basket census ("users who error also purchase?") that
    * ranks which behavioral implications are real (lift > 1) vs
    * popularity artifacts, beyond q107's co-occurrence counts.
    *
    * All three metrics are ratios of exact integers (n_both, n_a,
    * n_b, U) with one divide each — confidence/support — and lift as
    * confidence/(n_b/U), written in the identical order in the
    * oracle.
    *
    * 100 TB shape: the stream collapses to the distinct (user, type)
    * frame in one shuffle (map-side combined); the pair self-join is
    * user-keyed with fan-out ≤ |types|² per user (bounded by the
    * event vocabulary, the q107 rule); type marginals and U arrive
    * broadcast.  No corpus-sized window, no all-pairs over users.
    */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    val dt = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val users = dt.agg(countDistinct(col("user_id")).as("u"))
    val marg = dt.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val a = dt.select(col("user_id"), col("event_type").as("antecedent"))
    val b = dt.select(col("user_id"), col("event_type").as("consequent"))
    val conf = col("n_both").cast("double") / col("n_a").cast("double")
    a.join(b, Seq("user_id"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(marg.select(col("event_type").as("antecedent"),
        col("n_t").as("n_a"))), Seq("antecedent"))
      .join(broadcast(marg.select(col("event_type").as("consequent"),
        col("n_t").as("n_b"))), Seq("consequent"))
      .crossJoin(broadcast(users))
      .select(col("antecedent"), col("consequent"),
        col("n_both"), col("n_a"), col("n_b"),
        (col("n_both").cast("double") / col("u").cast("double")).as("support"),
        conf.as("confidence"),
        (conf / (col("n_b").cast("double") / col("u").cast("double"))).as("lift"))
  }

  /** Exponentially weighted moving average of the daily series
    * (q186, α = 0.2): the standard smoothing baseline an anomaly
    * monitor subtracts before alerting — reported per day alongside
    * the raw count and the residual.
    *
    * EWMA is a RECURSION (y_t = α·c_t + (1−α)·y_{t−1}, seeded
    * y_1 = c_1), and floating-point recursions are order-sensitive —
    * so both engines evaluate the identical per-day fold over the
    * ordered prefix: DuckDB's `list_reduce` has no explicit init (the
    * head seeds the accumulator), and the Spark `aggregate` mirrors
    * that exactly by folding the tail with `element_at(vals, 1)` as
    * init.  pow() is deliberately avoided: the closed form
    * α(1−α)^(t−i) needs pow, which IEEE does NOT require correctly
    * rounded — the fold uses only multiplies and adds.
    *
    * 100 TB shape: the q173 collapse to daily counts, then the
    * calendar-bounded O(days²) prefix-fold (366² ≈ 134k mult-adds
    * per year — constant in corpus size, the q174 exemption).
    */
  def ewmaDaily(spark: SparkSession, dir: String, alpha: Double = 0.2): DataFrame = {
    val z = dailyCounts(spark, dir)
    val series = z.agg(transform(
      sort_array(collect_list(struct(col("day"), col("c")))),
      x => x.getField("c").cast("double")).as("vals"),
      sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
    series
      .select(posexplode(col("arr")).as(Seq("pos", "e")), col("vals"))
      .select(col("e.day").as("day"), col("e.c").as("c"),
        // seed y_1 = c_1: fold the tail with the head as init — the
        // same no-explicit-init reduce DuckDB's list_reduce performs
        aggregate(
          slice(col("vals"), lit(2), col("pos")),
          element_at(col("vals"), 1),
          (acc, x) => lit(alpha) * x + (lit(1.0) - lit(alpha)) * acc).as("ewma"))
      .select(col("day"), col("c"),
        col("ewma"), (col("c").cast("double") - col("ewma")).as("residual"))
  }

  /** CUSUM changepoint locator on the daily series (q183): the day
    * where the cumulative deviation from the overall mean peaks in
    * magnitude — the classic "when did the level shift" estimator
    * that turns q174's "a trend exists" into "it started HERE".
    *
    * Exact arithmetic: with prefix sums P_t = Σ_{i≤t} c_i, the
    * cumulative deviation is D_t = N·P_t − t·S (integers; the /N
    * factor deferred), so the argmax of |D_t| — tie-broken earliest —
    * is an integer comparison and the reported deviation converts
    * once (D/N).  No running double sum exists.
    *
    * 100 TB shape: the q173 collapse, a calendar-frame prefix-sum
    * window (single partition BY DESIGN, bounded by time — the q172
    * exemption), and a 1-row top-1 via the same (|D| DESC, day ASC)
    * total order both engines sort by.
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val z = dailyCounts(spark, dir)
    val tot = z.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val d = z.crossJoin(broadcast(tot))
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("p", sum(col("c")).over(w))
      .select(col("day"), col("n"), col("s"),
        (col("n").cast(dec) * col("p") - col("t").cast(dec) * col("s")).as("dev"))
    d.select(col("day"), col("n"),
        abs(col("dev")).as("mag"), col("dev"))
      .orderBy(col("mag").desc, col("day").asc)
      .limit(1)
      .select(col("n").as("n_days"), col("day").as("change_day"),
        (col("dev").cast("double") / col("n").cast("double")).as("cusum_dev"),
        when(col("dev") > 0, lit(1L)).when(col("dev") < 0, lit(-1L))
          .otherwise(lit(0L)).as("direction"))
  }

  /** Two-proportion z-test on purchase share, first half of the time
    * range vs the second (q184): the release-gate A/B primitive — is
    * the purchase mix shifting across the observation window, in
    * standard errors?  (q174 asks about volume; this asks about MIX.)
    *
    * The split day is integer arithmetic ((d0+d1+1)/2 over epoch
    * days); x/n counts are exact; p̂₁, p̂₂, the pooled p̂ and z are one
    * fixed-order double chain written identically in the oracle.
    *
    * 100 TB shape: ONE conditional-count agg over the stream (four
    * sums, map-side combined) after a broadcast of the 2-value day
    * bounds — no join of event rows, no second pass.
    */
  def purchaseShiftTest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      expr("unix_millis(ts) div 86400000").as("day"), col("event_type"))
    val bounds = broadcast(e.agg(min(col("day")).as("d0"), max(col("day")).as("d1")))
    val tagged = e.crossJoin(bounds)
      .select((col("day") < expr("(d0 + d1 + 1) div 2")).as("first_half"),
        (col("event_type") === "purchase").as("isp"))
    val one = tagged.agg(
      sum(when(col("first_half"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("first_half") && col("isp"), 1L).otherwise(0L)).as("x1"),
      sum(when(!col("first_half"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("first_half") && col("isp"), 1L).otherwise(0L)).as("x2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val p1 = col("x1").cast("double") / n1
    val p2 = col("x2").cast("double") / n2
    val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2")).cast("double")
    one.select(col("n1"), col("x1"), col("n2"), col("x2"),
      p1.as("p1"), p2.as("p2"),
      ((p1 - p2) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)))
        .as("z_stat"))
  }

  /** Day-of-week seasonality index (q182): mean daily event count per
    * weekday over the zero-filled calendar, divided by the overall
    * daily mean — the multiplicative profile (index 1.0 = a flat
    * week) that q173's lag-7 spike only hints at, and the correction
    * factor day-of-week-stratified sampling multiplies in.
    *
    * Weekday from the epoch day by pure integer arithmetic —
    * (day + 3) mod 7, 0 = Monday (1970-01-01 was a Thursday) — no
    * timezone or date-function semantics cross the engine boundary.
    * Sums stay integers; each output is a fixed two-divide chain
    * written identically in the oracle.
    *
    * 100 TB shape: the q173 collapse (one corpus agg to daily
    * counts), then everything runs on the ≤7-row weekday frame with
    * the 2-value totals broadcast.
    */
  def weekdaySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val z = dailyCounts(spark, dir)
      .select(((col("day") + lit(3L)) % lit(7L)).as("dow"), col("c"))
    val tot = z.agg(count(lit(1)).as("n_all"), sum(col("c")).as("s_all"))
    z.groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("n_events"),
        (col("n_events").cast("double") / col("n_days").cast("double"))
          .as("mean_count"),
        ((col("n_events").cast("double") / col("n_days").cast("double")) /
          (col("s_all").cast("double") / col("n_all").cast("double")))
          .as("seasonal_index"))
  }

  /** Mann–Kendall trend test on the daily event-count series (q174):
    * S = Σ_{i<j} sign(c_j − c_i) with the tie-corrected variance and
    * the continuity-corrected z — the standard nonparametric "is
    * volume drifting" monitor (no distributional assumption, robust
    * to the spikes that wreck an OLS-on-time slope).
    *
    * Everything is integer until the last step: S and both variance
    * terms are exact sums; var_s divides once by 18.0 and z is one
    * CASE with a single sqrt — written identically in the oracle.
    *
    * 100 TB shape: same one-agg corpus collapse as q173; the pair
    * scan is O(days²) on the CALENDAR frame — 365² ≈ 133k rows per
    * decade-year, constant in corpus size (documented all-pairs
    * exemption: the frame is bounded by time, not data).  Tie groups
    * are one more tiny agg on distinct counts.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val z = dailyCounts(spark, dir)
    val a = z.select(col("day").as("a_day"), col("c").as("ac"))
    val b = z.select(col("day").as("b_day"), col("c").as("bc"))
    val s = a.join(b, col("b_day") > col("a_day"))
      .agg(sum(when(col("bc") > col("ac"), 1L)
        .when(col("bc") < col("ac"), -1L).otherwise(0L)).as("s_stat"))
    val ties = z.groupBy("c").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(when(col("t") > 1,
          col("t") * (col("t") - lit(1L)) * (lit(2L) * col("t") + lit(5L)))),
        lit(0L)).as("tie_term"))
    val n = z.agg(count(lit(1)).as("n_days"))
    val varS = (
      (col("n_days") * (col("n_days") - lit(1L)) *
        (lit(2L) * col("n_days") + lit(5L)) - col("tie_term")).cast("double")
        / lit(18.0))
    s.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .select(col("n_days"), col("s_stat"), varS.as("var_s"),
        when(col("s_stat") > 0,
            (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
          .otherwise(lit(0.0)).as("z_stat"))
  }

  /** Lagged cross-correlation between two event-type daily series
    * (q189): r(ℓ) = corr(view_t, purchase_{t+ℓ}) for ℓ ∈ [−7, 7] —
    * the lead/lag detector behind "do views predict purchases, and
    * by how many days?"; the bivariate twin of q173's ACF (a peak at
    * positive ℓ says X leads Y by ℓ days).
    *
    * Exactness: q173's deferred-divide centering on BOTH series —
    * X_t = N·x_t − Sx, Y_t = N·y_t − Sy stay DECIMAL(38,0)-exact and
    * the N² factors cancel in X·Y / (√ΣX²·√ΣY²); per lag the only
    * floating steps are two correctly-rounded sqrts, one multiply,
    * one divide, written identically in the oracle.
    *
    * 100 TB shape: the stream collapses to (day, type) counts in ONE
    * keyed shuffle; everything after runs on two zero-filled
    * calendar frames (q173's exemption) with the lag fan-out a
    * broadcast 15-row frame.
    */
  def crossCorrelation(spark: SparkSession, dir: String,
                       typeX: String = "view", typeY: String = "purchase",
                       maxLag: Int = 7): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeX, typeY))
      .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
    val counts = e.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
    // shared calendar over the union of both types' activity
    val cal = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    def centered(t: String, dcol: String, xcol: String): DataFrame = {
      val s = cal.join(
        counts.filter(col("event_type") === t).select(col("day"), col("c")),
        Seq("day"), "left")
        .select(col("day"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = s.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      s.crossJoin(broadcast(tot))
        .select(col("day").as(dcol),
          (col("n").cast(dec) * col("c") - col("s").cast(dec)).as(xcol))
    }
    val x = centered(typeX, "a_day", "ax")
    val y = centered(typeY, "b_day", "by")
    val denx = x.agg(sum(col("ax") * col("ax")).cast(dec).as("dx"))
    val deny = y.agg(sum(col("by") * col("by")).cast(dec).as("dy"),
      count(lit(1)).as("n_days"))
    val lags = spark.range(-maxLag, maxLag + 1).select(col("id").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, col("b_day") === col("a_day") + col("lag"))
      .groupBy("lag")
      .agg(sum(col("ax") * col("by")).cast(dec).as("num"))
      .crossJoin(broadcast(denx)).crossJoin(broadcast(deny))
      .select(col("lag"), col("n_days"),
        (col("num").cast("double") /
          (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double"))))
          .as("ccf"))
  }

  /** Theil–Sen robust trend slope of the daily event-count series
    * (q190, Sen 1968): the median of all pairwise slopes
    * (c_j − c_i)/(j − i) over the zero-filled calendar — the
    * estimator that pairs with q174's Mann-Kendall test (MK says
    * WHETHER the trend is real, Sen says HOW STEEP), immune to the
    * outlier days that wreck the q170-style least-squares fit.
    *
    * Determinism: each slope is ONE divide of exact integer
    * differences; the median is picked EXPLICITLY by rank (middle
    * element, or the mean of the two middles — a single add+divide
    * of two doubles) rather than an engine `median()` whose
    * interpolation rules differ; equal-slope rank ties can permute
    * rows but never the selected VALUES.
    *
    * 100 TB shape: the stream collapses to daily counts in one
    * keyed shuffle; the O(days²) pair scan and the single-partition
    * rank window run on the calendar frame (q174's exemption —
    * bounded by time, not data).
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val z = dailyCounts(spark, dir)
    val a = z.select(col("day").as("i"), col("c").as("ci"))
    val b = z.select(col("day").as("j"), col("c").as("cj"))
    val slopes = a.join(b, col("j") > col("i"))
      .select(((col("cj") - col("ci")).cast("double") /
        (col("j") - col("i")).cast("double")).as("slope"))
    val np = slopes.agg(count(lit(1)).as("n_pairs"))
    val nd = z.agg(count(lit(1)).as("n_days"))
    val w = Window.orderBy(col("slope"))
    slopes.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(np))
      .filter(
        (col("n_pairs") % 2 === 1 && col("rn") === (col("n_pairs") + 1) / 2) ||
          (col("n_pairs") % 2 === 0 &&
            (col("rn") === col("n_pairs") / 2 || col("rn") === col("n_pairs") / 2 + 1)))
      .agg(max(col("n_pairs")).as("n_pairs"),
        count(lit(1)).as("n_mid"), sum(col("slope")).as("sum_mid"))
      .crossJoin(broadcast(nd))
      .select(col("n_days"), col("n_pairs"),
        (col("sum_mid") / col("n_mid").cast("double")).as("sen_slope"))
  }

  /** Holt double-exponential smoothing of the daily series (q193):
    * level + trend recursions l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, seeded l_1 = x_1,
    * b_1 = x_2−x_1 — q186's EWMA with the trend component the flat
    * EWMA systematically lags on ramps; the one-step forecast
    * f_t = l_{t−1}+b_{t−1} and its residual are the standard
    * short-horizon capacity-planning baseline.
    *
    * Determinism: a floating recursion, so (q186's rule) both
    * engines replay the SAME fold: Spark folds observations 2..t
    * from an explicit (l_1, b_1) struct seed; DuckDB list_prepends
    * that seed and reduces with the identical lambda — every
    * coefficient written as the same `1.0 − α` expression on both
    * sides (a pre-simplified 0.8 literal can differ from computed
    * 1.0−0.2 in the last ulp).  O(days²) prefix folds,
    * calendar-bounded (q174 exemption).
    *
    * 100 TB shape: the q173 collapse to daily counts (one keyed
    * shuffle), then all folds on the calendar frame.
    */
  def holtDaily(spark: SparkSession, dir: String,
                alpha: Double = 0.2, beta: Double = 0.1): DataFrame = {
    val a = lit(alpha)
    val bb = lit(beta)
    val z = dailyCounts(spark, dir)
    val series = z.agg(
      transform(sort_array(collect_list(struct(col("day"), col("c")))),
        x => x.getField("c").cast("double")).as("vals"),
      sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
    val init = struct(
      element_at(col("vals"), 1).as("l"),
      (element_at(col("vals"), 2) - element_at(col("vals"), 1)).as("b"))
    // the level update appears twice in the trend line: HOF lambdas
    // bind no intermediates, and the duplicated expression is
    // bit-identical on both engines
    def step(acc: Column, x: Column): Column = struct(
      (a * x + (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))).as("l"),
      (bb * (a * x + (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
        - acc.getField("l")) + (lit(1.0) - bb) * acc.getField("b")).as("b"))
    series
      .select(posexplode(col("arr")).as(Seq("pos", "e")), col("vals"))
      .filter(col("pos") >= 1) // forecasts exist from the 2nd day on
      .select(col("e.day").as("day"), col("e.c").as("c"),
        // state after day t-1: fold observations 2..t-1 from the seed
        aggregate(slice(col("vals"), lit(2), col("pos") - 1), init, step)
          .as("prev"),
        // state after day t: one more observation
        aggregate(slice(col("vals"), lit(2), col("pos")), init, step)
          .as("st"))
      .select(col("day"), col("c"),
        col("st.l").as("level"), col("st.b").as("trend"),
        (col("prev.l") + col("prev.b")).as("forecast"),
        (col("c").cast("double") - (col("prev.l") + col("prev.b")))
          .as("residual"))
  }

  /** Exact per-user-day time-weighted average value (q222): each
    * observation holds its value until the next observation that day
    * (the last one until midnight), and TWAP is the hold-time-weighted
    * mean — the standard fair-average for irregularly sampled series
    * (a metric sampled 100× in one hot minute must not dominate the
    * day).  The holding-interval semantics are the piecewise-constant
    * step function every TWAP/TWAB definition uses.
    *
    * Determinism: hold durations are exact integer microseconds from
    * the (us, event_id)-ordered lead; the weighted sum is
    * DECIMAL(12,2)-value × BIGINT-micros — (12,2)·(20,0) keeps the
    * exact product inside Spark's 38-digit cap, where the house
    * (18,2) would force a rounding (18+20+1 = 39) — summed exactly;
    * the single divide by the exact integer total span happens once,
    * on doubles.
    *
    * 100 TB shape: one (user, day) keyed window (lead) on the same
    * partitioning as the final aggregate — ONE shuffle total, no
    * joins, map-side combine on the agg.  Window partitions are
    * user-days: bounded by construction.
    */
  def twapDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // day as integer epoch-days (the q108/q91 convention — engines
    // surface DATE columns through different client types, integers
    // compare exactly); readable date alongside as VARCHAR
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      // FLOOR division, matching DuckDB's `//`: `div` truncates toward
      // zero, which diverges for pre-1970 timestamps (negative epoch
      // micros).  Subtracting pmod (always in [0, d)) first makes us an
      // exact multiple, so the truncating div IS the floor — all exact
      // BIGINT math, no double rounding.
      .withColumn("day", expr("(us - pmod(us, 86400000000)) div 86400000000"))
    val w = Window.partitionBy("user_id", "day").orderBy(col("us").asc, col("event_id").asc)
    val dayEndUs = (col("day") + 1) * lit(86400000000L)
    e.withColumn("hold_us", coalesce(lead(col("us"), 1).over(w), dayEndUs) - col("us"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("hold_us")).as("span_us"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
          * col("hold_us")).cast("double")
          / sum(col("hold_us")).cast("double")).as("twap"))
      .select(col("user_id"), col("day"),
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int"))
          .cast("string").as("day_date"),
        col("n_events"), col("span_us"), col("twap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** q234: per-type OLS trend of event value over time — slope and
    * intercept of value-units on hours-since-origin, from the five
    * exact moment sums (n, Σx, Σy, Σx², Σxy).  The closed-form fit
    * over mergeable moments is the distributed-regression pattern: one
    * map-side-combined aggregate, no iteration, no driver math.
    *
    * Determinism: x is an exact integer (pmod-floor hour bucket from a
    * FIXED origin — data-independent, so no extra pass to find a min),
    * y the house 10⁶-quantized integer; per-term products fit BIGINT
    * (x ≤ 10³ for any month-scale window) and the sums go through
    * DECIMAL(38,0) (exact at any corpus size).  The slope/intercept
    * arithmetic happens once, on doubles, in the same literal
    * operation order as the oracle — bit-identical.
    *
    * 100 TB shape: ONE aggregate over the fact scan (partial+final,
    * 5 counters per group).  This is the moment-sums architecture
    * q113 (Pearson) established; here it feeds a model fit.
    */
  def trendByType(spark: SparkSession, dir: String): DataFrame = {
    val originUs = 1704067200000000L // 2024-01-01T00:00:00Z — fixture month origin
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) - lit(originUs)).as("rel_us"),
        floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("y"))
      // floor-division hour bucket (the q222 rule: div truncates toward
      // zero, pmod-subtraction makes it the floor for pre-origin rows)
      .withColumn("x", expr("(rel_us - pmod(rel_us, 3600000000)) div 3600000000"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val s = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec38)).as("sx"),
      sum(col("y").cast(dec38)).as("sy"),
      sum((col("x") * col("x")).cast(dec38)).as("sxx"),
      sum((col("x") * col("y")).cast(dec38)).as("sxy"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double")
    val syd = col("sy").cast("double")
    val sxxd = col("sxx").cast("double")
    val sxyd = col("sxy").cast("double")
    val slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    s.select(col("event_type"), col("n").as("n_events"),
      slope.as("slope_units_per_hour"),
      ((syd - slope * sxd) / nd).as("intercept_units"))
  }

  /** q235: incremental aggregate maintenance — the batch analog of
    * streaming state.  The per-type (count, value-units) aggregate is
    * a commutative monoid, so a day-30 refresh aggregates ONLY the new
    * partition and merges it with the stored base partials; the full
    * recompute runs alongside and the output carries a 0/1
    * merge-matches-full flag (the sketch-audit convention, q33/q58).
    *
    * 100 TB shape: this is THE pattern that turns a daily 100 TB
    * recompute into a daily 3 TB one — partials live where q233's
    * partitioned layout puts them, the merge is a groupBy over
    * |types|·2 rows, and correctness is auditable because the merge is
    * exact integer arithmetic, not an approximation.  (The fixture
    * recomputes `full` for the audit; production would not.)
    */
  def incrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val cutUs = 1706572800000000L // 2024-01-30T00:00:00Z — the "new day"
    val e = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("units"))
    def agg(df: DataFrame, n: String, u: String): DataFrame =
      df.groupBy("event_type").agg(
        count(lit(1)).as(n), sum(col("units")).as(u))
    val base = agg(e.filter(col("us") < lit(cutUs)), "n_base", "u_base")
    val delta = agg(e.filter(col("us") >= lit(cutUs)), "n_delta", "u_delta")
    val full = agg(e, "n_full", "u_full")
    // full outer on the partials: a type may be absent from either side
    // of the cut (zero-row partial = monoid identity)
    val merged = base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("u_base"), lit(0L)).as("u_base"),
        coalesce(col("u_delta"), lit(0L)).as("u_delta"))
    full.join(merged, Seq("event_type"), "left")
      .select(col("event_type"), col("n_base"), col("n_delta"),
        col("n_full").as("n_total"),
        col("u_full").as("value_units"),
        when(col("n_base") + col("n_delta") === col("n_full") &&
          col("u_base") + col("u_delta") === col("u_full"), lit(1L))
          .otherwise(lit(0L)).as("merge_matches_full"))
  }

  /** q236: SCD Type-2 dimension build — collapse each user's
    * consecutive same-event_type runs into validity intervals
    * [valid_from_us, valid_to_us), closed by the next run's start and
    * left open (high-date sentinel) for the current run.  This is the
    * warehouse slowly-changing-dimension pattern: the event stream is
    * the change log, the output is the versioned dimension a
    * point-in-time join probes (q46's as-of join is the consumer
    * side).
    *
    * 100 TB shape: gaps-and-islands entirely under ONE user_id-keyed
    * shuffle — the run-break window, the per-run aggregate (clustered
    * by a superset of the partition key, no re-shuffle) and the
    * closing lead() all reuse it.  Runs per user are bounded by the
    * user's event count; no global ordering exists anywhere.
    */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val highDateUs = 253402300799000000L // 9999-12-31T23:59:59Z, SCD2 open-row convention
    val w = byUser.orderBy(col("us").asc, col("event_id").asc)
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("brk",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("run_id", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perRun = runs.groupBy("user_id", "run_id").agg(
      max(col("event_type")).as("event_type"), // constant within a run
      min(col("us")).as("valid_from_us"),
      count(lit(1)).as("n_events"))
    perRun
      // run_id is the tiebreaker: two adjacent runs CAN share a
      // valid_from_us (two same-microsecond events of different
      // types), and lead() over the timestamp alone would then be
      // engine-dependent — the oracle orders identically
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1)
          .over(byUser.orderBy(col("valid_from_us").asc, col("run_id").asc)),
          lit(highDateUs)))
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
  }

  /** q240: NULL-semantics parity audit — the cross-engine traps that
    * silently corrupt a migrated pipeline, each pinned by the hash
    * gate: count(*) vs count(col) vs count(DISTINCT col) under nulls,
    * sum/avg null-skipping (avg denominators are NON-null counts), and
    * null ORDERING — Spark defaults ASC NULLS FIRST where DuckDB (and
    * the SQL standard's common reading) defaults NULLS LAST, so any
    * ordered surface MUST spell the placement explicitly; the audit's
    * head-of-order string does, and would hash-differ if either engine
    * ignored it.
    *
    * Nulls are synthesized deterministically (props.k < 10 → NULL) —
    * the fixture's JSON key is always present, and a data-dependent
    * null mask would not be reproducible.  Outputs are all non-null
    * (counts, exact sums, an explicit 'NULL'-token string): nullable
    * OUTPUT columns are themselves a cross-engine hazard (clients lift
    * nullable integers to floats), so the audit keeps nulls internal.
    *
    * 100 TB shape: one keyed aggregate plus one keyed window over the
    * same event_type partitioning.
    */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("nk", when(col("k") < 10, lit(null)).otherwise(col("k")))
    val w = Window.partitionBy("event_type")
      .orderBy(col("nk").asc_nulls_first, col("event_id").asc)
    val head = e
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("event_type")
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("rn"), col("nk")))),
          x => coalesce(x.getField("nk").cast("string"), lit("NULL"))))
        .as("head_nulls_first"))
    e.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("nk")).as("n_nonnull"),
        countDistinct(col("nk")).as("n_distinct"),
        sum(col("nk")).cast("long").as("sum_nk"),
        (sum(col("nk")).cast("double") / count(col("nk")).cast("double")).as("avg_nk"))
      .join(head, Seq("event_type"))
      .select(col("event_type"), col("n_rows"), col("n_nonnull"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("sum_nk"), col("avg_nk"), col("head_nulls_first"))
  }

  /** q251: Markov removal-effect attribution — the model-based answer
    * to q149's last-touch heuristic.  User journeys (split at each
    * purchase) define a first-order chain over transient states
    * {START, click, view, signup, error} with absorbing {CONV, END};
    * for each channel c the chain is re-run with c REMOVED (its
    * transitions deleted, NOT renormalized — paths through c simply
    * fail to convert), and the channel's credit is its removal
    * effect 1 − P_removed/P_full, normalized into attribution
    * shares.
    *
    * Absorption probabilities run `iters` unrolled superstep rounds
    * in the q217/q242 mold: the state vector is a (chain, state, v)
    * frame (≤ 5 chains × 4 states), each round one join against the
    * broadcast transition frame, summed by the ORDER-PINNED fold
    * over src (q119's rule), CONV mass accumulated per round in
    * literal order.  Mass still transient after the last round is
    * dropped on both engines identically — the truncation is part of
    * the (deterministic) metric definition.
    *
    * Exactness: T entries are exact-integer ratios; every
    * vector/accumulator update is correctly-rounded IEEE in one
    * pinned operation order.
    *
    * 100 TB shape: the corpus contributes ONE pass (the windowed
    * transition extraction + keyed count); everything after runs on
    * the channels²-sized matrix — supersteps never touch the data
    * again.
    */
  def markovAttribution(spark: SparkSession, dir: String,
                        iters: Int = 8): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val o = ev
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .withColumn("prv", lag(col("event_type"), 1).over(w))
    val ts0 = o.filter(col("prv").isNull || col("prv") === "purchase")
      .select(lit("START").as("src"),
        when(col("event_type") === "purchase", "CONV")
          .otherwise(col("event_type")).as("dst"))
    val ts1 = o.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("src"),
        when(col("nxt").isNull, "END")
          .when(col("nxt") === "purchase", "CONV")
          .otherwise(col("nxt")).as("dst"))
    val tc = ts0.unionAll(ts1).groupBy("src", "dst").agg(count(lit(1)).as("c"))
    // r21 shape: every frame the iteration touches is BOUNDED — the
    // state space is the handful of event types (plus START/CONV/END)
    // and the chain set is 5 literals, so tmc is ≤ 5×|transitions|
    // rows and each generation of v is ≤ 5×|states| rows.  The r20
    // form eager-pinned nk AND acc every superstep (2 pins × 8 iters
    // + AQE stage jobs ≈ 80 Spark jobs of fixed cost around <100-row
    // data).  Now: the transition matrix is localized once, each
    // superstep is ONE bounded collect (the q295 bounded-driver-fold
    // rule), the next v is a local relation, and the per-chain
    // accumulator is the same sequential `acc + coalesce(conv, 0.0)`
    // double addition performed on the driver — the identical IEEE
    // add sequence, so values are bit-identical.
    val tm = tc
      .withColumn("p", col("c").cast("double")
        / sum(col("c")).over(Window.partitionBy("src")).cast("double"))
      .select(col("src"), col("dst"), col("p"))
    val chainNames = Seq("full", "click", "view", "signup", "error")
    val chains = spark.createDataFrame(chainNames.map(Tuple1(_))).toDF("chain")
    val tmc = graft.util.Fs.localize(spark, chains.crossJoin(tm)
      .filter(col("chain") === "full" ||
        (col("src") =!= col("chain") && col("dst") =!= col("chain"))))
    var v: DataFrame = chains.select(col("chain"), lit("START").as("state"),
      lit(1.0).as("v"))
    var accMap: Map[String, Double] = chainNames.map(_ -> 0.0).toMap
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("chain",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("state",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    for (_ <- 1 to iters) {
      val nkRows = v.alias("vv").join(tmc.alias("tt"),
          col("vv.chain") === col("tt.chain") && col("tt.src") === col("vv.state"))
        .select(col("vv.chain").as("chain"), col("tt.dst").as("dst"),
          col("vv.state").as("s"), (col("vv.v") * col("tt.p")).as("term"))
        .groupBy("chain", "dst")
        .agg(Folds.orderedSum(col("term"), col("s")).as("v"))
        .collect()
      v = spark.createDataFrame(
        java.util.Arrays.asList(nkRows.filter(r =>
          r.getString(1) != "CONV" && r.getString(1) != "END"): _*),
        vSchema)
      val conv = nkRows.iterator
        .filter(_.getString(1) == "CONV")
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      accMap = accMap.map { case (chain, a) =>
        chain -> (a + conv.getOrElse(chain, 0.0)) }
    }
    val acc = spark.createDataFrame(
      chainNames.map(c => (c, accMap(c)))).toDF("chain", "acc")
    val full = acc.filter(col("chain") === "full")
      .select(col("acc").as("p_full"))
    // degenerate guards (the batch rule): a fixture slice with no
    // conversions gives p_full = 0 — Spark's non-ANSI divide yields
    // NULL while DuckDB floats to inf/NaN, so spell the NULL on both
    val eff = acc.filter(col("chain") =!= "full")
      .select(col("chain").as("channel"), col("acc").as("removal_conv_prob"))
      .crossJoin(broadcast(full))
      .select(col("channel"), col("p_full").as("full_conv_prob"),
        col("removal_conv_prob"),
        when(col("p_full") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("removal_conv_prob") / col("p_full"))
          .as("removal_effect"))
    val tot = eff.agg(Folds.orderedSum(col("removal_effect"), col("channel")).as("tot"))
    eff.crossJoin(broadcast(tot))
      .select(col("channel"), col("full_conv_prob"), col("removal_conv_prob"),
        col("removal_effect"),
        when(col("tot") === 0.0 || col("tot").isNull, lit(null).cast("double"))
          .otherwise(col("removal_effect") / col("tot")).as("attribution_share"))
      .orderBy("channel")
  }

  /** q261: segmented (broken-stick) trend selection — for each
    * event_type's dense daily-count series, fit two OLS segments
    * around every candidate breakpoint (each side ≥ 7 days), pick the
    * breakpoint minimizing total SSE (ties → earliest), and report
    * the variance the break explains over the single-line fit.  The
    * model-selection step q183's CUSUM (detection) and q234's global
    * OLS (one trend) both stop short of: WHERE does the regime
    * change, and is a two-regime story actually better?
    *
    * Exactness: per-(type, candidate, side) moment sums
    * (m, Σx, Σy, Σx², Σxy, Σy²) are exact BIGINTs over the dense
    * integer series (order-free); each SSE is the centered-moments
    * formula evaluated in ONE pinned double order, degenerate-spread
    * sides guarded by an explicit CASE; the argmin compares identical
    * doubles on both engines with (sse asc, b asc) as total order.
    *
    * 100 TB shape: the corpus collapses to types×days rows first; the
    * candidate cross product is days×candidates per type (bounded by
    * the calendar, not the corpus) and every candidate's moments come
    * from one keyed aggregate over that frame.
    */
  def segmentedTrend(spark: SparkSession, dir: String): DataFrame = {
    val y = denseDailySeries(spark, dir)
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("x"),
        col("n").as("yv"))
    val nPer = y.groupBy("event_type").agg((max(col("x")) + 1L).as("nd"))
    val cands = nPer
      .filter(col("nd") >= 14L)
      .select(col("event_type"), explode(sequence(lit(7L), col("nd") - 7L)).as("b"))
    def moments(df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(
        count(lit(1)).as("m"), sum(col("x")).as("sx"), sum(col("yv")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("yv")).as("sxy"),
        sum(col("yv") * col("yv")).as("syy"))
    // centered-moment SSE, one pinned operation order
    def sse: Column = {
      val syyC = col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double") / col("m").cast("double")
      val sxyC = col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double") / col("m").cast("double")
      val sxxC = col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("m").cast("double")
      when(sxxC === 0.0, syyC).otherwise(syyC - sxyC * sxyC / sxxC)
    }
    val sides = moments(
      y.join(cands, Seq("event_type"))
        .select(col("event_type"), col("b"),
          when(col("x") < col("b"), 0).otherwise(1).as("side"), col("x"), col("yv")),
      Seq("event_type", "b", "side"))
      .withColumn("sse", sse)
    val split = sides.groupBy("event_type", "b")
      .agg((max(when(col("side") === 0, col("sse")))
        + max(when(col("side") === 1, col("sse")))).as("sse_split"))
    val best = split
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("sse_split").asc, col("b").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("b").as("best_break"), col("sse_split"))
    val single = moments(y, Seq("event_type")).withColumn("sse_single", sse)
      .select(col("event_type"), col("sse_single"))
    best.join(single, Seq("event_type")).join(nPer, Seq("event_type"))
      .select(col("event_type"), col("nd").as("n_days"),
        col("best_break").cast("int").as("best_break"),
        col("sse_single"), col("sse_split"),
        when(col("sse_single") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("sse_split") / col("sse_single"))
          .as("improvement"))
      .orderBy("event_type")
  }

  /** q245: item-item collaborative filtering — cosine similarity
    * between event_types over their per-user interaction-count
    * vectors, damped by the standard shrinkage factor
    * n_co/(n_co + λ) (few co-users ⇒ low-confidence similarity), then
    * the symmetric top-`topK` neighbor list per item.  This is the
    * implicit-feedback item-kNN recommender primitive; q107's raw
    * co-occurrence counts stop one step earlier (no normalization, no
    * neighbor ranking).
    *
    * Exactness: dot products and squared norms are exact BIGINT sums
    * of count products; `dot / (sqrt(ssa)·sqrt(ssb))` and the
    * shrinkage multiply are correctly-rounded IEEE on identical
    * operands, and the neighbor ranking breaks ties on the total
    * order (shrunk desc, neighbor asc) so both engines rank
    * identically.
    *
    * 100 TB shape: the self-join is keyed on user_id — per-user cost
    * is (items-touched)², bounded by the catalog, and production caps
    * hyper-user fanout (drop users touching > T items: they carry no
    * signal).  Norms are a small per-item frame, broadcast into the
    * pair scoring; the window ranks ≤ items² pairs, a dimension-sized
    * (not corpus-sized) frame.
    */
  def itemNeighbors(spark: SparkSession, dir: String,
                    topK: Int = 3, shrink: Double = 25.0): DataFrame = {
    val r = graft.util.Pins.eager(
      Tables.events(spark, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c")))
    val norms = r.groupBy("event_type")
      .agg(sum(col("c") * col("c")).as("ss"))
    val co = r.select(col("user_id"), col("event_type").as("item_a"), col("c").as("ca"))
      .join(r.select(col("user_id"), col("event_type").as("item_b"), col("c").as("cb")),
        Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(sum(col("ca") * col("cb")).as("dot"), count(lit(1)).as("co_users"))
    val sim = co
      .join(broadcast(norms.select(col("event_type").as("item_a"), col("ss").as("ssa"))), Seq("item_a"))
      .join(broadcast(norms.select(col("event_type").as("item_b"), col("ss").as("ssb"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co_users"),
        (col("dot").cast("double")
          / (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double")))).as("cosine"))
      .select(col("item_a"), col("item_b"), col("co_users"), col("cosine"),
        (col("cosine") * (col("co_users").cast("double")
          / (col("co_users").cast("double") + lit(shrink)))).as("shrunk_sim"))
    val both = sim.select(explode(array(
        struct(col("item_a").as("item"), col("item_b").as("neighbor"),
          col("co_users"), col("cosine"), col("shrunk_sim")),
        struct(col("item_b").as("item"), col("item_a").as("neighbor"),
          col("co_users"), col("cosine"), col("shrunk_sim")))).as("e"))
      .select(col("e.*"))
    both
      .withColumn("rk", row_number().over(Window.partitionBy("item")
        .orderBy(col("shrunk_sim").desc, col("neighbor").asc)))
      .filter(col("rk") <= topK)
      .select(col("item"), col("rk").cast("int").as("rk"), col("neighbor"),
        col("co_users"), col("cosine"), col("shrunk_sim"))
      .orderBy(col("item"), col("rk"))
  }

  /** q246: seasonal-naive forecast skill (MASE, Hyndman–Koehler) per
    * event_type on the dense daily-count series — mean absolute error
    * of the season-lag (7-day) naive forecast scaled by the MAE of the
    * 1-day naive forecast.  MASE < 1 ⇒ weekly seasonality carries
    * real signal beyond persistence; the standard pre-flight before
    * fitting anything fancier (q193 Holt, q234 OLS trend).
    *
    * The calendar spine is densified per type (sequence over the
    * [min, max] day span, missing days = 0) so the lags are true
    * calendar lags, not row lags over gaps.  Numerators/denominators
    * are exact BIGINT |diff| sums on integer counts; the final ratio
    * is the only double math, written in one pinned literal order on
    * both engines.
    *
    * 100 TB shape: one groupBy to daily grain collapses the corpus to
    * types×days rows; the spine explode, window lags and final
    * aggregate all run on that bounded frame.
    */
  /** Dense per-type daily-count series (calendar-gap days = 0),
    * shared by q246 (MASE) and q261 (segmented trend) — both lag/
    * moment computations silently corrupt on a gapped series, so the
    * densify rule lives in exactly one place.  Columns:
    * (event_type, d0 = first day, day, n).
    */
  private def denseDailySeries(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"), col("d0"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("d0"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  def seasonalMase(spark: SparkSession, dir: String, season: Int = 7): DataFrame = {
    val y = denseDailySeries(spark, dir).select("event_type", "day", "n")
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = y
      .withColumn("l1", lag(col("n"), 1).over(w))
      .withColumn("ls", lag(col("n"), season).over(w))
    lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("ls").isNotNull, abs(col("n") - col("ls")))).as("sae_seasonal"),
        count(col("ls")).as("n_seasonal"),
        sum(when(col("l1").isNotNull, abs(col("n") - col("l1")))).as("sae_naive"),
        count(col("l1")).as("n_naive"))
      .select(col("event_type"), col("n_days"), col("sae_seasonal"), col("sae_naive"),
        when(col("sae_naive") === 0L, lit(null).cast("double"))
          .otherwise((col("sae_seasonal").cast("double") / col("n_seasonal").cast("double"))
            / (col("sae_naive").cast("double") / col("n_naive").cast("double")))
          .as("mase"))
      .orderBy("event_type")
  }

  /** q266: CUPED variance-reduced experiment readout — the
    * experimentation-platform primitive (Deng et al., WSDM'13 —
    * public method): users are hash-assigned to two variants, the
    * post-period metric Y is adjusted by the pre-period covariate X,
    *
    *   θ = Cov(X, Y) / Var(X)   (pooled across variants)
    *   Ŷ = Y − θ·(X − mean(X))
    *
    * and the per-variant readout reports mean/variance of Y and Ŷ
    * plus the realized variance reduction.  Pre = days before
    * `split`, post = on/after; X, Y = per-user value sums.
    *
    * Determinism: value is 2-decimal, so floor(v·100 + 0.5) is a
    * LOSSLESS integer quantization — per-user sums, the cross-user
    * moment sums (n, Σx, Σy, Σxy, Σx², Σy²) and θ's numerator /
    * denominator are EXACT integer arithmetic; every output double
    * is produced by one pinned sequence of IEEE ops on those
    * integers.  Variant = hv60(user_id) mod 2 (q241's md5 fold).
    * CUPED needs only variant-grain moments — never per-user doubles
    * — because Ŷ is affine in (X, Y): means and variances of Ŷ
    * reduce to the same six sums.
    *
    * 100 TB shape: one keyed partial+final aggregate to user grain,
    * one to variant grain (2 rows), one 1-row pooled frame broadcast
    * back — no windows, no ordered folds, nothing driver-side.
    */
  def cupedReadout(spark: SparkSession, dir: String,
                   split: String = "2024-01-16"): DataFrame = {
    val q = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    // date-grain split: ts is NTZ-relabelled (Tables.events), so the
    // cross-engine-safe comparison is on the calendar date
    val pre = to_date(col("ts")) < to_date(lit(split))
    // pinned: the user-grain frame feeds the variant-grain AND the
    // pooled moment aggregates
    val users = graft.util.Pins.eager(Tables.events(spark, dir)
      .select(col("user_id"), pre.as("is_pre"), q.as("v"))
      .groupBy("user_id")
      .agg(sum(when(col("is_pre"), col("v")).otherwise(0L)).as("x"),
        sum(when(!col("is_pre"), col("v")).otherwise(0L)).as("y"))
      .withColumn("variant",
        pmod(TextAnalysis.hv60(col("user_id").cast("string")), lit(2L))))
    val moments = (g: org.apache.spark.sql.RelationalGroupedDataset) => g
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val byVar = moments(users.groupBy("variant"))
    val pooled = moments(users.groupBy())
      .select(col("n"), col("sx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      // degenerate guard (the batch rule): a constant pre-period
      // covariate has Var(X)=0 — θ is undefined, spell the NULL
      .select(when(col("den") === 0L, lit(null).cast("double"))
        .otherwise(col("num").cast("double") / col("den").cast("double"))
        .as("theta"),
        ((col("sx").cast("double") / lit(100.0)) / col("n").cast("double"))
          .as("mean_pre_pooled"))
    // variant-grain variance/covariance in original (1e-2) units:
    //   Var = (n·Σy² − (Σy)²) / (10⁴·n²), Cov analogous
    val vd = (nm: Column) =>
      (nm.cast("double") / lit(10000.0)) / (col("n") * col("n")).cast("double")
    byVar.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n").as("n_users"),
        ((col("sx").cast("double") / lit(100.0)) / col("n").cast("double"))
          .as("mean_pre"),
        ((col("sy").cast("double") / lit(100.0)) / col("n").cast("double"))
          .as("mean_post"),
        col("theta"),
        vd(col("n") * col("syy") - col("sy") * col("sy")).as("var_post"),
        vd(col("n") * col("sxx") - col("sx") * col("sx")).as("var_pre"),
        vd(col("n") * col("sxy") - col("sx") * col("sy")).as("cov_pre_post"),
        col("mean_pre_pooled"))
      .select(col("variant"), col("n_users"), col("mean_pre"), col("mean_post"),
        col("theta"),
        (col("mean_post") - col("theta") * (col("mean_pre") - col("mean_pre_pooled")))
          .as("mean_post_adj"),
        col("var_post"),
        ((col("var_post") - (lit(2.0) * col("theta")) * col("cov_pre_post"))
          + (col("theta") * col("theta")) * col("var_pre")).as("var_post_adj"))
      .withColumn("var_reduction",
        when(col("var_post") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("var_post_adj") / col("var_post")))
      .orderBy("variant")
  }

  /** q268: incremental SESSIONIZATION parity — IVM for the non-monoid
    * case.  q235 merges monoid aggregates and q249 maintains a join
    * view; session state is the hard one (a session can span the
    * chunk boundary), and this is the merge rule that makes it
    * incremental: sessionize each chunk independently, then per user
    * fuse the last chunk-1 session with the first chunk-2 session iff
    * their boundary gap ≤ the session gap — exactly one candidate
    * fuse per (user, boundary), so
    *
    *   n_incr = n_chunk1 + n_chunk2 − merged
    *
    * The audit recomputes the full-data sessionization (q12's window
    * recipe) and flags per-user equality — the contract a checkpointed
    * daily pipeline relies on to never re-sessionize history.
    *
    * Determinism: counts and epoch-ms boundaries are integers; the
    * parity flag is integer equality.
    *
    * 100 TB shape: each chunk's pass is the q12 keyed window; the
    * merge needs only per-(user, chunk) boundary rows (first/last ms
    * + session count), never cross-chunk event data — the state a
    * streaming checkpoint would persist.  The full recompute exists
    * here as the audit and retires at scale.
    */
  def sessionMergeParity(spark: SparkSession, dir: String,
                         split: String = "2024-01-16",
                         gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        (to_date(col("ts")) < to_date(lit(split))).as("c1"))
      .withColumn("ms", unix_millis(col("ts")))
    def sessionCounts(w: org.apache.spark.sql.expressions.WindowSpec,
                      keys: Seq[String]): DataFrame = ev
      .withColumn("prev", lag(col("ms"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") > gapMs, 1L)
          .otherwise(0L))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("new_s")).as("n_sessions"),
        min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
    // pinned: the (user, chunk) boundary frame feeds both the c1 and
    // c2 branches — unpinned, the per-chunk window+aggregate runs twice
    val byChunk = graft.util.Pins.eager(sessionCounts(
      Window.partitionBy("user_id", "c1").orderBy(col("ts").asc, col("event_id").asc),
      Seq("user_id", "c1")))
    val c1 = byChunk.filter(col("c1")).select(col("user_id"),
      col("n_sessions").as("n1"), col("last_ms").as("end1"))
    val c2 = byChunk.filter(!col("c1")).select(col("user_id"),
      col("n_sessions").as("n2"), col("first_ms").as("start2"))
    val incr = c1.join(c2, Seq("user_id"), "full")
      .select(col("user_id"),
        coalesce(col("n1"), lit(0L)).as("n_chunk1"),
        coalesce(col("n2"), lit(0L)).as("n_chunk2"),
        when(col("end1").isNotNull && col("start2").isNotNull
          && col("start2") - col("end1") <= gapMs, 1L).otherwise(0L).as("merged"))
      .withColumn("n_incr", col("n_chunk1") + col("n_chunk2") - col("merged"))
    val full = sessionCounts(
      Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc),
      Seq("user_id"))
      .select(col("user_id"), col("n_sessions").as("n_full"))
    full.join(incr, Seq("user_id"))
      .select(col("user_id"), col("n_full"), col("n_chunk1"), col("n_chunk2"),
        col("merged"), col("n_incr"),
        (col("n_incr") === col("n_full")).cast("int").as("ok"))
      .orderBy("user_id")
  }

  /** q297: two-sample log-rank test table over time-to-conversion —
    * the inferential sibling of q138's Kaplan–Meier curve: users are
    * hash-split into two arms (the q274/q286 reproducible assignment,
    * `hv60('ab:' ∥ user_id) mod 2`) and at every conversion day the
    * table reports each arm's risk set, observed arm-A conversions,
    * the expected count under H₀ (no arm difference)
    *   e_a = d · r_a / r
    * and the hypergeometric variance term
    *   v = d · (r_a/r) · (r_b/r) · (r−d)/(r−1).
    * The analyst's z is Σ(o−e)/√Σv — the spec replays it driver-side;
    * the registry row keeps the per-day drill-in view (the q294 rule).
    *
    * Determinism: durations are integer days (the q138 construction:
    * first purchase converts, last event censors); risk sets are exact
    * BIGINTs from one cumulative window over the bounded day spine;
    * e_a and v are pinned double expressions of integer products
    * factored divide-first so no product leaves BIGINT range at any
    * corpus size (r_a·d would overflow at ~10⁹ users; r_a/r never
    * does).  r ≤ 1 guards v to NULL.
    *
    * 100 TB shape: one user-keyed reduction of the fact scan, then a
    * day-spine frame bounded by the observation window (≤ horizon
    * rows) — the single-partition curve window is the q138/q85
    * tiny-frame escape, NOT a data-sized sort.
    */
  def logRank(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        min(unix_millis(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_millis(col("ts"))))
          .as("tconv"),
        max(unix_millis(col("ts"))).as("tlast"))
      .select(
        pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)).as("arm"),
        when(col("tconv").isNotNull, lit(1L)).otherwise(lit(0L)).as("converted"),
        expr("(coalesce(tconv, tlast) - t0) DIV 86400000").as("dur_day"))
    val totals = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a_tot"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b_tot"))
    val byDay = perUser.groupBy("dur_day").agg(
      sum(when(col("arm") === 0L, col("converted")).otherwise(0L)).as("d_a"),
      sum(when(col("arm") === 1L, col("converted")).otherwise(0L)).as("d_b"),
      sum(when(col("arm") === 0L, lit(1L) - col("converted")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === 1L, lit(1L) - col("converted")).otherwise(0L)).as("c_b"))
    val wPrev = Window.orderBy(col("dur_day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val rA = col("n_a_tot") - coalesce(sum(col("d_a") + col("c_a")).over(wPrev), lit(0L))
    val rB = col("n_b_tot") - coalesce(sum(col("d_b") + col("c_b")).over(wPrev), lit(0L))
    val d = col("d_a") + col("d_b")
    val r = col("r_a") + col("r_b")
    val eA = d.cast("double") * col("r_a").cast("double") / r.cast("double")
    val v = (d.cast("double") * col("r_a").cast("double") / r.cast("double"))
      .multiply(col("r_b").cast("double") / r.cast("double"))
      .multiply((r - d).cast("double") / (r - lit(1L)).cast("double"))
    byDay
      .crossJoin(broadcast(totals))
      .withColumn("r_a", rA)
      .withColumn("r_b", rB)
      .filter(col("d_a") + col("d_b") >= 1L)
      .select(col("dur_day"), col("r_a"), col("r_b"), col("d_a"), col("d_b"),
        eA.as("e_a"),
        (col("d_a").cast("double") - eA).as("o_minus_e"),
        when(r <= 1L, lit(null).cast("double")).otherwise(v).as("v_term"))
      .orderBy("dur_day")
  }

  /** q298: Durbin–Watson serial-correlation diagnostic on the q234
    * trend family — per event type, fit the daily series of exact
    * value-units on the day index (closed-form OLS over the five
    * exact moment sums, the q234/q113 architecture), then test what
    * q234 assumes: are the residuals independent?
    *   DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ_t e_t²  ∈ [0, 4]
    * with DW ≈ 2(1 − ρ̂₁).  An analyst reads DW ≪ 2 as "the trend
    * line is missing autocorrelated structure — the q234 slope's
    * naive standard error is overconfident".
    *
    * Determinism: y is the exact BIGINT daily unit total (10⁶-
    * quantized, the q234 rule), x the exact day index from the
    * per-type min day; moments go through DECIMAL(38,0); slope/
    * intercept are pinned double algebra; each residual is ONE pinned
    * double expression; both quadratic-form sums fold in day order
    * over the bounded per-type day array (the q243 list_reduce rule —
    * a month-scale series, never the corpus).  sse = 0 (a perfectly
    * fit series) guards DW to NULL.
    *
    * 100 TB shape: fact scan → (type, day) keyed aggregate (calendar-
    * bounded), one broadcast of per-type fit scalars, one per-type
    * fold over ≤|days| elements.  Nothing global, nothing data-sized
    * in a single partition.
    */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val daily = graft.util.Pins.eager(
      Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long")).as("y")))
    val d0 = daily.groupBy("event_type").agg(min(col("day")).as("d0"))
    val xy = daily.join(broadcast(d0), Seq("event_type"))
      .select(col("event_type"), datediff(col("day"), col("d0")).cast("long").as("x"),
        col("y"))
    val fit = xy.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec38)).as("sx"),
        sum(col("y").cast(dec38)).as("sy"),
        sum((col("x") * col("x")).cast(dec38)).as("sxx"),
        sum((col("x") * col("y")).cast(dec38)).as("sxy"))
      .select(col("event_type"), col("n"), {
        val nd = col("n").cast("double"); val sxd = col("sx").cast("double")
        val syd = col("sy").cast("double"); val sxxd = col("sxx").cast("double")
        val sxyd = col("sxy").cast("double")
        val slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        struct(slope.as("slope"), ((syd - slope * sxd) / nd).as("icept")).as("f")
      })
      .select(col("event_type"), col("n"), col("f.slope").as("slope"),
        col("f.icept").as("icept"))
    val resid = xy.join(broadcast(fit), Seq("event_type"))
      .withColumn("e",
        col("y").cast("double") - (col("icept") + col("slope") * col("x").cast("double")))
      .withColumn("ep", lag(col("e"), 1).over(
        Window.partitionBy("event_type").orderBy(col("x").asc)))
    resid.groupBy("event_type")
      .agg(max(col("n")).as("n_days"), max(col("slope")).as("slope"),
        max(col("icept")).as("intercept"),
        Folds.orderedSum(col("e") * col("e"), col("x")).as("sse"),
        Folds.orderedSum(when(col("ep").isNull, lit(0.0))
          .otherwise((col("e") - col("ep")) * (col("e") - col("ep"))), col("x")).as("ssd"))
      .select(col("event_type"), col("n_days"), col("slope"), col("intercept"),
        col("sse"),
        when(col("sse") === 0.0, lit(null).cast("double"))
          .otherwise(col("ssd") / col("sse")).as("dw"),
        when(col("sse") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - (col("ssd") / col("sse")) / lit(2.0)).as("rho_hat"))
      .orderBy("event_type")
  }

  /** q299: classical seasonal decomposition of the dense hourly series
    * per event type — the "what does a normal day look like?" view the
    * smoothing family (q186 EWMA, q193 Holt, q246 MASE) doesn't give:
    * a per-hour-of-day seasonal index net of trend.  Trend is the
    * standard centered 2×24 moving average for an even period; with
    * integer counts its 48·trend numerator
    *   T48_t = y_{t−12} + y_{t+12} + 2·Σ_{i=−11..+11} y_{t+i}
    * is an exact BIGINT, so the ×48 detrended value
    *   D48_t = 48·y_t − T48_t
    * is EXACT INTEGER — the only doubles are the two terminal divides
    * (seasonal_raw = ΣD48 / (48·m) per hour-of-day) and the 24-element
    * hour-ordered fold for the centering mean.
    *
    * 100 TB shape: fact scan → (type, hour-slot) keyed aggregate
    * (calendar-bounded); the dense spine is sequence-generated per
    * type; one keyed window (lag/lead/rolling-sum share a single
    * WindowExec); a ≤24·|types| terminal frame.
    */
  def seasonalDecomp(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("slot", expr("(us - pmod(us, 3600000000)) div 3600000000"))
      .groupBy("event_type", "slot").agg(count(lit(1)).as("c"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("slot")).as("s0"), max(col("slot")).as("s1"))
      .select(col("event_type"), explode(sequence(col("s0"), col("s1"))).as("slot"))
    val w = Window.partitionBy("event_type").orderBy(col("slot").asc)
    val dense = spine.join(hourly, Seq("event_type", "slot"), "left")
      .select(col("event_type"), col("slot"), coalesce(col("c"), lit(0L)).as("y"))
      .withColumn("t48",
        lag(col("y"), 12).over(w) + lead(col("y"), 12).over(w)
          + lit(2L) * sum(col("y")).over(w.rowsBetween(-11, 11)))
      .filter(col("t48").isNotNull)
      .select(col("event_type"), pmod(col("slot"), lit(24L)).as("hour_of_day"),
        (lit(48L) * col("y") - col("t48")).as("d48"))
    val byHour = dense.groupBy("event_type", "hour_of_day")
      .agg(count(lit(1)).as("m_slots"), sum(col("d48")).as("sd48"))
      .withColumn("seasonal_raw",
        col("sd48").cast("double") / (lit(48L) * col("m_slots")).cast("double"))
    val grand = byHour.groupBy("event_type")
      .agg(count(lit(1)).as("nh"),
        Folds.orderedSum(col("seasonal_raw"), col("hour_of_day")).as("srs"))
      .select(col("event_type"), (col("srs") / col("nh").cast("double")).as("gmean"))
    byHour.join(broadcast(grand), Seq("event_type"))
      .select(col("event_type"), col("hour_of_day"), col("m_slots"),
        col("seasonal_raw"),
        (col("seasonal_raw") - col("gmean")).as("seasonal_centered"))
      .orderBy("event_type", "hour_of_day")
  }

  /** Difference-in-differences estimator (q311): the causal-inference
    * workhorse the A/B family (q286 z-test, q288 MDE, q291 SPRT)
    * stops short of — those compare arms in ONE period; DiD removes
    * arm-level baseline differences by differencing each arm against
    * its own pre-period:
    *   DiD = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre)
    * with the calendar split at the corpus midpoint day.  Arms are
    * the q286/q297 hv60('ab:' ∥ user_id) mod 2 hash split; the
    * outcome is event `value` under the q234 10⁶-quantization rule.
    *
    * Determinism: per-cell n / Σv / Σv² are exact integers
    * (DECIMAL(38,0) for the squares — v₆² alone can reach 10¹⁸); the
    * four means, four sample variances ((n·Σv² − (Σv)²) / (n(n−1)),
    * exact integer numerators), the DiD, the Welch-style standard
    * error sqrt(Σ var_c/n_c) (four-term pinned left-assoc sum, one
    * correctly-rounded sqrt) and the t statistic are each ONE pinned
    * double expression.  Day indices are exact epoch-day integers
    * (epoch_ms div 86400000, the q183 rule); the split day
    * (d_min + d_max + 1) div 2 is exact integer arithmetic.
    *
    * 100 TB shape: one 2-row broadcast of the day bounds, then ONE
    * full scan folding into a single row of conditional exact sums —
    * no join, no window, map-side partial aggregation all the way.
    */
  /** q344: purged walk-forward cross-validation split — the temporal
    * leakage gate q274's near-dup audit cannot express: a model
    * trained on events up to day c must be evaluated on events AFTER
    * an EMBARGO gap (no test example within `gap` days of any train
    * example), the standard protocol for autocorrelated data (the
    * financial-ML "purged K-fold" rule).  Three walk-forward folds:
    * fold i trains on days [d₀, cᵢ), embargoes [cᵢ, cᵢ+gap), tests on
    * [cᵢ+gap, cᵢ+gap+t); cᵢ = d₀ + ⌈span·i/(folds+2)⌉ and
    * t = ⌈span/(folds+2)⌉ in pure integer day arithmetic, so the
    * folds are derived from the data's own day range deterministically.
    * Fit caveat: for gap = 0, cut_folds + t ≤ d₀ + span holds
    * whenever span ≥ 2·(folds+2) (the two ceil terms sum to at most
    * span·(folds+1)/(folds+2) + 2 ≤ span there), but a small span or
    * an arbitrary gapDays
    * can still push the LAST fold's test window past the data's final
    * day — such a window simply counts zero test rows (the day-spine
    * rollup coalesces empty conditional sums to 0), it is reported,
    * never silently clamped.  The divisor scales with the parameter
    * rather than hardcoding 5.
    *
    * 100 TB shape: ONE events scan to per-day counts (map-side
    * combined, day-spine-sized), then the 3-fold accounting is a
    * broadcast-NL join of the tiny fold table against the day counts
    * (bounded fan-out 3) — the split MANIFEST is what ships; the
    * actual train/test row routing reuses the same interval
    * predicates as a pushdown filter.
    */
  def walkForwardSplit(spark: SparkSession, dir: String,
      folds: Int = 3, gapDays: Int = 1): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val bounds = graft.util.Pins.eager(
      days.agg(min(col("day")).as("d0"), max(col("day")).as("d1")))
    val foldIds = (1 to folds).toDF("fold")
    val dv = folds + 2 // fold cuts at i/(folds+2), test width span/(folds+2)
    val spec = foldIds.crossJoin(broadcast(bounds))
      .withColumn("span", col("d1") - col("d0") + 1L)
      .withColumn("cut", col("d0") +
        expr(s"(span * fold + ${dv - 1}) div $dv")) // ceil(span*i/dv)
      .withColumn("t_end", col("cut") + lit(gapDays.toLong) +
        expr(s"(span + ${dv - 1}) div $dv"))
    spec.crossJoin(broadcast(days))
      .groupBy("fold", "d0", "cut", "t_end")
      .agg(
        coalesce(sum(when(col("day") < col("cut"), col("n"))), lit(0L))
          .as("n_train"),
        coalesce(sum(when(col("day") >= col("cut") &&
          col("day") < col("cut") + lit(gapDays.toLong), col("n"))), lit(0L))
          .as("n_embargo"),
        coalesce(sum(when(col("day") >= col("cut") + lit(gapDays.toLong) &&
          col("day") < col("t_end"), col("n"))), lit(0L)).as("n_test"))
      .select(col("fold"),
        (col("cut") - col("d0")).as("train_days"),
        col("n_train"), col("n_embargo"), col("n_test"))
      .orderBy("fold")
  }

  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val ev = Tables.events(spark, dir).select(
      pmod(graft.operators.TextAnalysis.hv60(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)).as("arm"),
      expr("unix_millis(ts) div 86400000").as("day"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("v6"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("(d0 + d1 + 1) div 2").as("split"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("post", when(col("day") >= col("split"), 1L).otherwise(0L))
    def cell(a: Int, p: Int): Column = col("arm") === a.toLong && col("post") === p.toLong
    def n(a: Int, p: Int) = sum(when(cell(a, p), 1L).otherwise(0L))
    def s(a: Int, p: Int) = sum(when(cell(a, p), col("v6")).otherwise(0L).cast(dec38))
    def ss(a: Int, p: Int) =
      sum(when(cell(a, p), col("v6").cast(dec38) * col("v6")).otherwise(lit(0).cast(dec38)))
    val agg = cells.agg(
      max(col("split")).as("split_day"),
      n(1, 0).as("n_t_pre"), n(1, 1).as("n_t_post"),
      n(0, 0).as("n_c_pre"), n(0, 1).as("n_c_post"),
      s(1, 0).as("s_t_pre"), s(1, 1).as("s_t_post"),
      s(0, 0).as("s_c_pre"), s(0, 1).as("s_c_post"),
      ss(1, 0).as("ss_t_pre"), ss(1, 1).as("ss_t_post"),
      ss(0, 0).as("ss_c_pre"), ss(0, 1).as("ss_c_post"))
    def mean(c: String): Column =
      (col(s"s_$c").cast("double") / col(s"n_$c").cast("double")) / lit(1.0e6)
    def vr(c: String): Column =
      (col(s"n_$c").cast(dec38) * col(s"ss_$c") - col(s"s_$c") * col(s"s_$c"))
        .cast("double") /
        (col(s"n_$c") * (col(s"n_$c") - lit(1L))).cast("double") / lit(1.0e12)
    val did = (mean("t_post") - mean("t_pre")) - (mean("c_post") - mean("c_pre"))
    val se = sqrt(vr("t_post") / col("n_t_post").cast("double")
      + vr("t_pre") / col("n_t_pre").cast("double")
      + vr("c_post") / col("n_c_post").cast("double")
      + vr("c_pre") / col("n_c_pre").cast("double"))
    agg.select(col("split_day"),
      col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
      mean("t_pre").as("m_t_pre"), mean("t_post").as("m_t_post"),
      mean("c_pre").as("m_c_pre"), mean("c_post").as("m_c_post"),
      did.as("did"), se.as("se_did"), (did / se).as("t_stat"))
  }

  /** Sequential-pattern mining, PrefixSpan discipline (q320): the
    * top ordered event-type 2- and 3-sequences by distinct-user
    * support, where "a → b" means SOME a-occurrence strictly
    * precedes SOME b-occurrence in the user's stream (gaps allowed —
    * the subsequence semantics q185's unordered basket rules and
    * q251's adjacent-transition Markov chain both lack).  Support
    * needs no per-user sequence scan: a → b holds iff
    * first(a) < last(b); a → b → c holds iff e_ab < last(c), where
    * e_ab = the earliest b strictly after first(a) — each a closed
    * form over per-(user, type) extrema, the trick that keeps the
    * miner in pure keyed aggregates.  Event order is total: the sort
    * key is unix_millis·2²⁰ + event_id (ids < 2²⁰ at every shipped
    * SF, pinned by spec; at production scale the key widens to a
    * (ts, id) struct — same algebra).
    *
    * Everything is exact integer algebra (extrema, joins, counts;
    * one terminal divide per row for the support rate), so the
    * oracle replays it bit-for-bit.
    *
    * 100 TB shape: one (user, type)-keyed extrema aggregate (map-
    * side combined, |types| ≈ dozens ⇒ per-user fan-out bounded),
    * one events⋈extrema equi-join on user for e_ab (shuffle on
    * user_id, the stream's natural key), and pattern-keyed counts
    * over ≤ |types|² / |types|³ cells — the heavy frames never leave
    * user-id partitioning.
    */
  def seqPatterns(spark: SparkSession, dir: String,
                  topPairs: Int = 10, topTriples: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.util.Pins.eager(
      Tables.events(spark, dir).select(col("user_id"), col("event_type"),
        (unix_millis(col("ts")) * lit(1048576L) + col("event_id")).as("k")))
    val fl = graft.util.Pins.eager(
      ev.groupBy("user_id", "event_type")
        .agg(min(col("k")).as("f"), max(col("k")).as("l")))
    val nUsers = fl.select(countDistinct(col("user_id")).as("n_users"))
    val pairSupp = fl.select(col("user_id"), col("event_type").as("a"), col("f"))
      .join(fl.select(col("user_id"), col("event_type").as("b"), col("l")),
        "user_id")
      .filter(col("f") < col("l"))
    val pairs = pairSupp.groupBy("a", "b").agg(count(lit(1)).as("support"))
      .select(lit(2).as("len"), concat_ws(">", col("a"), col("b")).as("pattern"),
        col("support"))
    // e_ab: earliest b-event strictly after the user's first a
    val eab = ev.join(
        fl.select(col("user_id"), col("event_type").as("a"), col("f")), "user_id")
      .filter(col("k") > col("f"))
      .groupBy(col("user_id"), col("a"), col("event_type").as("b"))
      .agg(min(col("k")).as("e"))
    val triples = eab.join(
        fl.select(col("user_id"), col("event_type").as("c"), col("l")), "user_id")
      .filter(col("e") < col("l"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .select(lit(3).as("len"),
        concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
        col("support"))
    val ranked = pairs.unionAll(triples)
      .withColumn("rank", row_number().over(Window.partitionBy("len")
        .orderBy(col("support").desc, col("pattern").asc)))
      .filter((col("len") === 2 && col("rank") <= topPairs) ||
        (col("len") === 3 && col("rank") <= topTriples))
    ranked.crossJoin(broadcast(nUsers))
      .select(col("len"), col("rank"), col("pattern"), col("support"),
        (col("support").cast("double") / col("n_users").cast("double"))
          .as("support_rate"))
      .orderBy("len", "rank")
  }

  /** Rank-1 ALS matrix factorization (q321): the model-based
    * recommender next to q245's neighborhood item-CF — factor the
    * (customer × part) implicit-feedback matrix r = Σ quantity into
    * u·vᵀ by alternating least squares.  At rank 1 each normal-
    * equation solve collapses to a scalar divide (u_c = Σ_p r·v /
    * Σ_p v², v_p symmetric), so TWO full alternations (u₀ from the
    * v ≡ 1 init, then v₁, u₁, v₂) replay as four stacked keyed
    * aggregates — the superstep discipline of q73's Lloyd iterations,
    * with the iteration count fixed for determinism.
    *
    * Determinism: ratings are exact BIGINTs; each factor is quantized
    * once per step — q = floor(x·10⁶ + ½) after the step's single
    * pinned divide — so every Σ r·q and Σ q² is an exact BIGINT sum
    * (bounds: q_u ≤ ~10⁸, q_v ≤ ~10⁷ at every shipped SF ⇒ Σq² <
    * 10¹⁷; beyond ~10⁹ ratings the q² sums move to DECIMAL(38,0), a
    * documented scale upgrade).  The ·10⁶ rescale products exceed
    * 2⁵³ and round — identically in both engines (one IEEE multiply
    * of a BIGINT-exact value), the q318 discipline.
    *
    * 100 TB shape: each half-step is ONE equi-join of the rating
    * frame against the (dim-sized, broadcastable) opposite factor +
    * ONE keyed aggregate — ratings stay partitioned on their own key,
    * the classic distributed-ALS layout; rank k replaces the scalar
    * divide with a k×k normal-equation solve per key, same shuffle
    * shape.  The final top-k runs orderBy+limit (no full-width
    * window); the 20-row rank window is the documented bounded-frame
    * exception.
    */
  def alsRank1(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = graft.util.Pins.eager(
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey"),
            col("l_quantity").cast("long").as("q")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .agg(sum(col("q")).as("r")))
    def quant(x: Column): Column = floor(x * lit(1.0e6) + lit(0.5)).cast("long")
    // u0: mean rating per customer (the v ≡ 1 ALS init step)
    val u0 = r.groupBy("c")
      .agg(sum(col("r")).as("s"), count(lit(1)).as("n"))
      .select(col("c"),
        quant(col("s").cast("double") / col("n").cast("double")).as("uq"))
    // one alternation step: given factor f (key, fq), solve the other
    // side — num = Σ r·fq, den = Σ fq²; raw = 10⁶·num/den (undoing
    // the quantization scale), requantized for the next step
    def step(fac: DataFrame, key: String, out: String): DataFrame =
      r.join(fac, Seq(key))
        .groupBy(col(out).as("k"))
        .agg(sum(col("r") * col("fq")).as("num"),
          sum(col("fq") * col("fq")).as("den"))
        .select(col("k").as(out),
          quant((col("num").cast("double") * lit(1.0e6))
            / col("den").cast("double")).as("fq"))
    val v1 = step(u0.select(col("c"), col("uq").as("fq")), "c", "p")
    val u1 = step(v1.select(col("p"), col("fq")), "p", "c")
    val v2 = r.join(u1.select(col("c"), col("fq")), Seq("c"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_raters"),
        sum(col("r") * col("fq")).as("v_num"),
        sum(col("fq") * col("fq")).as("v_den"))
      .select(col("p").as("partkey"), col("n_raters"), col("v_num"),
        col("v_den"),
        ((col("v_num").cast("double") * lit(1.0e6))
          / col("v_den").cast("double")).as("v_factor"))
    v2.orderBy(col("v_factor").desc, col("partkey").asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("v_factor").desc, col("partkey").asc)))
      .select(col("rank"), col("partkey"), col("n_raters"),
        col("v_num"), col("v_den"), col("v_factor"))
      .orderBy("rank")
  }

  /** Interval sweep-line: peak concurrent sessions per day (q325) —
    * the capacity-planning primitive the event tier was missing: q12
    * builds sessions and q108 counts daily actives, but "how many
    * sessions were open AT ONCE" needs the classic +1/−1 sweep over
    * session endpoints, here in the day-partitioned form that scales.
    * Sessions are the q12 rule (30-min gap, [min ts, max ts]
    * millisecond bounds, inclusive); a session contributes +1 at its
    * start instant and −1 at end+1 ms.  Deltas are NETTED PER INSTANT
    * before any running sum, so no intra-instant ordering exists at
    * all — ties are algebraically invisible.
    *
    * The global prefix sum is split exactly the way a 1000-executor
    * run must split it: a per-day cumulative sum (window PARTITIONED
    * by day — parallel across days) plus a per-day carry-in baseline
    * (the running total of whole-day net deltas over the bounded day
    * spine — the documented bounded-frame exception).  Peak(day) =
    * max(carry_in, carry_in + max within-day prefix): the day starts
    * at its baseline, which an all-negative day never revisits.
    * Silent days fully inside long sessions hold their baseline and
    * carry no deltas, so they are absent from the output by
    * construction (documented).
    *
    * Everything is exact integer algebra — endpoints, nets, prefixes,
    * maxima — so the oracle replays the sweep bit-for-bit.
    *
    * 100 TB shape: sessionization is the q12 user-keyed window;
    * endpoint deltas collapse to per-(day, instant) nets in one keyed
    * aggregate (map-side combined); the only unpartitioned state is
    * the |days|-row spine.
    */
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 30L * 60L * 1000L
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val sessions = Tables.events(spark, dir)
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ms")).as("s"), max(col("ms")).as("e"))
    val deltas = sessions.select(explode(array(
        struct(col("s").as("t"), lit(1L).as("d")),
        struct((col("e") + lit(1L)).as("t"), lit(-1L).as("d")))).as("p"))
      .select(col("p.t").as("t"), col("p.d").as("d"))
      .groupBy(expr("t div 86400000").as("day"), col("t"))
      .agg(sum(col("d")).as("net"),
        sum(when(col("d") > 0L, col("d")).otherwise(0L)).as("starts"),
        sum(when(col("d") < 0L, -col("d")).otherwise(0L)).as("ends"))
    val withinDay = deltas.withColumn("cum",
      sum(col("net")).over(Window.partitionBy("day").orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val days = withinDay.groupBy("day")
      .agg(max(col("cum")).as("max_cum"),
        sum(col("net")).as("day_net"),
        sum(col("starts")).as("n_starts"),
        sum(col("ends")).as("n_ends"))
    val spine = Window.partitionBy(lit(1)).orderBy(col("day").asc)
    days
      .withColumn("carry_in",
        coalesce(sum(col("day_net")).over(
          spine.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry_in"), col("n_starts"), col("n_ends"),
        greatest(col("carry_in"), col("carry_in") + col("max_cum"))
          .as("peak_concurrent"))
      .orderBy("day")
  }

  /** Offline UCB1 bandit replay (q327): the sequential-decision audit
    * the experimentation tier (q286 z-test, q292 SPRT) stops short
    * of — given the logged daily (arm, trials, successes) stream,
    * which arm would UCB1 (Auer et al. 2002) have pulled each day,
    * and does the policy concentrate on the winner?  Arms are the
    * q274 hash contract extended to 3 (hv60('ab3:' ∥ user_id) mod 3);
    * a day's trial is an active user, a success a purchasing one.
    * For day d, each arm scores mean + √(2·ln N / n) over STRICTLY
    * PRIOR days (the replay is on-policy evaluation of the logged
    * allocation, not an adaptive counterfactual — documented); the
    * chosen arm is the score argmax, ties to the smallest arm.  Days
    * before every arm has history are excluded (UCB plays unplayed
    * arms first; the cold-start rows would be ±∞ scores no oracle
    * should hash).
    *
    * Determinism: priors are exact BIGINT window sums over a
    * day×arm spine (absent cells filled 0, so cumulative history is
    * complete); mean and bonus are pinned divides of exact integers,
    * ln via GraftLn (the admitted transcendental), √ the one
    * correctly-rounded IEEE sqrt both engines share (the q285/q291
    * rule); the argmax is a (score desc, arm asc) row_number over 3
    * rows per day.
    *
    * 100 TB shape: one user-day-keyed aggregate off the corpus scan,
    * then everything runs on the |days|×|arms| spine — cumulative
    * windows partitioned BY ARM (parallel), the per-day total a
    * |days|-key aggregate, the argmax a 3-row window.  Nothing
    * corpus-sized past the first aggregate.
    */
  def ucbReplay(spark: SparkSession, dir: String): DataFrame = {
    val da = graft.util.Pins.eager(
      Tables.events(spark, dir)
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          pmod(graft.operators.TextAnalysis.hv60(
            concat(lit("ab3:"), col("user_id").cast("string"))), lit(3L))
            .as("arm"),
          col("user_id"), col("event_type"))
        .groupBy("day", "arm")
        .agg(countDistinct(col("user_id")).as("n"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("x")))
    val arms = spark.range(0, 3).select(col("id").as("arm"))
    val spine = da.select("day").distinct().crossJoin(broadcast(arms))
    val filled = spine.join(da, Seq("day", "arm"), "left")
      .na.fill(0L, Seq("n", "x"))
    val wArm = Window.partitionBy("arm").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = filled
      .withColumn("n_prior", coalesce(sum(col("n")).over(wArm), lit(0L)))
      .withColumn("x_prior", coalesce(sum(col("x")).over(wArm), lit(0L)))
    val tot = cum.groupBy("day")
      .agg(sum(col("n_prior")).as("t_prior"), min(col("n_prior")).as("m_prior"))
    val ln = graft.functions.MathFunctions.ln _
    cum.join(tot, Seq("day"))
      .filter(col("m_prior") > 0L)
      .withColumn("mean",
        col("x_prior").cast("double") / col("n_prior").cast("double"))
      .withColumn("bonus",
        sqrt((lit(2.0) * ln(col("t_prior").cast("double")))
          / col("n_prior").cast("double")))
      .withColumn("ucb", col("mean") + col("bonus"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("day").orderBy(col("ucb").desc, col("arm").asc)))
      .select(col("day"), col("arm"), col("n"), col("x"),
        col("n_prior"), col("x_prior"), col("ucb"),
        when(col("rk") === 1, 1).otherwise(0).as("chosen"))
      .orderBy("day", "arm")
  }

  /** Point-in-time join against the SCD2 dimension (q330): the
    * consumer side q236's scaladoc promises — probe the versioned
    * dimension with a fact stream and ask "what state was the user
    * in at the instant JUST BEFORE each purchase?" (the instant OF a
    * purchase is trivially inside a purchase-run; the preceding
    * microsecond is the behavioral prior a funnel cares about).
    * Facts with no prior version (the user's first-ever event is the
    * purchase) surface as state 'none' via the LEFT join — temporal
    * joins that silently drop unmatched facts are the classic PIT
    * bug.
    *
    * Correctness hinges on the SCD2 invariant q236 builds: per user,
    * [valid_from, valid_to) intervals PARTITION time from the first
    * event on, so every probe instant matches AT MOST one version —
    * the spec asserts exactly-one-or-none.
    *
    * 100 TB shape: the probe is ONE equi-join on user_id (the
    * dimension's natural key) with the interval test as the join
    * residual — versions per user are bounded by the user's run
    * count, so the per-key product is bounded; then a |states|-key
    * rollup.  No range-partitioned machinery needed when the
    * interval key is already the join key.
    */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dimension(spark, dir)
      .select(col("user_id"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    val facts = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), (unix_micros(col("ts")) - lit(1L)).as("probe_us"))
    facts.join(dim,
        facts("user_id") === dim("user_id") &&
          col("probe_us") >= col("valid_from_us") &&
          col("probe_us") < col("valid_to_us"),
        "left")
      .select(facts("user_id").as("user_id"),
        coalesce(col("state"), lit("none")).as("prior_state"))
      .groupBy("prior_state")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("prior_state")
  }

  /** As-of NEAREST join with tolerance (q371): the PIT-join family
    * completed — q46/q330 are backward-only (last state at or before
    * t); this is the `merge_asof direction='nearest'` form every
    * feature-attribution pipeline needs: for each purchase, the
    * nearest click by the SAME user within ±`tolSec`, preferring the
    * EARLIER side on exact distance ties (then the smaller event id).
    *
    * Plan shape — the part that matters at 100 TB: NO range join, NO
    * per-row candidate explosion.  Both event sets union into one
    * frame tagged by kind, ONE shuffle on user_id, ONE sort by
    * (us, kind, id), and two running-extreme window passes: the
    * nearest preceding click is a running MAX of struct(us, −id)
    * (max ignores the null non-click rows; struct order gives
    * latest-us-then-smallest-id), the nearest following click the
    * mirrored running MIN of struct(us, id).  Same-instant clicks
    * sort before the purchase (kind 0 < 1), so a zero-distance match
    * is found on the `prev` side — exactly the tie rule.  This is the
    * sort-merge as-of shape: cost = one keyed sort, state = one
    * struct per row, regardless of how many clicks fall in the
    * tolerance window.
    *
    * Determinism: all comparisons in integer epoch-micros; ties
    * resolved by (distance, side, event id) — total order, both
    * engines replay it (the oracle's LATERAL min-by states the same
    * rule declaratively).
    */
  def asofNearest(spark: SparkSession, dir: String,
      tolSec: Int = 300): DataFrame = {
    val tol = tolSec * 1000000L
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "click", 0).otherwise(1).as("kind"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("kind").asc, col("event_id").asc)
    val prevC = max(when(col("kind") === 0,
        struct(col("us"), (-col("event_id")).as("nid"))))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val nextC = min(when(col("kind") === 0,
        struct(col("us"), col("event_id"))))
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val cand = e.withColumn("pc", prevC).withColumn("nc", nextC)
      .filter(col("kind") === 1)
      .withColumn("pd", col("us") - col("pc.us"))
      .withColumn("nd", col("nc.us") - col("us"))
    val prevOk = col("pc").isNotNull && col("pd") <= lit(tol)
    val nextOk = col("nc").isNotNull && col("nd") <= lit(tol)
    val takePrev = prevOk && (!nextOk || col("pd") <= col("nd"))
    cand.select(col("event_id"), col("user_id"),
        when(takePrev, -col("pc.nid"))
          .when(nextOk, col("nc.event_id"))
          .otherwise(lit(null).cast("long")).as("click_id"),
        when(takePrev, col("pd"))
          .when(nextOk, col("nd"))
          .otherwise(lit(null).cast("long")).as("delta_us"),
        when(takePrev, lit("prev"))
          .when(nextOk, lit("next"))
          .otherwise(lit("none")).as("direction"))
      .orderBy("event_id")
  }

  /** Aggregate IVM with RETRACTIONS (q370): the engine's incremental
    * maintenance tier extended to DELETES — q249 maintains a join
    * under inserts, q354 merges insert-only stats partials; this is
    * the Z-set form (each delta row carries a signed multiplicity)
    * that real incremental engines use for upserts, corrections, and
    * erasure.  The delta batch is the final day's events as +1 rows
    * UNION a deterministic erasure set (every 17th prior event — the
    * q329 deletion-cascade scenario hitting a maintained aggregate)
    * as −1 rows; the maintained per-type state is updated as
    * count' = count + Σmult and sum' = sum + Σ(mult·units) — ONE
    * delta scan, no base re-scan.  The audit recomputes ground truth
    * from scratch ((prior − deleted) ∪ inserts) and pins equality
    * with explicit match flags, the q354 audit discipline.
    *
    * COUNT and SUM are self-invertible under retraction; MIN/MAX are
    * NOT (a deleted minimum forces a rebuild — the q354 histogram
    * caveat applies to extremes too), which is why this operator
    * maintains exactly the invertible pair.
    *
    * 100 TB shape: the maintained state is group-cardinality-sized;
    * the update touches only the delta (map-side combined keyed
    * aggregate + a broadcast-sized outer join against the state).
    * A full recompute re-scans the fact table; the retraction path
    * costs |delta| — that ratio IS the value of IVM at scale.
    */
  def retractIvm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      col("event_id"),
      expr("unix_millis(ts) div 86400000").as("day"),
      col("event_type"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("units"))
    val split = e.agg(max(col("day")).as("d1"))
    val t = e.crossJoin(broadcast(split))
    val prior = t.filter(col("day") < col("d1"))
    val deletes = prior.filter(pmod(col("event_id"), lit(17L)) === 0L)
    val inserts = t.filter(col("day") === col("d1"))
    val base = prior.groupBy("event_type")
      .agg(count(lit(1)).as("n0"), sum(col("units")).as("u0"))
    val delta = inserts
      .select(col("event_type"), lit(1L).as("mult"), col("units"))
      .unionByName(deletes
        .select(col("event_type"), lit(-1L).as("mult"), col("units")))
    val dAgg = delta.groupBy("event_type").agg(
      sum(col("mult")).as("dn"),
      sum(col("mult") * col("units")).as("du"),
      sum(when(col("mult") === 1L, 1L).otherwise(0L)).as("n_ins"),
      sum(when(col("mult") === -1L, 1L).otherwise(0L)).as("n_del"))
    val merged = base.join(dAgg, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_ins"), lit(0L)).as("n_inserts"),
        coalesce(col("n_del"), lit(0L)).as("n_deletes"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("merged_count"),
        (coalesce(col("u0"), lit(0L)) + coalesce(col("du"), lit(0L)))
          .as("merged_units"))
    val direct = t.filter(col("day") === col("d1") ||
        (col("day") < col("d1") && pmod(col("event_id"), lit(17L)) =!= 0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("direct_count"), sum(col("units")).as("direct_units"))
    merged.join(direct, Seq("event_type"), "full_outer")
      .select(col("event_type"), col("n_inserts"), col("n_deletes"),
        col("merged_count"),
        coalesce(col("direct_count"), lit(0L)).as("direct_count"),
        when(col("merged_count") === coalesce(col("direct_count"), lit(0L)), 1)
          .otherwise(0).as("count_match"),
        col("merged_units"),
        coalesce(col("direct_units"), lit(0L)).as("direct_units"),
        when(col("merged_units") === coalesce(col("direct_units"), lit(0L)), 1)
          .otherwise(0).as("units_match"))
      .orderBy("event_type")
  }
}
