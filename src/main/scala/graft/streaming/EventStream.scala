package graft.streaming

import graft.sinks.DocSink
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming tier (SURVEY.md §2.B streaming row, M5): the
  * batch event operators re-expressed over an unbounded source.
  *
  * Everything is incremental-state friendly: watermarks bound state,
  * windows are event-time (not arrival-time), and the sink side reuses
  * the batch DocSink via foreachBatch — one write path for both modes.
  * At scale, state lives in the state store keyed by (window, group) /
  * user — partitioned by key, no global structures.
  */
object EventStream {

  /** The events schema as the streaming reader needs it declared
    * (readStream requires an explicit schema — no inference pass).
    * `ts` arrives as epoch-nanos long in the fixture parquet (see
    * Tables.events) and is normalized to a timestamp here.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-drop source: new parquet files under `dir` become micro-batches.
    * `options` passes reader knobs through (e.g. maxFilesPerTrigger=1 to
    * force one micro-batch per dropped file — how the batch-twin harness
    * exercises genuinely incremental state).
    *
    * `ts` encoding is PROBED from the files present at start (readStream
    * needs a declared schema, but fixtures differ: TIMESTAMP(NANOS)
    * surfaces as epoch-nanos LONG under the legacy conf, while plain
    * TIMESTAMP(MICROS) files surface as a timestamp — assuming one
    * encoding silently lands every event in 1970 for the other, which a
    * count-only assertion never catches).  An empty watch dir defaults
    * to the nanos contract (`rawSchema`).
    */
  def readEvents(spark: SparkSession, dir: String,
                 options: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsLong =
      try spark.read.parquet(dir).schema("ts").dataType == LongType
      catch { case _: Throwable => true } // empty dir: nanos contract
    if (tsIsLong)
      spark.readStream.schema(rawSchema).options(options).parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream
        .schema(StructType(rawSchema.map {
          case f if f.name == "ts" => f.copy(dataType = TimestampType)
          case f => f
        }))
        .options(options).parquet(dir)
  }

  /** Tumbling event-time windows with a watermark: late events beyond
    * the watermark are dropped, state per (window, event_type) is
    * evicted once the watermark passes — bounded state at any scale.
    */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     win: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Session windows (gap-based), the streaming form of
    * EventOps.sessionize.
    */
  def sessionWindows(events: DataFrame,
                     watermark: String = "1 hour",
                     gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming tier of the dedup family (state = seen keys inside
    * the watermark, evicted automatically).
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  final case class UserActivity(user_id: Long, n_events: Long, total_value: Double)
  final case class ActivityState(n: Long, total: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user
    * activity totals — the arbitrary-stateful-op exercise
    * (KeyValueGroupedDataset surface).  State is per-user and lives in
    * the state store; production deployments add a timeout policy for
    * idle-key eviction (a processing-time timeout keeps the trigger
    * loop busy, so the test path runs without one).
    */
  def userActivity(spark: SparkSession, events: DataFrame): Dataset[UserActivity] = {
    import spark.implicits._
    events.select(col("user_id").as[Long], col("value").as[Double])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[ActivityState]) =>
          val prev = state.getOption.getOrElse(ActivityState(0L, 0.0))
          val (n, tot) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, t), (_, v)) => (c + 1, t + v)
          }
          state.update(ActivityState(n, tot))
          UserActivity(user, n, tot)
      }
  }

  /** Stream-stream interval join with watermarks: every purchase joined
    * to the same user's views from the preceding hour — the streaming
    * form of the batch as-of/attribution family (EventOps).
    *
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, so Spark can evict buffered state once the
    * watermark passes the interval: state per key is bounded by the
    * horizon, not the stream length — the only stream-stream join shape
    * that survives unbounded input.
    */
  def purchaseViewJoin(events: DataFrame,
                       watermark: String = "1 hour",
                       horizon: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    purchases.join(views,
      expr(s"p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL $horizon"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("view_id"), col("p_ts"), col("v_ts"), col("value"))
  }

  /** q346: the LEFT OUTER form of [[purchaseViewJoin]] — purchases
    * that attracted NO view in the preceding hour surface with NULL
    * view columns instead of vanishing (the funnel-gap signal an
    * inner join hides).  Outer emission is watermark-driven: a
    * purchase's null row may only emit once the view-side watermark
    * proves no qualifying view can still arrive.
    */
  def purchaseViewLeftJoin(events: DataFrame,
                           watermark: String = "1 hour",
                           horizon: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    purchases.join(views,
      expr(s"p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL $horizon"),
      "leftOuter")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("view_id"), col("p_ts"), col("v_ts"))
  }

  /** Stream → DocSink bridge: every micro-batch goes through the SAME
    * batch write path (chunking, checkpoint, idempotent upsert) via
    * `DocSink.writeBatch`, so at-least-once delivery + a sink that is
    * idempotent per id (upsert) or per batch id (subdirectory) =
    * effectively-once.  The batch is pinned by
    * [[StreamRunner.eachNonEmpty]]: the empty probe, the sink's
    * range-sampling pass and the write then read the source once.
    * The query runs until stopped (default trigger).
    */
  def toDocSink(events: DataFrame, sink: DocSink, checkpointDir: String): StreamingQuery =
    events
      .select(
        col("event_id").cast("string").as("id"),
        col("event_id").cast("string").as("txn_id"),
        col("event_type").as("owner"),
        col("props").as("content"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(StreamRunner.eachNonEmpty { (batch, batchId) =>
        sink.writeBatch(batch, batchId); ()
      })
      .start()
}
