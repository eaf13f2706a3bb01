package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The streaming tier's mechanics, written once: fixture staging, the
  * state-partition pin, the run-to-completion drain and the non-empty
  * micro-batch bracket.  Every driver in [[StreamQueries]],
  * [[DocStream]] and [[EventStream]] goes through here.
  */
private[graft] object StreamRunner {

  /** State partitioning is sized to STATE volume, not to the session's
    * shuffle width: Spark fixes `spark.sql.shuffle.partitions` into the
    * checkpoint at first start as the state-store partition count, and
    * every store partition pays per-micro-batch checkpoint I/O whether
    * or not it holds keys — at fixture scale 32 near-empty stores per
    * stateful operator are pure overhead (measured 6.4 s → ~2 s on the
    * q229 join).  At 100 TB this goes UP to match the keyspace; it is
    * the one parallelism choice streaming cannot AQE its way out of,
    * which is why it is explicit here.
    */
  val statePartitions: Int = 8

  /** Staged micro-batch files: the watch dir a stream reads and the
    * slices' own schema.
    */
  final case class Staged(watch: java.nio.file.Path, schema: StructType) {
    /** One micro-batch per staged file (maxFilesPerTrigger=1). */
    def read(spark: SparkSession): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(watch.toString)
  }

  /** Stage each slice (all of one schema) as one parquet file in the
    * watch dir `root/src`, mod-times pinned 1 s apart so
    * FileStreamSource picks the slices up in order — with
    * maxFilesPerTrigger=1 each slice rides its own micro-batch (the
    * cross-batch-state harness).  Each slice is its own coalesce(1)
    * write into `root/stage`; the N independent write jobs overlap via
    * [[graft.util.Par]] (guide §2.6).  File copies and mod-time pinning
    * stay sequential — the mod-times, not copy order, pin micro-batch
    * order.  `root` is the caller's [[graft.util.Fs.withTempDir]]
    * root, which deletes both dirs, a failed staging included.
    */
  def stageSlices(root: java.nio.file.Path, slices: Seq[DataFrame]): Staged = {
    import java.nio.file.Files
    val watch = Files.createDirectory(root.resolve("src"))
    val stage = root.resolve("stage")
    graft.util.Par.run(slices.zipWithIndex.map { case (df, i) =>
      () => df.coalesce(1).write.parquet(s"$stage/c$i")
    })
    for (i <- slices.indices) {
      val dst = watch.resolve(f"slice$i%02d.parquet")
      Files.copy(graft.util.Fs.onlyPartFile(s"$stage/c$i"), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    // read back as file sources surface columns: nullable
    Staged(watch, StructType(slices.head.schema.map(_.copy(nullable = true))))
  }

  /** Start `stream` into the sink `sink` configures, run to completion
    * over everything available at start (`Trigger.AvailableNow`), with
    * the state-partition count pinned.  The conf is restored after
    * start — it is only read at query planning.
    */
  def start(stream: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val spark = stream.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, statePartitions.toString)
      sink(stream.writeStream).trigger(Trigger.AvailableNow()).start()
    } finally spark.conf.set(key, prev)
  }

  /** [[start]] into a checkpointed `foreachBatch` body. */
  def foreachBatch(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream)(_.option("checkpointLocation", checkpointDir).foreachBatch(body))

  /** Wait for a started query `q` (typically from [[start]]) to
    * finish, hand it to `inspect` (progress assertions in tests), and
    * stop it only if it is still active (an interrupted wait).  A
    * query that terminated is not stopped again: its
    * execution thread can outlive `awaitTermination` for a moment, and
    * `stop` then cancels a job group that has no jobs left (a
    * meaningless "Failed to cancel job group" warning).  The caller's
    * [[graft.util.Fs.withTempDir]] bracket deletes the query's dirs.
    */
  def drain(inspect: StreamingQuery => Unit)(q: StreamingQuery): Unit =
    try { q.awaitTermination(); inspect(q) } finally if (q.isActive) q.stop()

  /** Run `stream` into a uniquely-named memory sink, drain it, and
    * return the sink table.  The memory sink holds the drained result,
    * so the stream's inputs are disposable the moment the query stops.
    */
  def toTable(mode: String, inspect: StreamingQuery => Unit)(stream: DataFrame): DataFrame = {
    val name = graft.util.UniqueName("graft_sq_")
    drain(inspect)(start(stream)(_.format("memory").queryName(name).outputMode(mode)))
    stream.sparkSession.table(name)
  }

  /** The non-empty bracket: pin `df`, probe it, run `body` on the pinned
    * frame unless it is empty, unpin.  A body that reads its frame more
    * than once (the probe, a sink's range-sampling pass, the write)
    * would otherwise re-run the source for each read — 2× the ingest
    * read I/O at any scale.  A micro-batch is bounded by
    * maxFilesPerTrigger, so the pin is the standard multi-pass
    * foreachBatch play (MEMORY_AND_DISK spills if a batch outgrows
    * memory).
    */
  def nonEmpty[T](df: DataFrame, empty: => T)(body: DataFrame => T): T = {
    val pinned = df.persist()
    try { if (pinned.isEmpty) empty else body(pinned) }
    finally { pinned.unpersist(); () }
  }

  /** [[nonEmpty]] as a `foreachBatch` body: empty micro-batches (a
    * stateful query's no-data batches, an idle trigger) are skipped.
    */
  def eachNonEmpty(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => nonEmpty(batch, ())(body(_, batchId))
}
