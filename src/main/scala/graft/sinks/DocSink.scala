package graft.sinks

import graft.functions.DocJson
import graft.util.{ErrorCollector, HealthCheck}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Document sinks (reference O9/O6): chunked, idempotent-by-id,
  * checkpoint-friendly.  Two impls — an NDJSON directory sink (test /
  * zero-egress) and a Solr-style batched upsert sink with a pluggable
  * transport — that write through one ordering and accounting path
  * ([[IdOrder]]) and so share the chunking and resume contract:
  *
  *  - ≤ chunkSize records per emitted chunk (reference driver.go:199-206);
  *  - no empty trailing chunk when the row count is an exact multiple
  *    of chunkSize (fixes reference bug B8, driver.go:208-212);
  *  - rows within a chunk are ordered by id, chunks are id-contiguous,
  *    so `max(id)` of the last durable chunk is a valid INCLUSIVE
  *    resume checkpoint (reference README.md:80-88, B4 semantics).
  */
trait DocSink extends HealthCheck {
  /** Write the document frame; returns the number of rows written
    * (from sink-side accounting).
    */
  def write(df: DataFrame): Long

  /** The resume checkpoint after a successful write: max written id
    * (asciibetical), i.e. the reference's Solr `sort=id desc&rows=1`
    * probe (README.md:84-88) answered from sink metadata.
    */
  def checkpoint(): Option[String]

  /** Streaming (foreachBatch) entry point.  The default is only valid
    * for sinks whose `write` is an idempotent per-id upsert (e.g.
    * BatchedUpsertSink): replaying a batch re-asserts the same docs.
    * Overwrite-style sinks MUST override to isolate batches — an
    * overwrite `write` called per micro-batch would erase every prior
    * batch's output.
    */
  def writeBatch(df: DataFrame, batchId: Long): Long = write(df)
}

/** The one ordering and accounting path of both sinks.  Spark-native
  * chunking: repartitionByRange on id (range partitioner ⇒
  * id-contiguous partitions, no global sort barrier, one partition per
  * core via defaultParallelism) + sortWithinPartitions ⇒ each sink cuts
  * id-ordered chunks of ≤ chunkSize from its partitions.
  *
  * Count and checkpoint ride the delivery itself via observe(): a
  * post-write df.agg would re-execute the whole upstream pipeline (at
  * 100 TB, a second source scan per write).  The observe node sits
  * ABOVE the range exchange: the range partitioner's sampling pass
  * evaluates only the exchange's child, so the metrics count each
  * delivered row exactly once.  Anything a sink derives per row (the
  * upsert sink's JSON) belongs above the exchange too, or the sampling
  * pass computes it as well.
  */
private[sinks] object IdOrder {
  /** Run `deliver` (one action) on `df` in id order; returns the rows
    * it saw and their max id (None when there were none).
    */
  def apply(df: DataFrame)(deliver: DataFrame => Unit): (Long, Option[String]) = {
    require(df.columns.contains("id"), "DocSink frames carry an id column")
    val obs = Observation("graft-sink-" + java.util.UUID.randomUUID)
    deliver(df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .sortWithinPartitions("id")
      .observe(obs, count(lit(1)).as("n"), max(col("id")).as("m")))
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("m").asInstanceOf[String]))
  }
}

/** Filesystem NDJSON sink: each record is one JSON line (explicit
  * NDJSON — fixes reference B6, which concatenated raw content with no
  * separator).  `maxRecordsPerFile` cuts each id-ordered partition into
  * files of ≤ chunkSize records, and Spark never creates an empty file
  * (B8 impossible by construction).
  */
final class NdjsonDirSink(outDir: String, chunkSize: Int) extends DocSink {
  override def name: String = s"ndjson-dir:$outDir"
  private var lastMax: Option[String] = None

  override def write(df: DataFrame): Long = {
    val (n, m) = IdOrder(df)(save(outDir))
    lastMax = m
    n
  }

  override def checkpoint(): Option[String] = lastMax

  /** Per-batch subdirectory (`batch=<id>`) so successive micro-batches
    * accumulate instead of overwriting each other; replay of a batch id
    * overwrites only its own subdirectory (idempotent per batch).  The
    * checkpoint advances monotonically across batches.
    */
  override def writeBatch(df: DataFrame, batchId: Long): Long = {
    val (n, m) = IdOrder(df)(save(s"$outDir/batch=$batchId"))
    lastMax = (lastMax ++ m).maxOption
    n
  }

  private def save(dir: String)(ordered: DataFrame): Unit =
    ordered.write.mode("overwrite")
      .option("maxRecordsPerFile", chunkSize.toLong)
      .json(dir)

  override def healthCheck(): Either[String, Unit] = {
    val parent = new java.io.File(outDir).getAbsoluteFile.getParentFile
    if (parent != null && parent.exists) Right(()) else Left(s"parent dir missing for $outDir")
  }
}

/** Transport abstraction for the Solr-style sink: prod wires an HTTP
  * client POSTing JSON update batches to `solrUrl` (reference
  * ingest.go:29-31); tests inject a collector.  Implementations must
  * be idempotent per document id (Solr upsert semantics) — that is
  * what makes inclusive resume (B4) safe.
  */
trait UpdateTransport extends Serializable {
  /** Deliver one batch of (id → serialized doc). Throw to fail the task. */
  def send(batch: Seq[(String, String)]): Unit
}

/** HTTP JSON-update transport: POSTs NDJSON batches to
  * `{solrUrl}/update/json/docs`.  Constructed lazily per executor so
  * the client never rides the closure.
  *
  * Both waits are bounded, as in `RespKvTransport`: 5 s to connect and
  * 10 s for the response to a batch.  A server that accepts the
  * connection and never answers fails the send with an `IOException`
  * (and the task retries) instead of hanging the task.
  *
  * Backpressure (HTTP 429 or 503) re-sends the same batch after 100,
  * 200 and 400 ms; a fourth refusal, or any other non-2xx status, fails
  * the send, so a task retry re-sends its partition only when Solr
  * stays overloaded.
  */
final class HttpUpdateTransport(solrUrl: String) extends UpdateTransport {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()
  override def send(batch: Seq[(String, String)]): Unit = {
    val body = batch.map(_._2).mkString("\n")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$solrUrl/update/json/docs"))
      .timeout(java.time.Duration.ofSeconds(10))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    var attempt = 0
    var status = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    while ((status == 429 || status == 503) && attempt < HttpUpdateTransport.BackoffMs.length) {
      Thread.sleep(HttpUpdateTransport.BackoffMs(attempt))
      attempt += 1
      status = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    }
    if (status / 100 != 2)
      throw new java.io.IOException(s"update failed: HTTP $status")
  }
}

private object HttpUpdateTransport {
  /** The waits before each re-send of a refused batch. */
  private val BackoffMs = Array(100L, 200L, 400L)
}

/** Batched upsert sink: `foreachPartition` + `grouped(chunkSize)` —
  * the reference's worker pool (O10) becomes Spark task scheduling,
  * its error channel (O11) becomes an ErrorCollector accumulator.
  * Batch boundaries honor chunkSize; an empty partition sends nothing
  * (B8).  Per-record soft failures are counted, not job-fatal (B9/B10
  * fixed); transport failures fail the task and retry.
  *
  * Each doc is one JSON object of every column of the frame, the bytes
  * `to_json(struct(...))` writes, built once per doc above the range
  * exchange by [[graft.functions.DocJson.column]]: a one-pass UTF-8
  * writer when every leaf is a string (under structs, arrays and
  * string-keyed maps, as every in-repo doc frame is), `to_json` for any
  * other schema.
  */
final class BatchedUpsertSink(
    transport: UpdateTransport, chunkSize: Int,
    errors: Option[ErrorCollector] = None) extends DocSink {
  override def name: String = "batched-upsert"
  private var lastMax: Option[String] = None

  override def write(df: DataFrame): Long = {
    val errs = errors
    val t = transport
    val size = chunkSize
    val (n, m) = IdOrder(df) { ordered =>
      // the JSON is built above the range exchange, once per doc: the
      // sampling pass reads only the exchange's child
      ordered.select(col("id"), DocJson.column(df).as("doc"))
        .foreachPartition { rows: Iterator[Row] =>
          rows.map(r => (r.getString(0), r.getString(1)))
            .grouped(size)
            .foreach { batch =>
              val clean = errs match {
                case Some(ec) => batch.flatMap(b => ec.guard(s"doc ${b._1}")(b))
                case None => batch
              }
              if (clean.nonEmpty) t.send(clean)
            }
        }
    }
    lastMax = m
    n
  }

  override def checkpoint(): Option[String] = lastMax

  override def healthCheck(): Either[String, Unit] = Right(())
}
