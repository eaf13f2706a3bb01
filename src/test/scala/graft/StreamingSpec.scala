package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Top level (not nested in the suite): a nested case class has an
  * outer-pointer field its ExpressionEncoder can't codegen, so every
  * streaming test would fall back to interpreted encoding with a
  * Janino error logged per batch.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double, props: String)

/** Streaming tier: drive micro-batches through MemoryStream and check
  * window/session/dedup semantics incl. watermark late-data dropping.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def run(batches: Seq[Seq[Ev]], build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  mode: String = "update"): Seq[org.apache.spark.sql.Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"out_${System.nanoTime()}"
    val q = build(mem.toDF()).writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling windows aggregate by event time") {
    val rows = run(
      Seq(Seq(
        Ev(1, ts(0), 1, "view", 1.0, "{}"),
        Ev(2, ts(2), 1, "view", 2.0, "{}"),
        Ev(3, ts(7), 2, "buy", 5.0, "{}"))),
      df => EventStream.windowedCounts(df, watermark = "10 minutes", win = "5 minutes"))
    val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byKey(("2024-01-01 10:00:00.0", "view")) == ((2L, 3.0)))
    assert(byKey(("2024-01-01 10:05:00.0", "buy")) == ((1L, 5.0)))
  }

  test("watermark drops events later than the horizon") {
    val rows = run(
      Seq(
        Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"), Ev(2, ts(30), 1, "view", 1.0, "{}")), // advance wm to 10:20
        Seq(Ev(3, ts(1), 1, "view", 100.0, "{}"))), // 29 min late > 10 min watermark → dropped
      df => EventStream.windowedCounts(df, watermark = "10 minutes", win = "5 minutes"))
    val w0 = rows.filter(r => r.getTimestamp(0).toString == "2024-01-01 10:00:00.0")
    assert(w0.map(_.getLong(2)).max == 1L, s"late event must not land: $rows")
  }

  test("session windows split on the gap") {
    val rows = run(
      Seq(Seq(
        Ev(1, ts(0), 7, "view", 1.0, "{}"),
        Ev(2, ts(10), 7, "view", 1.0, "{}"), // same session (gap 10 < 30)
        Ev(3, ts(50), 7, "view", 1.0, "{}"))), // new session
      df => EventStream.sessionWindows(df, watermark = "2 hours", gap = "30 minutes"),
      mode = "complete")
    assert(rows.length == 2)
    assert(rows.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming dedup keeps first occurrence within the watermark") {
    val rows = run(
      Seq(Seq(
        Ev(42, ts(0), 1, "view", 1.0, "{}"),
        Ev(42, ts(1), 1, "view", 1.0, "{}"),
        Ev(43, ts(2), 1, "view", 1.0, "{}"))),
      df => EventStream.dedupEvents(df).select("event_id", "ts", "user_id", "event_type", "value", "props"),
      mode = "append")
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(42L, 43L))
  }

  test("mapGroupsWithState accumulates per-user totals across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"ua_${System.nanoTime()}"
    val q = EventStream.userActivity(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      mem.addData(Ev(1, ts(0), 1, "v", 2.0, "{}"), Ev(2, ts(1), 1, "v", 3.0, "{}"))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(2), 1, "v", 5.0, "{}"))
      q.processAllAvailable()
      val last = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 1L).maxBy(_._2)
      assert(last == ((1L, 3L, 10.0)))
    } finally q.stop()
  }

  test("file-drop source: readEvents streams the parquet fixture through windowed counts") {
    val dropDir = java.nio.file.Files.createTempDirectory("graft-drop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dropDir.resolve("events.parquet"))
    val name = s"filewin_${System.nanoTime()}"
    val q = EventStream.windowedCounts(
      EventStream.readEvents(spark, dropDir.toString),
      watermark = "10 minutes", win = "1 hour")
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      q.processAllAvailable()
      val rows = spark.table(name)
      val total = rows.agg(org.apache.spark.sql.functions.sum("n_events")).head().getLong(0)
      assert(total == 1000L, s"all fixture events must land in windows, got $total")
    } finally q.stop()
  }

  test("dedup against an existing corpus keeps only unseen fingerprints") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" < 250)
    val fresh = graft.operators.Dedup.againstCorpus(docs, corpus)
    // everything in the corpus half must be dropped; the other half
    // survives unless it fingerprint-collides with the corpus
    assert(fresh.filter($"doc_id" < 250).count() == 0)
    val survivors = fresh.count()
    assert(survivors > 200 && survivors <= 250, s"got $survivors")
  }

  test("stream-stream join pairs purchases with same-user views inside the hour") {
    val rows = run(
      Seq(Seq(
        Ev(1, ts(0), 1, "view", 0.0, "{}"),      // inside the hour → joins
        Ev(2, ts(20), 1, "view", 0.0, "{}"),     // inside → joins
        Ev(3, ts(25), 2, "view", 0.0, "{}"),     // other user → no
        Ev(4, ts(30), 1, "purchase", 9.0, "{}"),
        Ev(5, ts(31), 1, "click", 0.0, "{}"))),  // not a view → no
      df => EventStream.purchaseViewJoin(df),
      mode = "append")
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSet == Set((4L, 1L), (4L, 2L)))
    assert(rows.forall(_.getDouble(5) == 9.0))
  }

  test("dedup-ingest: cross-batch and within-batch duplicates are dropped; replay is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft-ingest")
    val sink = new graft.sinks.NdjsonDirSink(out.toString + "/docs", chunkSize = 10)
    val store = out.toString + "/fps"
    def doc(id: Int, content: String) = (id.toString, id.toString, "own", content)
    def df(rows: Seq[(String, String, String, String)]) =
      rows.toDF("id", "txn_id", "owner", "content")
    // batch 0: 3 docs, 2 sharing content → 2 fresh
    val b0 = df(Seq(doc(1, "alpha beta"), doc(2, "alpha beta"), doc(3, "gamma delta")))
    assert(graft.streaming.DocStream.processBatch(b0, store, sink, 0) == 2)
    // batch 1: repeats batch-0 content + 1 new → 1 fresh
    val b1 = df(Seq(doc(4, "alpha beta"), doc(5, "epsilon zeta")))
    assert(graft.streaming.DocStream.processBatch(b1, store, sink, 1) == 1)
    // replay of batch 1 (at-least-once): everything already stored → 0,
    // and the batch's previously written output MUST survive (an
    // unconditional writeBatch would overwrite batch=1 with nothing)
    assert(graft.streaming.DocStream.processBatch(b1, store, sink, 1) == 0)
    def lines(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.getName.endsWith(".json"))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    }
    assert(lines(s"$out/docs/batch=1").size == 1, "replay must not erase batch output")
    assert(lines(s"$out/docs/batch=0").size == 2)
  }

  test("dedup-ingest: a crashed half-commit is invisible — replay recomputes the whole batch") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft-ingest-crash")
    val sink = new graft.sinks.NdjsonDirSink(out.toString + "/docs", chunkSize = 10)
    val store = out.toString + "/fps"
    def df(rows: Seq[(String, String, String, String)]) =
      rows.toDF("id", "txn_id", "owner", "content")
    val b0 = df(Seq(("1", "1", "own", "alpha beta"), ("2", "2", "own", "gamma delta")))
    assert(graft.streaming.DocStream.processBatch(b0, store, sink, 0) == 2)
    // simulate a crash mid-commit of batch 1: fps landed in the hidden
    // tmp dir but the publish rename never ran
    val b1 = df(Seq(("3", "3", "own", "epsilon zeta"), ("4", "4", "own", "eta theta")))
    Seq("deadbeef").toDF("fp").write.parquet(store + "/.tmp-batch=1")
    // replay: the store shows NONE of batch 1's fps (hidden dir is
    // ignored), so the whole batch is recomputed and republished —
    // no silent partial drop
    assert(graft.streaming.DocStream.processBatch(b1, store, sink, 1) == 2)
    val committed = new java.io.File(store).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).filterNot(_.startsWith("_")).toSeq
    assert(committed.sorted == Seq("batch=0-v1", "batch=1-v1"), committed)
  }

  test("foreachBatch bridges the stream into the batch DocSink across batches") {
    implicit val sq = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt")
    val sink = new graft.sinks.NdjsonDirSink(out.toString + "/docs", chunkSize = 10)
    val mem = MemoryStream[Ev]
    val q = EventStream.toDocSink(mem.toDF(), sink, ckpt.toString)
    try {
      mem.addData((1 to 25).map(i => Ev(i.toLong, ts(i % 60), 1, "view", 1.0, s"""{"k":$i}""")): _*)
      q.processAllAvailable()
      mem.addData((26 to 40).map(i => Ev(i.toLong, ts(i % 60), 1, "view", 1.0, s"""{"k":$i}""")): _*)
      q.processAllAvailable()
      def jsonFiles(dir: java.io.File): Seq[java.io.File] = {
        val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile).filter(_.getName.endsWith(".json")) ++
          kids.filter(_.isDirectory).flatMap(jsonFiles)
      }
      val files = jsonFiles(new java.io.File(out.toString + "/docs"))
      assert(files.nonEmpty)
      // BOTH micro-batches persist (each batch lands in its own
      // batch=<id> subdirectory; a shared overwrite dir would keep only
      // the last batch's 15 rows)
      val lines = files.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      assert(lines.length == 40, s"expected 25+15 rows, got ${lines.length}")
      assert(files.forall(f => scala.io.Source.fromFile(f).getLines().size <= 10))
      // checkpoint advanced monotonically across batches (max id "9")
      assert(sink.checkpoint().contains("9"))
      // each micro-batch is read from the source once: the empty probe,
      // the sink's range-sampling pass and the write share one pin
      val read = q.recentProgress.map(_.numInputRows).sum
      assert(read == 40L, s"the source must be read once per batch: $read rows read for 40 added")
    } finally q.stop()
  }
}
