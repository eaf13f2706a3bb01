package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming-tier smoke entry: feeds two micro-batches through the
  * windowed-count pipeline and prints the materialized windows —
  * a driveable surface for the streaming operators (the batch
  * operators' surface is Verify/Bench).
  */
object StreamSmoke {
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("smoke_windows").outputMode("update").start()
    mem.addData(
      Ev(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(2, Timestamp.valueOf("2024-01-01 10:02:00"), 1, "view", 2.0, "{}"),
      Ev(3, Timestamp.valueOf("2024-01-01 10:07:00"), 2, "buy", 5.0, "{}"))
    q.processAllAvailable()
    mem.addData(Ev(4, Timestamp.valueOf("2024-01-01 10:08:00"), 2, "buy", 7.0, "{}"))
    q.processAllAvailable()
    spark.table("smoke_windows").orderBy("win_start", "event_type")
      .collect().foreach(r => println(s"STREAM_WINDOW $r"))
    q.stop()

    // dedup-on-ingest path: two batches with overlapping content
    def doc(id: Int, content: String) = (id.toString, id.toString, "own", content)
    val b0 = Seq(doc(1, "alpha beta"), doc(2, "alpha beta"), doc(3, "gamma"))
      .toDF("id", "txn_id", "owner", "content")
    val b1 = Seq(doc(4, "gamma"), doc(5, "delta"))
      .toDF("id", "txn_id", "owner", "content")
    graft.util.Fs.withTempDir("smoke-ingest") { out =>
      val sink = new graft.sinks.NdjsonDirSink(s"$out/docs", chunkSize = 10)
      val w0 = graft.streaming.DocStream.processBatch(b0, s"$out/fps", sink, 0)
      val w1 = graft.streaming.DocStream.processBatch(b1, s"$out/fps", sink, 1)
      println(s"STREAM_INGEST batch0=$w0 batch1=$w1") // expect 2 and 1
    }

    spark.stop()
  }
}
