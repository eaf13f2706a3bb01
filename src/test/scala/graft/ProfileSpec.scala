package graft

import graft.util.Harness
import graft.util.Harness.planNodes
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.reflect.ClassTag

/** Bench's per-query profile: the `io` entry it writes reads the
  * executed plan that `Harness.executedPlans` captures.
  */
class ProfileSpec extends SparkSuite {

  test("Bench profile: plan fields and jobs match a direct count of the executed plan") {
    val dir = Files.createTempDirectory("graft-profile").resolve("t").toString
    spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS k", "id AS v").write.parquet(dir)
    // one shuffle aggregate, broadcast-joined to itself: the broadcast
    // side reuses the aggregate's exchange
    def force(): Unit = {
      val agg = spark.read.parquet(dir).groupBy("k").agg(sum("v").as("s"))
      agg.as("l").join(broadcast(agg.as("r")), col("l.k") === col("r.k"))
        .write.format("noop").mode("overwrite").save()
    }
    val ((), ran) = Harness.executedPlans(spark)(force())
    val joined = ran.map(_._2).filter(p => planNodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(joined.size == 1, s"one executed plan holds the join: ${ran.map(_._1)}")
    val nodes = planNodes(joined.head)
    def count[T](implicit t: ClassTag[T]): Int = nodes.count(t.runtimeClass.isInstance)
    val direct = Map("shuffles" -> count[Exchange], "reusedExchanges" -> count[ReusedExchangeExec],
      "bcastJoin" -> count[BroadcastHashJoinExec], "scans" -> count[FileSourceScanExec])
    assert(direct == Map("shuffles" -> 2, "reusedExchanges" -> 1, "bcastJoin" -> 1, "scans" -> 1),
      "the frame's known shape: shuffle + broadcast exchange, one reused, one scan")

    val c = Harness.counters(spark)
    try {
      val rep = Bench.timedRep(spark, c)(force())
      val io = Bench.ioEntry(Seq(Seq(rep)))
      def field(k: String): Long = ("\"" + k + "\":(\\d+)").r.findFirstMatchIn(io)
        .map(_.group(1).toLong).getOrElse(fail(s"$k missing from $io"))
      for ((k, v) <- direct) assert(field(k) == v, s"$k in $io")
      val jobs = """"jobs":\[\[(\d+)\]\]""".r.findFirstMatchIn(io).map(_.group(1).toLong)
      assert(jobs.exists(_ >= 1), io)
      Seq("recordsRead", "shuffleBytes", "stages", "tasks", "cpuMs", "gcMs", "smj", "shj", "codegenSpans")
        .foreach(field)
      assert(io.contains(""""readCols":[2]"""), io)

      val failed = Bench.timedRep(spark, c)(throw new IllegalStateException("boom"))
      assert(failed.err.contains("boom"))
      assert(Bench.ioEntry(Seq(Seq(rep, failed))).contains(s""""jobs":[[${rep.counts.jobs}]]"""),
        "jobs lists the successful reps, like runs")
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
