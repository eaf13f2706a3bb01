package graft

import graft.util.Harness

/** Dump `explain("formatted")` for named queries (or the whole
  * registry) into `<outDir>/<query>_<tag>.txt`, without forcing them
  * (building a query still runs its pins).  The executed plans' shape
  * and the per-query jobs, stages, tasks and CPU time are in Bench's
  * `bench_detail.json`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    names.foreach { name =>
      val planTxt =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"), planTxt.getBytes("UTF-8"))
      // building a query can pin frames (Pins.eager)
      Harness.release(spark)
    }
    spark.stop()
  }
}
