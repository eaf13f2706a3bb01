package graft

import graft.util.Harness

/** Optimization-round tooling: dump `explain("formatted")` for named
  * queries (or the whole registry) into `<outDir>/<query>_<tag>.txt`,
  * and print a one-line execution profile per query — wall seconds,
  * Spark job count, stage count, task count — so job-count regressions
  * and wins are measurable, not guessed.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [query ...]
  * Env: SPARK_GRAFT_PLANDUMP_EXEC=0 skips execution (plans only).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val exec = sys.env.getOrElse("SPARK_GRAFT_PLANDUMP_EXEC", "1") == "1"
    java.nio.file.Files.createDirectories(outDir)
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val c = Harness.counters(spark)
    Harness.warmUp(spark, sfDir)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"PROF $name UNKNOWN")
        case Some(fn) =>
          try {
            Harness.drainListenerBus(spark)
            val (j0, s0, t0) = (c.jobs.get, c.stages.get, c.tasks.get)
            val t = System.nanoTime()
            val df = fn(spark, sfDir)
            val planTxt =
              try df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              catch { case e: Throwable => s"explain failed: $e" }
            java.nio.file.Files.write(
              outDir.resolve(s"${name}_$tag.txt"),
              planTxt.getBytes("UTF-8"))
            if (exec)
              df.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t) / 1e9
            spark.catalog.clearCache()
            graft.util.Pins.releaseAll(spark)
            Harness.drainListenerBus(spark)
            println(f"PROF $name%-28s sec=$sec%7.2f jobs=${c.jobs.get - j0}%3d " +
              s"stages=${c.stages.get - s0} tasks=${c.tasks.get - t0}")
          } catch {
            case e: Throwable =>
              println(s"PROF $name ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
          }
      }
    }
    spark.stop()
  }
}
