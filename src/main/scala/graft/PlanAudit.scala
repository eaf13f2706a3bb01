package graft

import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan audit over every registered query: verifies the
  * plan properties that matter at 100 TB and prints one line per
  * query — parquet filter pushdown, scan column pruning, broadcast
  * vs shuffle join mix, shuffle (Exchange) count, and whole-stage
  * codegen coverage.  Run with an sf dir argument (default sf0.001).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    // With AQE on, WholeStageCodegen is only inserted per-stage at
    // execution time, so the pre-execution plan always showed
    // codegenSpans=0 — a dead metric. The audit inspects the
    // non-adaptive physical plan instead: same join/exchange/pushdown
    // properties, plus real codegen spans. (Queries still EXECUTE
    // with AQE in Bench/Verify; this only changes what's inspected.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        val nodes = graft.util.Harness.planNodes(plan)
        val names = nodes.map(_.nodeName)
        val scans = nodes.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        val pushed = scans.map(s =>
          s.metadata.getOrElse("PushedFilters", "[]")).mkString("|")
        val readCols = scans.map(_.requiredSchema.fieldNames.length).mkString(",")
        val broadcasts = names.count(_.contains("BroadcastHashJoin")) +
          names.count(_.contains("BroadcastNestedLoopJoin"))
        val smj = names.count(_.contains("SortMergeJoin"))
        val shj = names.count(_.contains("ShuffledHashJoin"))
        val shuffles = nodes.count(_.isInstanceOf[Exchange])
        val wsc = names.count(_.startsWith("WholeStageCodegen"))
        println(s"AUDIT $name scans=${scans.size} readCols=[$readCols] pushed=$pushed " +
          s"bcastJoin=$broadcasts smj=$smj shj=$shj shuffles=$shuffles codegenSpans=$wsc")
      } catch {
        case e: Throwable => println(s"AUDIT $name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
