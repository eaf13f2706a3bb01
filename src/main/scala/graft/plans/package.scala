package graft.plans

import org.apache.spark.sql.SparkSession

/** Registration helper for sessions that already exist (tests, REPLs —
  * `withExtensions` only applies at session construction).  Registers
  * the same table as [[GraftExtensions]].
  */
object RegisterFunctions {
  def apply(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}
