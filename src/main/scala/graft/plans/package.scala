package graft.plans

import org.apache.spark.sql.SparkSession

/** Registration helper for sessions that already exist (tests, REPLs —
  * `withExtensions` only applies at session construction).  Registers
  * the same table as [[GraftExtensions]], each name only when the
  * session does not know it yet: a session built with the extensions
  * already has them all, and re-registering one makes Spark warn that
  * it replaced a registered function.
  */
object RegisterFunctions {
  def apply(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
