package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Deterministic per-record soft-error reporting (reference O11).
  *
  * The reference funnels worker errors through a capacity-300 channel
  * drained by a logging goroutine, then pops at most ONE error after
  * the WaitGroup barrier — errors are lossy and the exit code never
  * reflects them (driver.go:79-83,160,171,215-219; bug B10).
  *
  * Spark-native replacement: a LongAccumulator counts every soft
  * failure exactly once per *successful* task (Spark's accumulator
  * guarantee for actions), and a bounded CollectionAccumulator keeps
  * the first N error samples for diagnostics.  Hard failures stay what
  * they should be: task retry then job abort.
  */
final class ErrorCollector private (
    val errorCount: LongAccumulator,
    val samples: CollectionAccumulator[String],
    maxSamples: Int) extends Serializable {

  /** Record a soft error from inside a task.  The sample check sees
    * only this task's copy of the accumulator, so it bounds each task;
    * [[report]] applies the cap to the merged samples.
    */
  def record(context: String, e: Throwable): Unit = {
    errorCount.add(1L)
    if (samples.value.size < maxSamples)
      samples.add(s"$context: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** Guard a per-record computation: None + recorded error on failure. */
  def guard[T](context: String)(body: => T): Option[T] =
    try Some(body)
    catch { case scala.util.control.NonFatal(e) => record(context, e); None }

  def count: Long = errorCount.value
  def report: Seq[String] = {
    import scala.jdk.CollectionConverters._
    samples.value.asScala.take(maxSamples).toSeq
  }
}

object ErrorCollector {
  /** maxSamples mirrors the reference's 300-slot error channel. */
  def apply(sc: SparkContext, name: String = "graft-errors", maxSamples: Int = 300): ErrorCollector = {
    val count = sc.longAccumulator(s"$name-count")
    val samp = sc.collectionAccumulator[String](s"$name-samples")
    new ErrorCollector(count, samp, maxSamples)
  }
}
