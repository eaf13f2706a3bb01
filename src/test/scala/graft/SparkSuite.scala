package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession — suites
  * run in a single forked JVM, so getOrCreate dedupes).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** The messages logged at WARN or above while `body` runs, with the
    * root logger at WARN for the duration.
    */
  protected def warnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("spec-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { seen.add(e.getMessage.getFormattedMessage); () }
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val level = root.getLevel
    root.addAppender(capture, Level.WARN, null)
    Configurator.setRootLevel(Level.WARN)
    try body
    finally {
      Configurator.setRootLevel(level)
      root.removeAppender("spec-capture")
      ctx.updateLoggers()
      capture.stop()
    }
    seen.asScala.toSeq
  }

  /** File scans in a plan (AQE-unwrapped) — the plan-pin staple. */
  protected def planScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    graft.util.Harness.planNodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
}
