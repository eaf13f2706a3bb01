package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder.  `span` wraps a call made by the benchmark
  * on the calling thread; stubs and the Spark listener `record` spans
  * parented to the innermost open call (`current`).  Jobs learn their
  * parent through the `perfbench.span` local property, which Spark copies
  * into each job's properties.  When `on` is false nothing is recorded
  * and `span` runs its body bare.
  */
final class Tracer(sc: Option[SparkContext]) {
  @volatile var on = false
  @volatile var current = 0L
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  def nextId(): Long = ids.incrementAndGet()
  def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  def record(name: String, parent: Long, startNs: Long, endNs: Long, id: Long = 0L): Unit =
    if (on) spans.add(Span(if (id == 0L) nextId() else id, parent, name, startNs, endNs))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val parent = current
      current = id
      sc.foreach(_.setLocalProperty(Tracer.Property, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        record(name, parent, t0, System.nanoTime(), id)
        current = parent
        sc.foreach(_.setLocalProperty(Tracer.Property, if (parent == 0L) null else parent.toString))
      }
    }

  /** Self time per span name: each span's duration minus the part of
    * it covered by the union of its children's intervals.
    */
  def selfSeconds(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupMapReduce(_.name) { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (a, b) =>
        if (a > hi) { covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
      }
      covered += hi - lo
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  /** Write every span as one JSON object per line. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs - originNs},"end_ns":${s.endNs - originNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  val Property = "perfbench.span"
}

/** Spark-side counters and spans: every job and stage becomes a span
  * parented to the benchmark call that started it, and task metrics are
  * summed into the counters below.  Job wall time is also summed per
  * call site (`site`), so a per-layer report can say which of a
  * pipeline's jobs took the time.
  */
final class SparkTrace(tracer: Tracer, site: (String, Boolean) => String) extends SparkListener {
  import SparkTrace.Job
  val jobs, stages, tasks, shuffleWriteBytes, spillBytes, executorCpuNs, gcMs, recordsRead =
    new AtomicLong(0L)
  val siteMs = new ConcurrentHashMap[String, AtomicLong]()

  private val open = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var lastCallSite = ""

  def reset(): Unit = {
    Seq(jobs, stages, tasks, shuffleWriteBytes, spillBytes, executorCpuNs, gcMs, recordsRead)
      .foreach(_.set(0L))
    siteMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) {
    jobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toLong).getOrElse(0L)
    // jobs that adaptive execution submits from its own threads carry
    // that thread's call site; they serve the last caller-side job's site
    val name = e.stageInfos.maxBy(_.stageId).name
    if (!name.contains("CompletableFuture")) lastCallSite = name
    e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
    open.put(e.jobId, Job(tracer.nextId(), parent, e.time, lastCallSite,
      e.stageInfos.exists(_.parentIds.nonEmpty), new AtomicLong(0L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(open.remove(e.jobId)).foreach { j =>
    val s = site(j.name, j.hasParentStage || j.shuffleWrite.get > 0)
    siteMs.computeIfAbsent(s, _ => new AtomicLong(0L)).addAndGet(e.time - j.startMs)
    tracer.record("spark.job", j.parent, tracer.msToNs(j.startMs), tracer.msToNs(e.time), j.spanId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracer.on) {
    stages.incrementAndGet()
    val info = e.stageInfo
    val parent = Option(open.get(stageJob.getOrDefault(info.stageId, -1))).map(_.spanId).getOrElse(0L)
    for (a <- info.submissionTime; b <- info.completionTime)
      tracer.record("spark.stage", parent, tracer.msToNs(a), tracer.msToNs(b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.on) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val w = m.shuffleWriteMetrics.bytesWritten
      shuffleWriteBytes.addAndGet(w)
      Option(open.get(stageJob.getOrDefault(e.stageId, -1))).foreach(_.shuffleWrite.addAndGet(w))
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      executorCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
    ()
  }
}

object SparkTrace {
  private final case class Job(spanId: Long, parent: Long, startMs: Long, name: String,
                               hasParentStage: Boolean, shuffleWrite: AtomicLong)

  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus` is private to Spark, hence the reflection.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
