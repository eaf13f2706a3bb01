package graft

import graft.sinks.{BatchedUpsertSink, NdjsonDirSink, UpdateTransport}
import graft.operators.Reindex
import graft.sources.NdjsonDocSource
import graft.util.Harness.planNodes
import graft.functions.DocJson
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Chunked sink invariants (O6/O4/O9): ≤ chunkSize records per file,
  * no empty trailing chunk (B8), explicit NDJSON records (B6),
  * checkpoint = max id, inclusive resume (B4) equivalence.
  */
class ChunkSinkSpec extends SparkSuite {
  import spark.implicits._

  private def docsDf = Reindex.scanSlice(spark, sf) // 500 docs, 4 cols

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def jsonFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".json")).toSeq

  test("ndjson sink: every chunk file has 1..chunkSize records, total preserved") {
    val out = tmp("graft-chunks")
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 64)
    val written = sink.write(docsDf)
    assert(written == 500)
    val sizes = jsonFiles(out.resolve("out")).map(f => Files.readAllLines(f).size)
    assert(sizes.sum == 500)
    assert(sizes.forall(s => s >= 1 && s <= 64), s"bad chunk sizes: $sizes")
  }

  test("ndjson sink: exact multiple of chunkSize leaves no empty chunk (B8)") {
    val out = tmp("graft-exact")
    val df = docsDf.limit(100) // 100 = 4 chunks of 25 exactly
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 25)
    sink.write(df)
    val sizes = jsonFiles(out.resolve("out")).map(f => Files.readAllLines(f).size)
    assert(sizes.sum == 100)
    assert(sizes.forall(_ > 0), s"empty chunk emitted: $sizes")
  }

  test("ndjson sink: records are well-formed one-per-line JSON (B6) and round-trip") {
    val out = tmp("graft-ndjson")
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 200)
    sink.write(docsDf)
    val back = new NdjsonDocSource(out.toString + "/out").load(spark)
      .select(docsDf.columns.map(col): _*)
    assert(back.count() == 500)
    // round-trip equality on the full 4-column payload
    assert(back.except(docsDf).count() == 0 && docsDf.except(back).count() == 0)
  }

  test("checkpoint is the asciibetical max id") {
    val out = tmp("graft-ckpt")
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 100)
    sink.write(docsDf)
    // 500 docs, ids "0".."499" → asciibetical max is "99"
    assert(sink.checkpoint().contains("99"))
  }

  test("inclusive resume from a checkpoint re-covers exactly the remaining ids (B4)") {
    val all = docsDf.select("id").as[String].collect().toSet
    val resumed = Reindex.scanSlice(spark, sf, startId = "3")
      .select("id").as[String].collect().toSet
    assert(resumed == all.filter(_ >= "3"))
    assert(resumed.contains("3")) // inclusive: checkpoint doc reprocessed
  }

  test("batched upsert sink: batch sizes honor chunkSize, all ids delivered once") {
    BatchCollector.reset()
    val sink = new BatchedUpsertSink(BatchCollector, chunkSize = 64)
    val n = sink.write(docsDf)
    assert(n == 500)
    val sizes = BatchCollector.sizes()
    assert(sizes.forall(s => s >= 1 && s <= 64))
    assert(sizes.sum == 500)
    assert(BatchCollector.ids().distinct.size == 500)
    assert(sink.checkpoint().contains("99"))
  }

  test("batched upsert sink: an empty frame writes 0, has no checkpoint and sends nothing") {
    BatchCollector.reset()
    val sink = new BatchedUpsertSink(BatchCollector, chunkSize = 64)
    assert(sink.write(docsDf.filter(col("id") === "no such id")) == 0)
    assert(sink.checkpoint().isEmpty)
    assert(BatchCollector.sizes().isEmpty)
  }

  test("batched upsert sink: the JSON is built above the range exchange, once per doc") {
    // below the exchange, the range partitioner's sampling pass would
    // serialize every doc and the write would serialize it again
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        if (func == "foreachPartition") plans.add(qe.executedPlan)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BatchCollector.reset()
      assert(new BatchedUpsertSink(BatchCollector, chunkSize = 64).write(docsDf) == 500)
      graft.util.Harness.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one foreachPartition action, saw ${plans.size}")
    val ranges = planNodes(plans.peek).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.size == 1, "the sink orders through one range exchange")
    def isDocJson(e: Expression): Boolean = e.isInstanceOf[DocJson]
    val below = planNodes(ranges.head.child).filter(_.expressions.exists(_.exists(isDocJson)))
    assert(below.isEmpty, s"DocJson below the range exchange: ${below.map(_.nodeName)}")
    assert(planNodes(plans.peek).exists(_.expressions.exists(_.exists(isDocJson))),
      "the plan serializes the docs somewhere")
  }

  test("sink accounting is single-pass: count/checkpoint do not re-execute the input") {
    // Count upstream evaluations per row.  The range partitioner's
    // sampling pass reads every input row once, the write/delivery
    // pass reads it again → exactly 2 evaluations per row.  The old
    // post-write df.agg re-execution made it 3.
    def metered(acc: org.apache.spark.util.LongAccumulator) =
      docsDf.filter(length(col("id")) < 3) // ids "0".."99": deterministic 100 rows
        .as[(String, String, String, String)]
        .map { t => acc.add(1); t }
        .toDF("id", "txn_id", "owner", "content")

    val a1 = spark.sparkContext.longAccumulator("evals-dir")
    val out = tmp("graft-onepass")
    val dirSink = new NdjsonDirSink(out.toString + "/out", chunkSize = 50)
    assert(dirSink.write(metered(a1)) == 100)
    assert(dirSink.checkpoint().contains("99"))
    assert(a1.value <= 200L, s"input evaluated ${a1.value / 100.0}x; expected ≤2x")

    val a2 = spark.sparkContext.longAccumulator("evals-upsert")
    BatchCollector.reset()
    val upsert = new BatchedUpsertSink(BatchCollector, chunkSize = 50)
    assert(upsert.write(metered(a2)) == 100)
    assert(upsert.checkpoint().contains("99"))
    assert(a2.value <= 200L, s"input evaluated ${a2.value / 100.0}x; expected ≤2x")
  }

  test("reindex diff: source minus sink (anti join)") {
    val source = docsDf
    val sunk = docsDf.filter(col("id") < "3")
    val missing = Reindex.diff(source, sunk)
    assert(missing.count() == source.count() - sunk.count())
  }
}

/** Serializable batch collector for the upsert transport (object =
  * per-JVM singleton, fine in local-mode tests).
  */
object BatchCollector extends UpdateTransport {
  import scala.jdk.CollectionConverters._
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
  def reset(): Unit = batches.clear()
  override def send(batch: Seq[(String, String)]): Unit = batches.add(batch)
  def sizes(): Seq[Int] = batches.asScala.map(_.size).toSeq
  def ids(): Seq[String] = batches.asScala.flatMap(_.map(_._1)).toSeq
  def docs(): Seq[(String, String)] = batches.asScala.flatten.toSeq
}
