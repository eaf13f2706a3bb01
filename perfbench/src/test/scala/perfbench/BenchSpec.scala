package perfbench

import graft.operators.ReindexJob
import graft.sinks.{BatchedUpsertSink, HttpUpdateTransport}
import graft.sources.{KvAuthorityStore, ParquetDocSource, RespKvTransport}
import graft.config.ReindexConfig
import graft.util.Lockfile
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The benchmark's own guarantees: deterministic inputs, exact stub
  * counters, and output checks that catch a corrupted output.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.GraftSession.get(2)
  private val tmp: Path = Files.createTempDirectory("perfbench-spec")

  override def afterAll(): Unit = { spark.stop(); Fs.deleteTree(tmp) }

  private def partBytes(dir: Path): Seq[Seq[Byte]] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toSeq)
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString.take(10)) // part-NNNNN, before the job uuid
      .map(p => Files.readAllBytes(p).toSeq)

  test("the same seed produces identical corpus bytes; another seed does not") {
    val dirs = Seq(("a", 7L), ("b", 7L), ("c", 8L)).map { case (n, seed) =>
      val d = tmp.resolve(s"corpus-$n"); Corpus(seed, 2000).writeTo(spark, d); d
    }
    assert(partBytes(dirs(0)).nonEmpty)
    assert(partBytes(dirs(0)) == partBytes(dirs(1)))
    assert(partBytes(dirs(0)) != partBytes(dirs(2)))
  }

  test("the corpus plants malformed records and owners without authority") {
    val c = Corpus(11L, 5000)
    val e = c.expected
    assert(e.malformed > 20 && e.malformed < 90, e.malformed)
    assert(e.goodIds.size + e.malformed == 5000)
    val owners = e.ownerOf.values.asScala.toSet
    assert(owners.exists(o => !e.authority.contains(o)))
    assert(owners.exists(e.authority.contains))
    val bad = (0L until 5000L).map(c.row).count(r => graft.functions.ArgotFlatten.flattenEither(r._3).isLeft)
    assert(bad == e.malformed)
  }

  test("stub counters are exact") {
    val t = new Tracer(None)
    val resp = new RespStub(Map("a" -> "1", "b" -> "2"), t)
    val solr = new SolrStub(t)
    try {
      val kv = new RespKvTransport(resp.url)
      assert(kv.ping().isRight)
      assert(kv.mget(Seq("a", "x")) == Seq(Some("1"), None))
      assert(kv.mget(Seq("b", "a", "b")) == Seq(Some("2"), Some("1"), Some("2")))
      kv.close()
      assert(resp.mgetCalls.get == 2 && resp.keys.get == 5 && resp.connections.get == 2)

      val http = new HttpUpdateTransport(solr.url)
      val docs = (1 to 5).map(i => s"d$i" -> s"""{"id":"d$i","owner":"o","authority":null}""")
      http.send(docs.take(3))
      http.send(docs.drop(3))
      assert(solr.posts.get == 2)
      assert(solr.docs.asScala.map(_.id).toSeq.sorted == docs.map(_._1))
      assert(solr.bytes.get == docs.take(3).map(_._2).mkString("\n").length +
        docs.drop(3).map(_._2).mkString("\n").length)
      assert(solr.errors.get == 0 && solr.maxInFlight.get == 1)
    } finally { resp.close(); solr.close() }
  }

  test("a reindex of a tiny corpus through both stubs passes the solr check") {
    val c = Corpus(3L, 1500)
    val dir = tmp.resolve("tiny"); c.writeTo(spark, dir)
    val t = new Tracer(None)
    val resp = new RespStub(Corpus.authorities(c.seed), t)
    val solr = new SolrStub(t)
    try {
      val conf = ReindexConfig(password = "x", solrUrl = solr.url, chunkSize = 100, redisUrl = resp.url)
      val res = ReindexJob.run(spark, conf, new ParquetDocSource(dir.toString),
        new BatchedUpsertSink(new HttpUpdateTransport(solr.url), 100),
        new Lockfile(tmp.resolve("tiny.lock")), None,
        Some(new KvAuthorityStore(new RespKvTransport(resp.url))))
      assert(Checks.solr(c.expected, res.toOption.get, solr.docs.asScala.toSeq) == Nil)
      assert(solr.docs.size == c.expected.goodIds.size)
      assert(resp.keys.get > 0 && resp.mgetCalls.get >= 1)
    } finally { resp.close(); solr.close() }
  }

  // --- output checks catch corrupted outputs -------------------------

  private val c = Corpus(5L, 400)
  private lazy val exp = c.expected
  private lazy val good: Seq[Received] = exp.goodIds.toSeq.sorted.map { id =>
    val o = exp.ownerOf.get(id); Received(id, o, exp.authority.get(o).orNull)
  }
  private lazy val ok = ReindexJob.Result(exp.goodIds.size.toLong, exp.malformed, Nil, Some(exp.maxId))

  test("the solr check fails on a dropped doc, a duplicated id, a wrong checkpoint or authority") {
    assert(Checks.solr(exp, ok, good) == Nil)
    assert(Checks.solr(exp, ok, good.tail).exists(_.contains("missing")))
    assert(Checks.solr(exp, ok, good :+ good.head).exists(_.contains("duplicated")))
    assert(Checks.solr(exp, ok.copy(checkpoint = Some(good.head.id)), good).exists(_.contains("checkpoint")))
    assert(Checks.solr(exp, ok.copy(softErrors = 0), good).exists(_.contains("softErrors")))
    val withAuth = good.indexWhere(_.authority != null)
    assert(Checks.solr(exp, ok, good.updated(withAuth, good(withAuth).copy(authority = null)))
      .exists(_.contains("authority")))
  }

  private def files(name: String, chunks: Seq[Seq[String]]): Checks.FileOutput = {
    val d = tmp.resolve(name); Files.createDirectories(d)
    chunks.zipWithIndex.foreach { case (ids, i) =>
      Files.write(d.resolve(f"part-$i%05d-x.json"), ids.map(id => s"""{"id":"$id","flat":{}}""").asJava)
    }
    Checks.readBack(d)
  }

  test("the files check fails on a dropped doc, a duplicated id, a wrong checkpoint, a big or unsorted file") {
    val ids = good.map(_.id)
    val chunk = 100
    assert(Checks.files(exp, ok, files("f-ok", ids.grouped(chunk).toSeq), chunk) == Nil)
    assert(Checks.files(exp, ok, files("f-drop", ids.tail.grouped(chunk).toSeq), chunk)
      .exists(_.contains("missing")))
    assert(Checks.files(exp, ok, files("f-dup", (ids :+ ids.last).grouped(chunk).toSeq), chunk)
      .exists(_.contains("duplicated")))
    assert(Checks.files(exp, ok.copy(checkpoint = Some(ids.head)), files("f-ck", ids.grouped(chunk).toSeq), chunk)
      .exists(_.contains("checkpoint")))
    assert(Checks.files(exp, ok, files("f-big", ids.grouped(chunk + 1).toSeq), chunk)
      .exists(_.contains("chunkSize")))
    assert(Checks.files(exp, ok, files("f-sort", ids.reverse.grouped(chunk).toSeq), chunk)
      .exists(_.contains("sorted")))
  }

  test("the registry hash ignores row order and partitioning but catches a changed row") {
    import spark.implicits._
    def hash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      df.write.format(HashSink.Format).mode("overwrite").option("key", "t").save()
      HashSink.take("t")
    }
    val rows = (1 to 50).map(i => (i, s"v$i", i * 0.1, Map("k" -> i)))
    val a = hash(rows.toDF("i", "s", "d", "m").repartition(1))
    val b = hash(rows.reverse.toDF("i", "s", "d", "m").repartition(3))
    val changed = hash(rows.updated(7, (8, "v8!", 0.8, Map("k" -> 8))).toDF("i", "s", "d", "m"))
    val dropped = hash(rows.tail.toDF("i", "s", "d", "m"))
    assert(a == b)
    assert(Checks.registry("t", Some(a), b) == Nil)
    assert(Checks.registry("t", Some(a), changed).nonEmpty)
    assert(Checks.registry("t", Some(a), dropped).nonEmpty)
  }
}
