package graft

import graft.config.ReindexConfig
import graft.operators.ReindexJob
import graft.sinks.NdjsonDirSink
import graft.sources.{InMemoryKvTransport, KvAuthorityStore, ParquetDocSource,
  RespKvTransport}
import graft.util.Lockfile
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** O8's external-store path (VERDICT r3 "Next round" #3): enrichment
  * through a KV transport, preflight ping, and the ReindexJob wiring —
  * with the RESP client exercised against a real in-process server
  * speaking the (public) Redis wire protocol.
  */
class AuthoritySpec extends SparkSuite {

  /** Minimal RESP2 server: answers PING, SELECT, and MGET from a fixed
    * map.  One thread per connection — Spark's local tasks each open
    * their own socket, like real Redis clients.
    */
  private final class FakeRedis(data: Map[String, String]) extends AutoCloseable {
    private val server = new java.net.ServerSocket(0)
    private val conns = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val port: Int = server.getLocalPort
    @volatile private var running = true
    private val acceptor = new Thread(() => {
      while (running)
        try {
          val s = server.accept()
          conns.add(s)
          new Thread(() => try serve(s) catch { case _: Exception => () }).start()
        } catch { case _: Exception => () }
    })
    acceptor.setDaemon(true); acceptor.start()

    private def serve(s: java.net.Socket): Unit = {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
      val out = new java.io.BufferedOutputStream(s.getOutputStream)
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        if (c < 0) return null
        while (c != '\r') { sb.append(c.toChar); c = in.read() }
        in.read(); sb.toString
      }
      var go = true
      while (go) {
        val head = line()
        if (head == null || !head.startsWith("*")) go = false
        else {
          val args = (0 until head.tail.toInt).map { _ =>
            val len = line().tail.toInt
            val buf = new Array[Byte](len)
            in.readFully(buf); in.read(); in.read()
            new String(buf, "UTF-8")
          }
          val reply = args.head.toUpperCase match {
            case "PING" => "+PONG\r\n"
            case "SELECT" => "+OK\r\n"
            case "MGET" =>
              args.tail.map(k => data.get(k) match {
                case Some(v) => s"$$${v.getBytes("UTF-8").length}\r\n$v\r\n"
                case None => "$-1\r\n"
              }).mkString(s"*${args.tail.length}\r\n", "", "")
            case other => s"-ERR unknown command '$other'\r\n"
          }
          out.write(reply.getBytes("UTF-8")); out.flush()
        }
      }
      s.close()
    }

    /** Close accepted connections but keep the server up — simulates a
      * server-side idle-timeout drop (the reconnect-retry scenario).
      */
    def dropConnections(): Unit = {
      conns.forEach(s => try s.close() catch { case _: Exception => () })
      conns.clear()
    }

    override def close(): Unit = {
      running = false; server.close()
      conns.forEach(s => try s.close() catch { case _: Exception => () })
    }
  }

  private val corpus = s"$sf/documents.parquet"
  private def jobConf = ReindexConfig(password = "pw", solrUrl = "http://x")

  test("kv store enriches through mapPartitions; unknown keys get NULL") {
    val docs = new ParquetDocSource(corpus).load(spark).limit(200)
    val owners = docs.select("owner").distinct().collect().map(_.getString(0))
    val known = owners.take(owners.length / 2)
    val store = new KvAuthorityStore(
      new InMemoryKvTransport(known.map(o => o -> s"auth:$o").toMap), batchSize = 16)
    val out = store.enrich(docs)
    assert(out.columns.last == "authority")
    assert(out.count() == 200) // left-enrichment: no docs dropped
    val byOwner = out.groupBy("owner")
      .agg(count(lit(1)).as("n"), count(col("authority")).as("hits"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    known.foreach(o => assert(byOwner(o)._1 == byOwner(o)._2, s"all $o docs enriched"))
    owners.diff(known).foreach(o => assert(byOwner(o)._2 == 0L, s"no $o doc enriched"))
  }

  test("RESP transport speaks the wire protocol end-to-end (ping + mget)") {
    val redis = new FakeRedis(Map("src0" -> "Authority Zero", "src1" -> "Authority One"))
    try {
      val t = new RespKvTransport(s"redis://localhost:${redis.port}/0")
      assert(t.ping().isRight)
      assert(t.mget(Seq("src0", "missing", "src1")) ==
        Seq(Some("Authority Zero"), None, Some("Authority One")))
      t.close()
      // and through a real distributed enrich: every task dials the server
      val docs = new ParquetDocSource(corpus).load(spark).limit(100).repartition(4)
      val store = new KvAuthorityStore(
        new RespKvTransport(s"redis://localhost:${redis.port}/0"), batchSize = 8)
      val hits = store.enrich(docs).filter(col("authority").isNotNull).count()
      val expect = docs.filter(col("owner").isin("src0", "src1")).count()
      assert(hits == expect && hits > 0)
    } finally redis.close()
  }

  test("ReindexJob with authorities=true enriches docs through to the sink") {
    import spark.implicits._
    val redis = new FakeRedis(Map("src0" -> "Authority Zero"))
    val out = Files.createTempDirectory("graft-auth")
    try {
      // flattenable (Argot-JSON) content so docs survive to the sink
      val jsonCorpus = out.toString + "/corpus.parquet"
      (0 until 300).map(i => (i.toString, s"src${i % 3}", s"""{"title":"doc $i"}"""))
        .toDF("doc_id", "source", "text").write.parquet(jsonCorpus)
      val store = new KvAuthorityStore(
        new RespKvTransport(s"redis://localhost:${redis.port}/0"))
      val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
      val r = ReindexJob.run(spark, jobConf, new ParquetDocSource(jsonCorpus), sink,
        Lockfile.default(out.toString), None, Some(store))
      assert(r.isRight, r)
      val written = spark.read.json(out.toString + "/docs")
      assert(written.columns.contains("authority"))
      val enriched = written.filter(col("authority") === "Authority Zero").count()
      assert(enriched == written.filter(col("owner") === "src0").count() && enriched > 0)
    } finally { redis.close(); () }
  }

  test("RESP transport transparently retries after a server-side idle drop") {
    val redis = new FakeRedis(Map("k" -> "v"))
    try {
      val t = new RespKvTransport(s"redis://localhost:${redis.port}/0")
      assert(t.mget(Seq("k")) == Seq(Some("v")))
      redis.dropConnections() // idle-timeout policy: server closes, stays up
      Thread.sleep(50)
      // stale socket fails (EOF or RST) → one reconnect+retry inside
      // mget, NOT a task-level failure
      assert(t.mget(Seq("k")) == Seq(Some("v")))
      t.close()
    } finally redis.close()
  }

  test("RESP transport fails cleanly on EOF instead of spinning") {
    val redis = new FakeRedis(Map("k" -> "v"))
    val t = new RespKvTransport(s"redis://localhost:${redis.port}/0")
    assert(t.mget(Seq("k")) == Seq(Some("v")))
    redis.close() // server gone: next read hits EOF
    Thread.sleep(50)
    intercept[java.io.IOException](t.mget(Seq("k")))
    t.close()
  }

  test("malformed redisUrl is a CONFIG error (validate Left), not a crash") {
    val base = ReindexConfig(password = "pw", solrUrl = "http://x")
    assert(base.validate.isRight) // default URL is well-formed
    assert(base.copy(redisUrl = "localhost:6379").validate.isLeft)  // no scheme
    assert(base.copy(redisUrl = "redis://h:6379/abc").validate.isLeft) // non-int db
    assert(base.copy(redisUrl = "redis://h:6379/-1").validate.isLeft)  // signed db
    assert(base.copy(redisUrl = "redis://h:6379/99999999999").validate.isLeft) // overflow
    // with authorities off the URL is unused and not validated
    assert(base.copy(authorities = false, redisUrl = "localhost:6379").validate.isRight)
    // and a malformed-URL transport constructs fine, failing via ping()
    assert(new RespKvTransport("localhost:6379").ping().isLeft)
  }

  test("authorities enabled but unwired, or store unreachable, refuses to start") {
    val out = Files.createTempDirectory("graft-auth2")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    // unwired
    val r1 = ReindexJob.run(spark, jobConf, new ParquetDocSource(corpus), sink,
      Lockfile.default(out.toString))
    assert(r1.left.exists(_.exists(_.contains("no authority store"))))
    // wired but dead: preflight ping fails, job refuses (exit-1 path)
    val dead = new KvAuthorityStore(new RespKvTransport("redis://localhost:1/0"))
    val r2 = ReindexJob.run(spark, jobConf, new ParquetDocSource(corpus), sink,
      Lockfile.default(out.toString), None, Some(dead))
    assert(r2.left.exists(_.exists(_.contains("cannot reach redis"))))
    // and the CLI maps that refusal to exit code 1 (reference parity:
    // log.Fatalf on redis ping failure, driver.go:133-145)
    val cfg = out.resolve("config.json")
    Files.writeString(cfg, s"""{"password":"pw","solrUrl":"file:${out}/cli-docs",
      "sourcePath":"$corpus","redisUrl":"redis://localhost:1/0"}""")
    assert(ReindexMain.run(Seq(cfg.toString)) == 1)
  }
}
