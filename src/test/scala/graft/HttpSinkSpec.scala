package graft

import graft.operators.Reindex
import graft.sinks.{BatchedUpsertSink, HttpUpdateTransport}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The Solr-style HTTP update path (O9) driven against an in-process
  * HTTP server — real sockets, zero egress.  Covers success delivery,
  * NDJSON batch shape, and task failure on non-2xx responses.
  */
class HttpSinkSpec extends SparkSuite {

  private def withServer[T](status: Int)(body: (String, ConcurrentLinkedQueue[String]) => T): T =
    withStatuses(_ => status)((url, received, _) => body(url, received))

  /** A server that answers its n-th POST (from 0) with `status(n)`;
    * `received` holds the bodies it answered 2xx, `posts` counts all.
    */
  private def withStatuses[T](status: Int => Int)(
      body: (String, ConcurrentLinkedQueue[String], AtomicInteger) => T): T = {
    val received = new ConcurrentLinkedQueue[String]()
    val posts = new AtomicInteger()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/solr/update/json/docs", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val doc = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val code = status(posts.getAndIncrement())
        if (code / 100 == 2) received.add(doc)
        ex.sendResponseHeaders(code, -1)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/solr", received, posts)
    finally server.stop(0)
  }

  test("batched docs arrive as NDJSON posts; every id delivered exactly once") {
    withServer(200) { (url, received) =>
      val sink = new BatchedUpsertSink(new HttpUpdateTransport(url), chunkSize = 64)
      val written = sink.write(Reindex.scanSlice(spark, sf))
      assert(written == 500)
      val bodies = received.asScala.toSeq
      assert(bodies.nonEmpty)
      val lines = bodies.flatMap(_.split("\n"))
      assert(lines.length == 500)
      // every line is a JSON doc carrying its id
      assert(lines.forall(l => l.startsWith("{") && l.contains("\"id\":")))
      assert(bodies.forall(_.count(_ == '\n') < 64))
      assert(sink.checkpoint().contains("99"))
    }
  }

  test("non-2xx response fails the write (task error, no silent loss)") {
    withServer(503) { (url, _) =>
      val sink = new BatchedUpsertSink(new HttpUpdateTransport(url), chunkSize = 64)
      val e = intercept[org.apache.spark.SparkException] {
        sink.write(Reindex.scanSlice(spark, sf).limit(10))
      }
      assert(e.getMessage.contains("update failed") ||
        Option(e.getCause).exists(_.getMessage.contains("update failed")))
    }
  }

  test("backpressure: 503 twice, then 200 — the write succeeds, every id delivered once") {
    withStatuses(n => if (n < 2) 503 else 200) { (url, received, posts) =>
      val sink = new BatchedUpsertSink(new HttpUpdateTransport(url), chunkSize = 64)
      assert(sink.write(Reindex.scanSlice(spark, sf)) == 500)
      val ids = received.asScala.toSeq.flatMap(_.split("\n")).map(l => l.substring(7, l.indexOf('"', 7)))
      assert(ids.size == 500 && ids.distinct.size == 500)
      assert(posts.get == received.size + 2, "the two refused batches were re-sent, nothing else")
    }
  }

  test("backpressure: a server that always answers 503 fails the send after 4 attempts") {
    withStatuses(_ => 503) { (url, _, posts) =>
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException](new HttpUpdateTransport(url).send(Seq("1" -> """{"id":"1"}""")))
      assert(e.getMessage == "update failed: HTTP 503")
      assert(posts.get == 4)
      assert((System.nanoTime() - t0) / 1e6 >= 700, "waited 100 + 200 + 400 ms between attempts")
    }
  }

  test("a 400 fails the send after 1 attempt") {
    withStatuses(_ => 400) { (url, _, posts) =>
      val e = intercept[java.io.IOException](new HttpUpdateTransport(url).send(Seq("1" -> """{"id":"1"}""")))
      assert(e.getMessage == "update failed: HTTP 400")
      assert(posts.get == 1)
    }
  }

  test("a server that accepts the POST and never answers fails the send in bounded time") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/solr/update/json/docs", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = { release.await(); ex.close() }
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    try {
      val t = new HttpUpdateTransport(s"http://127.0.0.1:${server.getAddress.getPort}/solr")
      val t0 = System.nanoTime()
      intercept[java.io.IOException](t.send(Seq("1" -> """{"id":"1"}""")))
      val waitedS = (System.nanoTime() - t0) / 1e9
      assert(waitedS < 30, s"send gave up after $waitedS s")
    } finally { release.countDown(); server.stop(0) }
  }
}
