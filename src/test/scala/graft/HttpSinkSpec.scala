package graft

import graft.operators.Reindex
import graft.sinks.{BatchedUpsertSink, HttpUpdateTransport}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The Solr-style HTTP update path (O9) driven against an in-process
  * HTTP server — real sockets, zero egress.  Covers success delivery,
  * NDJSON batch shape, and task failure on non-2xx responses.
  */
class HttpSinkSpec extends SparkSuite {

  private def withServer[T](status: Int)(body: (String, ConcurrentLinkedQueue[String]) => T): T = {
    val received = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/solr/update/json/docs", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        received.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        ex.sendResponseHeaders(status, -1)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/solr", received)
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
