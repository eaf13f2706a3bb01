package perfbench

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.lang.management.ManagementFactory
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** CPU time that the stubs' own threads spend serving requests, so the
  * program's CPU can be reported without it.
  */
object StubCpu {
  private val threads = ManagementFactory.getThreadMXBean
  val nanos = new AtomicLong(0L)
  def timed[T](body: => T): T = {
    val c0 = threads.getCurrentThreadCpuTime
    try body finally { nanos.addAndGet(threads.getCurrentThreadCpuTime - c0); () }
  }
}

private[perfbench] object Daemons {
  def factory(prefix: String): ThreadFactory = {
    val n = new AtomicInteger(0)
    (r: Runnable) => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}

/** In-process Redis stand-in speaking RESP2: PING, SELECT and MGET over
  * a fixed authority map.  Counts calls, keys and connections from the
  * server side, so the counts do not depend on the client's accounting.
  * Each MGET is a span parented to the caller's enclosing call.
  */
final class RespStub(data: Map[String, String], tracer: Tracer) extends AutoCloseable {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  val url: String = s"redis://127.0.0.1:${server.getLocalPort}/0"

  val mgetCalls = new AtomicLong(0L)
  val keys = new AtomicLong(0L)
  val connections = new AtomicLong(0L)
  val errors = new AtomicLong(0L)
  def reset(): Unit = Seq(mgetCalls, keys, connections, errors).foreach(_.set(0L))

  private val open = new ConcurrentLinkedQueue[Socket]()
  private val pool: ExecutorService = Executors.newCachedThreadPool(Daemons.factory("resp-stub"))
  private val acceptor = new Thread(() => {
    while (!server.isClosed)
      try {
        val s = server.accept()
        connections.incrementAndGet()
        open.add(s)
        pool.execute(() => try serve(s) catch { case _: java.io.IOException => () } finally {
          open.remove(s); s.close()
        })
      } catch { case _: java.io.IOException => () }
  }, "resp-stub-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    val out = new BufferedOutputStream(s.getOutputStream)
    def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      if (c < 0) return null
      while (c != '\r') { sb.append(c.toChar); c = in.read() }
      in.read()
      sb.toString
    }
    var head = line()
    while (head != null && head.startsWith("*")) {
      val args = (0 until head.tail.toInt).map { _ =>
        val buf = new Array[Byte](line().tail.toInt)
        in.readFully(buf); in.read(); in.read()
        new String(buf, "UTF-8")
      }
      val parent = tracer.current
      val t0 = System.nanoTime()
      val reply = StubCpu.timed(args.head.toUpperCase match {
        case "PING" => "+PONG\r\n"
        case "SELECT" => "+OK\r\n"
        case "MGET" =>
          mgetCalls.incrementAndGet()
          keys.addAndGet(args.length - 1L)
          args.tail.map(k => data.get(k) match {
            case Some(v) => s"$$${v.getBytes("UTF-8").length}\r\n$v\r\n"
            case None => "$-1\r\n"
          }).mkString(s"*${args.length - 1}\r\n", "", "")
        case other =>
          errors.incrementAndGet()
          s"-ERR unknown command '$other'\r\n"
      })
      out.write(reply.getBytes("UTF-8")); out.flush()
      if (args.head.equalsIgnoreCase("MGET")) tracer.record("resp.mget", parent, t0, System.nanoTime())
      head = line()
    }
  }

  override def close(): Unit = {
    server.close()
    open.asScala.foreach(s => try s.close() catch { case _: java.io.IOException => () })
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    acceptor.join(10000)
  }
}

/** One document as the Solr stub received it. */
final case class Received(id: String, owner: String, authority: String)

/** In-process Solr stand-in: a JDK `HttpServer` on
  * `/solr/update/json/docs` with four handler threads.  Parses every
  * NDJSON line and records what arrived (id, owner, authority), plus
  * bytes, handle time, the peak number of POSTs in flight and errors.
  * Each POST is a span parented to the caller's enclosing call.
  */
final class SolrStub(tracer: Tracer, threads: Int = 4) extends AutoCloseable {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads, Daemons.factory("solr-stub"))
  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/solr"

  val docs = new ConcurrentLinkedQueue[Received]()
  val posts = new AtomicLong(0L)
  val bytes = new AtomicLong(0L)
  val errors = new AtomicLong(0L)
  val handleNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  private val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  def reset(): Unit = {
    docs.clear(); handleNanos.clear()
    Seq(posts, bytes, errors).foreach(_.set(0L)); maxInFlight.set(0)
  }

  private val json = new JsonFactory()

  /** Parse one NDJSON line's top-level id, owner and authority. */
  private def parse(line: Array[Byte], from: Int, until: Int): Received = {
    val p = json.createParser(line, from, until - from)
    try {
      require(p.nextToken() == JsonToken.START_OBJECT, "line is not a JSON object")
      var id, owner, authority: String = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.getCurrentName
        val v = p.nextToken()
        f match {
          case "id" => id = p.getText
          case "owner" => owner = p.getText
          case "authority" => authority = if (v == JsonToken.VALUE_NULL) null else p.getText
          case _ => p.skipChildren()
        }
      }
      require(id != null, "line has no id")
      Received(id, owner, authority)
    } finally p.close()
  }

  server.createContext("/solr/update/json/docs", (ex: HttpExchange) => {
    val parent = tracer.current
    val t0 = System.nanoTime()
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    val status = StubCpu.timed {
      try {
        val body = ex.getRequestBody.readAllBytes()
        posts.incrementAndGet()
        bytes.addAndGet(body.length.toLong)
        var start = 0
        while (start < body.length) {
          var end = start
          while (end < body.length && body(end) != '\n') end += 1
          if (end > start) docs.add(parse(body, start, end))
          start = end + 1
        }
        200
      } catch { case _: Exception => errors.incrementAndGet(); 400 }
    }
    inFlight.decrementAndGet()
    handleNanos.add(System.nanoTime() - t0)
    ex.sendResponseHeaders(status, -1)
    ex.close()
    tracer.record("solr.post", parent, t0, System.nanoTime())
  })
  server.setExecutor(pool)
  server.start()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}
