package graft.sources

import graft.util.HealthCheck
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StringType

/** Authority enrichment against an external key-value store —
  * the reference's O8 (`authorities=true` + `--redis-url`,
  * /root/reference/README.md:92-101, ingest/ingest.go:28-32), where
  * the argot subprocess looks up authority records in Redis per
  * document.  Re-expressed Spark-first as one trait with one store,
  * [[KvAuthorityStore]]: the store stays external (Redis-style); each
  * partition opens ONE pooled client and resolves its keys in `mget`
  * batches — the per-partition-resource shape, same as the reference's
  * per-worker Redis connection but with Spark parallelism instead of a
  * worker pool.  It appends a nullable `authority` string column; docs
  * without an authority record pass through with NULL (the reference
  * indexes un-enriched docs rather than dropping them).
  *
  * Width rule: the kv store decodes every column of every row into an
  * external `Row` and encodes it again, so its cost grows with the
  * width of the frame, not just its row count.  Callers hand it the
  * narrowest frame that still carries the key — in `ReindexJob`, the
  * scanned source columns, before the parse adds the flattened map.
  */
trait AuthorityStore extends HealthCheck {
  /** Append an `authority` column resolved from the store. */
  def enrich(df: DataFrame): DataFrame
}

/** Transport to a remote KV store.  Instances ride the task closure:
  * implementations must be Serializable and open real connections
  * lazily on first use (per task), never at construction.
  */
trait KvTransport extends Serializable {
  def name: String
  /** Batched lookup; result aligns with `keys` (None = no record). */
  def mget(keys: Seq[String]): Seq[Option[String]]
  /** Driver-side connectivity probe (reference driver.go:133-145
    * pings Redis and aborts on failure).
    */
  def ping(): Either[String, Unit]
  /** Release any open connection (called at task completion). */
  def close(): Unit = ()
}

/** In-memory transport for tests and small static authority sets. */
final class InMemoryKvTransport(entries: Map[String, String]) extends KvTransport {
  override def name: String = s"inmemory-kv(${entries.size})"
  override def mget(keys: Seq[String]): Seq[Option[String]] = keys.map(entries.get)
  override def ping(): Either[String, Unit] = Right(())
}

/** Minimal RESP2 client — the Redis wire protocol, publicly specified
  * (https://redis.io/docs/reference/protocol-spec/), is simple enough
  * that PING/SELECT/MGET need no client library (none is available in
  * the zero-egress build).  One socket per task, opened lazily.
  *
  * URL form: `redis://host:port/db` (reference config.go:83 default
  * `redis://localhost:6379/0`).
  */
final class RespKvTransport(url: String) extends KvTransport {
  override def name: String = s"resp-kv:$url"

  // lazy: a malformed URL must surface through ping()/healthCheck (or
  // config validation) as a clean refusal, not blow up construction
  private[graft] lazy val (host, port, db) = {
    val u = java.net.URI.create(url)
    require(u.getScheme == "redis", s"expected redis:// URL, got $url")
    val d = Option(u.getPath).filter(_.length > 1).map(_.stripPrefix("/").toInt).getOrElse(0)
    (u.getHost, if (u.getPort > 0) u.getPort else 6379, d)
  }

  @transient private var sock: java.net.Socket = _
  @transient private var in: java.io.DataInputStream = _
  @transient private var out: java.io.BufferedOutputStream = _

  private def connect(): Unit = {
    sock = new java.net.Socket()
    sock.connect(new java.net.InetSocketAddress(host, port), 5000)
    sock.setSoTimeout(10000)
    in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    out = new java.io.BufferedOutputStream(sock.getOutputStream)
    if (db != 0) command("SELECT", db.toString)
  }

  // isConnected stays true after the peer closes, so it alone would
  // never trigger a reconnect; readByte()'s EOF path close()s the
  // socket (null), which is the signal this gate actually acts on
  private def ensure(): Unit =
    if (sock == null || sock.isClosed || !sock.isConnected) connect()

  /** Send one RESP array command and parse the reply. */
  private def command(args: String*): Any = {
    val sb = new StringBuilder(s"*${args.length}\r\n")
    args.foreach { a =>
      val b = a.getBytes("UTF-8")
      sb.append(s"$$${b.length}\r\n").append(a).append("\r\n")
    }
    out.write(sb.toString.getBytes("UTF-8")); out.flush()
    readReply()
  }

  private def readByte(): Int = {
    val c = in.read()
    // EOF (peer closed) must FAIL the task — a cleanly-retried failure
    // beats looping on -1 (SO_TIMEOUT never fires on EOF)
    if (c < 0) { close(); throw new java.io.EOFException("connection closed by server") }
    c
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = readByte()
    while (c != '\r') { sb.append(c.toChar); c = readByte() }
    readByte() // \n
    sb.toString
  }

  private def readReply(): Any = readByte().toChar match {
    case '+' => readLine()
    case '-' => throw new java.io.IOException(s"RESP error: ${readLine()}")
    case ':' => readLine().toLong
    case '$' =>
      val n = readLine().toInt
      if (n < 0) null
      else {
        val buf = new Array[Byte](n)
        in.readFully(buf); readByte(); readByte() // trailing \r\n
        new String(buf, "UTF-8")
      }
    case '*' =>
      val n = readLine().toInt
      if (n < 0) null else Seq.fill(n)(readReply())
    case c => throw new java.io.IOException(s"unexpected RESP type byte '$c'")
  }

  override def mget(keys: Seq[String]): Seq[Option[String]] =
    if (keys.isEmpty) Seq.empty
    else {
      def once(): Seq[Option[String]] = {
        ensure()
        command("MGET" +: keys: _*) match {
          case s: Seq[_] => s.map(v => Option(v).map(_.toString))
          case other => throw new java.io.IOException(s"MGET: unexpected reply $other")
        }
      }
      // an idle connection the server dropped surfaces as EOF on the
      // next read (peer FIN) or as a SocketException on the write
      // (RST / broken pipe) — retry the (read-only, idempotent) batch
      // ONCE on a fresh connection before letting the failure cost a
      // full task retry; protocol-level errors (RESP '-' replies,
      // framing) are plain IOExceptions and are NOT retried
      try once() catch {
        case _: java.io.EOFException | _: java.net.SocketException =>
          close(); once()
      }
    }

  override def ping(): Either[String, Unit] =
    try { ensure(); command("PING") match {
      case "PONG" => Right(())
      case other => Left(s"unexpected PING reply: $other")
    } } catch {
      case e: Exception => Left(s"cannot reach redis at $url: ${e.getMessage}")
    } finally close()

  override def close(): Unit =
    if (sock != null) { try sock.close() catch { case _: Exception => () }; sock = null }
}

/** External-store enrichment: one transport instance per task (the
  * closure copy), keys resolved in deduplicated `mget` batches.  At
  * 1000 executors this is 1000 concurrent store clients doing
  * `rows / batchSize` round trips — the store sees bounded fan-in and
  * the documents never shuffle.
  */
final class KvAuthorityStore(transport: KvTransport, keyCol: String = "owner",
                             batchSize: Int = 512) extends AuthorityStore {
  override def name: String = s"authority-store(${transport.name})"

  override def enrich(df: DataFrame): DataFrame = {
    // locals only in the closure — referencing fields would drag `this`
    // (non-serializable) into the task
    val t = transport
    val bs = batchSize
    val idx = df.schema.fieldIndex(keyCol)
    val outSchema = df.schema.add("authority", StringType, nullable = true)
    df.mapPartitions { rows =>
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => t.close()))
      rows.grouped(bs).flatMap { batch =>
        val keys = batch.map(r => if (r.isNullAt(idx)) null else r.getString(idx))
        val distinct = keys.filter(_ != null).distinct
        val values = t.mget(distinct)
        // a short/misaligned reply would silently truncate the zip and
        // surface later as an opaque NoSuchElementException — fail the
        // protocol bug loudly at the boundary instead
        require(values.length == distinct.length,
          s"${t.name}: mget returned ${values.length} values for ${distinct.length} keys")
        val found = distinct.zip(values).toMap
        batch.zip(keys).map { case (r, k) =>
          Row.fromSeq(r.toSeq :+ (if (k == null) null else found(k).orNull))
        }
      }
    }(Encoders.row(outSchema))
  }

  override def healthCheck(): Either[String, Unit] = transport.ping()
}
