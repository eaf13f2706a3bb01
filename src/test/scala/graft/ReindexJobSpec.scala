package graft

import graft.config.ReindexConfig
import graft.functions.{ArgotFlatten, ParseFlatten}
import graft.operators.{ReindexJob, SkewJoin, Similarity}
import graft.sinks.NdjsonDirSink
import graft.sources.{DocSource, InMemoryKvTransport, JdbcDocSource, KvAuthorityStore, ParquetDocSource}
import graft.util.{Harness, Lockfile}
import graft.util.Harness.planNodes
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

/** The composed pipeline (SURVEY §3.1 lifecycle) plus the remaining
  * source/scale utilities.
  */
class ReindexJobSpec extends SparkSuite {
  import spark.implicits._

  // authorities=false: these cases exercise the core pipeline; the
  // authority-enrichment path has its own cases below
  private def conf =
    ReindexConfig(password = "pw", solrUrl = "http://x", authorities = false)

  /** 500 well-formed Argot-JSON docs, ids "0".."499" (asciibetical max
    * is "99"), written once per suite.
    */
  private lazy val jsonCorpus: String = {
    val dir = Files.createTempDirectory("graft-corpus").toString + "/docs.parquet"
    (0 until 500).map(i => (i.toString, s"src${i % 5}", s"""{"title":"doc $i","n":$i}"""))
      .toDF("doc_id", "source", "text").write.parquet(dir)
    dir
  }

  /** 2000 docs in 4 files, ids "0".."1999", 5 owners; every 97th doc
    * is malformed (truncated JSON, or a non-object root).
    */
  private lazy val mixedCorpus: String = {
    val dir = Files.createTempDirectory("graft-mixed").toString + "/docs.parquet"
    (0 until 2000).map { i =>
      val text =
        if (i % 97 == 5) s"""{"title":"doc $i""""
        else if (i % 97 == 50) s"[$i]"
        else s"""{"title":"doc $i","n":$i,"tags":["a$i",${i % 7}],"x":{"ok":${i % 2 == 0}}}"""
      (i.toString, s"src${i % 5}", text)
    }.toDF("doc_id", "source", "text").repartition(4).write.parquet(dir)
    dir
  }
  private def mixedBad: Seq[String] =
    (0 until 2000).filter(i => i % 97 == 5 || i % 97 == 50).map(_.toString)

  /** src4 has no authority record: its docs are enriched with NULL. */
  private def kvStore = new KvAuthorityStore(
    new InMemoryKvTransport((0 until 4).map(o => s"src$o" -> s"auth:src$o").toMap), batchSize = 64)

  /** Every NDJSON line a chunked sink wrote, in chunk order (part files
    * are named by range partition, so the order is the global id order).
    */
  private def sinkBytes(dir: Path): String = {
    val files = new java.io.File(dir.toString).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    files.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
  }

  test("one scan per run: the source is read once, with authorities and soft errors") {
    val out = Files.createTempDirectory("graft-scan")
    val scanned = spark.read.parquet(mixedCorpus).count()
    val recordsRead, tasks = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          tasks.incrementAndGet()
          ()
        }
    }
    Harness.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val r =
      try ReindexJob.run(spark, conf.copy(authorities = true), new ParquetDocSource(mixedCorpus),
          new NdjsonDirSink(out.toString + "/docs", chunkSize = 300),
          Lockfile.default(out.toString), authorityStore = Some(kvStore))
      finally { Harness.drainListenerBus(spark); spark.sparkContext.removeSparkListener(listener) }
    val res = r.toOption.get
    // a read of the cache counts one record per cached column batch, at
    // most one per task here (every partition is smaller than a batch);
    // a second scan of the source would add `scanned` more
    val fromCache = recordsRead.get - scanned
    assert(fromCache >= 0 && fromCache <= tasks.get,
      s"records read ${recordsRead.get} for $scanned scanned rows over ${tasks.get} tasks")
    assert(res.docsWritten + res.softErrors == scanned)
    assert(res.softErrors == mixedBad.size)
    val lowest = mixedBad.sorted.take(5)
    assert(res.errorSamples.map(_.takeWhile(_ != ':')) == lowest.map(id => s"doc $id"), res.errorSamples)
  }

  test("sink output is byte-identical to the flatten-then-enrich frame, with and without a kv store") {
    for (withStore <- Seq(false, true)) {
      val out = Files.createTempDirectory("graft-bytes")
      val source = new ParquetDocSource(mixedCorpus)
      val store = Option.when(withStore)(kvStore)
      val r = ReindexJob.run(spark, conf.copy(authorities = withStore), source,
        new NdjsonDirSink(out.toString + "/job", chunkSize = 300),
        Lockfile.default(out.toString), authorityStore = store)
      assert(r.toOption.get.docsWritten == 2000 - mixedBad.size)
      // the columns in the order id, txn_id, owner, content, flat[, authority]
      val flat = source.load(spark)
        .filter(ArgotFlatten.parseError(col("content")).isNull)
        .withColumn("flat", ArgotFlatten.flattenArgot(col("content")))
      // the enrichment decodes its input into an external Row, which
      // hands the flat map back in Scala-HashMap key order; flattening
      // again in place restores the flatten's first-seen order
      val ref = store.map(_.enrich(flat).withColumn("flat", ArgotFlatten.flattenArgot(col("content"))))
        .getOrElse(flat)
      new NdjsonDirSink(out.toString + "/ref", chunkSize = 300).write(ref)
      val got = sinkBytes(out.resolve("job"))
      assert(got == sinkBytes(out.resolve("ref")), s"withStore=$withStore")
      val keys = "\"([a-z_]+)\":".r.findAllMatchIn(got.linesIterator.next()).map(_.group(1)).toSeq
      val order = Seq("id", "txn_id", "owner", "content", "flat") ++ Option.when(withStore)("authority")
      assert(keys.filter(order.contains).distinct == order, keys)
    }
  }

  test("the kv lookup runs on the scanned columns: one parse, above the enrichment, below the cache") {
    val out = Files.createTempDirectory("graft-order")
    val source = new ParquetDocSource(mixedCorpus)
    val (r, plans) = Harness.executedPlans(spark)(
      ReindexJob.run(spark, conf.copy(authorities = true), source,
        new NdjsonDirSink(out.toString + "/docs", chunkSize = 300),
        Lockfile.default(out.toString), authorityStore = Some(kvStore)))
    assert(r.isRight, r)
    val run = plans.flatMap(p => planNodes(p._2))
    val cache = run.collectFirst { case s: InMemoryTableScanExec => planNodes(s.relation.cachedPlan) }
      .getOrElse(fail("the run reads no cache"))
    def isParse(e: Expression): Boolean = e.isInstanceOf[ParseFlatten]
    val enrich = cache.collect { case m: MapPartitionsExec => m }
    assert(enrich.size == 1, "one kv enrichment in the cached plan")
    // the columns the enrichment decodes into an external Row
    val rowIn = enrich.head.child match {
      case d: DeserializeToObjectExec => d.child.output
      case c => c.output
    }
    assert(rowIn.map(_.name) == source.load(spark).columns.toSeq, rowIn)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    assert(!rowIn.exists(a => hasMap(a.dataType)), rowIn)
    val parses = cache.filter(_.expressions.exists(_.exists(isParse)))
    assert(parses.size == 1, s"one parse in the cached plan: ${parses.map(_.nodeName)}")
    assert(planNodes(parses.head).exists(_ eq enrich.head), "the parse sits above the enrichment")
    val outside = run.filter(_.expressions.exists(_.exists(isParse)))
    assert(outside.isEmpty, s"parse outside the cache: ${outside.map(_.nodeName)}")
    val udfs = (run ++ cache).flatMap(_.expressions).flatMap(_.collect {
      case u: ScalaUDF if u.references.exists(_.name == "content") => u
    })
    assert(udfs.isEmpty, s"a Scala UDF reads content: $udfs")
  }

  test("e2e: parquet source → flatten → chunked ndjson sink → checkpoint") {
    val out = Files.createTempDirectory("graft-job")
    val lock = Lockfile.default(out.toString)
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(jsonCorpus), sink, lock)
    assert(r.isRight, r)
    val res = r.toOption.get
    assert(res.docsWritten == 500)
    assert(res.softErrors == 0)
    assert(res.checkpoint.contains("99"))
    assert(!Files.exists(lock.path), "lock must be released")
  }

  test("malformed-content docs are SKIPPED, not indexed: written + softErrors = scanned") {
    val out = Files.createTempDirectory("graft-skip")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    // the fixture's text is prose, not JSON → every doc is a soft error,
    // counted EXACTLY once (the sink's range-partition sampling
    // evaluates the plan twice; an accumulator would report 1000) and
    // NOT written
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(s"$sf/documents.parquet"),
      sink, Lockfile.default(out.toString))
    val res = r.toOption.get
    assert(res.docsWritten == 0)
    assert(res.softErrors == 500)
    assert(res.errorSamples.nonEmpty && res.errorSamples.size <= 5)
    assert(res.checkpoint.isEmpty, "no docs indexed → no checkpoint")
  }

  test("soft errors: only malformed content counts, and exactly once") {
    val out = Files.createTempDirectory("graft-job5")
    val src = out.toString + "/docs.parquet"
    // 8 valid Argot JSON docs + 2 malformed ones
    (0 until 10).map(i =>
        (i.toString, "fixture",
         if (i % 5 == 4) s"{broken $i" else s"""{"title":"doc $i","n":$i}"""))
      .toDF("doc_id", "source", "text").write.parquet(src)
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 3)
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(src), sink,
      Lockfile.default(out.toString))
    val res = r.toOption.get
    assert(res.docsWritten == 8, "malformed docs are skipped, not written")
    assert(res.softErrors == 2, res)
    assert(res.errorSamples.exists(_.contains("doc 4:")))
  }

  test("CLI main: config → pipeline → exit code reflects soft errors (B10 fix)") {
    val out = Files.createTempDirectory("graft-main")
    val src = out.toString + "/docs.parquet"
    (0 until 20).map(i => (i.toString, "fix", s"""{"t":"d$i"}"""))
      .toDF("doc_id", "source", "text").write.parquet(src)
    def cfg(name: String, sourcePath: String): String = {
      val p = out.resolve(s"$name.json")
      Files.writeString(p,
        s"""{"password":"pw","solrUrl":"file:$out/sink-$name","chunkSize":10,
           |"workers":2,"sourcePath":"$sourcePath","authorities":false}""".stripMargin)
      p.toString
    }
    // clean run: all-JSON content → exit 0, chunked output present
    assert(ReindexMain.run(Seq(cfg("ok", src))) == 0)
    assert(new java.io.File(s"$out/sink-ok").listFiles().exists(_.getName.endsWith(".json")))
    // bad config → exit 2
    val bad = out.resolve("bad.json")
    Files.writeString(bad, """{"password":"","solrUrl":"x"}""")
    assert(ReindexMain.run(Seq(bad.toString)) == 2)
    // missing source → preflight refusal, exit 1
    assert(ReindexMain.run(Seq(cfg("gone", "/no/such.parquet"))) == 1)
  }

  test("CLI main: prose content completes with exit 3 and exact soft-error count") {
    val out = Files.createTempDirectory("graft-main3")
    val p = out.resolve("config.json")
    Files.writeString(p,
      s"""{"password":"pw","solrUrl":"file:$out/sink","chunkSize":100,
         |"workers":2,"sourcePath":"$sf/documents.parquet",
         |"authorities":false}""".stripMargin)
    assert(ReindexMain.run(Seq(p.toString)) == 3)
  }

  test("preflight failure aborts before any work (O13)") {
    val out = Files.createTempDirectory("graft-job2")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource("/no/such/path.parquet")
    val r = ReindexJob.run(spark, conf, source, sink, Lockfile.default(out.toString))
    assert(r.isLeft)
    assert(r.left.toOption.get.exists(_.contains("missing")))
  }

  test("held lock refuses a second run (O12)") {
    val out = Files.createTempDirectory("graft-job3")
    val lock = Lockfile.default(out.toString)
    assert(lock.acquire())
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource(s"$sf/documents.parquet")
    val r = ReindexJob.run(spark, conf, source, sink, lock)
    assert(r.isLeft)
    assert(r.left.toOption.get.exists(_.contains("another reindex")))
    lock.release()
  }

  test("resume: job from checkpoint writes exactly the asciibetical tail") {
    val out = Files.createTempDirectory("graft-job4")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource(jsonCorpus, startId = "495")
    val r = ReindexJob.run(spark, conf, source, sink, Lockfile.default(out.toString))
    // ids >= "495" asciibetically: 495..499, 5, 50..59, ... compute exact
    val expected = (0 until 500).map(_.toString).count(_ >= "495")
    assert(r.toOption.get.docsWritten == expected)
  }

  test("jdbc source: partitioned reader config + pushdown-ready subquery (O1)") {
    val s = new JdbcDocSource(conf.copy(dbHost = "nope.invalid"), numPartitions = 12)
    assert(s.dbtable.contains("% 12) AS graft_part"))
    // the USER query is the scan (B2 end-to-end): default query text inside
    assert(s.dbtable.contains(graft.config.ReindexConfig.DefaultQuery))
    // no database in this environment: health check must fail fast, not hang
    assert(s.healthCheck().isLeft)
  }

  test("jdbc source: custom query + resume predicate land inside dbtable (B2/B3)") {
    val custom = conf.copy(
      query = "select id, txn_id, owner, content from docs_v2 WHERE NOT deleted",
      startId = "doc-042")
    val s = new JdbcDocSource(custom, numPartitions = 8)
    // the configured query replaces the default scan...
    assert(s.dbtable.contains("from docs_v2"))
    assert(!s.dbtable.contains("from documents"))
    // ...and the resume splice is INSIDE the server-side subquery
    assert(s.dbtable.contains("NOT deleted AND id >= 'doc-042'"))
    // hashtext() is Postgres-only: a non-Postgres URL without an explicit
    // partition expression must refuse loudly, not emit broken SQL
    val derbyish = custom.copy(jdbcUrlOverride = "jdbc:derby:memory:x")
    intercept[IllegalArgumentException](new JdbcDocSource(derbyish).dbtable)
    val withExpr = new JdbcDocSource(derbyish, numPartitions = 4,
      partitionExpr = Some("MOD(CAST(id AS INT), 4)"))
    assert(withExpr.dbtable.contains("MOD(CAST(id AS INT), 4)"))
  }

  test("salted join: same rows as the plain join, salt spread over fact side") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = fact.join(dim, "l_partkey").count()
    val salted = SkewJoin.saltedJoin(fact, dim, "l_partkey", salt = 4).count()
    assert(salted == plain)
  }

  test("advised salted join: salt comes from the q263 closed form, dim replicates salt-x, result unchanged") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val parts = 4096
    // the advisor's 1-row frame vs the closed form recounted directly
    val advised = SkewJoin.advisedSalt(fact, "l_partkey", parts)
      .collect()(0).getLong(0)
    val hist = fact.groupBy("l_partkey").count()
      .agg(sum("count").as("n"), max("count").as("mx")).collect()(0)
    val (n, mx) = (hist.getLong(0), hist.getLong(1))
    val expected = math.max(1L, (mx * parts + n - 1) / n)
    assert(advised == expected, s"advised $advised vs closed form $expected")
    assert(advised > 1L, "at 4096 reducers the fixture's heaviest part key needs salting")
    // the dim side replicates exactly salt_n times inside the join
    val dimReplicated = dim.crossJoin(
        org.apache.spark.sql.functions.broadcast(
          SkewJoin.advisedSalt(fact, "l_partkey", parts)))
      .withColumn("__salt", explode(sequence(lit(0L), col("__salt_n") - 1)))
      .count()
    assert(dimReplicated == dim.count() * advised, "dim replication factor = advised salt")
    // and the salt stays invisible in the result
    val plain = fact.join(dim, "l_partkey").count()
    assert(SkewJoin.advisedSaltedJoin(fact, dim, "l_partkey", parts).count() == plain)
  }

  test("SQL surface: graft_dot/graft_norm registered functions match the Column API") {
    graft.plans.RegisterFunctions(spark)
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_norm(embedding) AS n, graft_dot(embedding, embedding) AS d FROM emb_sql")
      .select("vec_id", "n", "d").as[(Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val viaCol = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("n"),
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .as[(Long, Double, Double)].collect()
    viaCol.foreach { case (id, n, d) =>
      assert(viaSql(id) == ((n, d)), s"vec $id mismatch")
    }
  }

  test("SQL surface: graft_winnow/graft_minhashes registered functions match the Column API") {
    graft.plans.RegisterFunctions(spark)
    Tables.documents(spark, sf).limit(20).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_winnow(text, 8, 4) AS w, graft_minhashes(text, 3, 8) AS m FROM docs_sql")
      .as[(Long, Seq[Long], Seq[Long])].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val viaCol = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"),
        graft.functions.TextFunctions.winnowFingerprints(col("text"), 8, 4).as("w"),
        graft.functions.TextFunctions.minHashes(col("text"), 3, 8).as("m"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    viaCol.foreach { case (id, w, m) => assert(viaSql(id) == ((w, m)), s"doc $id") }
  }

  test("SQL surface: RegisterFunctions registers the extension's table, arity checks included") {
    val s = spark.newSession()
    graft.plans.RegisterFunctions(s)
    val e = intercept[Exception](s.sql("SELECT graft_dot(array(1f))").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("graft_dot(arrayFloat, arrayFloat)")), messages)
    assert(s.sql("SELECT graft_token_count('a b c')").head().get(0).toString == "3")
  }

  test("topK aggregator matches the window formulation exactly") {
    val agg = Similarity.topKAggregated(spark, sf, numProbes = 3, k = 5)
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val win = Similarity.bruteForceTopK(spark, sf, numProbes = 3, k = 5)
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(agg == win)
  }
}
