package graft

import graft.util.{ErrorCollector, HealthCheck, Lockfile, Preflight}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Driver-plane utilities: lockfile (O12), preflight (O13), error
  * collection (O11/B10).
  */
class UtilSpec extends AnyFunSuite {

  test("lockfile: second acquire refused while held, pid recorded, release frees") {
    val dir = Files.createTempDirectory("graft-lock")
    val l1 = Lockfile.default(dir.toString)
    val l2 = Lockfile.default(dir.toString)
    assert(l1.acquire())
    assert(!l2.acquire(), "second instance must be refused (O12)")
    assert(l1.holderPid.contains(ProcessHandle.current.pid))
    l1.release()
    assert(l2.acquire())
    l2.release()
  }

  test("preflight collects every failure, not just the first") {
    def check(n: String, ok: Boolean): HealthCheck = new HealthCheck {
      val name = n
      def healthCheck(): Either[String, Unit] = if (ok) Right(()) else Left("down")
    }
    assert(Preflight.run(Seq(check("a", true), check("b", true))).isRight)
    val r = Preflight.run(Seq(check("a", false), check("b", true), check("c", false)))
    assert(r.left.exists(_.size == 2))
  }

  // The bench-harness and doc-drift tests below need no Spark session:
  // `sbt "testOnly graft.UtilSpec"` runs them in about a second; any
  // commit touching SparkEntry.scala or README.md runs it first.

  test("priorBenchRecord reads the newest BENCH artifact's qNN minimums") {
    val dir = Files.createTempDirectory("graft-bench")
    assert(Bench.priorBenchRecord(dir).isEmpty, "no artifact → empty map")
    Files.write(dir.resolve("BENCH_r08.json"),
      """{"tail": "{\"qv\":[999,999]}"}""".getBytes("UTF-8"))
    // the committed artifact shape: pretty-printed, the contract line
    // both as the escaped `tail` string and as `parsed`; newest round
    // (r9) wins
    Files.write(dir.resolve("BENCH_r09.json"),
      ("""{
         |  "tail": "{\"metric\":\"total\",\"nq\":2,\"qv\":[105,227]}",
         |  "parsed": {
         |    "qv": [105, 227]
         |  }
         |}""".stripMargin).getBytes("UTF-8"))
    val rec = Bench.priorBenchRecord(dir)
    assert(rec == Map("q01" -> 1.05, "q02" -> 2.27))
  }

  test("priorBenchRecord decodes the r13 array contract (qv centiseconds, qNN numeric order)") {
    val dir = Files.createTempDirectory("graft-bench-qv")
    // as captured by the driver: the tail is a JSON string, so the qv
    // key's quotes are escaped but the digit/comma body is untouched
    Files.write(dir.resolve("BENCH_r13.json"),
      ("""{
         |  "sf": 0.1,
         |  "tail": "{\"metric\":\"total\",\"value\":9.99,\"unit\":\"sec\",\"nq\":4,\"qunit\":\"cs\",\"qv\":[105, 23,-1,7]}",
         |  "parsed": null
         |}""".stripMargin).getBytes("UTF-8"))
    val rec = Bench.priorBenchRecord(dir)
    assert(rec.get("q01").contains(1.05))
    assert(rec.get("q02").contains(0.23))
    assert(!rec.contains("q03"), "failed (-1) entries must not become records")
    assert(rec.get("q04").contains(0.07))
    // sf gating accepts the artifact envelope's bare `"sf": 0.1` number
    // (the dir path rarely survives the capture window)
    assert(Bench.priorBenchRecord(dir, sfDir = "/data/sf0.1") == rec)
    assert(Bench.priorBenchRecord(dir, sfDir = "/data/sf0.01").isEmpty,
      "sf0.1 artifact must not seed an sf0.01 run's priors")
  }

  test("priorBenchRecord falls back past a newest artifact with no qv array") {
    val dir = Files.createTempDirectory("graft-bench-fb")
    Files.write(dir.resolve("BENCH_r12.json"),
      """{"n": 12, "tail": "q116\":0.23,\"q117\":0.46}}", "parsed": null}""".getBytes("UTF-8"))
    Files.write(dir.resolve("BENCH_r11.json"),
      """{"parsed": {"qv": [123]}}""".getBytes("UTF-8"))
    assert(Bench.priorBenchRecord(dir) == Map("q01" -> 1.23),
      "a newest artifact without qv must yield to the next-newest")
  }

  test("blockOutliers flags >=3 consecutive 1.5x-prior suspects, not isolated ones") {
    val prior = Map("q25" -> 1.0, "q26" -> 0.28, "q27" -> 0.25, "q28" -> 0.28,
      "q29" -> 1.0, "q40" -> 1.0, "q41" -> 1.0)
    // q26/q27/q28 pattern from BENCH_r10: one stall window spanning
    // alphabetical neighbors; q40 is an isolated suspect (run of 1)
    val ordered = Seq(
      "q25_embed_neardup" -> 1.05,   // 1.05x prior: clean
      "q26_ann_bucketed" -> 1.46,    // 5.2x: suspect
      "q27_label_stats" -> 0.60,     // 2.4x: suspect
      "q28_corpus_stats" -> 1.02,    // 3.6x: suspect
      "q29_token_freq" -> 1.1,       // clean → run ends at length 3
      "q40_running_total" -> 2.0,    // isolated 2x suspect
      "q41_cube" -> 1.2)             // clean
    val out = Bench.blockOutliers(ordered, prior)
    assert(out == Set("q26_ann_bucketed", "q27_label_stats", "q28_corpus_stats"))
  }

  test("blockOutliers: 0.3s floor stops sub-second jitter chains; no prior → never suspect") {
    val prior = Map("q01" -> 0.10, "q02" -> 0.10, "q03" -> 0.10)
    // all 2x their priors but under the 0.3 s floor
    val jitter = Seq("q01_a" -> 0.2, "q02_b" -> 0.2, "q03_c" -> 0.2)
    assert(Bench.blockOutliers(jitter, prior).isEmpty)
    // above the floor and >=1.5x: the whole block trips
    val real = Seq("q01_a" -> 0.5, "q02_b" -> 0.5, "q03_c" -> 0.5)
    assert(Bench.blockOutliers(real, prior).size == 3)
    // unknown queries (no prior record) can never be suspects
    assert(Bench.blockOutliers(real, Map.empty).isEmpty)
  }

  test("property: blockOutliers flags a stall run iff it spans >=3 neighbors, exactly") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(3, 12)
      runLen <- Gen.choose(0, n)
      start <- Gen.choose(0, n - math.max(runLen, 1))
    } yield (n, runLen, start)
    val prop = Prop.forAll(gen) { case (n, runLen, start) =>
      val names = (1 to n).map(i => f"q$i%02d_query")
      val prior = names.map(nm => nm.takeWhile(_ != '_') -> 1.0).toMap
      // clean queries sit at 1.0x prior; the injected stall run at 5x
      val ordered = names.zipWithIndex.map { case (nm, i) =>
        nm -> (if (i >= start && i < start + runLen) 5.0 else 1.0)
      }
      val flagged = Bench.blockOutliers(ordered, prior)
      val expected =
        if (runLen >= 3) names.slice(start, start + runLen).toSet
        else Set.empty[String]
      flagged == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("README query counts match the SparkEntry registry (doc-drift gate)") {
    // Rounds 8-10 each shipped stale README numbers; this pins the
    // contract paragraph to the registry so adding a query without
    // updating the doc fails the build — now from a non-Spark suite
    // that runs in ~1 s.
    val readme = new String(
      Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """\((\d+) queries, (\d+) DuckDB-oracle-checked""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md lost its '(NN queries, MM DuckDB-oracle-checked' contract line"))
    assert(m.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.group(1)} queries but SparkEntry registers ${SparkEntry.queries.size}")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size,
      s"README says ${m.group(2)} oracle-checked but SparkEntry.oracleSql has ${SparkEntry.oracleSql.size}")
    // The performance-notes sentence carries its own count ("NN.NN s for
    // all NN queries") and drifted independently in round 6 — pin it too.
    val perf = """for all (\d+) queries""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md lost its 'for all NN queries' performance sentence"))
    assert(perf.group(1).toInt == SparkEntry.queries.size,
      s"README perf notes say ${perf.group(1)} queries but SparkEntry registers ${SparkEntry.queries.size}")
  }

  test("eager-pin source gate: multi-broadcast-consumer frames route through Pins.eager") {
    // The r11 deadlock (broadcast thread materializing a lazy
    // checkpoint vs the DAG scheduler — see util/Pins.scala) recurs if
    // either hot site is "optimized" back to a lazy or raw checkpoint.
    // This pins the call sites; PinsSpec pins the helper's eagerness.
    def body(path: String, fn: String): String = {
      val src = new String(
        Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val from = src.indexOf(s"def $fn")
      assert(from >= 0, s"$fn not found in $path")
      val next = src.indexOf("\n  def ", from)
      src.substring(from, if (next > 0) next else src.length)
    }
    for ((path, fn) <- Seq(
      "src/main/scala/graft/operators/TextAnalysis.scala" -> "weightedIndex",
      "src/main/scala/graft/operators/TextAnalysis.scala" -> "cmsHeavyHitters",
      "src/main/scala/graft/operators/Similarity.scala" -> "pqCodebooks",
      "src/main/scala/graft/operators/Dedup.scala" -> "pageRank",
      "src/main/scala/graft/operators/Dedup.scala" -> "containment",
      "src/main/scala/graft/operators/Relational.scala" -> "importantStock",
      "src/main/scala/graft/operators/Similarity.scala" -> "principalComponent")) {
      val b = body(path, fn)
      assert(b.contains("Pins.eager"), s"$fn must pin via Pins.eager")
      assert(!b.contains("localCheckpoint"),
        s"$fn must not checkpoint directly — route through Pins.eager")
    }
    // and nobody reintroduces a raw eager checkpoint elsewhere: every
    // localCheckpoint outside Pins.scala must be the lazy (false) form
    import scala.jdk.CollectionConverters._
    val offenders = Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("util/Pins.scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("localCheckpoint(true)"))
      .toList
    assert(offenders.isEmpty,
      s"raw localCheckpoint(true) outside Pins.eager: $offenders")
  }

  test("streaming source gate: the state-partition pin and the micro-batch pin are written once") {
    // StreamRunner.start pins spark.sql.shuffle.partitions (the state
    // store's partition count) and StreamRunner.nonEmpty pins each
    // multi-read batch; a driver that sets either by hand can forget
    // the pin, so each may appear in one place only
    import scala.jdk.CollectionConverters._
    val srcs = scala.util.Using.resource(
        Files.list(java.nio.file.Paths.get("src/main/scala/graft/streaming"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    def sites(needle: String): List[String] = srcs.flatMap { case (f, src) =>
      src.split("\n").toList.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$f:${i + 1}"
      }
    }
    val confSites = sites("\"spark.sql.shuffle.partitions\"")
    assert(confSites.length == 1 && confSites.head.startsWith("StreamRunner.scala"),
      s"the state-partition conf is set in StreamRunner.start only: $confSites")
    val pinSites = sites(".persist(")
    assert(pinSites.length == 1 && pinSites.head.startsWith("StreamRunner.scala"),
      s"micro-batch frames are pinned by StreamRunner.nonEmpty only: $pinSites")
  }

  test("scratch-dir source gate: temp roots and the exit hook are made in Fs only, random names in UniqueName only") {
    // a temp dir made outside Fs.withTempDir / Fs.tempDirUntilExit can
    // skip the fsync-then-delete or leak on failure, so each primitive
    // has one home
    val srcs = mainSources()
    for ((needle, home) <- Seq("createTempDirectory" -> "graft/util/Fs.scala",
        "addShutdownHook" -> "graft/util/Fs.scala",
        "randomUUID" -> "graft/util/UniqueName.scala")) {
      val sites = srcs.flatMap { case (f, src) =>
        src.split("\n").toList.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$f:${i + 1}"
        }
      }
      assert(sites.length == 1 && sites.head.startsWith(home + ":"),
        s"$needle appears once, in $home: $sites")
    }
  }

  test("ordered-fold source gate: every pinned-order double sum is built by Folds") {
    // a hand-written fold can drift from the order the oracle replays,
    // so the rule has one home; the oracle SQL text is exempt
    val ordered = """aggregate\(\s*sort_array\(collect_list\(""".r
    val plain = """lit\(0\.0\),\s*\((\w+),\s*(\w+)\)\s*=>\s*\1\s*\+\s*\2\)""".r
    val home = "graft/functions/Folds.scala"
    def sites(f: String, src: String): Seq[String] =
      (ordered.findAllMatchIn(src) ++ plain.findAllMatchIn(src))
        .map(m => s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}").toSeq
    val srcs = mainSources()
    val offenders = srcs.filter { case (f, _) => f != home && !f.matches("graft/Oracles.*\\.scala") }
      .flatMap { case (f, src) => sites(f, src) }
    assert(offenders.isEmpty, s"ordered or plain double folds outside Folds: $offenders")
    val folds = srcs.collect { case (`home`, src) => src }
    assert(folds.length == 1 && sites(home, folds.head).length == 2,
      "both patterns match their one home")
  }

  /** Every main-source file, keyed by its path under src/main/scala. */
  private def mainSources(): List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    scala.util.Using.resource(Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  test("Fs.withTempDir: the root is gone after body returns and after body throws; the exception propagates") {
    import graft.util.Fs
    var seen: java.nio.file.Path = null
    val out = Fs.withTempDir("spec-bracket") { root =>
      seen = root
      assert(root.getFileName.toString.startsWith("graft-spec-bracket"))
      Files.write(Files.createDirectories(root.resolve("a/b")).resolve("f"), Array[Byte](1, 2))
      42
    }
    assert(out == 42)
    assert(!Files.exists(seen), s"$seen survived a returning body")
    val boom = intercept[IllegalStateException] {
      Fs.withTempDir("spec-bracket") { root =>
        seen = root
        Files.write(root.resolve("f"), Array[Byte](1))
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(!Files.exists(seen), s"$seen survived a throwing body")
  }
}

/** Pins.eager must materialize BEFORE returning — the whole point of
  * the helper (see util/Pins.scala for the r11 lock cycle).
  */
class PinsSpec extends SparkSuite {
  test("eager pin runs the checkpoint job during the call, not at first consumer") {
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("pins-eager")
    val bump = udf((x: Long) => { acc.add(1L); x })
    val src = spark.range(0, 64, 1, 4).select(bump(col("id")).as("id"))
    // lazy form: nothing runs until an action — the hazard this guards
    val lazyPin = src.localCheckpoint(false)
    assert(acc.value == 0L, "lazy checkpoint must not have materialized yet")
    lazyPin.unpersist(true)
    // eager form: the materializing job runs inside the call itself
    val pinned = graft.util.Pins.eager(src)
    assert(acc.value >= 64L,
      "Pins.eager must materialize before returning (accumulator bumped in-call)")
    assert(pinned.count() == 64L)
    assert(acc.value < 128L, "consumers read blocks, they do not recompute")
    pinned.unpersist(true)
  }

  test("releaseAll logs no lineage-truncated warning per pin; other warnings still print") {
    val msgs = warnings {
      val pinned = graft.util.Pins.eager(spark.range(0, 64, 1, 4).toDF())
      assert(pinned.count() == 64L)
      graft.util.Pins.releaseAll(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, "releaseAll unpersisted the pin")
      org.apache.logging.log4j.LogManager.getLogger("graft.PinsSpec").warn("an unrelated warning")
    }
    assert(msgs.contains("an unrelated warning"), msgs)
    assert(!msgs.exists(_.contains("was locally checkpointed")), msgs)
  }
}

/** [[graft.streaming.StreamRunner.drain]] on queries that run to
  * completion.
  */
class StreamDrainSpec extends SparkSuite {
  test("drain stops no finished query: several AvailableNow drains log no job-group cancel warning") {
    import graft.streaming.StreamRunner
    import spark.implicits._
    val slices = Seq(Seq(1L, 2L).toDF("x"), Seq(3L).toDF("x"))
    val msgs = warnings {
      // the query thread outlives awaitTermination in a good share of
      // drains, so ten of them would all but surely hit a stop race
      for (i <- 1 to 10) graft.util.Fs.withTempDir("spec-drain") { root =>
        val stream = StreamRunner.stageSlices(root, slices).read(spark)
        val (mode, df) = if (i % 2 == 0) ("append", stream) else ("complete", stream.groupBy("x").count())
        assert(StreamRunner.toTable(mode, _ => ())(df).count() == 3L)
      }
      // the scheduler logs a failed cancel from its event loop: a job
      // submitted after it runs only once that event is handled
      spark.range(1).count()
    }
    assert(!msgs.exists(_.contains("Failed to cancel job group")), msgs)
  }
}

/** `plans.RegisterFunctions` on a session that already has the
  * functions, and on one missing one of them.
  */
class RegisterFunctionsSpec extends SparkSuite {
  test("RegisterFunctions registers only missing names: no replaced-function warning, graft_dot resolves") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession() // built with GraftExtensions, as GraftSession's sessions are
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    val msgs = warnings {
      graft.plans.RegisterFunctions(s)
      graft.plans.RegisterFunctions(s)
    }
    assert(!msgs.exists(_.contains("replaced a previously registered function")), msgs)
    assert(s.sql("SELECT graft_dot(array(1f, 2f), array(3f, 4f))").head.get(0).toString.toDouble == 11.0)
    assert(s.sql("SELECT graft_norm(array(3f, 4f))").head.get(0).toString.toDouble == 5.0)
  }
}

/** Accumulator-based soft-error accounting inside Spark tasks. */
class ErrorCollectorSpec extends SparkSuite {
  import spark.implicits._

  test("soft errors are counted with samples; good records survive (fixes B10)") {
    val ec = ErrorCollector(spark.sparkContext)
    val out = spark.range(100).as[Long].mapPartitions { it =>
      it.flatMap(i => ec.guard(s"rec $i") {
        if (i % 10 == 0) throw new IllegalStateException(s"bad $i")
        i * 2
      })
    }.collect()
    assert(out.length == 90)
    assert(ec.count == 10)
    assert(ec.report.nonEmpty && ec.report.size <= 300)
    assert(ec.report.head.contains("IllegalStateException"))
  }

  test("the sample cap holds per job, not per task") {
    val ec = ErrorCollector(spark.sparkContext, maxSamples = 3)
    spark.sparkContext.parallelize(0 until 40, 4).foreach { i =>
      ec.record(s"rec $i", new IllegalStateException(s"bad $i"))
    }
    assert(ec.count == 40)
    assert(ec.report.size == 3, ec.report)
  }

}

/** [[SparkSuite.warnings]] itself. */
class WarningsSpec extends SparkSuite {
  test("warnings captures a WARN logged by a body that is the session's first use") {
    val msgs = warnings {
      spark.range(1).count()
      org.apache.logging.log4j.LogManager.getLogger("graft.spec").warn("probe")
    }
    assert(msgs.contains("probe"), msgs)
  }
}
