package graft

import graft.util.Harness.planNodes
import org.apache.spark.sql.functions._

/** Batch 39 (q360-q363): the persisted CBO lifecycle, the TTL-dedup
  * ingest composition (progress pins live in StreamProgressSpec), the
  * shard plan executed, and the yield report's decontamination gate —
  * plus the explicit AQE pin for the two injected enforcement rules.
  */
class Batch28Spec extends SparkSuite {

  private def hasBloomFilter(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
    p match {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])
      case _ => false
    }

  /** The lifecycle claim, proven end to end: publish the ANALYZE
    * artifacts once, then a genuinely FRESH session registers from
    * the STORE and its consumer plan (a) carries the pre-shuffle
    * might_contain filter, (b) contains NO bloom build — no
    * BloomFilterAggregate, no second customer scan — and (c) returns
    * the plain join's values.  The join-order artifact registers from
    * the same store and provably reorders the fresh session's chain.
    */
  test("q360 store lifecycle: a COLD session reuses the persisted bitmap — zero build-side scans in the consumer plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store")
    try {
      graft.plans.StatsStore.publish(spark, sf, store.toString)
      val fresh = spark.newSession()
      fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // --- bloom artifact: consumer registered with NO dim scan
      val probe = "gbp_spec_cold_store"
      assert(graft.plans.StatsStore.registerBloomFromStore(
        fresh, store.toString, probe), "bloom artifact present and non-null")
      val build = Tables.customer(fresh, sf)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val df = Tables.orders(fresh, sf)
        .select(col("o_custkey").as(probe), col("o_orderpriority"))
        .join(build, col(probe) === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
      val rows = df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      assert(all.exists(hasBloomFilter),
        "the stored bitmap reached the fresh session's physical plan")
      assert(all.collect { case e: ShuffleExchangeLike => e }
          .exists(e => planNodes(e.child).exists(hasBloomFilter)),
        "pre-shuffle: the filter sits below an exchange")
      assert(!all.exists(_.expressions.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate => true
          case _ => false
        })), "no inline bloom BUILD anywhere in the consumer plan")
      val customerScans = all.count(p =>
        p.nodeName.contains("Scan") && p.toString.contains("customer"))
      assert(customerScans == 1,
        s"exactly the join's own customer scan, got $customerScans")
      val plain = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        plain.map(r => (r.getString(0), r.getLong(1))).toSeq,
        "the persisted prefilter is value-invisible")
      // --- join-order artifact: decision re-derived from the store
      val marker = "gjo_spec_cold_store"
      val decision = graft.plans.StatsStore.registerJoinOrderFromStore(
        fresh, store.toString, marker)
      assert(decision.contains(true),
        "the stored chain stats say: customer join first")
      val chain = Tables.orders(fresh, sf)
        .select(col("o_orderkey"), col("o_custkey").as(marker),
          col("o_orderpriority"))
        .join(Tables.lineitem(fresh, sf).select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(build, col(marker) === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      chain.collect()
      val js = planNodes(chain.queryExecution.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      val markerJoin = js.filter(j => (j.leftKeys ++ j.rightKeys)
        .exists(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.contains(marker)))
      assert(markerJoin.length == 1)
      assert(js.filterNot(_ eq markerJoin.head)
          .exists(oj => planNodes(oj).exists(_ eq markerJoin.head)),
        "the STORED decision pulled the customer join innermost in the fresh session")
    } finally {
      graft.plans.BloomRegistry.clear()
      graft.plans.JoinOrderRegistry.clear()
      graft.util.Fs.deleteRecursively(store)
    }
  }

  test("q360 registered query: consumer plan carries the filter and never rebuilds the bloom") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Relational.cboPersisted(spark, sf)
      df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      assert(all.exists(hasBloomFilter), "stored bitmap enforced in the plan")
      assert(!all.exists(_.expressions.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate => true
          case _ => false
        })), "the ANALYZE ran at publish time, not in the consumer plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q356/q357 enforcement survives EXPLICIT AQE re-planning, values exact") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bj = graft.operators.Relational.bloomPrefilteredJoin(spark, sf)
      val bRows = bj.collect()
      val bPlan = bj.queryExecution.executedPlan
      assert(bPlan.isInstanceOf[
          org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        "the pin really runs under AQE")
      assert(planNodes(bPlan).exists(hasBloomFilter),
        "the spliced prefilter survives AQE's runtime re-planning")
      assert(bRows.map(_.getLong(1)).sum ==
        Tables.orders(spark, sf).join(
            Tables.customer(spark, sf)
              .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
            col("o_custkey") === col("c_custkey")).count(),
        "AQE re-planning never costs a row")
      val jo = graft.operators.Relational.joinOrderEnforced(spark, sf)
      jo.collect()
      val js = planNodes(jo.queryExecution.executedPlan).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      val markerJoin = js.filter(j => (j.leftKeys ++ j.rightKeys)
        .exists(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.exists(_.startsWith("gjo_custkey_"))))
      assert(markerJoin.length == 1 &&
        js.filterNot(_ eq markerJoin.head)
          .exists(oj => planNodes(oj).exists(_ eq markerJoin.head)),
        "the reassociated order survives AQE re-planning")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("bloom prefilter refuses DISJUNCTIVE equalities: a registered column under OR gets no filter, rows survive") {
    import spark.implicits._
    // an equality under OR does not force every result row through it;
    // splicing a might_contain there would drop rows matching only
    // via the other disjunct — the rule must collect candidates from
    // top-level conjuncts ONLY
    val probe = "gbp_spec_disjunct"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // range-backed frames: a Filter over LocalRelation would be
      // constant-folded away (ConvertToLocalRelation) and hide the
      // plan evidence; Range keeps the physical Filter visible
      val left = spark.range(0, 6)
        .select(col("id").as(probe), pmod(col("id"), lit(3L)).as("alt"))
      val right = spark.range(0, 4)
        .select(col("id").as("rk"), pmod(col("id"), lit(3L)).as("ralt"))
      val control = spark.range(0, 6)
        .select(col("id").as("gbp_never_registered"),
          pmod(col("id"), lit(3L)).as("alt"))
        .join(right, col("gbp_never_registered") === col("rk") ||
          col("alt") === col("ralt"))
        .count()
      // bloom over ONLY key 1: rows joining via the alt leg must survive
      val bloomDf = Seq(1L).toDF("k")
        .agg(expr("graft_bloom_agg(k, 64, 1024)"))
      graft.plans.BloomRegistry.register(probe,
        bloomDf.head().getAs[Array[Byte]](0))
      val joined = left.join(right,
        col(probe) === col("rk") || col("alt") === col("ralt"))
      val rows = joined.collect()
      assert(rows.length.toLong == control,
        s"disjunctive join loses nothing: ${rows.length} vs $control")
      assert(!planNodes(joined.queryExecution.executedPlan).exists(hasBloomFilter),
        "no might_contain anywhere: the disjunctive equality never seeds a filter")
      // the SAME registration on a purely conjunctive join still fires
      val conj = left.join(right, col(probe) === col("rk"))
      conj.collect()
      assert(planNodes(conj.queryExecution.executedPlan).exists(hasBloomFilter),
        "the conjunctive form of the same column is still filtered")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      graft.plans.BloomRegistry.clear()
    }
  }

  test("property: join reassociation is value-invisible on 40 seeded random 3-chains") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    for (trial <- 1 to 40) {
      val marker = s"gjo_prop_$trial"
      def rows(n: Int) = Seq.fill(n)(
        (rng.nextInt(5).toLong, rng.nextInt(5).toLong, rng.nextInt(100).toLong))
      val aRows = rows(2 + rng.nextInt(8))
      val bRows = Seq.fill(2 + rng.nextInt(8))(
        (rng.nextInt(5).toLong, rng.nextInt(100).toLong))
      val cRows = Seq.fill(2 + rng.nextInt(8))(rng.nextInt(5).toLong)
      // the q357 shape generalized: inner join on k1 (unmarked), outer
      // on k2 (marked) — the swap genuinely fires on every trial
      def chain(k2Name: String) = {
        val a = aRows.toDF("k1", k2Name, "av")
        val b = bRows.toDF("bk", "bv")
        val c = cRows.toDF("ck")
        a.join(b, col("k1") === col("bk"))
          .join(c, col(k2Name) === col("ck"))
          .groupBy(col(k2Name).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("av") + col("bv")).as("s"))
          .orderBy("g")
      }
      val naive = chain("k2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      graft.plans.JoinOrderRegistry.register(marker, innerFirst = true)
      try {
        val enforced = chain(marker).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(enforced == naive,
          s"trial $trial: reassociated values diverged from the naive order")
      } finally graft.plans.JoinOrderRegistry.unregister(marker)
    }
  }

  test("property: the enforced bloom never loses a row on 20 seeded random key sets") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (trial <- 1 to 20) {
        val probe = s"gbp_prop_$trial"
        val buildKeys = Seq.fill(1 + rng.nextInt(20))(rng.nextInt(50).toLong)
        val probeKeys = Seq.fill(1 + rng.nextInt(60))(rng.nextInt(50).toLong)
        val build = buildKeys.toDF("k")
        val bloom = build.agg(expr("graft_bloom_agg(k, 64, 1024)"))
          .head().getAs[Array[Byte]](0)
        graft.plans.BloomRegistry.register(probe, bloom)
        try {
          // Range-backed probe side so the spliced Filter is genuine
          val p = spark.range(0, probeKeys.length)
            .select(col("id"),
              element_at(lit(probeKeys.toArray), (col("id") + 1).cast("int"))
                .as(probe))
          val filtered = p.join(build, col(probe) === col("k")).count()
          val control = probeKeys.map(k => buildKeys.count(_ == k).toLong).sum
          assert(filtered == control,
            s"trial $trial: the bloom dropped a true match ($filtered vs $control)")
        } finally graft.plans.BloomRegistry.unregister(probe)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      graft.plans.BloomRegistry.clear()
    }
  }

  test("termination guard: a chain joining the SAME marked column to both tables refuses the swap and completes") {
    import spark.implicits._
    // both conditions carry the registered marker: an unguarded swap
    // re-marks the outer join and oscillates until the optimizer's
    // iteration cap with a Project nested per pass (found by the
    // property trials as a plan-traversal stack overflow); the rule
    // must refuse and keep the naive order — equally correct
    val marker = "gjo_same_key_both"
    graft.plans.JoinOrderRegistry.register(marker, innerFirst = true)
    try {
      val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF(marker, "av")
      val b = Seq((1L, 1L), (2L, 2L)).toDF("bk", "bv")
      val c = Seq(1L, 2L, 3L).toDF("ck")
      val df = a.join(b, col(marker) === col("bk"))
        .join(c, col(marker) === col("ck"))
        .groupBy(col(marker).as("g")).agg(count(lit(1)).as("n"))
        .orderBy("g")
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 1L), (2L, 1L)),
        "the refused swap leaves plain inner-join semantics intact")
    } finally graft.plans.JoinOrderRegistry.unregister(marker)
  }

  test("q362 shard write: ONE data file per shard directory; flags honest; masses round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-spec-shards")
    try {
      val rows = graft.operators.PipelineAudits
        .shardWriteTo(spark, sf, tmp.toString, 20000L).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r =>
        r.getInt(4) == 1 && r.getInt(5) == 1 && r.getInt(6) == 1),
        "doc/token/id-sum all round-trip per shard")
      // the one-file-per-partition discipline actually held on disk
      val shardDirs = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      assert(shardDirs.length == rows.length,
        s"one directory per shard: ${shardDirs.length} vs ${rows.length}")
      for (d <- shardDirs) {
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1,
          s"${d.getName} has ${parts.length} data files; the repartition(shard) discipline demands 1")
      }
      // conservation against the source corpus
      val total = Tables.documents(spark, sf)
        .select(size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("tok"))
        .agg(sum(col("tok")), count(lit(1))).head()
      assert(rows.map(_.getLong(2)).sum == total.getLong(0),
        "every token written exactly once")
      assert(rows.map(_.getLong(1)).sum == total.getLong(1),
        "every document written exactly once")
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  test("registry LRU bound: 64-entry cap evicts the eldest, never grows unbounded") {
    graft.plans.BloomRegistry.clear()
    try {
      val bytes = Array[Byte](1, 2, 3)
      for (i <- 1 to 80) graft.plans.BloomRegistry.register(s"gbp_lru_$i", bytes)
      assert(graft.plans.BloomRegistry.lookup("gbp_lru_1").isEmpty &&
        graft.plans.BloomRegistry.lookup("gbp_lru_16").isEmpty,
        "the eldest registrations were evicted")
      assert(graft.plans.BloomRegistry.lookup("gbp_lru_17").isDefined &&
        graft.plans.BloomRegistry.lookup("gbp_lru_80").isDefined,
        "the newest 64 survive")
      graft.plans.BloomRegistry.unregister("gbp_lru_80")
      assert(graft.plans.BloomRegistry.lookup("gbp_lru_80").isEmpty,
        "explicit unregister removes the entry")
      graft.plans.JoinOrderRegistry.clear()
      for (i <- 1 to 80)
        graft.plans.JoinOrderRegistry.register(s"gjo_lru_$i", innerFirst = true)
      assert(graft.plans.JoinOrderRegistry.lookup("gjo_lru_1").isEmpty &&
        graft.plans.JoinOrderRegistry.lookup("gjo_lru_80").isDefined,
        "the join-order registry carries the same bound")
    } finally {
      graft.plans.BloomRegistry.clear()
      graft.plans.JoinOrderRegistry.clear()
    }
  }

  test("StatsStore publish is none-or-all: hidden tmp leftovers invisible, republish atomic-replaces") {
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store-crash")
    try {
      // an unpublished store is a NO-DECISION, never an exception
      assert(!graft.plans.StatsStore.registerBloomFromStore(
        spark, store.toString, "gbp_spec_absent"))
      assert(graft.plans.StatsStore.registerJoinOrderFromStore(
        spark, store.toString, "gjo_spec_absent").isEmpty)
      graft.plans.StatsStore.publish(spark, sf, store.toString)
      // a crashed LATER publish leaves only a hidden .tmp-* dir; the
      // committed artifact must stay readable and untouched
      val tmpLeftover = new java.io.File(store.toFile, ".tmp-bloom_custkey")
      tmpLeftover.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(tmpLeftover, "garbage.parquet").toPath,
        Array[Byte](0, 1, 2))
      assert(graft.plans.StatsStore.registerBloomFromStore(
        spark, store.toString, "gbp_spec_crash_probe"),
        "the committed artifact reads through a crashed republish's leftovers")
      graft.plans.BloomRegistry.unregister("gbp_spec_crash_probe")
      // a full republish atomically replaces every artifact (rename
      // over the old dir) and the store stays consistent
      graft.plans.StatsStore.publish(spark, sf, store.toString)
      val cs = graft.plans.StatsStore.readColumnStats(spark, store.toString)
      assert(cs.count() == 4, "column_stats artifact re-published whole")
      assert(graft.plans.StatsStore.registerJoinOrderFromStore(
        spark, store.toString, "gjo_spec_crash_probe").contains(true))
      graft.plans.JoinOrderRegistry.unregister("gjo_spec_crash_probe")
    } finally {
      graft.util.Fs.deleteRecursively(store)
      graft.plans.BloomRegistry.clear()
      graft.plans.JoinOrderRegistry.clear()
    }
  }

  test("versioned publish: a crash at ANY point of a republish leaves the previous artifact serving") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store-vers")
    try {
      def pub(v: Long): Unit = graft.plans.StatsStore.publishNamed(
        spark.range(1).select(lit(v).as("payload")), store.toString, "probe")
      def served(): Long = spark.read.parquet(graft.plans.StatsStore
        .artifactPath(spark, store.toString, "probe").get)
        .head().getLong(0)
      pub(1L)
      assert(served() == 1L)
      // crash WINDOW 1 — republish died after writing its tmp, before
      // the rename: only .tmp-probe is new; v1 must still serve (the
      // old delete-then-rename publish had NO artifact in this window)
      val tmp = new java.io.File(store.toFile, ".tmp-probe"); tmp.mkdirs()
      assert(served() == 1L, "tmp leftovers are invisible to readers")
      // crash WINDOW 2 — republish died after the rename, before the
      // old-version sweep: v1 and v2 both present; the MAX version serves
      pub(2L)
      val v1Ghost = new java.io.File(store.toFile, "probe-v1"); v1Ghost.mkdirs()
      assert(served() == 2L, "readers resolve to the max version")
      // a publish keeps the previous version (a lazy reader may still
      // hold it) and sweeps everything older; the next publish sweeps it
      def leftovers() = store.toFile.list().toSeq.filter(_.startsWith("probe")).sorted
      pub(3L)
      assert(served() == 3L)
      assert(leftovers() == Seq("probe-v2", "probe-v3"),
        s"N-1 kept, older versions swept after the new one is visible: ${leftovers()}")
      pub(4L)
      assert(served() == 4L)
      assert(leftovers() == Seq("probe-v3", "probe-v4"),
        s"N-1 gone after the next publish: ${leftovers()}")
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("versioned publish: a lazy frame read on version N still collects after N+1 is published") {
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store-lazy")
    try {
      def pub(v: Long): Unit = graft.plans.StatsStore.publishNamed(
        spark.range(4).select(lit(v).as("payload")), store.toString, "probe")
      pub(1L)
      pub(2L)
      val onV2 = spark.read.parquet(graft.plans.StatsStore
        .artifactPath(spark, store.toString, "probe").get)
      pub(3L)
      assert(onV2.collect().map(_.getLong(0)).toSeq == Seq.fill(4)(2L),
        "the frame resolved before the publish reads the version it resolved")
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("artifactDirs: a caller regex with its own groups resolves the same serving dirs") {
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store-groups")
    try {
      Seq("probe", "probe-v1", "probe-v2", "other-v5", ".tmp-probe")
        .foreach(d => new java.io.File(store.toFile, d).mkdirs())
      def dirs(re: String) = graft.plans.StatsStore.artifactDirs(spark, store.toString, re)
      val want = Map("probe" -> new org.apache.hadoop.fs.Path(store.toString, "probe-v2").toString)
      assert(dirs("probe") == want)
      for (re <- Seq("(probe)", "(pro)(be)", "(p)(r)obe"))
        assert(dirs(re) == want, s"baseRe $re")
      assert(dirs("probe|other").keySet == Set("probe", "other"))
      // a bare unversioned dir is no artifact: publishes write only `-vN`
      new java.io.File(store.toFile, "bare").mkdirs()
      assert(dirs("(ba)re").isEmpty)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("one publish, many consumers: two registrations off one store, both plans filtered; stored column stats == fresh ANALYZE") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val store = java.nio.file.Files.createTempDirectory("graft-spec-store-amort")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.plans.StatsStore.publish(spark, sf, store.toString)
      // the SAME artifact serves any number of independent consumers —
      // that is what "ONE build amortized" means
      def consumer(probe: String): org.apache.spark.sql.DataFrame = {
        assert(graft.plans.StatsStore.registerBloomFromStore(
          spark, store.toString, probe))
        val build = Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        Tables.orders(spark, sf)
          .select(col("o_custkey").as(probe), col("o_orderpriority"))
          .join(build, col(probe) === col("c_custkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      }
      for (probe <- Seq("gbp_amort_a", "gbp_amort_b")) {
        val df = consumer(probe)
        df.collect()
        val all = planNodes(df.queryExecution.executedPlan)
        assert(all.exists(hasBloomFilter),
          s"consumer $probe rides the shared stored bitmap")
        assert(all.collect { case e: ShuffleExchangeLike => e }
            .exists(e => planNodes(e.child).exists(hasBloomFilter)),
          s"consumer $probe prunes pre-shuffle")
      }
      // the non-enforcement consumers' claim: the stored q338 frame IS
      // the ANALYZE — value-identical to running it fresh
      val stored = graft.plans.StatsStore
        .readColumnStats(spark, store.toString)
        .orderBy("col_name").collect().map(_.toSeq).toSeq
      val fresh = graft.operators.Relational.multiColStats(spark, sf)
        .orderBy("col_name").collect().map(_.toSeq).toSeq
      assert(stored == fresh,
        "readColumnStats replays the q338 ANALYZE bit-for-bit — q335/q342-style consumers never rescan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      graft.plans.BloomRegistry.clear()
      graft.util.Fs.deleteRecursively(store)
    }
  }

  test("q363 plan shape: hit test stays a LEFT-SEMI, no all-pairs, chain windows keyed") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.PipelineAudits.yieldV3(spark, sf)
      df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      assert(!all.exists(_.nodeName.contains("CartesianProduct")),
        "nothing all-pairs anywhere in the seven-gate report")
      val semis = all.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j }
      assert(semis.nonEmpty,
        "the eval hit test is a LEFT-SEMI on the gram key (fan-out <= 1 by construction)")
      val ws = all.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(ws.forall(_.partitionSpec.nonEmpty),
        "span-chain windows keyed by (doc_a, doc_b, diag), never global")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q364 histogram from store: estimates == q335's rebuild path; NO rank window in the consumer plan") {
    val df = graft.operators.Relational.histPersisted(spark, sf)
    val rows = df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    assert(!all.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.window.WindowExec]),
      "the stored artifact replaced the two-pass rank build — no window anywhere")
    val v335 = graft.operators.Relational.selectivityAudit(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSeq ==
      v335.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSeq,
      "the persisted histogram reproduces the q335 audit bit-for-bit")
  }

  test("q365 erasure executed: flags genuinely computed and all green; deletion is referential anti/semi joins") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.PipelineAudits.erasureExec(spark, sf)
      val rows = df.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getInt(5) == 1 && r.getInt(6) == 1 &&
        r.getInt(7) == 1 && r.getInt(8) == 1),
        "kept + cascade rebuilds the pre-deletion books on every nation")
      // the executed deletion really is the FK chain: an anti join
      // (customers minus forget set) and semi joins down the chain
      val all = planNodes(df.queryExecution.executedPlan)
      val joinTypes = all.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType }
      assert(joinTypes.contains(org.apache.spark.sql.catalyst.plans.LeftAnti),
        "kept customers come from a genuine anti join")
      assert(joinTypes.contains(org.apache.spark.sql.catalyst.plans.LeftSemi),
        "kept orders/line items come from genuine semi joins")
      // conservation recount against the raw tables
      val total = Tables.customer(spark, sf).count()
      val keptC = rows.map(_.getLong(1)).sum
      assert(keptC < total, "the designation genuinely deletes customers")
      val gone = graft.operators.PipelineAudits.erasureCascade(spark, sf)
        .collect().map(_.getLong(2)).sum // q329's n_forgotten per nation
      assert(keptC + gone == total,
        "kept + q329's designated == every customer")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q363 yield v3: extends v2 verbatim through gate 5; monotone; decontam gate bites") {
    val v3 = graft.operators.PipelineAudits.yieldV3(spark, sf).collect()
    assert(v3.length == 7, "seven gates: raw through decontam")
    assert(v3.map(_.getInt(0)).toSeq == (0 to 6), "stages contiguous")
    assert(v3.last.getString(1) == "decontam")
    val docs = v3.map(_.getLong(2))
    val toks = v3.map(_.getLong(3))
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      "doc counts monotone non-increasing through the decontam gate")
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a },
      "token mass monotone non-increasing through the decontam gate")
    assert(toks.last > 0L, "a training corpus remains after decontamination")
    assert(toks(6) < toks(5),
      "gate 6 genuinely bites (eval docs leave and hit spans cut)")
    // gates 0-5 are exactly the v2 report
    val v2 = graft.operators.PipelineAudits.yieldV2(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(v3.take(6).map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ==
      v2.toSeq, "v3 extends v2 without disturbing it")
    // v2 and v3 share one builder, so gate 5 also needs a reference of
    // its own: the stage-4 survivors by groupBy-min, cut by the
    // text-rebuilding ExactSubstr cut over the df-16 capped 5-gram spans
    import graft.functions.TextFunctions.{fingerprint, tokens}
    val s2 = Tables.documents(spark, sf)
      .filter(col("lang") === "en" && size(tokens(col("text"))) >= 50)
    val exact = s2.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    val s4 = s2.join(exact, "doc_id")
      .groupBy(fingerprint(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    val tw = Tables.documents(spark, sf).join(s4, "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val (kept, _) = graft.operators.Dedup.cappedGramsAndAccounting(
      graft.operators.Dedup.positionalGramsFromTokens(tw, 5), 16)
    val ref = graft.operators.Dedup.exactSubstrCutFromTokens(tw,
        graft.operators.Dedup.exactSubstrSpansFrom(kept, 5, 12))
      .filter(col("n_kept") >= 1L)
      .agg(count(lit(1)), coalesce(sum(col("n_kept")), lit(0L))).head()
    assert(v2(4)._3 == s4.count(), "the reference survivors are stage 4's")
    val want = (5, "substr_cut", ref.getLong(0), ref.getLong(1))
    assert(v2(5) == want, "q353's gate 5 == the text-rebuilding cut")
    assert((v3(5).getInt(0), v3(5).getString(1), v3(5).getLong(2),
      v3(5).getLong(3)) == want, "q363's gate 5 == the text-rebuilding cut")
    assert(want._4 < v2(4)._4, "the cut removes tokens on the fixture")
  }

  test("enforcement rules COMPOSE: join reorder AND bloom prefilter fire in ONE plan, values exact") {
    graft.plans.RegisterFunctions(spark)
    val marker = "gcomp_custkey_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val cB = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    def chain(probe: String) = {
      val o = Tables.orders(spark, sf).select(col("o_orderkey"),
        col("o_custkey").as(probe), col("o_orderpriority"))
      val l = Tables.lineitem(spark, sf).select(col("l_orderkey"),
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("cents"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .join(cB, col(probe) === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderpriority")
    }
    val bits = cB.agg(expr("graft_bloom_agg(c_custkey, 16384, 131072)"))
      .head().getAs[Array[Byte]](0)
    graft.plans.BloomRegistry.register(marker, bits)
    graft.plans.JoinOrderRegistry.register(marker, innerFirst = true)
    try {
      val q = chain(marker)
      val rows = q.collect()
      val all = planNodes(q.queryExecution.executedPlan)
      // (a) the bloom prefilter fired
      assert(all.exists(hasBloomFilter),
        "the bloom prefilter spliced into the composed plan")
      // (b) the reorder fired: the marker join is the INNER join (its
      // physical node is a descendant of the other join)
      val joins = all.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      val markerJoin = joins.filter(j => (j.leftKeys ++ j.rightKeys)
        .exists(_.collect {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name
        }.exists(_ == marker)))
      assert(markerJoin.length == 1 &&
        joins.filterNot(_ eq markerJoin.head)
          .exists(oj => planNodes(oj).exists(_ eq markerJoin.head)),
        "the marked customer join runs innermost under BOTH rules")
      // (c) convergence hygiene: the optimized logical plan carries no
      // DUPLICATED splice (the pre-fix oscillation left the batch
      // re-splicing every iteration), and two fresh instantiations
      // optimize to the same canonical plan (deterministic fixed point)
      val mcFilters = q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
      }
      assert(mcFilters.nonEmpty && mcFilters.length <= 3,
        s"one splice per side at most (probe + inferred), saw ${mcFilters.length}")
      assert(chain(marker).queryExecution.optimizedPlan.canonicalized.toString ==
          q.queryExecution.optimizedPlan.canonicalized.toString,
        "re-optimization converges to the identical canonical plan")
      // (d) value identity against the naive un-registered control
      graft.plans.BloomRegistry.unregister(marker)
      graft.plans.JoinOrderRegistry.unregister(marker)
      val control = chain("gcomp_none_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      assert(rows.toSeq == control.collect().toSeq,
        "composed enforcement never costs a row")
    } finally {
      graft.plans.BloomRegistry.unregister(marker)
      graft.plans.JoinOrderRegistry.unregister(marker)
    }
  }
}
