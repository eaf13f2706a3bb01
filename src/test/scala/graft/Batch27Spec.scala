package graft

import graft.operators.Dedup
import graft.util.Harness.planNodes
import org.apache.spark.sql.functions._

/** Batch 34 (q351, q352): the ExactSubstr CUT and coverage rollup
  * COMPOSED with the q334 df-capped anchor frame — fixture-identical
  * where the cap is slack, token-superset/cut-subset where it binds,
  * and accounting that survives even a corpus where the cap removes
  * every span (the zero-span-safe path).
  */
class Batch27Spec extends SparkSuite {

  private val hot = "the quick brown fox jumps over the lazy dog again and again today"
  private val rare = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau"

  /** q349's five gates (stage, gate, n_docs, n_tokens) on the sf0.001
    * fixture: q349 shares its builder with q353/q363, and a change made
    * for their later gates must not move these.
    */
  private val Q349Gates = Seq((0, "raw", 500L, 27939L),
    (1, "lang_en", 193L, 10343L), (2, "len_ge_50", 103L, 7680L),
    (3, "exact_dedup", 103L, 7680L), (4, "fingerprint_dedup", 85L, 6139L))

  /** 6 verbatim copies of the hot line (every 5-gram df=6 > cap 4)
    * plus two docs sharing a rare 14-token span (df=2, survives).
    */
  private def craftedDocs = {
    import spark.implicits._
    Dedup.tokenized(((1 to 6).map(i => (i.toLong, hot)) ++
      Seq((100L, s"prefix one two three $rare"),
          (101L, s"$rare suffix four five six")))
      .toDF("doc_id", "text")
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(2L)))),
      "source")
  }

  test("q351 capped cut == q337 cut on the fixture (cap slack), accounting zero") {
    val capped = Dedup.exactSubstrCutCapped(spark, sf).collect()
    assert(capped.forall(r => r.getLong(5) == 0L && r.getLong(6) == 0L),
      "no grams capped on the fixture (measured max 5-gram df is 4)")
    val cappedVals = capped.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val uncapped = Dedup.exactSubstrCut(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(cappedVals == uncapped, "capped cut identical where the cap is slack")
    assert(capped.exists(_.getLong(3) > 0L), "fixture has cut mass")
  }

  test("q352 capped coverage == q301 coverage on the fixture, accounting zero") {
    val capped = Dedup.dupCoverageCapped(spark, sf).collect()
    assert(capped.forall(r => r.getLong(5) == 0L && r.getLong(6) == 0L))
    val cappedVals = capped.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val uncapped = Dedup.dupCoverage(spark, sf).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(cappedVals == uncapped, "capped coverage identical where the cap is slack")
  }

  test("crafted hot gram: capped cut keeps a SUPERSET of tokens (cuts less, never more)") {
    val docs = craftedDocs
    val grams = Dedup.positionalGramsFromTokens(docs, 5)
    val uncapped = Dedup.exactSubstrCutFromTokens(docs,
        Dedup.exactSubstrSpansFrom(grams, 5, 12)).collect()
      .map(r => r.getLong(0) -> r).toMap
    val (kept, acc) = Dedup.cappedGramsAndAccounting(grams, 4)
    val capped = Dedup.exactSubstrCutFromTokens(docs,
        Dedup.exactSubstrSpansFrom(kept, 5, 12))
      .crossJoin(broadcast(acc)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(capped.keySet == uncapped.keySet, "one row per document on both paths")
    // superset of tokens: the cap can only break/shorten runs, so the
    // capped cut's kept count dominates per document
    assert(capped.forall { case (id, r) => r.getLong(2) >= uncapped(id).getLong(2) },
      "capped n_kept >= uncapped n_kept for every document")
    // hot-line docs 2..6: uncapped cuts all 13 tokens; capped cuts none
    for (id <- 2L to 6L) {
      assert(uncapped(id).getLong(3) == 13L, s"uncapped cuts doc $id entirely")
      assert(capped(id).getLong(3) == 0L && capped(id).getString(4) == hot,
        s"capped leaves hot-only doc $id verbatim (grams never reach the join)")
    }
    // the rare span's anchors are df=2 <= cap: doc 101 cut identically
    assert(capped(101L).getLong(3) == 14L &&
      capped(101L).getString(4) == uncapped(101L).getString(4) &&
      capped(101L).getString(4) == "suffix four five six",
      "rare cross-doc span still cut, survivor side intact")
    // accounting on EVERY row: 9 hot grams, 6 occurrences each
    assert(capped.values.forall(r => r.getLong(5) == 9L && r.getLong(6) == 54L),
      "grams_capped=9, anchors_dropped=54 ride every output row")
    // token conservation holds on both paths
    assert(capped.values.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)))
  }

  test("zero-span corpus: accounting SURVIVES the cap removing every span") {
    import spark.implicits._
    // hot line only: the cap drops every anchor, the span frame is
    // EMPTY — the q334 span-row path would lose the accounting here
    // (documented edge case); the cut path must not
    val docs = Dedup.tokenized((1 to 6).map(i => (i.toLong, hot)).toDF("doc_id", "text")
      .withColumn("source", lit("s0")), "source")
    val grams = Dedup.positionalGramsFromTokens(docs, 5)
    val (kept, acc) = Dedup.cappedGramsAndAccounting(grams, 4)
    assert(Dedup.exactSubstrSpansFrom(kept, 5, 12).isEmpty,
      "every span died under the cap")
    val cut = Dedup.exactSubstrCutFromTokens(docs,
        Dedup.exactSubstrSpansFrom(kept, 5, 12))
      .crossJoin(broadcast(acc)).collect()
    assert(cut.length == 6, "one row per document regardless")
    assert(cut.forall(r => r.getLong(3) == 0L && r.getString(4) == hot),
      "nothing cut, text verbatim")
    assert(cut.forall(r => r.getLong(5) == 9L && r.getLong(6) == 54L),
      "drop accounting reported on every row despite zero spans")
    val cov = Dedup.dupCoverageFromTokens(docs,
        Dedup.exactSubstrSpansFrom(kept, 5, 12))
      .crossJoin(broadcast(acc)).collect()
    assert(cov.length == 1 && cov.head.getLong(3) == 0L &&
      cov.head.getLong(5) == 9L && cov.head.getLong(6) == 54L,
      "coverage rollup carries the accounting through zero spans too")
  }

  test("q353 yield v2: monotone non-increasing through the cut stage; stage 5 prices the cut") {
    val rows = graft.operators.PipelineAudits.yieldV2(spark, sf).collect()
    assert(rows.length == 6, "six gates: raw through substr_cut")
    assert(rows.map(_.getInt(0)).toSeq == (0 to 5), "stages contiguous")
    assert(rows.last.getString(1) == "substr_cut")
    val docs = rows.map(_.getLong(2))
    val toks = rows.map(_.getLong(3))
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      "doc counts monotone non-increasing through every gate")
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a },
      "token mass monotone non-increasing through every gate")
    assert(toks.last > 0L, "the cut leaves a corpus")
    // the first five gates are exactly q349's report
    val v1 = graft.operators.PipelineAudits.pipelineYield(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.take(5).map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq == v1.toSeq,
      "v2 extends q349 without disturbing it")
  }

  test("q353 plan shape: gate 5 counts cut positions, no per-token text rebuild; q349 unchanged") {
    val df = graft.operators.PipelineAudits.yieldV2(spark, sf)
    df.collect()
    val all = planNodes(df.queryExecution.executedPlan)
    val collects = all.filter(_.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.aggregate.CollectList])))
    assert(collects.isEmpty,
      s"no collect_list aggregate, saw ${collects.map(_.nodeName)}")
    // the rebuild's other half: every survivor token exploded and
    // anti-joined against the cut positions (column pruning already
    // drops an unused collect_list, so this is the check that bites)
    val antis = all.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j }
    assert(antis.isEmpty, "gate 5 anti-joins no token stream against the cut")
    val v1 = graft.operators.PipelineAudits.pipelineYield(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(v1.toSeq == Q349Gates, "q349's five gates as before")
  }

  test("q354 stats IVM: merged partials == full recompute; delta accounting real") {
    val rows = graft.operators.Relational.statsIvm(spark, sf).collect()
    assert(rows.length == 5, "count/min/max/sum/ndv")
    assert(rows.forall(_.getInt(3) == 1),
      "every mergeable stat matches the direct recompute")
    assert(rows.forall(r => r.getLong(1) == r.getLong(2)),
      "merged_value == direct_value (the flag is honest)")
    val r0 = rows.head
    assert(r0.getLong(4) > 0L && r0.getLong(5) > 0L,
      "both prior and delta day ranges are non-empty")
    val total = rows.find(_.getString(0) == "count").get.getLong(2)
    assert(r0.getLong(6) > 0L && r0.getLong(6) < total,
      "the incremental refresh scans strictly fewer rows than a full recompute")
  }

  test("q356: the registered bloom becomes a PRE-SHUFFLE might_contain Filter; values untouched; scope airtight") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    def hasBloom(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case f: FilterExec =>
          f.condition.exists(_.isInstanceOf[BloomFilterMightContain])
        case _ => false
      }
    // fixture-scale broadcasts off so the probe side shows its
    // production shuffle and the filter's position is meaningful
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Relational.bloomPrefilteredJoin(spark, sf)
      val rows = df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      assert(all.exists(hasBloom),
        "the injected optimizer rule spliced the bloom prefilter into the physical plan")
      // pre-shuffle: some exchange's SUBTREE carries the filter — the
      // pruning happens before rows move
      val exchanges = all.collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.nonEmpty, "broadcast disabled: the join shuffles")
      assert(exchanges.exists(e => planNodes(e.child).exists(hasBloom)),
        "the might_contain filter sits BELOW an exchange (pre-shuffle pruning)")
      // value identity: the bloom has no false negatives, so the
      // result is the plain join's
      val plain = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
            .as("sum_cents"))
        .orderBy("o_orderpriority").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        plain.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
        "prefiltered result identical to the plain join")
      // scope: an UNRELATED join on the same underlying column gets
      // NO filter — the registry keys on the per-call unique name
      val unrelated = Tables.orders(spark, sf).join(
        Tables.customer(spark, sf).select(col("c_custkey").as("o_custkey")),
        "o_custkey").groupBy().count()
      unrelated.collect()
      assert(!planNodes(unrelated.queryExecution.executedPlan).exists(hasBloom),
        "the rule never fires on joins that did not register a bloom")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q356: the prefilter MEASURABLY shrinks the shuffle — records written drop vs the unfiltered control") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      planNodes(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
        .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value))
        .sum
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val filtered = shuffleRecords(
        graft.operators.Relational.bloomPrefilteredJoin(spark, sf))
      // control: identical shape, probe column name never registered
      val control = shuffleRecords {
        val build = Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        Tables.orders(spark, sf).select(
            col("o_custkey").as("gbp_control_never_registered"),
            col("o_orderpriority"),
            floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
              .as("price_cents"))
          .join(build, col("gbp_control_never_registered") === col("c_custkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price_cents")).as("sum_cents"))
          .orderBy("o_orderpriority")
      }
      assert(filtered > 0L && control > 0L, "both plans shuffled")
      assert(filtered < control,
        s"the pre-shuffle bloom prunes rows before they move: $filtered < $control shuffle records")
      // the pruning is substantial, not cosmetic: the BUILDING segment
      // is ~1/5 of customers, so well under half the control's probe
      // rows should survive the bitmap (fp rate is the slack)
      assert(filtered.toDouble < control.toDouble * 0.6,
        s"expected a substantial reduction, got $filtered vs $control")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q357: the stats decision REORDERS the physical join — selective join innermost; naive shape untouched without registration") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    def joins(p: SparkPlan): Seq[BaseJoinExec] =
      planNodes(p).collect { case j: BaseJoinExec => j }
    def keyNames(j: BaseJoinExec): Set[String] =
      (j.leftKeys ++ j.rightKeys).flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
      }).toSet
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Relational.joinOrderEnforced(spark, sf)
      val rows = df.collect()
      val js = joins(df.queryExecution.executedPlan)
      assert(js.length == 2, s"two joins in the chain, got ${js.length}")
      val markerJoin = js.filter(j => keyNames(j).exists(_.startsWith("gjo_custkey_")))
      assert(markerJoin.length == 1, "exactly one join carries the marked custkey condition")
      // ENFORCED: the marked (selective customer) join is the INNER
      // one — a descendant of the orderkey join
      val outerJoin = js.filterNot(_ eq markerJoin.head).head
      assert(planNodes(outerJoin).exists(_ eq markerJoin.head),
        "the registered decision pulled the customer join INNERMOST")
      // value identity vs the naive-order plain join
      val plain = Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .join(Tables.lineitem(spark, sf).select(col("l_orderkey"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
            .as("cents")), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderpriority").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        plain.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
        "reassociation is value-invisible")
      // control: the SAME shape with an UNREGISTERED marker keeps the
      // naive order — the rule (not the planner) made the change
      val cB = Tables.customer(spark, sf)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val naive = Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey").as("gjo_unregistered_x"),
          col("o_orderpriority"))
        .join(Tables.lineitem(spark, sf).select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(cB, col("gjo_unregistered_x") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      naive.collect()
      val njs = joins(naive.queryExecution.executedPlan)
      val nMarker = njs.filter(j => keyNames(j).contains("gjo_unregistered_x"))
      assert(nMarker.length == 1)
      assert(!njs.filterNot(_ eq nMarker.head)
          .exists(oj => planNodes(oj).exists(_ eq nMarker.head)),
        "without a registered decision the custkey join stays OUTERMOST (naive order)")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q351/q352 plan shape: capped compositions stay content equi-joins, keyed chain windows, reused gram exchange") {
    // the Batch23 production-regime pin extended to the round-18
    // compositions: broadcasts off, the anchor join must stay an
    // equi-join with the single gram exchange reused
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (df <- Seq(Dedup.exactSubstrCutCapped(spark, sf),
                     Dedup.dupCoverageCapped(spark, sf))) {
        df.collect()
        val all = planNodes(df.queryExecution.executedPlan)
        assert(!all.exists(_.nodeName.contains("CartesianProduct")),
          "no all-pairs anywhere in the capped composition")
        val ws = all.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w }
        assert(ws.forall(_.partitionSpec.nonEmpty),
          "chain windows keyed by (doc_a, doc_b, diag), never global")
        assert(all.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
          "the gram-key exchange is built once and reused")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q359 plan shape: the row-side cumsum window is pid-keyed (no global row window)") {
    val df = graft.operators.PipelineAudits.shardPlan(spark, sf)
    df.collect()
    val ws = planNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(ws.nonEmpty)
    // exactly one window may run partition-less: the 32-row
    // per-partition OFFSETS fold (the bounded-frame exception shared
    // with globalRank); the document-sized cumsum must be pid-keyed
    val unkeyed = ws.filter(_.partitionSpec.isEmpty)
    assert(ws.exists(_.partitionSpec.nonEmpty),
      "the row-side cumulative sum is keyed by pid")
    assert(unkeyed.isEmpty || unkeyed.forall(w =>
      !w.child.output.exists(_.name == "doc_id")),
      "no document-sized frame ever crosses a single-partition window")
  }

  test("q357 guard: a registered decision whose swap would be UNSOUND is refused") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // chain customer ⋈ orders ⋈ lineitem where the OUTER condition
    // references the MIDDLE table (orders): swapping would leave the
    // inner join with no key (a cartesian) — the c2 ⊆ A∪C guard must
    // refuse even though the marker is registered innerFirst=true
    val marker = "gjo_guard_probe_ok"
    graft.plans.JoinOrderRegistry.register(marker, innerFirst = true)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val c = Tables.customer(spark, sf).select(col("c_custkey"))
      val o = Tables.orders(spark, sf).select(col("o_custkey"),
        col("o_orderkey").as(marker), col("o_orderpriority"))
      val l = Tables.lineitem(spark, sf).select(col("l_orderkey"))
      val df = c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col(marker) === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
      val rows = df.collect()
      val all = planNodes(df.queryExecution.executedPlan)
      assert(!all.exists(_.nodeName.contains("CartesianProduct")),
        "the unsound swap never happens — no cartesian appears")
      val js = all.collect { case j: BaseJoinExec => j }
      val markerJoin = js.filter(j => (j.leftKeys ++ j.rightKeys).exists(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
      }.contains(marker)))
      assert(markerJoin.length == 1)
      assert(!js.filterNot(_ eq markerJoin.head)
          .exists(oj => planNodes(oj).exists(_ eq markerJoin.head)),
        "the marked join stays OUTERMOST: the guard refused the registered swap")
      // and the values are the plain 3-way join's
      val expect = Tables.customer(spark, sf).select(col("c_custkey"))
        .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        expect.map(r => (r.getString(0), r.getLong(1))).toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      graft.plans.JoinOrderRegistry.clear()
    }
  }

  test("q358 decontam cut: redaction iff q340 flags it; conservation; clean docs verbatim") {
    val cut = graft.operators.Dedup.decontamCut(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val flags = graft.operators.Dedup.evalContamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(cut.keySet == flags.keySet,
      "both queries cover exactly the hash-designated eval docs")
    assert(cut.values.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)),
      "n_kept + n_cut == n_tok")
    // a document is redacted IFF q340 flagged it contaminated
    assert(cut.forall { case (id, r) => (r.getLong(3) > 0L) == (flags(id) == 1) },
      "redaction agrees with the contamination flag, doc by doc")
    val orig = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clean = cut.values.filter(_.getLong(3) == 0L)
    assert(clean.nonEmpty && clean.forall(r => r.getString(4) == orig(r.getLong(0))),
      "unredacted eval docs round-trip verbatim")
    assert(cut.values.exists(_.getLong(3) > 0L), "the fixture has real leakage to redact")
  }

  test("q359 shard plan: token mass conserved, docs conserved, shards budget-shaped") {
    val rows = graft.operators.PipelineAudits.shardPlan(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("tok"))
    val total = docs.agg(sum(col("tok")), count(lit(1))).head()
    assert(rows.map(_.getLong(2)).sum == total.getLong(0),
      "every token lands in exactly one shard")
    assert(rows.map(_.getLong(1)).sum == total.getLong(1),
      "every document lands in exactly one shard")
    assert(rows.forall(_.getLong(0) >= 0L))
    assert(rows.length >= 2, "the budget yields multiple shards on the fixture")
    // start-offset assignment: every non-final shard holds at least
    // S tokens minus its final document's overshoot — concretely, its
    // mass is positive and the fill fraction recomputes exactly
    assert(rows.forall(r =>
      r.getDouble(3) == r.getLong(2).toDouble / 20000.0),
      "fill_frac is the single pinned divide")
  }

  test("crafted hot gram: capped coverage covers a SUBSET of positions") {
    val docs = craftedDocs
    val grams = Dedup.positionalGramsFromTokens(docs, 5)
    def bySource(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val uncapped = bySource(Dedup.dupCoverageFromTokens(docs,
      Dedup.exactSubstrSpansFrom(grams, 5, 12)))
    val (kept, _) = Dedup.cappedGramsAndAccounting(grams, 4)
    val capped = bySource(Dedup.dupCoverageFromTokens(docs,
      Dedup.exactSubstrSpansFrom(kept, 5, 12)))
    assert(capped.keySet == uncapped.keySet)
    assert(capped.forall { case (s, n) => n <= uncapped(s) },
      "capped covered positions per source never exceed the uncapped truth")
    assert(capped.values.sum < uncapped.values.sum,
      "the cap actually bound (hot-line coverage gone)")
    assert(capped.values.sum > 0L, "the rare span's coverage remains")
  }
}
