package graft

import graft.operators.PipelineAudits
import graft.operators.PipelineAudits.{MisraGries, TokHv}
import graft.util.Harness.planNodes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Batch 9 (q272-q277): semantic checks against direct recounts plus
  * the plan pins the 100 TB story depends on (the PlanGuardSpec rule,
  * local to this batch's file).
  */
class PipelineAuditsSpec extends SparkSuite {

  private def plan(df: DataFrame): Seq[SparkPlan] = planNodes(df.queryExecution.executedPlan)
  private def shuffles(df: DataFrame): Int = plan(df).count(_.isInstanceOf[ShuffleExchangeLike])
  private def names(df: DataFrame): Seq[String] = plan(df).map(_.nodeName)

  // ---- Misra-Gries invariants, directly on the aggregator ----

  test("q272 MG aggregator: est<=true and error<=n/(m+1) under any reduce/merge split") {
    val mg = new MisraGries(3)
    // deterministic skewed stream: key k appears 2^(6-k) times, k=1..6
    val stream: Seq[Long] = (1 to 6).flatMap(k => Seq.fill(1 << (6 - k))(k.toLong))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    def fold(xs: Seq[Long]): Map[Long, Long] =
      xs.foldLeft(mg.zero)((b, x) => mg.reduce(b, TokHv(x)))
    // several merge topologies must all satisfy the bound
    val summaries = Seq(
      fold(stream),
      mg.merge(fold(stream.take(17)), fold(stream.drop(17))),
      mg.merge(mg.merge(fold(stream.take(5)), fold(stream.slice(5, 40))), fold(stream.drop(40))),
      mg.merge(fold(stream.reverse.take(30)), fold(stream.reverse.drop(30))))
    for (s <- summaries) {
      assert(s.size <= 3, s"summary bounded by m: $s")
      for ((k, t) <- truth) {
        val est = s.getOrElse(k, 0L)
        assert(est <= t, s"one-sided: est($k)=$est > true=$t in $s")
        assert(t - est <= n / 4, s"bound: true($k)=$t est=$est n/4=${n / 4} in $s")
      }
    }
  }

  test("q272 heavy hitters: top-10 recount matches, flags are invariantly 1") {
    val df = PipelineAudits.heavyHitterAudit(spark, sf)
    // plan pins BEFORE any action: execution lets AQE collapse the
    // tree into result query stages and the shape is gone
    assert(names(df).exists(_.contains("ObjectHashAggregate")) ||
      names(df).exists(_.contains("SortAggregate")), names(df).distinct.toString)
    assert(names(df).exists(_.contains("TakeOrdered")))
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.forall(r => r.getInt(3) == 1 && r.getInt(4) == 1),
      "MG guarantee flags must hold on every execution")
    val tok = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).filter(col("t") =!= "")
    val top = tok.groupBy("t").count()
      .orderBy(col("count").desc, col("t").asc).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == top.toSeq)
  }

  // ---- Count-Min ----

  test("q273 count-min: one-sided error, exact recount, broadcast cells join, one visible shuffle") {
    val df = PipelineAudits.countMinAudit(spark, sf)
    // pins first (pre-execution): the 1024-row cell table must come in
    // broadcast; the only data-sized shuffle in the visible (post-pin)
    // plan is the final per-token min
    assert(names(df).exists(_.contains("BroadcastHashJoin")), names(df).distinct.toString)
    assert(!names(df).exists(_.contains("SortMergeJoin")))
    // 2 = the per-token min's exchange + the 8-row presentation sort
    assert(shuffles(df) <= 2, s"got ${shuffles(df)} shuffles")
    val rows = df.collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getLong(3) >= 0L), "CMS never underestimates")
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) + r.getLong(3)))
    val tok = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).filter(col("t") =!= "")
    val top = tok.groupBy("t").count()
      .orderBy(col("count").desc, col("t").asc).limit(8).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == top.toSeq)
  }

  // ---- Split + leakage ----

  test("q274 split leakage: splits partition the corpus; assignment is replayable hash math") {
    val df = PipelineAudits.splitLeakage(spark, sf)
    val rows = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    assert(rows.values.map(_._1).sum == total, "splits partition the corpus")
    assert(rows.values.map(_._2).sum ==
      docs.agg(sum("doc_id")).head().getLong(0))
    // replay the assignment independently and compare per-split counts
    val replay = docs.select(
        when(pmod(conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15),
          16, 10).cast("long"), lit(100L)) < 90, "train")
          .when(pmod(conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15),
            16, 10).cast("long"), lit(100L)) < 95, "val").otherwise("test").as("split"))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.view.mapValues(_._1).toMap == replay)
    // leakage is symmetric: a fingerprint spanning k>1 splits marks its
    // docs leaky in EVERY split it touches — total leaky docs equals a
    // direct recount
    val fp = docs.select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fp"),
      pmod(conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long"), lit(100L)).as("b"))
      .withColumn("split", when(col("b") < 90, "train").when(col("b") < 95, "val").otherwise("test"))
    val direct = fp.groupBy("fp").agg(countDistinct("split").as("k"), count(lit(1)).as("c"))
      .filter(col("k") > 1).agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    assert(rows.values.map(_._3).sum == direct)
  }

  // ---- N-gram duplication ----

  test("q275 ngram dup: recount parity and ordering of the dup tiers") {
    val df = PipelineAudits.ngramDupProfile(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, cross, any) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cross <= any && any <= n,
        s"crossdoc ($cross) <= any-dup ($any) <= total ($n): a within-doc repeat is a dup but not cross-doc")
      if (n > 0) assert(math.abs(r.getDouble(4) - cross.toDouble / n.toDouble) == 0.0)
    }
    val totalGrams = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 5)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 5)).as("g"))
      .count()
    assert(rows.map(_.getLong(1)).sum == totalGrams)
  }

  // ---- PII gate ----

  test("q276 pii scan: per-source counts match direct predicate counts; scan reads only (source, text)") {
    val df = PipelineAudits.piiScan(spark, sf)
    // pins first (pre-execution): single aggregation pass —
    // partial+final, one agg exchange plus the bounded (n_sources-row)
    // presentation sort, pruned scan
    assert(shuffles(df) == 2, s"got ${shuffles(df)} shuffles")
    assert(names(df).count(_.contains("HashAggregate")) == 2, "partial+final")
    val scan = plan(df).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.requiredSchema.fieldNames.toSet == Set("source", "text"),
      scan.requiredSchema.fieldNames.mkString(","))
    val rows = df.collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val src = rows.head.getString(0)
    assert(rows.head.getLong(2) ==
      docs.filter(col("source") === src && col("text").rlike("[0-9]{6,}")).count())
    assert(rows.head.getLong(5) ==
      docs.filter(col("source") === src && col("text").rlike("[a-z0-9]{20,}")).count())
  }

  // ---- KS drift ----

  test("q279 ks drift: exact numerator matches a driver-side replay; statistic bounded in [0,1]") {
    val df = PipelineAudits.ksDrift(spark, sf)
    val rows = df.collect()
    val docs = Tables.documents(spark, sf)
    val nSources = docs.select("source").distinct().count()
    assert(rows.length == nSources)
    assert(rows.forall(r => r.getLong(3) >= 0L))
    assert(rows.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
    // literal replay for one source: cumulative counts over the merged
    // support, exact integer cross products
    val src = rows.head.getString(0)
    val lens = docs.select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = lens.length.toLong
    val nS = lens.count(_._1 == src).toLong
    val support = lens.map(_._2).distinct.sorted
    var (cumS, cumAll, best) = (0L, 0L, 0L)
    for (x <- support) {
      cumS += lens.count(p => p._1 == src && p._2 == x)
      cumAll += lens.count(_._2 == x)
      best = math.max(best, math.abs(cumS * (n - nS) - (cumAll - cumS) * nS))
    }
    assert(rows.head.getLong(1) == nS && rows.head.getLong(2) == n - nS)
    assert(rows.head.getLong(3) == best, s"replay $best vs ${rows.head.getLong(3)}")
    assert(rows.head.getDouble(4) == best.toDouble / (nS * (n - nS)).toDouble)
  }

  test("q303 w1 drift: exact numerator matches a driver-side gap-weighted replay; complements KS") {
    val rows = PipelineAudits.w1Drift(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.length == docs.select("source").distinct().count())
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L)
      assert(r.getDouble(4) >= 0.0)
    }
    // literal replay for one source: gap-weighted CDF-difference sum
    val src = rows.head.getString(0)
    val lens = docs.select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = lens.length.toLong
    val nS = lens.count(_._1 == src).toLong
    val support = lens.map(_._2).distinct.sorted
    var (cumS, cumAll, num) = (0L, 0L, 0L)
    for ((x, i) <- support.zipWithIndex) {
      cumS += lens.count(p => p._1 == src && p._2 == x)
      cumAll += lens.count(_._2 == x)
      val gap = if (i + 1 < support.length) support(i + 1) - x else 0L
      num += math.abs(cumS * (n - nS) - (cumAll - cumS) * nS) * gap
    }
    assert(rows.head.getLong(3) == num, s"replay $num vs ${rows.head.getLong(3)}")
    assert(rows.head.getDouble(4) == num.toDouble / (nS * (n - nS)).toDouble)
    // W1 is bounded by the support span (the CDF gap never exceeds 1)
    val span = (support.last - support.head).toDouble
    rows.foreach(r => assert(r.getDouble(4) <= span))
  }

  // ---- k-anonymity ----

  test("q280 k-anonymity: monotone in k; k=5 tier matches a direct recount") {
    val df = PipelineAudits.kAnonymity(spark, sf)
    val rows = df.collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 5, 10, 20))
    assert(rows.map(_.getLong(1)).distinct.length == 1, "n_groups is k-independent")
    assert(rows.map(_.getLong(2)).sliding(2).forall(p => p(0) <= p(1)),
      "small-group count is nondecreasing in k")
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p(0) <= p(1)))
    val direct = Tables.documents(spark, sf)
      .select(col("source"), col("lang"), expr("n_chars div 100").as("band"))
      .groupBy("source", "lang", "band").count()
      .filter(col("count") < 5)
      .agg(coalesce(count(lit(1)), lit(0L)), coalesce(sum("count"), lit(0L)))
      .head()
    val k5 = rows.find(_.getInt(0) == 5).get
    assert(k5.getLong(2) == direct.getLong(0) && k5.getLong(3) == direct.getLong(1))
  }

  // ---- Benford ----

  test("q281 benford: digit counts partition the table; shares sum to 1; digit-9 recount matches") {
    val df = PipelineAudits.benfordAudit(spark, sf)
    // plan pins: the 9-row digit frame is pinned (no re-scan of lineitem
    // in the terminal plan); the only NL attach is the broadcast 1-row
    // total; no cartesian product anywhere
    assert(!names(df).exists(_.contains("CartesianProduct")))
    assert(names(df).count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      "only the 1-row n_total frame NL-attaches")
    assert(plan(df).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.isEmpty,
      "the digit aggregate is pinned; the terminal plan re-scans nothing")
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq == (1 to 9))
    val li = Tables.lineitem(spark, sf)
    assert(rows.map(_.getLong(1)).sum == li.count())
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-12)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-12,
      "the nine Benford literals are a distribution")
    assert(rows.forall(_.getDouble(5) >= 0.0))
    val nine = li.filter(
      substring(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").cast("string"), 1, 1) === "9")
      .count()
    assert(rows.find(_.getInt(0) == 9).get.getLong(1) == nine)
  }

  // ---- Lift table ----

  test("q282 lift: deciles partition the corpus, gains are monotone and end at full capture") {
    val df = PipelineAudits.liftTable(spark, sf)
    // plan pins: the two-pass rank frame is pinned (no corpus re-scan);
    // every window is partitioned (the lit(1) cumulative frame runs over
    // the 10 decile rows only — bounded-frame exception); the two 1-row
    // total frames broadcast-NL-attach; no cartesian
    assert(!names(df).exists(_.contains("CartesianProduct")))
    assert(names(df).count(_.contains("BroadcastNestedLoopJoin")) <= 3,
      "only the 1-row frames NL-attach (rank total, decile totals, base rate)")
    assert(plan(df).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.isEmpty,
      "the global-rank frame is pinned; the terminal plan re-scans nothing")
    val rows = df.collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_.getLong(1)).sum == docs.count())
    assert(rows.map(_.getLong(2)).sum == docs.filter(col("lang") === "en").count())
    assert(rows.map(_.getLong(3)).sliding(2).forall(p => p(0) <= p(1)), "cumulative positives monotone")
    assert(rows.last.getDouble(5) == 1.0, "decile 10 captures every positive")
    // doc-weighted mean lift is exactly 1 (Σ n_pos / base = N·P/P/N)
    val nn = rows.map(_.getLong(1)).sum.toDouble
    val wl = rows.map(r => r.getDouble(4) * r.getLong(1)).sum / nn
    assert(math.abs(wl - 1.0) < 1e-9, s"$wl")
  }

  // ---- NDCG ----

  test("q283 ndcg: bounded by ideal; literal replay for one source") {
    val df = PipelineAudits.ndcgAudit(spark, sf)
    // plan pins: the top-10 window is keyed by source (no global sort);
    // scans prune to the four ranking columns; source-grain equi-join
    // only — no NL join, no cartesian
    val ws = plan(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty), "no unkeyed window")
    assert(!names(df).exists(n => n.contains("CartesianProduct") ||
      n.contains("BroadcastNestedLoopJoin")))
    val scans = plan(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("doc_id", "source", "n_chars", "lang"))),
      "column pruning to the ranking columns")
    val rows = df.collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.length == docs.select("source").distinct().count())
    assert(rows.forall(r => r.getLong(2) <= r.getLong(3)), "DCG <= IDCG by construction")
    assert(rows.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
    val src = rows.head.getString(0)
    val ranked = docs.filter(col("source") === src)
      .select(col("doc_id"), col("n_chars"), (col("lang") === "en").cast("long").as("rel"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .sortBy(t => (-t._1, t._2))
    val dcg = ranked.take(10).zipWithIndex
      .map { case ((_, _, rel), i) => rel * PipelineAudits.NdcgWu(i) }.sum
    val p = ranked.count(_._3 == 1L)
    val idcg = if (p == 0) 0L else PipelineAudits.NdcgPrefix(math.min(p, 10) - 1)
    assert(rows.head.getLong(2) == dcg && rows.head.getLong(3) == idcg)
    if (idcg > 0) assert(rows.head.getDouble(4) == dcg.toDouble / idcg.toDouble)
  }

  // ---- Cohen's kappa ----

  test("q284 kappa: cells partition each source; closed form equals the textbook form; scan prunes") {
    val df = PipelineAudits.cohensKappa(spark, sf)
    // plan pins: one pruned scan, one keyed aggregate, no join of any kind
    assert(!names(df).exists(n => n.contains("Join") || n.contains("CartesianProduct")))
    val scans = plan(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("source", "lang", "n_chars"))),
      "column pruning to the two rater columns")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == r.getLong(1),
        "2x2 cells partition the source")
      val po = r.getDouble(6); val pe = r.getDouble(7)
      if (!r.isNullAt(8))
        assert(math.abs(r.getDouble(8) - (po - pe) / (1.0 - pe)) < 1e-12,
          "single-divide closed form == textbook (po-pe)/(1-pe)")
      assert(r.getDouble(8) <= 1.0 + 1e-12)
    }
    // direct crosstab replay for one source
    val src = rows.head.getString(0)
    val d = Tables.documents(spark, sf).filter(col("source") === src)
    val n11 = d.filter(col("lang") === "en" && col("n_chars") >= 300L).count()
    val n00 = d.filter(col("lang") =!= "en" && col("n_chars") < 300L).count()
    assert(rows.head.getLong(2) == n11 && rows.head.getLong(5) == n00)
  }

  // ---- MCC threshold sweep ----

  test("q285 mcc sweep: cells partition the corpus at every threshold; tp monotone down, tn up") {
    val df = PipelineAudits.mccSweep(spark, sf)
    assert(!names(df).exists(n => n.contains("Join") || n.contains("CartesianProduct")))
    val scans = plan(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("lang", "n_chars"))))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == PipelineAudits.MccThresholds)
    val n = Tables.documents(spark, sf).count()
    rows.foreach(r => assert(
      r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == n))
    assert(rows.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)), "tp non-increasing in T")
    assert(rows.map(_.getLong(4)).sliding(2).forall(p => p(0) <= p(1)), "tn non-decreasing in T")
    // direct confusion recount at T=200
    val d = Tables.documents(spark, sf)
    val tp = d.filter(col("lang") === "en" && col("n_chars") >= 200L).count()
    val fp = d.filter(col("lang") =!= "en" && col("n_chars") >= 200L).count()
    val at = rows.find(_.getLong(0) == 200L).get
    assert(at.getLong(1) == tp && at.getLong(2) == fp)
    // mcc bounded
    rows.filterNot(_.isNullAt(8)).foreach(r =>
      assert(r.getDouble(8) >= -1.0 - 1e-12 && r.getDouble(8) <= 1.0 + 1e-12))
  }

  // ---- A/B z-test ----

  test("q286 ab z: arms partition each source; z sign follows the rate difference; assignment replays") {
    val df = PipelineAudits.abZTest(spark, sf)
    assert(!names(df).exists(n => n.contains("Join") || n.contains("CartesianProduct")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val d = Tables.documents(spark, sf)
    val bySrc = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(3) == bySrc(r.getString(0)), "arms partition the source")
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(4) <= r.getLong(3))
      if (!r.isNullAt(8)) {
        val z = r.getDouble(8)
        assert(math.signum(r.getDouble(5) - r.getDouble(6)) == math.signum(z) || z == 0.0)
      }
    }
    // arm assignment replays as pure hash math for one source's cells
    val src = rows.head.getString(0)
    val armExpr = pmod(
      conv(substring(md5(concat(lit("ab:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long"), lit(2L))
    val na = d.filter(col("source") === src && armExpr === 0L).count()
    assert(rows.head.getLong(1) == na)
  }

  // ---- Training-order mixing ----

  test("q289 mixing: pairs = N-1 in both orders; sequential adjacency is exactly N - #sources; shuffled lands near expectation") {
    val df = PipelineAudits.mixingAudit(spark, sf)
    assert(!names(df).exists(_.contains("CartesianProduct")))
    assert(names(df).count(_.contains("BroadcastNestedLoopJoin")) <= 3,
      "only the bounded expectation/total frames NL-attach")
    val rows = df.collect().sortBy(_.getString(0))
    assert(rows.map(_.getString(0)).toSeq == Seq("sequential", "shuffled"))
    val d = Tables.documents(spark, sf)
    val n = d.count(); val nSrc = d.select("source").distinct().count()
    rows.foreach(r => assert(r.getLong(1) == n - 1, "exactly N-1 adjacent pairs"))
    assert(rows.head.getLong(2) == n - nSrc,
      "(source, doc_id) order: same-source pairs = N - #sources")
    val shuffled = rows(1)
    assert(shuffled.getLong(2) < rows.head.getLong(2), "hash order mixes strictly better")
    assert(shuffled.getDouble(5) > 0.2 && shuffled.getDouble(5) < 2.0,
      "shuffled order lands near the random-permutation expectation")
  }

  // ---- PSI drift ----

  test("q290 psi: every term non-negative so psi >= 0; bands account for the corpus; driver replay") {
    val df = PipelineAudits.psiDrift(spark, sf)
    assert(!names(df).exists(_.contains("CartesianProduct")))
    assert(names(df).count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      "only the 1-row total frames NL-attach")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0, "each (p-q)ln(p/q) term shares sign across factors")
      assert(r.getLong(3) >= 0L)
    }
    // driver replay for one source (GraftLn == Math.log bit-exactly)
    val d = Tables.documents(spark, sf)
    val src = rows.head.getString(0)
    val corpus = d.select(expr("n_chars div 50").as("b")).groupBy("b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mine = d.filter(col("source") === src).select(expr("n_chars div 50").as("b"))
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = corpus.values.sum.toDouble; val ns = mine.values.sum.toDouble
    val psi = mine.toSeq.sortBy(_._1).map { case (b, c) =>
      val p = c / ns; val q = corpus(b) / n
      (p - q) * java.lang.Math.log((c * corpus.values.sum).toDouble / (corpus(b) * mine.values.sum).toDouble)
    }.foldLeft(0.0)(_ + _)
    assert(rows.head.getDouble(4) == psi, s"${rows.head.getDouble(4)} vs $psi")
    assert(rows.head.getLong(2) == mine.size.toLong &&
      rows.head.getLong(3) == (corpus.size - mine.size).toLong)
  }

  // ---- MDE design ----

  test("q291 mde: formula replays bit-exactly from the exact cells; rel = abs/p") {
    val df = PipelineAudits.mdeAudit(spark, sf)
    assert(!names(df).exists(n => n.contains("Join") || n.contains("CartesianProduct")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.filterNot(_.isNullAt(5)).foreach { r =>
      val na = r.getLong(1); val nb = r.getLong(2); val x = r.getLong(3)
      val p = x.toDouble / (na + nb).toDouble
      val mde = (PipelineAudits.Z975 + PipelineAudits.Z80) *
        math.sqrt((p * (1.0 - p)) * (1.0 / na.toDouble + 1.0 / nb.toDouble))
      assert(r.getDouble(5) == mde, "driver replay of the closed form")
      assert(r.getDouble(6) == mde / p)
      assert(mde > 0.0 && mde < 1.0)
    }
  }

  // ---- SPRT depth ----

  test("q292 sprt: driver walk of one stream reproduces the stop; depth bounded; keyed window only") {
    val df = PipelineAudits.sprtDepth(spark, sf)
    // the walked frame (keyed window inside) is pinned — the terminal
    // plan re-scans nothing and joins only on the event_type grain
    assert(plan(df).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.isEmpty,
      "walked frame is pinned; no re-scan")
    assert(plan(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .forall(_.partitionSpec.nonEmpty), "no unkeyed window")
    assert(!names(df).exists(_.contains("CartesianProduct")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
        assert(Seq("accept_h0", "accept_h1").contains(r.getString(5)))
      } else assert(r.getString(5) == "none")
    }
    // literal walk for one event type
    val et = rows.head.getString(0)
    val stream = Tables.events(spark, sf).filter(col("event_type") === et)
      .select(col("ts"), col("event_id"), (col("value") >= 30.0).cast("long").as("s"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1.getTime / 1000, t._1.getNanos, t._2))
    var k = 0L; var stop = Option.empty[(Long, Long, Double)]
    for ((( _, _, s), i) <- stream.zipWithIndex if stop.isEmpty) {
      k += s
      val n = i + 1L
      val llr = k.toDouble * PipelineAudits.SprtL1 + (n - k).toDouble * PipelineAudits.SprtL0
      if (llr >= PipelineAudits.SprtA || llr <= PipelineAudits.SprtB) stop = Some((n, k, llr))
    }
    val r0 = rows.head
    stop match {
      case Some((n, kk, llr)) =>
        assert(r0.getLong(2) == n && r0.getLong(3) == kk && r0.getDouble(4) == llr)
      case None => assert(r0.isNullAt(2))
    }
  }

  // ---- Chi-square independence ----

  test("q294 chi2: cells partition the stream; margins recount; expected sums to observed per row") {
    val df = PipelineAudits.chi2Independence(spark, sf)
    assert(!names(df).exists(_.contains("CartesianProduct")))
    assert(names(df).count(_.contains("BroadcastNestedLoopJoin")) <= 1)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val n = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == n, "cells partition the events")
    // per event type: the row margin equals the direct recount and the
    // expected counts sum back to the margin (Σ_c r·c/n = r)
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val r = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == r)
      assert(math.abs(rs.map(_.getDouble(5)).sum - r.toDouble) < 1e-6)
      rs.foreach(x => assert(x.getDouble(6) >= 0.0))
    }
  }

  // ---- Quantile normalization ----

  test("q277 quantile norm: deciles partition each source; global ranks sum to N(N+1)/2; no unpartitioned window") {
    val df = PipelineAudits.quantileNormAudit(spark, sf)
    // scale pin first (pre-execution): every window is partitioned
    // (two-pass global rank — no single-partition WindowExec anywhere)
    val winParts = plan(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.size
    }
    assert(winParts.forall(_ > 0), s"unpartitioned window present: $winParts")
    val rows = df.collect()
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = rows.groupBy(_.getString(0))
    for ((s, rs) <- bySource) {
      assert(rs.map(_.getLong(2)).sum == perSource(s), s"deciles partition source $s")
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"decile ids contiguous for $s")
    }
    assert(rows.map(_.getLong(3)).sum == n * (n + 1) / 2, "global ranks are a permutation of 1..N")
    // the mean percentile, doc-weighted over everything, is exactly 1/2
    val wmean = rows.map(r => r.getDouble(4) * r.getLong(2)).sum / n.toDouble
    assert(math.abs(wmean - 0.5) < 1e-12, s"$wmean")
  }
}
