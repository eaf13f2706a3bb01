package graft

import graft.operators.{Dedup, EventOps, Multimodal, PipelineAudits, Relational, Similarity}
import graft.util.Harness
import graft.util.Harness.planNodes
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Batches 17-19 (q306-q315): semantic invariants checked against
  * direct recounts — cluster geometry (silhouette, Davies-Bouldin),
  * bipartite centrality (HITS), the Fellegi-Sunter pattern scorer,
  * the AMS F2 sketch, diff-in-diff, dup-graph conductance,
  * content-defined chunking, the CMH stratified test, and
  * l-diversity.
  */
class Batch17Spec extends SparkSuite {

  test("q306 silhouette: cells partition the corpus, means replay from sums, s bounded") {
    val rows = Similarity.silhouette(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "cells partition the corpus")
    // membership must be EXACTLY the q73 cells (same argmax-dot rule)
    val cells = Similarity.kmeansCells(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- rows)
      assert(cells(r.getLong(0)) == r.getLong(1),
        s"cell ${r.getLong(0)} population differs from q73")
    for (r <- rows) {
      val n = r.getLong(1); val sq = r.getLong(2); val neg = r.getLong(3)
      val mean = r.getDouble(4)
      assert(neg >= 0L && neg <= n)
      assert(math.abs(mean) <= 1.0 + 1e-9, s"mean silhouette in [-1,1]: $mean")
      assert(mean == sq.toDouble / (n * 1000000000L).toDouble, "mean replays from sum")
    }
  }

  test("q307 hits: ranks contiguous, authority normalized and non-increasing, degrees recount") {
    val rows = Relational.hits(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length), "ranks contiguous")
    val auth = rows.map(_.getDouble(3))
    assert(auth.head == 1.0, "L-inf normalization puts the top supplier at exactly 1.0")
    assert(auth.zip(auth.tail).forall { case (a, b) => a >= b }, "authority non-increasing")
    assert(auth.forall(a => a > 0.0 && a <= 1.0))
    val deg = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .groupBy("l_suppkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- rows)
      assert(deg(r.getLong(1)) == r.getLong(2), s"degree recount for supplier ${r.getLong(1)}")
  }

  test("q307 hits, shuffle score joins: scores equal broadcast mode, one edges-sized exchange per half-step") {
    val knob = "spark.graft.hits.scoreJoin"
    assert(spark.conf.getOption(knob).isEmpty, "broadcast is the default mode")
    val bcast = Relational.hits(spark, sf).collect().toSeq
    // fixture-scale broadcasts off, so the joins show the production
    // shuffle form instead of broadcasting the small edge set
    val bcastKnob = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(knob, "shuffle")
    spark.conf.set(bcastKnob, "-1")
    val (shuffled, ran) =
      try Harness.executedPlans(spark)(Relational.hits(spark, sf).collect().toSeq)
      finally {
        spark.conf.unset(knob)
        spark.conf.unset(bcastKnob)
      }
    assert(shuffled.nonEmpty && shuffled == bcast, "shuffle mode computes the identical fold")
    // each half-step's fold is one localCheckpoint action
    val folds = ran.collect { case ("localCheckpoint", p) => p }
    assert(folds.size == 6, s"3 iterations × 2 half-steps, saw ${folds.size} folds")
    // an exchange is edges-sized when its own map stage scans the
    // pinned edges: the fold's level-1 (key, _seg) exchange, the one
    // the recurrence cannot avoid.  Level 2 reads level 1's shuffle
    // output (≤ width partials per key) and the score side is a
    // checkpointed node frame, so neither counts.
    def mapStage(n: SparkPlan): Seq[SparkPlan] = n match {
      case c: TableCacheQueryStageExec => mapStage(c.plan)
      case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => mapStage(a.executedPlan)
      case _ => n +: n.children.flatMap(mapStage)
    }
    for ((p, i) <- folds.zipWithIndex) {
      val edgeExchanges = planNodes(p).collect {
        case e: ShuffleExchangeExec
            if mapStage(e.child).exists(_.isInstanceOf[InMemoryTableScanExec]) => e
      }
      assert(edgeExchanges.size == 1,
        s"half-step $i: ${edgeExchanges.size} edges-sized exchanges: ${edgeExchanges.map(_.outputPartitioning)}")
    }
  }

  test("q308 linkage patterns: pairs partition the blocks, lr positive, all-agree pattern dominates") {
    val rows = Dedup.linkagePatterns(spark, sf).collect()
    assert(rows.length <= 8)
    val truePairs = Tables.customer(spark, sf).groupBy("c_nationkey").count()
      .collect().map(r => { val n = r.getLong(1); n * (n - 1) / 2 }).sum
    assert(rows.map(_.getLong(3)).sum == truePairs, "patterns partition the blocked pairs")
    assert(rows.forall(_.getDouble(4) > 0.0), "likelihood ratios positive")
    val byPattern = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(4)).toMap
    byPattern.get((1L, 1L, 1L)).foreach { top =>
      assert(byPattern.values.forall(_ <= top),
        "all-agree pattern carries the maximal likelihood ratio (u_f < m for every field)")
    }
  }

  test("q309 ams f2: exact moment satisfies Cauchy-Schwarz, estimate replays, flag green") {
    val r = PipelineAudits.amsF2(spark, sf).collect().head
    val (nTok, nDist, f2, estSum, est, flag) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5))
    assert(nDist <= nTok)
    assert(f2 >= nTok, "sum of c^2 >= sum of c when every c >= 1")
    assert(f2.toDouble >= nTok.toDouble * nTok.toDouble / nDist.toDouble - 1.0,
      "Cauchy-Schwarz lower bound on the second moment")
    assert(est == estSum.toDouble / 16.0, "estimate replays from the counter sum")
    assert(flag == 1, "AMS mean-of-16 within the 2.8-sigma bound")
  }

  test("q310 davies-bouldin: populations match q306, ratios positive, worst peer is a real cell") {
    val db = Similarity.daviesBouldin(spark, sf).collect()
    val sil = Similarity.silhouette(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(db.length == sil.size, "same cells as q306")
    val cids = db.map(_.getLong(0)).toSet
    for (r <- db) {
      assert(sil(r.getLong(0)) == r.getLong(1), "population matches the silhouette view")
      assert(r.getDouble(2) >= 0.0, "scatter non-negative")
      assert(r.getDouble(4) > 0.0, "DB ratio positive")
      val peer = r.getLong(3)
      assert(peer != r.getLong(0) && cids.contains(peer), "worst peer is another cell")
    }
  }

  test("q311 diff-in-diff: cells partition events, did replays from means, se positive") {
    val r = EventOps.diffInDiff(spark, sf).collect().head
    val nEvents = Tables.events(spark, sf).count()
    val ns = (1 to 4).map(r.getLong)
    assert(ns.sum == nEvents, "the four cells partition the event stream")
    assert(ns.forall(_ > 1L), "every cell populated (variance defined)")
    val Seq(mtPre, mtPost, mcPre, mcPost) = (5 to 8).map(r.getDouble)
    val did = r.getDouble(9); val se = r.getDouble(10); val t = r.getDouble(11)
    assert(did == (mtPost - mtPre) - (mcPost - mcPre), "did replays from the four means")
    assert(se > 0.0)
    assert(t == did / se, "t replays")
  }

  test("q313 content chunks: byte mass conserved, redundancy bounded, chunking deterministic") {
    val rows = Multimodal.contentChunks(spark, sf).collect()
    val byteMass = Tables.documents(spark, sf)
      .agg(sum(length(col("text")))).collect().head.getLong(0)
    assert(rows.map(_.getLong(3)).sum == byteMass,
      "chunks partition every payload byte exactly once")
    val nDocs = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    for (r <- rows) {
      assert(r.getLong(4) <= r.getLong(2), "redundant chunks bounded by chunk count")
      assert(r.getLong(5) <= r.getLong(3), "redundant bytes bounded by total bytes")
      val ratio = r.getDouble(6)
      assert(ratio >= 0.0 && ratio < 1.0)
    }
    // content-addressing is deterministic: a second run chunk-identically
    val again = Multimodal.contentChunks(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("q314 cmh: users partition into strata cells, chi2 non-negative, or positive") {
    val r = PipelineAudits.cmh(spark, sf).collect().head
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.getLong(1) == nUsers, "stratified cells partition the user base")
    assert(r.getLong(0) >= 1L && r.getLong(0) <= 7L, "at most 7 weekday strata")
    assert(r.getLong(2) <= r.getLong(1), "observed conversions bounded by users")
    // sf0.001 is legitimately degenerate (15 users, one stratum, all
    // converted → every V term 0); the guard must then yield NULL chi2
    assert(r.getDouble(4) >= 0.0, "summed hypergeometric variance non-negative")
    if (r.getDouble(4) == 0.0) assert(r.isNullAt(5), "degenerate strata guard chi2 to NULL")
    if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0.0, "chi2 non-negative")
    if (!r.isNullAt(6)) assert(r.getDouble(6) > 0.0, "MH odds ratio positive")
  }

  test("q315 l-diversity: group count constant, violations monotone in l") {
    val rows = PipelineAudits.lDiversity(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3, 5))
    assert(rows.map(_.getLong(1)).distinct.length == 1, "group count independent of l")
    val viol = rows.map(_.getLong(2))
    assert(viol.zip(viol.tail).forall { case (a, b) => a <= b },
      "violating groups monotone non-decreasing in l")
    val risk = rows.map(_.getLong(3))
    assert(risk.zip(risk.tail).forall { case (a, b) => a <= b })
    for (r <- rows) assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  test("q312 conductance: vols sum to 2E, cuts symmetric-consistent, phi in [0,1]") {
    val rows = Dedup.conductance(spark, sf).collect()
    val volTotal = rows.head.getLong(4)
    assert(rows.map(_.getLong(4)).distinct.length == 1, "vol_total constant")
    assert(rows.map(_.getLong(2)).sum == volTotal, "per-source volumes sum to 2|E|")
    // every cross edge contributes one cut unit to each of its two
    // sources, so the total cut mass is even
    assert(rows.map(_.getLong(3)).sum % 2 == 0, "total cut mass even")
    for (r <- rows) {
      assert(r.getLong(3) <= r.getLong(2), "cut bounded by volume")
      if (!r.isNullAt(5)) {
        val phi = r.getDouble(5)
        assert(phi >= 0.0 && phi <= 1.0 + 1e-12, s"phi in [0,1]: $phi")
      }
    }
  }
}
