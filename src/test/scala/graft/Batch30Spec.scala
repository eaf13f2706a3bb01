package graft

import graft.util.Harness.planNodes
import org.apache.spark.sql.functions._

/** Batch 42 pins (q371-q374): the as-of-nearest plan shape (sort-merge
  * windows, never a range-join explosion), the streaming MV's epoch
  * protocol and replay idempotence, the coordinated-sampling identity,
  * the cluster representative's max-quality contract, and the MV
  * rewrite's survival under AQE.
  */
class Batch30Spec extends SparkSuite {

  test("q371: no range-join explosion — the plan carries no cartesian/NL join, and every match obeys tolerance + tie rules") {
    val q = operators.EventOps.asofNearest(spark, sf)
    val rows = q.collect()
    val all = planNodes(q.queryExecution.executedPlan)
    assert(!all.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "nearest-match is two window passes, not a candidate join")
    assert(rows.nonEmpty)
    val matched = rows.filter(!_.isNullAt(2))
    assert(matched.nonEmpty, "some purchases find a click in tolerance")
    assert(matched.forall(_.getLong(3) <= 300000000L), "tolerance is honored")
    assert(rows.filter(_.isNullAt(2)).forall(_.getString(4) == "none"))
    // ground-truth replay of the tie rule on a sample of purchases
    val clicks = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"),
        unix_micros(col("ts")).as("cus")).collect()
      .groupBy(_.getLong(0))
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.take(200).foreach { r =>
      val (user, us) = purchases(r.getLong(0))
      val cand = clicks.getOrElse(user, Array.empty[org.apache.spark.sql.Row])
        .map(c => (math.abs(c.getLong(2) - us), c.getLong(2), c.getLong(1)))
        .filter(_._1 <= 300000000L)
      if (cand.isEmpty) assert(r.isNullAt(2))
      else {
        val best = cand.minBy(identity)
        assert(r.getLong(2) == best._3 && r.getLong(3) == best._1,
          s"purchase ${r.getLong(0)}: expected $best got $r")
      }
    }
  }

  test("q372: three epochs flow, flags all green, and a REPLAYED epoch publish is idempotent (rename, not append)") {
    var batches = 0
    val out = streaming.StreamQueries.mvIngest(spark, sf,
      q => batches = q.recentProgress.map(_.batchId).distinct.length)
    val rows = out.collect()
    assert(batches >= 3, s"three staged micro-batches ran (saw $batches)")
    assert(rows.forall(r => r.getInt(4) == 1 && r.getInt(7) == 1),
      "stream-maintained rollup == batch MV for every (month, flag)")
    // replay idempotence of the epoch artifact itself
    val store = java.nio.file.Files.createTempDirectory("b30-epoch")
    try {
      import spark.implicits._
      val part = Seq(("1998-01-01 00:00:00", "N", BigDecimal("10.0000"), 2L))
        .toDF("day", "flag", "rev_partial", "n_partial")
        .select(col("day").cast("timestamp").as("day"), col("flag"),
          col("rev_partial").cast("decimal(28,4)").as("rev_partial"),
          col("n_partial"))
      plans.MvStore.publishEpoch(part, store.toString, 0L)
      plans.MvStore.publishEpoch(part, store.toString, 0L) // the replay
      // read what the serve path reads: the replay's version keeps v1
      // for one publish (a lazy reader may hold it), so a raw epoch-*
      // glob would see both
      val served = plans.StatsStore.artifactDirs(spark, store.toString, "epoch-\\d+")
      assert(served.keySet == Set("epoch-000"))
      val merged = spark.read.parquet(served.values.toSeq: _*)
      assert(merged.count() == 1L, "a replayed batch overwrites its epoch")
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q373: the coordinated-sample identity holds and the sample is a genuine strict subset") {
    val rows = operators.Relational.consistentSample(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) == 1),
      "sample-join == join-sample per priority (the identity)")
    assert(rows.forall(r => r.getLong(2) > 0 && r.getLong(2) < r.getLong(5)),
      "the 10% sample is non-empty and strictly smaller than the truth")
  }

  test("q374: each representative is its cluster's max-quality doc, every cluster has >= 2 members") {
    val reps = operators.Dedup.clusterRep(spark, sf).collect()
    assert(reps.nonEmpty)
    assert(reps.forall(_.getLong(1) >= 2L), "CC clusters come from pairs")
    val cc = operators.Dedup.dedupClusters(spark, sf)
    val q = Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
    val best = cc.join(q, Seq("doc_id"))
      .groupBy("cluster_id").agg(max(col("quality")).as("mq"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    reps.foreach { r =>
      assert(r.getDouble(3) == best(r.getLong(0)),
        s"cluster ${r.getLong(0)}: rep quality is the max")
    }
    assert(reps.map(_.getLong(0)).toSet == best.keySet,
      "every cluster elects exactly one representative")
  }

  test("q368 rewrite survives AQE re-planning, values exact") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val store = java.nio.file.Files.createTempDirectory("b30-mv-aqe")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_aqe_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        val q = plans.MvStore.baseConsumer(spark, sf, marker)
        val rows = q.collect()
        assert(q.queryExecution.executedPlan.isInstanceOf[
            org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
          "the pin really runs under AQE")
        val paths = planNodes(q.queryExecution.executedPlan)
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(!paths.exists(_.contains("lineitem")) &&
            paths.exists(_.contains("mv_daily_rev")),
          "the substituted MV scan survives AQE")
        val control = plans.MvStore.baseConsumer(spark, sf,
          "gmv_none_" + java.util.UUID.randomUUID().toString.take(8))
        assert(rows.toSeq == control.collect().toSeq,
          "AQE + rewrite never costs a row")
      } finally plans.MvRegistry.unregister(marker)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      graft.util.Fs.deleteRecursively(store)
    }
  }
}
