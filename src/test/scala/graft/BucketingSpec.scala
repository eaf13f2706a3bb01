package graft

import graft.operators.Bucketing
import graft.util.Harness.planNodes
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Bucketed co-located join: correctness AND the plan property that
  * justifies it — no shuffle exchange anywhere, whether the planner
  * picks broadcast (tiny side) or sort-merge (forced below).
  */
class BucketingSpec extends SparkSuite {

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    planNodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])

  test("co-located join has zero shuffles and matches a plain join") {
    val joined = Bucketing.colocatedOrderJoin(spark, sf, buckets = 4)
    val n = joined.count()

    // correctness vs the unbucketed formulation
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderkey").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
    assert(n == plain.count())

    // broadcast-eligible size: still zero *shuffles* end to end
    assert(shuffleCount(Bucketing.colocatedOrderJoin(spark, sf, buckets = 4)) == 0)

    // force sort-merge: the bucketed layout must carry the join AND the
    // aggregation with no shuffle at all — the 100 TB plan shape
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try {
      val smj = Bucketing.colocatedOrderJoin(spark, sf, buckets = 4)
      assert(smj.count() == n)
      val nodes = planNodes(smj.queryExecution.executedPlan).map(_.nodeName)
      assert(nodes.exists(_.contains("SortMergeJoin")), nodes.toString)
      assert(shuffleCount(smj) == 0,
        s"expected zero shuffles in bucketed SMJ plan: $nodes")
    } finally spark.conf.set(k, old)
  }
}
