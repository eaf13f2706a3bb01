package graft

import graft.util.Harness.planNodes
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** Batch 41 pins (q366-q370): dynamic partition pruning in the fact
  * scan, exchange reuse on the histogram self-join, the MV rewrite's
  * plan swap (both directions) and its refusal guard, the AA
  * prediction path on a thinned graph, and the retraction IVM's
  * non-degeneracy.
  */
class Batch29Spec extends SparkSuite {

  test("q366: the fact scan's partitionFilters carry a runtime dynamicpruning subquery") {
    val tmp = java.nio.file.Files.createTempDirectory("b29-dpp")
    try {
      sources.FormatOps.writePartitionedEvents(spark, sf, tmp.toString)
      val q = sources.FormatOps.dppReadAgg(spark, tmp.toString, sf)
      val fact = planScans(q.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(
          _.toString.contains(tmp.getFileName.toString)))
      assert(fact.nonEmpty, "the partitioned fact scan is in the plan")
      assert(fact.exists(_.partitionFilters.exists(
          _.toString.contains("dynamicpruning"))),
        "pruning is RUNTIME (a dynamicpruning subquery), not a static literal")
      // and it genuinely prunes: the selected-day set is a strict
      // subset of the written day directories
      val allDays = Tables.events(spark, sf)
        .select(to_date(col("ts"))).distinct().count()
      val keptDays = sources.FormatOps.dppDimDays(spark, sf).count()
      assert(keptDays > 0 && keptDays < allDays,
        s"the mod-7 residue dim selects a strict subset ($keptDays of $allDays)")
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  test("q367: the histogram self-join shuffles its child ONCE (ReusedExchange), AQE values exact") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val noAqe =
      try {
        val q = operators.Relational.exchangeReuse(spark, sf)
        val rows = q.collect()
        assert(planNodes(q.queryExecution.executedPlan)
            .exists(_.isInstanceOf[ReusedExchangeExec]),
          "the second consumer of the histogram rides a ReusedExchange")
        rows
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val aqe = operators.Relational.exchangeReuse(spark, sf).collect()
    assert(noAqe.toSeq == aqe.toSeq, "AQE and non-AQE runs are value-identical")
    // every multiplicity reports at least its self-pairs: n_pairs =
    // k(k+1)/2 >= 1, and a k=1 multiplicity reports exactly 1
    assert(noAqe.forall(_.getLong(1) >= 1L))
  }

  test("q368: the rewritten plan scans the MV artifact and NEVER opens lineitem; the control does the opposite; values identical") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_spec_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      val rewritten =
        try {
          val q = plans.MvStore.baseConsumer(spark, sf, marker)
          val rows = q.collect()
          val paths = planScans(q.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
          assert(!paths.exists(_.contains("lineitem")),
            s"no base-table scan in the rewritten plan (saw $paths)")
          assert(paths.exists(_.contains("mv_daily_rev")),
            "the MV artifact is the plan's only source")
          rows
        } finally plans.MvRegistry.unregister(marker)
      // control: no registration -> the query runs as written
      val control = plans.MvStore.baseConsumer(spark, sf, marker)
      val cRows = control.collect()
      val cPaths = planScans(control.queryExecution.executedPlan)
        .flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(cPaths.exists(_.contains("lineitem")),
        "the unregistered control scans the base table")
      assert(rewritten.toSeq == cRows.toSeq,
        "MV path and base path are value-identical")
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q368 guard: a shape-mismatched registration is REFUSED (plan runs as written)") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-bad")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_bad_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // wrong arity AND wrong types: the raw MV frame, not the rollup
      plans.MvRegistry.register(marker,
        spark.read.parquet(plans.StatsStore
            .artifactPath(spark, store.toString, "mv_daily_rev").get)
          .queryExecution.analyzed)
      try {
        val q = plans.MvStore.baseConsumer(spark, sf, marker)
        val paths = planScans(q.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(paths.exists(_.contains("lineitem")),
          "the mismatched replacement is refused: the base scan stays")
        assert(q.count() > 0)
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q369: fixture degrees sit under the cap (cap-slack), and a thinned graph yields is_edge=0 predictions") {
    val pairs = operators.Dedup.minhashLsh(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val maxDeg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .groupBy("id").count().agg(max("count")).head().getLong(0)
    assert(maxDeg < 64, s"every fixture degree ($maxDeg) is under the cap: " +
      "the capped score equals the uncapped ideal here")
    // thin the graph: drop every third edge — clique pairs lose their
    // direct edge but keep shared neighbors, so AA must SURFACE them
    val thinned = pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(3L)) =!= 0L)
    val aa = operators.Dedup.adamicAdarFrom(thinned, 50, 64).collect()
    val predicted = aa.filter(_.getInt(4) == 0)
    assert(predicted.nonEmpty,
      "the prediction path is live: dropped clique edges score is_edge=0")
    assert(predicted.forall(_.getDouble(3) > 0.0))
  }

  test("RewriteToMv property trials: inert on every unmarked shape; a column-permuted replacement is refused; two marked consumers both rewrite") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-prop")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_prop_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        // (i) a live registration must not perturb ANY unmarked plan:
        // fresh instantiations per pass (a cached queryExecution would
        // make the comparison vacuous), compared CANONICALIZED so
        // exprId renumbering between instantiations is invisible
        def mkShapes() = Seq(
          Tables.lineitem(spark, sf).groupBy("l_returnflag")
            .agg(count(lit(1)).as("n")),
          Tables.lineitem(spark, sf)
            .groupBy(substring(col("l_shipdate").cast("string"), 1, 7)
              .as("m")).agg(sum(col("l_quantity")).as("q")),
          Tables.events(spark, sf).groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(col("value")).as("v")),
          Tables.orders(spark, sf).agg(count(lit(1)).as("n")))
        val hot = mkShapes()
          .map(_.queryExecution.optimizedPlan.canonicalized.toString)
        plans.MvRegistry.unregister(marker)
        val cold = mkShapes()
          .map(_.queryExecution.optimizedPlan.canonicalized.toString)
        plans.MvStore.registerRollup(spark, sf, store.toString, marker)
        assert(hot == cold,
          "a live MV registration leaves every unmarked plan untouched")
        // (ii) a replacement whose columns are PERMUTED (types no
        // longer align positionally) is refused by the shape guard
        val permuted = plans.MvStore.rollupFromMv(spark, store.toString)
          .select(col("mv_rev"), col("mv_month"), col("flag"), col("mv_n"))
        plans.MvRegistry.register(marker, permuted.queryExecution.analyzed)
        val refused = plans.MvStore.baseConsumer(spark, sf, marker)
        assert(planScans(refused.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
            .exists(_.contains("lineitem")),
          "the permuted replacement is refused: the base scan stays")
        // (iii) re-register the correct rollup: two consumers of the
        // same marker both rewrite, independently, to the same values
        plans.MvStore.registerRollup(spark, sf, store.toString, marker)
        val a = plans.MvStore.baseConsumer(spark, sf, marker)
        val b = plans.MvStore.baseConsumer(spark, sf, marker)
        assert(planScans(a.queryExecution.executedPlan)
            .forall(!_.relation.location.rootPaths
              .exists(_.toString.contains("lineitem"))) &&
          planScans(b.queryExecution.executedPlan)
            .forall(!_.relation.location.rootPaths
              .exists(_.toString.contains("lineitem"))),
          "both marked consumers rewrite")
        assert(a.collect().toSeq == b.collect().toSeq)
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("RewriteToMv compensation: a grouping-column Filter pushed below the marked Project is pulled back up and applied to the MV rollup — no base scan, values exact") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-filter")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_filt_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        // PushDownPredicates rewrites this grouping-column predicate in
        // base-column terms and pushes it BELOW the marked Project;
        // the rule reverses that substitution, proves the predicate
        // commutes with the aggregation, and compensates on the rollup
        val filtered = plans.MvStore.baseConsumer(spark, sf, marker)
          .filter(col("ship_month") >= lit("1995-07"))
        val rows = filtered.collect()
        val paths = planScans(filtered.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(!paths.exists(_.contains("lineitem")),
          s"the compensated rewrite carries no base-table scan (saw $paths)")
        assert(paths.exists(_.contains("mv_daily_rev")),
          "the MV artifact is the compensated plan's only source")
        // value identity vs the unregistered (base-table) run
        plans.MvRegistry.unregister(marker)
        val control = plans.MvStore.baseConsumer(spark, sf, marker)
          .filter(col("ship_month") >= lit("1995-07"))
        val cRows = control.collect()
        assert(planScans(control.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
            .exists(_.contains("lineitem")),
          "the unregistered control scans the base table")
        plans.MvStore.registerRollup(spark, sf, store.toString, marker)
        assert(rows.toSeq == cRows.toSeq,
          "compensated MV path and base path are value-identical")
        assert(rows.nonEmpty && rows.forall(_.getString(0) >= "1995-07"))
        // and the filter is LOAD-BEARING: strictly fewer groups than
        // the unfiltered rollup
        assert(rows.length <
          plans.MvStore.baseConsumer(spark, sf, marker).collect().length)
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("RewriteToMv guard: a NON-commuting predicate (on the measure, pre-aggregation) REFUSES the rewrite — never answered from the unfiltered MV") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-nc")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_nc_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        // filter the BASE rows on a non-grouping column before
        // aggregating: the pulled-up predicate references l_quantity,
        // which is no grouping attribute, so compensation must refuse
        val qf = Tables.lineitem(spark, sf)
          .filter(col("l_quantity") > lit(25.0))
          .select(substring(col("l_shipdate").cast("string"), 1, 7)
              .as("ship_month"),
            col("l_returnflag"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as(marker))
          .groupBy("ship_month", "l_returnflag")
          .agg(sum(col(marker)).cast("double").as("mv_revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("ship_month", "l_returnflag")
        val paths = planScans(qf.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(paths.exists(_.contains("lineitem")) &&
            !paths.exists(_.contains("mv_daily_rev")),
          "the quantity-filtered aggregate keeps its base scan")
        // the refusal is load-bearing: the filtered sums differ from
        // the MV rollup's for at least one group
        val full = plans.MvStore.baseConsumer(spark, sf,
            "gmv_nc_ctrl_" + java.util.UUID.randomUUID().toString.take(8))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
          .toMap
        assert(qf.collect().exists(r =>
            full((r.getString(0), r.getString(1))) != r.getLong(3)),
          "the quantity filter genuinely changes group counts")
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("RewriteToMv guard: same output shape but different aggregate semantics (avg vs sum) is refused by the signature") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-sig")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_sig_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        // identical grouping types and output types as the registered
        // consumer — (string, string, double, long) — but AVG where the
        // template has SUM: without the semantic fingerprint the shape
        // guard alone would wrongly splice the sum-rollup here
        val avgConsumer = Tables.lineitem(spark, sf)
          .select(substring(col("l_shipdate").cast("string"), 1, 7)
              .as("ship_month"),
            col("l_returnflag"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as(marker))
          .groupBy("ship_month", "l_returnflag")
          .agg(avg(col(marker)).cast("double").as("mv_revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("ship_month", "l_returnflag")
        val paths = planScans(avgConsumer.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(paths.exists(_.contains("lineitem")),
          "the avg consumer keeps its base scan: signature mismatch refused")
        // avg != the rollup's sum for every multi-line group
        val sums = plans.MvStore.baseConsumer(spark, sf,
          "gmv_ctrl_" + java.util.UUID.randomUUID().toString.take(8))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
          .toMap
        val avgs = avgConsumer.collect()
        assert(avgs.exists(r =>
            math.abs(r.getDouble(2) -
              sums((r.getString(0), r.getString(1)))) > 1e-6),
          "avg genuinely differs from sum here (the refusal is load-bearing)")
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("RewriteToMv guard: identical types and shape but DIFFERENT semantics (linestatus grouping, tax measure) is refused by the grounded-expression fingerprint") {
    val store = java.nio.file.Files.createTempDirectory("b29-mv-drift")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_drift_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      try {
        // every TYPE matches the registered template — grouping
        // [string, string], aggFuncs [sum, count], output [string,
        // string, double, long] — and the structure is the same
        // Aggregate-over-marked-Project-over-leaf, but the second
        // grouping column (linestatus, not returnflag) and the measure
        // (tax markup, not discount) differ: only the grounded
        // expression fingerprint can tell these apart
        val drifted = Tables.lineitem(spark, sf)
          .select(substring(col("l_shipdate").cast("string"), 1, 7)
              .as("ship_month"),
            col("l_linestatus").as("l_returnflag"),
            (col("l_extendedprice") * (lit(1.0) + col("l_tax")))
              .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as(marker))
          .groupBy("ship_month", "l_returnflag")
          .agg(sum(col(marker)).cast("double").as("mv_revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("ship_month", "l_returnflag")
        val paths = planScans(drifted.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
        assert(paths.exists(_.contains("lineitem")) &&
            !paths.exists(_.contains("mv_daily_rev")),
          "the drifted consumer keeps its base scan (grounded fingerprint refused)")
        // and the refusal is load-bearing: the drifted values differ
        // from the registered rollup's
        val mvVals = plans.MvStore.baseConsumer(spark, sf,
            "gmv_drift_ctl_" + java.util.UUID.randomUUID().toString.take(8))
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(drifted.collect()
            .exists(r => !mvVals((r.getString(0), r.getString(1)))),
          "commitdate/linestatus groups genuinely differ from the MV's")
      } finally plans.MvRegistry.unregister(marker)
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q370: the retraction path is non-degenerate (deletes AND inserts flow) and the maintained state matches") {
    val rows = operators.EventOps.retractIvm(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum > 0, "retractions actually flowed")
    assert(rows.map(_.getLong(1)).sum > 0, "inserts actually flowed")
    assert(rows.forall(r => r.getInt(5) == 1 && r.getInt(8) == 1),
      "merged state == from-scratch recompute for every group")
  }
}
