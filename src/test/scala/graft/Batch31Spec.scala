package graft

import org.apache.spark.sql.functions._

/** Batch 43 pins (q375-q377): the Z-set correction term is
  * load-bearing, the pivot schema is explicit-list-pinned, and the CDC
  * stream's epoch protocol (replay idempotence, re-insert after
  * delete, delete stays deleted).
  */
class Batch31Spec extends SparkSuite {

  test("q375: dropping the ΔO⋈ΔL correction term double-subtracts — the three-term algebra is load-bearing") {
    val rows = operators.Relational.joinRetractIvm(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(4) == 1 && r.getInt(7) == 1),
      "three-term maintenance == kept-tables recompute")
    assert(rows.map(_.getLong(1)).sum > 0, "retractions actually flowed")
    // the naive two-term delta (ΔO⋈L + O⋈ΔL) on the same data
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"),
      floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("units"))
    val od = o.filter(pmod(col("o_orderkey"), lit(31L)) === 0L)
    val ld = l.filter(pmod(col("l_orderkey"), lit(31L)) === 0L)
    val twoTerm = od.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("units"))
      .unionByName(o.join(ld, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"), col("units")))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("dn2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val j0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n0"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    val naiveWrong = direct.exists { case (prio, d) =>
      j0(prio) - twoTerm.getOrElse(prio, 0L) != d
    }
    assert(naiveWrong,
      "the two-term delta must NOT reproduce the recompute — else the correction term tests nothing")
  }

  test("q376: the pivot plan carries the EXPLICIT column set — no discovery scan, schema pinned") {
    val q = operators.Relational.pivotDaily(spark, sf)
    assert(q.columns.toSeq == Seq("day", "n_events", "click_units",
      "error_units", "purchase_units", "signup_units", "view_units"))
    val rows = q.collect()
    assert(rows.length > 0)
    // one pivot aggregate + one count aggregate = exactly two scans of
    // events; a values-discovery pass would add a third
    val scans = planScans(q.queryExecution.executedPlan)
      .count(_.relation.location.rootPaths.exists(
        _.toString.contains("events.parquet")))
    assert(scans <= 2, s"explicit value list means no discovery scan (saw $scans)")
  }

  test("q378: the compound grouping-column slice compensates onto the MV — zero lineitem scans, both conjuncts bite, values match base") {
    val store = java.nio.file.Files.createTempDirectory("b31-mv-comp")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val marker = "gmv_q378_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      def slice(m: String) = plans.MvStore.baseConsumer(spark, sf, m)
        .filter(col("ship_month").between("1994-01", "1996-12") &&
          col("l_returnflag") =!= "N")
      val rows =
        try {
          val q = slice(marker)
          val r = q.collect()
          val paths = planScans(q.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
          assert(!paths.exists(_.contains("lineitem")) &&
              paths.exists(_.contains("mv_daily_rev")),
            s"the compound-compensated plan reads only the MV (saw $paths)")
          r
        } finally plans.MvRegistry.unregister(marker)
      val control = slice(marker).collect()
      assert(rows.toSeq == control.toSeq,
        "compensated and base paths are value-identical")
      assert(rows.nonEmpty)
      assert(rows.forall(r => r.getString(1) != "N" &&
        r.getString(0) >= "1994-01" && r.getString(0) <= "1996-12"))
      // both conjuncts are load-bearing: months outside the range and
      // flag N both exist in the unfiltered rollup
      val all = plans.MvStore.baseConsumer(spark, sf,
        "gmv_q378c_" + java.util.UUID.randomUUID().toString.take(8)).collect()
      assert(all.exists(_.getString(1) == "N") &&
        all.exists(r => r.getString(0) < "1994-01" || r.getString(0) > "1996-12"))
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q379: two live registrations of one MV never cross-answer — the monthly AND the flag-only consumer both rewrite, zero lineitem scans, values match base") {
    val store = java.nio.file.Files.createTempDirectory("b31-mv-dd")
    try {
      plans.MvStore.publish(spark, sf, store.toString)
      val mMonth = "gmv_ddm_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val mFlag = "gmv_ddf_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, mMonth)
      plans.MvStore.registerFlagRollup(spark, sf, store.toString, mFlag)
      try {
        def paths(df: org.apache.spark.sql.DataFrame) =
          planScans(df.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
        // both consumers rewrite, in the SAME registry state
        val monthly = plans.MvStore.baseConsumer(spark, sf, mMonth)
        val flagged = plans.MvStore.flagConsumer(spark, sf, mFlag)
          .filter(col("l_returnflag") =!= "N")
        for ((q, tag) <- Seq((monthly, "monthly"), (flagged, "flag-only"))) {
          val p = paths(q)
          assert(!p.exists(_.contains("lineitem")) &&
              p.exists(_.contains("mv_daily_rev")),
            s"the $tag consumer reads only the MV (saw $p)")
        }
        // values match the unregistered base recompute
        val fRows = flagged.collect()
        plans.MvRegistry.unregister(mFlag)
        val fCtl = plans.MvStore.flagConsumer(spark, sf, mFlag)
          .filter(col("l_returnflag") =!= "N")
        assert(paths(fCtl).exists(_.contains("lineitem")),
          "the unregistered flag control scans the base table")
        assert(fRows.toSeq == fCtl.collect().toSeq)
        assert(fRows.nonEmpty && fRows.forall(_.getString(0) != "N"))
        plans.MvStore.registerFlagRollup(spark, sf, store.toString, mFlag)
        // cross-answer refusal: a flag-SHAPED consumer using the
        // MONTHLY marker must be refused (arity + signature mismatch)
        val crossed = plans.MvStore.flagConsumer(spark, sf, mMonth)
        assert(paths(crossed).exists(_.contains("lineitem")),
          "the monthly registration never answers a flag-shaped consumer")
      } finally {
        plans.MvRegistry.unregister(mMonth)
        plans.MvRegistry.unregister(mFlag)
      }
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("q380: the stream-built artifact serves the rewrite — consumer plan reads only the merged MV, values equal the base recompute") {
    graft.util.Fs.withTempDir("b31-mv-serve") { root =>
      val epochs = streaming.StreamQueries.mvEpochStore(spark, sf, root)
      val store = root.resolve("store")
      // three epochs were published (one per staged micro-batch)
      val names = scala.util.Using.resource(
          java.nio.file.Files.list(epochs)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("epoch-"))
          .map(_.replaceAll("-v\\d+$", "")).toSeq.sorted
      }
      assert(names == Seq("epoch-000", "epoch-001", "epoch-002"))
      streaming.StreamQueries.mergeEpochs(spark, epochs, store.toString)
      val marker = "gmv_q380_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      plans.MvStore.registerRollup(spark, sf, store.toString, marker)
      val rows =
        try {
          val q = plans.MvStore.baseConsumer(spark, sf, marker)
          val r = q.collect()
          val paths = planScans(q.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
          assert(!paths.exists(_.contains("lineitem")) &&
              paths.exists(_.contains("mv_daily_rev")),
            s"the consumer reads only the stream-built artifact (saw $paths)")
          r
        } finally plans.MvRegistry.unregister(marker)
      val control = plans.MvStore.baseConsumer(spark, sf, marker).collect()
      assert(rows.toSeq == control.toSeq,
        "stream-served and base paths are value-identical")
      assert(rows.nonEmpty)
    }
  }

  test("MV staleness guard: a base mutation after publish refuses registration; a re-publish recovers; the witness-less store skips") {
    val base = java.nio.file.Files.createTempDirectory("b31-mv-stale")
    val store = java.nio.file.Files.createTempDirectory("b31-mv-stale-store")
    try {
      val src = java.nio.file.Paths.get(sf, "lineitem.parquet")
      val dst = base.resolve("lineitem.parquet")
      java.nio.file.Files.copy(src, dst)
      plans.MvStore.publish(spark, base.toString, store.toString)
      val marker = "gmv_stale_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // fresh base: registration succeeds
      plans.MvStore.registerRollup(spark, base.toString, store.toString, marker)
      plans.MvRegistry.unregister(marker)
      // mutate the base AFTER publish (a rewritten file = new mtime)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(dst).toMillis + 5000))
      val e = intercept[IllegalStateException] {
        plans.MvStore.registerRollup(spark, base.toString, store.toString,
          marker)
      }
      assert(e.getMessage.contains("stale MV artifact"))
      assert(plans.MvRegistry.lookup(marker).isEmpty,
        "the refused registration leaves no registry entry")
      // refresh: re-publish against the mutated base, register, rewrite
      plans.MvStore.publish(spark, base.toString, store.toString)
      plans.MvStore.registerRollup(spark, base.toString, store.toString,
        marker)
      try {
        val q = plans.MvStore.baseConsumer(spark, base.toString, marker)
        assert(planScans(q.queryExecution.executedPlan)
            .flatMap(_.relation.location.rootPaths.map(_.toString))
            .exists(_.contains("mv_daily_rev")),
          "the refreshed artifact serves again")
        assert(q.count() > 0)
      } finally plans.MvRegistry.unregister(marker)
      // a store WITHOUT the witness (externally built) skips the check
      val bare = java.nio.file.Files.createTempDirectory("b31-mv-bare")
      try {
        plans.StatsStore.publishNamed(
          plans.MvStore.mvFrame(spark, base.toString), bare.toString,
          "mv_daily_rev")
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(dst).toMillis + 5000))
        plans.MvStore.registerRollup(spark, base.toString, bare.toString,
          marker)
        plans.MvRegistry.unregister(marker)
      } finally graft.util.Fs.deleteRecursively(bare)
    } finally {
      graft.util.Fs.deleteRecursively(store)
      graft.util.Fs.deleteRecursively(base)
    }
  }

  test("q377: re-insert after delete lands at v3, deletes stay deleted, and a REPLAYED epoch recomputes identically") {
    val out = streaming.StreamQueries.cdcApply(spark, sf).collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deleted in b2 (%5==0 in [100,400)), re-inserted by b3 if in
    // [200,500) and %7!=0 — must be present at version 3
    val reIns = (200L until 400L).filter(i => i % 5 == 0 && i % 7 != 0)
    assert(reIns.nonEmpty && reIns.forall(byId.get(_).contains(3L)),
      "delete-then-upsert re-inserts at the later version")
    // deleted in b2 and never touched again ([100,200) %5==0) — absent
    val gone = (100L until 200L).filter(_ % 5 == 0)
    assert(gone.forall(!byId.contains(_)), "a final delete removes the row")
    // untouched-after-b1 ids ([0,100)) stay at v1
    assert((0L until 100L).forall(byId.get(_).contains(1L)))
    // replay idempotence of one epoch: state-N from state-(N-1) twice
    val store = java.nio.file.Files.createTempDirectory("b31-cdc")
    try {
      import spark.implicits._
      val s0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("doc_id", "text", "version")
      val b = Seq((1L, "delete", "x", 2L), (3L, "upsert", "c", 2L))
        .toDF("doc_id", "op", "new_text", "new_version")
      plans.StatsStore.publishNamed(
        streaming.StreamQueries.applyCdcOps(s0, b), store.toString, "state-001")
      def readState() = spark.read.parquet(plans.StatsStore
        .artifactPath(spark, store.toString, "state-001").get).collect().toSet
      val once = readState()
      plans.StatsStore.publishNamed(
        streaming.StreamQueries.applyCdcOps(s0, b), store.toString, "state-001")
      val twice = readState()
      assert(once == twice && once.map(_.getLong(0)) == Set(2L, 3L),
        "replaying an epoch renames the identical state over itself")
    } finally graft.util.Fs.deleteRecursively(store)
  }
}
