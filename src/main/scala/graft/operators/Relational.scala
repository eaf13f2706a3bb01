package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational/analytic surface over the star schema (SURVEY.md §2.B:
  * joins, aggregations, sorts/top-k, set ops, scalar/date functions).
  *
  * Determinism-for-oracle rules used throughout the engine:
  *  - money/quantity sums go through DECIMAL(18,2|4): the DOUBLE→DECIMAL
  *    cast rounds each value identically in Spark and DuckDB (binary
  *    doubles are never exact .xx5 ties) and the decimal sum is exact,
  *    so the result is independent of partial-aggregation order — the
  *    final value is surfaced as DOUBLE for a stable output schema;
  *  - averages are computed as exact-decimal sum / count, not avg();
  *  - every ORDER BY used for top-k carries a unique tiebreaker key.
  *
  * Scale notes: all aggregations here are partial+final hash aggregates
  * (map-side combine), dimension joins are explicitly broadcast, and
  * the fact-fact join (orders⋈customer) is a shuffle hash/sort-merge on
  * the join key, which is the right plan at 100 TB.
  */
object Relational {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** TPC-H Q1-style pricing summary: scan-heavy groupBy/agg with a
    * pushed-down date filter; the canonical partial+final HashAggregate.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec4(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Dimension join: lineitem ⋈ part, revenue by brand.  `part` is
    * SF-LINEAR (200k·SF rows), so there is deliberately NO broadcast
    * hint here: the size threshold + AQE broadcast it while it fits
    * (every bench scale) and switch to a shuffled hash join on
    * l_partkey once it doesn't — an unconditional hint would OOM the
    * executors at the 100 TB design point (SF ≈ 10⁵ → ~20 B part
    * rows).  Hints in this file are reserved for genuinely bounded
    * frames (nation 25, region 5, 1-row stats, probe sets).
    */
  def revenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Multi-way join up the dimension chain: orders ⋈ customer is the
    * big shuffle join (both fact-sized at scale); customer ⋈ nation ⋈
    * region are broadcast.  Revenue per region/nation.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(dec2(col("o_totalprice"))).cast("double").as("total_revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Top-k with a deterministic tiebreak — Spark plans this as
    * TakeOrderedAndProject (per-partition heap + driver merge, no full
    * sort), exactly what you want at scale.
    */
  def topOrders(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)

  /** Anti join: customers with no orders since 1998 (left_anti —
    * Spark's NOT EXISTS with a pushed date filter on the probe side;
    * broadcastable when the probe side is small, shuffled hash-anti
    * otherwise).
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Semi join: parts that ship in bulk (EXISTS with a pushed filter on
    * the probe side).
    */
  def bulkParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
      .select("p_partkey", "p_name", "p_brand")
  }

  /** Set op: nations with customers in debt but no suppliers in debt
    * (EXCEPT = distinct + anti under the hood; stays a hash-based
    * plan with both filters pushed to the scans).
    */
  def customerOnlyNations(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_nationkey").as("nationkey")).distinct()
    val s = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_nationkey").as("nationkey")).distinct()
    c.except(s)
  }

  /** Date-dimension rollup: orders per month (date_trunc + group — the
    * string month key keeps timestamp rendering out of the compare).
    */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("order_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("month_revenue"))

  /** Exact distinct-count aggregation per group (the HLL variant of
    * this query is Similarity/approxDistinctUsers — exact here so the
    * oracle can hash-match).
    */
  def eventTypeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec2(col("value"))).cast("double").as("total_value"))

  /** Set op: nations with BOTH customers and suppliers in debt
    * (INTERSECT — the dual of customerOnlyNations' EXCEPT).
    */
  def sharedDebtNations(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_acctbal") < 0)
      .select(col("c_nationkey").as("nationkey")).distinct()
    val s = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_nationkey").as("nationkey")).distinct()
    c.intersect(s)
  }

  /** Pivot: per user cohort, event counts spread across event-type
    * columns.  The pivot value list is explicit (no extra distinct
    * pass at plan time, deterministic output schema — the only pivot
    * form that makes sense at scale); absent combinations coalesce
    * to 0 to match SQL's FILTER-count semantics.
    */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .withColumn("cohort", col("user_id") % 10)
      .groupBy("cohort")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("cohort") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** Hierarchical rollup: (year, priority) → (year) → grand total in
    * one pass (Spark expands grouping sets inside a single hash
    * aggregate — no per-level rescan).  Subtotal rows are labeled via
    * grouping() — NOT by coalescing NULL keys, which would conflate a
    * genuine NULL data value with the subtotal marker (a null
    * o_orderdate detail row and the year-subtotal row would both read
    * 'ALL').
    */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", date_format(col("o_orderdate"), "yyyy"))
      .rollup("order_year", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"),
        grouping(col("order_year")).as("g_year"),
        grouping(col("o_orderpriority")).as("g_prio"))
      .select(
        when(col("g_year") === 1, "ALL")
          .otherwise(coalesce(col("order_year"), lit("NULL"))).as("order_year"),
        when(col("g_prio") === 1, "ALL")
          .otherwise(coalesce(col("o_orderpriority"), lit("NULL"))).as("priority"),
        col("n_orders"), col("revenue"))

  /** Scalar-function showcase (SURVEY §2.B scalar row): string, math,
    * date, and conditional functions in one codegen'd projection —
    * every function has an exact DuckDB equivalent.
    */
  def partCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_uc"),
      substring(col("p_name"), 1, 8).as("name_prefix"),
      length(col("p_name")).as("name_len"),
      regexp_replace(col("p_type"), "[aeiou]", "_").as("type_masked"),
      (col("p_size") % 5).as("size_mod"),
      abs(col("p_size") - 25).as("size_dist"),
      when(col("p_retailprice") > 1500.0, "premium")
        .when(col("p_retailprice") > 1000.0, "standard")
        .otherwise("budget").as("price_tier"),
      concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"))

  /** Full cube over (returnflag, linestatus): every grouping-set
    * combination in one pass.  Subtotal labels come from grouping()
    * (see ordersRollup — coalescing NULLs would conflate real NULL
    * data keys with subtotal rows).
    */
  def lineitemCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_quantity"))).cast("double").as("total_qty"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 1, "ALL")
          .otherwise(coalesce(col("l_returnflag"), lit("NULL"))).as("returnflag"),
        when(col("g_ls") === 1, "ALL")
          .otherwise(coalesce(col("l_linestatus"), lit("NULL"))).as("linestatus"),
        col("n_items"), col("total_qty"))

  /** UNION (distinct): the dedup-ing set union — nations that have a
    * customer OR a supplier.  Distinct runs as one hash aggregate after
    * the concat; with UNION ALL (q42), INTERSECT (q38), and EXCEPT
    * (q07) this completes the set-op family.
    */
  def distinctNationKeys(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.union(s).distinct()
  }

  /** UNION ALL: one party directory from two differently-shaped
    * tables (schema aligned by projection; no dedup pass).
    */
  def partyDirectory(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_name").as("party_name"), col("c_acctbal").as("acctbal"),
      lit("customer").as("kind"))
    val s = Tables.supplier(spark, dir).select(
      col("s_name").as("party_name"), col("s_acctbal").as("acctbal"),
      lit("supplier").as("kind"))
    c.unionByName(s)
  }

  /** TPC-H Q4-style priority check, dialect-neutral SQL text shared
    * VERBATIM with the DuckDB oracle — exercises the spark.sql front
    * end (parser → Catalyst) over registered views, incl. a
    * decorrelated EXISTS subquery.
    */
  val PriorityCheckSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 30)
      |GROUP BY o_orderpriority""".stripMargin

  def priorityCheck(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(PriorityCheckSql)
  }

  /** approx_count_distinct (HyperLogLog++) per event_type — the
    * at-scale form of eventTypeStats (no exact-distinct shuffle of the
    * key universe) — in AUDIT form: sketch internals differ between
    * engines, so instead of exposing the raw estimate (which no oracle
    * can reproduce) the query verifies the sketch's ERROR CONTRACT and
    * outputs the exact count plus a 0/1 within-tolerance flag.  The
    * DuckDB oracle computes the exact distinct count and asserts the
    * flag is 1, which hash-matches — the q87-recall-audit pattern
    * applied to a sketch: the approximate path is the operator under
    * test, the exact side is the validation-scale audit (at 100 TB you
    * run the approx aggregate alone; the audit runs on samples).
    * Tolerance: 5× the configured rsd (0.01) — HLL++'s rsd is a
    * standard deviation, not a bound, so the audit allows 5σ.
    *
    * Both aggregates run over the pre-distincted (type, user) frame:
    * HLL is a pure function of the value SET (duplicates re-touch the
    * same registers), so the estimate is bit-identical to sketching
    * the raw stream, while the exact side becomes a plain count —
    * one distinct shuffle instead of an expand-based count-distinct
    * that scans everything twice.
    */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx"),
        count(lit(1)).as("exact_users"))
      .select(
        col("event_type"), col("exact_users"),
        when(abs(col("approx").cast("double") - col("exact_users").cast("double"))
          <= lit(0.05) * col("exact_users").cast("double"), 1L).otherwise(0L)
          .as("within_rsd"))

  /** Exact variance/stddev per group WITHOUT a second pass and without
    * order-dependent double accumulation: Σx and Σx² run through exact
    * DECIMAL partial+final aggregation (order-independent on any
    * cluster), then variance is one fixed IEEE expression over the two
    * exact sums — so the result is bit-identical on any engine and any
    * partitioning.  Spark's built-in var_samp is a running-moment
    * double aggregation whose result depends on partition order; at
    * 1000 executors that's run-to-run jitter this formulation removes.
    */
  def acctbalVariance(spark: SparkSession, dir: String): DataFrame = {
    val x = dec2(col("c_acctbal"))
    Tables.customer(spark, dir)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(x * x).cast("double").as("sxx"))
      .select(
        col("c_nationkey"), col("n"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_acctbal"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("stddev_acctbal"))
  }

  /** Exact discrete percentiles (p50/p90) per group via rank selection —
    * no interpolation arithmetic, so the chosen values are raw column
    * values and engine-portable.  One shuffle on the group key, then a
    * per-partition sort; the selector is a conditional agg, not a
    * second scan.  (Spark's percentile() interpolates with a different
    * IEEE expression than DuckDB's quantile_cont — rank selection
    * sidesteps the whole class of mismatch.)
    */
  def pricePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPrio = Window.partitionBy("o_orderpriority")
    val w = byPrio.orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byPrio))
      .groupBy("o_orderpriority")
      .agg(
        max(when(col("rn") === ceil(lit(0.5) * col("n")), col("o_totalprice"))).as("p50"),
        max(when(col("rn") === ceil(lit(0.9) * col("n")), col("o_totalprice"))).as("p90"),
        max(col("n")).as("n_orders"))
  }

  /** The SCALE path for exact percentiles: q51's window partitions by
    * o_orderpriority — 5 distinct values, so at 100 TB five tasks each
    * sort a fifth of the table.  This formulation computes the same
    * per-group ranks with GlobalPrefix keyed by priority — balanced
    * range partitions regardless of group count, NO low-cardinality
    * bottleneck — then selects as in q51.  The rank does not depend
    * on where the range boundaries land, so the output is
    * bit-identical to q51 and shares its oracle.
    *
    * Cache lifecycle: lazy pin, self-releasing once the returned frame
    * is unreachable — see Reindex.chunked.
    */
  def pricePercentilesScalable(spark: SparkSession, dir: String, parts: Int = 0): DataFrame =
    GlobalPrefix(
        Tables.orders(spark, dir).select("o_orderpriority", "o_totalprice", "o_orderkey"),
        if (parts > 0) parts else spark.sparkContext.defaultParallelism,
        eager = false, keys = Seq("o_orderpriority"),
        order = Seq(col("o_totalprice").asc, col("o_orderkey").asc))(
        GlobalPrefix.Running("rn", total = Some("n")))
      .groupBy("o_orderpriority")
      .agg(
        max(when(col("rn") === ceil(lit(0.5) * col("n")), col("o_totalprice"))).as("p50"),
        max(when(col("rn") === ceil(lit(0.9) * col("n")), col("o_totalprice"))).as("p90"),
        max(col("n")).as("n_orders"))

  /** GROUPING SETS through the SQL front end: (year), (priority), and
    * the grand total in ONE hash aggregate (Catalyst expands the sets
    * into a single Expand + aggregate — no per-level rescan of orders).
    * rollup/cube (q35/q41) are the syntactic sugar; this is the
    * explicit-sets form.
    */
  def orderGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    // subtotal labels via GROUPING() as in ordersRollup/lineitemCube —
    // coalescing NULL keys would conflate a genuine NULL group with
    // the grand-total row
    spark.sql(
      """SELECT CASE WHEN GROUPING(order_year) = 1 THEN 'ALL'
        |       ELSE coalesce(order_year, 'NULL') END AS order_year,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
        |  count(*) AS n_orders
        |FROM (SELECT date_format(o_orderdate, 'yyyy') AS order_year, o_orderpriority FROM orders) t
        |GROUP BY GROUPING SETS ((order_year), (o_orderpriority), ())""".stripMargin)
  }

  /** String-similarity scalar: Levenshtein edit distance (codegen'd
    * built-in, the string-metric counterpart of the dedup tier's
    * set-based measures).  Narrow projection — no shuffle at all.
    */
  def nameEditDistance(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      substring(col("p_name"), 1, 10).as("name_prefix"),
      col("p_type"),
      levenshtein(substring(col("p_name"), 1, 10), col("p_type")).as("edit_dist"))

  /** Top-k per group (rank ≤ k window): the grouped form of topOrders'
    * global TakeOrderedAndProject — one shuffle on the group key, a
    * per-partition sort, early filter on the rank.  Unique tiebreaker
    * keeps the selection total-ordered.
    */
  def topOrdersPerPriority(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
  }

  /** The ranking-function family in one window pass: dense_rank,
    * percent_rank, cume_dist, ntile — all over a unique total order, so
    * every value (including the int-ratio doubles percent_rank and
    * cume_dist produce) is engine-exact.
    */
  def orderRankFunctions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"))
  }

  /** approx_percentile (Greenwald-Khanna sketch) per priority — the
    * quantile counterpart of q33's HLL: bounded-memory mergeable
    * sketch, the only viable percentile at 100 TB when rank selection's
    * full sort is too much.  Like q33, registered in AUDIT form:
    * sketch internals are engine-specific, so the query verifies the
    * sketch's RANK-ERROR contract instead of exposing the raw
    * estimate.  percentile_approx at accuracy a returns an actual
    * element whose rank is within n/a of the target rank; the audit
    * recounts each returned value's rank interval [#\{<v\}+1, #\{≤v\}]
    * exactly and flags 1 iff it overlaps target ± ε·n with ε = 10/a
    * (10× slack — the guarantee is per-merge and small-n granularity
    * adds a row or two).  Output is the exact group count plus the
    * two 0/1 flags, which the DuckDB oracle (exact count, literal 1s)
    * hash-matches; q51 stays the exact-value anchor.
    *
    * 100 TB shape: sketch = one partial+final agg; the audit joins the
    * 5-row stats frame back BROADCAST onto orders for one more
    * partial+final count — no sort anywhere.
    */
  def approxPricePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderpriority", "o_totalprice")
    val sk = o.groupBy("o_orderpriority")
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(1000)).as("p90"))
    val eps = 10.0 / 1000.0
    def rankOk(p: Double, le: Column, lt: Column): Column = {
      val n = col("n_orders").cast("double")
      (le.cast("double") >= (lit(p) - lit(eps)) * n) &&
        (lt.cast("double") <= (lit(p) + lit(eps)) * n)
    }
    o.join(broadcast(sk), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("o_totalprice") <= col("p90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("o_totalprice") < col("p90"), 1L).otherwise(0L)).as("lt90"))
      .select(
        col("o_orderpriority"), col("n_orders"),
        when(rankOk(0.5, col("le50"), col("lt50")), 1L).otherwise(0L).as("p50_ok"),
        when(rankOk(0.9, col("le90"), col("lt90")), 1L).otherwise(0L).as("p90_ok"))
  }

  /** Collection aggregation: per user, the sorted distinct set of event
    * types as one string — collect_set is order-nondeterministic by
    * itself, so array_sort + join canonicalizes it (the only
    * engine-portable way to surface a collected set).
    */
  def userEventProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("event_types"),
        count(lit(1)).as("n_events"))

  /** Date/time function family over o_orderdate: field extraction,
    * calendar arithmetic, truncation — all integral or string-rendered,
    * so engine-exact.
    */
  def orderDateFacets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 20 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofweek(col("o_orderdate")).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus_quarter"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate")).as("days_to_99"))

  /** Correlated scalar subquery, shared VERBATIM with the oracle:
    * parts priced above their brand's average.  Catalyst decorrelates
    * the subquery into an aggregate + join — the plan you'd write by
    * hand, derived from the declarative form.  The average follows the
    * engine-portable convention (exact decimal sum → double ÷ count)
    * INSIDE the shared SQL, so the comparison can't flip on a last-bit
    * difference between partial-aggregation orders.
    */
  val PremiumPartsSql: String =
    """SELECT p_partkey, p_brand, p_retailprice
      |FROM part p
      |WHERE p_retailprice > 1.02 * (
      |  SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin

  def premiumParts(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(PremiumPartsSql)
  }

  /** revenueByBrand forced through the salted-join path (SkewJoin):
    * same result as the broadcast plan, but the fact side is spread
    * over the ADVISED salt per part — since round 16 the salt is no
    * longer hard-coded: it rides a broadcast 1-row frame carrying
    * q263's closed form computed over the fact's own l_partkey
    * histogram (`SkewJoin.advisedSaltedJoin`), sized for a
    * 4096-reducer shuffle (the 1000-executor scale this join is the
    * fallback for; at fixture reducer counts a uniform TPC-H key
    * needs no salt and the advisor would return the degenerate 1).
    * Registered with the same oracle as q02: the salt must be
    * invisible in the result.
    */
  def saltedRevenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val dim = Tables.part(spark, dir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    SkewJoin.advisedSaltedJoin(fact, dim, "l_partkey", parts = 4096)
      .groupBy("p_brand")
      .agg(
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q5 local-supplier volume (q100): the six-table join —
    * lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region, with
    * the "local" twist that the supplying and buying nations must
    * match — the classic planner workout for join ORDER and strategy
    * mixing.  The fact chain (lineitem→orders→customer) shuffles on
    * its keys; nation⋈region is scale-CONSTANT (25·5 rows) and hinted
    * broadcast.  `supplier` is SF-LINEAR (10k·SF rows), so it carries
    * NO hint — threshold/AQE broadcast it while it fits (every bench
    * scale) and fall back to a shuffled hash join on (l_suppkey,
    * c_nationkey) beyond that; the nation-match predicate rides the
    * supplier join as an extra equi-key either way.  Revenue is the
    * house DECIMAL(18,4) exact sum.  The date filter pushes to the
    * orders parquet scan; region pruning reaches nation before
    * anything joins the fact side.
    */
  /** Per-brand Pareto frontier (q116): the parts not dominated within
    * their brand — minimize price, maximize size; a part is ON the
    * frontier iff it is strictly larger than every strictly cheaper
    * brand-mate (vacuously, each brand's cheapest price level).  The
    * skyline operator, in the O(n log n) window form instead of the
    * quadratic dominance self-join:
    *
    *   1. collapse to one row per (brand, price): max size at that
    *      exact price — an agg, so equal-price peers can't leak into
    *      their own "strictly cheaper" prefix;
    *   2. running max of size over the price-ordered collapsed frame,
    *      ROWS ... 1 PRECEDING (strictly cheaper prices only);
    *   3. join back on (brand, price); keep size > prefix-max (or no
    *      cheaper price).
    *
    * All comparisons are on raw column values — no arithmetic at all,
    * so cross-engine parity is unconditional.
    *
    * 100 TB shape: one brand-price agg with map-side combine, one
    * window over the collapsed (brands × price-levels) frame
    * partitioned by brand, one equi-join back.  The self-join form is
    * brand-size-quadratic; this never pairs rows.
    */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
    val byPrice = p.groupBy("p_brand", "p_retailprice")
      .agg(max(col("p_size")).as("lvl_max"))
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = byPrice
      .withColumn("cheaper_max", max(col("lvl_max")).over(w))
    p.join(prefix.select("p_brand", "p_retailprice", "cheaper_max"),
        Seq("p_brand", "p_retailprice"))
      .filter(col("cheaper_max").isNull || col("p_size") > col("cheaper_max"))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  def localSupplierVolume(spark: SparkSession, dir: String,
                          regionName: String = "ASIA",
                          from: String = "1996-01-01",
                          until: String = "1997-01-01"): DataFrame = {
    val rn = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** Wide-to-long unpivot/melt (q175): the inverse of q39's pivot and
    * the missing half of the reshape surface — monthly order metrics
    * (count, revenue, avg and max price) melted to (month, metric,
    * value) rows, the shape every metrics store and plotting layer
    * ingests.
    *
    * Uses the native `Dataset.unpivot`, which plans as ONE Expand
    * node (each input row emits 4 tagged rows) — no join, no extra
    * shuffle, no UDTF.  Values unify to double: counts convert
    * exactly, money converts once from the exact DECIMAL(18,2) sum,
    * avg divides the exact sum by the exact count (one IEEE divide,
    * same sequence in the oracle's UNION ALL).
    *
    * 100 TB shape: one partial+final agg to a months-sized frame,
    * then the Expand's constant 4× fan-out on that tiny frame.
    * Melt-at-scale costs nothing when it happens AFTER aggregation —
    * the plan pins that order.
    */
  def monthlyMetricsLong(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(spark, dir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
        .as("order_month"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"),
        (sum(dec2(col("o_totalprice"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_price"),
        max(col("o_totalprice")).as("max_price"))
    wide.unpivot(
      Array(col("order_month")),
      Array(col("n_orders"), col("revenue"), col("avg_price"), col("max_price")),
      "metric", "value")
  }

  /** Column profiling of the orders table (q177): per column, the
    * null count and exact distinct cardinality — the dataset "nutrition
    * label" every ingestion pipeline emits before schema contracts are
    * signed (null-rate drift and cardinality collapse are the two
    * classic upstream-breakage signals).
    *
    * One pass: a single agg computes count(*), per-column null counts
    * and six exact count-distincts; `inline` then melts the 1-row wide
    * frame to (column_name, n_nulls, n_distinct) rows.  Multiple
    * distinct aggregates plan through Spark's Expand (a 6× row
    * duplication tagged by grouping id) — the standard multi-distinct
    * shape, with map-side partial dedup keeping shuffle bytes at
    * O(Σ distinct values), not 6× the fact table.
    *
    * 100 TB shape: the Expand's 6× applies before partial aggregation
    * prunes to distinct values per column, so the shuffle carries key
    * cardinalities only; the melt happens on ONE row. Exact distincts
    * are deliberate (the oracle hashes them); the approximate twin for
    * quick profiling is q33's HLL audit form.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val wide = Tables.orders(spark, dir).agg(aggs.head, aggs.tail: _*)
    wide.select(inline(array(cols.map(c =>
      struct(lit(c).as("column_name"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"))): _*)))
  }

  /** Referential-integrity and ordering audit across the star schema
    * (q178): the four FK/invariant checks a warehouse load validates
    * before publishing — orphaned lineitems (no parent order),
    * orphaned orders (no customer), childless orders (no lineitem),
    * and ship-before-order date violations.  Output is the compact
    * (check_name, n_violations) frame a data-quality dashboard wants.
    *
    * Each orphan check is a LEFT ANTI join on the key (broadcastable
    * only when the build side is a dimension — customer is SF-linear,
    * so the anti joins shuffle on the key and let threshold/AQE
    * decide, the q02 rule).  The date check is one INNER equi-join on
    * l_orderkey with the violation predicate evaluated post-join and
    * counted — no pair scan anywhere.
    *
    * 100 TB shape: three keyed anti/inner joins on primary keys plus
    * scalar counts; every join is an equi-join on the natural
    * key, so AQE can pick broadcast vs shuffle per side at runtime.
    * Union of four 1-row frames costs nothing.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val orphanLi = one("lineitem_without_order",
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
    val orphanO = one("order_without_customer",
      o.join(c, o("o_custkey") === c("c_custkey"), "left_anti"))
    val childless = one("order_without_lineitem",
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti"))
    val dateViol = one("ship_before_order",
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate")))
    orphanLi.unionAll(orphanO).unionAll(childless).unionAll(dateViol)
  }

  /** Herfindahl–Hirschman token concentration per source (q176): the
    * inverse-Simpson diversity audit — HHI = Σ_t (c_t/T)² and its
    * reciprocal, the "effective vocabulary size" (how many tokens the
    * source behaves as if it uses uniformly).  A template-generated
    * crawl shows eff_vocab ≪ vocab; a diverse corpus approaches it.
    * Log-free by construction (the q128 rule: no ln in a
    * hash-compared statistic), so it complements q84's entropy view
    * with guaranteed-by-IEEE parity.
    *
    * Exactness: HHI = Σc² / T² is a ratio of DECIMAL(38,0)-exact
    * integers — one double divide; top_share = max(c)/T likewise.
    *
    * 100 TB shape: the (source, token) count frame (q89's shuffle,
    * map-side combined), re-aggregated per source — both keyed hash
    * aggs, no sort, no join, no window.
    */
  def tokenHhi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val dec = DecimalType(38, 0)
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("c")).as("total_tokens"),
        sum((col("c") * col("c")).cast(dec)).as("c2"),
        max(col("c")).as("cmax"))
      .select(col("source"), col("vocab"), col("total_tokens"),
        (col("c2").cast("double") /
          (col("total_tokens").cast(dec) * col("total_tokens")).cast("double"))
          .as("hhi"),
        (lit(1.0) / (col("c2").cast("double") /
          (col("total_tokens").cast(dec) * col("total_tokens")).cast("double")))
          .as("eff_vocab"),
        (col("cmax").cast("double") / col("total_tokens").cast("double"))
          .as("top_share"))
  }

  /** TPC-H Q7 volume shipping (q191): revenue shipped between two
    * named nations by year — the second classic TPC-H join workout
    * next to q100's Q5, exercising the shape Q5 doesn't: TWO
    * independent nation dimensions (supplier's and customer's) with
    * a disjunctive pair predicate, plus a date-derived group key.
    *
    * Plan: the nation dim is filtered to the two named rows BEFORE
    * its broadcast joins, so supplier and customer rows of every
    * other nation drop AT the join (the broadcast is 2 rows, and the
    * pair disjunction runs on the joined 2×2 name space, never the
    * fact table).  Revenue sums in DECIMAL(18,4) (q01's exactness
    * rule); the ship-year is integer extraction pushed onto the
    * lineitem scan.
    *
    * 100 TB shape: lineitem shuffles only on its join keys
    * (order/supp — AQE picks broadcast while orders/customer fit,
    * shuffle joins beyond); nation stays a bounded 2-row broadcast
    * at every SF.  No SF-linear table carries a hint (the q02/q100
    * rule).
    */
  def nationVolume(spark: SparkSession, dir: String,
                   nationA: String = "NATION_1", nationB: String = "NATION_2",
                   from: String = "1996-01-01",
                   until: String = "1998-01-01"): DataFrame = {
    val pair = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val n1 = pair.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = pair.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("rev")).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  /** TPC-H Q8 national market share (q195): of all ECONOMY-type parts
    * sold into the ASIA market (customer's nation in the region), what
    * fraction of yearly volume did a given supplying nation capture?
    * The widest canonical TPC-H join — lineitem ⋈ part ⋈ orders ⋈
    * customer ⋈ supplier plus two nation legs and region — with a
    * conditional-aggregate share on top.
    *
    * 100 TB shape: `part` is filtered to one p_type BEFORE its join
    * (the filter pushes to the parquet scan, pruning the fact side at
    * the earliest join); the fact chain shuffles on its keys with NO
    * forced broadcast of any SF-linear table (part/supplier/customer/
    * orders are threshold/AQE-decided — the q02/q100 rule); nation and
    * the region-pruned nation list are scale-constant (≤25 rows) and
    * hinted.  Share = conditional sum / total sum inside ONE aggregate
    * — a second pass over the joined frame is never needed.  Sums are
    * exact DECIMAL(18,4); the divide happens on doubles AFTER both
    * sums, identically on both engines.
    */
  def marketShare(spark: SparkSession, dir: String,
                  regionName: String = "ASIA",
                  partType: String = "ECONOMY",
                  suppNation: String = "NATION_1",
                  from: String = "1996-01-01",
                  until: String = "1998-01-01"): DataFrame = {
    val market = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("mkt_nk"))
    val sn = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(Tables.part(spark, dir).filter(col("p_type") === partType)
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(market), col("c_nationkey") === col("mkt_nk"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .groupBy("o_year")
      .agg(
        (sum(when(col("supp_nation") === suppNation, col("rev"))).cast("double")
          / sum(col("rev")).cast("double")).as("mkt_share"),
        sum(col("rev")).cast("double").as("total_volume"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q10 returned-item revenue (q196): the top-k customers by
    * revenue lost to returns (l_returnflag = 'R') in a quarter — the
    * canonical "who should the account team call" ranking.
    *
    * 100 TB shape: both fact filters (returnflag, order-date window)
    * push to their parquet scans before the fact-fact join; the
    * customer/nation decoration joins happen AFTER the group-by
    * collapses the frame to ≤ one row per customer (TPC-H's literal
    * form drags c_name/c_acctbal through the aggregate as grouping
    * keys; grouping on the key alone keeps the shuffled rows narrow
    * and the decoration join probes a customer-sized frame).
    * The final top-k is orderBy+limit = TakeOrderedAndProject —
    * per-partition heaps, never a global sort.
    */
  def returnedItemRevenue(spark: SparkSession, dir: String,
                          from: String = "1996-01-01",
                          until: String = "1996-07-01",
                          k: Int = 20): DataFrame = {
    val byCust = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
    byCust
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  /** TPC-H Q13 customer distribution (q197): how many customers placed
    * exactly k urgent-or-high-priority orders, including k = 0 — the
    * canonical outer-join-then-double-aggregate histogram.
    *
    * 100 TB shape: TPC-H's literal form outer-joins the full orders
    * table to customer and COUNTs non-null keys per customer — a
    * fact-wide shuffle of (custkey, orderkey) pairs.  Here orders
    * pre-aggregates to ONE row per customer FIRST (map-side combine
    * does most of the collapse), and the outer join is then
    * customer ⋈ customer-sized counts — both sides key-partitioned,
    * AQE free to broadcast the counts side if it fits.  The k = 0 bin
    * falls out of the LEFT join's nulls via coalesce, and the final
    * histogram is an aggregate over at most max-orders-per-customer
    * distinct keys.
    */
  def customerOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q3 shipping priority (q199): the 10 highest-revenue orders
    * from one market segment that were placed before a cutoff but
    * still have lineitems shipping after it — the canonical
    * filter-join-aggregate-topk chain.
    *
    * 100 TB shape: all three single-table filters (segment, order
    * date, ship date) push to their parquet scans; customer joins
    * orders BEFORE the fact join so the segment filter prunes the
    * orders side early (the selective dimension drives); revenue
    * groups on the already-joined keys and the top-10 is
    * TakeOrderedAndProject, never a global sort.
    */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       cutoff: String = "1997-01-01",
                       k: Int = 10): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(k)
  }

  /** TPC-H Q18 large-volume customers (q200): orders whose total
    * lineitem quantity clears a threshold, decorated with their
    * customer — the canonical HAVING-driven semi-join.
    *
    * 100 TB shape: the quantity sum is ONE keyed aggregate over
    * lineitem with map-side combine; the HAVING filter collapses it
    * to a tiny frame BEFORE any join, so the orders/customer
    * decoration joins probe a threshold-selected build side (AQE
    * broadcasts it at any realistic selectivity).  TPC-H's literal
    * form re-joins lineitem a second time to re-sum — one aggregate
    * here carries the sum through instead.
    */
  def largeVolumeCustomers(spark: SparkSession, dir: String,
                           minQty: Int = 250): DataFrame = {
    // threshold on the UN-cast sum, exactly like the oracle's HAVING
    // (a truncating cast before the filter would diverge at the
    // boundary the moment quantities went fractional — ADVICE r12);
    // quantities are integral doubles today, so the long cast after
    // the filter is lossless on both engines
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty_sum"))
      .filter(col("qty_sum") > minQty)
      .select(col("l_orderkey"), col("qty_sum").cast("long").as("total_qty"))
    big
      .join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), dec2(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
  }

  /** TPC-H Q15 top supplier (q201): the supplier(s) whose quarter
    * revenue equals the maximum — Q15's CREATE VIEW + scalar-subquery
    * dance collapses to one aggregate and a max-match.
    *
    * 100 TB shape: revenue per supplier is ONE keyed aggregate over
    * the date-pruned lineitem scan; the global max is a 1-row
    * aggregate of that supplier-sized frame, broadcast back as an
    * equi-key (never a second scan of lineitem, never a sort); the
    * supplier decoration join probes the ≤handful of max rows.  Ties
    * all surface (TPC-H's stated semantics), deterministically ordered
    * by s_suppkey.
    */
  def topSupplier(spark: SparkSession, dir: String,
                  from: String = "1996-01-01",
                  until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("total_rev"))
    val best = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(best), col("total_rev") === col("max_rev"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey").asc)
  }

  /** TPC-H Q6 forecasting revenue change (q202): the one-table
    * what-if — revenue gained if discounts in a band had been
    * eliminated for small-quantity lineitems in one year.
    *
    * 100 TB shape: the whole predicate (date year, discount band,
    * quantity cap) pushes to the parquet scan — row groups outside
    * the year never decompress; what survives flows through ONE
    * partial+final aggregate with no join and no shuffle beyond the
    * 1-row final.  The canonical scan-dominated query: its cost IS
    * the pruned scan.
    */
  def forecastRevenueChange(spark: SparkSession, dir: String,
                            from: String = "1996-01-01",
                            until: String = "1997-01-01",
                            discLo: Double = 0.05, discHi: Double = 0.07,
                            maxQty: Double = 24): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount").between(discLo, discHi) &&
        col("l_quantity") < maxQty)
      .agg(
        sum(dec4(col("l_extendedprice") * col("l_discount"))).cast("double")
          .as("revenue_change"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q2 minimum-cost supplier (q203): for every small part of
    * one type, the supplier(s) in a region offering it at the lowest
    * unit cost — the canonical correlated-min-subquery, re-expressed
    * as aggregate + equi-match (the same collapse as Q15/q201).
    *
    * Schema adaptation: this star schema has no `partsupp`, so the
    * part×supplier cost relation is DERIVED from lineitem — the
    * minimum observed unit price (l_extendedprice / l_quantity) per
    * (part, supplier) pair stands in for ps_supplycost.  IEEE double
    * division and MIN are order-independent, so the derivation is
    * deterministic on both engines.
    *
    * 100 TB shape: the derived cost relation is ONE keyed aggregate
    * over lineitem (map-side combine); the correlated `cost =
    * (SELECT min … WHERE same part)` becomes a per-part min aggregate
    * of the REGION-FILTERED offer frame joined back on
    * (partkey, cost) — no per-row subquery, no second lineitem scan.
    * Only nation⋈region (bounded, ≤25 rows) is hint-broadcast;
    * supplier/part stay hint-free (SF-linear, the q02/q100 rule).
    * The top-k carries a unique (s_name, p_partkey) tiebreak.
    */
  def minCostSupplier(spark: SparkSession, dir: String,
                      region: String = "ASIA",
                      maxSize: Int = 10,
                      ptype: String = "ECONOMY",
                      k: Int = 100): DataFrame = {
    val nations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val ps = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_size") <= maxSize && col("p_type") === ptype)
      .select(col("p_partkey"), col("p_name"))
    val offers = ps
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val minCost = offers.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("supply_cost")).as("min_cost"))
    offers.join(minCost,
        col("l_partkey") === col("mc_partkey") && col("supply_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(k)
  }

  /** TPC-H Q11 important stock (q204): the parts whose value supplied
    * by one nation's suppliers exceeds a fraction of that nation's
    * total — keyed aggregate + global-total scalar subquery + HAVING.
    *
    * Schema adaptation: no `partsupp`, so "stock value" is the exact
    * DECIMAL revenue each part earned through the nation's suppliers
    * (sum over lineitem), standing in for ps_supplycost·ps_availqty.
    *
    * 100 TB shape: ONE keyed (partkey) aggregate over the
    * supplier-filtered fact; the global total is a 1-row re-aggregate
    * of that already-part-sized frame — never a second fact scan —
    * attached by broadcast crossJoin.  The threshold compares doubles
    * both engines derive from the same exact decimal sums.
    */
  def importantStock(spark: SparkSession, dir: String,
                     nationName: String = "NATION_3",
                     frac: Double = 0.001): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // pinned eagerly: both the HAVING side and the 1-row total consume
    // this frame, and without the pin each lineage re-scans the fact
    // (the exact anti-pattern the Q11 scaladoc forbids)
    val value = graft.util.Pins.eager(Tables.lineitem(spark, dir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("val_dec")))
    val total = value.agg(sum(col("val_dec")).as("total_dec"))
    value.crossJoin(broadcast(total))
      .filter(col("val_dec").cast("double") > col("total_dec").cast("double") * frac)
      .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q16 parts/supplier relationship (q205): how many distinct
    * suppliers can deliver each surviving (brand, type, size) combo,
    * excluding blacklisted suppliers — distinct-pair aggregate +
    * anti-join + count-distinct rollup.
    *
    * Schema adaptation: the (part, supplier) relation is the distinct
    * pair set observed in lineitem (no `partsupp`), and "customer
    * complaints" is stood in by negative s_acctbal (no s_comment).
    *
    * 100 TB shape: the distinct pair set is a keyed aggregate with
    * map-side combine (never a global distinct barrier); the
    * blacklist anti-join keys on l_suppkey; count(DISTINCT) rides
    * Spark's Expand-based exact path.  All-integer output — no float
    * determinism surface at all.
    */
  def partSupplierCounts(spark: SparkSession, dir: String,
                         excludeBrand: String = "Brand#1",
                         excludeType: String = "PROMO",
                         sizes: Seq[Int] = Seq(1, 4, 9, 16, 25, 36, 49)): DataFrame = {
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= excludeType &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    pairs.join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 potential part promotion (q206): suppliers who shipped
    * more than half of their lifetime volume of one part family inside
    * the target year — nested keyed aggregates feeding a semi-join.
    *
    * Schema adaptation: no `partsupp.ps_availqty`, so the Q20
    * comparison "availqty > ½·year-shipped" becomes "year-shipped >
    * ½·lifetime-shipped (with a volume floor)" over the same
    * (supplier, part) grain derived from lineitem.
    *
    * 100 TB shape: ONE (suppkey, partkey) aggregate computes both the
    * lifetime and windowed quantity in the same pass (conditional
    * exact-DECIMAL sums); the qualifying supplier set is a distinct
    * projection of that aggregate, and the final decoration is a
    * LEFT SEMI join into supplier — the fact is scanned once.
    */
  def partPromotion(spark: SparkSession, dir: String,
                    namePrefix: String = "red",
                    from: String = "1996-01-01", until: String = "1997-01-01",
                    minQty: Double = 50): DataFrame = {
    val fp = Tables.part(spark, dir)
      .filter(col("p_name").startsWith(namePrefix)).select(col("p_partkey"))
    val inWin = col("l_shipdate") >= lit(from).cast("timestamp") &&
      col("l_shipdate") < lit(until).cast("timestamp")
    val perPart = Tables.lineitem(spark, dir)
      .join(fp, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec2(col("l_quantity"))).as("total_qty"),
        sum(when(inWin, dec2(col("l_quantity"))).otherwise(dec2(lit(0)))).as("win_qty"))
    val qualified = perPart
      .filter(col("total_qty").cast("double") > minQty &&
        col("win_qty").cast("double") > lit(0.5) * col("total_qty").cast("double"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 suppliers who kept orders waiting (q207): on
    * multi-supplier orders, the supplier who was the ONLY late one —
    * Q21's EXISTS / NOT EXISTS pair re-expressed as one per-order
    * aggregate (distinct suppliers, distinct late suppliers) joined
    * back, so the fact is scanned once instead of three times.
    *
    * Schema adaptation: no l_commitdate / l_receiptdate, so "late" is
    * shipping more than `lateDays` after the order date — the same
    * per-lineitem boolean grain Q21 derives from receipt vs commit.
    *
    * 100 TB shape: lineitem⋈orders is the one fact-fact shuffle
    * (both sides keyed on orderkey), consumed by ONE keyed aggregate —
    * because the qualifying orders have EXACTLY one late supplier,
    * that supplier is recoverable inside the same pass as
    * max(when(late, suppkey)); the r13 first cut re-joined the fact
    * frame to find them (two fact passes, 1.91 s) and this form needs
    * one.  The nation-filtered supplier decoration is SF-linear/25
    * and stays hint-free for AQE.  numwait counts orders, and each
    * qualifying order contributes exactly one row by construction.
    */
  def soleLateShipper(spark: SparkSession, dir: String,
                      nationName: String = "NATION_9",
                      lateDays: Int = 60): DataFrame = {
    val lo = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS")).as("late"))
    // r21: the two countDistincts made Catalyst plan a 3-way Expand
    // (every lineitem row shuffled three times on l_orderkey); the
    // two-level form aggregates to (order, supplier) grain first —
    // map-side combined, each row shuffled once — then counts the
    // distinct-by-construction groups.  nsupp = distinct suppliers per
    // order, nlate = distinct suppliers with a late line (count skips
    // the null branch of `when`), late_supp = max over the same rows —
    // value-identical to the countDistinct form (guide §2.3: aggregate
    // before you shuffle; plan diff: Expand gone, 3×rows → 1×rows on
    // the first exchange).  Precondition (ADVICE r21): l_suppkey is
    // NON-NULL — a TPC-H lineitem FK, non-null in every fixture
    // generation — so count(lit(1)) over (order, supplier) groups
    // cannot admit a null-supplier group the old countDistinct
    // excluded; a nullable-suppkey source would need
    // `l_suppkey.isNotNull` filtered before the first groupBy.
    val per = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("nsupp"),
        count(when(col("late"), lit(1))).as("nlate"),
        max(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("nsupp") > 1 && col("nlate") === 1)
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    per.join(sup, col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22 global sales opportunity (q208): well-funded customers
    * in a nation subset with no recent orders — scalar-subquery
    * average + anti-join + keyed aggregate.
    *
    * Schema adaptation: no c_phone, so the "country code IN (…)"
    * prefix filter is stood in by c_nationkey IN (…); every customer
    * here has SOME order, so "no orders" becomes "no orders on/after
    * the cutoff" (the anti-join shape is identical).
    *
    * 100 TB shape: the positive-balance average is a 1-row exact
    * decimal-sum/count aggregate of the already-filtered customer
    * frame, attached by broadcast crossJoin; the anti-join keys on
    * o_custkey against the date-pruned orders scan; the final
    * aggregate groups ≤|nation subset| keys.
    */
  def idleCustomers(spark: SparkSession, dir: String,
                    nationKeys: Seq[Int] = Seq(1, 3, 5, 7, 9, 11, 13),
                    cutoff: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(nationKeys: _*))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey"))
    cust.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec2(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q4 order-priority checking (q212): how many of one
    * quarter's orders had at least one late line — the canonical
    * EXISTS → LEFT SEMI join with a mixed equi + range condition.
    *
    * Schema adaptation: no l_commitdate/l_receiptdate, so "late" is
    * shipping more than `lateDays` past the order date (q207's rule).
    *
    * 100 TB shape: the quarter window prunes the orders scan; the
    * semi-join keys on orderkey (the range term rides the same join),
    * so no lineitem row is ever duplicated into the aggregate — the
    * EXISTS never becomes a join-then-distinct.  Final aggregate
    * groups ≤5 priorities.
    */
  def priorityChecking(spark: SparkSession, dir: String,
                       from: String = "1996-01-01", until: String = "1996-04-01",
                       lateDays: Int = 30): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q9 product-type profit (q213): profit by supplier nation
    * and ship year for one part family — the five-table join whose
    * aggregate key crosses two dimensions.
    *
    * Schema adaptation: no partsupp.ps_supplycost, so unit cost is
    * stood in by a fixed fraction of p_retailprice; profit =
    * revenue − cost·quantity, both sides exact DECIMAL(18,4) before
    * the subtract, summed exactly, surfaced once as DOUBLE.
    *
    * 100 TB shape: the name-family filter prunes part BEFORE the fact
    * join (the selective dimension drives); supplier/part stay
    * hint-free (SF-linear); nation is the only hinted frame.  One
    * keyed aggregate, (nation, year) — bounded output.
    */
  def productProfit(spark: SparkSession, dir: String,
                    nameContains: String = "gear",
                    costFactor: Double = 0.6): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameContains))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("n_name"), year(col("l_shipdate")).as("o_year"),
        (dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          - dec4(lit(costFactor) * col("p_retailprice") * col("l_quantity"))).as("amount"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("amount")).cast("double").as("profit"))
      .orderBy(col("n_name").asc, col("o_year").desc)
  }

  /** TPC-H Q12 shipping-mode priority audit (q214): among one year's
    * late lines, how many belonged to high- vs low-priority orders —
    * the canonical conditional-count pivot over a fact⋈fact join.
    *
    * Schema adaptation: no l_shipmode or receipt/commit dates — the
    * grouping key is l_linestatus and "late" is q207's ship-lag rule.
    *
    * 100 TB shape: the year window prunes the lineitem scan; the join
    * keys on orderkey; both counts come out of ONE aggregate pass
    * (conditional sums); output is ≤|linestatus| rows.
    */
  def latePriorityCounts(spark: SparkSession, dir: String,
                         from: String = "1996-01-01", until: String = "1997-01-01",
                         lateDays: Int = 60): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q17 small-quantity-order revenue (q215): the average
    * yearly revenue lost if small-quantity orders of one brand moved
    * to bulk — the canonical correlated per-part average, collapsed
    * to one keyed aggregate joined back (never a per-row subquery).
    *
    * 100 TB shape: the per-part average quantity is ONE keyed
    * aggregate over lineitem (exact decimal sum / count); the brand
    * filter prunes part before its join; the threshold compare is
    * double < double with both sides derived identically on both
    * engines.  Single-row output.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String,
                           brand: String = "Brand#1",
                           qtyFrac: Double = 0.5): DataFrame = {
    val avgQty = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("a_partkey"))
      .agg((sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
    val branded = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select(col("p_partkey"))
    Tables.lineitem(spark, dir)
      .join(branded, col("l_partkey") === col("p_partkey"))
      .join(avgQty, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(qtyFrac) * col("avg_qty"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q19 discounted revenue (q216): the three-bracket
    * OR-of-ANDs predicate over lineitem ⋈ part — the disjunctive-
    * predicate join every optimizer whitepaper uses as the pushdown
    * stress test.
    *
    * 100 TB shape: the quantity bounds (the union of the three
    * brackets, 1..50 here) could pre-prune the scan; the bracket
    * disjunction itself evaluates post-join in one codegen'd
    * predicate — never three unioned scans (one fact pass, not
    * three).  Part stays hint-free; one 1-row final aggregate.
    */
  def discountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bracket =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** TPC-H Q14 promotion effect (q198): the share of one month's
    * revenue that came from PROMO-type parts — a single-row
    * conditional-aggregate ratio over lineitem ⋈ part.
    *
    * 100 TB shape: the ship-date window prunes lineitem at the scan;
    * part is joined WITHOUT a forced hint (SF-linear — threshold/AQE
    * decide, the q02/q100 rule).  Numerator and denominator are two
    * conditional DECIMAL(18,4) sums in ONE aggregate pass; the
    * percentage divide happens once, on doubles, after both sums.
    */
  def promoRevenueShare(spark: SparkSession, dir: String,
                        from: String = "1996-03-01",
                        until: String = "1996-04-01"): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_partkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev"))).cast("double")
          / sum(col("rev")).cast("double")).as("promo_pct"),
        sum(when(col("p_type") === "PROMO", col("rev"))).cast("double").as("promo_revenue"),
        sum(col("rev")).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q249: incremental view maintenance for a JOIN view — q235's monoid
    * refresh lifted from single-table aggregates to the two-sided
    * delta algebra Δ(O⋈L) = ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL.  Both fact
    * tables split at one cut (orders by o_orderdate, lineitem by
    * l_shipdate); ONE flagged join pass classifies every joined pair
    * into its unique delta cell (old⋈old / Δ⋈old / old⋈Δ / Δ⋈Δ) and
    * aggregates all four partials per priority; the merged view is
    * their sum.  The `ivm_matches_full` flag compares it against a
    * plain join+aggregate — both run in THIS engine over the same
    * join, so the flag certifies only that the four-cell
    * classification partitions the join (no pair lost or
    * double-counted between cells); the independent audit of the
    * values themselves is the cross-engine DuckDB oracle.
    *
    * Exactness: counts and 100×-quantized quantity units are exact
    * BIGINT sums; the audit flag is integer equality.
    *
    * 100 TB shape: production ships only the two delta terms that
    * touch Δ inputs (tiny scans) against the stored old view; the
    * full recompute here is the AUDIT's price, same as q235.  Both
    * passes shuffle on orderkey — the one fact-fact exchange this
    * schema ever needs (q207's rule).
    */
  def joinIvm(spark: SparkSession, dir: String,
              cut: String = "1998-01-01"): DataFrame = {
    val cutTs = to_timestamp(lit(cut))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderpriority"), (col("o_orderdate") < cutTs).as("oold"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qu"),
      (col("l_shipdate") < cutTs).as("lold"))
    val cells = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"), col("oold"), col("lold"))
      .agg(count(lit(1)).as("n"), sum(col("qu")).as("qs"))
    val merged = cells.groupBy("o_orderpriority").agg(
      sum(when(col("oold") && col("lold"), col("n")).otherwise(0L)).as("n_old"),
      sum(when(!col("oold") && col("lold"), col("n")).otherwise(0L)).as("n_delta_orders"),
      sum(when(col("oold") && !col("lold"), col("n")).otherwise(0L)).as("n_delta_lines"),
      sum(when(!col("oold") && !col("lold"), col("n")).otherwise(0L)).as("n_delta_both"),
      sum(col("n")).as("n_merged"), sum(col("qs")).as("q_merged"))
    val full = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_full"), sum(col("qu")).as("qty_units"))
    full.join(merged, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_old"), col("n_delta_orders"),
        col("n_delta_lines"), col("n_delta_both"), col("n_full"), col("qty_units"),
        when(col("n_merged") === col("n_full") &&
          col("q_merged") === col("qty_units"), 1).otherwise(0).as("ivm_matches_full"))
      .orderBy("o_orderpriority")
  }

  /** q257: join-cardinality estimator audit — the planner-statistics
    * primitive, measured against ground truth.  For three FK joins the
    * estimator sees only per-side STATISTICS (top-`h` heavy-hitter
    * key counts, exact; tail = remaining count/distinct, assumed
    * uniform with containment):
    *   est = Σ_{k∈Ha∩Hb} ca·cb  +  Σ_{Ha\Hb} ca · avg_tail_b
    *       + Σ_{Hb\Ha} cb · avg_tail_a
    *       + min(d_tail_a, d_tail_b) · avg_tail_a · avg_tail_b
    * and the audit reports est vs the EXACT join size — which is
    * Σ ca·cb over shared keys, computed from the same keyed count
    * frames WITHOUT materializing the join.  This is how an engine
    * decides broadcast-vs-shuffle before reading a byte; the audit
    * quantifies what the histogram's h buys.
    *
    * Exactness: every sum is an exact BIGINT over integer products;
    * the estimate's four terms combine in one pinned double order;
    * empty tails contribute an explicit CASE 0.
    *
    * 100 TB shape: per side one keyed count + a bounded top-h
    * (TakeOrdered, h rows); actual-size needs the ca⋈cb count join —
    * the audit's price, shuffling only the DISTINCT-KEY frames, never
    * the fact rows.
    */
  def joinEstimate(spark: SparkSession, dir: String, h: Int = 50): DataFrame = {
    // r21 shape: the r20 form paid FOUR eager pins and a final job
    // carrying SEVEN broadcast exchanges per audited join (×3 joins =
    // 12 pin jobs + 21 broadcasts — pure fixed cost).  Everything the
    // heavy-hitter correction needs beyond the two per-key count
    // frames is BOUNDED at h rows per side, so the top-h lists are
    // fetched once (the q295 bounded-driver-fold rule) and the
    // intersection/only sums fold on the driver in exact LONG
    // arithmetic (order-free).  The per-key frames stay distributed
    // (lazily checkpointed; their own 1-row aggregates materialize
    // them on the main thread) and the actual-cardinality join stays
    // a Spark join over them.  The estimate arithmetic is unchanged
    // and evaluated by the same Spark expressions over literal inputs
    // — bit-identical values.
    def one(name: String, dfa: DataFrame, ka: String,
            dfb: DataFrame, kb: String): DataFrame = {
      val ca = dfa.groupBy(col(ka).as("k")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val cb = dfb.groupBy(col(kb).as("k")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val saRow = ca.agg(count(lit(1)), sum(col("c"))).head()
      val sbRow = cb.agg(count(lit(1)), sum(col("c"))).head()
      // degenerate guard (ADVICE r21): sum() over an EMPTY side is SQL
      // NULL — read it as 0 rows instead of NPE'ing; the downstream
      // CASE arms already price d=0 sides as zero contribution
      def longAt(r: org.apache.spark.sql.Row, i: Int): Long =
        if (r.isNullAt(i)) 0L else r.getLong(i)
      val (dA, nA) = (saRow.getLong(0), longAt(saRow, 1))
      val (dB, nB) = (sbRow.getLong(0), longAt(sbRow, 1))
      val haRows = ca.orderBy(col("c").desc, col("k").asc).limit(h).collect()
      val hbRows = cb.orderBy(col("c").desc, col("k").asc).limit(h).collect()
      val hA = haRows.map(r => (r.get(0), r.getLong(1)))
      val hB = hbRows.map(r => (r.get(0), r.getLong(1)))
      val mB = hB.toMap
      val mA = hA.toMap
      val xHeavy = hA.iterator.collect {
        case (k, c) if mB.contains(k) => c * mB(k) }.sum
      val sAonly = hA.iterator.collect {
        case (k, c) if !mB.contains(k) => c }.sum
      val sBonly = hB.iterator.collect {
        case (k, c) if !mA.contains(k) => c }.sum
      val (hCa, nhA) = (hA.length.toLong, hA.iterator.map(_._2).sum)
      val (hCb, nhB) = (hB.length.toLong, hB.iterator.map(_._2).sum)
      val actualRows = ca.join(cb, "k")
        .agg(coalesce(sum(ca("c") * cb("c")), lit(0L))).head().getLong(0)
      val f = spark.range(1).select(
        lit(dA).as("d_a"), lit(nA).as("n_a"),
        lit(dB).as("d_b"), lit(nB).as("n_b"),
        lit(hCa).as("h_a"), lit(nhA).as("nh_a"),
        lit(hCb).as("h_b"), lit(nhB).as("nh_b"),
        lit(xHeavy).as("x_heavy"), lit(sAonly).as("s_aonly"),
        lit(sBonly).as("s_bonly"), lit(actualRows).as("actual_rows"))
      val dat = col("d_a") - col("h_a")
      val dbt = col("d_b") - col("h_b")
      val avgA = col("n_a").minus(col("nh_a")).cast("double") / dat.cast("double")
      val avgB = col("n_b").minus(col("nh_b")).cast("double") / dbt.cast("double")
      val est = col("x_heavy").cast("double") +
        when(dbt === 0L, lit(0.0)).otherwise(col("s_aonly").cast("double") * avgB) +
        when(dat === 0L, lit(0.0)).otherwise(col("s_bonly").cast("double") * avgA) +
        when(dat === 0L || dbt === 0L, lit(0.0))
          .otherwise(least(dat, dbt).cast("double") * avgA * avgB)
      // degenerate guard (the batch rule, cf. q251/q266/q267): an
      // empty join would make Spark's non-ANSI divide yield NULL where
      // DuckDB floats to inf/NaN — unreachable on these FK joins, but
      // the explicit CASE keeps the cross-engine contract uniform
      f.select(lit(name).as("join_name"), col("d_a"), col("d_b"),
        col("actual_rows"), est.as("est_rows"),
        when(col("actual_rows") === 0L, lit(null).cast("double"))
          .otherwise(abs(est - col("actual_rows").cast("double"))
            / col("actual_rows").cast("double")).as("rel_err"))
    }
    val o = Tables.orders(spark, dir); val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir); val p = Tables.part(spark, dir)
    one("orders_lineitem", o, "o_orderkey", l, "l_orderkey")
      .unionAll(one("customer_orders", c, "c_custkey", o, "o_custkey"))
      .unionAll(one("part_lineitem", p, "p_partkey", l, "l_partkey"))
      .orderBy("join_name")
  }

  /** q250: functional-dependency audit — for a fixed candidate set of
    * X→Y dependencies across three tables, the violation profile:
    * how many X-groups exist, how many carry more than one distinct Y
    * (FD violated), and the worst fan-out.  The schema-inference /
    * data-contract primitive that q177's per-column profile and
    * q178's referential checks don't cover: it tests COLUMN-PAIR
    * determinism, the thing you must know before declaring a key,
    * collapsing a dimension, or trusting a join to be 1:1.
    *
    * 100 TB shape: each candidate is one keyed groupBy (partial
    * count-distinct per X) followed by a scalar rollup — no joins, no
    * windows; candidates run independently and union 5 scalar rows.
    */
  def fdAudit(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, x: Column, y: Column): DataFrame =
      df.groupBy(x.as("x")).agg(countDistinct(y).as("nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("nd")).as("max_rhs"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          (col("n_violating").cast("double") / col("n_groups").cast("double"))
            .as("violation_rate"),
          col("max_rhs"))
    val docs = Tables.documents(spark, dir)
    val ev = Tables.events(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    one("documents: source -> lang", docs, col("source"), col("lang"))
      .unionAll(one("documents: lang -> source", docs, col("lang"), col("source")))
      .unionAll(one("events: user_id -> event_type", ev, col("user_id"), col("event_type")))
      .unionAll(one("lineitem: l_orderkey -> l_suppkey", li, col("l_orderkey"), col("l_suppkey")))
      .unionAll(one("orders: o_custkey -> o_orderstatus", ord, col("o_custkey"), col("o_orderstatus")))
      .orderBy("fd")
  }

  /** HITS hubs-and-authorities on the customer→supplier purchase
    * bipartite graph (q307): an edge (c, s) exists iff customer c
    * ever bought a lineitem supplied by s.  Authority(s) answers
    * "which suppliers are bought by the customers who buy broadly?"
    * — the mutually-recursive centrality q119's PageRank (a single
    * random walk) cannot express on a bipartite relation, and the
    * classic entity-importance signal for catalog curation.
    *
    * Kleinberg's iteration with L∞ (max) normalization instead of
    * L2: a(s) = Σ_{c→s} h(c), h(c) = Σ_{c→s} a(s), each followed by
    * x ← x / max(x).  Max-normalization is chosen deliberately: the
    * max of deterministic doubles is shuffle-order-free and the
    * per-node divide is one IEEE op, while an L2 norm would need a
    * corpus-ordered fold of squares per iteration for bit parity.
    * Fixed points of the two normalizations have identical RANK
    * ORDER (they differ by a positive scalar), so top-k output is
    * unaffected.  Each neighbor sum folds in NEIGHBOR-ID order via
    * the bounded two-level segmented fold ([[GraphFold.segmentedSum]],
    * mirrored CTE-for-CTE by the oracle) — the r16 hub-hazard fix:
    * per-row state is max(4096, ⌈degree/4096⌉) instead of a full
    * hub-degree array.
    *
    * 100 TB shape: the edge list is ONE orders⋈lineitem equi-join on
    * orderkey + distinct, pinned via [[graft.util.Pins.eager]] as TWO
    * partitioned copies (by supp, by cust — the join runs once; the
    * cust copy repartitions the pinned supp blocks) so the supersteps
    * never re-shuffle it; every iteration is two keyed aggregations
    * + a 1-row max read on the (edges-sized, corpus-independent)
    * frame.  Each normalized score frame is lazily localCheckpoint'd
    * because the recurrence reads it twice (the neighbor join AND the
    * max); without truncation the plan subtree doubles per iteration —
    * the q54 lloydCentroids discipline.
    */
  def hits(spark: SparkSession, dir: String,
           iters: Int = 3, topK: Int = 20): DataFrame = {
    // repartition BEFORE distinct: HashPartitioning(supp) satisfies the
    // distinct's (cust, supp) clustering (subset rule), so the dedup
    // rides the same exchange the supp copy needs anyway — one
    // edges-sized exchange instead of two (guide §2.4)
    val edges0 =
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    // r22 (VERDICT r21 #1): pre-partition the edge set ONCE per
    // aggregation side instead of re-shuffling it every superstep
    // (guide §2.4: operations keyed the same way share one exchange).
    // Each half-step joins on one key and AGGREGATES on the other, so
    // the copy partitioned by the half-step's AGG key plus a broadcast
    // of the (node-sized) score frame makes the whole half-step
    // exchange-free: the broadcast join preserves the streamed side's
    // HashPartitioning(aggKey), which satisfies the segmented fold's
    // (aggKey, _seg) and aggKey groupings — zero edges-sized exchanges
    // per iteration versus two.  The supp copy is pinned first; the
    // cust copy repartitions the PINNED blocks, so the orders⋈lineitem
    // join runs once.  Fold order, segment residues and the IEEE
    // divides are untouched — scores are bit-identical.
    val edgesBySupp = graft.util.Pins.eagerPartitioned(
      edges0.repartition(col("supp")).distinct())
    val edgesByCust = graft.util.Pins.eagerPartitioned(edgesBySupp.repartition(col("cust")))
    // Scale knob (documented in OPTIMIZATION_r22.md): score frames are
    // node-count-sized — fine to broadcast at any bench SF and for
    // real catalogs (suppliers/customers ≪ edges), but a corpus-sized
    // node set (≈10⁹+) overflows the 8 GB broadcast cap; production
    // sets spark.graft.hits.scoreJoin=shuffle, which keys each join on
    // the PRE-PARTITIONED side's join key instead (one fundamental
    // edges-sized agg exchange per half-step remains — the minimum the
    // cust→supp recurrence admits).  Both modes compute the identical
    // fold.
    val bcastScores = spark.conf.getOption("spark.graft.hits.scoreJoin")
      .forall(_ != "shuffle")
    def scored(df: DataFrame): DataFrame =
      if (bcastScores) broadcast(df) else df
    var hub = edgesByCust.select(col("cust")).distinct().withColumn("h", lit(1.0))
    var auth: DataFrame = edgesBySupp.select(col("supp")).limit(0)
      .withColumn("a", lit(1.0))
    // Each score frame is node-count-sized and read twice (the 1-row
    // max + the normalize): lazily checkpoint the fold, fetch the max
    // as a SCALAR off the 1-row aggregate (a bounded driver read — the
    // same class as the q295 merge picks), and normalize with a
    // literal.  The max action materializes the checkpointed fold on
    // the main thread, so every later consumer (the next half-step's
    // broadcast and the final output join) reads already-computed
    // blocks: the lazy-pin-in-broadcast-thread deadlock
    // (util/Pins.scala) cannot occur.
    // Degenerate guard (ADVICE r21): max() over an empty fold is SQL
    // NULL (no edges) — the fixed point is then the empty frame, so
    // stop iterating; the final join yields the empty result the
    // pre-r21 frame algebra produced.
    // broadcast mode streams the copy partitioned by the AGG key
    // (exchange-free half-step); shuffle mode streams the copy
    // partitioned by the JOIN key (exchange-free join, one agg
    // exchange) — the copies swap roles between the modes.
    val (authEdges, hubEdges) =
      if (bcastScores) (edgesBySupp, edgesByCust) else (edgesByCust, edgesBySupp)
    var live = true
    for (_ <- 1 to iters if live) {
      val a0 = GraphFold.segmentedSum(
        authEdges.join(scored(hub), "cust"), "supp", col("cust"), col("h"), "a")
        .localCheckpoint(false)
      val mxARow = a0.agg(max(col("a"))).head()
      if (mxARow.isNullAt(0)) { auth = a0.select(col("supp"), col("a")); live = false }
      else {
        val mxA = mxARow.getDouble(0)
        auth = a0.select(col("supp"), (col("a") / lit(mxA)).as("a"))
        val h0 = GraphFold.segmentedSum(
          hubEdges.join(scored(auth), "supp"), "cust", col("supp"), col("a"), "h")
          .localCheckpoint(false)
        val mxHRow = h0.agg(max(col("h"))).head()
        if (mxHRow.isNullAt(0)) live = false
        else {
          val mxH = mxHRow.getDouble(0)
          hub = h0.select(col("cust"), (col("h") / lit(mxH)).as("h"))
        }
      }
    }
    val deg = edgesBySupp.groupBy("supp").agg(count(lit(1)).as("n_customers"))
    auth.join(deg, "supp")
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("a").desc, col("supp").asc)))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("supp").as("s_suppkey"), col("n_customers"),
        col("a").as("authority"))
      .orderBy("rank")
  }

  /** Equi-depth histogram statistics (q331): the optimizer-statistics
    * primitive itself — ANALYZE-style 16-bucket equi-depth histogram
    * of l_extendedprice (integer cents), each bucket carrying
    * [lo, hi], row count, and exact distinct count.  This is the
    * stats object a cost-based optimizer probes for selectivity;
    * q58's GK audit checks Spark's quantile SKETCH, this CONSTRUCTS
    * the exact histogram the sketch approximates.
    *
    * Bucketing is the q104 discipline: exact global rank via
    * GlobalPrefix (NO single-partition window), then the standard-SQL
    * ntile formula in pure integer arithmetic (ntileExpr — remainder
    * buckets first), bit-equal to DuckDB's declarative
    * `ntile(16) OVER (ORDER BY …)`.
    * Cents are one pinned floor(x·100 + ½); the rank's total order
    * tiebreaks by (orderkey, linenumber) so equal prices split across
    * a bucket boundary identically in both engines.
    *
    * 100 TB shape: one range shuffle (the rank), one bucket-keyed
    * rollup — the same cost as any global sort-based stats build; at
    * production the same plan emits histograms per column in one
    * pass over a column batch.
    */
  /** One-pass multi-column statistics (q338): the production shape
    * q331's scaladoc promised — ANALYZE emits per-column stats for a
    * COLUMN BATCH in one scan, not one scan per column.  For the four
    * 2-dp lineitem measures (quantity, extendedprice, discount, tax,
    * each quantized to exact integer hundredths): row count, null
    * count, exact NDV, min/max, exact sum, and the average to one
    * pinned terminal divide — the stats row a CBO keeps per column.
    *
    * 100 TB shape: ONE FileSourceScan pruned to the four columns; the
    * four exact `countDistinct`s make Catalyst plan a 5-way Expand
    * (rows × (columns+1)) feeding one partial+final aggregate — the
    * documented price of EXACT multi-column NDV in a single pass; a
    * production run at 10¹² rows swaps `approx_count_distinct` (HLL,
    * no Expand) per column and keeps this exact form for the audit
    * tier, the q33/q323 sketch-vs-recount discipline.  The per-column
    * un-pivot is an `explode` over a 1-row frame — free.
    */
  def multiColStats(spark: SparkSession, dir: String): DataFrame = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val src = Tables.lineitem(spark, dir).select(cs.map(c =>
      floor(col(c) * lit(100.0) + lit(0.5)).cast("long").as(c)): _*)
    val aggs = cs.flatMap { c => Seq(
      count(col(c)).as(s"${c}_n"),
      countDistinct(col(c)).as(s"${c}_d"),
      min(col(c)).as(s"${c}_min"),
      max(col(c)).as(s"${c}_max"),
      sum(col(c)).as(s"${c}_sum")) } :+ count(lit(1)).as("n_rows")
    val one = src.agg(aggs.head, aggs.tail: _*)
    val rows = cs.map { c => struct(
      lit(c).as("col_name"), col("n_rows"),
      (col("n_rows") - col(s"${c}_n")).as("n_nulls"),
      col(s"${c}_d").as("n_distinct"),
      col(s"${c}_min").as("min_units"), col(s"${c}_max").as("max_units"),
      col(s"${c}_sum").as("sum_units"),
      (col(s"${c}_sum").cast("double") / col(s"${c}_n").cast("double"))
        .as("avg_units")) }
    one.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
      .orderBy("col_name")
  }

  /** Bloom join-prune audit (q339): Spark's runtime row-level
    * filtering made explicit and MEASURED — the single biggest shuffle
    * lever a 100 TB join has.  The selective dim side (urgent orders)
    * builds an m-bit, k=2 bloom over its join keys; the fact side
    * probes it BEFORE any shuffle; this audit reports exactly what the
    * filter would do: probe rows, true matches, bloom passes, false
    * passes, and the measured false-positive rate — plus the zero
    * false-NEGATIVE certification the pruning's correctness rests on
    * (a true match always passes: both its bits were set by its own
    * build key; both engines recount n_true_pass = n_true genuinely).
    *
    * Determinism: bit positions are hv60 of the salted key string mod
    * m — the shared cross-engine hash, so the oracle replays the
    * filter bit-for-bit; every output is an exact BIGINT except the
    * one terminal FPR divide (NULL-guarded when no negatives exist).
    *
    * 100 TB shape: the bit SET is ≤ m rows (16384) — broadcast-sized
    * by construction regardless of corpus scale, [[graft.util.Pins]]
    * eager because four broadcast consumers read it; the probe side is
    * ONE pruned scan through two broadcast LEFT-SEMI joins (never a
    * shuffle, never a multiplying join); the build side is one
    * pushdown-filtered dim scan.  At production the same positions
    * feed `functions.bloom_filter`-style pre-shuffle pruning; this
    * exact-set form is the audit that sizes m against the measured
    * FPR.
    */
  def bloomPruneAudit(spark: SparkSession, dir: String, m: Int = 16384): DataFrame = {
    def h(salt: String, c: Column) = pmod(
      TextAnalysis.hv60(concat(lit(salt), c.cast("string"))), lit(m.toLong))
    val build = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key"))
    val bits = graft.util.Pins.eager(
      build.select(explode(array(h("bl1:", col("key")), h("bl2:", col("key"))))
        .as("pos")).distinct())
    val probe = Tables.lineitem(spark, dir).select(col("l_orderkey").as("key"))
      .withColumn("h1", h("bl1:", col("key")))
      .withColumn("h2", h("bl2:", col("key")))
    def viaBloom(df: DataFrame): DataFrame = df
      .join(broadcast(bits.withColumnRenamed("pos", "h1")), Seq("h1"), "left_semi")
      .join(broadcast(bits.withColumnRenamed("pos", "h2")), Seq("h2"), "left_semi")
    // truth recount: a plain semi join, NO broadcast hint — the build
    // side is SF-linear (orders/5), threshold/AQE decide (the q02 rule)
    val trueRows = probe.join(build, Seq("key"), "left_semi")
    val f = probe.agg(count(lit(1)).as("n_probe"))
      .crossJoin(broadcast(build.agg(countDistinct(col("key")).as("n_build_keys"))))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
      .crossJoin(broadcast(trueRows.agg(count(lit(1)).as("n_true"))))
      .crossJoin(broadcast(viaBloom(probe).agg(count(lit(1)).as("n_pass"))))
      .crossJoin(broadcast(viaBloom(trueRows).agg(count(lit(1)).as("n_true_pass"))))
    f.select(col("n_build_keys"), col("n_bits_set"), col("n_probe"),
      col("n_true"), col("n_pass"),
      (col("n_pass") - col("n_true_pass")).as("n_false_pass"),
      (col("n_true") - col("n_true_pass")).as("n_missed_true"),
      when(col("n_probe") - col("n_true") === 0L, lit(null).cast("double"))
        .otherwise((col("n_pass") - col("n_true_pass")).cast("double")
          / (col("n_probe") - col("n_true")).cast("double")).as("fpr"))
  }

  /** ANALYZE mergeability certification (q341): the q333 theorem for
    * COLUMN STATISTICS — per-shard stat partials, merged at a
    * coordinator, must equal the stats computed directly over the
    * whole corpus.  Count/sum merge by addition, min/max by min/max,
    * and NDV by the genuinely two-level path (per-source DISTINCT
    * value sets, re-distincted across sources — the set-union a
    * distributed exact-NDV ANALYZE actually ships).  Both paths are
    * computed independently over documents.n_chars with source as the
    * shard key; the per-stat match flags ship as data.
    *
    * 100 TB shape: the partial side is ONE source-keyed aggregate
    * (map-side combined) + one distinct on (source, value); the merge
    * is |sources|-row algebra + one distinct on values; the direct
    * side is the same single scan ANALYZE pays anyway.  This is the
    * property that lets q338 run as per-executor partials +
    * tree-reduce instead of a single-point aggregation.
    */
  def statsMergeCert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long").as("v"))
    val partial = docs.groupBy("source").agg(
      count(lit(1)).as("c"), min(col("v")).as("mn"),
      max(col("v")).as("mx"), sum(col("v")).as("sm"))
    val merged = partial.agg(
      sum(col("c")).as("m_count"), min(col("mn")).as("m_min"),
      max(col("mx")).as("m_max"), sum(col("sm")).as("m_sum"))
    val mergedNdv = docs.select(col("source"), col("v")).distinct()
      .select(col("v")).distinct()
      .agg(count(lit(1)).as("m_ndv"))
    val direct = docs.agg(
      count(lit(1)).as("d_count"), min(col("v")).as("d_min"),
      max(col("v")).as("d_max"), sum(col("v")).as("d_sum"),
      countDistinct(col("v")).as("d_ndv"))
    val f = merged.crossJoin(broadcast(mergedNdv)).crossJoin(broadcast(direct))
    val stats = Seq(
      ("count", "m_count", "d_count"), ("min", "m_min", "d_min"),
      ("max", "m_max", "d_max"), ("sum", "m_sum", "d_sum"),
      ("ndv", "m_ndv", "d_ndv"))
    f.select(explode(array(stats.map { case (n, m, d) => struct(
        lit(n).as("stat"), col(m).cast("long").as("merged_value"),
        col(d).cast("long").as("direct_value"),
        when(col(m) === col(d), 1).otherwise(0).as("merge_matches")) }: _*))
      .as("s")).select(col("s.*")).orderBy("stat")
  }

  /** Incremental stats maintenance (q354): q347 decides WHEN to
    * refresh; this is the refresh itself for the MERGEABLE stats — the
    * q235 IVM pattern applied to the ANALYZE tier.  The stats store
    * keeps per-day-partition partials (q341's certified shapes:
    * count/sum by addition, min/max by min/max, exact NDV as per-day
    * DISTINCT value sets); when new day-partitions arrive, ONLY the
    * delta is scanned — its per-day partials are appended to the store
    * and the table-level stats re-merge from the bounded partial
    * frame.  The audit computes both sides genuinely (prior-day store
    * + delta-day partials merged, vs a direct full recompute) and
    * ships the per-stat match flag as data, plus the accounting that
    * makes the saving visible: days in the prior store, delta days,
    * and the delta row count (the ONLY rows an incremental refresh
    * reads).
    *
    * The one rebuild-only object: the q331 equi-depth HISTOGRAM.
    * Equi-depth bucket boundaries are rank statistics — not mergeable
    * from per-partition boundaries (two partitions' 16-bucket
    * histograms do not compose into the corpus' 16-bucket histogram)
    * — so a histogram refresh is a two-pass rebuild over the full
    * column by design; q347's drift gate exists precisely to make
    * that rebuild rare.  Documented here, enforced nowhere else.
    *
    * 100 TB shape: the delta scan is one day-keyed aggregate over the
    * arriving partition (map-side combined) + one distinct on
    * (day, v) for the NDV state; the merge is |days|-row algebra plus
    * one distinct over the value-set state — never a full-corpus
    * scan.  The NDV state is the honest cost: exact NDV state is
    * value-set-sized, and a production run swaps the per-day set for
    * a per-day HLL register row (q333-certified max-merge) when
    * values are high-cardinality; the fixture keeps the exact form so
    * the oracle is exact.
    */
  def statsIvm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      expr("unix_millis(ts) div 86400000").as("day"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("v"))
    val split = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("(d0 + d1 + 1) div 2").as("split"))
    val tagged = e.crossJoin(broadcast(split))
      .withColumn("is_new", col("day") >= col("split"))
    val prior = tagged.filter(!col("is_new"))
    val delta = tagged.filter(col("is_new"))
    def partials(df: DataFrame): DataFrame = df.groupBy("day").agg(
      count(lit(1)).as("c"), min(col("v")).as("mn"),
      max(col("v")).as("mx"), sum(col("v")).as("sm"))
    // the store AFTER the delta merge: prior-day partials (already on
    // disk in production) + the delta's freshly-scanned partials
    val store = partials(prior).unionByName(partials(delta))
    val merged = store.agg(
      sum(col("c")).as("m_count"), min(col("mn")).as("m_min"),
      max(col("mx")).as("m_max"), sum(col("sm")).as("m_sum"))
    val ndvState = prior.select(col("day"), col("v")).distinct()
      .unionByName(delta.select(col("day"), col("v")).distinct())
    val mergedNdv = ndvState.select(col("v")).distinct()
      .agg(count(lit(1)).as("m_ndv"))
    val direct = e.agg(
      count(lit(1)).as("d_count"), min(col("v")).as("d_min"),
      max(col("v")).as("d_max"), sum(col("v")).as("d_sum"),
      countDistinct(col("v")).as("d_ndv"))
    val acct = tagged.agg(
      countDistinct(when(!col("is_new"), col("day"))).as("n_days_prior"),
      countDistinct(when(col("is_new"), col("day"))).as("n_days_delta"),
      coalesce(sum(when(col("is_new"), lit(1L))), lit(0L)).as("n_rows_delta"))
    val f = merged.crossJoin(broadcast(mergedNdv))
      .crossJoin(broadcast(direct)).crossJoin(broadcast(acct))
    val stats = Seq(
      ("count", "m_count", "d_count"), ("min", "m_min", "d_min"),
      ("max", "m_max", "d_max"), ("sum", "m_sum", "d_sum"),
      ("ndv", "m_ndv", "d_ndv"))
    f.select(explode(array(stats.map { case (n, m, d) => struct(
        lit(n).as("stat"), col(m).cast("long").as("merged_value"),
        col(d).cast("long").as("direct_value"),
        when(col(m) === col(d), 1).otherwise(0).as("ivm_matches"),
        col("n_days_prior"), col("n_days_delta"), col("n_rows_delta")) }: _*))
      .as("s")).select(col("s.*")).orderBy("stat")
  }

  /** Bloom-prefiltered join (q356): the CBO loop's first ENFORCED
    * decision — where q339 measured what a bloom prune would do, this
    * query actually RUNS under it, via the engine's second injected
    * optimizer rule ([[graft.plans.InjectBloomPrefilter]], riding the
    * same GraftExtensions hook as RewriteTokenCount).  The build step
    * aggregates the selective dim side's keys (BUILDING-segment
    * customers) into a bloom bitmap with Spark's own distributed
    * `graft_bloom_agg` (one bounded 1-row collect — the ANALYZE step
    * of the q331→q348 lifecycle; q360/[[graft.plans.StatsStore]] is
    * the persisted form that amortizes this build across sessions,
    * registered in [[graft.plans.BloomRegistry]]); the probe column
    * is renamed to a per-call
    * UNIQUE name and registered, so the rule splices
    * `might_contain(bloom, key)` under the orders side of THIS join
    * and can never touch an unrelated plan.  The query's VALUE is
    * oracle-checked against the plain join (no false negatives — the
    * q339-certified property); the plan-assert spec pins the
    * might_contain Filter on the probe side BELOW the exchange.
    *
    * 100 TB shape: this is the single biggest shuffle lever a
    * selective fact⋈dim join has — definite-miss fact rows (here ~4/5
    * of orders) die at the scan instead of shuffling; the bitmap is
    * KB-sized regardless of corpus scale and rides the plan as a
    * literal (broadcast-equivalent).  Spark's own InjectRuntimeFilter
    * is the per-plan scalar-subquery flavor; the registry flavor
    * amortizes ONE build across every consumer of the same dim —
    * exactly how the engine's persisted stats already work.
    */
  def bloomPrefilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.RegisterFunctions(spark) // graft_bloom_agg on pre-built sessions
    val probeName = "gbp_custkey_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val build = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloom = build
      .agg(expr("graft_bloom_agg(c_custkey, 16384, 131072)").as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloom != null) graft.plans.BloomRegistry.register(probeName, bloom)
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as(probeName), col("o_orderpriority"),
      floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
        .as("price_cents"))
    o.join(build, col(probeName) === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** Storage-encoding advisor (q342): the second q338 consumer — the
    * dictionary-vs-plain encoding decision a columnar writer makes
    * from exactly the stats q338 computes.  Per column: plain bytes =
    * rows × 8 (the quantized BIGINT width); dictionary bytes = NDV × 8
    * for the dictionary + ⌈rows × idx_bits / 8⌉ for the indices,
    * idx_bits = bitlen(NDV − 1) (1 when NDV ≤ 1) — all exact integer
    * arithmetic (bitlen via the established conv/bin cross-engine
    * pairing), decision and saving fraction per column.
    *
    * 100 TB shape: identical to q338 (one scan, the 5-way Expand for
    * exact NDV); the advisory itself is 4 rows of integer algebra.
    * Low-NDV measures (discount, tax: 9–11 values) dictionary-encode
    * at ~6% of plain; high-NDV extendedprice stays plain — the
    * decision that sizes a 100 TB parquet footprint.
    */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val stats = multiColStats(spark, dir)
    val bits = when(col("n_distinct") <= 1L, lit(1L))
      .otherwise(length(conv((col("n_distinct") - 1L).cast("string"), 10, 2))
        .cast("long"))
    val dictBytes = expr("n_distinct * 8 + (n_rows * idx_bits + 7) div 8")
    stats.select(col("col_name"), col("n_rows"), col("n_distinct"))
      .withColumn("idx_bits", bits)
      .withColumn("plain_bytes", col("n_rows") * 8L)
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("idx_bits"), col("plain_bytes"), dictBytes.as("dict_bytes"),
        when(dictBytes < col("plain_bytes"), "dict").otherwise("plain")
          .as("encoding"),
        ((col("plain_bytes") - dictBytes).cast("double")
          / col("plain_bytes").cast("double")).as("saving_frac"))
      .orderBy("col_name")
  }

  /** Selectivity-estimation audit (q335): the CONSUMER that closes
    * q331's CBO loop — the histogram was built, this probes it the way
    * a cost-based optimizer would and scores it against ground truth
    * (the q257 cardinality-audit discipline applied to scans).  For a
    * pinned set of range predicates on l_extendedprice (integer
    * cents), estimated rows come from the 16-bucket equi-depth
    * histogram under the standard uniform-within-bucket assumption:
    * each bucket contributes n_rows · overlap/(hi−lo+1), overlap =
    * max(0, min(hi,B) − max(lo,A) + 1) — exact integers into ONE
    * pinned divide-then-multiply per bucket, contributions folded in
    * bucket order (16 elements, the bounded-frame exception).
    *
    * 100 TB shape: the histogram is 16 rows and the predicate list a
    * literal — the estimation side is driver-trivial by design (that
    * is what makes histogram stats usable in an optimizer); the only
    * corpus-sized work is the ground-truth recount, ONE lineitem scan
    * broadcast-NL-joined to the 6 pinned ranges (bounded fan-out 6)
    * and counted per predicate.  est/actual/abs-error per predicate
    * is the audit a stats pipeline ships to decide refresh cadence.
    */
  def selectivityAudit(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val preds = pinnedPreds(spark)
    val est = histEstimates(equiDepthHist(spark, dir, k), preds)
    val cents = Tables.lineitem(spark, dir)
      .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long").as("v"))
    est.join(predActuals(cents, preds), Seq("pred_id"), "left")
      .na.fill(0L, Seq("actual_rows"))
      .select(col("pred_id"), col("p_lo").as("lo_cents"),
        col("p_hi").as("hi_cents"), col("est_rows"), col("actual_rows"),
        abs(col("est_rows") - col("actual_rows").cast("double")).as("abs_err"))
      .orderBy("pred_id")
  }

  /** The pinned probe ranges q335/q347 share, in integer cents
    * (fixture prices span 90_182..10_499_788): broad, all, mid band,
    * high tail, below-min (both sides must report zero), near-point.
    */
  private def pinnedPreds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, 100000L, 1000000L), (2L, 0L, 20000000L),
      (3L, 4000000L, 6000000L), (4L, 9000000L, 10500000L),
      (5L, 1L, 50000L), (6L, 2500000L, 2500099L))
      .toDF("pred_id", "p_lo", "p_hi")
  }

  /** Uniform-within-bucket interpolation of each predicate against an
    * equi-depth histogram: exact integer overlap into ONE pinned
    * divide-then-multiply per bucket, contributions folded in bucket
    * order (≤ k elements, the bounded-frame exception).
    */
  private def histEstimates(hist: DataFrame, preds: DataFrame): DataFrame =
    hist.crossJoin(broadcast(preds))
      .withColumn("ov", greatest(lit(0L),
        least(col("hi_cents"), col("p_hi"))
          - greatest(col("lo_cents"), col("p_lo")) + lit(1L)))
      .withColumn("c",
        col("ov").cast("double")
          / (col("hi_cents") - col("lo_cents") + lit(1L)).cast("double")
          * col("n_rows").cast("double"))
      .groupBy("pred_id", "p_lo", "p_hi")
      .agg(aggregate(
        sort_array(collect_list(struct(col("bucket").as("id"), col("c").as("v")))),
        lit(0.0), (a, x) => a + x.getField("v")).as("est_rows"))

  /** Exact per-predicate recount: ONE scan of the value frame,
    * broadcast-NL against the pinned ranges (bounded fan-out).
    */
  private def predActuals(cents: DataFrame, preds: DataFrame): DataFrame =
    cents.join(broadcast(preds),
        col("v") >= col("p_lo") && col("v") <= col("p_hi"))
      .groupBy("pred_id").agg(count(lit(1)).as("actual_rows"))

  /** Statistics-freshness audit (q347): WHEN to re-ANALYZE — the
    * decision that completes the q331→q335 loop.  Statistics built on
    * yesterday's snapshot (a hash-designated 90% of today's rows — the
    * q329 designation pattern standing in for a day-old table) serve
    * today's planning until their estimates drift: each pinned q335
    * predicate is estimated from the STALE histogram, row-count-scaled
    * to today (est · n_today / n_stale, the standard stats
    * extrapolation), and compared against today's exact recount; a
    * predicate whose relative error exceeds 10% flags refresh, and the
    * query ships the per-predicate evidence plus the any-predicate
    * decision — the re-ANALYZE trigger a stats pipeline schedules on.
    *
    * 100 TB shape: identical to q331 + q335 (one rank shuffle for the
    * stale build, one scan for the recount); the decision is 6 rows of
    * pinned double algebra.
    */
  def statsFreshness(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val preds = pinnedPreds(spark)
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("v"))
    val stale = cents.filter(pmod(TextAnalysis.hv60(
      concat(lit("st:"), col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), lit(10L)) =!= 0L)
    val est = histEstimates(equiDepthHistFrom(stale, k), preds)
    val scale = stale.agg(count(lit(1)).as("n_stale"))
      .crossJoin(cents.agg(count(lit(1)).as("n_today")))
    val scaled = est.crossJoin(broadcast(scale))
      .withColumn("est_scaled",
        col("est_rows") / col("n_stale").cast("double")
          * col("n_today").cast("double"))
    scaled.join(predActuals(cents.select(col("v")), preds), Seq("pred_id"), "left")
      .na.fill(0L, Seq("actual_rows"))
      .withColumn("rel_err",
        when(col("actual_rows") === 0L, lit(null).cast("double"))
          .otherwise(abs(col("est_scaled") - col("actual_rows").cast("double"))
            / col("actual_rows").cast("double")))
      .withColumn("refresh",
        when(col("rel_err") > lit(0.10), 1).otherwise(0))
      .select(col("pred_id"), col("p_lo").as("lo_cents"),
        col("p_hi").as("hi_cents"), col("est_scaled"), col("actual_rows"),
        col("rel_err"), col("refresh"))
      .orderBy("pred_id")
  }

  /** Join-order advisor (q348): the DECISION the CBO stats exist for —
    * given the three-table chain customer ⋈ orders ⋈ lineitem, which
    * two-table join runs first?  Both candidate orders are costed with
    * the textbook containment estimate |A⋈B| ≈ n_A·n_B / max(d_A, d_B)
    * from EXACT per-side row counts and join-key NDVs (one cheap
    * aggregate per side), the intermediate's key NDV propagated as
    * min(parent NDV, estimated rows) — and then both orders' ACTUAL
    * intermediate sizes are recounted, so the advisory is scored
    * against ground truth in the same row (the q257/q335 audit
    * discipline applied to the planner's central choice).
    *
    * Determinism: counts and NDVs are exact BIGINTs; each estimate is
    * the identical left-associated divide-then-multiply double
    * sequence on both engines; `chosen` breaks est ties toward the
    * lexicographically smaller label.
    *
    * 100 TB shape: six 1-row aggregates (each one map-side-combined
    * scan of a key column) + the two real intermediate counts, which
    * are the audit's deliberate price — production consults only the
    * estimate side, already computed from the q338/q341 stats it
    * maintains anyway.
    */
  def joinOrderAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val stats = c.agg(count(lit(1)).as("nc"), countDistinct(col("c_custkey")).as("dc_ck"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("no"),
        countDistinct(col("o_custkey")).as("do_ck"),
        countDistinct(col("o_orderkey")).as("do_ok"))))
      .crossJoin(broadcast(l.agg(count(lit(1)).as("nl"),
        countDistinct(col("l_orderkey")).as("dl_ok"))))
      .crossJoin(broadcast(c.join(o, col("c_custkey") === col("o_custkey"))
        .agg(count(lit(1)).as("a_co"))))
      .crossJoin(broadcast(o.join(l, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("a_ol"))))
    val estCO = col("nc").cast("double") * col("no").cast("double") /
      greatest(col("dc_ck"), col("do_ck")).cast("double")
    val estOL = col("no").cast("double") * col("nl").cast("double") /
      greatest(col("do_ok"), col("dl_ok")).cast("double")
    val withEst = stats
      .withColumn("est_co", estCO)
      .withColumn("est_ol", estOL)
      // intermediate key-NDV propagation: min(parent NDV, est rows)
      .withColumn("est_co_total", col("est_co") * col("nl").cast("double") /
        greatest(least(col("do_ok").cast("double"), col("est_co")),
          col("dl_ok").cast("double")))
      .withColumn("est_ol_total", col("est_ol") * col("nc").cast("double") /
        greatest(least(col("do_ck").cast("double"), col("est_ol")),
          col("dc_ck").cast("double")))
    withEst.select(explode(array(
        struct(lit("co_first").as("join_order"),
          col("est_co").as("est_intermediate"),
          col("a_co").as("actual_intermediate"),
          col("est_co_total").as("est_final"),
          when(col("est_co") <= col("est_ol"), 1).otherwise(0).as("chosen")),
        struct(lit("ol_first").as("join_order"),
          col("est_ol").as("est_intermediate"),
          col("a_ol").as("actual_intermediate"),
          col("est_ol_total").as("est_final"),
          when(col("est_ol") < col("est_co"), 1).otherwise(0).as("chosen"))))
        .as("s"))
      .select(col("s.*"))
      .orderBy("join_order")
  }

  /** Join order ENFORCED (q357): q348 advises; this one obeys.  The
    * three-table chain customer(BUILDING) ⋈ orders ⋈ lineitem is
    * BUILT in the naive order (orders⋈lineitem first — the order a
    * user writing the query top-down produces), the q348 containment
    * estimates are computed from exact counts/NDVs (the ANALYZE step;
    * production reads these from the q338/q341 persisted stats), and
    * the decision — "the customer join's intermediate is smaller, run
    * it FIRST" — is registered under a per-call-unique marker column
    * name.  The injected [[graft.plans.ReorderJoinByStats]] rule then
    * REASSOCIATES the plan: ((o⋈l)⋈c) → ((o⋈c)⋈l), pure inner-join
    * algebra, value-invisible, and the physical plan provably runs
    * the selective join innermost (Batch27Spec pins it, plus that the
    * UNREGISTERED shape keeps the naive order — the rule, not the
    * planner, made the change).
    *
    * 100 TB shape: this IS the decision that separates a day-long
    * plan from an hour-long one at scale — the ~5× selective customer
    * filter cuts the first intermediate from |lineitem|-sized to
    * |orders|/5-sized before the big fact table is touched.  Spark's
    * own CBO reorder needs ANALYZE TABLE stats in a catalog; the
    * registry flavor runs off the engine's own maintained stats, same
    * lifecycle as q356's bloom.
    */
  def joinOrderEnforced(spark: SparkSession, dir: String): DataFrame = {
    val marker = "gjo_custkey_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val cB = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey").as(marker), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
        .as("cents"))
    // the ANALYZE step: exact counts/NDVs, one bounded row (the q348
    // estimate form; production registers from the persisted q360
    // store instead — StatsStore.registerJoinOrderFromStore)
    val st = cB.agg(count(lit(1)).as("nc"),
        countDistinct(col("c_custkey")).as("dc"))
      .crossJoin(broadcast(Tables.orders(spark, dir).agg(
        count(lit(1)).as("no"), countDistinct(col("o_custkey")).as("dock"),
        countDistinct(col("o_orderkey")).as("dook"))))
      .crossJoin(broadcast(Tables.lineitem(spark, dir).agg(
        count(lit(1)).as("nl"), countDistinct(col("l_orderkey")).as("dlok"))))
      .head()
    val estCO = st.getLong(0).toDouble * st.getLong(2).toDouble /
      math.max(st.getLong(1), st.getLong(3)).toDouble
    val estOL = st.getLong(2).toDouble * st.getLong(5).toDouble /
      math.max(st.getLong(4), st.getLong(6)).toDouble
    graft.plans.JoinOrderRegistry.register(marker, estCO <= estOL)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .join(cB, col(marker) === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** Persisted-CBO consumer (q360): the lifecycle q356/q357's
    * scaladocs promised, actually shipped — ONE ANALYZE publish
    * ([[graft.plans.StatsStore]]: the q338 column stats, the q348
    * chain stats, and the q339/q356 bloom bitmap, each a rename-
    * published parquet artifact), then a consumer whose registration
    * comes from the STORE: `registerBloomFromStore` reads the 1-row
    * bitmap artifact on the driver and registers it — NO customer
    * rescan, NO inline `graft_bloom_agg`, no aggregate of any kind on
    * the registration path (Batch28Spec pins the consumer plan free
    * of BloomFilterAggregate and proves a genuinely FRESH session
    * reuses the stored bitmap).  The join itself is the q356 probe
    * shape; the output differs (max_cents instead of sum) so the two
    * registry entries stay independent oracles.
    *
    * The publish is priced INSIDE this query (the fixture has no
    * cross-run store location) — production runs it on q347's drift
    * schedule and every consumer afterwards pays only the artifact
    * read.  Value identity is the oracle: the bloom has no false
    * negatives, so the prefiltered join equals the plain join.
    *
    * 100 TB shape: publish = the ANALYZE scans q338/q348/q339 already
    * price, paid once; consume = a KB-sized driver read + the same
    * pre-shuffle pruning q356 measured (~4/5 of orders rows die
    * before the exchange).  Optimizer state survives restarts the
    * same way the reference's `startId` resume does (README.md:80-88).
    */
  def cboPersisted(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-stats-store")
    try {
      graft.plans.StatsStore.publish(spark, dir, store.toString)
      val probeName = "gbp_store_custkey_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // the consumer path: registration material comes from the
      // artifact alone (driver-side 1-row read)
      require(graft.plans.StatsStore.registerBloomFromStore(
        spark, store.toString, probeName), "bloom artifact present")
      val build = Tables.customer(spark, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(spark, dir).select(
        col("o_custkey").as(probeName), col("o_orderpriority"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("price_cents"))
      o.join(build, col(probeName) === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          max(col("price_cents")).as("max_cents"))
        .orderBy("o_orderpriority")
    } finally
      // the artifacts were consumed EAGERLY (driver-side head) during
      // registration — nothing lazy references the store, so the temp
      // dir can go now; a crash before this leaves only a temp dir
      graft.util.Fs.deleteRecursively(store)
  }

  /** Histogram-from-store estimator (q364): the persisted-lifecycle
    * story completed for the ONE rebuild-only statistics object.
    * q354 proved the equi-depth histogram cannot be maintained from
    * partials (bucket boundaries are rank statistics); q347 decides
    * WHEN the rebuild runs; this query shows what happens after it
    * runs: the 16-bucket histogram is rename-published as a
    * [[graft.plans.StatsStore]] artifact, and the ESTIMATOR consumes
    * the stored 16 rows — the q335 audit with its two-pass rank build
    * replaced by a KB-sized artifact read (Batch28Spec pins the
    * estimate side free of any window/rank over lineitem).  The
    * ground-truth recount stays genuine (one lineitem scan — the
    * audit's deliberate price, same as q335), so the output is
    * bit-identical to q335's: est/actual/abs-error per pinned
    * predicate.
    *
    * 100 TB shape: the rebuild (two-pass range-partition rank) is
    * paid on q347's drift schedule, once; every estimation afterwards
    * is 16 rows × 6 predicates of driver-trivial interpolation —
    * which is precisely why real optimizers keep histograms in a
    * catalog instead of rebuilding them per query.
    */
  def histPersisted(spark: SparkSession, dir: String,
      k: Int = 16): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-hist-store")
    try {
      graft.plans.StatsStore.publishHistogram(spark, dir, store.toString, k)
      val hist = graft.plans.StatsStore.readHistogram(spark, store.toString)
        .getOrElse(sys.error("histogram artifact present"))
      // the artifact is 16 rows — pull it off disk NOW (bounded-frame
      // materialization) so the temp store can be deleted eagerly
      val local = graft.util.Fs.localize(spark, hist)
      val est = histEstimates(local, pinnedPreds(spark))
      val cents = Tables.lineitem(spark, dir)
        .select(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
          .cast("long").as("v"))
      est.join(predActuals(cents, pinnedPreds(spark)), Seq("pred_id"), "left")
        .na.fill(0L, Seq("actual_rows"))
        .select(col("pred_id"), col("p_lo").as("lo_cents"),
          col("p_hi").as("hi_cents"), col("est_rows"), col("actual_rows"),
          abs(col("est_rows") - col("actual_rows").cast("double")).as("abs_err"))
        .orderBy("pred_id")
    } finally graft.util.Fs.deleteRecursively(store)
  }

  def equiDepthHist(spark: SparkSession, dir: String, k: Int = 16): DataFrame =
    equiDepthHistFrom(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
            .as("v")), k)

  /** Exchange-reuse self-join (q367): a count-of-counts collision
    * profile (the same frame Good–Turing q194 smooths) computed the
    * way Spark is BUILT to compute repeated subtrees — the per-part
    * line-count histogram is consumed twice by a self-equi-join on its
    * value column, and the engine shuffles the underlying aggregate
    * ONCE: both join inputs hash-partition the identical child on the
    * same key, so the second exchange is replaced by a ReusedExchange
    * node (Batch29Spec pins it in the physical plan).  Output: for
    * each histogram multiplicity `n_parts`, the number of unordered
    * bucket pairs (self-pairs included, so every bucket reports) that
    * share it — k·(k+1)/2 for a k-way collision.
    *
    * 100 TB shape: exchange reuse halves the shuffle bill of any plan
    * that reads one aggregate from two sides (self-joins, A-vs-all
    * comparisons, share-of-total patterns) — the optimization is free
    * BECAUSE the plan is declarative: two renamed projections of one
    * DataFrame canonicalize to the same subtree.  The self-join itself
    * is histogram-sized (distinct count values, ~dozens), never
    * corpus-sized; the groupwise pair blow-up is bounded by the
    * histogram's collision multiplicity, not by row count.
    */
  def exchangeReuse(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_lines"))
      .groupBy(col("n_lines")).agg(count(lit(1)).as("n_parts"))
    val a = h.select(col("n_lines").as("lines_a"), col("n_parts"))
    val b = h.select(col("n_lines").as("lines_b"), col("n_parts").as("np_b"))
    a.join(b, col("n_parts") === col("np_b") &&
        col("lines_a") <= col("lines_b"))
      .groupBy("n_parts").agg(count(lit(1)).as("n_pairs"))
      .orderBy("n_parts")
  }

  /** MV-rewrite consumer (q368): the engine's fourth injected
    * optimizer rule ([[graft.plans.RewriteToMv]]) exercised end to
    * end — the daily-revenue MV is built and rename-published ONCE
    * ([[graft.plans.MvStore.publish]], the StatsStore artifact
    * discipline applied to precomputed data), the monthly rollup's
    * compensation plan is registered under a per-call-unique marker,
    * and the consumer query — written against the BASE lineitem table
    * — is answered from the artifact: the optimizer substitutes the
    * registered re-aggregation with exprId-preserving aliases, so the
    * physical plan scans the KB-sized MV and never opens lineitem
    * (Batch29Spec pins both directions: no lineitem scan when
    * registered, a lineitem scan in the unregistered control, values
    * identical).  The DuckDB oracle recomputes from the base table,
    * so value identity of the rewrite is the correctness gate itself.
    *
    * Determinism: per-row revenue is quantized to DECIMAL(18,4) (the
    * q01 money rule); daily partial sums and their monthly re-sum are
    * exact decimal arithmetic, so MV-path and base-path revenues are
    * bit-identical after the one final cast to DOUBLE.
    *
    * 100 TB shape: the MV build is one fact scan into a (day × flag)-
    * sized keyed aggregate, paid on the refresh schedule; every
    * rewritten dashboard query afterwards reads ~2.5k MV rows instead
    * of the 100 TB fact.  The result is month×flag-sized — a bounded
    * frame — so it is localized before the temp store deletes
    * (Fs.localize; the store is gone by the time this returns).
    */
  def mvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-mv-store")
    try {
      graft.plans.MvStore.publish(spark, dir, store.toString)
      val marker = "gmv_rev_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      graft.plans.MvStore.registerRollup(spark, dir, store.toString, marker)
      try graft.util.Fs.localize(spark,
        graft.plans.MvStore.baseConsumer(spark, dir, marker))
      finally graft.plans.MvRegistry.unregister(marker)
    } finally {
      graft.util.Fs.syncRecursively(store)
      graft.util.Fs.deleteRecursively(store)
    }
  }

  /** Filter-COMPENSATED MV rewrite (q378): the q368 consumer with a
    * compound predicate over BOTH grouping columns composed on top — a
    * month range and a returnflag exclusion.  PushDownPredicates
    * (which runs before injected rules) rewrites the predicate in
    * base-column terms and pushes it below the marked projection,
    * where a marker-name match alone would wrongly answer the
    * FILTERED aggregate from the UNFILTERED rollup; instead
    * [[graft.plans.RewriteToMv]] pulls the predicate back up through
    * the projection (reversing the pushdown substitution), proves it
    * commutes with the aggregation (every reference is a grouping
    * attribute the Aggregate passes through), rebinds it to the MV
    * rollup's output, and splices `σ(compensation plan)` — the
    * rewritten plan still carries ZERO lineitem scans (Batch31Spec
    * pins the plan; the q370-style guard tests pin the refusals for
    * predicates that do NOT commute).
    *
    * Determinism: the q368 DECIMAL(18,4) argument is unchanged — the
    * predicate is constant per group, so filtering daily partials by
    * month equals filtering base rows, and the compensated sums are
    * bit-identical to the direct recompute before the final DOUBLE
    * cast.
    *
    * 100 TB shape: this is the case that makes MV rewrite USEFUL —
    * dashboard queries are rarely the registered rollup verbatim;
    * they are the rollup plus a slicing predicate.  Compensation on
    * grouping columns answers every such slice from the KB-sized
    * artifact; predicates that touch measures fall back to the base
    * table rather than returning wrong rows.
    */
  def mvRewriteFiltered(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-mvf-store")
    try {
      graft.plans.MvStore.publish(spark, dir, store.toString)
      val marker = "gmv_cf_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      graft.plans.MvStore.registerRollup(spark, dir, store.toString, marker)
      try graft.util.Fs.localize(spark,
        graft.plans.MvStore.baseConsumer(spark, dir, marker)
          .filter(col("ship_month").between("1994-01", "1996-12") &&
            col("l_returnflag") =!= "N"))
      finally graft.plans.MvRegistry.unregister(marker)
    } finally {
      graft.util.Fs.syncRecursively(store)
      graft.util.Fs.deleteRecursively(store)
    }
  }

  /** Dimension-DROPPING MV derivability (q379): a flag-only total —
    * the month dimension eliminated entirely — answered from the SAME
    * daily MV artifact, while the q368 monthly-rollup registration is
    * ALSO live.  This exercises the other direction of derivability
    * (q368/q378 coarsen day→month; here the time dimension is summed
    * out) and the registry's multi-consumer discipline: the two
    * registrations differ in arity AND signature (grouping types
    * [month,flag] vs [flag]; both refuse each other's markers), so
    * two concurrently-registered consumers of one artifact can never
    * cross-answer — Batch31Spec pins both rewrites firing in one
    * registry state with zero lineitem scans in either plan.
    *
    * The consumer also carries a flag slice, so the dropped-dimension
    * path composes with q378's filter compensation: the predicate is
    * pulled up, proven to commute (flag IS the one grouping column),
    * and applied to the 3-row flag rollup.
    *
    * 100 TB shape: one daily-partial artifact serves every coarser
    * rollup AND every dimension-dropped total — the fan-out that
    * justifies paying the MV build at all.  Per consumer the read is
    * the KB-sized artifact; the fact table is opened exactly once, at
    * publish time.
    */
  def mvRewriteDimDrop(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-mvd-store")
    try {
      graft.plans.MvStore.publish(spark, dir, store.toString)
      val mMonth = "gmv_dd_m_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val mFlag = "gmv_dd_f_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      graft.plans.MvStore.registerRollup(spark, dir, store.toString, mMonth)
      try {
        graft.plans.MvStore.registerFlagRollup(spark, dir, store.toString,
          mFlag)
        try graft.util.Fs.localize(spark,
          graft.plans.MvStore.flagConsumer(spark, dir, mFlag)
            .filter(col("l_returnflag") =!= "N"))
        finally graft.plans.MvRegistry.unregister(mFlag)
      } finally graft.plans.MvRegistry.unregister(mMonth)
    } finally {
      graft.util.Fs.syncRecursively(store)
      graft.util.Fs.deleteRecursively(store)
    }
  }

  /** Join-consistent (coordinated) sampling audit (q373): sample two
    * fact tables INDEPENDENTLY by the same deterministic hash of the
    * join key (keep orderkey iff hv60('cs:'‖key) mod 100 < 10) and the
    * join of the samples is EXACTLY the 10% key-sample of the full
    * join — membership is a function of the key alone, so no matching
    * row is ever half-sampled.  The row-Bernoulli alternative keeps a
    * matching pair with probability p² (1% here) and its join estimate
    * needs a 1/p² correction with p²-inflated variance; coordinated
    * sampling needs 1/p and keeps every surviving order INTACT (its
    * full line fan-out), which is why distributed engines sample by
    * key hash.  The audit proves the identity per order priority
    * (sample⋈sample vs filter-after-join, flag-pinned) and prices the
    * estimator: scaled line counts vs the true total with the relative
    * error.
    *
    * 100 TB shape: each side's sample is a scan-level filter (no
    * coordination traffic — the "coordination" is the shared hash
    * function); the audit join touches only the 10% survivors.  The
    * ground-truth recount is the audit's deliberate price (the q335
    * discipline).  Sampling both sides of a join without key
    * coordination is the classic silent-bias trap this query exists
    * to document.
    */
  def consistentSample(spark: SparkSession, dir: String,
      pct: Int = 10): DataFrame = {
    // the 1/p scale-up below is the exact integer 100/pct — a pct that
    // doesn't divide 100 would silently truncate the estimator
    require(pct > 0 && 100 % pct == 0, s"pct must divide 100, got $pct")
    def keep(c: org.apache.spark.sql.Column) =
      pmod(TextAnalysis.hv60(concat(lit("cs:"), c.cast("string"))),
        lit(100L)) < lit(pct.toLong)
    val oS = Tables.orders(spark, dir)
      .filter(keep(col("o_orderkey")))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lS = Tables.lineitem(spark, dir)
      .filter(keep(col("l_orderkey"))).select(col("l_orderkey"))
    val sampleJoin = oS.join(lS, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderkey")).as("n_orders_s"),
        count(lit(1)).as("n_lines_s"))
    // ONE pass of the full join serves both the filter-after-join side
    // of the identity AND the ground truth (conditional aggregation —
    // the r19 plan-audit fix: the join previously executed twice)
    val fullAgg = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum(when(keep(col("o_orderkey")), 1L).otherwise(0L))
          .as("n_lines_js"),
        count(lit(1)).as("true_lines"))
    sampleJoin
      .join(fullAgg, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_orders_s"), col("n_lines_s"),
        when(col("n_lines_s") === col("n_lines_js"), 1).otherwise(0)
          .as("consistency_match"),
        (col("n_lines_s") * lit(100L / pct)).as("est_lines"),
        col("true_lines"),
        abs((col("n_lines_s") * lit(100L / pct)).cast("double")
          - col("true_lines").cast("double")).as("abs_err"))
      .orderBy("o_orderpriority")
  }

  /** JOIN view maintained under retractions (q375): the IVM triangle
    * completed — q249 maintains a join under INSERTS, q370 an
    * aggregate under deletes; this maintains an aggregate OVER A JOIN
    * under deletes on BOTH inputs, which takes the full Z-set product
    * rule: Δ(O ⋈ L) = ΔO⋈L + O⋈ΔL + ΔO⋈ΔL with signed multiplicities
    * (the third term corrects the double-subtraction when an erased
    * order meets its own erased lines — drop it and every cascaded
    * row is removed twice).  The scenario is q365's erasure cascade
    * hitting a MAINTAINED revenue view: erased orders (−1) and their
    * FK-cascaded lines (−1).  The audit recomputes from the kept
    * tables and pins equality with match flags, all exact integers.
    *
    * 100 TB shape: each delta term joins a |Δ|-sized side against the
    * base ONCE (broadcast when the erasure batch is small — the
    * normal case); the maintained state is group-cardinality-sized.
    * The alternative — re-joining 100 TB of fact against fact per
    * erasure batch — is the cost this algebra exists to avoid.
    */
  def joinRetractIvm(spark: SparkSession, dir: String): DataFrame = {
    val oAll = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lAll = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long")
        .as("units"))
    def erased(c: org.apache.spark.sql.Column) = pmod(c, lit(31L)) === 0L
    val oDel = oAll.filter(erased(col("o_orderkey")))
    val lDel = lAll.filter(erased(col("l_orderkey")))
    val jOld = oAll.join(lAll, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n0"), sum(col("units")).as("u0"))
    def term(o: DataFrame, l: DataFrame, mult: Long) =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"), lit(mult).as("mult"), col("units"))
    val delta = term(oDel, lAll, -1L)
      .unionByName(term(oAll, lDel, -1L))
      .unionByName(term(oDel, lDel, 1L))
    val dAgg = delta.groupBy("o_orderpriority").agg(
      sum(col("mult")).as("dn"),
      sum(col("mult") * col("units")).as("du"),
      sum(when(col("mult") === -1L, 1L).otherwise(0L)).as("n_retract_terms"))
    val merged = jOld.join(dAgg, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_retract_terms"), lit(0L)).as("n_retract_terms"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("merged_lines"),
        (coalesce(col("u0"), lit(0L)) + coalesce(col("du"), lit(0L)))
          .as("merged_units"))
    val direct = oAll.filter(!erased(col("o_orderkey")))
      .join(lAll.filter(!erased(col("l_orderkey"))),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("direct_lines"), sum(col("units")).as("direct_units"))
    merged.join(direct, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"), col("n_retract_terms"),
        col("merged_lines"),
        coalesce(col("direct_lines"), lit(0L)).as("direct_lines"),
        when(col("merged_lines") === coalesce(col("direct_lines"), lit(0L)), 1)
          .otherwise(0).as("lines_match"),
        col("merged_units"),
        coalesce(col("direct_units"), lit(0L)).as("direct_units"),
        when(col("merged_units") === coalesce(col("direct_units"), lit(0L)), 1)
          .otherwise(0).as("units_match"))
      .orderBy("o_orderpriority")
  }

  /** Daily metrics PIVOTED by event type (q376): the q175 unpivot's
    * inverse, completing the reshape pair — one row per day, one
    * quantized value-sum column per event type (the fixed five), plus
    * the day's event count.  Spark's `pivot` with an EXPLICIT value
    * list is the scale-correct form: without it the engine runs an
    * extra distinct-scan to discover the columns AND the plan schema
    * becomes data-dependent (a new event type silently widens every
    * downstream consumer); with it, the pivot is one keyed aggregate
    * with a 5-way conditional projection — exactly the CASE-sum plan
    * the oracle states declaratively.
    *
    * 100 TB shape: one shuffle on day (map-side combined), output
    * day-cardinality-sized.  A day missing a type yields 0 via the
    * same null→0 rule in both engines.
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = Tables.events(spark, dir).select(
      to_date(col("ts")).cast("string").as("day"),
      col("event_type"),
      floor(col("value") * lit(1.0e6) + lit(0.5)).cast("long").as("units"))
    val pivoted = e.groupBy("day").pivot("event_type", types)
      .agg(sum(col("units")))
      .na.fill(0L, types)
    val counts = e.groupBy("day").agg(count(lit(1)).as("n_events"))
    pivoted.join(counts, Seq("day"))
      .select(col("day") +: col("n_events") +:
        types.map(t => col(t).as(s"${t}_units")): _*)
      .orderBy("day")
  }

  /** The histogram build over any (l_orderkey, l_linenumber, v) frame —
    * split out so q347 can build STALE statistics on a snapshot subset
    * through the identical plan.
    */
  private[graft] def equiDepthHistFrom(cents: DataFrame, k: Int): DataFrame = {
    GlobalPrefix(cents, 32, eager = true, keys = Nil,
        order = Seq(col("v").asc, col("l_orderkey").asc, col("l_linenumber").asc))(
        GlobalPrefix.Running("rank", total = Some("n")))
      .withColumn("bucket", TextAnalysis.ntileExpr(k))
      .groupBy("bucket")
      .agg(min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"),
        count(lit(1)).as("n_rows"), countDistinct(col("v")).as("n_distinct"))
      .orderBy("bucket")
  }
}
