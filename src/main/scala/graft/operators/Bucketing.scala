package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: pre-shuffle both fact tables into the
  * same bucket layout on the join key, then join with ZERO exchanges —
  * the standard way to amortize the dominant fact⋈fact shuffle across
  * every downstream query at 100 TB (pay the shuffle once at write
  * time, never again).
  *
  * Spark specifics: `bucketBy` is a managed-table write
  * (`saveAsTable`); both sides must agree on bucket count and key,
  * and `spark.sql.sources.bucketing.enabled` (default true) lets the
  * planner replace Exchange+Sort with the bucket layout.
  */
object Bucketing {

  /** Write `df` as a bucketed managed table (overwrites; also clears a
    * leftover table location from a previous JVM — the in-memory
    * catalog forgets tables across sessions but the warehouse dir
    * survives, and saveAsTable refuses to reuse the path).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // clear any leftover catalog entry AND warehouse dir first —
    // saveAsTable refuses a surviving path from a previous JVM
    dropBucketed(spark, table)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop a bucketed table AND its warehouse files (the in-memory
    * catalog forgets across JVMs but the directory survives and
    * would make the next saveAsTable refuse the path).
    */
  def dropBucketed(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    // fsync before delete (Fs.syncRecursively doc): each bench rep pays
    // its own writeback instead of pushing dirty pages onto the next rep
    val dir = new java.io.File(warehouse, table).toPath
    graft.util.Fs.syncRecursively(dir)
    graft.util.Fs.deleteRecursively(dir)
  }

  /** The q237 join+aggregate over already-written bucketed tables,
    * exposed unexecuted for the PlanGuard pin: the orderkey join rides
    * the shared bucket layout with NO exchange on either side; the
    * only shuffle in the plan is the final 5-row priority aggregate.
    */
  def bucketedJoinAgg(spark: SparkSession, liTable: String, ordTable: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = spark.table(liTable)
    val o = spark.table(ordTable)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("total_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("total_price"))
  }

  /** q237: the registered, oracle-checked form of the co-located join.
    * Both fact tables are written bucketed×8 on the orderkey, then the
    * fact⋈fact join runs WITHOUT a shuffle on either side — the
    * pay-the-shuffle-once-at-write-time layout that amortizes the
    * dominant exchange across every downstream query at 100 TB.
    *
    * Broadcast is disabled for the query's duration: at fixture scale
    * the 150k-row orders side fits under the threshold and the planner
    * would (correctly) broadcast it, which is exactly the regime the
    * bucket layout is NOT for — the 100 TB design point has both sides
    * fact-sized, and the pin must exercise that plan.  Conf restored
    * in a finally.
    *
    * The bounded (5-row) aggregate is collected into a local relation
    * so the scratch tables drop eagerly (FormatOps materialization
    * rationale); bench reps pay the full bucketed write each rep.
    */
  def colocatedRevenue(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    // per-invocation table names: fixed globals would let a concurrent
    // caller's finally-block drop the tables mid-join
    val (liT, ordT) = (graft.util.UniqueName("graft_li_q237_"),
      graft.util.UniqueName("graft_ord_q237_"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      writeBucketed(
        graft.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_quantity", "l_extendedprice"),
        liT, "l_orderkey", buckets)
      writeBucketed(
        graft.Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        ordT, "o_orderkey", buckets)
      // bounded 5-row aggregate → local relation (Fs.localize), so the
      // scratch tables drop eagerly in the finally
      graft.util.Fs.localize(spark, bucketedJoinAgg(spark, liT, ordT))
    } finally {
      spark.conf.set(key, prev)
      dropBucketed(spark, liT)
      dropBucketed(spark, ordT)
    }
  }

  /** Bucket lineitem and orders on the join key and return the
    * co-located join — `explain` shows no Exchange on either side.
    */
  def colocatedOrderJoin(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    writeBucketed(
      graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity", "l_extendedprice"),
      "graft_li_bucketed", "l_orderkey", buckets)
    writeBucketed(
      graft.Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
      "graft_ord_bucketed", "o_orderkey", buckets)
    val li = spark.table("graft_li_bucketed")
    val o = spark.table("graft_ord_bucketed")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("total_qty"))
  }

  /** q248: Z-order (Morton-curve) layout audit — the data-skipping
    * case for multi-dimensional clustering, measured not asserted.
    * Events are keyed by (user bucket, hour index), each 10 bits; the
    * z-value interleaves the bits.  The user bucket is the Knuth
    * multiplicative spread `(user_id·2654435761) mod 1024` — raw ids
    * occupy an SF-dependent dense prefix (0..149 at sf0.01), which
    * would leave the rectangle's user band empty; hashing fills all
    * 1024 buckets at any SF, the hash-distribute-then-z-order layout
    * real lakes use for point-lookup dimensions (id < 2³² keeps the
    * product inside 2⁶³ exactly on both engines).  Two simulated file layouts split
    * the SAME rows into equal-key-range files (top 6 bits of the
    * ordering key — how a z-sorted writer actually lands files):
    * `zorder` files = z >> 14, `linear` (hour-clustered) files =
    * hb >> 4.  A 2-D rectangle query (user ∈ [256,511], hour ∈
    * [96,215]) is then priced with standard per-file min/max pruning:
    * a file is read iff its [min,max] envelope on BOTH dimensions
    * overlaps the rectangle.  rows_in_rect is layout-invariant (same
    * rows!); scan_amplification = rows_scanned / rows_in_rect is the
    * number the layout changes — z-order bounds BOTH envelope widths
    * per file, hour-linear prunes hours but reads every user range.
    *
    * Exactness: everything through file assignment is integer bit
    * math (pmod, shifts, masks — identical on both engines); the
    * single double divide happens once at the end.
    *
    * 100 TB shape: this is the audit you run BEFORE rewriting a
    * petabyte table: one scan → keyed (layout, file) aggregate →
    * 2-row answer.  The bounded hmin frame broadcasts; no window, no
    * sort — the curve's locality does the clustering analytically.
    */
  def zorderAudit(spark: SparkSession, dir: String): DataFrame = {
    val bits = 10
    // pinned: e0 feeds both the hmin aggregate and the keyed
    // projection — without the pin the events scan+unix_micros pass
    // runs twice (the batch's multi-consumer rule)
    val e0 = graft.util.Pins.eager(graft.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us")))
    val hmin = e0.agg(min(expr("us div 3600000000")).as("hmin"))
    val keyed = e0.crossJoin(broadcast(hmin)).select(
      pmod(col("user_id") * lit(2654435761L), lit(1024L)).as("ub"),
      pmod(expr("us div 3600000000") - col("hmin"), lit(1024L)).as("hb"))
    val z = (0 until bits).map { i =>
      shiftright(col("ub"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(col("hb"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    val inRect = (col("ub").between(256L, 511L) && col("hb").between(96L, 215L))
      .cast("long")
    val tagged = keyed
      .select(col("ub"), col("hb"), shiftright(z, 14).as("fz"),
        shiftright(col("hb"), 4).as("flin"), inRect.as("rin"))
      .select(col("ub"), col("hb"), col("rin"), explode(array(
        struct(lit("zorder").as("layout"), col("fz").as("file")),
        struct(lit("linear").as("layout"), col("flin").as("file")))).as("e"))
      .select(col("ub"), col("hb"), col("rin"), col("e.layout"), col("e.file"))
    val perFile = tagged.groupBy("layout", "file")
      .agg(count(lit(1)).as("n"), sum(col("rin")).as("rin"),
        min(col("ub")).as("minu"), max(col("ub")).as("maxu"),
        min(col("hb")).as("minh"), max(col("hb")).as("maxh"))
    val touched = col("minu") <= 511L && col("maxu") >= 256L &&
      col("minh") <= 215L && col("maxh") >= 96L
    perFile.groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(col("n")).as("rows_total"),
        sum(col("rin")).as("rows_in_rect"),
        sum(when(touched, 1L).otherwise(0L)).as("files_touched"),
        sum(when(touched, col("n")).otherwise(0L)).as("rows_scanned"))
      .select(col("layout"), col("n_files"), col("rows_total"),
        col("rows_in_rect"), col("files_touched"), col("rows_scanned"),
        when(col("rows_in_rect") === 0L, lit(null).cast("double"))
          .otherwise(col("rows_scanned").cast("double")
            / col("rows_in_rect").cast("double")).as("scan_amplification"))
      .orderBy("layout")
  }
}
