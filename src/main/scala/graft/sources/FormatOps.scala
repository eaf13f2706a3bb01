package graft.sources

import graft.Tables
import graft.util.Fs.{localize, syncRecursively, tempDirUntilExit, withTempDir}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Columnar/text interchange formats and partitioned table layout
  * (SURVEY §2.B scans/sources + sinks rows): the reference moves data
  * between Postgres, NDJSON and Solr; an engine replacing it on a data
  * lake additionally needs the lake's own formats — ORC for columnar
  * interchange with Hive-era warehouses, CSV for ingest/export at the
  * edges, and date-partitioned parquet as the LAYOUT that makes 100 TB
  * scans affordable (directory pruning skips data before a single row
  * group is opened).
  *
  * Each operator is a real round-trip: write the fixture through the
  * format into a temp dir, read it back through that format's source,
  * aggregate the read-back rows, and return the (bounded, O(groups))
  * result — so the DuckDB oracle on the original parquet certifies the
  * WHOLE write→read→scan path value-exact, not just "a file appeared".
  *
  * Materialization: each round-trip runs inside one
  * [[graft.util.Fs.withTempDir]] bracket and localizes its final
  * aggregate (≤ a few dozen rows by construction — group-by on
  * low-cardinality keys) inside it, so the bracket can fsync and
  * delete the written files when the call returns.  Returning a lazy
  * plan over files about to be deleted would read after unlink on
  * re-execution; the bounded collect is the same pattern as the memory
  * sink in the streaming tier (StreamRunner.toTable).  Bench reps
  * therefore pay the full write+read+flush each rep and leak nothing.
  *
  * 100 TB notes per operator sit on the methods; plan shapes (ORC
  * pushdown, CSV schema projection, partition-directory pruning) are
  * pinned by PlanGuardSpec via the exposed `*ReadAgg` builders.
  */
object FormatOps {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** Quantized exact value sum (house rule): floor(v·10⁶ + 0.5) per
    * term, summed as LONG — order-independent, oracle-identical.
    */
  private def valueUnits(c: org.apache.spark.sql.Column) =
    sum(floor(c * lit(1.0e6) + lit(0.5)).cast(LongType)).cast(LongType)

  // ---------------------------------------------------------------- ORC

  /** Write the lineitem pricing columns as zstd ORC. Splittable,
    * columnar, min/max-indexed — the write side of warehouse
    * interchange.  The file carries one column MORE than the read-back
    * needs (l_tax) so the column-pruning pin is falsifiable: a scan
    * that stopped pruning would read 7 fields, not 6.
    */
  def writeOrcLineitem(spark: SparkSession, dir: String, tmp: String): Unit =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
      .write.mode("overwrite").option("compression", "zstd").orc(tmp)

  /** Read-back + aggregate, exposed unexecuted for the PlanGuard pin:
    * the shipdate predicate must reach the ORC reader as a pushed
    * filter (ORC row groups carry min/max like parquet's) and the scan
    * schema must stay pruned — the properties that make an ORC lake
    * scan affordable at 100 TB.
    */
  def orcReadAgg(spark: SparkSession, tmp: String): DataFrame =
    spark.read.orc(tmp)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).cast("double").as("sum_disc_price"))

  /** q231: parquet → ORC(zstd) → ORC scan (filter pushed, columns
    * pruned) → grouped exact-decimal aggregate.  Oracle states the
    * same aggregate over the original parquet — value equality
    * certifies the ORC write+read lossless for every column type
    * involved (string, double, timestamp).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    withTempDir("fmt-orc") { tmp =>
      writeOrcLineitem(spark, dir, tmp.toString)
      localize(spark, orcReadAgg(spark, tmp.toString))
    }

  // ---------------------------------------------------------------- CSV

  /** CSV schema for the read-back: explicit, never inferred — schema
    * inference is a full extra pass over the data (a non-starter at
    * scale) and type-guessing is exactly how silent corruption enters
    * an ingest pipeline.
    */
  private val ordersCsvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_orderpriority", StringType),
    StructField("o_totalprice", DecimalType(18, 2)),
    StructField("o_orderdate", DateType)))

  /** Write orders as headered CSV.  The price goes through
    * DECIMAL(18,2) BEFORE the write: a decimal prints a fixed-point
    * string that re-parses to the identical value, whereas a raw
    * double's shortest-round-trip text is a cross-engine hazard.  The
    * date prints ISO-8601.  Strings in the fixture are quote-safe but
    * the writer escapes regardless (RFC 4180).
    */
  def writeCsvOrders(spark: SparkSession, dir: String, tmp: String): Unit =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        dec2(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate").cast(DateType).as("o_orderdate"))
      .write.mode("overwrite").option("header", "true").csv(tmp)

  /** Read-back + aggregate, exposed for the PlanGuard pin: explicit
    * schema (no inference pass), and the aggregate's input is pruned
    * to the columns it needs.  CSV cannot push predicates — the pin
    * asserts the filter still sits directly on the scan.
    */
  def csvReadAgg(spark: SparkSession, tmp: String): DataFrame =
    spark.read.schema(ordersCsvSchema).option("header", "true").csv(tmp)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast(DateType))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).cast("double").as("total_price"),
        // dates surface as ISO strings per the q60 house rule (pandas
        // lifts DuckDB DATE to Timestamp, Spark DATE to date — the
        // driver's dtype-sensitive hash would mismatch on raw dates)
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_date"))

  /** q232: parquet → headered CSV → schema'd CSV scan → grouped
    * aggregate.  Oracle replays the same decimal/date normalization on
    * the original parquet, so value equality certifies the text
    * round-trip (long, string, decimal, date) exact.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    withTempDir("fmt-csv") { tmp =>
      writeCsvOrders(spark, dir, tmp.toString)
      localize(spark, csvReadAgg(spark, tmp.toString))
    }

  // ------------------------------------------------- partitioned layout

  /** Write events date-partitioned (`day=YYYY-MM-DD/` directories).
    * The `repartition(day)` BEFORE the write is the one-file-per-
    * partition discipline: without it every task writes a sliver of
    * every day and a 1000-executor cluster produces millions of
    * KB-sized files — the small-files failure mode that kills lake
    * metadata at 100 TB.  With it, each day's rows converge on one
    * task (AQE coalesces further when days are small).
    */
  def writePartitionedEvents(spark: SparkSession, dir: String, tmp: String): Unit =
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(tmp)

  /** Read-back + aggregate, exposed for the PlanGuard pin: the `day`
    * predicate is a PARTITION filter — it prunes whole directories at
    * planning time (the scan's partitionFilters, not data filters), so
    * a one-week query over a 10-year lake opens 7/3650ths of the
    * files.  This is the layout lever that dwarfs every other scan
    * optimization at 100 TB.
    */
  def partitionedReadAgg(spark: SparkSession, tmp: String): DataFrame =
    spark.read.parquet(tmp)
      .filter(col("day").between(lit("2024-01-08").cast(DateType),
        lit("2024-01-14").cast(DateType)))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("n_days"),
        valueUnits(col("value")).as("value_units"))

  /** q233: events → date-partitioned parquet (one file per day) →
    * directory-pruned scan of one week → per-type aggregate.  Oracle
    * filters the original events on CAST(ts AS DATE) — equality
    * certifies both the partitioned write (no row lost or misfiled
    * across the day boundaries) and the pruned read.
    */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame =
    withTempDir("fmt-part") { tmp =>
      writePartitionedEvents(spark, dir, tmp.toString)
      localize(spark, partitionedReadAgg(spark, tmp.toString))
    }

  /** The day-selecting dim side for q366: per-day quantized value
    * totals, filtered on a DATA-DEPENDENT predicate (total's residue
    * mod 7 below 3 — keeps roughly 3/7 of days; plain parity is
    * degenerate here because the fixture's per-day totals are all
    * even).  The filter is deliberately not expressible as a static
    * predicate on the partition column — that is what forces the
    * pruning to happen at RUNTIME, after the dim aggregate runs.
    */
  def dppDimDays(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * lit(1.0e6) + lit(0.5)).cast(LongType))
        .as("units"))
      .filter(pmod(col("units"), lit(7L)) < lit(3L))
      .select(col("day"))

  /** Read-back + dim join, exposed for the Batch29Spec pin: the fact
    * scan's partitionFilters carry a `dynamicpruningexpression` — the
    * selected-day set is computed from the dim side AT RUNTIME (reusing
    * the broadcast exchange) and only those day directories are read.
    */
  def dppReadAgg(spark: SparkSession, tmp: String, dir: String): DataFrame =
    spark.read.parquet(tmp)
      .join(broadcast(dppDimDays(spark, dir)), "day")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("n_days"),
        valueUnits(col("value")).as("value_units"))

  /** q366: DYNAMIC partition pruning — q233's layout lever upgraded
    * from planning-time to runtime.  q233 prunes with a literal date
    * range (static partitionFilters); real star-schema queries filter
    * the DIM side ("days whose total cleared X") and the partition
    * keys to keep are only known after that filter runs.  Spark's DPP
    * handles exactly this: the fact side is date-partitioned parquet,
    * the dim side is a per-day aggregate under a data-dependent
    * predicate, and the broadcast join key (`day`) is the partition
    * column — the optimizer splices the dim result into the fact
    * scan's partitionFilters as a runtime IN-subquery, so unselected
    * day directories are never opened.  The oracle replays dim and
    * join from the original events table, certifying both the
    * partitioned write and the runtime-pruned read.
    *
    * 100 TB shape: this is THE mechanism that makes fact⋈dim cheap on
    * a partitioned lake — a dim filter selecting 15/3650 days means
    * the 100 TB fact scan opens 0.4% of its files, decided at runtime
    * with zero user hints; the dim aggregate is day-cardinality-sized
    * and broadcast-reused, not recomputed.
    */
  /** r21 measurement fix (VERDICT r20 #7 carry): the partitioned
    * layout is an INPUT PRECONDITION of the DPP read, not the thing
    * q366 certifies — q233 already certifies the partitioned
    * write→read path per rep; q366's subject is the RUNTIME pruning of
    * an EXISTING layout.  Writing the fixture per bench rep made the
    * committed number mostly fixture I/O (~0.9 s driver-run, write ≫
    * pruned read).  The layout is now written once per JVM per sf dir
    * — deterministic from the immutable fixture, fsynced before first
    * use, deleted at JVM exit, never shared across processes (the
    * memo is in-memory, the directory fresh per JVM), so every
    * bench/oracle invocation still computes it from the parquet
    * inputs.  The write path itself stays exercised per-call by q233
    * and the Batch29Spec DPP pin via [[writePartitionedEvents]].
    */
  // Per-dir LAZY cells (ADVICE r21): the global monitor is held only
  // for map insertion — the fixture write itself (a Spark job) runs
  // under the cell's own lazy-init lock, so concurrent callers for
  // UNRELATED dirs no longer serialize behind one write.  Same-dir
  // callers still block on the one build, as before.  The memo serves
  // the JVM's lifetime under the stated immutable-fixture assumption.
  private val dppFixtures = scala.collection.mutable.Map.empty[String, () => String]
  private def dppFixtureDir(spark: SparkSession, dir: String): String = {
    val cell = dppFixtures.synchronized {
      dppFixtures.getOrElseUpdate(dir, {
        lazy val built: String = {
          val tmp = tempDirUntilExit("fmt-dppfix")
          writePartitionedEvents(spark, dir, tmp.toString)
          syncRecursively(tmp)
          tmp.toString
        }
        () => built
      })
    }
    cell()
  }

  def dppPrune(spark: SparkSession, dir: String): DataFrame =
    localize(spark, dppReadAgg(spark, dppFixtureDir(spark, dir), dir))

  /** q256: schema-evolution merge audit — the lake's ADD COLUMN path
    * exercised for real: the fixture is written as two parquet
    * generations (old files lack the `units` column, new files carry
    * it), read back through `mergeSchema=true`, and the audit
    * aggregate accounts for every row by generation: nulls appear
    * EXACTLY for old-generation rows, evolved sums cover exactly the
    * new generation, and the full-column recompute ties the two
    * together.  The oracle replays the generation split from the
    * original table, certifying the whole write→merge→read path.
    *
    * 100 TB notes: mergeSchema pays a footer read per file at
    * planning; production pins the merged schema in a catalog and
    * passes it explicitly — the READ behavior audited here (absent
    * column ⇒ null, no reorder corruption) is identical either way.
    * Null-skipping aggregate semantics over evolved columns are the
    * q240 rules.
    */
  /** The two parquet generations: gen=1 lacks `units` (even ids),
    * gen=2 carries it (odd ids).  Exposed for the PlanGuard pin.
    */
  def writeEvolvedEvents(spark: SparkSession, dir: String, tmp: String): Unit = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(pmod(col("event_id"), lit(2L)) === 0L)
      .write.parquet(s"$tmp/gen=1")
    ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
      .withColumn("units", floor(col("value") * lit(1.0e6) + lit(0.5)).cast(LongType))
      .write.parquet(s"$tmp/gen=2")
  }

  /** mergeSchema read over both generations + the accounting
    * aggregate (exposed for the PlanGuard pin).
    */
  def evolvedReadAgg(spark: SparkSession, tmp: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/gen=1", s"$tmp/gen=2")
      .groupBy("event_type").agg(
        count(lit(1)).as("n_rows"),
        count(col("units")).as("n_evolved"),
        sum(col("units")).as("evolved_units"),
        valueUnits(col("value")).as("all_units"))
      .orderBy("event_type")

  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    withTempDir("fmt-evo") { tmp =>
      writeEvolvedEvents(spark, dir, tmp.toString)
      localize(spark, evolvedReadAgg(spark, tmp.toString))
    }
}
