package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted CBO lifecycle (q360): the gap between "enforced" and
  * "production" closed.  q356/q357 proved the engine's statistics can
  * DRIVE the plan (bloom prefilter spliced pre-shuffle, join order
  * reassociated) — but both recomputed their ANALYZE step inline per
  * call, and the registries lived in JVM memory only.  This store
  * writes the ANALYZE outputs as parquet artifacts — the q336
  * none-or-all rename-publish discipline applied to optimizer state —
  * and re-derives the registrations from the ARTIFACTS alone, so a
  * cold session consumes a bloom bitmap or a join-order decision with
  * ZERO build-side scans: one publish amortized across every consumer,
  * the resume-from-checkpoint philosophy applied to the optimizer
  * (the reference resumes the same way: `README.md:80-88`'s `startId`
  * lets a restart skip work already paid for instead of redoing it).
  *
  * Artifacts (each its own rename-published subdirectory):
  *   - `column_stats`  — the q338 one-pass ANALYZE frame (per-column
  *     count/nulls/exact-NDV/min/max/sum/avg), the stats q335/q342/
  *     q347 consume;
  *   - `join_stats`    — the exact counts/NDVs of the
  *     customer(BUILDING) ⋈ orders ⋈ lineitem chain that q348/q357's
  *     containment estimates need (7 BIGINTs, one bounded row);
  *   - `bloom_custkey` — the BUILDING-segment customer-key bitmap
  *     built by Spark's distributed `graft_bloom_agg` (KB-sized
  *     regardless of corpus scale) plus its build-key count.
  *
  * 100 TB shape: publish pays the ANALYZE scans ONCE (each artifact is
  * a keyed/1-row aggregate — map-side combined, nothing all-pairs);
  * every register call afterwards reads a 1-row parquet artifact on
  * the driver — no dim scan, no aggregate, no shuffle.  A scheduled
  * production run republishes on q347's drift signal; consumers never
  * pay the build again.
  */
object StatsStore {

  /** Write all three artifacts.  Each goes through the none-or-all
    * rename-publish (write `.tmp-*`, one FileSystem.rename), so a
    * crashed publish leaves the PREVIOUS artifact intact and readable
    * — optimizer state is never half-written.
    */
  def publish(spark: SparkSession, sfDir: String, storeDir: String): Unit = {
    RegisterFunctions(spark) // graft_bloom_agg on pre-built sessions
    // r21: the three ANALYZE builds are independent single-aggregate
    // jobs over different tables — overlap them (guide §2.6) instead
    // of serializing three small jobs; each artifact still goes
    // through its own none-or-all rename into a distinct subdirectory
    graft.util.Par.run(Seq(
      () => commitArtifact(
        graft.operators.Relational.multiColStats(spark, sfDir),
        storeDir, "column_stats"),
      () => commitArtifact(joinStatsFrame(spark, sfDir), storeDir, "join_stats"),
      () => commitArtifact(bloomFrame(spark, sfDir), storeDir, "bloom_custkey")))
  }

  /** The q348/q357 ANALYZE: exact counts and join-key NDVs for the
    * three-table chain, one bounded row.  BUILDING-filtered customer
    * count/NDV (the selective side the decision hinges on) plus the
    * full orders/lineitem counts and key NDVs.
    */
  private def joinStatsFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .agg(count(lit(1)).as("nc"), countDistinct(col("c_custkey")).as("dc"))
      .crossJoin(broadcast(graft.Tables.orders(spark, sfDir).agg(
        count(lit(1)).as("no"), countDistinct(col("o_custkey")).as("dock"),
        countDistinct(col("o_orderkey")).as("dook"))))
      .crossJoin(broadcast(graft.Tables.lineitem(spark, sfDir).agg(
        count(lit(1)).as("nl"), countDistinct(col("l_orderkey")).as("dlok"))))
      .select(lit("customerB_orders_lineitem").as("chain"),
        col("nc"), col("dc"), col("no"), col("dock"), col("dook"),
        col("nl"), col("dlok"))

  /** The q339/q356 bloom build: BUILDING-segment customer keys into a
    * 16 Ki-item / 128 Ki-bit bitmap — one distributed aggregate, one
    * bounded row.
    */
  private def bloomFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .agg(expr("graft_bloom_agg(c_custkey, 16384, 131072)").as("bits"),
        count(lit(1)).as("n_keys"))
      .select(lit("bloom_custkey_building").as("artifact"),
        col("bits"), col("n_keys"))

  /** Register the stored bitmap under `probeName` so
    * [[InjectBloomPrefilter]] enforces it in the calling session.
    * Reads ONLY the 1-row artifact (a driver-side head on KBs of
    * parquet) — no customer scan, no aggregate.  Returns false when
    * the artifact is absent or its bitmap is null (an empty build
    * side), in which case nothing is registered and the consumer
    * simply runs unfiltered — correct either way.
    */
  def registerBloomFromStore(spark: SparkSession, storeDir: String,
      probeName: String): Boolean = {
    val rows = readArtifact(spark, storeDir, "bloom_custkey")
      .map(_.select(col("bits")).head(1)).getOrElse(Array.empty)
    val bits = rows.headOption.map(_.getAs[Array[Byte]](0)).orNull
    if (bits == null) false
    else { BloomRegistry.register(probeName, bits); true }
  }

  /** Re-derive the q348 containment decision from the stored chain
    * stats and register it under `markerName` for
    * [[ReorderJoinByStats]].  Same estimate arithmetic as q357's
    * inline form — |c⋈o| = nc·no / max(dc, dock) vs |o⋈l| =
    * no·nl / max(dook, dlok) — but off the ARTIFACT row, zero scans.
    * Returns the registered decision (customer join first?), or None
    * when the artifact is absent.
    */
  def registerJoinOrderFromStore(spark: SparkSession, storeDir: String,
      markerName: String): Option[Boolean] = {
    val rows = readArtifact(spark, storeDir, "join_stats")
      .map(_.filter(col("chain") === "customerB_orders_lineitem").head(1))
      .getOrElse(Array.empty)
    rows.headOption.map { st =>
      val estCO = st.getLong(1).toDouble * st.getLong(3).toDouble /
        math.max(st.getLong(2), st.getLong(4)).toDouble
      val estOL = st.getLong(3).toDouble * st.getLong(6).toDouble /
        math.max(st.getLong(5), st.getLong(7)).toDouble
      val innerFirst = estCO <= estOL
      JoinOrderRegistry.register(markerName, innerFirst)
      innerFirst
    }
  }

  /** The stored q338 frame, for downstream stats consumers (q335's
    * estimation side, q342's encoding advisor) to read instead of
    * re-running ANALYZE.
    */
  def readColumnStats(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(
      artifactPath(spark, storeDir, "column_stats")
        .getOrElse(s"$storeDir/column_stats"))

  /** The q331 equi-depth histogram as its own artifact (q364).  Kept
    * OUT of [[publish]] deliberately: the histogram is the one
    * rebuild-only object (bucket boundaries are rank statistics —
    * q354's documented non-mergeable case), so its refresh cadence
    * differs from the mergeable stats; q347's drift gate decides when
    * this runs.  Once rebuilt, it persists like everything else —
    * 16 rows, rename-published, consumed by estimators with zero
    * rank passes.
    */
  def publishHistogram(spark: SparkSession, sfDir: String,
      storeDir: String, k: Int = 16): Unit =
    commitArtifact(
      graft.operators.Relational.equiDepthHist(spark, sfDir, k),
      storeDir, "histogram")

  /** The stored histogram, or None when never rebuilt — estimators
    * fall back to whatever coarser stats they have (the q335 uniform
    * assumption degrades gracefully); never an exception.
    */
  def readHistogram(spark: SparkSession, storeDir: String): Option[DataFrame] =
    readArtifact(spark, storeDir, "histogram")

  /** An artifact as a frame, or None when it was never published — a
    * missing artifact is a NO-DECISION (the consumer runs unoptimized,
    * still correct), never an exception, matching the register
    * methods' contracts.
    */
  private def readArtifact(spark: SparkSession, storeDir: String,
      name: String): Option[DataFrame] =
    artifactPath(spark, storeDir, name).map(spark.read.parquet(_))

  /** Every published artifact under `storeDir` whose BASE name matches
    * `baseRe` (a regex, e.g. `"epoch-\\d+"`), resolved to its SERVING
    * directory — the max `-v{N}` version; a legacy unversioned dir
    * counts as version 0 — keyed by base name.  This is the one
    * reader-side resolution rule of the crash-safe publish below:
    * whatever mix of versions a crash left behind, the newest complete
    * one serves.
    */
  def artifactDirs(spark: SparkSession, storeDir: String,
      baseRe: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Map.empty
    // the caller's regex may hold groups of its own: the version is
    // the LAST group
    val vRe = s"($baseRe)-v(\\d+)".r
    val lRe = baseRe.r
    fs.listStatus(base).iterator.map(_.getPath.getName)
      .flatMap {
        case vRe(b, more @ _*) => Some((b, more.last.toInt))
        case n @ lRe(_*) => Some((n, 0))
        case _ => None
      }.toSeq
      .groupBy(_._1).map { case (b, vs) =>
        val mx = vs.iterator.map(_._2).max
        b -> new Path(base, if (mx == 0) b else s"$b-v$mx").toString
      }
  }

  /** The serving directory for one exact artifact name, or None. */
  def artifactPath(spark: SparkSession, storeDir: String,
      name: String): Option[String] =
    artifactDirs(spark, storeDir,
      java.util.regex.Pattern.quote(name)).get(name)

  /** THE named rename-publish entry point for every consumer outside
    * this object (MvStore's artifacts, the q377 CDC epochs) — one
    * public surface so a behavior change (fsync, validation) cannot
    * miss a second call path.
    */
  def publishNamed(df: DataFrame, storeDir: String, name: String): Unit =
    commitArtifact(df, storeDir, name)

  /** None-or-all artifact publish, crash-safe across REPLACEMENT too
    * (VERDICT r20 #2, three-round carry): write to a hidden temp dir,
    * rename it to the NEXT `name-v{N}` version (one atomic rename),
    * and only THEN drop the versions older than the previous newest
    * one (a legacy unversioned dir counts as version 0) — the q372
    * numeric-epoch discipline applied to every artifact.  The old
    * delete-then-rename form had a window where a crash left NO
    * artifact at all; here a crash before the rename leaves the
    * previous version serving, and a crash after it leaves both
    * (readers resolve to the max version via [[artifactDirs]]).
    *
    * The previous version survives one publish because a reader's
    * frame is lazy: a DataFrame resolved on version N-1 before this
    * publish lists N-1's files and reads them at its action.
    */
  private def commitArtifact(df: DataFrame, storeDir: String,
      name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vRe = (java.util.regex.Pattern.quote(name) + "-v(\\d+)").r
    def versions(): Seq[Int] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).iterator.map(_.getPath.getName).flatMap {
        case vRe(v) => Some(v.toInt)
        case _ => None
      }.toSeq
    val old = versions()
    val prev = old.maxOption.getOrElse(0)
    val tmpDir = new Path(storeDir, s".tmp-$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val finalDir = new Path(storeDir, s"$name-v${prev + 1}")
    if (!fs.rename(tmpDir, finalDir))
      throw new java.io.IOException(
        s"cannot publish stats artifact: $tmpDir -> $finalDir")
    // the new version is visible from here on — cleanup is best-effort
    old.filter(_ < prev).foreach(v => fs.delete(new Path(storeDir, s"$name-v$v"), true))
    val legacy = new Path(storeDir, name)
    if (prev > 0 && fs.exists(legacy)) { fs.delete(legacy, true); () }
  }
}
