package graft.operators

import graft.Tables
import graft.functions.Folds
import graft.functions.TextFunctions._
import graft.util.Pins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline audits, batch 9 (q272-q277): frequency
  * sketches with exact cross-engine replay or order-free guarantee
  * flags, deterministic dataset splitting with cross-split duplicate
  * leakage, n-gram duplication profiling, PII/tokenizer-hazard
  * pattern gates, and cross-source quantile normalization.
  *
  * House determinism rules apply throughout: exact BIGINT sums, the
  * shared 60-bit md5 fold (`TextAnalysis.hv60`) wherever a hash
  * crosses engines, doubles produced by ONE pinned operation order,
  * degenerate denominators spelled as explicit CASEs on both sides.
  */
object PipelineAudits {

  /** Input row for the Misra-Gries aggregator (case class, not a bare
    * Long: stable grouped-aggregation encoder — the HvRow rule).
    */
  final case class TokHv(hv: Long)

  /** Mergeable Misra-Gries heavy-hitter summary over 60-bit token
    * hashes: at most `m` counters; a full summary absorbs an unseen
    * key by decrementing every counter (dropping zeros), and two
    * summaries merge by summing counters then subtracting the
    * (m+1)-largest count from all (Agarwal et al., "Mergeable
    * summaries", PODS'12).  The merge is NOT order-independent in its
    * exact counter values — but the MG invariants ARE:
    * est(x) ≤ true(x) and true(x) − est(x) ≤ n/(m+1) hold for every
    * key under any reduce/merge order, which is exactly what q272
    * surfaces (flags, never raw estimates).
    *
    * 100 TB shape: O(m) state per partition, one m-entry map per
    * partition on the shuffle — the token stream itself never moves.
    */
  final class MisraGries(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[TokHv, Map[Long, Long], Map[Long, Long]] {
    override def zero: Map[Long, Long] = Map.empty
    override def reduce(b: Map[Long, Long], a: TokHv): Map[Long, Long] =
      b.get(a.hv) match {
        case Some(c) => b.updated(a.hv, c + 1L)
        case None if b.size < m => b.updated(a.hv, 1L)
        case None => b.iterator
          .map { case (k, c) => (k, c - 1L) }.filter(_._2 > 0L).toMap
      }
    override def merge(b1: Map[Long, Long], b2: Map[Long, Long]): Map[Long, Long] = {
      val s = b2.foldLeft(b1) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c)
      }
      if (s.size <= m) s
      else {
        // subtract the (m+1)-largest counter from all; ties at that
        // value go to zero, so at most m survive
        val cut = s.valuesIterator.toSeq.sorted(Ordering[Long].reverse)(m)
        s.iterator.map { case (k, c) => (k, c - cut) }.filter(_._2 > 0L).toMap
      }
    }
    override def finish(r: Map[Long, Long]): Map[Long, Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[Long, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[Long, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Non-empty whitespace token occurrences (NOT distinct) of the
    * documents corpus — the stream every sketch in this batch reads.
    */
  /** The q323 m=64 register table over any `token` column — factored
    * out so the streaming maintainer (q336, DocStream.hllBatch) and
    * the batch replays (q323/q333) share one register algebra: hv60,
    * register = hv mod 64, rho = 55 − bitlen(hv div 64) (55 for the
    * all-zero suffix), exact integer max per register.  Empty tokens
    * are excluded, matching the batch oracles.
    */
  private[graft] def hllRegisterTable(toks: DataFrame): DataFrame = {
    val hv = toks.filter(col("token") =!= "")
      .select(graft.operators.TextAnalysis.hv60(col("token")).as("hv"))
    val w = expr("hv div 64")
    val rho = when(w === 0L, lit(55L))
      .otherwise(lit(55L) - length(conv(w.cast("string"), 10, 2)).cast("long"))
    hv.select(pmod(col("hv"), lit(64L)).as("register"), rho.as("rho"))
      .groupBy("register").agg(max(col("rho")).as("m"))
  }

  private def tokenStream(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")

  /** q272: Misra-Gries heavy-hitter audit.  The corpus token stream
    * flows through a mergeable m=32 summary; the report takes the
    * top-10 TRUE tokens (exact count desc, token asc — deterministic)
    * and checks the two MG guarantees against the sketch:
    * est(x) ≤ true(x), and true(x) − est(x) ≤ ⌊n/(m+1)⌋.  The raw
    * estimates are merge-order-dependent and never reach the output;
    * the flags are theorems, so they are 1 on every execution — and
    * the oracle states them as literal 1s next to its own exact
    * counts (the q33/q58 audit form).
    *
    * Collision caveat (r15 advice): the guarantees hold for the
    * 60-bit hv keys, and the join back to the top-10 TRUE tokens is
    * also by hv — an hv60 collision between a top-10 token and any
    * other token would inflate est(x) past true(x) and flip
    * est_le_true, which the literal-1 oracle cannot mirror.  Odds are
    * ~10·V/2⁶⁰ (the repo's documented 60-bit collision rule), the
    * same acceptance as every other hv60 consumer (q21, q273, q274).
    *
    * 100 TB shape: the exact side is one keyed count (needed for the
    * report anyway); the sketch side shuffles m counters per
    * partition.  In production only the sketch runs — that is the
    * point — and this query is the certification that its guarantees
    * survive Spark's partial-aggregation plan.
    */
  def heavyHitterAudit(spark: SparkSession, dir: String, m: Int = 32): DataFrame = {
    import spark.implicits._
    val tok = tokenStream(spark, dir)
    val sketch = tok
      .select(graft.operators.TextAnalysis.hv60(col("token")).as("hv")).as[TokHv]
      .select(new MisraGries(m).toColumn.name("sketch"))
      .toDF("sketch")
      .select(explode(col("sketch")).as(Seq("hv", "est")))
    val exact = Pins.eager(
      tok.groupBy("token").agg(count(lit(1)).as("true_count"))
        .withColumn("hv", graft.operators.TextAnalysis.hv60(col("token"))))
    val n = exact.agg(sum(col("true_count")).as("n_tok"))
    val top = exact.orderBy(col("true_count").desc, col("token").asc).limit(10)
    top.join(sketch, Seq("hv"), "left")
      .crossJoin(broadcast(n))
      .select(col("token"), col("true_count"),
        expr(s"n_tok div ${m + 1}").as("bound"),
        when(coalesce(col("est"), lit(0L)) <= col("true_count"), 1).otherwise(0)
          .as("est_le_true"),
        when(col("true_count") - coalesce(col("est"), lit(0L))
          <= expr(s"n_tok div ${m + 1}"), 1).otherwise(0).as("err_within_bound"))
      .orderBy(col("true_count").desc, col("token").asc)
  }

  /** Count-Min sketch hash constants: depth 4, width 256, arithmetic
    * over the Mersenne prime 2³¹−1.  `h < p` and `a < 2²⁶` keep every
    * product under 2⁵⁷ — exact in BIGINT on both engines.
    */
  private[operators] val CmsP = 2147483647L
  private[operators] val CmsA = Seq(1299721L, 15485863L, 32452843L, 49979687L)
  private[operators] val CmsB = Seq(7L, 101L, 1009L, 10007L)

  private def cmsCell(i: Int, h: Column): Column =
    pmod(pmod(lit(CmsA(i)) * h + lit(CmsB(i)), lit(CmsP)), lit(256L))

  /** q273: Count-Min sketch, exactly replayed.  Every token occurrence
    * hashes into 4 seeded cells ((a·h + b) mod p mod 256 over the
    * shared 60-bit md5 fold); the sketch is the (depth, cell) count
    * table; a probe's estimate is the min of its 4 cells.  Unlike
    * q272's order-dependent counters, CMS cell counts are plain sums —
    * fully deterministic — so the oracle replays the ENTIRE sketch in
    * SQL (same fold, same modular arithmetic) and the output carries
    * exact estimates, not just guarantee flags.  Probes: top-8 true
    * tokens (count desc, token asc); `overest = est − true ≥ 0` is the
    * CMS one-sided error, exact BIGINT.
    *
    * 100 TB shape: the sketch is ONE keyed aggregate onto 4×256
    * bounded cells (partial map-side combine collapses each partition
    * to ≤1024 rows before the shuffle); probes join the broadcast
    * 1024-row table.  Nothing row-sized ever shuffles.
    */
  def countMinAudit(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenStream(spark, dir)
    val occ = tok.select(
      pmod(graft.operators.TextAnalysis.hv60(col("token")), lit(CmsP)).as("h"))
    val cms = Pins.eager(
      occ.select(explode(array((0 until 4).map(i =>
          struct(lit(i).as("depth"), cmsCell(i, col("h")).as("cell"))): _*)).as("dc"))
        .groupBy(col("dc.depth").as("depth"), col("dc.cell").as("cell"))
        .agg(count(lit(1)).as("cnt")))
    val probe = Pins.eager(
      tok.groupBy("token").agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("token").asc).limit(8)
        .withColumn("h", pmod(graft.operators.TextAnalysis.hv60(col("token")), lit(CmsP))))
    probe
      .select(col("token"), col("true_count"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("depth"), cmsCell(i, col("h")).as("cell"))): _*)).as("dc"))
      .select(col("token"), col("true_count"),
        col("dc.depth").as("depth"), col("dc.cell").as("cell"))
      .join(broadcast(cms), Seq("depth", "cell"))
      .groupBy("token", "true_count")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("token"), col("true_count"), col("cms_est"),
        (col("cms_est") - col("true_count")).as("overest"))
      .orderBy(col("true_count").desc, col("token").asc)
  }

  /** q274: deterministic train/val/test split + cross-split duplicate
    * leakage.  Split assignment is pure hash math — bucket =
    * hv60('split:' ∥ doc_id) mod 100, train < 90 ≤ val < 95 ≤ test —
    * so any engine, any partitioning, any rerun lands every doc in
    * the same split (the reproducibility contract a training corpus
    * needs).  The leakage audit then asks the question the split
    * itself can't answer: how many docs share a content fingerprint
    * with a doc in a DIFFERENT split?  (A near-copy of a training doc
    * sitting in test silently inflates eval — the contamination
    * mechanism q139 measures against an external benchmark, here
    * internal to the split.)
    *
    * 100 TB shape: assignment is stateless per-row math; the leakage
    * audit is one fingerprint-keyed count-distinct-splits + a
    * broadcast-back join.  Per-split rollups are exact BIGINTs.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = Pins.eager(
      Tables.documents(spark, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"),
          pmod(graft.operators.TextAnalysis.hv60(
            concat(lit("split:"), col("doc_id").cast("string"))), lit(100L)).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 90L, "train")
            .when(col("bucket") < 95L, "val").otherwise("test")))
    val fpSplits = d.groupBy("fp")
      .agg(countDistinct(col("split")).as("n_splits"))
    d.join(fpSplits, Seq("fp"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("n_leaky_docs"))
      .orderBy("split")
  }

  /** q275: n-gram duplication profile — the memorization-risk metric
    * of Lee et al.'s "Deduplicating Training Data Makes Language
    * Models Better": for every word-5-gram OCCURRENCE, is its gram
    * repeated elsewhere in the corpus?  Per source: total 5-gram
    * occurrences, occurrences whose gram appears in ≥2 distinct docs,
    * occurrences whose gram repeats at all (≥2 occurrences anywhere,
    * including within one doc), and the cross-doc duplication rate.
    * This is the OCCURRENCE-weighted view the distinct-shingle
    * queries (q21/q22/q124) cannot see: a gram pasted 50 times counts
    * 50 times here, once there.
    *
    * 100 TB shape: grams hash to the shared 60-bit key at the scan —
    * ~35-byte gram strings never reach a shuffle (a 60-bit collision
    * collapses identically on both engines, the q241 rule) — and the
    * occurrence stream collapses to per-(gram, source, doc) counts
    * BEFORE the corpus-wide join — two stacked single-phase
    * aggregates instead of a countDistinct expand — so the join
    * carries one row per distinct (gram, source), not one per
    * occurrence, and the shared scan+explode+first-exchange subtree
    * is deduplicated by EXCHANGE REUSE, not an eager pin (measured
    * at sf0.1: pin 3.21 s vs reuse 2.59 s — checkpointing a
    * gram-sized frame costs more than it saves; the Pins rule is for
    * broadcast-consumer frames, which this is not).  gram → (df,
    * occ) is a second keyed aggregate over those counts (doc_ids are
    * corpus-unique, so df is the sum of per-source distinct-doc
    * counts).  No all-pairs anything.
    */
  def ngramDupProfile(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= n)
      .select(col("doc_id"), col("source"),
        explode(shingles(col("text"), n)).as("gram"))
      .select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.hv60(col("gram")).as("g"))
      // r22: ONE explicit exchange on `g` up front — every downstream
      // keyed step (both stacked aggregates via the subset rule, the
      // g-keyed gramStats rollup, and the bySrc⋈gramStats join) then
      // runs exchange-free on that partitioning; the r21 form paid a
      // separate exchange at each of them (guide §2.4: operations
      // keyed the same way share one exchange).  Trade-off: the
      // up-front exchange moves raw occurrences where the r21 first
      // exchange moved map-side-combined (g,source,doc) partials —
      // at the fixture's low dup rate those are nearly the same
      // volume, and four exchanges become one (measured below).
    val occ1 = occ.repartition(col("g"))
    val bySrc = occ1.groupBy("g", "source", "doc_id")
      .agg(count(lit(1)).as("occ_doc"))
      .groupBy("g", "source")
      .agg(sum(col("occ_doc")).as("occ_src"), count(lit(1)).as("nd_src"))
    val gramStats = bySrc.groupBy("g")
      .agg(sum(col("nd_src")).as("df"), sum(col("occ_src")).as("occ"))
    bySrc.join(gramStats, Seq("g"))
      .groupBy("source")
      .agg(sum(col("occ_src")).as("n_grams"),
        sum(when(col("df") >= 2, col("occ_src")).otherwise(0L)).as("n_crossdoc_dup"),
        sum(when(col("occ") >= 2, col("occ_src")).otherwise(0L)).as("n_any_dup"))
      .select(col("source"), col("n_grams"), col("n_crossdoc_dup"), col("n_any_dup"),
        when(col("n_grams") === 0L, lit(null).cast("double"))
          .otherwise(col("n_crossdoc_dup").cast("double") / col("n_grams").cast("double"))
          .as("crossdoc_dup_rate"))
      .orderBy("source")
  }

  /** q276: PII / tokenizer-hazard pattern gate.  Per source, the
    * counts a data-governance pass needs before release: docs
    * containing a long digit run (≥6 — phone/ID-shaped), total digit-
    * run occurrences, docs with an email-shaped token, and docs with
    * a ≥20-char unbroken alnum run (the tokenizer-killer class that
    * explodes fertility, cf. q193).  Patterns are deliberately
    * lookahead-free character-class regexes so Java (Spark) and RE2
    * (DuckDB) agree symbol-for-symbol; zero-count cells on the
    * synthetic corpus are still exact cross-engine values.
    *
    * 100 TB shape: stateless per-row scans folded into one keyed
    * aggregate — the cheapest possible full-corpus pass, which is why
    * real pipelines bolt exactly these gates onto an existing scan.
    */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val digitRun = "[0-9]{6,}"
    val email = "[a-z0-9._]+@[a-z0-9.]+"
    val longTok = "[a-z0-9]{20,}"
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text").rlike(digitRun), 1L).otherwise(0L)).as("n_digit_docs"),
        sum(size(regexp_extract_all(col("text"), lit(digitRun), lit(0))).cast("long"))
          .as("n_digit_runs"),
        sum(when(col("text").rlike(email), 1L).otherwise(0L)).as("n_email_docs"),
        sum(when(col("text").rlike(longTok), 1L).otherwise(0L)).as("n_longtok_docs"))
      .orderBy("source")
  }

  /** q279: two-sample Kolmogorov–Smirnov drift audit, exact.  For
    * each source, the KS statistic between its doc-length
    * distribution and the REST of the corpus:
    * D = max_x |F_s(x) − F_rest(x)|.  Everything stays integer until
    * the last divide: with cumulative counts c_s(x), c_r(x) and sizes
    * n_s, n_r,  D = max |c_s·n_r − c_r·n_s| / (n_s·n_r) — the
    * numerator is an exact BIGINT max over the support grid, so the
    * cross-engine contract needs no epsilon.  This is the
    * distribution-shift gate q89's moment drift can miss (two
    * distributions with equal means/variances but different shapes).
    *
    * 100 TB shape: the corpus collapses to (source, n_chars) counts
    * first; the grid is sources × length-support (domain-bounded,
    * like the calendar frames), cumulated per source by a
    * source-partitioned window; the one single-partition window runs
    * over the ≤|support| global-count rows — the bounded-frame
    * exception (deciles/calendar rule).  Products c·n stay under
    * 2⁶³ for corpora up to ~3·10⁹ docs; beyond that the counts
    * themselves get quantized (documented, not hit here).
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Pins.eager(
      Tables.documents(spark, dir)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("c")))
    val support = counts.select("n_chars").distinct()
    val totals = counts.groupBy("source").agg(sum(col("c")).as("n_s"))
    val grand = counts.agg(sum(col("c")).as("nn"))
    val grid = support.crossJoin(broadcast(totals.select("source")))
      .join(counts, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
    val cumS = grid.withColumn("cum_s",
      sum(col("c")).over(Window.partitionBy("source")
        .orderBy(col("n_chars").asc)))
    val cumG = counts.groupBy("n_chars").agg(sum(col("c")).as("cg"))
      .withColumn("cum_g",
        sum(col("cg")).over(Window.partitionBy(lit(1)).orderBy(col("n_chars").asc)))
      .select("n_chars", "cum_g")
    cumS.join(broadcast(cumG), Seq("n_chars"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(grand))
      .groupBy("source", "n_s", "nn")
      .agg(max(abs(col("cum_s") * (col("nn") - col("n_s"))
        - (col("cum_g") - col("cum_s")) * col("n_s"))).as("d_num"))
      .select(col("source"), col("n_s").as("n_source"),
        (col("nn") - col("n_s")).as("n_rest"), col("d_num"),
        when(col("nn") - col("n_s") === 0L, lit(null).cast("double"))
          .otherwise(col("d_num").cast("double")
            / (col("n_s") * (col("nn") - col("n_s"))).cast("double"))
          .as("ks_stat"))
      .orderBy("source")
  }

  /** q303: exact 1-D Wasserstein-1 (earth-mover) drift per source vs
    * the rest of the corpus, over the document-length distribution —
    * the INTEGRAL twin of q279's KS: where KS takes the max CDF gap,
    * W1 integrates it, so a source that is slightly off EVERYWHERE
    * scores high on W1 and low on KS (and a source with one sharp
    * local spike does the opposite).  Drift monitors run both.
    *
    * On an integer support the integral is a finite sum: between
    * consecutive support values the empirical CDFs are constant, so
    *   W1 = Σ_i |F_s(v_i) − F_r(v_i)| · (v_{i+1} − v_i)
    *      = Σ_i |cum_s·n_r − cum_r·n_s| · gap_i / (n_s·n_r)
    * — every term an exact BIGINT product (the q279 rule), one
    * terminal divide.  Products stay under 2⁶³ to ~10⁸ docs × 10³
    * char gaps; beyond that quantize the support (documented, the
    * q279 caveat).
    *
    * 100 TB shape: identical to q279 — corpus collapses to
    * (source, length) counts first; the support grid is
    * domain-bounded; the single-partition window runs over ≤|support|
    * global-count rows (the documented bounded-frame exception).
    */
  def w1Drift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Pins.eager(
      Tables.documents(spark, dir)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("c")))
    val totals = counts.groupBy("source").agg(sum(col("c")).as("n_s"))
    val grand = counts.agg(sum(col("c")).as("nn"))
    val gaps = counts.select("n_chars").distinct()
      .withColumn("gap",
        coalesce(lead(col("n_chars"), 1).over(
          Window.partitionBy(lit(1)).orderBy(col("n_chars").asc))
          - col("n_chars"), lit(0L)).cast("long"))
    val grid = gaps.select("n_chars").crossJoin(broadcast(totals.select("source")))
      .join(counts, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
    val cumS = grid.withColumn("cum_s",
      sum(col("c")).over(Window.partitionBy("source")
        .orderBy(col("n_chars").asc)))
    val cumG = counts.groupBy("n_chars").agg(sum(col("c")).as("cg"))
      .withColumn("cum_g",
        sum(col("cg")).over(Window.partitionBy(lit(1)).orderBy(col("n_chars").asc)))
      .select("n_chars", "cum_g")
    cumS.join(broadcast(cumG), Seq("n_chars"))
      .join(broadcast(gaps), Seq("n_chars"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(grand))
      .groupBy("source", "n_s", "nn")
      .agg(sum(abs(col("cum_s") * (col("nn") - col("n_s"))
        - (col("cum_g") - col("cum_s")) * col("n_s")) * col("gap")).as("w1_num"))
      .select(col("source"), col("n_s").as("n_source"),
        (col("nn") - col("n_s")).as("n_rest"), col("w1_num"),
        when(col("nn") - col("n_s") === 0L, lit(null).cast("double"))
          .otherwise(col("w1_num").cast("double")
            / (col("n_s") * (col("nn") - col("n_s"))).cast("double"))
          .as("w1_chars"))
      .orderBy("source")
  }

  /** q280: k-anonymity audit over the quasi-identifier
    * (source, lang, 100-char length band) — the re-identification
    * risk profile a release gate needs: for each k in {2, 5, 10, 20},
    * how many quasi-id groups fall below k members and how many docs
    * sit in them.  Bands are pure integer arithmetic (no window), so
    * the quasi-id is stateless per-row math like q274's split.
    *
    * 100 TB shape: one keyed aggregate to group sizes (bounded by
    * |sources|×|langs|×|bands|), then a 4-way explode over the
    * broadcast-sized group table — the corpus is read once.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val groups = Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), col("lang"), expr("n_chars div 100").as("band"))
        .groupBy("source", "lang", "band").agg(count(lit(1)).as("gsize")))
    groups
      .select(col("gsize"), explode(array(Seq(2, 5, 10, 20).map(lit): _*)).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gsize") < col("k"), 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("gsize") < col("k"), col("gsize")).otherwise(0L)).as("docs_at_risk"),
        sum(col("gsize")).as("n_docs"))
      .select(col("k"), col("n_groups"), col("n_small_groups"), col("docs_at_risk"),
        when(col("n_docs") === 0L, lit(null).cast("double"))
          .otherwise(col("docs_at_risk").cast("double") / col("n_docs").cast("double"))
          .as("risk_rate"))
      .orderBy("k")
  }

  /** Benford expected shares log10(1+1/d), embedded as literals (the
    * q255 driver-embedded-weights rule: both engines parse the same
    * decimal literal into the same double — no libm log in either
    * plan, whose last-ulp could differ).
    */
  private[graft] val BenfordShare: Map[Int, Double] = Map(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124, 3 -> 0.12493873660829992,
    4 -> 0.09691001300805642, 5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129, 9 -> 0.04575749056067514)

  /** q281: Benford first-significant-digit audit on lineitem extended
    * prices — the data-quality / fabrication gate: multiplicative
    * quantities follow log10(1+1/d) closely, and a per-digit deviation
    * profile flags synthetic or truncated feeds.  The price is
    * quantized to integer cents FIRST (exact on both engines), so the
    * first digit comes from a BIGINT's decimal rendering — engine
    * string formats agree on integers where double formatting could
    * diverge (scientific notation).  Per digit: observed count/share,
    * the literal expected share, the signed deviation, and the χ²
    * term (obs−exp·N)²/(exp·N) — every double from ONE pinned
    * operation order over exact integers and literal constants.
    *
    * 100 TB shape: stateless per-row digit extraction into a 9-group
    * keyed aggregate — the cheapest full-scan gate, like q276.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val expShare = BenfordShare.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0)) { case (acc, (d, s)) => when(col("digit") === d, lit(s)).otherwise(acc) }
    val byDigit = Pins.eager(Tables.lineitem(spark, dir)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs")))
    byDigit
      .crossJoin(broadcast(byDigit.agg(sum(col("n_obs")).as("n_total"))))
      .select(col("digit"), col("n_obs"), expShare.as("exp_share"),
        (col("n_obs").cast("double") / col("n_total").cast("double")).as("obs_share"),
        (col("n_obs").cast("double") / col("n_total").cast("double") - expShare).as("dev"),
        ((col("n_obs").cast("double") - expShare * col("n_total").cast("double"))
          * (col("n_obs").cast("double") - expShare * col("n_total").cast("double"))
          / (expShare * col("n_total").cast("double"))).as("chi2_term"))
      .orderBy("digit")
  }

  /** q282: decile lift / cumulative-gains table — the model-eval view
    * q243 (average precision), q269 (calibration) and q270 (Brier)
    * don't cover: rank the corpus by a score (length proxy,
    * descending), cut into global deciles (GlobalPrefix's rank — no
    * single-partition window over the corpus), and report each
    * decile's positive rate against the base rate (lift) plus the
    * cumulative share of all positives captured (gains).  Positive =
    * English-language doc.  All counts exact BIGINTs; lift and
    * capture divide in one pinned order; the cumulative window runs
    * over the 10 decile rows (bounded-frame exception).
    */
  def liftTable(spark: SparkSession, dir: String): DataFrame = {
    val byDecile = GlobalPrefix(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"),
            (col("lang") === "en").cast("long").as("pos")),
        spark.sparkContext.defaultParallelism, eager = true, keys = Nil,
        order = Seq(col("n_chars").desc, col("doc_id").asc))(
        GlobalPrefix.Running("rank", total = Some("n")))
      .withColumn("decile", graft.operators.TextAnalysis.ntileExpr(10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = byDecile.agg(sum(col("n_docs")).as("nn"), sum(col("n_pos")).as("pp"))
    byDecile
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .crossJoin(broadcast(totals))
      .select(col("decile"), col("n_docs"), col("n_pos"), col("cum_pos"),
        when(col("pp") === 0L || col("n_docs") === 0L, lit(null).cast("double"))
          .otherwise((col("n_pos").cast("double") / col("n_docs").cast("double"))
            / (col("pp").cast("double") / col("nn").cast("double"))).as("lift"),
        when(col("pp") === 0L, lit(null).cast("double"))
          .otherwise(col("cum_pos").cast("double") / col("pp").cast("double"))
          .as("cum_capture"))
      .orderBy("decile")
  }

  /** NDCG@10 discount weights 10¹⁵/log2(i+1), rounded to exact BIGINT
    * micro-units — rank sums become order-free integer arithmetic
    * (float DCG sums would be aggregation-order-dependent), and both
    * engines carry the identical literals.  `NdcgPrefix(p)` =
    * Σ_{i≤p} wu_i is the ideal DCG for p relevant docs.
    */
  private[graft] val NdcgWu: Seq[Long] = Seq(
    1000000000000000L, 630929753571458L, 500000000000000L, 430676558073393L,
    386852807234542L, 356207187108022L, 333333333333333L, 315464876785729L,
    301029995663981L, 289064826317888L)
  private[graft] val NdcgPrefix: Seq[Long] = NdcgWu.scanLeft(0L)(_ + _).tail

  /** q283: NDCG@10 per source — ranking quality of the length-proxy
    * score against binary English relevance.  Positions are a
    * source-partitioned row_number (≤10 kept); each position's
    * discount is an exact integer micro-unit literal, so DCG and the
    * ideal DCG are exact BIGINT sums (order-free — a double DCG sum
    * would vary with aggregation order) and NDCG is one terminal
    * divide.  IDCG = prefix(min(P, 10)) for P relevant docs in the
    * source, selected by a literal-array lookup, no log anywhere.
    *
    * 100 TB shape: source-partitioned window (top-10 kept per group)
    * + one keyed aggregate; the per-source positive count is a second
    * keyed aggregate joined back — nothing global, nothing floating.
    */
  def ndcgAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("lang") === "en").cast("long").as("rel"))
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id").asc)
    val wuArr = array(NdcgWu.map(lit): _*)
    val dcg = docs.withColumn("i", row_number().over(w))
      .filter(col("i") <= 10)
      .groupBy("source")
      .agg(sum(col("rel") * element_at(wuArr, col("i").cast("int"))).as("dcg_units"))
    val prefArr = array((NdcgPrefix.map(lit)): _*)
    val pos = docs.groupBy("source").agg(sum(col("rel")).as("n_pos"))
    dcg.join(pos, Seq("source"))
      .select(col("source"), col("n_pos"), col("dcg_units"),
        when(col("n_pos") >= 10L, lit(NdcgPrefix.last))
          .when(col("n_pos") === 0L, lit(0L))
          .otherwise(element_at(prefArr, col("n_pos").cast("int"))).as("idcg_units"))
      .select(col("source"), col("n_pos"), col("dcg_units"), col("idcg_units"),
        when(col("idcg_units") === 0L, lit(null).cast("double"))
          .otherwise(col("dcg_units").cast("double") / col("idcg_units").cast("double"))
          .as("ndcg10"))
      .orderBy("source")
  }

  /** q277: cross-source quantile normalization audit.  Within each
    * source, docs rank into deciles by length (ntile semantics shared
    * bit-exactly with the oracle); each decile then reports where its
    * members sit in the GLOBAL length distribution — n_docs, the
    * exact BIGINT sum of global ranks, and the mean global percentile
    * (sum(rank−1)/(N−1)/n in ONE pinned divide order).  A source
    * whose decile means deviate from the global grid is the one whose
    * quality scores need renormalizing before cross-source mixing
    * (q151's mixture planner consumes exactly this).
    *
    * 100 TB shape: the global rank is GlobalPrefix's (no
    * single-partition window);
    * per-source deciles ride source-partitioned windows; the rollup
    * is one keyed aggregate.  Guards: N=1 and n_docs=0 are
    * unreachable on the fixture but the N−1 divide carries the
    * explicit CASE anyway (the batch rule).
    */
  def quantileNormAudit(spark: SparkSession, dir: String): DataFrame = {
    val wSrc = Window.partitionBy("source").orderBy(col("n_chars").asc, col("doc_id").asc)
    GlobalPrefix(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("n_chars")),
        spark.sparkContext.defaultParallelism, eager = true, keys = Nil,
        order = Seq(col("n_chars").asc, col("doc_id").asc))(
        GlobalPrefix.Running("rank", total = Some("n")))
      .withColumn("decile", ntile(10).over(wSrc))
      .groupBy("source", "decile", "n")
      .agg(count(lit(1)).as("n_docs"), sum(col("rank")).as("sum_grank"))
      .select(col("source"), col("decile"), col("n_docs"), col("sum_grank"),
        when(col("n") <= 1L, lit(null).cast("double"))
          .otherwise((col("sum_grank") - col("n_docs")).cast("double")
            / (col("n") - 1L).cast("double") / col("n_docs").cast("double"))
          .as("mean_global_pctl"))
      .orderBy("source", "decile")
  }

  /** q284: Cohen's kappa inter-rater agreement, per source — the
    * label-quality gate for any annotation pipeline: how much do two
    * labelers agree BEYOND chance?  The two deterministic "raters"
    * are the English-language flag and a length-band flag (n_chars ≥
    * 300 — the corpus median, so neither rater is near-constant);
    * real pipelines plug in two annotator columns, the algebra is
    * identical.  Every 2×2 cell is an exact BIGINT; the
    * closed form collapses to ONE terminal divide of exact integers:
    *   kappa = (po − pe)/(1 − pe) = (n·(n11+n00) − pe_num) / (n² − pe_num)
    * with pe_num = a1·b1 + a0·b0 (marginal products).  po and pe are
    * reported as single divides of the same integers.  Integer
    * products stay in BIGINT up to ~3·10⁹ docs per source; past that
    * the products move to DECIMAL(38) — noted, not needed here.
    *
    * 100 TB shape: one scan → |sources|-group keyed aggregate; all
    * doubles are terminal.  Degenerate guard: pe = 1 (both raters
    * constant) → kappa NULL, the q251 CASE rule.
    */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        (col("lang") === "en").cast("long").as("ra"),
        (col("n_chars") >= 300L).cast("long").as("rb"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("ra") * col("rb")).as("n11"),
        sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
        sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
        sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
      .select(col("source"), col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        ((col("n11") + col("n00")).cast("double") / col("n").cast("double")).as("po"),
        (((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double")
          / (col("n") * col("n")).cast("double")).as("pe"),
        when(col("n") * col("n") === (col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n01") + col("n00")) * (col("n10") + col("n00")),
          lit(null).cast("double"))
          .otherwise((col("n") * (col("n11") + col("n00"))
            - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
              + (col("n01") + col("n00")) * (col("n10") + col("n00")))).cast("double")
            / (col("n") * col("n")
              - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
                + (col("n01") + col("n00")) * (col("n10") + col("n00")))).cast("double"))
          .as("kappa"))
      .orderBy("source")
  }

  /** Literal length thresholds for the q285 operating-characteristic
    * sweep (both engines carry the identical integers).
    */
  private[graft] val MccThresholds: Seq[Long] = Seq(100L, 200L, 300L, 400L, 500L)

  /** q285: classifier operating-characteristic table — confusion
    * matrix + precision / recall / F1 / MCC / Youden's J at a sweep
    * of literal score thresholds (predicted = n_chars ≥ T, actual =
    * English).  The eval-family view q243 (average precision), q282
    * (lift) and q283 (NDCG) don't give: the per-threshold trade-off a
    * deployment picks its cutoff from.  All confusion cells are exact
    * BIGINTs via ONE corpus scan exploded over the 5-row literal
    * threshold spine; F1 collapses to the single divide
    * 2·tp / (2·tp + fp + fn) of exact integers; MCC's numerator
    * tp·tn − fp·fn is an exact BIGINT and its denominator is one
    * sqrt of a pinned-order double product (sqrt is IEEE
    * correctly-rounded — bit-identical cross-engine); each factor = 0
    * guards to NULL.
    *
    * 100 TB shape: corpus scan × 5 (explode on a literal array —
    * no shuffle growth; the aggregate is 5 groups).
    */
  def mccSweep(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select((col("lang") === "en").cast("long").as("y"), col("n_chars"))
      .select(col("y"), explode(array(MccThresholds.map(lit): _*)).as("t"),
        col("n_chars"))
      .select(col("t"), col("y"), (col("n_chars") >= col("t")).cast("long").as("p"))
    val cells = d.groupBy("t").agg(
      sum(col("y") * col("p")).as("tp"),
      sum((lit(1L) - col("y")) * col("p")).as("fp"),
      sum(col("y") * (lit(1L) - col("p"))).as("fn"),
      sum((lit(1L) - col("y")) * (lit(1L) - col("p"))).as("tn"))
    def nz(c: Column): Column = c =!= 0L
    cells.select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
      when(nz(col("tp") + col("fp")),
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
        .otherwise(lit(null).cast("double")).as("prec"),
      when(nz(col("tp") + col("fn")),
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
        .otherwise(lit(null).cast("double")).as("recall"),
      when(nz(lit(2L) * col("tp") + col("fp") + col("fn")),
        (lit(2L) * col("tp")).cast("double")
          / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
        .otherwise(lit(null).cast("double")).as("f1"),
      when(nz(col("tp") + col("fp")) && nz(col("tp") + col("fn"))
          && nz(col("tn") + col("fp")) && nz(col("tn") + col("fn")),
        (col("tp") * col("tn") - col("fp") * col("fn")).cast("double")
          / sqrt(((col("tp") + col("fp")).cast("double")
              * (col("tp") + col("fn")).cast("double"))
            * ((col("tn") + col("fp")).cast("double")
              * (col("tn") + col("fn")).cast("double"))))
        .otherwise(lit(null).cast("double")).as("mcc"),
      when(nz(col("tp") + col("fn")) && nz(col("tn") + col("fp")),
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
          + col("tn").cast("double") / (col("tn") + col("fp")).cast("double")
          - lit(1.0))
        .otherwise(lit(null).cast("double")).as("youden_j"))
      .orderBy("t")
  }

  /** q286: two-proportion z-test A/B audit, per source — the
    * experimentation-family primitive q266 (CUPED) and q267 (Neyman)
    * assume someone already ran: is arm B's success rate different
    * from arm A's?  Assignment is the q274 reproducibility contract —
    * arm = hv60('ab:' ∥ doc_id) mod 2, stateless per-row math any
    * engine replays — and the outcome is the English flag.  Arm
    * counts and successes are exact BIGINTs; the pooled z statistic
    *   z = (p̂a − p̂b) / √( p̂(1−p̂) · (1/na + 1/nb) )
    * is built from single divides of exact integers in ONE pinned
    * order; an empty arm or a constant pooled rate (p̂ ∈ {0,1})
    * guards to NULL (σ = 0 — z undefined).
    *
    * 100 TB shape: stateless assignment → |sources|-group conditional
    * aggregate, one row per source; nothing global, no window.
    */
  def abZTest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("ab:"), col("doc_id").cast("string"))), lit(2L)).as("arm"),
        (col("lang") === "en").cast("long").as("y"))
    val cells = d.groupBy("source").agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0L, col("y")).otherwise(0L)).as("x_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
    cells.select(col("source"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      when(col("n_a") === 0L, lit(null).cast("double")).otherwise(pa).as("p_a"),
      when(col("n_b") === 0L, lit(null).cast("double")).otherwise(pb).as("p_b"),
      when(col("n_a") + col("n_b") === 0L, lit(null).cast("double")).otherwise(pp).as("p_pool"),
      when(col("n_a") === 0L || col("n_b") === 0L
          || col("x_a") + col("x_b") === 0L
          || col("x_a") + col("x_b") === col("n_a") + col("n_b"),
        lit(null).cast("double"))
        .otherwise((pa - pb)
          / sqrt((pp * (lit(1.0) - pp))
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double")))).as("z"))
      .orderBy("source")
  }

  /** q289: training-order mixing audit — does the deterministic
    * shuffle actually interleave sources?  A corpus streamed to a
    * trainer in (source, doc_id) order feeds megabatches of one
    * source (gradient staleness / curriculum accidents); the fix is a
    * hash permutation (hv60('shuffle:' ∥ doc_id) — the q274
    * reproducibility contract: any engine, any partitioning, same
    * order).  For both orders this audit counts adjacent same-source
    * pairs and compares to the random-permutation expectation
    * E[same] = Σ_s n_s(n_s−1) / N (exact integer numerator, one
    * terminal divide).  Sequential order scores ≫ 1; the hash order
    * lands ≈ 1 — the certificate a data-loading pipeline wants.
    *
    * Adjacency over a GLOBAL order with no global sort: GlobalPrefix's
    * rank gives each doc its global position; adjacent
    * pairs are the rank ⋈ rank+1 equi-join (shuffle on rank — keyed,
    * never single-partition).
    *
    * 100 TB shape: two rank passes + two rank-keyed equi-joins + one
    * |sources|-group aggregate; driver holds 2 rows.
    */
  def mixingAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Pins.eager(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.hv60(
          concat(lit("shuffle:"), col("doc_id").cast("string"))).as("hv")))
    // exact expected-adjacency numerator Σ n_s(n_s−1), shared by both orders
    val expFrame = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(sum(col("ns") * (col("ns") - 1L)).as("same_num"),
        sum(col("ns")).as("n_total"))
    def adjacency(orderName: String, sortCols: Column*): DataFrame = {
      val ranked = GlobalPrefix(docs, spark.sparkContext.defaultParallelism,
        eager = true, keys = Nil, order = sortCols)(GlobalPrefix.Running("rank"))
      val a = ranked.select(col("rank").as("r"), col("source").as("s1"))
      val b = ranked.select((col("rank") - 1L).as("r"), col("source").as("s2"))
      a.join(b, Seq("r"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("n_same"))
        .select(lit(orderName).as("order_name"), col("n_pairs"), col("n_same"))
    }
    adjacency("sequential", col("source").asc, col("doc_id").asc)
      .unionAll(adjacency("shuffled", col("hv").asc, col("doc_id").asc))
      .crossJoin(broadcast(expFrame))
      .select(col("order_name"), col("n_pairs"), col("n_same"), col("same_num"),
        when(col("n_total") === 0L, lit(null).cast("double"))
          .otherwise(col("same_num").cast("double") / col("n_total").cast("double"))
          .as("expected_same"),
        when(col("same_num") === 0L, lit(null).cast("double"))
          .otherwise(col("n_same").cast("double")
            / (col("same_num").cast("double") / col("n_total").cast("double")))
          .as("mix_ratio"))
      .orderBy("order_name")
  }

  /** q290: population stability index (PSI) per source vs the corpus
    * over 50-char length bands — the binned drift score deployments
    * actually alert on (banking/ML-ops convention: <0.1 stable,
    * 0.1-0.25 shifting, >0.25 shifted), complementing q279's exact KS
    * (distribution-shape) and q89's KL (token-distribution) drift.
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over bands where the source
    * has mass (bands the source misses are counted separately —
    * n_empty_bands — rather than smoothed, so the score stays exact).
    *
    * Determinism: band counts are exact BIGINTs; p/q is ONE divide of
    * exact integer products (c_sb·n)/(c_b·n_s); ln via GraftLn (libm
    * parity, `plans/GraftLn.scala`); the ≤12-band sum folds in band
    * order (sort_array + aggregate — the q243 ordered-fold rule), so
    * no double ever depends on aggregation order.
    *
    * 100 TB shape: one scan → (source, band) keyed aggregate (bounded
    * by |sources|×12) → broadcast band/source totals; the fold runs
    * over ≤12 elements per source.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val sb = Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), expr("n_chars div 50").as("band"))
        .groupBy("source", "band").agg(count(lit(1)).as("c_sb")))
    val bandTot = sb.groupBy("band").agg(sum(col("c_sb")).as("c_b"))
    val srcTot = sb.groupBy("source").agg(sum(col("c_sb")).as("n_s"))
    val nTot = sb.agg(sum(col("c_sb")).as("n"))
    val nBands = bandTot.agg(count(lit(1)).as("n_bands_corpus"))
    val p = col("c_sb").cast("double") / col("n_s").cast("double")
    val q = col("c_b").cast("double") / col("n").cast("double")
    val ratio = (col("c_sb") * col("n")).cast("double") / (col("c_b") * col("n_s")).cast("double")
    val terms = sb
      .join(broadcast(bandTot), Seq("band"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("band"), col("n_s"),
        ((p - q) * graft.functions.MathFunctions.ln(ratio)).as("term"))
    terms.groupBy("source")
      .agg(max(col("n_s")).as("n_docs"),
        count(lit(1)).as("n_bands_used"),
        Folds.orderedSum(col("term"), col("band")).as("psi"))
      .crossJoin(broadcast(nBands))
      .select(col("source"), col("n_docs"), col("n_bands_used"),
        (col("n_bands_corpus") - col("n_bands_used")).as("n_empty_bands"),
        col("psi"))
      .orderBy("source")
  }

  /** Two-sided 97.5% and 80% standard-normal quantiles as literal
    * doubles (driver-embedded-constants rule: no inverse-CDF in
    * either engine; both parse the same decimal literals).
    */
  private[graft] val Z975 = 1.959963984540054
  private[graft] val Z80 = 0.8416212335729143

  /** q291: minimum-detectable-effect (MDE) design audit, per source —
    * the question asked BEFORE q286's z-test: with these arm sizes
    * and this baseline rate, what's the smallest absolute lift a
    * 5%-level, 80%-power two-proportion test can see?
    *   mde = (z_{0.975} + z_{0.80}) · √( p̂(1−p̂)·(1/nₐ + 1/n_b) )
    * Arms are the q286/q274 hash assignment (replayable); p̂ is the
    * pooled rate.  One sqrt (IEEE-exact), z-quantiles as literal
    * doubles, every input a single divide of exact integers; an empty
    * arm or constant rate (σ = 0) guards to NULL, and the relative
    * MDE additionally guards p̂ = 0.
    *
    * 100 TB shape: identical to q286 — stateless assignment, one
    * |sources|-group conditional aggregate.
    */
  def mdeAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("ab:"), col("doc_id").cast("string"))), lit(2L)).as("arm"),
        (col("lang") === "en").cast("long").as("y"))
    val cells = d.groupBy("source").agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(col("y")).as("x"))
    val pp = col("x").cast("double") / (col("n_a") + col("n_b")).cast("double")
    val mde = (lit(Z975) + lit(Z80)) *
      sqrt((pp * (lit(1.0) - pp))
        * (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    cells.select(col("source"), col("n_a"), col("n_b"), col("x"),
      when(col("n_a") + col("n_b") === 0L, lit(null).cast("double")).otherwise(pp).as("p_pool"),
      when(col("n_a") === 0L || col("n_b") === 0L
          || col("x") === 0L || col("x") === col("n_a") + col("n_b"),
        lit(null).cast("double")).otherwise(mde).as("mde_abs"),
      when(col("n_a") === 0L || col("n_b") === 0L
          || col("x") === 0L || col("x") === col("n_a") + col("n_b"),
        lit(null).cast("double")).otherwise(mde / pp).as("mde_rel"))
      .orderBy("source")
  }

  /** SPRT literals: H0 p=0.45 vs H1 p=0.55, α = β = 0.05.  The
    * per-observation log-likelihood increments and Wald boundaries
    * are driver-embedded decimal literals (no libm log in either
    * engine's plan).
    */
  private[graft] val SprtL1 = 0.20067069546215124   // ln(0.55/0.45)
  private[graft] val SprtL0 = -0.20067069546215124  // ln(0.45/0.55)
  private[graft] val SprtA = 2.9444389791664403     // ln((1−β)/α) = ln(19)
  private[graft] val SprtB = -2.9444389791664403    // ln(β/(1−α))

  /** q292: Wald SPRT early-stopping depth per event type — the
    * sequential counterpart of q286's fixed-horizon z-test and q271's
    * TA depth: walking the event stream in (ts, event_id) order, how
    * soon does the sequential probability-ratio test decide
    * H1: p(value ≥ 30) = 0.55 against H0: p = 0.45?  The running LLR
    * at depth n is NOT an accumulated double sum — with k successes
    * it is the closed form k·L1 + (n−k)·L0 over literal increments,
    * computed per row from the EXACT integer running count, so it is
    * order-free given the pinned (ts, event_id) walk.  Stop depth =
    * first n where LLR ≥ A (accept H1) or ≤ B (accept H0); a stream
    * that never decides reports 'none' with NULL depth.
    *
    * 100 TB shape: one keyed window (per event type — never global)
    * for the running count, one aggregate for the first crossing, one
    * row-lookup join at the stop depth.  The certificate a sequential
    * experimentation pipeline wants: decisions at ~1-2% of the
    * fixed-horizon sample.
    */
  def sprtDepth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts").asc, col("event_id").asc)
    val walked = Pins.eager(
      graft.Tables.events(spark, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          (col("value") >= 30.0).cast("long").as("succ"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("k", sum(col("succ")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_type"), col("rn"), col("k"),
          (col("k").cast("double") * lit(SprtL1)
            + (col("rn") - col("k")).cast("double") * lit(SprtL0)).as("llr")))
    val totals = walked.groupBy("event_type").agg(max(col("rn")).as("n_events"))
    val stops = walked
      .filter(col("llr") >= lit(SprtA) || col("llr") <= lit(SprtB))
      .groupBy("event_type").agg(min(col("rn")).as("stop_n"))
    totals
      .join(stops, Seq("event_type"), "left")
      .join(walked.select(col("event_type"), col("rn").as("stop_n"),
          col("k").as("k_at_stop"), col("llr").as("llr_at_stop")),
        Seq("event_type", "stop_n"), "left")
      .select(col("event_type"), col("n_events"), col("stop_n"),
        col("k_at_stop"), col("llr_at_stop"),
        when(col("stop_n").isNull, "none")
          .when(col("llr_at_stop") >= lit(SprtA), "accept_h1")
          .otherwise("accept_h0").as("decision"),
        when(col("stop_n").isNull, lit(null).cast("double"))
          .otherwise(col("stop_n").cast("double") / col("n_events").cast("double"))
          .as("scanned_frac"))
      .orderBy("event_type")
  }

  /** q294: χ² independence audit, event type × 6-hour band — "does
    * activity mix shift across the day?", the contingency-table gate
    * between q281's goodness-of-fit (one margin literal) and q279's
    * KS (two empirical CDFs).  Observed cells are exact BIGINTs; the
    * expected count rowTot·colTot/n and the χ² term (o−e)²/e are
    * single pinned double expressions per cell; the output is the
    * full 20-cell table (terms sum driver-side or in a bounded fold —
    * the per-cell view is what an analyst drills into).  A zero
    * margin cannot occur for an emitted cell (o ≥ 1 ⇒ both margins
    * ≥ 1), so e > 0 by construction; the guard is still spelled.
    *
    * 100 TB shape: one scan → (type, band) keyed aggregate (bounded
    * 4×|types|) → broadcast margins.
    */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = Pins.eager(
      graft.Tables.events(spark, dir)
        .select(col("event_type"), expr("hour(ts) div 6").as("band"))
        .groupBy("event_type", "band").agg(count(lit(1)).as("o")))
    val rowTot = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
    val colTot = cells.groupBy("band").agg(sum(col("o")).as("c"))
    val nTot = cells.agg(sum(col("o")).as("n"))
    val e = (col("r") * col("c")).cast("double") / col("n").cast("double")
    cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("band"))
      .crossJoin(broadcast(nTot))
      .select(col("event_type"), col("band"), col("o"),
        col("r").as("row_tot"), col("c").as("col_tot"),
        e.as("expected"),
        when(col("r") === 0L || col("c") === 0L, lit(null).cast("double"))
          .otherwise((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .as("chi2_term"))
      .orderBy("event_type", "band")
  }

  /** AMS "tug-of-war" F₂ sketch audit (q309): the second frequency
    * moment F₂ = Σ_tok c_tok² of the corpus token distribution — the
    * SELF-JOIN SIZE of the token table, the quantity a cost-based
    * planner (q257's estimator family) needs before picking a
    * shingle/token join strategy, and the classic skew summary
    * (F₂/n² is the collision probability two random tokens match).
    *
    * Sketch (Alon–Matias–Szegedy '96): r=16 counters X_j = Σ_tok
    * s_j(tok)·c_tok with signs s_j = 1 − 2·bit_j(hv60('ams:' ∥ tok))
    * ∈ {±1}; each X_j² is an unbiased F₂ estimate and the audit
    * compares their mean against the exact recount.  UNLIKE q33/q272
    * (whose sketch internals can't be replayed in SQL) every AMS
    * counter is pure exact-integer algebra over the shared 60-bit
    * hash, so the oracle replays the WHOLE sketch bit-for-bit — the
    * flag is genuinely cross-checked, not a literal.  The ±2.83σ
    * bound |est − F₂| ≤ F₂ follows from Var[mean] = 2F₂²/r under
    * 4-wise independence; hv60's bit planes are empirically
    * independent enough at every shipped SF (measured, see spec).
    *
    * 100 TB shape: ONE token-keyed aggregate (the exact recount is
    * the expensive certification half — production keeps only the
    * sketch side, whose r counters partial-aggregate map-side into
    * 16 longs per partition, the Misra-Gries discipline); counter
    * sums are order-free exact integers in DECIMAL(38,0), squares
    * fold into one scalar row.  n_tok beyond ~3·10⁹ would overflow a
    * BIGINT X_j² — the decimal cast is load-bearing, not defensive.
    */
  def amsF2(spark: SparkSession, dir: String, r: Int = 16): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cnt = tokenStream(spark, dir)
      .groupBy("token").agg(count(lit(1)).as("c"))
      .withColumn("hv", graft.operators.TextAnalysis.hv60(
        concat(lit("ams:"), col("token"))))
    val base: Seq[Column] = Seq(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      sum((col("c") * col("c")).cast(dec38)).cast("long").as("f2_true"))
    val counters: Seq[Column] = (0 until r).map { j =>
      val sgn = lit(1L) - lit(2L) * shiftright(col("hv"), j).bitwiseAND(lit(1L))
      sum((sgn * col("c")).cast(dec38)).cast("long").as(s"x$j")
    }
    val all = base ++ counters
    val estSum = (0 until r).map(j =>
      (col(s"x$j").cast(dec38) * col(s"x$j").cast(dec38)))
      .reduce(_ + _).cast("long")
    cnt.agg(all.head, all.tail: _*)
      .withColumn("est_sum", estSum)
      .select(col("n_tokens"), col("n_distinct"), col("f2_true"),
        col("est_sum"),
        (col("est_sum").cast("double") / lit(r.toDouble)).as("est_f2"),
        when(abs(col("est_sum") - lit(r.toLong) * col("f2_true"))
          <= lit(r.toLong) * col("f2_true"), 1).otherwise(0)
          .as("within_bound"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test (q314): the A/B tier
    * (q286 z, q288 MDE, q291 SPRT, q311 DiD) tests arms POOLED —
    * Simpson's paradox can flip a pooled contrast when conversion
    * varies across user cohorts that aren't balanced between arms.
    * CMH tests the arm→conversion association WITHIN each stratum
    * and combines: χ²_CMH = (|Σ_s(n11 − E)| − ½)² / Σ_s V with the
    * hypergeometric E = r1·c1/n and V = r1·r0·c1·c0 / (n²(n−1)), plus
    * the Mantel–Haenszel common odds ratio Σ(n11·n00/n) / Σ(n10·n01/n).
    * Strata are the user's first-seen epoch-day mod 7 (the
    * deterministic weekday-cohort split); arms the q297 hv60 rule;
    * conversion = any purchase event.
    *
    * Determinism: every cell/margin is an exact BIGINT; each
    * stratum's E, V and OR terms are single pinned double
    * factorizations (DECIMAL(38,0) products before the divide — the
    * 4-margin V product alone can reach 10²⁰); the Σ folds run in
    * STRATUM order over the ≤7-row frame (sort_array + seeded fold ↔
    * list_reduce over list(… ORDER BY stratum)); Σn11 stays exact
    * integer.  V = 0 (a degenerate stratum set) guards χ² to NULL.
    *
    * 100 TB shape: one user-keyed aggregate (first-day + converted
    * in one pass), one ≤7×4-cell keyed aggregate, one 7-element
    * fold — nothing beyond the user rollup touches data scale.
    */
  def cmh(spark: SparkSession, dir: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(expr("unix_millis(ts) div 86400000")).as("first_day"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(
        pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)).as("arm"),
        pmod(col("first_day"), lit(7L)).as("stratum"), col("conv"))
    val cells = perUser.groupBy("stratum")
      .agg(
        sum(when(col("arm") === 1L && col("conv") === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when(col("arm") === 1L && col("conv") === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when(col("arm") === 0L && col("conv") === 1L, 1L).otherwise(0L)).as("n01"),
        sum(when(col("arm") === 0L && col("conv") === 0L, 1L).otherwise(0L)).as("n00"))
      .select(col("stratum"), col("n11"),
        (col("n11") + col("n10")).as("r1"), (col("n01") + col("n00")).as("r0"),
        (col("n11") + col("n01")).as("c1"), (col("n10") + col("n00")).as("c0"),
        (col("n11") + col("n10") + col("n01") + col("n00")).as("n"),
        col("n10"), col("n01"), col("n00"))
    val e = (col("r1") * col("c1")).cast("double") / col("n").cast("double")
    // n = 1 ⇒ the hypergeometric variance is exactly 0 (and the raw
    // ratio is 0/0): guard BEFORE the divide — ANSI mode throws on it
    val v = when(col("n") > 1L,
      (col("r1").cast(dec38) * col("r0") * col("c1") * col("c0")).cast("double") /
        (col("n").cast(dec38) * col("n") * (col("n") - lit(1L))).cast("double"))
      .otherwise(lit(0.0))
    val orn = (col("n11") * col("n00")).cast("double") / col("n").cast("double")
    val ord = (col("n10") * col("n01")).cast("double") / col("n").cast("double")
    cells.agg(
      count(lit(1)).as("n_strata"), sum(col("n")).as("n_users"),
      sum(col("n11")).as("sum_obs"),
      Folds.orderedSum(e, col("stratum")).as("sum_exp"),
      Folds.orderedSum(v, col("stratum")).as("sum_var"),
      Folds.orderedSum(orn, col("stratum")).as("or_num"),
      Folds.orderedSum(ord, col("stratum")).as("or_den"))
      .select(col("n_strata"), col("n_users"), col("sum_obs"), col("sum_exp"),
        col("sum_var"), {
          val d = abs(col("sum_obs").cast("double") - col("sum_exp")) - lit(0.5)
          when(col("sum_var") === 0.0, lit(null).cast("double"))
            .otherwise((d * d) / col("sum_var")).as("cmh_chi2")
        },
        when(col("or_den") === 0.0, lit(null).cast("double"))
          .otherwise(col("or_num") / col("or_den")).as("or_mh"))
  }

  /** l-diversity audit (q315): the q280 k-anonymity companion — k
    * bounds RE-IDENTIFICATION (group size), but a size-k group whose
    * sensitive attribute is CONSTANT still leaks it (homogeneity
    * attack, Machanavajjhala et al.).  Quasi-identifiers here are
    * (source, 100-char length band) — q280's QI minus `lang`, which
    * becomes the sensitive attribute: for each l ∈ {2, 3, 5}, how
    * many QI groups carry fewer than l distinct langs, and how many
    * documents sit in them.  Pure exact-integer counting with q280's
    * one guarded terminal divide.
    *
    * 100 TB shape: the q280 shape verbatim — one keyed aggregate to
    * (QI-group, distinct-count) rows (bounded by |sources|×|bands|),
    * then a 3-way explode over that broadcast-sized frame.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val groups = Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), expr("n_chars div 100").as("band"), col("lang"))
        .groupBy("source", "band")
        .agg(count(lit(1)).as("gsize"), countDistinct(col("lang")).as("nlang")))
    groups
      .select(col("gsize"), col("nlang"),
        explode(array(Seq(2, 3, 5).map(lit): _*)).as("l"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("nlang") < col("l"), 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("nlang") < col("l"), col("gsize")).otherwise(0L)).as("docs_at_risk"),
        sum(col("gsize")).as("n_docs"))
      .select(col("l"), col("n_groups"), col("n_violating"), col("docs_at_risk"),
        when(col("n_docs") === 0L, lit(null).cast("double"))
          .otherwise(col("docs_at_risk").cast("double") / col("n_docs").cast("double"))
          .as("risk_rate"))
      .orderBy("l")
  }

  /** Differentially-private release audit (q319): the ACTIVE privacy
    * mechanism next to the q280/q315 passive gates — per-source
    * document counts released under ε-DP Laplace noise at ε ∈
    * {0.1, 1, 10}, with the exact error each release pays.  The
    * noise is the standard inverse-CDF draw, X = −b·sign(v)·
    * ln(1 − 2|v|) with b = Δ/ε (count queries: Δ = 1), and the
    * uniform v ∈ [−½, ½) comes from the shared 60-bit hash of
    * ("dp:" ∥ source ∥ ":" ∥ ε-tag) — a keyed-PRF draw, the
    * deterministic analog of seeded noise generation in production
    * DP libraries, which is exactly what makes the release
    * REPLAYABLE by the oracle.  within_95 checks |X| against the
    * Laplace 95% band t = b·ln 20 (P(|X| > t) = e^(−t/b)), so the
    * frame doubles as a mechanism self-test: across sources × ε,
    * ~5% of flags should fail.
    *
    * Determinism: u = hv/2⁶⁰ (one IEEE divide by an exact power of
    * two), ln via GraftLn (libm parity — the ONE transcendental the
    * repo's oracle contract admits), every product/divide a pinned
    * literal sequence mirrored by the SQL; true counts exact
    * BIGINTs.
    *
    * 100 TB shape: one |sources|-key exact count (map-side combined)
    * and a 3-way literal explode over the resulting dim-sized frame
    * — the mechanism itself is corpus-scale-free, as a DP release
    * must be (noise depends only on ε, never on the data).
    */
  def dpLaplace(spark: SparkSession, dir: String): DataFrame = {
    val ln = graft.functions.MathFunctions.ln _
    val eps = explode(array(
      struct(lit("e01").as("tag"), lit(0.1).as("eps")),
      struct(lit("e1").as("tag"), lit(1.0).as("eps")),
      struct(lit("e10").as("tag"), lit(10.0).as("eps")))).as("e")
    Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("true_count"))
      .select(col("source"), col("true_count"), eps)
      .select(col("source"), col("e.eps").as("eps"), col("true_count"), {
        val u = graft.operators.TextAnalysis.hv60(
          concat(lit("dp:"), col("source"), lit(":"), col("e.tag")))
          .cast("double") / lit(1152921504606846976.0)
        val v = u - lit(0.5)
        val b = lit(1.0) / col("e.eps")
        ((-b) * signum(v) * ln(lit(1.0) - lit(2.0) * abs(v))).as("noise")
      })
      .select(col("source"), col("eps"), col("true_count"), col("noise"),
        (col("true_count").cast("double") + col("noise")).as("released"),
        when(abs(col("noise")) <= (lit(1.0) / col("eps")) * ln(lit(20.0)), 1)
          .otherwise(0).as("within_95"))
      .orderBy("source", "eps")
  }

  /** t-closeness audit (q322): completes the release-gate triad —
    * q280's k-anonymity bounds group SIZE, q315's l-diversity bounds
    * sensitive-value COUNT, but a size-k group with l distinct langs
    * still leaks if its lang DISTRIBUTION diverges from the corpus
    * (skewness attack, Li et al. ICDE'07).  Same QI cells as q315
    * (source, 100-char band), sensitive attribute lang; per cell the
    * variational distance to the global lang distribution,
    * TV = ½ Σ_i |c_i/n_c − g_i/N|, tested against t ∈
    * {0.15, 0.25, 0.4} — entirely in cross-multiplied exact-integer
    * form: 2·t·n_c·N < Σ_i |c_i·N − g_i·n_c|, with t's rational form
    * (3/20, 1/4, 2/5) folded into the literals so no float ever
    * enters a comparison.  Langs ABSENT from a cell contribute
    * g_i·n_c, folded in closed form as (N − Σ_present g_i)·n_c — the
    * full-domain sum without a domain-spine join.
    *
    * 100 TB shape: the q315 shape plus one broadcast — (QI, lang)
    * counts (bounded by |sources|×|bands|×|langs|), a |langs|-row
    * broadcast of global counts, one keyed aggregate back to cells,
    * then a 3-way literal explode over the broadcast-sized cell
    * table.  The corpus is read once.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cellLang = Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), expr("n_chars div 100").as("band"), col("lang"))
        .groupBy("source", "band", "lang")
        .agg(count(lit(1)).as("c")))
    val cells = cellLang.groupBy("source", "band").agg(sum(col("c")).as("n_c"))
    val globalLang = cellLang.groupBy("lang").agg(sum(col("c")).as("g"))
    val grand = cellLang.agg(sum(col("c")).as("nn"))
    // per (cell, present-lang) row: |c_i·N − g_i·n_c|; absent langs
    // folded in closed form below as (N − Σ_present g_i)·n_c
    val scored = Pins.eager(
      cellLang
        .join(broadcast(globalLang), Seq("lang"))
        .join(broadcast(cells), Seq("source", "band"))
        .crossJoin(broadcast(grand))
        .groupBy("source", "band", "nn", "n_c")
        .agg(sum(abs(col("c") * col("nn") - col("g") * col("n_c")))
            .as("tv_present"),
          sum(col("g")).as("g_present"))
        .select(col("source"), col("band"), col("nn"), col("n_c"),
          (col("tv_present") + (col("nn") - col("g_present")) * col("n_c"))
            .as("tv_num")))
    // t as exact rationals: t = tn/td; violation iff
    // td·tv_num > 2·tn·n_c·N
    scored
      .select(col("source"), col("band"), col("nn"), col("n_c"), col("tv_num"),
        explode(array(
          struct(lit(0.15).as("t"), lit(3L).as("tn"), lit(20L).as("td")),
          struct(lit(0.25).as("t"), lit(1L).as("tn"), lit(4L).as("td")),
          struct(lit(0.40).as("t"), lit(2L).as("tn"), lit(5L).as("td")))).as("tt"))
      .groupBy(col("tt.t").as("t"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("tt.td") * col("tv_num")
          > lit(2L) * col("tt.tn") * col("n_c") * col("nn"), 1L)
          .otherwise(0L)).as("n_violating"),
        sum(when(col("tt.td") * col("tv_num")
          > lit(2L) * col("tt.tn") * col("n_c") * col("nn"), col("n_c"))
          .otherwise(0L)).as("docs_at_risk"),
        sum(col("n_c")).as("n_docs"))
      .select(col("t"), col("n_groups"), col("n_violating"), col("docs_at_risk"),
        when(col("n_docs") === 0L, lit(null).cast("double"))
          .otherwise(col("docs_at_risk").cast("double") / col("n_docs").cast("double"))
          .as("risk_rate"))
      .orderBy("t")
  }

  /** Fully-replayed HyperLogLog (q323): the q273 discipline applied
    * to the OTHER workhorse sketch — q33 audits Spark's built-in
    * approx_count_distinct against an exact recount, but here the
    * sketch itself is replayed register-for-register in both engines:
    * m = 64 registers (p = 6) over the shared 60-bit token hash,
    * register j = hv mod 64, rho = leading-zero rank of the remaining
    * 54-bit suffix (w = hv div 64; rho = 55 − bitlen(w), bitlen via
    * the exact base-2 string length — no transcendental near a
    * boundary), M_j = max rho.  The Flajolet et al. estimator runs in
    * exact-integer form until ONE terminal divide: Σ_j 2^(−M_j) is
    * scaled to S = Σ_j 2^(55−M_j) (every term ≤ 2^54, 64 terms <
    * 2^61 — exact BIGINT), then E = α₆₄·m²·2^55 / S with
    * α₆₄ = 0.709; the small-range branch (E ≤ 2.5m and empty
    * registers exist) switches to linear counting m·ln(m/V) via
    * GraftLn, the one admitted transcendental.  Output is the full
    * 64-row register table (the cross-engine contract: every M_j
    * hash-matches) plus the estimate, the exact distinct count, and
    * a 3σ flag (σ = 1.04/√64 ≈ 13%).
    *
    * 100 TB shape: M_j = max per register is associative — partial
    * aggregation collapses each partition to ≤64 rows before the
    * shuffle, the same mergeable-summary scaling as q272/q273; the
    * register spine is a 64-row literal sequence so silent registers
    * still appear (M = 0).  The exact recount alongside is the
    * audit's deliberate price; production ships the sketch alone.
    */
  def hllReplay(spark: SparkSession, dir: String): DataFrame = {
    val hv = Pins.eager(
      tokenStream(spark, dir)
        .select(graft.operators.TextAnalysis.hv60(col("token")).as("hv"),
          col("token")))
    // rho of the 54-bit suffix: 55 - bitlen(w); w = 0 (all-zero
    // suffix) has rho = 55 by convention (L + 1)
    val w = expr("hv div 64")
    val rho = when(w === 0L, lit(55L))
      .otherwise(lit(55L) - length(conv(w.cast("string"), 10, 2)).cast("long"))
    val regs = hv
      .select(pmod(col("hv"), lit(64L)).as("register"), rho.as("rho"))
      .groupBy("register").agg(max(col("rho")).as("m_j"))
    val spine = Pins.eager(
      spark.range(0, 64).select(col("id").as("register"))
        .join(regs, Seq("register"), "left")
        .na.fill(0L, Seq("m_j")))
    val sAndV = spine.agg(
      sum(expr("shiftleft(1L, cast(55 - m_j as int))")).as("s"),
      sum(when(col("m_j") === 0L, 1L).otherwise(0L)).as("v"))
    val exact = hv.agg(countDistinct(col("token")).as("exact_distinct"))
    val twoPow55 = 36028797018963968.0 // 2^55, exact double
    val est = sAndV.crossJoin(exact)
      .select(col("s"), col("v"), col("exact_distinct"), {
        val raw = ((lit(0.709) * lit(4096.0)) * lit(twoPow55)) /
          col("s").cast("double")
        when(raw <= lit(160.0) && col("v") > 0L,
          lit(64.0) * graft.functions.MathFunctions.ln(
            lit(64.0) / col("v").cast("double")))
          .otherwise(raw).as("hll_est")
      })
      .select(col("exact_distinct"), col("hll_est"),
        // 3σ band, σ = 1.04/√64: |est − n| ≤ 0.39·n, cross-multiplied
        // to exact-integer-vs-double on ONE pinned product
        when(abs(col("hll_est") - col("exact_distinct").cast("double"))
          <= lit(0.39) * col("exact_distinct").cast("double"), 1)
          .otherwise(0).as("within_3sigma"))
    spine.crossJoin(broadcast(est))
      .select(col("register"), col("m_j"), col("exact_distinct"),
        col("hll_est"), col("within_3sigma"))
      .orderBy("register")
  }

  /** HLL mergeability certification (q333): the distributed-systems
    * property q323 relies on but does not PROVE — per-source register
    * tables, max-merged across sources, must equal the whole-corpus
    * registers bit-for-bit (max is associative and commutative, so a
    * 1000-executor tree-reduce of partial sketches is exact).  The
    * q235 incremental-merge certification pattern applied to the
    * cardinality sketch: both paths are computed independently and
    * the per-register match flags ship as data, alongside how many
    * sources actually touched each register.
    *
    * Determinism: registers are exact integer maxima of the shared
    * 60-bit hash's rho ranks (the q323 algebra verbatim); the merge
    * is a second max — order-free by the same associativity being
    * certified.
    *
    * 100 TB shape: ONE (source, register)-keyed max off the token
    * scan (map-side combined to ≤64 rows per source per partition),
    * then register-keyed maxima over the |sources|×64 frame — the
    * exact shape of a per-shard sketch build + coordinator merge.
    */
  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    val hv = Pins.eager(
      tokenStream(spark, dir)
        .select(col("source"),
          graft.operators.TextAnalysis.hv60(col("token")).as("hv")))
    val w = expr("hv div 64")
    val rho = when(w === 0L, lit(55L))
      .otherwise(lit(55L) - length(conv(w.cast("string"), 10, 2)).cast("long"))
    val perSource = hv
      .select(col("source"), pmod(col("hv"), lit(64L)).as("register"),
        rho.as("rho"))
      .groupBy("source", "register").agg(max(col("rho")).as("m_s"))
    val merged = perSource.groupBy("register")
      .agg(max(col("m_s")).as("m_merged"),
        count(lit(1)).as("n_sources_hit"))
    val direct = hv
      .select(pmod(col("hv"), lit(64L)).as("register"), rho.as("rho"))
      .groupBy("register").agg(max(col("rho")).as("m_direct"))
    spark.range(0, 64).select(col("id").as("register"))
      .join(merged, Seq("register"), "left")
      .join(direct, Seq("register"), "left")
      .na.fill(0L, Seq("m_merged", "n_sources_hit", "m_direct"))
      .select(col("register"), col("m_merged"), col("m_direct"),
        col("n_sources_hit"),
        when(col("m_merged") === col("m_direct"), 1).otherwise(0)
          .as("merge_matches"))
      .orderBy("register")
  }

  /** Simpson's-paradox detector (q326): the aggregation-honesty audit
    * next to q314's CMH — CMH asks "is there an effect after
    * stratification?", this asks the prior question a dashboard
    * silently gets wrong: does the POOLED A/B direction agree with
    * the per-stratum directions, or is the pooled table an artifact
    * of imbalanced allocation across strata (Simpson 1951)?  Arms are
    * the q286/q314 reproducibility contract (hv60('ab:' ∥ user_id)
    * mod 2), outcome = converted (any purchase), strata = 10-event
    * user activity bands (n_events div 10) — activity is the
    * textbook confounder: heavier users convert more AND hash splits
    * are only balanced in expectation, not per band.
    *
    * Directions are cross-multiplied exact integers — sign(x_b·n_a −
    * x_a·n_b) per stratum and pooled — so the flip flags are
    * replay-deterministic; the single rate columns are one terminal
    * divide each, NULL-guarded on empty arms.
    *
    * 100 TB shape: one user-keyed aggregate (conv + activity +
    * stateless arm math), one |strata|-keyed cell rollup, pooled row
    * as a 1-row broadcast back over ≤5 stratum rows.  Nothing global,
    * no window.
    */
  def simpson(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(
        pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)).as("arm"),
        expr("n_ev div 10").as("stratum"), col("conv"))
    val cells = Pins.eager(
      perUser.groupBy("stratum")
        .agg(
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("x_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("x_b")))
    val pooled = cells.agg(
      sum(col("n_a")).as("pn_a"), sum(col("x_a")).as("px_a"),
      sum(col("n_b")).as("pn_b"), sum(col("x_b")).as("px_b"))
    def dir2(xa: Column, na: Column, xb: Column, nb: Column): Column =
      signum((xb * na - xa * nb).cast("double")).cast("int")
    cells.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        when(col("n_a") === 0L, lit(null).cast("double"))
          .otherwise(col("x_a").cast("double") / col("n_a").cast("double"))
          .as("p_a"),
        when(col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(col("x_b").cast("double") / col("n_b").cast("double"))
          .as("p_b"),
        dir2(col("x_a"), col("n_a"), col("x_b"), col("n_b")).as("stratum_dir"),
        dir2(col("px_a"), col("pn_a"), col("px_b"), col("pn_b")).as("pooled_dir"),
        when(dir2(col("x_a"), col("n_a"), col("x_b"), col("n_b"))
            * dir2(col("px_a"), col("pn_a"), col("px_b"), col("pn_b")) === -1, 1)
          .otherwise(0).as("flips"))
      .orderBy("stratum")
  }

  /** Raking / iterative proportional fitting (q328): the calibration-
    * weighting primitive every subsampled corpus release needs — a
    * 10% hash sample (hv60('raking:' ∥ doc_id) mod 10 = 0, the q274
    * reproducibility contract) is reweighted so its WEIGHTED
    * (source × lang) table matches BOTH full-corpus marginals, by two
    * full IPF rounds (Deming & Stephan 1940): scale every cell weight
    * by target/achieved on the source margin, then on the lang
    * margin, twice.
    *
    * Determinism: the q321 quantization discipline per half-step —
    * weights live as wq = w·10⁶ BIGINTs, each achieved marginal
    * M = Σ n·wq is an exact BIGINT, and the update is ONE pinned
    * sequence wq' = floor(wq · ((T·10⁶)/M) + ½) — so all four
    * half-steps replay bit-for-bit.  Sources/langs absent from the
    * sample simply have no cells (their targets are unreachable —
    * the honesty of calibration, documented, not papered over).
    *
    * 100 TB shape: the corpus is scanned twice (sample cells +
    * marginal targets, each one keyed aggregate); all four IPF
    * half-steps then run on the |sources|×|langs| cell frame with
    * broadcast marginal joins — dimension-sized work at any corpus
    * scale, the reason raking (not per-row optimization) is the
    * production calibration method.
    */
  /** q345: corpus-mixing budget allocation by largest-remainder
    * apportionment (Hamilton's method) — given a total token budget B
    * for the next training mix, allocate per-source quotas
    * proportional to each source's token mass, in EXACT integers: no
    * floating-point shares, no rounding drift, Σ alloc = B by
    * construction.  base_s = ⌊B·w_s / W⌋; the R = B − Σ base leftover
    * units go to the R largest remainders (B·w_s mod W, ties to the
    * lexicographically smaller source — fully deterministic).  This is
    * the dataset-mixing step that turns weights (here: measured token
    * mass; any exact-integer quality weight slots in) into the
    * sampling quotas a 100 TB mix job executes.
    *
    * 100 TB shape: one token-count rollup (map-side combined) to a
    * |sources|-row frame; the apportionment is a keyed window over
    * that bounded frame (the bounded-frame exception).  B·w_s stays
    * exact: B = 10⁶ and w < 2⁶³/10⁶ at any shipped scale; a 10¹⁸-token
    * corpus moves the product to DECIMAL(38,0) unchanged.
    */
  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Tables.documents(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("tok"))
      .groupBy("source").agg(sum(col("tok")).as("w"))
    val tot = w.agg(sum(col("w")).as("wt"))
    val scored = w.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * w) div wt"))
      .withColumn("rem", expr(s"($budget * w) % wt"))
    val r = scored
      .crossJoin(broadcast(scored.agg(
        (lit(budget) - sum(col("base"))).as("leftover"))))
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
    r.select(col("source"), col("w").as("tokens"), col("base"), col("rem"),
        (col("base") + when(col("rrank") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }

  /** q349: the pipeline YIELD report — the headline table every
    * curation run publishes: how many documents and tokens survive
    * each successive gate (raw → language → length → exact-dup
    * survivor → fingerprint survivor).  Stages are cumulative (each
    * applies on top of the previous), survivors are the deterministic
    * min-doc_id rule the dedup tier already uses, and each stage row
    * carries its own doc/token mass plus the retention fraction
    * against RAW — the number a 100 TB run quotes when asked "where
    * did the data go?".
    *
    * 100 TB shape: one corpus scan feeds per-doc (lang, n_tok, md5,
    * fingerprint); the two survivor stages are keyed min-aggregates
    * joined back by hash — the q19/q20 shapes — and the report is a
    * 5-row union of 1-row aggregates.  Nothing all-pairs, nothing
    * collected.
    */
  def pipelineYield(spark: SparkSession, dir: String,
      minTok: Int = 50): DataFrame =
    yieldGates(spark, dir, minTok, lastGate = 4)

  /** q353: the yield report v2 — q349's five gates plus the stage a
    * real curation run prices LAST: the ExactSubstr CUT (q351's
    * capped composition) applied WITHIN the fingerprint-survivor
    * corpus.  The cut drops no documents by itself — it removes the
    * doc_b-side copies of duplicated spans — so gate 5's token mass
    * is the Σ n_kept of the capped cut over the stage-4 survivors,
    * and its doc count keeps documents with ≥1 surviving token (a
    * fully-cut document is gone from the shipped corpus).  Retention
    * still reads against RAW; monotonicity extends through stage 5
    * (the cut can only remove tokens from stage 4's mass).
    *
    * 100 TB shape: stages 0-4 are q349's single-scan discipline; the
    * cut stage rides q351's df-capped anchor join over the ALREADY
    * REDUCED survivor corpus — the pipeline order is itself the scale
    * lever (dedup before span-cut shrinks the anchor index), and the
    * cap bounds what remains.
    */
  def yieldV2(spark: SparkSession, dir: String,
      minTok: Int = 50): DataFrame =
    yieldGates(spark, dir, minTok, lastGate = 5)

  /** q363: the yield report v3 — the funnel a curation run actually
    * signs off on, ENDING where the shipped-artifact decisions end:
    * gate 5 (the q351 capped span cut, as in v2) and gate 6, the
    * DECONTAMINATION a benchmark-honest training corpus prices last
    * (the q358/q340 rule applied to the TRAINING side): the
    * hash-designated eval slice leaves the training corpus entirely
    * (it is the benchmark, not training data), and every remaining
    * document is redacted where one of its 8-grams appears in the
    * eval slice — gate 6's token mass is what is left to train on.
    *
    * Gate 6 cuts the UNION of the gate-5 spans and the eval-hit spans
    * on the eval-free survivor corpus, so monotonicity extends through
    * stage 6 by construction (fewer docs, a superset of cut positions
    * each).
    *
    * 100 TB shape: gates 0-4 are the single-scan q349 discipline;
    * gate 5 rides the df-capped anchors over the already-reduced
    * survivor corpus; gate 6's hit test is a LEFT-SEMI on the gram
    * key — fan-out ≤ 1 by definition (the q340 argument), the eval
    * gram set is ~10%-of-corpus-sized, and the position union is a
    * distinct on (doc, pos) — nothing all-pairs anywhere.
    */
  def yieldV3(spark: SparkSession, dir: String,
      minTok: Int = 50): DataFrame =
    yieldGates(spark, dir, minTok, lastGate = 6)

  /** The one yield builder: gates 0 through `lastGate` (4, 5 or 6),
    * each row with its doc/token mass and the retention fractions
    * against RAW.
    *
    * Gates 0-4 are CUMULATIVE, so no gate re-derives its filter/join
    * chain from the pinned base:
    *   - stages 0-2 are conditional masses over base: ONE 1-row
    *     aggregate (guide §2.3 — aggregate, don't re-scan);
    *   - the survivor stages become per-row flags via keyed
    *     min-windows (doc_id = min(doc_id) per h is EXACTLY the
    *     min-survivor rule; doc_ids are unique, so `doc_id =
    *     min(CASE WHEN k3 THEN doc_id END) per fp` both restricts to
    *     exact-survivors and picks the fp survivor) — one exchange
    *     per dedup key instead of a groupBy + join-back pair, and
    *     stages 3-4 read off ONE more 1-row aggregate;
    *   - the five rows inflate from the two 1-row frames with one
    *     explode(array(struct…)) — no union branches at all.
    *
    * Gates 5-6 count cut POSITIONS per survivor instead of rebuilding
    * its text: span positions always lie inside [0, n_tok), so
    * n_kept = n_tok − |cut positions| is the cut's kept-token count,
    * and the report never ships text.  Batch28Spec pins gate 5 to the
    * text-rebuilding cut (`Dedup.exactSubstrCutFromTokens`).
    */
  private def yieldGates(spark: SparkSession, dir: String,
      minTok: Int, lastGate: Int): DataFrame = {
    val base = Pins.eager(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(col("text")).as("h"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp")))
    val isEn = col("lang") === "en"
    val isLen = col("n_tok") >= minTok
    val s012 = base.agg(
      count(lit(1)).as("n0"), coalesce(sum(col("n_tok")), lit(0L)).as("t0"),
      count(when(isEn, lit(1))).as("n1"),
      coalesce(sum(when(isEn, col("n_tok"))), lit(0L)).as("t1"),
      count(when(isEn && isLen, lit(1))).as("n2"),
      coalesce(sum(when(isEn && isLen, col("n_tok"))), lit(0L)).as("t2"))
    val flagged0 = base.filter(isEn && isLen)
      .withColumn("k3",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy("h")))
      .withColumn("k4",
        col("doc_id") === min(when(col("k3"), col("doc_id")))
          .over(Window.partitionBy("fp")))
      .select(col("doc_id"), col("n_tok"), col("k3"), col("k4"))
    // gates after 4 read the survivors again, down paths where AQE may
    // BROADCAST the survivor id set: eager pin (the util/Pins lazy-pin
    // rule); q349 reads them once inside its single action, no pin job
    val flagged = if (lastGate > 4) Pins.eager(flagged0) else flagged0
    val s34 = flagged.agg(
      count(when(col("k3"), lit(1))).as("n3"),
      coalesce(sum(when(col("k3"), col("n_tok"))), lit(0L)).as("t3"),
      count(when(col("k4"), lit(1))).as("n4"),
      coalesce(sum(when(col("k4"), col("n_tok"))), lit(0L)).as("t4"))
    def g(stage: Int, name: String, n: String, t: String) =
      struct(lit(stage).as("stage"), lit(name).as("gate"),
        col(n).as("n_docs"), col(t).as("n_tokens"))
    // broadcast the 1-row survivor masses: the flagged side is a
    // checkpointed RDD with unknown stats, and an unhinted crossJoin
    // of it planned a CartesianProduct (Batch28Spec's no-all-pairs pin)
    val five = s012.crossJoin(broadcast(s34))
      .select(explode(array(
        g(0, "raw", "n0", "t0"),
        g(1, "lang_en", "n1", "t1"),
        g(2, s"len_ge_$minTok", "n2", "t2"),
        g(3, "exact_dedup", "n3", "t3"),
        g(4, "fingerprint_dedup", "n4", "t4"))).as("gr"))
      .select(col("gr.stage").as("stage"), col("gr.gate").as("gate"),
        col("gr.n_docs").as("n_docs"), col("gr.n_tokens").as("n_tokens"))
    val all = if (lastGate == 4) five else {
      // the survivor frame carries n_tok from the PINNED base, so the
      // kept counts need no recount; the survivors are tokenized ONCE
      // for gate 5's 5-grams and gate 6's train-side 8-grams
      val s4 = flagged.filter(col("k4")).select(col("doc_id"), col("n_tok"))
      val tw = Dedup.pinnedTokens(Tables.documents(spark, dir)
        .join(s4.select("doc_id"), "doc_id"))
      val (kept5, _) = Dedup.cappedGramsAndAccounting(
        Dedup.positionalGramsFromTokens(tw, 5), 16)
      // repartition(doc_id) before the distinct (guide §2.4): one
      // doc_id exchange serves the dedup, both keptOf rollups and the
      // trainIds join
      val cut5 = Dedup.spanPositions(Dedup.exactSubstrSpansFrom(kept5, 5, 12))
        .repartition(col("doc_id")).distinct()
      def keptOf(cut: DataFrame, docs: DataFrame): DataFrame =
        docs.join(cut.groupBy("doc_id").agg(count(lit(1)).as("n_cutpos")),
            Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_cutpos"))
          .select(col("doc_id"), (col("n_tok") - col("n_cutpos")).as("n_kept"))
      def gate(stage: Int, name: String, kept: DataFrame): DataFrame =
        kept.filter(col("n_kept") >= 1L)
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_kept")), lit(0L)).as("n_tokens"))
          .select(lit(stage).as("stage"), lit(name).as("gate"),
            col("n_docs"), col("n_tokens"))
      val six = five.unionByName(gate(5, "substr_cut", keptOf(cut5, s4)))
      if (lastGate == 5) six else {
        // gate 6: the q358 designation — eval docs out, eval-hit spans cut
        val trainTw = tw.filter(!Dedup.isEval)
        val hit8 = Dedup.hitSpans(trainTw,
          Dedup.tokenized(Tables.documents(spark, dir).filter(Dedup.isEval)), 8)
        val trainIds = trainTw.select("doc_id")
        val cut6 = cut5.join(trainIds, "doc_id")
          .unionByName(Dedup.spanPositions(hit8))
          .repartition(col("doc_id")).distinct()
        six.unionByName(
          gate(6, "decontam", keptOf(cut6, s4.join(trainIds, "doc_id"))))
      }
    }
    val raw = base.agg(count(lit(1)).as("raw_docs"),
      sum(col("n_tok")).as("raw_tokens"))
    all.crossJoin(broadcast(raw))
      .select(col("stage"), col("gate"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("raw_docs").cast("double"))
          .as("doc_retention"),
        (col("n_tokens").cast("double") / col("raw_tokens").cast("double"))
          .as("token_retention"))
      .orderBy("stage")
  }

  /** q350: the q345 mixture EXECUTED — turn each source's token quota
    * into an actual document sample: documents are hash-ranked within
    * their source (hv60("mx:"‖doc_id), the deterministic shuffle every
    * sampler here uses) and taken greedily in that order while the
    * running token total stays within the source's Hamilton quota.
    * Output per source: the quota, documents chosen, tokens packed,
    * and utilization — the manifest a mixing job would hand to the
    * reader.
    *
    * 100 TB shape: the greedy prefix is a source-KEYED window
    * cumulative sum (partitions are per-source — never global), over
    * the same single corpus scan; the quota table is |sources| rows
    * broadcast.  A doc whose inclusion would cross the quota is
    * excluded (strict ≤ packing — conservative, deterministic).
    */
  def mixtureSample(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = tokenBudget(spark, dir, budget)
      .select(col("source"), col("alloc"))
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("tok"),
        graft.operators.TextAnalysis.hv60(
          concat(lit("mx:"), col("doc_id").cast("string"))).as("hv"))
    val w = Window.partitionBy("source").orderBy(col("hv").asc, col("doc_id").asc)
    val packed = docs
      .withColumn("cum", sum(col("tok")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(quotas), "source")
      .filter(col("cum") <= col("alloc"))
    // LEFT from the quota table: a source whose quota admits nothing
    // still reports its zero row (no-silent-caps)
    quotas.join(
        packed.groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("packed_tokens")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_docs", "packed_tokens"))
      .select(col("source"), col("alloc").as("quota_tokens"), col("n_docs"),
        col("packed_tokens"),
        when(col("alloc") === 0L, lit(null).cast("double"))
          .otherwise(col("packed_tokens").cast("double")
            / col("alloc").cast("double")).as("utilization"))
      .orderBy("source")
  }

  /** q359: the SHARD PLAN — the layout step between q350's mixture
    * sample and the writer: documents in the deterministic hash order
    * (hv60("sh:"‖doc_id), the house shuffle) are assigned to
    * fixed-token-budget shards by their exact global cumulative token
    * offset: shard = ⌊(cum − tok) / S⌋ — a document belongs to the
    * shard where it STARTS; documents are never split; every shard
    * except the last carries ≥ S tokens minus one trailing document.
    * Output per shard: docs, token mass, and the fill fraction
    * against the budget (one terminal divide) — the manifest a
    * distributed writer turns into files.
    *
    * 100 TB shape: the global cumulative token sum is GlobalPrefix's
    * (NO single-partition window at any scale); the rollup is one
    * keyed aggregate on shard id.
    */
  def shardPlan(spark: SparkSession, dir: String,
      shardTokens: Long = 20000L): DataFrame =
    shardAssignments(spark, dir, shardTokens)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / lit(shardTokens.toDouble))
          .as("fill_frac"))
      .orderBy("shard")

  /** The per-document shard assignment q359 aggregates and q362
    * writes: exact global token cumsum in the deterministic hash
    * order (GlobalPrefix over 32 range partitions, eager pin), then
    * shard = ⌊(cum − tok) / S⌋.
    */
  private[graft] def shardAssignments(spark: SparkSession, dir: String,
      shardTokens: Long): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("tok"),
      graft.operators.TextAnalysis.hv60(
        concat(lit("sh:"), col("doc_id").cast("string"))).as("hv"))
    GlobalPrefix(docs, 32, eager = true, keys = Nil,
        order = Seq(col("hv").asc, col("doc_id").asc))(GlobalPrefix.Running("cum", Some("tok")))
      .withColumn("shard", expr(s"(cum - tok) div $shardTokens"))
      .select(col("doc_id"), col("tok"), col("shard"))
  }

  /** q362: the shard plan EXECUTED — q359 emits the manifest; this
    * writes it and proves the files are the manifest.  The assignment
    * frame lands as one parquet file per shard (the q233
    * one-file-per-partition discipline: `repartition(shard)` before
    * `partitionBy(shard)`, so a 1000-executor run produces |shards|
    * files, not |shards|×|tasks| slivers), is read BACK from disk,
    * and the gate joins the read-back rollup against the manifest
    * recomputed from source: per shard, doc count, token mass, and
    * the doc-id sum must all round-trip exactly — the three match
    * flags ship as data, and the output's n_docs/n_tokens/id_sum
    * columns come from the FILES, so a lost row, a split document, or
    * a shard written twice breaks the values as well as the flags.
    *
    * 100 TB shape: the write is token-budget-balanced BY CONSTRUCTION
    * (every shard holds ~S tokens — the q359 start-offset rule), so
    * file sizes are uniform regardless of document skew; the
    * verification is two |shards|-key rollups and a broadcast-sized
    * join.  The read-back scan prunes to the three written columns.
    */
  def shardWrite(spark: SparkSession, dir: String,
      shardTokens: Long = 20000L): DataFrame =
    // the rollup is |shards|-row bounded; localize so the bracket can
    // delete the written shards instead of leaking them past the lazy read
    graft.util.Fs.withTempDir("shard") { tmp =>
      graft.util.Fs.localize(spark, shardWriteTo(spark, dir, tmp.toString, shardTokens))
    }

  /** The write → read-back → gate body, split out so the spec can
    * inspect the on-disk layout (one data file per shard directory)
    * before cleanup.
    */
  private[graft] def shardWriteTo(spark: SparkSession, dir: String,
      tmp: String, shardTokens: Long): DataFrame = {
    val asg = Pins.eager(shardAssignments(spark, dir, shardTokens))
    asg.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    val back = spark.read.parquet(tmp)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"))
    val manifest = asg.groupBy("shard")
      .agg(count(lit(1)).as("m_docs"), sum(col("tok")).as("m_tokens"),
        sum(col("doc_id")).as("m_ids"))
    back.join(manifest, Seq("shard"))
      // partition-column type inference reads `shard=N` back as INT;
      // the manifest (and the oracle) carry BIGINT — pin the type
      .select(col("shard").cast("long").as("shard"),
        col("n_docs"), col("n_tokens"), col("id_sum"),
        when(col("n_docs") === col("m_docs"), 1).otherwise(0).as("docs_match"),
        when(col("n_tokens") === col("m_tokens"), 1).otherwise(0)
          .as("tokens_match"),
        when(col("id_sum") === col("m_ids"), 1).otherwise(0).as("ids_match"))
      .orderBy("shard")
  }

  def raking(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cells0 = Pins.eager(
      docs.filter(pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("raking:"), col("doc_id").cast("string"))), lit(10L)) === 0L)
        .groupBy("source", "lang").agg(count(lit(1)).as("n")))
    val srcT = Pins.eager(docs.groupBy("source").agg(count(lit(1)).as("t")))
    val langT = Pins.eager(docs.groupBy("lang").agg(count(lit(1)).as("t")))
    def halfStep(cells: DataFrame, margin: String, targets: DataFrame): DataFrame = {
      val m = cells.groupBy(margin).agg(sum(col("n") * col("wq")).as("mm"))
      cells.join(broadcast(m), Seq(margin))
        .join(broadcast(targets), Seq(margin))
        .select(col("source"), col("lang"), col("n"),
          floor(col("wq").cast("double")
            * ((col("t").cast("double") * lit(1.0e6)) / col("mm").cast("double"))
            + lit(0.5)).cast("long").as("wq"))
    }
    var cells = cells0.withColumn("wq", lit(1000000L))
    for (_ <- 1 to 2) {
      cells = halfStep(cells, "source", srcT).localCheckpoint(false)
      cells = halfStep(cells, "lang", langT).localCheckpoint(false)
    }
    val achieved = cells.groupBy("source").agg(sum(col("n") * col("wq")).as("ms"))
    cells.join(broadcast(achieved), Seq("source"))
      .join(broadcast(srcT), Seq("source"))
      .select(col("source"), col("lang"), col("n").as("n_sample"), col("wq"),
        (col("wq").cast("double") / lit(1.0e6)).as("w"),
        col("t").as("src_target"),
        (col("ms").cast("double") / lit(1.0e6)).as("src_achieved"))
      .orderBy("source", "lang")
  }

  /** Erasure-cascade impact statement (q329): the right-to-be-
    * forgotten twin of q305's dedup ledger — before deleting a
    * hash-designated 5% of customers (hv60('forget:' ∥ c_custkey)
    * mod 20 = 0, the replayable-designation contract), price the
    * referential cascade: per nation, how many customers go, how
    * many orders and line items they drag with them, and how much
    * revenue mass leaves the fact table.  The report a deletion job
    * signs off against, and the shape of every FK-cascade audit.
    *
    * Determinism: counts exact BIGINTs; revenue through the q01/q02
    * DECIMAL(18,4) exact-sum-then-one-cast discipline.
    *
    * 100 TB shape: the designation is stateless per-row math; the
    * cascade is the schema's own FK chain — customer⋈orders on
    * custkey, ⋈lineitem on orderkey, both natural equi-joins —
    * finished by one |nations|-key rollup and a broadcast nation-name
    * attach.  No new shuffle beyond what any fact query pays.
    */
  def erasureCascade(spark: SparkSession, dir: String): DataFrame = {
    val dec4 = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        (pmod(graft.operators.TextAnalysis.hv60(
          concat(lit("forget:"), col("c_custkey").cast("string"))), lit(20L))
          === 0L).as("forget"))
    val custStats = cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("forget"), 1L).otherwise(0L)).as("n_forgotten"))
    // lineitem attaches by LEFT join: an order with no line items is
    // still a cascaded deletion (the fixture, unlike strict TPC-H,
    // ships such orders — caught by the Batch21Spec recount)
    val cascade = cust.filter(col("forget"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("c_nationkey")
      .agg(countDistinct(col("o_orderkey")).as("n_orders_cascade"),
        count(col("l_orderkey")).as("n_lineitems_cascade"),
        coalesce(sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double"), lit(0.0)).as("revenue_removed"))
    custStats.join(cascade, Seq("c_nationkey"), "left")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .select(col("n_name").as("nation"), col("n_customers"), col("n_forgotten"),
        coalesce(col("n_orders_cascade"), lit(0L)).as("n_orders_cascade"),
        coalesce(col("n_lineitems_cascade"), lit(0L)).as("n_lineitems_cascade"),
        coalesce(col("revenue_removed"), lit(0.0)).as("revenue_removed"))
      .orderBy("nation")
  }

  /** Erasure cascade EXECUTED (q365): q329 prices the deletion; this
    * performs it and proves the books balance.  The kept tables are
    * built GENUINELY by referential anti-joins (customers minus the
    * hash-designated forget set; orders LEFT-SEMI the kept customers;
    * line items LEFT-SEMI the kept orders — the shape a real GDPR
    * deletion job ships, FK-consistent BY CONSTRUCTION), and per
    * nation the query reconciles executed-vs-priced: kept + cascade
    * must equal the pre-deletion total for customers, orders, line
    * items, AND revenue — the revenue check in EXACT DECIMAL(18,4)
    * before the one terminal cast, so a single lost or doubled line
    * item flips a flag and breaks the hash.
    *
    * 100 TB shape: the cascade is two semi-joins down the schema's
    * own FK chain (custkey, orderkey — natural equi-joins, no new
    * shuffle class); the reconciliation re-uses the q329 rollup plus
    * one kept-side rollup per table, all |nations|-keyed.  The flags
    * are computed on the Spark side from independent aggregates —
    * nothing is assumed.
    */
  def erasureExec(spark: SparkSession, dir: String): DataFrame = {
    val dec4 = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val forget = pmod(graft.operators.TextAnalysis.hv60(
      concat(lit("forget:"), col("c_custkey").cast("string"))), lit(20L)) === 0L
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), forget.as("forget"))
    val forgotten = cust.filter(col("forget")).select("c_custkey")
    val keptCust = cust.join(forgotten, Seq("c_custkey"), "left_anti")
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val keptOrders = orders.join(
      keptCust.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_semi")
    val line = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
    val keptLine = line.join(
      keptOrders.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    // per-nation rollups: the KEPT side reads the executed tables
    // themselves (keptCust/keptOrders/keptLine — the deletion's actual
    // output), totals and cascade read the pre-deletion books
    def orderRoll(c: DataFrame, o: DataFrame, l: DataFrame, tag: String) =
      c.select(col("c_custkey"), col("c_nationkey"))
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("c_nationkey")
        .agg(countDistinct(col("o_orderkey")).as(s"${tag}_orders"),
          count(col("l_orderkey")).as(s"${tag}_lines"),
          coalesce(sum(col("rev")), lit(0).cast(
            org.apache.spark.sql.types.DecimalType(18, 4))).as(s"${tag}_rev"))
    val keptRoll = keptCust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust_kept"))
      .join(orderRoll(keptCust, keptOrders, keptLine, "k"),
        Seq("c_nationkey"), "left")
      .na.fill(0L, Seq("k_orders", "k_lines"))
    val totRoll = cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust_total"))
      .join(orderRoll(cust, orders, line, "t"), Seq("c_nationkey"), "left")
      .na.fill(0L, Seq("t_orders", "t_lines"))
    val gone = cust.filter(col("forget")).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust_gone"))
      .join(orderRoll(cust.filter(col("forget")), orders, line, "g"),
        Seq("c_nationkey"), "left")
      .na.fill(0L, Seq("g_orders", "g_lines"))
    val zero4 = lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4))
    keptRoll.join(gone, Seq("c_nationkey"), "left")
      .na.fill(0L, Seq("n_cust_gone", "g_orders", "g_lines"))
      .join(totRoll, Seq("c_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .select(col("n_name").as("nation"),
        col("n_cust_kept"), col("k_orders").as("n_orders_kept"),
        col("k_lines").as("n_lines_kept"),
        coalesce(col("k_rev"), zero4).cast("double").as("revenue_kept"),
        when(col("n_cust_kept") + col("n_cust_gone") === col("n_cust_total"), 1)
          .otherwise(0).as("cust_match"),
        when(col("k_orders") + col("g_orders") === col("t_orders"), 1)
          .otherwise(0).as("orders_match"),
        when(col("k_lines") + col("g_lines") === col("t_lines"), 1)
          .otherwise(0).as("lines_match"),
        when(coalesce(col("k_rev"), zero4) + coalesce(col("g_rev"), zero4)
          === coalesce(col("t_rev"), zero4), 1)
          .otherwise(0).as("revenue_match"))
      .orderBy("nation")
  }
}
