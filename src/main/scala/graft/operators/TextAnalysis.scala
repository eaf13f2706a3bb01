package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis tier over `documents` (SURVEY.md §2.C): corpus stats,
  * token frequencies, language-id, quality scoring.  Pure
  * `functions._` pipelines — single scan, partial+final aggregation,
  * no UDFs — so each query is one codegen'd stage plus one shuffle.
  */
object TextAnalysis {

  /** Per-language corpus statistics, computed from exact integer sums
    * (token counts, char counts) so aggregation order can't perturb the
    * result: avg word length and distinct-token ratio derive from the
    * summed integers, not from averaged doubles.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("lang"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_dist"),
        length(col("text")).cast("long").as("n_char"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        (sum(col("n_dist")).cast("double") / sum(col("n_tok")).cast("double")).as("distinct_ratio"),
        ((sum(col("n_char")) - sum(col("n_tok")) + count(lit(1))).cast("double") / sum(col("n_tok")).cast("double")).as("avg_word_len"))

  /** Global token frequency top-k (explode → groupBy → ordered limit;
    * Spark executes the limit as TakeOrderedAndProject).
    */
  def tokenFrequency(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Language-id confusion matrix: heuristic prediction vs labeled
    * lang.  On synthetic token soup the heuristic mostly answers "und"
    * — the value is the operator shape (cheap codegen'd CASE) and its
    * oracle-checkable determinism.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), langIdHeuristic(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))

  /** Per-source quality scoring: docs below/above a quality threshold
    * and subword-token volume — the filter stage of a training-data
    * pipeline (keep high-quality docs, budget by token count).
    */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("source"),
        qualityScore(col("text")).as("q"),
        subwordCount(col("text")).cast("long").as("n_sub"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("q") >= 0.6, 1L).otherwise(0L)).as("n_high_quality"),
        sum(col("n_sub")).as("total_subwords"))

  /** Deterministic train/valid/test split: the assignment is a pure
    * function of the stable document id hash (md5 hex → first 4 hex
    * digits as an int mod 100), NOT a random sample — re-running on
    * any cluster, any partitioning, any engine lands every document in
    * the same split.  That reproducibility is what a training-data
    * pipeline actually needs from its splitter; `sampleBy` randomness
    * can't give it cross-engine.
    */
  /** Stable md5 hex bucket in [0, 100): 4 hex digits starting at
    * `start` (1-based) of md5(doc_id) — the engine-portable assignment
    * shared by trainSplit/contamination (digits 1-4) and
    * stratifiedSample (digits 5-8, so sampling is independent of the
    * split).  Each use is mirrored by strpos arithmetic in its oracle;
    * keeping ONE definition here is what keeps those mirrors honest.
    */
  private[operators] def md5Bucket(start: Int): Column =
    conv(substring(md5(col("doc_id").cast("string")), start, 4), 16, 10)
      .cast("int") % 100

  def trainSplit(spark: SparkSession, dir: String,
                 trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val bucket = md5Bucket(1)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validPct, "valid")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
  }

  /** Vocabulary coverage: build the top-`vocabSize` token vocabulary
    * (frequency rank with a lexicographic tiebreak), then measure each
    * source's out-of-vocabulary token rate — the vocab-fit feedback a
    * tokenizer-training loop runs on every corpus refresh.  The vocab
    * is a broadcast-sized dimension joined back to the exploded token
    * stream: one aggregation to build, one broadcast join to score.
    */
  def vocabCoverage(spark: SparkSession, dir: String, vocabSize: Int = 20): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
    // the vocabulary IS tokenFrequency's top-k (same ranked-limit shape:
    // TakeOrderedAndProject, never a global rank window)
    val vocab = tokenFrequency(spark, dir, vocabSize).select("token")
    toks.join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("token"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_in_vocab"))
      .select(col("source"), col("n_tokens"), col("n_in_vocab"),
        ((col("n_tokens") - col("n_in_vocab")).cast("double")
          / col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** Per-document repetition metrics (the Gopher-rule family of quality
    * filters): fraction of bigram occurrences that are repeats of an
    * already-seen bigram, and the share taken by the single most
    * frequent bigram.  High values flag boilerplate/spam documents for
    * removal before training.
    *
    * Both doc-keyed aggregations are folded into the native one-pass
    * graft.plans.RepetitionStats expression — the whole query is a
    * shuffle-FREE projection (the r3 exploded formulation shuffled the
    * full bigram stream twice; see repetitionMetricsExploded, kept as
    * the definitional cross-check).  Ratios are int/int divisions in
    * one fixed IEEE op, engine-exact.
    */
  def repetitionMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), repetitionStats(col("text")).as("r"))
      // n_bigrams >= 1 ⇔ the old size(tokens) >= 2 pre-filter, but on
      // the expression's output — one tokenization pass, not two
      .filter(element_at(col("r"), 1) >= 1)
      .select(
        col("doc_id"),
        element_at(col("r"), 1).as("n_bigrams"),
        ((element_at(col("r"), 1) - element_at(col("r"), 2)).cast("double")
          / element_at(col("r"), 1).cast("double")).as("dup_bigram_frac"),
        (element_at(col("r"), 3).cast("double")
          / element_at(col("r"), 1).cast("double")).as("top_bigram_frac"))

  /** The definitional explode → groupBy formulation of
    * repetitionMetrics — two doc-keyed shuffles; kept as the
    * cross-check oracle for the native expression.
    */
  private[graft] def repetitionMetricsExploded(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("bigram"))
    bigrams
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(
        col("doc_id"), col("n_bigrams"),
        ((col("n_bigrams") - col("n_distinct")).cast("double")
          / col("n_bigrams").cast("double")).as("dup_bigram_frac"),
        (col("top_count").cast("double")
          / col("n_bigrams").cast("double")).as("top_bigram_frac"))
  }

  /** Positional tokenization via posexplode — the table-generating
    * (UDTF) surface: one row per (doc, position, token), position
    * 0-based in document order.  Narrow generate, no shuffle; the
    * probe-set filter is pushed to the parquet scan.
    */
  def positionalTokens(spark: SparkSession, dir: String, maxDocId: Long = 20): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))

  /** Benchmark-contamination check: for every held-out (test-split)
    * document, the fraction of its distinct word 3-grams that also
    * appear anywhere in the train split — the overlap audit run before
    * an eval set is trusted.  Splits reuse trainSplit's deterministic
    * md5 buckets, so the check is reproducible on any engine.
    *
    * 100 TB shape: the train shingle set is built with one
    * aggregation (distinct on shingle) and the probe is an equi-join
    * ON the shingle hash key — both shuffle-partitioned by shingle, no
    * all-pairs anything.  The doc-level rollup then shuffles on
    * doc_id.  (An exact check needs the full train set; a df-cap like
    * q45's would bound hot shingles if ever needed.)
    */
  def contamination(spark: SparkSession, dir: String,
                    trainPct: Int = 80, testFrom: Int = 90): DataFrame = {
    val bucket = md5Bucket(1)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), bucket.as("bucket"))
    // native one-pass ShingleSet expression (≡ array_distinct(shingles),
    // proven in VectorExprSpec) instead of the interpreted lambda chain
    def docShingles(df: DataFrame) = df
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        explode(shingleSet(col("text"), 3)).as("shingle"))
    val train = docShingles(docs.filter(col("bucket") < trainPct))
      .select("shingle").distinct()
    val test = docShingles(docs.filter(col("bucket") >= testFrom))
    test.join(train.withColumn("hit", lit(1L)), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
          .as("contamination_rate"))
  }

  /** Source-mixing weights: the per-source sampling multiplier that
    * moves the corpus from its actual token distribution to a uniform
    * target mix — the knob a pretraining data recipe turns ("2× this
    * domain, 0.3× that one").  weight = ideal_tokens / actual_tokens
    * computed as ONE double division over exact integer sums, so the
    * result is engine-exact.  One partial+final aggregation plus a
    * broadcast of the 1-row grand total — nothing here grows with
    * corpus size except the single scan.
    */
  def mixingWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        // a zero-token source would otherwise emit weight = Infinity —
        // a non-finite multiplier downstream samplers can't use; NULL
        // states "no tokens to weight" honestly (mirrored in oracle)
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(col("total_tokens").cast("double")
            / (col("n_sources") * col("n_tokens")).cast("double")).as("weight"))
  }

  /** Quality gate (q74): the filter stage of a data recipe — keep
    * documents that clear BOTH a fixed quality-score floor and a
    * corpus-relative length bar (token count above the corpus mean),
    * and report the surviving budget per source.  The mean is exact
    * (integer sum ÷ count, one IEEE divide) and arrives as a broadcast
    * 1-row frame, so the gate is a single codegen'd scan: nothing
    * grows with corpus size except that scan.  Sources with no
    * survivors drop out (consistent in the oracle).
    *
    * minQ default 0.45: on this corpus the TTR term anti-correlates
    * with length (longer docs repeat more tokens), so a floor near
    * the median is what keeps the intersection non-trivial — 0.55
    * selects only short docs and the gate goes empty.
    */
  def qualityGate(spark: SparkSession, dir: String, minQ: Double = 0.45): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        qualityScore(col("text")).as("q"))
    val stats = d.agg(sum(col("n_tok")).as("tot"), count(lit(1)).as("n"))
    d.crossJoin(broadcast(stats))
      .filter(col("q") >= minQ &&
        col("n_tok").cast("double") > col("tot").cast("double") / col("n").cast("double"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"))
  }

  /** Source-weighted deterministic downsampling (q75): apply a
    * per-source keep percentage (the knob a mixing recipe turns —
    * "keep 25% of this crawl, all of that corpus") using the same
    * stable md5-bucket assignment as trainSplit, but on hex digits
    * 5-8 so sampling is independent of the split.  Rates are a
    * broadcast dimension with a default for unlisted sources; the
    * plan is one broadcast join + filter + aggregate, and membership
    * is reproducible on any engine and any partitioning — a rerun
    * keeps exactly the same documents.
    */
  def stratifiedSample(spark: SparkSession, dir: String,
                       rates: Map[String, Int] = Map("src0" -> 100, "src1" -> 75, "src2" -> 25),
                       defaultPct: Int = 50): DataFrame = {
    import spark.implicits._
    val dim = rates.toSeq.toDF("source", "pct")
    val bucket = md5Bucket(5)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"), bucket.as("b"))
      .join(broadcast(dim), Seq("source"), "left")
      .withColumn("keep", col("b") < coalesce(col("pct"), lit(defaultPct)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("sampled_tokens"))
  }

  /** TF-IDF salient terms (q82): the top-`k` most characteristic
    * tokens of each document — the classic curation signal for topic
    * labeling, keyword extraction and per-domain vocabulary audits.
    * tf and df are exact integer aggregations; the score is
    * tf · ln(N/df) with BOTH factors produced by one fixed IEEE
    * sequence (a divide, a log, a multiply) so ranking order is
    * engine-exact.  The log goes through MathFunctions.ln (libm
    * parity — builtin `ln` is StrictMath and drifts a ulp vs DuckDB).
    *
    * 100 TB shape: tf = one shuffle on (doc_id, token) with map-side
    * combine; df = one shuffle on token (vocab-sized output); the
    * score join is an equi-join ON token between two token-keyed
    * frames; N arrives as a broadcast 1-row frame; the top-k is a
    * doc_id-partitioned row_number (high-cardinality key, no
    * low-cardinality window bottleneck).  Nothing is ever pairwise.
    */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    topTerms(weightedIndex(spark, dir, pin = false), k)

  /** The shared TF-IDF weighted inverted index — ONE tokenize→tf→df
    * pass producing (doc_id, token, tf, df, w, n_docs), consumed by
    * q82 (salient terms), q88 (BM25 probe terms + postings) and q101
    * (all-pairs cosine).  tf and df are exact integer aggregations;
    * w = tf · ln(N/df) with the log through MathFunctions.ln (libm
    * parity) — one fixed IEEE sequence, so every consumer's oracle
    * replays it bit-exactly.
    *
    * `pin = true` EAGERLY materializes the frame via localCheckpoint —
    * required whenever more than one consumer reads it (q88 reads it
    * three times: probe ranking, postings join, dl recount; q101 four
    * times), both to build the index once and because lazy checkpoints
    * materialized from concurrent broadcast-exchange threads deadlock
    * against the DAG scheduler (the r11 pqCodebooks lock cycle —
    * see SCALING.md "Eager checkpoint pins").  Single-consumer q82
    * passes pin = false and stays a pure pipeline.
    *
    * 100 TB shape: tf = one (doc_id, token) shuffle with map-side
    * combine; df = one token shuffle (vocab-sized); the weight join is
    * token-keyed; N arrives as a broadcast 1-row frame.  Build the
    * inverted index once, then every retrieval/similarity stage reads
    * it — never re-tokenize the corpus per consumer.
    */
  def weightedIndex(spark: SparkSession, dir: String, pin: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idx = tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf").cast("double") *
        graft.functions.MathFunctions.ln(
          col("n_docs").cast("double") / col("df").cast("double")))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("w"), col("n_docs"))
    if (pin) graft.util.Pins.eager(idx) else idx
  }

  /** Top-k terms per document by weight over a prebuilt index —
    * doc_id-partitioned row_number (high-cardinality key, no
    * low-cardinality window bottleneck), ties on token.
    */
  private def topTerms(idx: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("token").asc)
    idx.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
        col("w").as("tfidf"))
  }

  /** Bigram-LM fluency score (q83): train an add-one-smoothed bigram
    * language model on the deterministic train split (md5 bucket < 80,
    * exactly q63's assignment) and score every held-out test-split
    * document by its total and per-bigram log-probability — the
    * model-based fluency filter of a curation pipeline (gibberish and
    * boilerplate score far below domain text).
    *
    * p(w2|w1) = (c(w1w2) + 1) / (c(w1) + V), summed in DOCUMENT ORDER
    * via sort_array(collect_list(struct(pos, logp))) + a sequential
    * left fold — a double sum is order-sensitive, and the fold pins
    * the exact IEEE sequence the DuckDB oracle replays (list(... ORDER
    * BY pos) + list_reduce).  Each logp is one divide + one libm log
    * (MathFunctions.ln) of exact integer counts.
    *
    * 100 TB shape: bigram and unigram counts are single shuffles with
    * map-side combine; scoring is two equi-joins ON the count keys
    * (never pairwise); V is a broadcast 1-row frame; the per-doc fold
    * shuffles once on doc_id.  `topMBigrams > 0` bounds the bigram
    * table to the M most frequent bigrams (count DESC, bigram ASC —
    * a TakeOrderedAndProject: per-partition top-M, merge on the
    * driver-side heap, never a global sort), the q45 pattern that
    * bounds the scoring join's build side at production scale;
    * dropped bigrams degrade to the add-one unseen floor, which only
    * lowers scores.  The default 0 keeps the full table and the
    * bit-exact oracle.
    */
  def bigramFluency(spark: SparkSession, dir: String,
                    trainPct: Int = 80, testFrom: Int = 90,
                    topMBigrams: Int = 0): DataFrame = {
    val bucket = md5Bucket(1)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), bucket.as("bucket"))
    // counts keep multiplicity (LM counts, not the distinct shingle
    // sets dedup uses); shingles() needs the >= n-token guard
    val train = docs.filter(col("bucket") < trainPct)
    val cbFull = train.filter(size(tokens(col("text"))) >= 2)
      .select(explode(shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
    val cb =
      if (topMBigrams > 0)
        cbFull.orderBy(col("cb").desc, col("bigram").asc).limit(topMBigrams)
      else cbFull
    val cu = train
      .select(explode(tokens(col("text"))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val v = cu.agg(count(lit(1)).as("v"))
    val scored = docs.filter(col("bucket") >= testFrom)
      .filter(size(tokens(col("text"))) >= 2)
      .select(col("doc_id"), posexplode(shingles(col("text"), 2)).as(Seq("pos", "bigram")))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(cb, Seq("bigram"), "left")
      .join(cu, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("logp", graft.functions.MathFunctions.ln(
        (coalesce(col("cb"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")))
    scored.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")).as("total_logp"))
      .select(col("doc_id"), col("n_bigrams"), col("total_logp"),
        (col("total_logp") / col("n_bigrams").cast("double")).as("avg_logp"))
  }

  /** Corpus-LM token surprisal (q84): score every document by its mean
    * negative log-likelihood under the corpus unigram distribution —
    * the CCNet-style "how ordinary is this text" quality signal
    * (boilerplate scores low, token salad scores high).  Each token's
    * logp = ln(c(token)/T) is one divide + one libm log of exact
    * integer counts; the per-document sum folds in DOCUMENT ORDER
    * (posexplode → sort_array(collect_list) → sequential fold), the
    * same order-pinning q83 uses, so the DuckDB oracle replays the
    * exact IEEE sequence.  Surprisal is emitted in NATS, not as
    * exp-perplexity: JVM `Math.exp` and libm `exp` disagree in the
    * last ulp on ~0.1% of inputs (measured 5/4000), so an exp-derived
    * column would break the hash compare while adding no information.
    *
    * 100 TB shape: token counts are one keyed shuffle with map-side
    * combine (vocab-sized output); T is a broadcast 1-row frame; the
    * scoring join is an equi-join ON token (broadcast when the vocab
    * fits, keyed shuffle otherwise); the fold shuffles once on doc_id
    * (high-cardinality key).  Nothing is ever pairwise.
    */
  def tokenSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val c = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val t = c.agg(sum(col("c")).as("t"))
    val scored = toks
      .join(c, Seq("token")) // every token is in the corpus: inner join is lossless
      .crossJoin(broadcast(t))
      .withColumn("logp", graft.functions.MathFunctions.ln(
        col("c").cast("double") / col("t").cast("double")))
    scored.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")).as("total_logp"))
      .select(col("doc_id"), col("n_tokens"), col("total_logp"),
        (-(col("total_logp") / col("n_tokens").cast("double"))).as("surprisal_nats"))
  }

  /** Bounded top-M (source, token, freq) heap — q37's Aggregator
    * pattern applied to token frequencies: O(M) state per source
    * through partial aggregation, so the per-source ranking never
    * pushes a vocab-sized stream through a low-cardinality window.
    * Order: freq DESC, token ASC (total order → oracle-exact ranks).
    */
  final case class SrcTokenFreq(source: String, token: String, freq: Long)
  final class TopTokensByFreq(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[SrcTokenFreq, Seq[(Long, String)], Seq[(Long, String)]] {
    private def trim(xs: Seq[(Long, String)]): Seq[(Long, String)] =
      xs.sortBy { case (f, tok) => (-f, tok) }.take(m)
    override def zero: Seq[(Long, String)] = Seq.empty
    override def reduce(b: Seq[(Long, String)], a: SrcTokenFreq): Seq[(Long, String)] =
      trim(b :+ ((a.freq, a.token)))
    override def merge(b1: Seq[(Long, String)], b2: Seq[(Long, String)]): Seq[(Long, String)] =
      trim(b1 ++ b2)
    override def finish(r: Seq[(Long, String)]): Seq[(Long, String)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Zipf rank-frequency fit per source (q85): least-squares slope and
    * intercept of ln(freq) against ln(rank) over each source's top-M
    * tokens — the classic corpus-health diagnostic (natural text sits
    * near slope −1; templated/spammy sources flatten or steepen).
    *
    * Determinism contract (oracle-critical):
    *  - ranks come from the bounded heap's total order (freq DESC,
    *    token ASC), so rank r is engine-exact;
    *  - each regression sum (Σx, Σy, Σxy, Σx²) is its OWN sequential
    *    left fold over rank-ascending values seeded at 0.0 — DuckDB
    *    replays with list_reduce(list_prepend(0.0, list(... ORDER BY
    *    rank)));
    *  - x = ln(rank), y = ln(freq) via GraftLn (libm parity), and the
    *    closing slope/intercept arithmetic is one fixed expression
    *    sequence in both engines.
    *
    * 100 TB shape: one (source, token) count shuffle with map-side
    * combine, then the Aggregator's partial+final top-M heap (O(M)
    * state per source) — the regression itself runs on M-row arrays,
    * never a window over the vocab.
    */
  def zipfSlope(spark: SparkSession, dir: String, m: Int = 30): DataFrame = {
    import spark.implicits._
    val ln = graft.functions.MathFunctions.ln _
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("freq"))
      .as[SrcTokenFreq]
    val top = tf.groupByKey(_.source)
      .agg(new TopTokensByFreq(m).toColumn.name("topm"))
      .toDF("source", "topm")
    def foldSum(values: Column): Column =
      aggregate(values, lit(0.0), (acc, x) => acc + x)
    top
      .withColumn("n", size(col("topm")).cast("long"))
      .withColumn("sx", foldSum(transform(col("topm"),
        (_, i) => ln((i + lit(1)).cast("double")))))
      .withColumn("sy", foldSum(transform(col("topm"),
        e => ln(e.getField("_1").cast("double")))))
      .withColumn("sxy", foldSum(transform(col("topm"),
        (e, i) => ln((i + lit(1)).cast("double")) * ln(e.getField("_1").cast("double")))))
      .withColumn("sxx", foldSum(transform(col("topm"),
        (_, i) => ln((i + lit(1)).cast("double")) * ln((i + lit(1)).cast("double")))))
      .withColumn("zipf_slope",
        (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("zipf_slope") * col("sx")) / col("n").cast("double"))
      .select(col("source"), col("n").as("n_terms"), col("zipf_slope"), col("intercept"))
  }

  /** Sequence packing (concat-and-chunk): lay every document's tokens
    * end-to-end in stable doc_id order and cut the stream into
    * fixed-size context windows — each doc learns which pack it starts
    * in and at what offset.  The global running token sum (exclusive:
    * the tokens before the doc) comes from GlobalPrefix — no
    * single-partition window.
    *
    * Cache lifecycle: lazy pin, self-releasing once the returned frame
    * is unreachable — see Reindex.chunked.
    */
  def sequencePacking(spark: SparkSession, dir: String,
                      contextLen: Long = 2048L): DataFrame =
    GlobalPrefix(
        Tables.documents(spark, dir)
          .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok")),
        spark.sparkContext.defaultParallelism, eager = false, keys = Nil,
        order = Seq(col("doc_id").asc))(
        GlobalPrefix.Running("cum_before", Some("n_tok"), inclusive = false))
      .select(col("doc_id"), col("n_tok"), col("cum_before"),
        // integer DIV, not double /: exact at any token-stream length
        expr(s"cum_before DIV $contextLen").as("pack_id"),
        (col("cum_before") % contextLen).as("pack_offset"))

  /** BM25 keyword retrieval (q88): score every document against each
    * probe document's top-3 TF-IDF terms (query-by-example search —
    * the native analog of the Solr collection the reference feeds,
    * whose default ranking IS BM25) and keep the top-`topK` matches
    * per probe.  Okapi BM25 with k1=1.2, b=0.75:
    *
    *   score(q,d) = Σ_t  ln((N - df + 0.5)/(df + 0.5))
    *                · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    *
    * Determinism: tf/df/dl are exact integer aggregations; avgdl is
    * ONE divide of exact integers; each term score is a fixed IEEE
    * sequence (the log through MathFunctions.ln — libm parity); the
    * per-(probe,doc) sum folds in TOKEN order via
    * sort_array(collect_list) so the oracle replays the exact
    * sequence; ranking ties break on doc_id.
    *
    * 100 TB shape: the corpus is tokenized ONCE — the shared
    * weightedIndex frame (eagerly pinned) serves as probe-term source
    * AND postings list AND doc-length source; dl is recounted from the
    * index (Σ tf per doc ≡ token count); the probe term list
    * (nProbes·3 rows) broadcasts onto the token-keyed index — the
    * classic tiny-query-against-giant-index probe; corpus stats arrive
    * as a broadcast 1-row frame; the top-k is a probe_id-partitioned
    * row_number.  Nothing is ever pairwise in the corpus.
    */
  def bm25Search(spark: SparkSession, dir: String, nProbes: Int = 10,
                 topK: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    bm25Scored(spark, dir, nProbes, k1, b, excludeSelf = false)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("rank"), col("doc_id"), col("n_hits"), col("score"))
  }

  /** Unranked BM25 candidate scores (probe_id, doc_id, n_hits, score),
    * shared by q88 and the hybrid-RRF fusion (q133).  `excludeSelf`
    * drops each probe document from its own candidate list (the
    * retrieval form the fusion wants; q88 keeps self as the sanity
    * anchor).  Scoring math and plan shape are q88's — see bm25Search.
    */
  private[operators] def bm25Scored(spark: SparkSession, dir: String,
      nProbes: Int, k1: Double, b: Double, excludeSelf: Boolean): DataFrame = {
    val idx = weightedIndex(spark, dir, pin = true)
    // dl = Σ tf per doc — identical to the raw token count, no second
    // corpus scan; avgdl = (Σ all tf) / N, both exact integers before
    // the ONE divide (bit-equal to summing per-doc lengths directly;
    // token-less docs contribute 0 to both forms)
    val dl = idx.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = idx.agg(
      max(col("n_docs")).as("n_docs"),
      (sum(col("tf")).cast("double") / max(col("n_docs")).cast("double")).as("avgdl"))
    val queryTerms = topTerms(idx, 3)
      .filter(col("doc_id") < nProbes)
      .select(col("doc_id").as("probe_id"), col("token"))
    val terms = broadcast(queryTerms)
      .join(idx.select("doc_id", "token", "tf", "df"), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", graft.functions.MathFunctions.ln(
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("s", col("idf") *
        ((col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * ((lit(1.0) - lit(b)) +
              lit(b) * (col("dl").cast("double") / col("avgdl"))))))
    val cand = if (excludeSelf) terms.filter(col("doc_id") =!= col("probe_id"))
               else terms
    cand.groupBy("probe_id", "doc_id")
      .agg(
        count(lit(1)).as("n_hits"),
        aggregate(sort_array(collect_list(struct(col("token"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
  }

  /** Per-source distribution drift (q89): KL(P_source ‖ P_corpus) over
    * token unigram distributions — the mixture-monitoring signal of a
    * curation pipeline (a source whose language drifts away from the
    * corpus mix lights up here; KL ≥ 0 with equality iff the source
    * matches the corpus distribution exactly).
    *
    *   KL = Σ_t p_t · ln(p_t / q_t),  p = c_src/T_src,  q = c/T
    *
    * Every source token occurs in the corpus, so q_t > 0 always and
    * the sum is finite.  Determinism: counts are exact integers; p, q
    * and p/q are each ONE divide; the log is MathFunctions.ln (libm
    * parity); the per-source sum folds in TOKEN order with a 0.0 seed
    * (the oracle mirrors it as list_prepend(0.0, list(... ORDER BY
    * token)) + list_reduce).
    *
    * 100 TB shape: (source, token) counts are one shuffle with
    * map-side combine; corpus counts and per-source totals RE-aggregate
    * that frame (no second corpus scan); the score join is an
    * equi-join ON token between vocab-sized frames; the grand total is
    * a broadcast 1-row frame.  The order-pinned fold gathers one
    * vocab-sized list per source — vocab-bounded, not corpus-bounded;
    * a production variant that tolerates last-ulp drift would use a
    * plain sum and skip the collect entirely.
    */
  /** PMI collocations (q97): the top bigrams by pointwise mutual
    * information — word pairs that co-occur far more than their
    * unigram frequencies predict, the classic collocation /
    * multi-word-expression detector (and a tokenizer-merge signal).
    *
    *   pmi(a b) = ln( p(ab) / (p(a)·p(b)) ),  p(ab) = c(ab)/B,
    *   p(a) = c(a)/T — with a minimum count floor so hapax pairs
    *   don't dominate (PMI's known low-frequency bias).
    *
    * Determinism: counts are exact integers; each probability is ONE
    * divide; the ratio is one multiply + one divide; the log is
    * MathFunctions.ln (libm parity); the top-M rides (pmi DESC,
    * bigram ASC) — pmi values are bit-identical cross-engine, so the
    * cut is a total order.
    *
    * 100 TB shape: bigram + unigram counts are single keyed shuffles
    * with map-side combine (q83's shapes); the scoring joins are
    * equi-joins ON the two unigram keys; B and T arrive as ONE
    * broadcast 1-row frame; the top-M is a TakeOrderedAndProject
    * bounded heap over the minCount-filtered bigram table.
    */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Long = 5L, topM: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cb = docs.filter(size(tokens(col("text"))) >= 2)
      .select(explode(shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cb"))
    val cu = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = broadcast(cb.agg(sum(col("cb")).as("b_total")))
      .crossJoin(broadcast(cu.agg(sum(col("cu")).as("t_total"))))
    cb.filter(col("cb") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(cu.toDF("w1", "c1"), Seq("w1"))
      .join(cu.toDF("w2", "c2"), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("p_ab", col("cb").cast("double") / col("b_total").cast("double"))
      .withColumn("p_a", col("c1").cast("double") / col("t_total").cast("double"))
      .withColumn("p_b", col("c2").cast("double") / col("t_total").cast("double"))
      .withColumn("pmi", graft.functions.MathFunctions.ln(
        col("p_ab") / (col("p_a") * col("p_b"))))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topM)
      .select(col("bigram"), col("cb"), col("c1"), col("c2"), col("pmi"))
  }

  /** Fixed-count stratified sample (q98): exactly `perSource`
    * documents from every source, chosen by md5-hash priority — the
    * deterministic replacement for per-group reservoir sampling.  The
    * hash key uses md5 digits 9-12, independent of both the q63 split
    * (digits 1-4) and q75's rate sampler (digits 5-8), so composing
    * the three never correlates.  q75 answers "keep X% of each
    * stratum"; this answers "give me exactly N per stratum" (eval
    * sets, human-review batches).
    *
    * 100 TB shape: ONE shuffle on source for the ranking window; a
    * source too hot for a single partition switches to the q65
    * two-pass form; there is no global sort and no driver collect.
    * Ties can't happen — doc_id is the window's second key.
    */
  def fixedSample(spark: SparkSession, dir: String, perSource: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val priority = conv(substring(md5(col("doc_id").cast("string")), 9, 4), 16, 10)
      .cast("int")
    val w = Window.partitionBy("source").orderBy(col("priority").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), priority.as("priority"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perSource)
      .select(col("source"), col("rank"), col("doc_id"), col("priority"))
  }

  /** Deterministic weighted sample via priority sampling (q134,
    * Duffield–Lund–Thorup, JACM 54(6) 2007): per source, keep the k
    * documents with the largest priority q = w/u, where w = n_chars
    * (sample long documents proportionally more — token-mass-aware
    * subsampling for mixture planning) and u is a stable md5-derived
    * uniform.  Alongside each kept row, the (k+1)-th priority τ and
    * the DLT estimator ŵ = max(w, τ) — Σŵ over the sample unbiasedly
    * estimates the source's total character mass, which is what makes
    * priority sampling a SUMMARY, not just a subset.
    *
    * Priority sampling is chosen over Efraimidis–Spirakis keys
    * (u^(1/w) / −ln(u)/w) deliberately: the ES key needs a
    * transcendental whose cross-engine parity is sampled luck
    * (measured 57/65536 last-ulp ln mismatches on exactly these
    * md5-derived ratios), while q = w/u is ONE correctly-rounded
    * divide — bit-exact everywhere.  u = (h+1)/65537 over md5 hex
    * digits 13–16 (independent of the q63/q75 split digits and the
    * q98 priority digits), strictly inside (0,1).
    *
    * 100 TB shape: one source-partitioned top-(k+1) window — the
    * q56/q98 shape — then a broadcast join of the bounded τ frame
    * back onto the k kept rows; nothing global, nothing pairwise.
    */
  def prioritySample(spark: SparkSession, dir: String, perSource: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col("doc_id").cast("string")), 13, 4), 16, 10)
      .cast("int")
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id").asc)
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"), h.as("h"))
      .withColumn("u", (col("h") + lit(1)).cast("double") / lit(65537.0))
      .withColumn("priority", col("n_chars").cast("double") / col("u"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perSource + 1)
    val tau = ranked.filter(col("rank") === perSource + 1)
      .select(col("source"), col("priority").as("tau"))
    ranked.filter(col("rank") <= perSource)
      .join(broadcast(tau), Seq("source"), "left")
      .select(col("source"), col("rank"), col("doc_id"),
        col("n_chars").as("weight"), col("priority"),
        coalesce(col("tau"), lit(0.0)).as("tau"),
        greatest(col("n_chars").cast("double"), coalesce(col("tau"), lit(0.0)))
          .as("w_est"))
  }

  /** Pairwise two-sample Kolmogorov–Smirnov statistic over document
    * lengths (q135): D = sup_x |F_a(x) − F_b(x)| for every source
    * pair — the distribution-shape companion to q128's Hellinger
    * (which compares token MIXES; KS compares LENGTH profiles, the
    * signal that two sources need different chunking/packing even
    * when their vocabulary matches).
    *
    * Exact, not sampled: ECDFs step only at observed lengths, so the
    * sup is the max over the UNION of the two sources' distinct
    * lengths of |cum_a/n_a − cum_b/n_b| evaluated just after each
    * step.  Cumulative counts are exact integer window sums; each
    * ECDF value is one int→double divide, the deviation one subtract
    * + abs, the sup a max — every op correctly rounded or exact, no
    * fold, no transcendental.
    *
    * 100 TB shape: the (source, length) cell frame (bounded by
    * sources × distinct lengths, eager-pinned for its three
    * consumers) fans out to source pairs via broadcast of the bounded
    * source list; per-pair windows order by length over cell rows,
    * never documents.  The sources² pair fan-out is the same bounded
    * shape as q96/q128.
    */
  def ksMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt")))
    val totals = cells.groupBy("source").agg(sum(col("cnt")).as("n"))
    val srcs = totals.select("source")
    val left = cells.toDF("s1", "len", "c1")
      .join(broadcast(srcs.toDF("s2")), col("s1") < col("s2"))
      .select(col("s1"), col("s2"), col("len"), col("c1"), lit(0L).as("c2"))
    val right = cells.toDF("s2", "len", "c2")
      .join(broadcast(srcs.toDF("s1")), col("s1") < col("s2"))
      .select(col("s1"), col("s2"), col("len"), lit(0L).as("c1"), col("c2"))
    val merged = left.union(right)
      .groupBy("s1", "s2", "len")
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
    val wc = Window.partitionBy("s1", "s2").orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    merged
      .withColumn("cum1", sum(col("c1")).over(wc))
      .withColumn("cum2", sum(col("c2")).over(wc))
      .join(broadcast(totals.toDF("s1", "n1")), Seq("s1"))
      .join(broadcast(totals.toDF("s2", "n2")), Seq("s2"))
      .withColumn("d", abs(
        col("cum1").cast("double") / col("n1").cast("double") -
          col("cum2").cast("double") / col("n2").cast("double")))
      .groupBy("s1", "s2")
      .agg(max(col("n1")).as("n_a"), max(col("n2")).as("n_b"),
        count(lit(1)).as("n_steps"), max(col("d")).as("ks_stat"))
      .select(col("s1").as("source_a"), col("s2").as("source_b"),
        col("n_a"), col("n_b"), col("n_steps"), col("ks_stat"))
  }

  /** Sparse TF-IDF cosine pairs (q101, the all-pairs-similarity shape
    * of Bayardo et al. 2007): the top document pairs by cosine over
    * their TF-IDF vectors, computed through the INVERTED INDEX — pairs
    * meet only on tokens they share, so the join is token-keyed and
    * the corpus is never paired.  This is the sparse twin of the dense
    * embedding tier (q24–q26): same query, lexical vectors.
    *
    * Determinism: weights are q82's exact sequence (tf·ln(N/df), libm
    * ln); each norm is a token-ordered 0.0-seeded fold of w², one
    * sqrt; each pair dot is a token-ordered fold of w_a·w_b; cosine is
    * dot/(n_a·n_b) — one multiply, one divide; top-M rides (cos DESC,
    * doc_a, doc_b), a total order.
    *
    * 100 TB shape: the index is the (token, doc, weight) frame — one
    * keyed shuffle; the pair generation is a self-EQUI-join on token
    * with fan-out df² per token, bounded by `maxDf` (drop tokens in
    * more than maxDf docs — exactly q45's hot-shingle cap; stopwords
    * contribute ~zero cosine mass and all the fan-out, so the cap is
    * also the quality move); per-pair state is the shared-token list,
    * bounded by document vocab; norms join back from a doc-keyed frame.
    */
  def sparseCosinePairs(spark: SparkSession, dir: String,
                        maxDf: Long = 50L, topM: Int = 20): DataFrame = {
    // The weighted index has FOUR consumers here (norms, both pair-
    // join sides, and norms joins back twice) — the shared builder's
    // EAGER pin materializes it once on the main thread (lazy
    // checkpoints under concurrent broadcast threads are the r11
    // deadlock — see weightedIndex/SCALING.md).  At scale this IS the
    // design: build the inverted index once, then every downstream
    // stage reads it.
    val w = weightedIndex(spark, dir, pin = true)
      .select(col("doc_id"), col("token"), col("w"), col("df"))
    // norms use EVERY token (the vector is the vector); only the pair
    // join is df-capped
    val norms = w.groupBy("doc_id")
      .agg(sqrt(aggregate(sort_array(collect_list(struct(col("token"), (col("w") * col("w")).as("w2")))),
        lit(0.0), (acc, x) => acc + x.getField("w2"))).as("nrm"))
    val idx = w.filter(col("df") <= maxDf)
    val pairs = idx.toDF("doc_a", "token", "w_a", "df_a")
      .join(idx.toDF("doc_b", "token_b", "w_b", "df_b"),
        col("token") === col("token_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(
        count(lit(1)).as("n_shared"),
        aggregate(sort_array(collect_list(struct(col("token"), (col("w_a") * col("w_b")).as("p")))),
          lit(0.0), (acc, x) => acc + x.getField("p")).as("dot"))
    pairs
      .join(norms.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(norms.toDF("doc_b", "n_b"), Seq("doc_b"))
      .withColumn("cos", col("dot") / (col("n_a") * col("n_b")))
      .orderBy(col("cos").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(topM)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("cos"))
  }

  /** MAD outlier gate (q93): per-source robust document-length
    * outliers — median and median-absolute-deviation instead of
    * mean/stddev, so a handful of monster documents can't drag the
    * threshold toward themselves (the reason curation pipelines gate
    * on MAD, not z-scores).  A document is an outlier when
    * |n_chars − median| > cutoff · MAD.
    *
    * Determinism: both medians are LOWER medians — the rn ==
    * ceil(0.5·n) row of a (value, doc_id)-ordered ranking, q51's
    * exact-percentile rule — so every statistic is an actual data
    * value and the whole gate is integer arithmetic except the final
    * ratio (and the cutoff·MAD compare, two exact int→double
    * conversions).
    *
    * 100 TB shape: the same two-pass story as q51/q65 — the ranking
    * windows partition on source; a source too hot for one partition
    * switches to the q65 two-pass range-partition form (documented
    * there); medians and MADs are per-source 1-row frames that join
    * back BROADCAST.  Everything else is partial+final aggregation.
    */
  def madOutliers(spark: SparkSession, dir: String, cutoff: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("source").orderBy(col(valueCol).asc, col("doc_id").asc)
      val wc = Window.partitionBy("source")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wc))
        .filter(col("rn") === ceil(lit(0.5) * col("n")).cast("long"))
        .select(col("source"), col(valueCol).as(out))
    }
    val med = lowerMedian(docs, "n_chars", "med_chars")
    val dev = docs.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
    val mad = lowerMedian(dev.select(col("source"), col("doc_id"), col("dev")),
      "dev", "mad_chars")
    dev.join(broadcast(mad), Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("med_chars")).as("med_chars"),
        max(col("mad_chars")).as("mad_chars"),
        sum(when(col("dev").cast("double") > lit(cutoff) * col("mad_chars").cast("double"),
          1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_pct",
        col("n_outliers").cast("double") / col("n_docs").cast("double"))
  }

  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cs"))
    val c = cs.groupBy("token").agg(sum(col("cs")).as("c"))
    val tsrc = cs.groupBy("source").agg(sum(col("cs")).as("t_src"))
    val tot = c.agg(sum(col("c")).as("t_all"))
    cs.join(c, Seq("token"))
      .join(broadcast(tsrc), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("cs").cast("double") / col("t_src").cast("double"))
      .withColumn("q", col("c").cast("double") / col("t_all").cast("double"))
      .withColumn("contrib",
        col("p") * graft.functions.MathFunctions.ln(col("p") / col("q")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        max(col("t_src")).as("n_tokens"),
        aggregate(sort_array(collect_list(struct(col("token"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("kl_nats"))
  }

  /** Pairwise Hellinger distance between sources (q128): the
    * symmetric, bounded ([0, 1]) companion to q89's KL drift — KL
    * answers "how far is each source from the corpus mix", this
    * answers "which PAIRS of sources are interchangeable vs disjoint"
    * (the deduplication-of-sources / mixture-design signal).
    *
    *   H²(P,Q) = 1 − BC,  BC = Σ_t √(p_t · q_t)
    * (the Bhattacharyya affinity).  Hellinger is chosen over the more
    * common JSD DELIBERATELY, for a determinism reason worth the
    * record: JSD needs ln, and last-ulp ln behavior is
    * implementation-defined — measured here, `java.lang.Math.log`
    * (GraftLn) and glibc/DuckDB `ln` disagree by one ulp at input
    * 0x3feb97e869a164e3 (≈0.8603, a q/m ratio this very query
    * produced), so an ln-based pair matrix hash-fails sporadically.
    * Hellinger's every operation — integer-count divides, one
    * multiply, sqrt, an order-pinned fold — is CORRECTLY ROUNDED by
    * IEEE 754 in both engines: parity is guaranteed by the standard,
    * not sampled.  Tokens present in only one source contribute 0 to
    * BC, so the plain inner self-join on token suffices (no one-sided
    * bookkeeping).
    *
    * 100 TB shape: the (source, token) count shuffle (q89's frame),
    * self-joined on token — fan-out bounded by sources² per token,
    * the q96 rule — then a vocab-bounded fold per pair.
    */
  def sourceHellinger(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val tsrc = broadcast(cs.groupBy("source").agg(sum(col("c")).as("t")))
    val w = cs.join(tsrc, "source")
      .select(col("source"), col("token"),
        (col("c").cast("double") / col("t").cast("double")).as("p"))
    val a = w.toDF("source_a", "token", "pa")
    val b = w.toDF("source_b", "token", "pb")
    a.join(b, Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(
        count(lit(1)).as("n_shared_terms"),
        aggregate(sort_array(collect_list(struct(col("token"),
          sqrt(col("pa") * col("pb")).as("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("bc_affinity"))
      .select(col("source_a"), col("source_b"), col("n_shared_terms"),
        col("bc_affinity"),
        // BC ≤ 1 mathematically, but the rounded sum can sit ulps
        // above 1 for near-identical sources — clamp before sqrt so
        // no NaN reaches the hash compare (same clamp in the oracle)
        sqrt(greatest(lit(0.0), lit(1.0) - col("bc_affinity"))).as("hellinger"))
  }

  /** Per-document token entropy (q102): H = −Σ p·ln p over the
    * document's unigram distribution — the information-density twin of
    * q68's repetition metrics (boilerplate and keyword-stuffed docs
    * sit far below fluent text at the same length; H=0 means one
    * token repeated).
    *
    * Determinism: counts are exact integers; each p is ONE divide by
    * the exact doc total; the log is MathFunctions.ln (libm parity);
    * the sum folds in TOKEN order with a 0.0 seed, SUBTRACTING each
    * p·ln p term — folding the negation (rather than negating the
    * fold) keeps single-type docs at exact +0.0, where `-(0.0)` would
    * surface IEEE −0.0 and hash-split the engines.
    *
    * 100 TB shape: one (doc_id, token) shuffle with map-side combine,
    * then one doc_id shuffle for the fold — per-doc state is bounded
    * by document vocabulary, nothing global, nothing pairwise.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        sort_array(collect_list(struct(col("token"), col("c")))).as("lst"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        aggregate(col("lst"), lit(0.0), (acc, x) => {
          val p = x.getField("c").cast("double") / col("n_tok").cast("double")
          acc - p * graft.functions.MathFunctions.ln(p)
        }).as("entropy"))
  }

  /** Sliding-window document chunking (q103): cut every document's
    * token stream into fixed-size windows with stride overlap — the
    * RAG/embedding-ingest chunker (win=32, stride=24 → 8-token
    * overlap so no boundary-straddling phrase is lost).  Emits one
    * row per chunk with its md5 content fingerprint rather than the
    * text itself (the downstream embed/dedup key).  The tail chunk is
    * short by design; a start index exists for every stride multiple
    * below the token count.
    *
    * 100 TB shape: embarrassingly parallel — a narrow explode whose
    * fan-out is ~n/stride per document, NO shuffle at all (the one
    * plan property that matters: chunking a corpus is a map).  The
    * within-doc slice is O(win) per chunk.
    */
  def slidingChunks(spark: SparkSession, dir: String,
                    win: Int = 32, stride: Int = 24): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(
        col("doc_id"),
        expr(s"CAST(start DIV $stride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(win), col("n") - col("start")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(win)))).as("chunk_md5"))

  /** Per-source vocabulary growth curve + Heaps' law fit (q127): how
    * fast does each source's vocabulary grow as documents accumulate?
    * Natural text follows Heaps' law V ≈ K·T^b with b ≈ 0.4–0.6;
    * templated or looping sources flatten early (tiny b), and token
    * salad grows near-linearly (b → 1).  The q85 Zipf fit's companion
    * diagnostic — Zipf reads the frequency SPECTRUM, this reads the
    * GROWTH curve.
    *
    * Scalable construction of an inherently sequential quantity: the
    * cumulative-distinct curve V(d) needs no sequential scan — a
    * token first "appears" at its MINIMUM doc_id, so one
    * (source, token) min-aggregation turns the curve into per-doc
    * new-token counts, and V(d)/T(d) are running sums over the
    * per-source doc order.  Ten decile checkpoints per source (rank
    * (k·n+9) div 10, pure-integer per the q122 rule) feed the same
    * fold-ordered least-squares as q85: x = ln(tokens_seen),
    * y = ln(vocab_seen) via GraftLn.
    *
    * The running sums are GlobalPrefix's two-pass prefix sums keyed
    * by source, NOT a per-source window (VERDICT r12 #6: one
    * mega-source would serialize its whole curve through a single
    * window partition).
    *
    * 100 TB shape: one (source, token) shuffle + one (source, doc)
    * shuffle + one range shuffle; every doc-frame window is keyed by
    * (pid, source); the regression runs on 10 rows per source.
    * Output: 10 checkpoint rows per source, the fitted exponent
    * repeated on each (sources × 10 rows total).  Pin lifecycle as in
    * Reindex.chunked (lazy).
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ln = graft.functions.MathFunctions.ln _
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("token"))
    val newPerDoc = toks.groupBy("source", "token")
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy("source", "doc_id").agg(count(lit(1)).as("nv"))
    val perDoc = toks.groupBy("source", "doc_id").agg(count(lit(1)).as("nt"))
      .join(newPerDoc, Seq("source", "doc_id"), "left")
      .withColumn("nv", coalesce(col("nv"), lit(0L)))
    val curve = GlobalPrefix(perDoc, spark.sparkContext.defaultParallelism,
        eager = false, keys = Seq("source"), order = Seq(col("doc_id").asc))(
      GlobalPrefix.Running("rn", total = Some("n")),
      GlobalPrefix.Running("tokens_seen", Some("nt")),
      GlobalPrefix.Running("vocab_seen", Some("nv")))
    val checkpoints = curve
      .select(col("source"), col("rn"), col("n"), col("tokens_seen"), col("vocab_seen"),
        explode(sequence(lit(1), lit(10))).as("decile"))
      .filter(col("rn") === expr("(decile * n + 9) div 10"))
      .select(col("source"), col("decile"), col("rn").cast("long").as("docs_seen"),
        col("tokens_seen"), col("vocab_seen"))
    val fit = checkpoints
      .select(col("source"), col("decile"),
        ln(col("tokens_seen").cast("double")).as("x"),
        ln(col("vocab_seen").cast("double")).as("y"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("np"),
        aggregate(sort_array(collect_list(struct(col("decile"), col("x")))),
          lit(0.0), (acc, e) => acc + e.getField("x")).as("sx"),
        aggregate(sort_array(collect_list(struct(col("decile"), col("y")))),
          lit(0.0), (acc, e) => acc + e.getField("y")).as("sy"),
        aggregate(sort_array(collect_list(struct(col("decile"), (col("x") * col("y")).as("p")))),
          lit(0.0), (acc, e) => acc + e.getField("p")).as("sxy"),
        aggregate(sort_array(collect_list(struct(col("decile"), (col("x") * col("x")).as("p")))),
          lit(0.0), (acc, e) => acc + e.getField("p")).as("sxx"))
      .select(col("source"),
        ((col("np").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("np").cast("double") * col("sxx") - col("sx") * col("sx"))).as("heaps_b"))
    checkpoints.join(broadcast(fit), "source")
      .select("source", "decile", "docs_seen", "tokens_seen", "vocab_seen", "heaps_b")
  }

  /** Winsorized per-source length statistics (q122): the robust-mean
    * companion to the q93 MAD gate — clip each source's n_chars into
    * its exact [p05, p95] band, then compare the winsorized mean with
    * the raw mean.  The standard pre-normalization step before length
    * features feed a mixing model: a handful of megadocs can drag a
    * source's raw mean arbitrarily; the winsorized mean is bounded by
    * construction.
    *
    * Percentile cut ranks use PURE INTEGER arithmetic —
    * ceil(n/20) = (n+19) div 20 and ceil(19n/20) = (19n+19) div 20 —
    * because float rank math (`ceil(0.05 * n)`) is a cross-engine
    * trap: 0.05/0.95 have no exact binary form, so Spark's double
    * product can land one ulp above an integer and ceil one rank past
    * DuckDB's exact-decimal product (the q104 ntile lesson; 0.5/0.9
    * at q51's magnitudes happen to round clean, these do not have to).
    * Clipped sums are exact integers through DECIMAL(38,0); the means
    * are one int→double conversion + one IEEE divide on both engines.
    *
    * 100 TB shape: one per-source rank window (q65's two-pass escape
    * documented there applies verbatim if a single source outgrows a
    * partition), broadcast join-back of the sources×1 cut frame, one
    * combine-friendly agg.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val r = Tables.documents(spark, dir).select("source", "doc_id", "n_chars")
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("n_chars").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    val cuts = r.groupBy("source").agg(
      max(when(col("rn") === expr("(n + 19) div 20"), col("n_chars"))).as("p05"),
      max(when(col("rn") === expr("(19 * n + 19) div 20"), col("n_chars"))).as("p95"))
    Tables.documents(spark, dir).select("source", "n_chars")
      .join(broadcast(cuts), "source")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("p05")).as("p05"),
        max(col("p95")).as("p95"),
        sum(greatest(least(col("n_chars"), col("p95")), col("p05")).cast(dec))
          .cast("double").as("win_sum"),
        sum(col("n_chars").cast(dec)).cast("double").as("raw_sum"))
      .select(col("source"), col("n_docs"), col("p05"), col("p95"),
        (col("win_sum") / col("n_docs").cast("double")).as("win_mean"),
        (col("raw_sum") / col("n_docs").cast("double")).as("raw_mean"))
  }

  /** Count-Min-Sketch heavy-hitter audit (q120): the frequency-sketch
    * member of the sketch tier (q33 HLL for distinct counts, q58 GK
    * for quantiles, CMS here for point frequencies).  A d×w counter
    * grid — cell (i, hᵢ(token) mod w) accumulates every occurrence;
    * the estimate for a probe is the MINIMUM over its d cells, which
    * can only overcount (collisions add, never subtract).  Audit form
    * like q33/q58: the top-k exact heavy hitters are probed against
    * the sketch and two error-contract flags come out — `never_under`
    * (est ≥ exact, deterministically true by construction) and
    * `within_eps` (est − exact ≤ (e/w)·N, the standard CMS bound) —
    * so exact DuckDB SQL with literal-1 flags hash-checks the sketch.
    *
    * The sketch frame is built from the per-token count frame rather
    * than the raw occurrence stream — the cell counters are IDENTICAL
    * either way (a counter is a sum over a token multiset; summing
    * pre-aggregated counts is the same sum), and the audit needs the
    * exact counts anyway.  At production scale with an unbounded
    * vocabulary the sketch side would aggregate the occurrence stream
    * straight to its FIXED d·w = 2048 cells (map-side combine onto
    * 2048 keys — no vocab-sized shuffle at any corpus size); that is
    * the property that makes CMS the scale path when exact counting
    * stops fitting.
    *
    * 100 TB shape: one corpus scan → one vocab-keyed count shuffle
    * (pinned once, three vocab-sized consumers); sketch ≤ 2048 rows,
    * probes ≤ k rows — both broadcast-sized by construction.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String,
                      d: Int = 4, w: Int = 512, k: Int = 20): DataFrame = {
    val counts = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt")))
    val cells = (0 until d).map(i =>
      struct(lit(i).as("row_i"), pmod(hash(lit(i), col("token")), lit(w)).as("cell")))
    val sketch = counts
      .select(explode(array(cells: _*)).as("c"), col("cnt"))
      .groupBy(col("c.row_i").as("row_i"), col("c.cell").as("cell"))
      .agg(sum(col("cnt")).as("counter"))
    val total = broadcast(counts.agg(sum(col("cnt")).cast("double").as("n_total")))
    val probes = broadcast(
      counts.orderBy(col("cnt").desc, col("token").asc).limit(k))
    probes
      .select(col("token"), col("cnt"), explode(array(cells: _*)).as("c"))
      .select(col("token"), col("cnt"), col("c.row_i").as("row_i"), col("c.cell").as("cell"))
      .join(broadcast(sketch), Seq("row_i", "cell"))
      .groupBy("token", "cnt").agg(min(col("counter")).as("est"))
      .crossJoin(total)
      .select(col("token"), col("cnt").as("exact_cnt"),
        when(col("est") >= col("cnt"), 1L).otherwise(0L).as("never_under"),
        when((col("est") - col("cnt")).cast("double") <= lit(math.E / w) * col("n_total"), 1L)
          .otherwise(0L).as("within_eps"))
  }

  /** Per-source length↔quality Pearson correlation (q118): does
    * document length predict quality within a source?  The covariance
    * member of the q50 exact-moments family, on INTEGER features:
    * x = n_chars and y = quality in millionths (the q34 floor trick,
    * floor(q·1e6 + 0.5) — bit-identical in both engines since q
    * itself is).  Pearson r is scale-invariant, so the millionth
    * quantization IS the statistic's definition, and every sum
    * (Σx, Σy, Σxy, Σx², Σy²) is a pure integer through DECIMAL(38,0)
    * partial+final aggregation — order-independent, overflow-proof,
    * and the only double conversions are correctly-rounded
    * integer→double in both engines.  (A fractional-scale DECIMAL
    * here is NOT oracle-safe: DuckDB's decimal→double divides by
    * 10^scale in double space and double-rounds once the numerator
    * exceeds 2^53, measured one-ulp drift on Σxy at scale 14.)
    * Spark's builtin corr() is a running-moment double aggregation
    * whose result depends on partition order; this formulation is
    * bit-stable on any cluster.
    *
    * 100 TB shape: one partial+final agg with map-side combine; the
    * output is sources × 1.  Nothing else.
    */
  def lengthQualityCorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val d = Tables.documents(spark, dir).select(
      col("source"),
      col("n_chars").as("x"),
      floor(qualityScore(col("text")) * lit(1.0e6) + lit(0.5)).cast("long").as("y"))
    val n = col("n_docs").cast("double")
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      .select(col("source"), col("n_docs"),
        ((n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(n * col("sxx") - col("sx") * col("sx")) *
            sqrt(n * col("syy") - col("sy") * col("sy")))).as("pearson_r"))
  }

  /** Per-source min-max feature scaling (q114): the standard
    * normalization step before mixing quality signals ACROSS sources —
    * raw q31 quality scores are only comparable within a source
    * (template-heavy crawls compress the range), so each score maps to
    * (q − min)/(max − min) within its source; a degenerate
    * single-value source pins to 0.5 identically in both engines.
    *
    * Determinism: q is the shared qualityScore IEEE sequence; min/max
    * SELECT existing values (no arithmetic); the normalization is one
    * fixed subtract/subtract/divide sequence.
    *
    * 100 TB shape: one partial+final min/max agg per source (a
    * sources × 2 frame) joins back BROADCAST — the feature-scaling
    * join every training pipeline runs, never a window over the
    * corpus.
    */
  def normalizedQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("q"))
    val stats = d.groupBy("source")
      .agg(min(col("q")).as("qmin"), max(col("q")).as("qmax"))
    d.join(broadcast(stats), Seq("source"))
      .select(col("source"), col("doc_id"), col("q"),
        when(col("qmax") > col("qmin"),
          (col("q") - col("qmin")) / (col("qmax") - col("qmin")))
          .otherwise(lit(0.5)).as("q_norm"))
  }

  /** Next-token suggestions (q113): for the `topHeads` most
    * continued head tokens, the `topK` most frequent next tokens with
    * their conditional probability — q83's bigram counts re-read as
    * an autocomplete/markov-inspection table (the "what follows
    * 'the'" view a tokenizer or LM debugging session asks for).
    *
    * Determinism: counts are exact; heads rank by (total DESC, head
    * ASC) through a bounded heap; continuations by (count DESC, next
    * ASC) through a head-partitioned row_number; p(next|head) is ONE
    * divide of exact integers.
    *
    * 100 TB shape: ONE bigram-count shuffle with map-side combine
    * (vocab²-bounded output, q83's shape); head totals re-aggregate
    * that frame; the topHeads cut is a TakeOrderedAndProject bounded
    * heap that then joins back BROADCAST — the continuation window
    * never sees more than topHeads × per-head-vocab rows.
    */
  def nextTokenSuggest(spark: SparkSession, dir: String,
                       topHeads: Int = 20, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bi = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("head_tok", split(col("bigram"), " ").getItem(0))
      .withColumn("next_tok", split(col("bigram"), " ").getItem(1))
    val heads = bi.groupBy("head_tok").agg(sum(col("cnt")).as("tot"))
      .orderBy(col("tot").desc, col("head_tok").asc)
      .limit(topHeads)
    val w = Window.partitionBy("head_tok")
      .orderBy(col("cnt").desc, col("next_tok").asc)
    bi.join(broadcast(heads), Seq("head_tok"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("head_tok"), col("rank"), col("next_tok"), col("cnt"), col("tot"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p_next"))
  }

  /** Standard-SQL ntile over (rank, n) in pure integer arithmetic
    * (ALL divisions integral `DIV` — a float divide could land one
    * ulp under a bucket boundary): the first (N mod k) buckets hold
    * ceil(N/k) rows, the rest floor(N/k).  Bit-equal to DuckDB's
    * `ntile(k) OVER (ORDER BY ...)` (the q104 parity).
    */
  private[operators] def ntileExpr(k: Int): Column = expr(
    s"""CAST(CASE WHEN rank - 1 < (n % $k) * ((n DIV $k) + 1)
       |  THEN (rank - 1) DIV ((n DIV $k) + 1)
       |  ELSE (n % $k) + ((rank - 1) - (n % $k) * ((n DIV $k) + 1)) DIV (n DIV $k)
       |END + 1 AS INT)""".stripMargin)

  /** Equal-frequency length buckets (q104): ntile(10) over document
    * length — the batch-composition view a sequence-packing pipeline
    * plans against (how much of the corpus is short-tail, where the
    * padding waste lives).  The exact global rank over
    * (n_chars, doc_id) comes from GlobalPrefix (NO single-partition
    * window), then the standard-SQL ntile bucket is pure integer
    * arithmetic over (rank, N) — bit-equal to the declarative
    * `ntile(10) OVER (ORDER BY ...)` the DuckDB oracle runs,
    * remainder buckets first.
    *
    * Cache lifecycle: EAGER pin, not the lazy form sequencePacking
    * uses — the rank's offsets reach it through a broadcast, and a
    * broadcast thread materializing a lazy checkpoint is the r11
    * deadlock (util/Pins.scala).
    */
  def lengthDeciles(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    GlobalPrefix(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"),
            tokenCount(col("text")).cast("long").as("n_tok")),
        spark.sparkContext.defaultParallelism, eager = true, keys = Nil,
        order = Seq(col("n_chars").asc, col("doc_id").asc))(
        GlobalPrefix.Running("rank", total = Some("n")))
      .withColumn("decile", ntileExpr(k))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tok")).as("sum_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double")).as("avg_chars"))

  /** Per-source Gini coefficient of document length (q131) — the
    * corpus-balance concentration metric: gini → 0 means every doc
    * contributes equally to the source's character mass, gini → 1
    * means a few giant docs ARE the source (and a doc-level sampler
    * badly misrepresents its token-level mix — the reweighting
    * signal for the q70 mixture planner).
    *
    * Uses the classic rank formula over ascending lengths,
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ), which needs only the
    * exact global rank i within each source — GlobalPrefix keyed by
    * source, so no window ever sees a whole source in one partition.
    * Every sum is exact integer arithmetic in DECIMAL(38,0) (mirrored by
    * DuckDB's HUGEINT sums); the ONLY floating-point ops are the two
    * final int→double conversions and one divide, all correctly
    * rounded by IEEE in both engines — no fold-order anywhere.
    *
    * 100 TB shape: one range-exchange + one keyed agg; the offsets
    * frame is (sources × partitions) rows — broadcast-bounded.  The
    * pin is eager to keep the offsets broadcast off the
    * lazy-checkpoint deadlock path (SCALING.md, util/Pins.scala).
    */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = GlobalPrefix(
        Tables.documents(spark, dir).select(col("source"), col("doc_id"), col("n_chars")),
        spark.sparkContext.defaultParallelism, eager = true, keys = Seq("source"),
        order = Seq(col("n_chars").asc, col("doc_id").asc))(GlobalPrefix.Running("rank"))
    val g = ranked.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
      sum((col("rank").cast("decimal(19,0)") * col("n_chars").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("rs"))
    val num = col("rs") * lit(2L).cast("decimal(38,0)") -
      (col("n_docs") + lit(1L)).cast("decimal(38,0)") * col("sx")
    val den = col("n_docs").cast("decimal(38,0)") * col("sx")
    g.select(
      col("source"),
      col("n_docs"),
      col("sx").cast("long").as("total_chars"),
      (num.cast("double") / den.cast("double")).as("gini"))
  }

  /** Chi-square test of independence, source × lang (q132) — the
    * corpus-composition audit: is language mix independent of source,
    * or do some sources skew the language distribution?  Emits the
    * full contingency table with per-cell expected counts and
    * chi-square contributions ((O−E)²/E), so hot cells are directly
    * attributable; the global statistic is the (cell-bounded) sum of
    * `contrib` downstream.
    *
    * Determinism: observed counts and both marginals are exact
    * integers (the marginals RE-aggregate the observed frame — one
    * scan, no second pass over documents); `expected` is one multiply
    * + one divide of int→double casts, `contrib` one subtract + one
    * multiply + one divide — every op correctly rounded by IEEE in
    * both engines, no fold anywhere (per-cell output deliberately
    * avoids a cross-cell double sum).
    *
    * 100 TB shape: one (source, lang) keyed shuffle with map-side
    * combine; marginals and N re-aggregate the cell frame (bounded by
    * sources × langs) and broadcast back.  The cell frame has four
    * consumers, so it is eager-pinned per the multi-broadcast rule
    * (util/Pins.scala).
    */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val obs = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("o")))
    val rt = obs.groupBy("source").agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy("lang").agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"))
    obs.join(broadcast(rt), Seq("source"))
      .join(broadcast(ct), Seq("lang"))
      .crossJoin(broadcast(n))
      .withColumn("expected",
        col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double"))
      .withColumn("dev", col("o").cast("double") - col("expected"))
      .select(
        col("source"), col("lang"),
        col("o").as("n_obs"),
        col("expected"),
        (col("dev") * col("dev") / col("expected")).as("contrib"))
  }

  /** Per-source ROC-AUC of document length as an English-language
    * classifier (q141) — the standard eval for any scalar quality /
    * filter signal before it gates a training mix: does n_chars
    * separate lang='en' docs from the rest within each source?  AUC
    * is the Mann–Whitney U statistic normalized by P·N, computed
    * tie-aware from per-score class counts:
    *
    *   AUC = Σ_s pos_s · (neg_below(s) + ½·neg_s) / (P·N)
    *
    * Determinism: everything is INTEGER until one final divide — the
    * ½-tie term stays integral by doubling (contrib2 = pos·(2·cumneg
    * + neg), AUC = Σcontrib2 / (2PN)); per-score counts are exact
    * longs, the running negative count is an integer window sum, and
    * the totals go through DECIMAL(38,0) partial+final aggregation
    * (the q118 rule).  Degenerate sources (no positives or no
    * negatives) emit 0.5 behind a guard, never NULL/NaN.
    *
    * 100 TB shape: one (source, score) keyed shuffle with map-side
    * combine collapses the corpus to cells bounded by sources ×
    * distinct lengths; the window and final agg run on that bounded
    * frame.  Nothing downstream touches raw documents.
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_pos"))
      .groupBy("source", "score")
      .agg(sum(col("is_pos")).as("pos"),
        sum(lit(1L) - col("is_pos")).as("neg"))
    val w = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cumneg", coalesce(sum(col("neg")).over(w), lit(0L)))
      .withColumn("contrib2",
        col("pos") * (lit(2L) * col("cumneg") + col("neg")))
      .groupBy("source")
      .agg(sum(col("contrib2").cast(dec)).cast("double").as("num2"),
        sum(col("pos").cast(dec)).cast("double").as("p"),
        sum(col("neg").cast(dec)).cast("double").as("n"))
      .select(col("source"),
        col("p").cast("long").as("n_pos"),
        col("n").cast("long").as("n_neg"),
        when(col("p") > 0 && col("n") > 0,
          col("num2") / (lit(2.0) * col("p") * col("n")))
          .otherwise(lit(0.5)).as("auc"))
  }

  /** Poisson-bootstrap confidence interval for mean document length
    * (q145) — THE bootstrap that works at 100 TB: instead of drawing
    * B independent resamples (impossible without B full shuffles),
    * every row carries a deterministic pseudo-Poisson(1) weight per
    * replicate (Poisson bootstrap, Chamandy et al., Google 2012 —
    * "Estimating uncertainty for massive data streams"), and each
    * replicate's weighted mean is one keyed aggregation.  The CI is
    * the 2nd / 63rd order statistic of the B = 64 replicate means
    * (~the 2.5 / 97.5 percentiles).
    *
    * Determinism: the weight is an inverse-CDF lookup on u = (h +
    * 0.5)/65536 where h is md5 digits 1–4 of "doc_id#replicate" (a
    * hash input disjoint from the q63/q75/q98/q134 sampling keys);
    * the CDF thresholds are literal doubles written e0-suffixed in
    * the oracle so DuckDB parses them as DOUBLE, not DECIMAL (the
    * q140 lesson); per-replicate sums are exact integers through
    * DECIMAL(38,0); each mean is ONE divide; order statistics pick
    * by row_number with the replicate-id tiebreak.  A zero-weight
    * replicate (P = e^{-N}) pins 0.0 behind a guard.
    *
    * 100 TB shape: the explode is a ×B narrow blowup that map-side
    * combine collapses to B rows per partition BEFORE the shuffle —
    * one keyed shuffle of B·partitions tiny rows, then the order
    * statistics run on a B-row frame.  No resample materialization,
    * no per-replicate pass.
    */
  def bootstrapCi(spark: SparkSession, dir: String, b: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars")
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit("#"),
      col("b").cast("string"))), 1, 4), 16, 10).cast("int")
    val u = (col("h").cast("double") + lit(0.5)) / lit(65536.0)
    // Poisson(1) CDF: cumulative e^{-1} * sum 1/k!
    val w = when(col("u") < lit(0.36787944117144233), 0L)
      .when(col("u") < lit(0.7357588823428847), 1L)
      .when(col("u") < lit(0.9196986029286058), 2L)
      .when(col("u") < lit(0.9810118431238462), 3L)
      .when(col("u") < lit(0.9963401531726563), 4L)
      .when(col("u") < lit(0.9994058151824183), 5L)
      .otherwise(6L)
    // eager-pinned: two order-statistic consumers (lo + hi) below
    val means = graft.util.Pins.eager(docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(b))).as("b"))
      .withColumn("h", h).withColumn("u", u).withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("w").cast(dec)).cast("double").as("sw"),
        sum((col("w") * col("n_chars")).cast(dec)).cast("double").as("swx"))
      .select(col("b"),
        when(col("sw") > 0, col("swx") / col("sw")).otherwise(lit(0.0)).as("m"))
      .withColumn("rk", row_number().over(Window.orderBy(col("m"), col("b")))))
    val lo = means.filter(col("rk") === 2).select(col("m").as("ci_lo"))
    val hi = means.filter(col("rk") === b - 1).select(col("m").as("ci_hi"))
    val point = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast(dec)).cast("double").as("sx"))
      .select(col("n_docs"),
        (col("sx") / col("n_docs").cast("double")).as("mean_chars"))
    broadcast(point).crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n_docs"), col("mean_chars"), col("ci_lo"), col("ci_hi"),
        lit(b).as("b_reps"))
  }

  /** Token burstiness — index of dispersion (q148, Church & Gale
    * 1995): variance-to-mean ratio of a token's per-document count
    * over ALL documents (zeros included).  Function words arrive
    * ~Poisson (D ≈ 1); content/topic words are bursty (D ≫ 1 — a doc
    * that mentions them mentions them many times); template
    * boilerplate sits at the extreme.  The top-M bursty tokens are
    * the vocabulary a keyword extractor or stop-list builder should
    * look at first.
    *
    *   D = Var/mean = (N·Σc² − (Σc)²) / (N·Σc)
    *
    * computed from exact integer sums over CONTAINING docs only —
    * the zero cells contribute nothing to Σc or Σc², so the full-N
    * statistic never materializes a dense token×doc frame.
    * Determinism: Σc, Σc² through DECIMAL(38,0) (the q118 rule); N
    * broadcast; one fixed-order double expression; (dispersion desc,
    * token) total order at the cut.
    *
    * 100 TB shape: one (doc, token) keyed shuffle with map-side
    * combine, one token-keyed re-agg, minDf filter BEFORE the sort,
    * TakeOrderedAndProject for the bounded cut — the q29/q85 vocab
    * contract; nothing dense, nothing all-pairs.
    */
  def tokenBurstiness(spark: SparkSession, dir: String,
                      minDf: Int = 5, m: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum(col("c").cast(dec)).cast("double").as("sc"),
        sum((col("c") * col("c")).cast(dec)).cast("double").as("sc2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("df"),
        col("sc").cast("long").as("tf_total"),
        ((col("n_docs").cast("double") * col("sc2") - col("sc") * col("sc")) /
          (col("n_docs").cast("double") * col("sc"))).as("dispersion"))
      .orderBy(col("dispersion").desc, col("token").asc)
      .limit(m)
  }

  /** Split-vocabulary affinity audit (q151): Bhattacharyya affinity
    * (and Hellinger distance) between the token distributions of the
    * q63 train/valid/test splits — the distributional companion to
    * q117's doc-identity leakage check.  A hash split is supposed to
    * be exchangeable: BC ≈ 1 for every pair.  A pair drifting low
    * means the split correlated with content (id assignment bias) and
    * eval numbers won't transfer.  Hellinger over JSD deliberately —
    * the q128 determinism record: last-ulp ln is
    * implementation-defined across engines, √ is correctly rounded.
    *
    * Determinism: the split is the q63 md5 bucket rule verbatim;
    * probabilities are one divide of exact integer counts; the
    * affinity folds √(p·q) in token order (sort_array ↔ list ORDER
    * BY); missing tokens contribute exactly 0 so the inner join IS
    * the statistic.
    *
    * 100 TB shape: one (split, token) keyed shuffle with map-side
    * combine (3 × vocab cells), split totals broadcast back, and the
    * pair work runs on the bounded weighted-vocab frame (eager-pinned
    * for its two self-join lineages) — q128's shape with splits for
    * sources.
    */
  def splitAffinity(spark: SparkSession, dir: String,
                    trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val split = when(md5Bucket(1) < trainPct, "train")
      .when(md5Bucket(1) < trainPct + validPct, "valid")
      .otherwise("test")
    val cs = Tables.documents(spark, dir)
      .select(split.as("split"), explode(tokens(col("text"))).as("token"))
      .groupBy("split", "token").agg(count(lit(1)).as("c"))
    val ts = cs.groupBy("split").agg(sum(col("c")).as("t"))
    val w = graft.util.Pins.eager(
      cs.join(broadcast(ts), Seq("split"))
        .select(col("split"), col("token"),
          (col("c").cast("double") / col("t").cast("double")).as("p")))
    val a = w.toDF("split_a", "token", "pa")
    val b = w.toDF("split_b", "token", "pb")
    a.join(b, Seq("token"))
      .filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_shared_terms"),
        aggregate(
          sort_array(collect_list(struct(col("token"),
            sqrt(col("pa") * col("pb")).as("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("bc_affinity"))
      .select(col("split_a"), col("split_b"), col("n_shared_terms"),
        col("bc_affinity"),
        sqrt(greatest(lit(0.0), lit(1.0) - col("bc_affinity"))).as("hellinger"))
  }

  /** Sequence-packing efficiency audit (q152): given q71's
    * boundary-agnostic greedy packing (documents laid head-to-tail
    * into fixed context windows), how much document FRAGMENTATION
    * does the context length cause?  Every pack is 100% full by
    * construction; the cost dimension is documents split across pack
    * boundaries (a fragment loses its left context — more crossings
    * ⇒ more truncation damage at train time).  The audit that picks
    * contextLen.
    *
    *   crossings(d) = (cum+len−1) div L − cum div L
    *
    * Determinism: pure integer arithmetic end-to-end (the q71
    * offsets are exact integer token positions); the two rates are
    * single divides at the end.
    *
    * 100 TB shape: inherits q71's GlobalPrefix offset (no
    * single-task window), then ONE partial+final agg to a single row.
    */
  def packingEfficiency(spark: SparkSession, dir: String,
                        contextLen: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val per = sequencePacking(spark, dir, contextLen)
      .select(col("n_tok"),
        (expr(s"(cum_before + n_tok - 1) DIV $contextLen") -
          expr(s"cum_before DIV $contextLen")).as("crossings"))
    per.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast(dec)).cast("long").as("total_tokens"),
        sum(when(col("crossings") > 0, 1L).otherwise(0L)).as("n_crossing_docs"),
        sum(col("crossings").cast(dec)).cast("long").as("total_crossings"))
      .select(col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + $contextLen - 1) DIV $contextLen").as("n_packs"),
        col("n_crossing_docs"), col("total_crossings"),
        (col("n_crossing_docs").cast("double") / col("n_docs").cast("double"))
          .as("crossing_rate"),
        (lit(1.0) + col("total_crossings").cast("double") /
          col("n_docs").cast("double")).as("mean_fragments"))
  }

  /** Hill tail-index estimator for document lengths (q153, Hill
    * 1975): over the top-k order statistics X₍₁₎ ≥ … ≥ X₍ₖ₊₁₎,
    *
    *   Ĥ = (1/k) Σᵢ [ln X₍ᵢ₎ − ln X₍ₖ₊₁₎],   α̂ = 1/Ĥ
    *
    * α̂ ≈ 1–2 means a genuinely heavy (infinite-variance-ish) length
    * tail — chunking and packing budgets must plan for extreme docs;
    * large α̂ means the tail is benign.  The distribution-shape
    * companion to q131's Gini and q85's Zipf fit, aimed at the TAIL
    * rather than the body.
    *
    * Determinism: the top-(k+1) cut is (n_chars desc, doc_id) total
    * order; ln runs on INTEGER-valued doubles (well away from the
    * near-1 region of the q128 ulp record) through the shared
    * GraftLn ↔ libm pair; the k contributions fold in rank order;
    * α̂ guards Ĥ = 0 (all top-k tied) to 0.0.
    *
    * 100 TB shape: TakeOrderedAndProject — the top-(k+1) frame is
    * bounded by construction (per-partition heaps, no global sort);
    * everything after is a k-row fold.
    */
  def hillTailIndex(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(spark, dir)
      .select(col("n_chars"), col("doc_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .limit(k + 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id").asc)))
    val xk1 = ranked.filter(col("rn") === k + 1)
      .select(col("n_chars").as("x_k1"))
    val hill = ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(xk1))
      .select(col("rn"), col("x_k1"),
        (graft.functions.MathFunctions.ln(col("n_chars").cast("double")) -
          graft.functions.MathFunctions.ln(col("x_k1").cast("double"))).as("contrib"))
      .groupBy("x_k1")
      .agg((aggregate(
          sort_array(collect_list(struct(col("rn"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib"))
        / lit(k.toDouble)).as("hill"))
    hill.select(lit(k).as("k"), col("x_k1"), col("hill"),
      when(col("hill") > 0, lit(1.0) / col("hill")).otherwise(lit(0.0)).as("alpha"))
  }

  /** Length-weighted effective sample size per source (q158, Kish
    * 1965): if documents are sampled proportional to length (what
    * token-budget sampling like q134 does), how many EFFECTIVE
    * documents does each source contribute?
    *
    *   ESS = (Σw)² / Σw²,  w = n_chars
    *
    * ESS/n → 1 means uniform lengths (weighting is harmless);
    * ESS/n → 0 means a few giant docs dominate the source's sampled
    * mass — the variance-inflation warning for any length-weighted
    * mixture, and the planning twin of q131's Gini (same skew, read
    * as a sample-size discount instead of a concentration index).
    *
    * Determinism: Σw and Σw² are exact integers through
    * DECIMAL(38,0); ESS is one fixed multiply/divide sequence; the
    * ratio one more divide.
    *
    * 100 TB shape: one source-keyed partial+final agg; output is
    * sources × 1.  Nothing else.
    */
  def effectiveSampleSize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast(dec)).cast("double").as("sw"),
        sum((col("w") * col("w")).cast(dec)).cast("double").as("sw2"))
      .select(col("source"), col("n_docs"),
        col("sw").cast("long").as("total_chars"),
        (col("sw") * col("sw") / col("sw2")).as("ess"),
        (col("sw") * col("sw") / col("sw2") / col("n_docs").cast("double"))
          .as("ess_ratio"))
  }

  /** Train→test calibration audit per source (q161): predict each
    * test doc's P(lang = en) with its source's TRAIN-split base rate
    * and score the prediction with the Brier score — the calibration
    * companion to q141's AUC (discrimination asks "does the signal
    * rank positives first"; calibration asks "is the predicted
    * probability honest").  For a binary outcome the Brier expands to
    *
    *   B = (p²·n − 2p·k + k)/n,   k = test positives
    *
    * so the whole statistic is exact-integer until fixed-order
    * double arithmetic on (p, n, k).  Sources missing from either
    * split are dropped (inner semantics — no rate exists to test).
    *
    * Determinism: the split is the q63 md5 rule; p and every output
    * is a fixed divide/multiply sequence over exact integers.
    *
    * 100 TB shape: ONE (source, split) keyed count agg over the
    * corpus; the calibration math runs on the sources-bounded frame.
    */
  def sourceCalibration(spark: SparkSession, dir: String,
                        trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val split = when(md5Bucket(1) < trainPct, "train")
      .when(md5Bucket(1) < trainPct + validPct, "valid")
      .otherwise("test")
    val cells = Tables.documents(spark, dir)
      .select(col("source"), split.as("split"),
        when(col("lang") === "en", 1L).otherwise(0L).as("en"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n"), sum(col("en")).as("k"))
    val tr = cells.filter(col("split") === "train")
      .select(col("source"), col("n").as("train_n"), col("k").as("train_k"))
    val te = cells.filter(col("split") === "test")
      .select(col("source"), col("n").as("test_n"), col("k").as("test_k"))
    tr.join(te, Seq("source"))
      .filter(col("train_n") > 0 && col("test_n") > 0)
      .withColumn("p", col("train_k").cast("double") / col("train_n").cast("double"))
      .select(col("source"), col("train_n"), col("test_n"), col("p").as("p_train"),
        (col("test_k").cast("double") / col("test_n").cast("double")).as("test_rate"),
        ((col("p") * col("p") * col("test_n").cast("double") -
          lit(2.0) * col("p") * col("test_k").cast("double") +
          col("test_k").cast("double")) / col("test_n").cast("double")).as("brier"))
  }

  /** Cumulative gains / lift table (q162): rank documents by the
    * quality signal (n_chars desc), cut into 10 explicit deciles,
    * and report each decile's cumulative capture of the positive
    * class (lang = en) and its lift over random targeting — the
    * decile-ranked companion to q141 (AUC integrates this curve; the
    * table is what a filtering budget actually reads: "the top 30%
    * by length captures X% of English docs").
    *
    * Decile = ((rank−1)·10) div n + 1 — an explicit integer formula,
    * not engine ntile (whose tie-splitting is implementation-
    * defined); rank is (n_chars desc, doc_id) total order.
    *
    * Determinism: ranks via GlobalPrefix (no single-task window over
    * the corpus); per-decile counts exact integers;
    * cumulative sums integer windows over the 10-row frame; capture
    * and lift single divides.
    *
    * 100 TB shape: one range shuffle for the global rank, one
    * 10-cell agg, windows on 10 rows.
    */
  def gainsTable(spark: SparkSession, dir: String, parts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nParts = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val deciles = GlobalPrefix( // EAGER: the rank's offsets arrive by broadcast
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y")),
        nParts, eager = true, keys = Nil,
        order = Seq(col("n_chars").desc, col("doc_id").asc))(
        GlobalPrefix.Running("rn", total = Some("n")))
      .withColumn("decile", (expr("((rn - 1) * 10) DIV n") + lit(1)).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("tot_docs", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("tot_pos", sum(col("n_pos")).over(Window.partitionBy()))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        col("cum_docs"), col("cum_pos"),
        (col("cum_pos").cast("double") / col("tot_pos").cast("double"))
          .as("capture_rate"),
        ((col("cum_pos").cast("double") / col("cum_docs").cast("double")) /
          (col("tot_pos").cast("double") / col("tot_docs").cast("double")))
          .as("lift"))
  }

  /** Delete-one-source jackknife for the chars-per-token ratio
    * (q163, Quenouille/Tukey; delete-a-GROUP jackknife per Kott
    * 2001): the corpus ratio θ = ΣC/ΣT is a ratio of sums, so its
    * variance has no closed form — the jackknife recomputes θ with
    * each source deleted (θ₍ⱼ₎ = (C−cⱼ)/(T−tⱼ)) and reads the
    * spread.  Deleting SOURCES (not docs) is what makes this the
    * right error bar at corpus scale: sources are the correlated
    * sampling unit, and J stays bounded.
    *
    *   var_jack = (J−1)/J · Σⱼ (θ₍ⱼ₎ − θ̄)²
    *
    * Determinism: per-source char/token sums are exact integers
    * (DECIMAL(38,0)); each θ₍ⱼ₎ is one divide; both cross-source
    * reductions (θ̄ and the squared devs) fold in source order on
    * the J-bounded frame; se = √ is correctly rounded.
    *
    * 100 TB shape: ONE source-keyed partial+final agg over the
    * corpus; everything after runs on the J-row frame (eager-pinned
    * — totals, θ̄ and dev folds all consume it).
    */
  def jackknifeRatio(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cells = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), col("n_chars").as("c"),
          tokenCount(col("text")).cast("long").as("t"))
        .groupBy("source")
        .agg(sum(col("c").cast(dec)).as("cj"),
          sum(col("t").cast(dec)).as("tj")))
    // totals stay DECIMAL: a double total would re-order the fold
    val tot = cells.agg(sum(col("cj")).cast(dec).as("ct"),
      sum(col("tj")).cast(dec).as("tt"), count(lit(1)).as("j"))
    val thetas = graft.util.Pins.eager(
      cells.crossJoin(broadcast(tot))
        .select(col("source"),
          col("ct").cast("double").as("ct"), col("tt").cast("double").as("tt"),
          col("j"),
          ((col("ct") - col("cj")).cast("double") /
            (col("tt") - col("tj")).cast("double")).as("theta_j")))
    val bar = thetas.groupBy("j", "ct", "tt")
      .agg((aggregate(
          sort_array(collect_list(struct(col("source"), col("theta_j")))),
          lit(0.0), (acc, x) => acc + x.getField("theta_j"))
        / col("j").cast("double")).as("theta_bar"))
    thetas.crossJoin(broadcast(bar.select("theta_bar")))
      .groupBy("j", "ct", "tt", "theta_bar")
      .agg(aggregate(
        sort_array(collect_list(struct(col("source"),
          ((col("theta_j") - col("theta_bar")) *
            (col("theta_j") - col("theta_bar"))).as("d2")))),
        lit(0.0), (acc, x) => acc + x.getField("d2")).as("ss"))
      .select(col("j").as("n_sources"),
        (col("ct") / col("tt")).as("theta"),
        col("theta_bar"),
        ((col("j") - lit(1L)).cast("double") / col("j").cast("double") *
          col("ss")).as("var_jack"),
        sqrt((col("j") - lit(1L)).cast("double") / col("j").cast("double") *
          col("ss")).as("se_jack"))
  }

  /** Token-weighted length quantiles per source (q167): the q51
    * family asks "the median DOCUMENT is this long"; this asks "the
    * median TOKEN lives in a document this long" — the quantity that
    * governs chunking and packing budgets, because compute is spent
    * per token, not per document.  A source whose weighted median is
    * 5× its plain median hides most of its mass in a few giants
    * (q158's ESS says how much; this says WHERE the cut points are).
    *
    *   wQ(p) = min{ x : Σ_{len ≤ x} tok ≥ p·T }
    *
    * Determinism: cumulative token weights are exact integer window
    * sums over the (n_chars, doc_id) total order; the quantile picks
    * are integer comparisons (2·cum ≥ T, 10·cum ≥ 9·T — no division
    * anywhere); outputs are exact integers.
    *
    * 100 TB shape: ONE source-keyed sort window computes both the
    * running and total weights; the picks are conditional mins in the
    * same keyed agg.  No global sort, no second pass.
    */
  def weightedLengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source")
    val ord = bySrc.orderBy(col("n_chars").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("cumw", sum(col("tok")).over(ord))
      .withColumn("tot", sum(col("tok")).over(bySrc))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("tot")).as("total_tokens"),
        min(when(lit(2L) * col("cumw") >= col("tot"), col("n_chars")))
          .as("w_median_chars"),
        min(when(lit(10L) * col("cumw") >= lit(9L) * col("tot"), col("n_chars")))
          .as("w_p90_chars"))
  }

  /** Quantile normalization of document lengths across sources
    * (q142): map each doc's WITHIN-SOURCE percent-rank onto the
    * POOLED length distribution, so every source's length profile
    * becomes comparable on one scale — the standard pre-mix
    * transform when per-source length distributions diverge (the
    * q135 KS matrix measures the divergence; this removes it).
    * norm_chars is the largest pooled length whose global
    * percent-rank ≤ the doc's within-source percent-rank (as-of /
    * step-function semantics, the exact discrete analogue of
    * quantile mapping).
    *
    * Determinism: both percent-ranks are single divides of exact
    * integers ((rank−1)/(n−1), rank() giving ties the min rank), so
    * the doubles are bit-identical in both engines and the ≤
    * comparison agrees; the as-of pick is argmax over DISTINCT gp
    * values (distinct values ⇒ distinct first-occurrence ranks ⇒ no
    * tie).  Single-doc sources pin p = 0.0 behind a guard.
    *
    * 100 TB shape: the pooled step table is bounded by DISTINCT
    * lengths, not docs — built from a (score → count) cell agg and
    * broadcast; the Spark-side as-of is the argmax equi-less join
    * against that broadcast frame (at unbounded distinct-value
    * domains, swap in the q46 union-window as-of: one sort shuffle,
    * no fanout).  The per-doc percent-rank is one source-keyed
    * window — one shuffle total.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wSrc = Window.partitionBy("source").orderBy("n_chars")
    val perDoc = docs
      .withColumn("rk", rank().over(wSrc))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("p",
        when(col("ns") > 1,
          (col("rk") - lit(1)).cast("double") / (col("ns") - lit(1)).cast("double"))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("source"), col("n_chars"), col("p"))
    val cells = graft.util.Pins.eager(
      docs.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c")))
    val nTot = cells.agg(sum(col("c")).as("n_tot"))
    val steps = cells
      .withColumn("below", coalesce(sum(col("c")).over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(nTot))
      .select(col("v"),
        (col("below").cast("double") / (col("n_tot") - lit(1)).cast("double")).as("gp"))
    perDoc.join(broadcast(steps), col("gp") <= col("p"))
      .groupBy("doc_id", "source", "n_chars", "p")
      .agg(max(struct(col("gp"), col("v"))).as("m"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("p").as("src_pct"), col("m.v").as("norm_chars"))
  }

  /** Per-source Spearman rank correlation between document length and
    * quality (q169) — the monotone-association twin of q118's Pearson:
    * crawls where "longer is better" holds as a ranking (but not
    * linearly) show ρ >> r, which tells the pipeline whether a linear
    * length prior or a rank-based one belongs in the quality mix.
    *
    * Ranks with midrank ties, doubled to stay integral: a tied run of
    * c values starting at min-rank k has average rank k + (c−1)/2, so
    * 2·avg = 2·rank() + peers − 1 is an exact integer (`rx2`/`ry2`),
    * and Pearson on the doubled ranks equals Pearson on the averages
    * (affine invariance). All five moments are integer-exact
    * DECIMAL(38,0) sums; the only doubles are correctly-rounded
    * int→double casts and one fixed-order final formula — the q118
    * determinism rule.
    *
    * 100 TB shape: one sort per axis, and both the rank and the
    * peer count reuse the SAME window sort (peer count = count over a
    * RANGE current-row frame, which Spark evaluates on the rank's
    * sort) — two keyed sort shuffles bounded by the per-source doc
    * count, then one partial+final agg down to a sources-sized frame.
    * Spearman is rank-based, so per-key sorts are irreducible; what
    * matters is that no extra exchange sneaks in for the tie counts.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val d = Tables.documents(spark, dir).select(
      col("source"),
      col("n_chars").as("x"),
      floor(qualityScore(col("text")) * lit(1.0e6) + lit(0.5)).cast("long").as("y"))
    val wx = Window.partitionBy("source").orderBy("x")
    val wy = Window.partitionBy("source").orderBy("y")
    val peers = (w: org.apache.spark.sql.expressions.WindowSpec) =>
      count(lit(1)).over(w.rangeBetween(Window.currentRow, Window.currentRow))
    val r = d
      .withColumn("rx2", lit(2L) * rank().over(wx) + peers(wx) - lit(1L))
      .withColumn("ry2", lit(2L) * rank().over(wy) + peers(wy) - lit(1L))
    val n = col("n_docs").cast("double")
    r.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("rx2").cast(dec)).cast("double").as("sx"),
        sum(col("ry2").cast(dec)).cast("double").as("sy"),
        sum((col("rx2") * col("ry2")).cast(dec)).cast("double").as("sxy"),
        sum((col("rx2") * col("rx2")).cast(dec)).cast("double").as("sxx"),
        sum((col("ry2") * col("ry2")).cast(dec)).cast("double").as("syy"))
      .select(col("source"), col("n_docs"),
        ((n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(n * col("sxx") - col("sx") * col("sx")) *
            sqrt(n * col("syy") - col("sy") * col("sy")))).as("spearman_rho"))
  }

  /** PII-pattern scan per source (q179): counts of documents and of
    * total occurrences matching email-, URL- and long-digit-run
    * shaped patterns — the redaction-triage audit every training-data
    * pipeline runs before release (the census of WHERE scrubbing
    * effort goes, not the scrubber itself).
    *
    * Cross-engine regex discipline: Java regex (Spark) and RE2
    * (DuckDB) diverge on backrefs, lookahead and some class escapes —
    * the three patterns here use only literal classes, `+`/`{n,}`
    * quantifiers and alternation-free bodies, the common subset where
    * both engines produce identical non-overlapping match sets.
    *
    * 100 TB shape: a pure map over the corpus (regexp_extract_all is
    * per-row, codegen'd) followed by one partial+final agg per
    * source — zero joins, zero sorts; integer counts only.
    */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val pats = Seq(
      "email_like" -> "[a-z0-9]+@[a-z0-9]+\\.[a-z]+",
      "url_like" -> "http[s]?://[a-z0-9./]+",
      "digit_run" -> "[0-9]{7,}")
    val d = Tables.documents(spark, dir)
    val counted = d.select(col("source") +: pats.map { case (n, p) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long").as(n)
    }: _*)
    counted.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("email_like") > 0, 1L).otherwise(0L)).as("docs_email"),
      sum(col("email_like")).as("hits_email"),
      sum(when(col("url_like") > 0, 1L).otherwise(0L)).as("docs_url"),
      sum(col("url_like")).as("hits_url"),
      sum(when(col("digit_run") > 0, 1L).otherwise(0L)).as("docs_digits"),
      sum(col("digit_run")).as("hits_digits"))
  }

  /** One-way ANOVA of document length across sources (q171): F-test
    * of "do sources differ in mean length at all", plus the effect
    * size η² — the gatekeeper statistic before any per-source length
    * normalization (q142/q170) is worth its cost.
    *
    * Decomposition from integer moments only: per-source n_g, Σx, Σx²
    * are DECIMAL(38,0)-exact; the single cross-group double sum
    * Σ_g (Σx)²/n_g folds in source order over the sources-sized frame
    * (the q119/q163 ordered-fold rule), so the IEEE sequence is fixed
    * and both engines agree bitwise. SSB = that fold − S²/N,
    * SSW = ΣΣx² − fold, F = (SSB/(k−1))/(SSW/(N−k)).
    *
    * 100 TB shape: ONE partial+final hash agg over the corpus down to
    * a sources-sized frame; everything after — the broadcast totals
    * crossJoin and the ordered fold — is O(sources). The fold is the
    * price of determinism: a plain `sum` over per-group doubles would
    * re-associate across partitions.
    */
  def anovaLength(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("ng"),
        sum(col("x").cast(dec)).as("sg"),
        sum((col("x") * col("x")).cast(dec)).as("qg"))
    val tot = cells.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).cast(dec).as("s"), sum(col("qg")).cast(dec).as("q"))
    val nD = col("n").cast("double")
    val sb = col("fold") - (col("s") * col("s")).cast("double") / nD
    val sw = col("q").cast("double") - col("fold")
    val sst = col("q").cast("double") - (col("s") * col("s")).cast("double") / nD
    cells.crossJoin(broadcast(tot))
      .groupBy("k", "n", "s", "q")
      .agg(aggregate(
          sort_array(collect_list(struct(col("source"),
            ((col("sg") * col("sg")).cast("double") /
              col("ng").cast("double")).as("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("fold"))
      .select(col("k").as("n_sources"), col("n").as("n_docs"),
        sb.as("ss_between"), sw.as("ss_within"),
        ((sb / (col("k") - lit(1L)).cast("double")) /
          (sw / (nD - col("k").cast("double")))).as("f_stat"),
        (sb / sst).as("eta_sq"))
  }

  /** Welch's unequal-variance t-test between the two largest sources
    * (q172), with Welch–Satterthwaite degrees of freedom and Cohen's d
    * — the pairwise drill-down after q171's ANOVA says "they differ":
    * is the flagship pair's length gap real, and how big in
    * pooled-SD units?
    *
    * Group selection is deterministic: rank sources by (n_docs DESC,
    * source ASC) on the sources-sized frame and keep ranks 1–2. All
    * inputs are the same integer moments as q171; means and sample
    * variances convert to double once (exact decimal numerators), and
    * t/df/d are one fixed-order formula written identically in the
    * oracle, with v/n subterms spelled the same way everywhere so the
    * engines share the IEEE sequence.
    *
    * 100 TB shape: the corpus work is the same single partial+final
    * moment agg as q171; the rank window runs single-partition but on
    * a SOURCES-sized frame (bounded by the catalog, not the corpus —
    * the q163 exemption), and the pivot to one row is an O(k) agg.
    */
  def welchTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("ng"),
        sum(col("x").cast(dec)).as("sg"),
        sum((col("x") * col("x")).cast(dec)).as("qg"))
    val ranked = cells
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ng").desc, col("source").asc)))
      .filter(col("rn") <= 2)
    val side = (i: Int, c: String) => max(when(col("rn") === i, col(c)))
    val one = ranked.groupBy().agg(
      side(1, "source").as("source_a"), side(2, "source").as("source_b"),
      side(1, "ng").as("na"), side(2, "ng").as("nb"),
      side(1, "sg").as("sa"), side(2, "sg").as("sb"),
      side(1, "qg").as("qa"), side(2, "qg").as("qb"))
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val ma = col("sa").cast("double") / naD
    val mb = col("sb").cast("double") / nbD
    val va = (col("na").cast(dec) * col("qa") - col("sa") * col("sa")).cast("double") /
      (col("na") * (col("na") - lit(1L))).cast("double")
    val vb = (col("nb").cast(dec) * col("qb") - col("sb") * col("sb")).cast("double") /
      (col("nb") * (col("nb") - lit(1L))).cast("double")
    val se2 = va / naD + vb / nbD
    val df = (se2 * se2) /
      ((va / naD) * (va / naD) / (naD - lit(1.0)) +
        (vb / nbD) * (vb / nbD) / (nbD - lit(1.0)))
    val pooled = sqrt(((naD - lit(1.0)) * va + (nbD - lit(1.0)) * vb) /
      (naD + nbD - lit(2.0)))
    one.select(col("source_a"), col("source_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      ((ma - mb) / sqrt(se2)).as("t_stat"),
      df.as("df_welch"),
      ((ma - mb) / pooled).as("cohen_d"))
  }

  /** Per-source ordinary-least-squares fit of quality on length
    * (q170): slope, intercept, and R² of quality_millionths ~ n_chars
    * — the "how much quality does a character buy" regression that
    * turns q118's correlation into an actionable length prior (and
    * whose residual scale feeds length-normalized quality gates).
    *
    * Same exact-moment discipline as q118/q169: x is the raw length,
    * y the millionths-quantized quality, all five sums integer-exact
    * in DECIMAL(38,0); slope/intercept/R² are one fixed-order double
    * formula over the cast moments, written identically in the DuckDB
    * oracle so both engines round identically.
    *
    * 100 TB shape: a single partial+final hash agg (map-side combine
    * does virtually all the work — five running integer sums per
    * source) producing a sources-sized frame; no sort, no join, no
    * window. This is the cheapest possible shape for grouped
    * regression, and it is exactly what `regr_slope`-style built-ins
    * compute — but those stream float updates in partition order,
    * which is non-deterministic under shuffle; the decimal moments
    * make the result reproducible run-to-run.
    */
  def groupedOls(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val d = Tables.documents(spark, dir).select(
      col("source"),
      col("n_chars").as("x"),
      floor(qualityScore(col("text")) * lit(1.0e6) + lit(0.5)).cast("long").as("y"))
    val n = col("n_docs").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      .select(col("source"), col("n_docs"),
        (cov / varx).as("slope"),
        ((col("sy") - (cov / varx) * col("sx")) / n).as("intercept"),
        ((cov * cov) / (varx * vary)).as("r2"))
  }

  /** Multinomial Naive Bayes language scoring (q187): train add-one-
    * smoothed per-language token models on the q63 train split and
    * predict the language of every test-split document — the TRAINED
    * twin of q30's closed-form n-gram heuristic, and the standard
    * first-pass lang-id / topic-routing classifier in ingest
    * pipelines (McCallum & Nigam, AAAI'98 workshop).
    *
    * Determinism: every probability is a ratio of exact integer
    * counts — log P(token|lang) = ln((c_tl+1)/(c_l+V)), prior
    * ln(n_l/N) — through graft_ln (libm parity); the per-(doc, lang)
    * log-likelihood folds in DOCUMENT ORDER (posexplode →
    * sort_array(collect_list) → fold, q84's pinning) so the DuckDB
    * oracle replays the exact IEEE add sequence; argmax tie-breaks
    * (joint desc, lang asc) on bit-identical doubles.
    *
    * 100 TB shape: (lang, token) counts are ONE keyed shuffle with
    * map-side combine producing a vocab×|langs|-bounded model; class
    * totals, priors, and V reduce that model, never the corpus; the
    * scoring join fans test tokens out only |langs|× (langs is a
    * broadcast class-bounded frame) and equi-joins the model on
    * (lang, token); the fold shuffles once on the high-cardinality
    * doc key and the argmax is a per-doc window over ≤|langs| rows.
    */
  def naiveBayesLang(spark: SparkSession, dir: String,
                     trainPct: Int = 80, testFrom: Int = 90): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = md5Bucket(1)
    val ln = graft.functions.MathFunctions.ln _
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), bucket.as("bucket"))
    val train = docs.filter(col("bucket") < trainPct)
    val ctl = train
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("ctl"))
    val cl = ctl.groupBy("lang").agg(sum(col("ctl")).as("cl"))
    val v = ctl.agg(countDistinct(col("token")).as("v"))
    val pri = train.groupBy("lang").agg(count(lit(1)).as("nl"))
    val n = pri.agg(sum(col("nl")).as("n"))
    // class-bounded frame: one row per trained language
    val classes = cl.join(pri, Seq("lang"))
    val testToks = docs.filter(col("bucket") >= testFrom)
      .select(col("doc_id"), col("lang").as("true_lang"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val scored = testToks
      .crossJoin(broadcast(classes))
      .join(ctl, Seq("lang", "token"), "left")
      .crossJoin(broadcast(v))
      .withColumn("logp", ln(
        (coalesce(col("ctl"), lit(0L)) + lit(1L)).cast("double") /
          (col("cl") + col("v")).cast("double")))
    val joint = scored
      .groupBy("doc_id", "true_lang", "lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")).as("total_logp"),
        first(col("nl")).as("nl"))
      .crossJoin(broadcast(n))
      .withColumn("joint",
        col("total_logp") + ln(col("nl").cast("double") / col("n").cast("double")))
    val w = Window.partitionBy("doc_id").orderBy(col("joint").desc, col("lang").asc)
    joint.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("predicted"),
        col("n_tokens"), col("joint").as("log_joint"),
        when(col("lang") === col("true_lang"), lit(1)).otherwise(lit(0)).as("is_correct"))
  }

  /** Dirichlet-smoothed log-odds salient terms per source (q192,
    * Monroe, Colaresi & Quinn 2008 "Fightin' Words"): for each
    * source, the tokens most over-represented vs the REST of the
    * corpus, scored by the z-scaled log-odds-ratio δ/√σ² — the
    * corpus-comparison operator behind "what does this crawl talk
    * about that the others don't", sharper than raw tf-idf because
    * the variance term kills the low-count noise tf-idf surfaces.
    *
    * Determinism: y, yr, ns, nr, V are exact integers; α = 0.5 keeps
    * every smoothed term exactly representable; the δ and σ² chains
    * are written in ONE fixed operation order mirrored verbatim in
    * the oracle (two graft_ln calls, one subtract, two divides, one
    * add, one sqrt); the per-source top-M window tie-breaks
    * (z desc, token asc).
    *
    * 100 TB shape: (source, token) counts are ONE keyed shuffle with
    * map-side combine; corpus totals re-aggregate that vocab-bounded
    * frame; per-source totals and V broadcast back; the minCount ≥ 5
    * floor (q97's rule) prunes the long tail before any scoring; the
    * top-M window is keyed by source over the pruned vocab.
    */
  def logOddsTerms(spark: SparkSession, dir: String,
                   minCount: Int = 5, topM: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ln = graft.functions.MathFunctions.ln _
    val c = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("y"))
    val tot = c.groupBy("token").agg(sum(col("y")).as("yt"))
    val ns = c.groupBy("source").agg(sum(col("y")).as("ns"))
    val nn = ns.agg(sum(col("ns")).as("n"))
    val v = tot.agg(count(lit(1)).as("v"))
    val half = lit(0.5)
    val scored = c.filter(col("y") >= minCount)
      .join(tot, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(v))
      .withColumn("yr", col("yt") - col("y"))
      .withColumn("nr", col("n") - col("ns"))
      .withColumn("z",
        (ln((col("y") + half) / (col("ns") + half * col("v") - col("y") - half)) -
          ln((col("yr") + half) / (col("nr") + half * col("v") - col("yr") - half))) /
          sqrt(lit(1.0) / (col("y") + half) + lit(1.0) / (col("yr") + half)))
    val w = Window.partitionBy("source").orderBy(col("z").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topM)
      .select(col("source"), col("rank"), col("token"), col("y").as("y_source"), col("z"))
  }

  /** Good–Turing frequency-of-frequencies table (q194, Gale &
    * Sampson 1995): for each observed count r, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r and the unseen-mass estimate
    * p₀ = N₁/N — the LM-smoothing companion to q83's add-one
    * baseline (add-one over-discounts frequent tokens; GT discounts
    * by what the frequency spectrum itself says) and the standard
    * "how much probability belongs to words we've never seen"
    * coverage gauge for a crawl.
    *
    * Determinism: N_r, N, and N₁ are exact integers; r* is one
    * fixed-order chain (cast-multiply-divide) and p₀ a single
    * divide, mirrored verbatim.  Rows keep only r ≤ maxR with
    * N_{r+1} > 0 (plain GT is undefined on spectrum gaps; the
    * smoothed-spectrum variant is a regression, out of scope by
    * design).
    *
    * 100 TB shape: token counts are ONE keyed shuffle with map-side
    * combine; the frequency spectrum re-aggregates the vocab-bounded
    * frame; the r↔r+1 join and the broadcast totals run on the
    * ≤maxR-row spectrum.
    */
  def goodTuring(spark: SparkSession, dir: String, maxR: Int = 20): DataFrame = {
    // bigram counts, not unigram: the fixture vocabulary is ~31 tokens,
    // so every unigram count is in the hundreds and the low-r spectrum
    // (the part Good-Turing exists for) would be empty; bigram counts
    // reach down to hapax legomena. Same count table as q83's LM.
    val counts = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= 2)
      .select(explode(shingles(col("text"), 2)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("r"))
    val fof = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
    val nTot = counts.agg(sum(col("r")).as("n"))
    val n1 = fof.agg(
      coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L)).as("n_1"))
    val next = fof.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    fof.filter(col("r") <= maxR)
      .join(next, Seq("r"))
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(n1))
      .select(col("r"), col("n_r"), col("n_r1"),
        ((col("r") + 1).cast("double") * col("n_r1").cast("double")
          / col("n_r").cast("double")).as("r_star"),
        (col("n_1").cast("double") / col("n").cast("double")).as("p_unseen"))
  }

  /** Tokenizer fertility profile (q221): chars-per-token,
    * bytes-per-token and tokens-per-doc by source — the first number
    * a tokenizer owner asks of a new corpus slice (fertility drift
    * between sources skews the effective token budget and the packing
    * plan q71 computes).  Whitespace tokens are the house tokenizer;
    * byte length is the UTF-8 octet count.
    *
    * Determinism: every aggregate is an exact integer sum; the three
    * ratios are single divides of exact integers.
    *
    * 100 TB shape: one scan, one source-keyed aggregate with map-side
    * combine — nothing else.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        sum(col("bytes")).as("n_bytes"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"), col("n_bytes"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double")).as("chars_per_token"),
        (col("n_bytes").cast("double") / col("n_tokens").cast("double")).as("bytes_per_token"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("tokens_per_doc"))
      .orderBy(col("source"))

  /** Mixture-plan execution audit (q225): turn q70's token-equalizing
    * weights into an actual deterministic sample — per source, a doc
    * quota derived from the equal token budget (τ · total / sources),
    * filled in stable md5-priority order — and report what the plan
    * REALIZED: docs and tokens taken, and the take's share of the
    * budget.  q70 computes weights, q75/q98/q134 sample by count or
    * mass; this is the missing step that executes a mixture recipe
    * and audits how close the integer world got to the real-valued
    * plan (small sources saturate, long-doc sources overshoot).
    *
    * Determinism: quotas are pure integer arithmetic
    * (⌈budget·n_docs/n_tokens⌉ as (a·b + c − 1) div c), the fill
    * order is md5 hex digits 21–24 (independent of every other digit
    * range in use: q63 1–4, q75 5–8, q98 9–12, q134 13–16, q219
    * 17–20) with doc_id tiebreak, token sums are exact integers, and
    * the one share divide happens on doubles at the end.
    *
    * 100 TB shape: one corpus scan for the stats, one for the ranked
    * fill (per-source window, the q98-accepted top-k shape), bounded
    * per-source stats broadcast back; output is one row per source.
    */
  def mixtureSample(spark: SparkSession, dir: String,
                    tau: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val planned = per.crossJoin(broadcast(tot))
      .withColumn("token_budget",
        floor(lit(tau) * col("total_tokens").cast("double")
          / col("n_sources").cast("double")).cast("long"))
      .withColumn("quota_docs",
        expr("(token_budget * n_docs + n_tokens - 1) div n_tokens"))
      .select(col("source").as("p_source"), col("n_docs"), col("n_tokens"),
        col("token_budget"), col("quota_docs"))
    val priority = conv(substring(md5(col("doc_id").cast("string")), 21, 4), 16, 10)
      .cast("int")
    val w = Window.partitionBy("source").orderBy(col("priority").asc, col("doc_id").asc)
    val taken = docs
      .withColumn("priority", priority)
      .withColumn("rank", row_number().over(w))
      .join(broadcast(planned), col("source") === col("p_source"))
      .filter(col("rank") <= col("quota_docs"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("taken_docs"), sum(col("n_tok")).as("taken_tokens"))
    planned.join(taken, col("p_source") === col("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_budget"), col("quota_docs"),
        col("taken_docs"), col("taken_tokens"),
        (col("taken_tokens").cast("double")
          / col("token_budget").cast("double")).as("budget_share"))
      .orderBy(col("source"))
  }

  /** Deterministic shard assignment + balance audit (q219): every
    * training-data export ends in "write N shards a fleet of loaders
    * can stream" — the shard id must be a pure function of the row
    * (reproducible across reruns and engines), and the export is only
    * usable if no shard is pathologically heavy.  Shard = md5 hex
    * digits 17–20 of doc_id mod `nShards` (independent of the q63/q75
    * split digits, q98's 9–12 priority and q134's 13–16 uniform;
    * nShards defaults to 12 — not a power of 16, so every hex digit
    * contributes).  Per shard: doc count, exact char mass, and the
    * count's skew ratio against the ideal uniform share.
    *
    * 100 TB shape: one scan, one `nShards`-key aggregate with
    * map-side combine; the 1-row total broadcasts back.  The skew
    * ratio is the loader-stall early-warning — a ratio ≫ 1 means one
    * shard serializes the epoch (the same failure mode q127's
    * mega-source guard addresses at the window level).
    */
  def shardBalance(spark: SparkSession, dir: String,
                   nShards: Int = 12): DataFrame = {
    val shard = pmod(conv(substring(md5(col("doc_id").cast("string")), 17, 4), 16, 10)
      .cast("int"), lit(nShards))
    // pinned eagerly: the output rows AND the 1-row total both consume
    // this nShards-row frame — without the pin each lineage re-scans
    // the corpus (the q204 rule)
    val perShard = graft.util.Pins.eager(Tables.documents(spark, dir)
      .select(shard.as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars")))
    val total = perShard.agg(sum(col("n_docs")).as("total_docs"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("n_chars"),
        (col("n_docs").cast("double")
          / (col("total_docs").cast("double") / lit(nShards.toDouble))).as("doc_skew"))
      .orderBy(col("shard"))
  }

  /** q238: systematic probability-proportional-to-size sampling — k
    * equal-weight strata per source over the doc_id-ordered cumulative
    * n_chars axis; a document is selected when its weight interval
    * crosses a stratum boundary (so selection probability ∝ size, and
    * a document wider than one stratum is selected once but counted
    * for every stratum it covers).  This is the survey-sampling PPS
    * design in its deterministic systematic form: no RNG, no
    * transcendental key transform (the A-ES exponential-key trick
    * needs pow/ln, which are NOT bit-portable across engines — exact
    * integer boundary-crossing is), and the take is reproducible from
    * the data alone.
    *
    * Determinism: cum·k and boundary indices are exact BIGINT products
    * (cum ≤ per-source corpus chars; ×k=50 stays far inside 2⁶³ for
    * any realistic shard — at 10¹⁷ chars/source, widen to
    * DECIMAL(38,0)); positive-operand `div` is the floor DuckDB's `//`
    * takes.
    *
    * 100 TB shape: the cumulative axis is GlobalPrefix's two-pass
    * prefix sum keyed by source, so one mega-source CANNOT serialize
    * through a single window partition; the output is ≤ k rows per
    * source.
    */
  def ppsSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    GlobalPrefix(
        Tables.documents(spark, dir).select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("w")),
        spark.sparkContext.defaultParallelism, eager = false, keys = Seq("source"),
        order = Seq(col("doc_id").asc))(GlobalPrefix.Running("cum", Some("w"), total = Some("wt")))
      .withColumn("hi", expr(s"(cum * $k) div wt"))
      .withColumn("lo", expr(s"((cum - w) * $k) div wt"))
      .filter(col("hi") > col("lo"))
      .select(col("source"), col("doc_id"), col("w").as("n_chars"),
        col("cum").as("cum_chars"), (col("hi") - col("lo")).as("strata_covered"))

  /** Source key for the KMV sketch rows; a case class (not a tuple) so
    * the grouped-aggregation encoder is stable across Scala versions.
    */
  final case class HvRow(source: String, hv: Long)

  /** Bounded k-smallest typed Aggregator: the KMV sketch state.  The
    * buffer is a sorted ascending Seq of at most k hash values, so
    * partial (map-side) aggregation carries O(k) state per source and
    * the merge is associative+commutative — the textbook mergeable
    * sketch.  The common-case reduce (value above the current k-th
    * minimum) is an O(1) reject.
    */
  final class KSmallest(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[HvRow, Seq[Long], Seq[Long]] {
    private def trim(xs: Seq[Long]): Seq[Long] = xs.sorted.take(k)
    override def zero: Seq[Long] = Seq.empty
    override def reduce(b: Seq[Long], a: HvRow): Seq[Long] =
      if (b.length >= k && a.hv >= b.last) b else trim(b :+ a.hv)
    override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] = trim(b1 ++ b2)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** q241: KMV (k-minimum-values) distinct-cardinality sketch per
    * source, plus the merged `__all__` union sketch, audited against
    * the exact distinct count.  Hash: the first 15 hex digits of
    * md5(token) folded to a 60-bit BIGINT — `conv(hex, 16, 10)` here,
    * a positional base-16 fold in the oracle — so both engines derive
    * the identical integer and the estimate `(k-1) / (h_(k) / 2^60)`
    * is bit-identical (casts and divides are correctly-rounded IEEE on
    * identical operands).  Cardinalities and estimates are over
    * distinct HASH values (md5 collisions collapse identically on both
    * engines; at 60 bits the fixture corpus has none).
    *
    * 100 TB shape: the sketch is a typed Aggregator with an O(k)
    * buffer, so the per-(source, partition) map-side state is 64 longs
    * and the shuffle carries one k-array per source per partition —
    * never the token stream.  Sketches merge associatively (the
    * `__all__` row IS the merge audit: union of per-source streams →
    * same estimator), which is what lets a 1000-executor scan
    * partial-aggregate locally and combine at the end.  The oracle
    * replays the k smallest per source with a window — fine at sf0.01,
    * exactly the formulation the bounded heap replaces at scale.
    */
  /** The 60-bit md5 hash shared by q241's KMV sketch and q254's ring
    * ownership (the oracle's positional base-16 fold mirrors it) —
    * ONE definition so the cross-engine bit-exactness contract is
    * structural, not two copies kept byte-identical by discipline.
    */
  private[operators] def hv60(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.Hv60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Pinned per-source distinct 60-bit token-hash frame (source, hv)
    * — ONE definition shared by q241's KMV sketch and q262's pair
    * similarity, so their "same fold" parity claim is structural
    * (the hv60 rule).  Pinned because every caller fans it into
    * multiple consumers.
    */
  private def perSourceHv(spark: SparkSession, dir: String): DataFrame =
    graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .select(col("source"), hv60(col("token")).as("hv"))
        .distinct())

  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    val twoPow60 = 1152921504606846976.0 // 2^60 = 16^15, exact double
    // pinned frames: perSourceHv feeds two branches of withAll, and
    // withAll feeds both the sketch and the exact count — without the
    // pins the corpus explode+hash+distinct runs four times
    val perSource = perSourceHv(spark, dir)
    val withAll = graft.util.Pins.eager(perSource.union(
      perSource.select(lit("__all__").as("source"), col("hv")).distinct()))
    val sk = withAll.as[HvRow].groupByKey(_.source)
      .agg(new KSmallest(k).toColumn.name("mins"))
      .toDF("source", "mins")
    val exact = withAll.groupBy("source").agg(count(lit(1)).as("n_distinct"))
    exact.join(sk, Seq("source"))
      .select(col("source"), col("n_distinct"),
        when(size(col("mins")) < k, col("n_distinct").cast("double"))
          .otherwise(lit((k - 1).toDouble)
            / (element_at(col("mins"), -1).cast("double") / lit(twoPow60)))
          .as("kmv_estimate"))
      .select(col("source"), col("n_distinct"), col("kmv_estimate"),
        (abs(col("kmv_estimate") - col("n_distinct").cast("double"))
          / col("n_distinct").cast("double")).as("rel_err"))
      .orderBy("source")
  }

  /** q262: KMV sketch SET ALGEBRA — pairwise source Jaccard estimated
    * from the per-source k-minimum-values sketches alone, audited
    * against the exact pairwise token-set Jaccard.  Where q241 uses
    * one sketch's k-th minimum to estimate a cardinality, this uses
    * the textbook KMV combination rule: for sources A, B the k
    * smallest values of sketch(A) ∪ sketch(B) are a uniform sample of
    * A ∪ B, so
    *
    *   Ĵ(A,B) = |K_k(sketch(A) ∪ sketch(B)) ∩ sketch(A) ∩ sketch(B)| / k_used
    *
    * (k_used = |K_k(...)| ≤ k handles small unions).  The exact side
    * (q96/q128's pairwise family) is an hv-keyed self-join; the
    * estimated side touches ONLY the 20 k-bounded sketch arrays.
    * Every output double is an exact-integer divide (correctly
    * rounded, bit-identical cross-engine; same md5 60-bit fold as
    * q241, [[hv60]]).
    *
    * 100 TB shape: this is the point of the query — cross-corpus
    * overlap for S sources needs only S·k longs (the sketches the
    * q241 scan already produces), never a second pass over the token
    * streams; the S² pair combination runs on a dimension-bounded
    * broadcast spine.  The exact self-join exists here as the audit
    * and retires at scale (fan-out bounded by sources² per token —
    * the q96 rule — so even the audit survives, but the sketch path
    * is O(S²·k) driver-side-free algebra).
    */
  def kmvPairSim(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    // pinned (inside perSourceHv): feeds the sketch agg, the size agg
    // and both sides of the exact-intersection self-join
    val perSource = perSourceHv(spark, dir)
    val sk = perSource.as[HvRow].groupByKey(_.source)
      .agg(new KSmallest(k).toColumn.name("mins")).toDF("source", "mins")
    val sz = perSource.groupBy("source").agg(count(lit(1)).as("n"))
    // pinned: the S-row sketch frame feeds BOTH sides of the pair
    // spine — unpinned, the KMV aggregation pass would run twice
    val dims = graft.util.Pins.eager(sk.join(sz, "source"))
    val spine = dims
      .select(col("source").as("source_a"), col("mins").as("ma"),
        col("n").as("n_a"))
      .crossJoin(broadcast(dims.select(col("source").as("source_b"),
        col("mins").as("mb"), col("n").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
    val inter = perSource.toDF("source_a", "hv")
      .join(perSource.toDF("source_b", "hv"), Seq("hv"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter_exact"))
    spine.join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("inter_exact"))
      .withColumn("u", slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
      .withColumn("k_used", size(col("u")).cast("long"))
      .withColumn("inter_sketch",
        size(array_intersect(array_intersect(col("u"), col("ma")), col("mb")))
          .cast("long"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("inter_exact"),
        (col("inter_exact").cast("double")
          / (col("n_a") + col("n_b") - col("inter_exact")).cast("double"))
          .as("jaccard_exact"),
        col("k_used"), col("inter_sketch"),
        (col("inter_sketch").cast("double") / col("k_used").cast("double"))
          .as("jaccard_est"))
      .withColumn("abs_err", abs(col("jaccard_est") - col("jaccard_exact")))
      .orderBy("source_a", "source_b")
  }

  /** q264: greedy set-cover corpus selection — pick up to `rounds`
    * sources maximizing cumulative coverage of distinct word-3-gram
    * shingles (the dedup family's universe; the unigram vocab is a
    * generator pool so small one source nearly covers it, which
    * would make the greedy trivially one round), the classic
    * (1 − 1/e)-approximate submodular-maximization greedy that
    * data-mixing pipelines use to choose which corpora buy the most
    * coverage.  Each round is one anti-join (uncovered shingles)
    * + one keyed count + a deterministic argmax (gain desc, source
    * asc); the chosen source's shingles move into the covered set.
    * A picked source contributes zero uncovered rows in every later
    * round, so it can never be re-picked — no explicit exclusion
    * bookkeeping exists on either engine.
    *
    * Determinism: gains and coverage are integer counts; the one
    * double (coverage_frac) is an exact-integer divide.  The oracle
    * unrolls the same greedy as `rounds` generated CTE stages
    * (q242/q244's unrolled-superstep pattern).
    *
    * 100 TB shape: each superstep is one shuffle-free anti-join
    * against the pinned covered frame plus a partial+final count;
    * the driver holds only the ≤`rounds` picked (source, gain) rows —
    * the covered-token set itself stays distributed (pinned per
    * round, q119/q72 superstep discipline).  Output is ≤`rounds`
    * rows, assembled driver-side like q255's literal frame.
    */
  def setCoverSources(spark: SparkSession, dir: String, rounds: Int = 5): DataFrame = {
    import spark.implicits._
    val perSource = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("source"),
          explode(shingleSet(col("text"), 3)).as("token"))
        .distinct())
    val total = perSource.select("token").distinct().count()
    var covered = perSource.select("token").limit(0)
    var picked = Vector.empty[(Int, String, Long, Long)]
    var cum = 0L
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = perSource
        .join(covered, Seq("token"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("source").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val src = top(0).getString(0)
        val gain = top(0).getLong(1)
        cum += gain
        picked :+= ((r, src, gain, cum))
        covered = graft.util.Pins.eager(
          covered.union(
            perSource.filter(col("source") === src).select("token")))
        r += 1
      }
    }
    picked.toDF("round", "source", "marginal_gain", "cum_covered")
      .withColumn("coverage_frac",
        col("cum_covered").cast("double") / lit(total.toDouble))
      .orderBy("round")
  }

  /** q267: Neyman-allocation sampling-design audit — the survey-design
    * companion to q238's PPS draw and q259's HT estimator: given a
    * fixed `budget` of sampled docs for estimating total corpus chars,
    * how should the budget split across source strata?  Per stratum:
    * N_h, mean, population std S_h (exact-integer moment formula, one
    * sqrt); the Neyman share N_h·S_h / Σ N_g·S_g vs the proportional
    * share N_h/N; and the two designs' estimator variances via the
    * closed forms  V_neyman = (Σ N_h·S_h)²/n  and
    * V_prop = (N/n)·Σ N_h·Var_h  (no fpc).  Neyman optimality
    * (V_neyman ≤ V_prop, Cauchy–Schwarz) is spec-asserted.
    *
    * Determinism: per-stratum moments are exact integers; S_h is one
    * IEEE sqrt; the two cross-strata totals are source-ordered folds
    * (strata are dimension-bounded BY DEFINITION, the q128 rule), and
    * every share/variance is a pinned sequence of IEEE ops.
    *
    * 100 TB shape: one partial+final keyed aggregate to stratum grain
    * (S rows), a broadcast 1-row totals frame — allocation math never
    * touches doc-grain data again.
    */
  def neymanAllocation(spark: SparkSession, dir: String, budget: Int = 200): DataFrame = {
    // pinned: the stratum frame feeds the totals fold AND the final
    // projection
    val st = graft.util.Pins.eager(Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n_docs"), col("sy"),
        ((col("n_docs") * col("syy") - col("sy") * col("sy")).cast("double")
          / (col("n_docs") * col("n_docs")).cast("double")).as("var_y"))
      .withColumn("std_y", sqrt(col("var_y")))
      .withColumn("ns", col("n_docs").cast("double") * col("std_y"))
      .withColumn("nv", col("n_docs").cast("double") * col("var_y")))
    val tot = st.agg(
      sum(col("n_docs")).as("n_total"),
      aggregate(sort_array(collect_list(struct(col("source"), col("ns")))),
        lit(0.0), (a, x) => a + x.getField("ns")).as("t_ns"),
      aggregate(sort_array(collect_list(struct(col("source"), col("nv")))),
        lit(0.0), (a, x) => a + x.getField("nv")).as("t_nv"))
    st.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("sy").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        col("std_y").as("std_chars"),
        // degenerate guard (the batch rule): all-constant strata give
        // t_ns = 0 — Spark's 0/0 is NULL, DuckDB's NaN; spell the NULL
        when(col("t_ns") === 0.0, lit(null).cast("double"))
          .otherwise(col("ns") / col("t_ns")).as("neyman_share"),
        (col("n_docs").cast("double") / col("n_total").cast("double")).as("prop_share"),
        ((col("t_ns") * col("t_ns")) / lit(budget.toDouble)).as("var_neyman"),
        ((col("n_total").cast("double") / lit(budget.toDouble)) * col("t_nv"))
          .as("var_prop"))
      .withColumn("efficiency_gain",
        when(col("var_prop") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("var_neyman") / col("var_prop")))
      .orderBy("source")
  }

  /** q269: isotonic CALIBRATION — the weighted isotonic (monotone
    * nondecreasing) L2 fit of the per-decile positive rate
    * P(lang='en' | length decile), computed by the exact MINIMAX
    * closed form of the PAVA solution (Barlow et al. 1972, public):
    *
    *   iso_i = max_{j ≤ i} min_{k ≥ i} ( Σ_{j..k} pos / Σ_{j..k} n )
    *
    * — the unique weighted isotonic regression, with bucket sizes as
    * weights.  The sequential pool-adjacent-violators loop becomes
    * three joins over the B-row bucket frame (B(B+1)/2 interval
    * means, then a grouped min and a grouped max), which is what
    * makes it DECLARATIVE and engine-portable; OperatorSpec replays
    * the classic stack PAVA and asserts bit-equality.
    *
    * Deciles come from GlobalPrefix's exact global rank (no
    * single-partition window) and q104's integer ntile arithmetic,
    * remainder buckets first.  Every interval mean is one
    * exact-integer divide; min/max over identical doubles are
    * engine-identical.
    *
    * 100 TB shape: corpus-scale work is the two-pass rank + one
    * keyed aggregate to B rows; the minimax algebra runs on
    * B²-bounded broadcast frames.
    */
  def isotonicCalibration(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val ranked = GlobalPrefix(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
        spark.sparkContext.defaultParallelism, eager = true, keys = Nil,
        order = Seq(col("n_chars").asc, col("doc_id").asc))(
        GlobalPrefix.Running("rank", total = Some("n")))
    // pinned: the B-row bucket frame feeds the pair spine, the
    // interval sums AND the final projection
    val buckets = graft.util.Pins.eager(
      ranked
        .withColumn("decile", ntileExpr(k))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos")))
    val iv = buckets.select(col("decile").as("j"))
      .crossJoin(broadcast(buckets.select(col("decile").as("kk"))))
      .filter(col("j") <= col("kk"))
      .join(broadcast(buckets), col("decile") >= col("j") && col("decile") <= col("kk"))
      .groupBy("j", "kk")
      .agg((sum(col("n_pos")).cast("double") / sum(col("n_docs")).cast("double"))
        .as("avg_jk"))
    val iso = buckets.select(col("decile").as("i"))
      .join(broadcast(iv), col("j") <= col("i") && col("kk") >= col("i"))
      .groupBy("i", "j").agg(min(col("avg_jk")).as("mn"))
      .groupBy("i").agg(max(col("mn")).as("iso_rate"))
    buckets.join(iso, col("decile") === col("i"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        (col("n_pos").cast("double") / col("n_docs").cast("double")).as("raw_rate"),
        col("iso_rate"))
      .orderBy("decile")
  }

  /** q270: Murphy (Brier-score) decomposition of q269's calibrated
    * forecast — the probabilistic-forecast evaluation triple
    * (public: Murphy 1973),
    *
    *   Brier = reliability − resolution + uncertainty
    *   reliability = Σ_b w_b (iso_b − rate_b)²   (calibration error)
    *   resolution  = Σ_b w_b (rate_b − p̄)²      (discrimination)
    *   uncertainty = p̄(1 − p̄),  w_b = n_b/N
    *
    * with the isotonic fit as the forecast (pooling flattens some
    * buckets, so reliability is nonzero exactly where PAVA pooled).
    * Brier itself is computed directly from the binary-outcome
    * identity E[(q−y)²] = q² − 2q·rate + rate per bucket; the spec
    * asserts the decomposition identity to 1e-12 (exact in rationals,
    * ulp-level in doubles — asserting bitwise equality of the two
    * sides would be asserting an accident).
    *
    * Determinism: every component is a decile-ordered fold (B=10
    * terms) of doubles derived from exact integers by pinned IEEE
    * sequences.
    *
    * 100 TB shape: inherits q269's (two-pass rank + one keyed
    * aggregate); the decomposition itself is B-bounded algebra.
    */
  def brierDecomposition(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val b = isotonicCalibration(spark, dir, k)
    val agg = b.agg(
      sum(col("n_docs")).as("n"), sum(col("n_pos")).as("pos"),
      sort_array(collect_list(struct(col("decile"), col("n_docs"),
        col("raw_rate"), col("iso_rate")))).as("bs"))
    val fold = (f: Column => Column) =>
      aggregate(col("bs"), lit(0.0), (a, e) => a + f(e))
    val pbar = col("pos").cast("double") / col("n").cast("double")
    val w = (e: Column) => e.getField("n_docs").cast("double") / col("n").cast("double")
    agg.select(col("n"), pbar.as("p_bar"),
      fold(e => w(e) * ((e.getField("iso_rate") * e.getField("iso_rate")
        - (lit(2.0) * e.getField("iso_rate")) * e.getField("raw_rate"))
        + e.getField("raw_rate"))).as("brier"),
      fold(e => w(e) * ((e.getField("iso_rate") - e.getField("raw_rate"))
        * (e.getField("iso_rate") - e.getField("raw_rate")))).as("reliability"),
      fold(e => w(e) * ((e.getField("raw_rate") - pbar)
        * (e.getField("raw_rate") - pbar))).as("resolution"),
      (pbar * (lit(1.0) - pbar)).as("uncertainty"))
  }

  /** q271: Fagin THRESHOLD-ALGORITHM depth audit — the
    * early-termination top-k primitive for merging two ranked access
    * paths (Fagin/Lotem/Naor 2001, public).  Lists: docs ranked by
    * s1 = n_chars and by s2 = token count (both desc, doc_id
    * tiebreak); combined score f = s1 + s2.  TA scans both lists in
    * lockstep and stops at the first depth d where the k-th best seen
    * combined score ≥ the threshold τ(d) = s1@d + s2@d.  Because
    * kth-best-seen reaches its final value once every true top-k doc
    * has been seen (d0 = max over the top-k of min(r1, r2)) and τ is
    * nonincreasing, the stop depth has the CLOSED FORM
    *
    *   stop = min { d ≥ d0 : τ(d) ≤ kth_f }
    *
    * which this audit computes exactly — no sequential scan loop.
    * (Convention under score TIES: the audited run is the one that
    * certifies the CANONICAL doc_id-tiebroken top-k — an
    * unconstrained TA may stop a few rows earlier returning an
    * equal-score alternative set; the spec's literal scan replays
    * exactly this convention.)  The payoff metric is scanned_frac =
    * stop/N: how much of the ranked lists a TA merge would touch
    * (always defined: τ(N) = s1_min + s2_min ≤ kth_f).
    *
    * Determinism: scores, ranks, τ and depths are integers; the one
    * double is an exact-integer divide.
    *
    * 100 TB shape: both global ranks come from GlobalPrefix (no
    * single-partition window); the τ frame is a rank-keyed equi-join;
    * top-k is TakeOrdered; the stop search is one filtered aggregate.
    */
  def taDepthAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val nParts = spark.sparkContext.defaultParallelism
    val base = graft.util.Pins.eager(Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("s1"),
        tokenCount(col("text")).cast("long").as("s2")))
    def rankBy(s: String): DataFrame =
      GlobalPrefix(base.select(col("doc_id"), col(s)), nParts, eager = true, keys = Nil,
        order = Seq(col(s).desc, col("doc_id").asc))(GlobalPrefix.Running("rank"))
    val j = graft.util.Pins.eager(
      rankBy("s1").withColumnRenamed("rank", "r1")
        .join(rankBy("s2").withColumnRenamed("rank", "r2"), Seq("doc_id"))
        .withColumn("f", col("s1") + col("s2"))
        .withColumn("dm", least(col("r1"), col("r2"))))
    val tk = broadcast(j.orderBy(col("f").desc, col("doc_id").asc).limit(k)
      .agg(min(col("f")).as("kth_f"), max(col("dm")).as("d0")))
    val tau = graft.util.Pins.eager(
      j.select(col("r1").as("d"), col("s1"))
        .join(j.select(col("r2").as("d"), col("s2")), Seq("d"))
        .select(col("d"), (col("s1") + col("s2")).as("tau_d")))
    val st = broadcast(tau.crossJoin(tk)
      .filter(col("d") >= col("d0") && col("tau_d") <= col("kth_f"))
      .agg(min(col("d")).as("stop_depth")))
    val n = broadcast(base.agg(count(lit(1)).as("n_docs")))
    tau.crossJoin(st).filter(col("d") === col("stop_depth"))
      .crossJoin(tk).crossJoin(n)
      .select(col("n_docs"), col("kth_f"), col("d0"), col("stop_depth"),
        col("tau_d").as("tau_at_stop"),
        (col("stop_depth").cast("double") / col("n_docs").cast("double"))
          .as("scanned_frac"))
  }

  /** q242: distributed logistic-regression fit (lang=='en' from two
    * length features), `iters` unrolled full-batch gradient-descent
    * passes in the q217 power-iteration mold: the weight vector is a
    * 1-row broadcast frame, each pass is one corpus scan producing
    * three gradient sums, and the weight update runs on those sums.
    *
    * Cross-engine exactness: the activation is the ALGEBRAIC sigmoid
    * s(z) = 0.5·(1 + z/(1+|z|)) — only +,·,/,abs, every one
    * correctly-rounded IEEE, unlike exp/ln whose libm last-ulp
    * differences broke the q128 JSD variant.  Gradient terms are
    * quantized floor(g·1e9 + 0.5) and summed as exact DECIMAL(38,0)
    * (the q217 order-independent scheme), so the weights after every
    * pass — and therefore every downstream double — are bit-identical
    * in any aggregation order and across engines.
    *
    * 100 TB shape: each pass is one scan + a 3-number partial+final
    * aggregate; weight state is O(features) broadcast; nothing grows
    * with the corpus.  Unbounded-feature models shard the weight
    * vector like q217 shards dims.
    */
  def logisticFit(spark: SparkSession, dir: String,
                  iters: Int = 3, lr: Double = 0.5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val feats = graft.util.Pins.eager(
      Tables.documents(spark, dir).select(
        (col("n_chars").cast("double") / lit(1000.0)).as("x1"),
        (tokenCount(col("text")).cast("double") / lit(100.0)).as("x2"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y")))
    def z: Column = (col("w0") + col("w1") * col("x1")) + col("w2") * col("x2")
    def sig(zc: Column): Column = lit(0.5) * (lit(1.0) + zc / (lit(1.0) + abs(zc)))
    def qsum(c: Column): Column = sum(floor(c * lit(1.0e9) + lit(0.5)).cast(dec))
    var w: DataFrame = spark.range(1).select(
      lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
    for (_ <- 1 to iters) {
      val g = feats.crossJoin(broadcast(w))
        .select(col("w0"), col("w1"), col("w2"),
          (sig(z) - col("y")).as("err"), col("x1"), col("x2"))
        .groupBy("w0", "w1", "w2")
        .agg(count(lit(1)).as("n"), qsum(col("err")).as("g0"),
          qsum(col("err") * col("x1")).as("g1"),
          qsum(col("err") * col("x2")).as("g2"))
      def step(wc: String, gc: String): Column =
        (col(wc) - lit(lr) * (col(gc).cast("double") / lit(1.0e9)
          / col("n").cast("double"))).as(wc)
      w = g.select(step("w0", "g0"), step("w1", "g1"), step("w2", "g2"))
    }
    feats.crossJoin(broadcast(w))
      .select(col("w0"), col("w1"), col("w2"), col("y"),
        when((sig(z) >= lit(0.5)) === (col("y") === lit(1.0)), lit(1L))
          .otherwise(lit(0L)).as("ok"))
      .groupBy("w0", "w1", "w2")
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
      .select(col("w0"), col("w1"), col("w2"), col("n_docs"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_docs").cast("double")).as("accuracy"))
  }

  /** q252: long-tail category collapse — the cardinality-capping
    * feature-engineering primitive: per source, keep the top-k tokens
    * by (count desc, token asc) as named categories and fold
    * everything else into `__OTHER__`, reporting per-category type
    * counts, token mass and share.  The audit a pipeline runs before
    * one-hot/embedding-table sizing: how much probability mass the
    * kept vocabulary covers and how fat the collapsed tail is.
    *
    * Exactness: ranking ties break on the (count desc, token asc)
    * total order; masses are exact integer sums, shares one double
    * divide against the per-source total.
    *
    * 100 TB shape: one keyed (source, token) aggregate, one
    * per-source top-k window over the TYPE frame (vocab-sized, not
    * corpus-sized), then a ≤ (k+1)-row-per-source rollup; the
    * per-source totals broadcast back via the window's sum.
    */
  def tailCollapse(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("rn", row_number().over(
      Window.partitionBy("source").orderBy(col("c").desc, col("token").asc)))
    val rolled = ranked
      .select(col("source"),
        when(col("rn") <= k, col("token")).otherwise("__OTHER__").as("category"),
        col("c"))
      .groupBy("source", "category")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"))
    rolled
      .withColumn("share", col("n_tokens").cast("double")
        / sum(col("n_tokens")).over(Window.partitionBy("source")).cast("double"))
      .orderBy(col("source"), col("n_tokens").desc, col("category"))
  }

  /** q259: Horvitz–Thompson estimator audit over the q238 PPS sample
    * — closes the sampling tier's loop: the deterministic systematic
    * take is fed through the standard HT total estimator
    * (Σ_selected w/π with π = min(1, k·w/W), i.e. each selected doc
    * contributes max(w, W/k)) and audited against the TRUE per-source
    * character total.  This is the number a pipeline quotes when it
    * processes the 2% sample and reports corpus-level statistics —
    * the audit measures exactly what the deterministic take costs in
    * estimator error.
    *
    * Exactness: contributions are computed in k-units
    * (max(k·w, W), exact BIGINT), summed exactly, divided by k once;
    * the only doubles are the final estimate and relative error.
    *
    * 100 TB shape: the sample is ≤ k rows per source (q238's
    * output); totals are one keyed aggregate broadcast into the
    * ≤ k-row frame.
    */
  def htEstimate(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val sel = ppsSample(spark, dir, k).select(col("source"), col("n_chars").as("w"))
    val tot = Tables.documents(spark, dir)
      .groupBy("source").agg(sum(col("n_chars")).as("wt"))
    sel.join(broadcast(tot), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        sum(greatest(lit(k.toLong) * col("w"), col("wt"))).as("smax"),
        max(col("wt")).as("total_chars"))
      .select(col("source"), col("total_chars"), col("n_sampled"),
        (col("smax").cast("double") / lit(k.toDouble)).as("ht_estimate"),
        (abs(col("smax").cast("double") / lit(k.toDouble)
          - col("total_chars").cast("double"))
          / col("total_chars").cast("double")).as("rel_err"))
      .orderBy("source")
  }

  /** q253: Gini-impurity feature ranking — information-gain-style
    * feature selection with the GINI criterion instead of entropy,
    * deliberately: gain is then pure polynomial arithmetic on exact
    * integer counts (the q128/q176 log-free rule — no ln in a
    * hash-compared statistic).  Four candidate binary splits of the
    * lang=='en' target, including a parity NEGATIVE CONTROL that must
    * show ~zero gain (it does — reported, not asserted, so the number
    * itself is oracle-gated).
    *
    * 100 TB shape: ONE corpus scan computing all 2×features
    * conditional counts in a single partial+final scalar aggregate;
    * the per-feature gain math runs on that 1-row frame.  Adding
    * features widens the aggregate, never adds passes.
    */
  def giniGain(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      (col("n_chars") >= 300L).as("f_len"),
      (tokenCount(col("text")).cast("long") >= 60L).as("f_tok"),
      (pmod(col("doc_id"), lit(2L)) === 0L).as("f_parity"),
      (col("source") < "src5").as("f_src"))
    val feats = Seq("f_len", "f_tok", "f_parity", "f_src")
    val aggs = Seq(count(lit(1)).as("n"), sum(col("y")).as("pos")) ++
      feats.flatMap { f => Seq(
        sum(when(col(f), 1L).otherwise(0L)).as(s"${f}_n"),
        sum(when(col(f), col("y")).otherwise(0L)).as(s"${f}_pos")) }
    val g = d.agg(aggs.head, aggs.tail: _*)
    // gini of a (pos, n) side: 1 - (pos² + neg²)/n²  (exact integer
    // products; n ≤ 2^31 keeps n² inside 2^63)
    def gini(pos: Column, n: Column): Column =
      lit(1.0) - ((pos * pos + (n - pos) * (n - pos)).cast("double") /
        (n * n).cast("double"))
    val rows = g.select(explode(array(feats.map { f =>
      struct(lit(f).as("feature"),
        col(s"${f}_n").as("n_true"), col(s"${f}_pos").as("pos_true"),
        (col("n") - col(s"${f}_n")).as("n_false"),
        (col("pos") - col(s"${f}_pos")).as("pos_false"),
        col("n").as("n"), col("pos").as("pos"))
    }: _*)).as("e")).select(col("e.*"))
    // an empty side contributes weight 0 — spelled as an explicit CASE
    // so ANSI mode never sees the 0/0 (a degenerate split at small SF)
    def sideTerm(pos: Column, m: Column, n: Column): Column =
      when(m === 0L, lit(0.0)).otherwise(
        (m.cast("double") / n.cast("double")) * gini(pos, m))
    rows.select(col("feature"), col("n_true"), col("pos_true"),
        col("n_false"), col("pos_false"),
        gini(col("pos"), col("n")).as("gini_parent"),
        (sideTerm(col("pos_true"), col("n_true"), col("n"))
          + sideTerm(col("pos_false"), col("n_false"), col("n"))).as("gini_split"))
      .select(col("feature"), col("n_true"), col("pos_true"), col("n_false"),
        col("pos_false"), col("gini_parent"), col("gini_split"),
        (col("gini_parent") - col("gini_split")).as("gain"))
      .orderBy("feature")
  }

  /** q254: consistent-hashing rebalance churn — how many keys MOVE
    * when the shard count grows 64 → 65, under plain modulo
    * placement vs a hash ring (each shard one ring point; a key is
    * owned by the first point at-or-after its hash, wrapping).  The
    * systems complement to q219's static shard balance: mod moves
    * ~(1 − 1/65) ≈ 98% of keys on resize, the ring moves ~1/65 ≈
    * 1.5% — the whole reason consistent hashing exists, here
    * measured exactly on the corpus keys.
    *
    * Exactness: key and ring-point hashes are the q241 60-bit md5
    * fold; ownership is pure integer comparison against the sorted
    * 64/65-point arrays (broadcast, 1-row frames); churn flags are
    * integer (in)equality.  Adding shard 64 only re-owns keys whose
    * old successor was the wrap or a point the new point now
    * precedes — everything is replayed, nothing assumed.
    *
    * 100 TB shape: per-key work is two binary-searchable array
    * probes against a broadcast 65-element array inside codegen — no
    * join, no shuffle; the final rollup is one scalar aggregate.
    */
  def rebalanceChurn(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.documents(spark, dir)
      .select(hv60(col("doc_id").cast("string")).as("kh"))
    val pts = spark.range(0, 65).select(col("id").cast("int").as("pid"),
      hv60(concat(lit("shard:"), col("id").cast("string"))).as("ph"))
    val p64 = pts.filter(col("pid") < 64).agg(sort_array(collect_list(col("ph"))).as("p64"))
    val p65 = pts.agg(sort_array(collect_list(col("ph"))).as("p65"))
    // try_element_at: the filtered candidate list is EMPTY for keys
    // hashing past the last point (the wrap case) — ANSI element_at
    // would throw there instead of yielding the COALESCE fallback
    def owner(arr: Column, kh: Column): Column =
      coalesce(try_element_at(filter(arr, e => e >= kh), lit(1)), element_at(arr, 1))
    val flags = keys
      .crossJoin(broadcast(p64)).crossJoin(broadcast(p65))
      .select(
        (pmod(col("kh"), lit(64L)) =!= pmod(col("kh"), lit(65L))).cast("long").as("mv_mod"),
        (owner(col("p64"), col("kh")) =!= owner(col("p65"), col("kh")))
          .cast("long").as("mv_ring"))
    flags.agg(count(lit(1)).as("n_keys"),
        sum(col("mv_mod")).as("mod_moved"), sum(col("mv_ring")).as("ring_moved"))
      .select(explode(array(
        struct(lit("mod").as("scheme"), col("n_keys"), col("mod_moved").as("n_moved")),
        struct(lit("ring").as("scheme"), col("n_keys"), col("ring_moved").as("n_moved"))))
        .as("e"))
      .select(col("e.scheme").as("scheme"), col("e.n_keys").as("n_keys"),
        col("e.n_moved").as("n_moved"),
        (col("e.n_moved").cast("double") / col("e.n_keys").cast("double")).as("moved_frac"))
      .orderBy("scheme")
  }

  /** q255: rank-biased overlap (RBO@k, truncated form) between every
    * source pair's top-k token rankings — the top-list similarity
    * metric that, unlike set Jaccard on the same lists, weights
    * agreement at rank 1 far above agreement at rank k (Webber's
    * persistence model).  The vocabulary-drift complement to q89's
    * KL and q128's Hellinger: those compare MASS, RBO compares the
    * RANKED HEAD — exactly what breaks prompt caches and hot-token
    * optimizations.
    *
    * The per-match decomposition makes it exact AND cheap: truncated
    * RBO = (1−p)·Σ_d p^(d−1)·|A_d∩B_d|/d; swapping the summation
    * order gives Σ_matches W(max(ra,rb)) where
    * W(m) = (1−p)·Σ_{d=m..k} p^(d−1)/d — k constants computed ONCE
    * driver-side and embedded as the SAME double literals in both
    * engines (pow never runs in either plan; Double round-trip
    * printing keeps the literals bit-identical), then summed per pair
    * in the order-pinned token fold.
    *
    * 100 TB shape: the corpus collapses to the (source, token) type
    * frame, top-k per source by window, and the pair join runs on
    * sources×k rows — dimension-sized; the full pair grid is
    * sources², emitted with 0.0 for disjoint heads.
    */
  def rboSourceSimilarity(spark: SparkSession, dir: String,
                          k: Int = 20, p: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weights: Seq[Double] = (1 to k).map { m =>
      (1.0 - p) * (m to k).map(d => math.pow(p, d - 1) / d).sum }
    val wArr = array(weights.map(lit): _*)
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val tops = graft.util.Pins.eager(counts
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("token").asc)))
      .filter(col("rn") <= k)
      .select(col("source"), col("token"), col("rn")))
    val matches = tops.select(col("source").as("source_a"), col("token"), col("rn").as("ra"))
      .join(tops.select(col("source").as("source_b"), col("token"), col("rn").as("rb")),
        Seq("token"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("token"),
        greatest(col("ra"), col("rb")).as("m"))
    val scored = matches.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_overlap"),
        aggregate(sort_array(collect_list(struct(col("token"),
            element_at(wArr, col("m")).as("w")))),
          lit(0.0), (a, x) => a + x.getField("w")).as("rbo"))
    val srcs = tops.select(col("source")).distinct()
    val grid = srcs.select(col("source").as("source_a"))
      .join(srcs.select(col("source").as("source_b")),
        col("source_a") < col("source_b"))
    grid.join(scored, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("rbo"), lit(0.0)).as("rbo"))
      .orderBy("source_a", "source_b")
  }

  /** q243: average precision (area under the precision-recall curve in
    * its standard step form) per source — ranking by n_chars desc with
    * doc_id asc as the total-order tie-break, relevance = lang=='en'.
    * AP = (1/n_pos)·Σ_{relevant i} precision@i; the per-hit precisions
    * cum/rank are exact-integer ratios and the Σ is the order-pinned
    * fold (sorted by rank) used throughout the registry, so the double
    * is reduction-order-independent and cross-engine exact.
    * Complements q141's ROC-AUC (rectangle counting) with the
    * retrieval-native metric.
    *
    * 100 TB shape: one window sort per source (the price of an exact
    * ranking metric; production evaluates on sampled ranking sets),
    * then a per-source fold over only the RELEVANT hits.
    */
  def averagePrecision(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(
      col("source"), col("doc_id"), col("n_chars").as("score"),
      when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("rel"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id").asc)
    val r = d
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("rel"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    r.filter(col("rel") === 1L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_pos"),
        aggregate(
          sort_array(collect_list(struct(col("rk"),
            (col("cum").cast("double") / col("rk").cast("double")).as("p")))),
          lit(0.0), (a, x) => a + x.getField("p")).as("sum_p"))
      .select(col("source"), col("n_pos"),
        (col("sum_p") / col("n_pos").cast("double")).as("avg_precision"))
      .orderBy("source")
  }

  /** q287: Chao1 vocabulary-richness estimate per source — "how many
    * distinct tokens does this source REALLY have, beyond the ones we
    * sampled?"  The unseen-species estimator that complements q85's
    * Good-Turing mass and q114's Heaps'-law fit: from the
    * frequency-of-frequency counts f1 (singletons) and f2 (doubletons),
    *   chao1 = D + f1·(f1−1) / (2·(f2+1))        (bias-corrected form
    * — defined even at f2 = 0), and sample coverage Ĉ = 1 − f1/n.
    * Richer tails (large f1 vs f2) ⇒ more unseen vocabulary ⇒ the
    * source keeps paying new-token cost as it scales — exactly what a
    * tokenizer/vocab budget decision needs.
    *
    * Exactness: f1, f2, D, n are exact BIGINTs from two keyed
    * aggregates ((source, token) counts → frequency-of-frequency);
    * chao1's correction and the coverage are single pinned divides.
    *
    * 100 TB shape: token-explode → (source, token) aggregate (the
    * shuffle every vocabulary query pays) → |sources|-group rollup.
    */
  def chao1Richness(spark: SparkSession, dir: String): DataFrame = {
    val tokCounts = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    tokCounts.groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("d_obs"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("d_obs"), col("f1"), col("f2"),
        (col("d_obs").cast("double")
          + (col("f1") * (col("f1") - 1L)).cast("double")
            / (lit(2L) * (col("f2") + 1L)).cast("double")).as("chao1"),
        when(col("n_tokens") === 0L, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double"))
          .as("coverage"))
      .orderBy("source")
  }

  /** q288: inverted-index storage audit — what does delta + varint
    * encoding buy over raw 8-byte postings, by document-frequency
    * band?  For every distinct (token, doc) posting, the gap to the
    * previous doc_id in the token's sorted posting list (first entry
    * stores doc_id + 1 so every encoded value is ≥ 1) costs
    * ⌈bitlen(gap)/7⌉ varint bytes, where bitlen is the length of the
    * binary rendering — INTEGER string math via `bin()`, identical in
    * both engines, no log anywhere.  Tokens roll up into log₂-df
    * bands (band = bitlen(df)): frequent tokens have dense lists
    * (small gaps → 1-byte varints, big savings), rare tokens don't —
    * the audit quantifies the classic postings-compression curve and
    * prices the index before building it.
    *
    * Exactness: every byte count is an exact BIGINT; the compression
    * ratio is one terminal divide.
    *
    * 100 TB shape: token-explode → distinct (token, doc) → per-token
    * window (keyed by token — never global) for the gap → two keyed
    * aggregates.  This IS the index-build shuffle; the audit adds
    * only integer math to it.
    */
  def postingsStorageAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val post = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"), col("doc_id"))
      .filter(col("token") =!= "")
      .distinct()
    val w = Window.partitionBy("token").orderBy(col("doc_id").asc)
    val gaps = post
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(w), col("doc_id") + 1L))
    val perTok = gaps.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(expr("(length(bin(gap)) + 6) div 7")).as("vb"))
    perTok
      .groupBy(length(bin(col("df"))).cast("int").as("df_band"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("df")).as("n_postings"),
        (sum(col("df")) * 8L).as("raw_bytes"),
        sum(col("vb")).as("varint_bytes"))
      .select(col("df_band"), col("n_tokens"), col("n_postings"),
        col("raw_bytes"), col("varint_bytes"),
        when(col("raw_bytes") === 0L, lit(null).cast("double"))
          .otherwise(col("varint_bytes").cast("double") / col("raw_bytes").cast("double"))
          .as("compression_ratio"))
      .orderBy("df_band")
  }

  /** Literal sequence-length bucket caps for q293 (token counts run
    * 10-100 on the fixture; docs past the top literal pad to the
    * exact global max — no doc ever lands in a cap below its length).
    */
  private[graft] val PadCaps: Seq[Long] = Seq(32L, 64L, 96L, 128L)

  /** q293: sequence-packing padding-waste audit — what does
    * length-bucketed batching save over pad-to-global-max?  Every doc
    * pads to the smallest literal cap ≥ its token count (docs beyond
    * the top literal pad to the exact corpus max).  Per bucket:
    * docs, real tokens, padded tokens under the bucket policy, padded
    * tokens under the single-max policy, and both waste fractions —
    * the GPU-hours decision a training pipeline makes before fixing
    * its dataloader.  Complements q103 (chunking) and q118 (packing):
    * those reshape sequences, this one prices NOT reshaping.
    *
    * Exactness: token counts, caps and padded sums are exact BIGINTs
    * (cap·n via integer sums); the two waste fractions are terminal
    * single divides.
    *
    * 100 TB shape: one scan → per-row cap CASE → ≤5-group keyed
    * aggregate; the global max is a broadcast 1-row frame.
    */
  def paddingWasteAudit(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .select(tokenCount(col("text")).cast("long").as("n_tok")))
    val gmax = toks.agg(max(col("n_tok")).as("gmax"))
    val capExpr = PadCaps.reverse.foldLeft(col("gmax")) {
      case (acc, c) => when(col("n_tok") <= c, lit(c)).otherwise(acc)
    }
    toks.crossJoin(broadcast(gmax))
      .select(col("n_tok"), col("gmax"), capExpr.as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("cap")).as("padded_bucketed"),
        sum(col("gmax")).as("padded_single"))
      .select(col("cap"), col("n_docs"), col("n_tokens"),
        col("padded_bucketed"), col("padded_single"),
        when(col("padded_bucketed") === 0L, lit(null).cast("double"))
          .otherwise((col("padded_bucketed") - col("n_tokens")).cast("double")
            / col("padded_bucketed").cast("double")).as("waste_bucketed"),
        when(col("padded_single") === 0L, lit(null).cast("double"))
          .otherwise((col("padded_single") - col("n_tokens")).cast("double")
            / col("padded_single").cast("double")).as("waste_single"))
      .orderBy("cap")
  }

  /** Eigenvector centrality of the token co-occurrence graph (q324):
    * the spectral view of "which terms anchor the corpus" that
    * frequency ranking (q29) and PageRank's random walk (q119, over a
    * DIFFERENT graph) both miss — a token is central when it co-occurs
    * with other CENTRAL tokens, i.e. the dominant eigenvector of the
    * doc-level co-occurrence matrix (Bonacich centrality).  Vocabulary
    * is the top-50 tokens by exact corpus frequency (count desc, token
    * asc); A_ij = #docs containing both i and j (i ≠ j, symmetric);
    * three fixed power-iteration supersteps from x₀ ≡ 1 with L∞
    * normalization.
    *
    * Determinism: the q321 ALS discipline — the iterate is quantized
    * once per step (xq = floor((y/max y)·10⁶ + ½) after the step's
    * single pinned divide), so every matrix-vector product Σ_j A_ij·xq_j
    * is an exact BIGINT (A_ij ≤ |docs|, xq ≤ 10⁶, V = 50 ⇒ y < 10¹³ at
    * every shipped SF; ~10¹² docs would move the sums to
    * DECIMAL(38,0)); max is exact; the iteration count is fixed so no
    * convergence-detection order exists.
    *
    * 100 TB shape: the corpus is scanned once into a distinct
    * (doc, vocab-token) incidence (the explode every token audit
    * pays); A is ONE self-equi-join of that incidence on doc_id
    * bounded by V tokens per doc (≤ V² rows per doc before the
    * (i,j)-keyed count, V = 50) — never a corpus-pairs product; the
    * supersteps then run entirely on the V²-row A and V-row x frames,
    * broadcast-sized at any corpus scale.
    */
  def eigenCentrality(spark: SparkSession, dir: String,
                      vocabSize: Int = 50, iters: Int = 3,
                      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = graft.util.Pins.eager(
      tok.groupBy("token").agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("token").asc).limit(vocabSize)
        .select(col("token")))
    val inc = graft.util.Pins.eager(
      tok.join(broadcast(vocab), Seq("token")).distinct())
    val a = graft.util.Pins.eager(
      inc.select(col("doc_id"), col("token").as("i"))
        .join(inc.select(col("doc_id"), col("token").as("j")), Seq("doc_id"))
        .filter(col("i") =!= col("j"))
        .groupBy("i", "j").agg(count(lit(1)).as("w")))
    var x = vocab.select(col("token").as("j"), lit(1000000L).as("xq"))
    // r21 shape (the q307 rule): lazily checkpoint each superstep's
    // fold, read its max back as a SCALAR off the 1-row aggregate, and
    // normalize with a literal — one job per iteration instead of a
    // broadcast exchange over a subtree that re-runs the fold's final
    // aggregate; the max action materializes the checkpoint on the
    // main thread, so no lazy pin can first materialize inside a
    // broadcast thread.  Same integer quantization on the same
    // values — bit-identical output.
    for (_ <- 1 to iters) {
      val y = a.join(x, Seq("j"))
        .groupBy(col("i")).agg(sum(col("w") * col("xq")).as("y"))
        .localCheckpoint(false)
      // degenerate guard (ADVICE r21): max() over an empty fold is SQL
      // NULL (empty corpus / no co-occurring vocab) — the fixed point
      // is then the empty frame, matching the pre-r21 frame algebra
      // where an empty y propagated through the normalize join
      val mRow = y.agg(max(col("y"))).head()
      val m = if (mRow.isNullAt(0)) 1L else mRow.getLong(0)
      x = y.select(col("i").as("j"),
        floor((col("y").cast("double") / lit(m).cast("double"))
          * lit(1.0e6) + lit(0.5)).cast("long").as("xq"))
    }
    val docFreq = inc.groupBy("token").agg(count(lit(1)).as("n_docs"))
    x.select(col("j").as("token"), col("xq"))
      .join(broadcast(docFreq), Seq("token"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("xq").desc, col("token").asc)))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("token"), col("n_docs"), col("xq"),
        (col("xq").cast("double") / lit(1.0e6)).as("score"))
      .orderBy("rank")
  }
}
