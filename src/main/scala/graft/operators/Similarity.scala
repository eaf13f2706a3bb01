package graft.operators

import graft.Tables
import graft.functions.Folds
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>, 64-d).
  *
  * Three tiers, in ascending scale-readiness:
  *
  *  1. bruteForceTopK — exact top-k cosine for a small probe set.  The
  *     probe side is broadcast, so the plan is a narrow map over the
  *     candidate table (no candidate shuffle) followed by a per-probe
  *     top-k window over `k_probes × n_candidates` rows partitioned by
  *     probe.  Right answer and right plan when |probes| is small.
  *
  *  2. thresholdPairs — all-pairs above a cosine threshold.  Quadratic
  *     candidate generation; correct baseline for embedding near-dup
  *     at verification scale and the oracle for the bucketed variant.
  *
  *  3. bucketedAnn — sign-LSH (IVF-style) bucketing: vectors hash to a
  *     2^nBits-cell partition by component signs; probes only score
  *     candidates in their own cell.  The join is an equi-join on
  *     bucket id, cutting the candidate set by the bucket count — but
  *     nBits is a PARAMETER: per-bucket work is n/2^nBits, so scaling
  *     the corpus means raising nBits (or moving to ivfAnn with a
  *     centroid count sized to the data) to keep cells bounded.  The
  *     equi-join shape itself is what survives 100 TB; the cell count
  *     must grow with the data.
  *
  * Norms are precomputed once per side before any join so each pair
  * costs one dot product, not three.
  */
object Similarity {

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))

  /** Exact cosine top-k per probe (probe set = vec_id < numProbes). */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     numProbes: Int = 3, k: Int = 5): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    val cands = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val cos = dot(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(probes).join(cands, col("probe_id") =!= col("neighbor_id")) // broadcast NL join: probes tiny
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos").as("cos_sim"), col("rank"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, doc_a < doc_b. */
  def thresholdPairs(spark: SparkSession, dir: String, threshold: Double = 0.95): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val cos = dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cos)
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos").as("cos_sim"))
  }

  /** Sign-LSH bucketed ANN: probes score only same-bucket candidates.
    * Equi-join on bucket id keeps the candidate set ~n/2^nBits per
    * probe; rank within (probe, bucket) by exact cosine.
    */
  def bucketedAnn(spark: SparkSession, dir: String,
                  numProbes: Int = 10, k: Int = 3, nBits: Int = 6): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
      .withColumn("bucket", signLshBucket(col("embedding"), nBits))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("probe_id"), col("bucket"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    val cands = emb.select(col("vec_id").as("neighbor_id"), col("bucket"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val cos = dot(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(probes).join(cands, "bucket")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos").as("cos_sim"), col("rank"))
  }

  /** ANN recall audit (q87): recall@k of the sign-LSH bucketed index
    * (q26) against the exact brute-force top-k (q24) over the same
    * probe set — the index-quality gate a production similarity
    * pipeline runs before trusting an approximate index.  Both sides
    * rank by the identical bit-exact cosine with the neighbor_id
    * tiebreak, so the compared sets are deterministic and the recall
    * ratio is one divide of exact integer counts.
    *
    * 100 TB shape: the audit is bounded BY CONSTRUCTION — it scores
    * `numProbes` sampled probes, not the corpus — so it inherits
    * q24's broadcast-probe scan and q26's bucket equi-join, then adds
    * one (probe, neighbor)-keyed left join between two k·numProbes-row
    * frames and a probe_id aggregation.  Nothing scales with corpus
    * size except the two audited index paths themselves.
    */
  def annRecall(spark: SparkSession, dir: String,
                numProbes: Int = 10, k: Int = 3): DataFrame =
    recallAgainstExact(bruteForceTopK(spark, dir, numProbes, k),
      bucketedAnn(spark, dir, numProbes, k))

  /** Shared recall@k core for every index-tier audit (q87, q209-q211):
    * LEFT-join the exact top-k set against the tier's top-k on
    * (probe, neighbor), count hits per probe, one exact-integer
    * divide.  Both inputs are k·numProbes-row frames — the join and
    * aggregate are bounded by construction regardless of corpus size.
    */
  private def recallAgainstExact(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("probe_id"), col("neighbor_id"))
      .join(approx.select(col("probe_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("probe_id"), col("n_exact"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")).as("recall"))

  /** IVF tier recall audit (q209): q54's coarse-cell index against the
    * exact brute-force top-k over the same 6 probes.  q87 gates only
    * the sign-LSH index; from r13 every shipped ANN tier carries its
    * own recall row, because an ungated index is exactly the thing
    * you cannot trust at 100 TB — cell counts must grow with the
    * corpus (Similarity scaladoc) and this number is what tells you
    * when they didn't.
    */
  def ivfRecall(spark: SparkSession, dir: String,
                numProbes: Int = 6, k: Int = 3): DataFrame =
    recallAgainstExact(bruteForceTopK(spark, dir, numProbes, k),
      ivfAnn(spark, dir, numProbes = numProbes, k = k))

  /** PQ tier recall audit (q210): q92's asymmetric-distance index vs
    * exact top-5 over its 10 probes.  ADC ranks by quantized dot
    * product (not exact cosine), so its recall measures codebook
    * quality — the m/subDim/k budget — not just bucketing loss.
    */
  def pqRecall(spark: SparkSession, dir: String,
               nProbes: Int = 10, topK: Int = 5): DataFrame =
    recallAgainstExact(bruteForceTopK(spark, dir, nProbes, topK),
      pqAnn(spark, dir, nProbes = nProbes, topK = topK))

  /** IVF-PQ tier recall audit (q211): the composed production index
    * (q95) vs exact top-5 — measures the cell-pruning AND
    * quantization loss stacked, the number a production deployment
    * actually cares about.
    */
  def ivfPqRecall(spark: SparkSession, dir: String,
                  nProbes: Int = 10, topK: Int = 5): DataFrame =
    recallAgainstExact(bruteForceTopK(spark, dir, nProbes, topK),
      ivfPqAnn(spark, dir, nProbes = nProbes, topK = topK))

  final case class ScoredNeighbor(probe_id: Long, neighbor_id: Long, cos: Double)

  /** Bounded top-k typed Aggregator (SURVEY §2.C: "TypedImperativeAggregate
    * holding a bounded heap, or ... start with Window + row_number").
    * Both now exist: this aggregator keeps only k candidates per group
    * through partial aggregation — at scale that's O(k) state per probe
    * on the map side instead of shuffling every scored pair into a
    * window sort.  Order: score desc, neighbor_id asc (total order, so
    * results match the window/oracle formulation exactly).
    */
  final class TopKByScore(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[ScoredNeighbor, Seq[ScoredNeighbor], Seq[ScoredNeighbor]] {
    // Mirror Spark's SQL ordering where NaN is the LARGEST double (a
    // zero-norm vector gives cosine 0/0 = NaN): map NaN to +inf before
    // negating, so NaN ranks first exactly as in the window ORDER BY
    // cos DESC formulation. Scala's default TotalOrdering would put NaN
    // last and diverge.
    private def trim(xs: Seq[ScoredNeighbor]): Seq[ScoredNeighbor] =
      xs.sortBy(s => (if (s.cos.isNaN) Double.NegativeInfinity else -s.cos, s.neighbor_id)).take(k)
    override def zero: Seq[ScoredNeighbor] = Seq.empty
    override def reduce(b: Seq[ScoredNeighbor], a: ScoredNeighbor): Seq[ScoredNeighbor] = trim(b :+ a)
    override def merge(b1: Seq[ScoredNeighbor], b2: Seq[ScoredNeighbor]): Seq[ScoredNeighbor] = trim(b1 ++ b2)
    override def finish(r: Seq[ScoredNeighbor]): Seq[ScoredNeighbor] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[ScoredNeighbor]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[ScoredNeighbor]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Top-k per probe via the bounded aggregator (map-side k-trimming)
    * — same results as bruteForceTopK's window formulation, different
    * physical shape: partial aggregation instead of a window sort.
    */
  def topKAggregated(spark: SparkSession, dir: String,
                     numProbes: Int = 5, k: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = withNorm(Tables.embeddings(spark, dir))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    val cands = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val scored = broadcast(probes).join(cands, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm"))).as("cos"))
      .as[ScoredNeighbor]
    scored.groupByKey(_.probe_id)
      .agg(new TopKByScore(k).toColumn.name("topk"))
      .flatMap { case (p, topk) =>
        topk.zipWithIndex.map { case (s, i) => (p, s.neighbor_id, s.cos, i + 1) }
      }
      .toDF("probe_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Deterministic Lloyd (k-means) training for the IVF centroid set.
    *
    * Contract (oracle-critical, mirrored verbatim in the DuckDB SQL):
    *  - init: centroids = the first `k` vectors (cid = vec_id);
    *  - training set: the deterministic sample `vec_id < sampleN` — at
    *    100 TB swap the id-prefix predicate for a hash sample of the
    *    same bounded size; training on a bounded sample is standard
    *    IVF practice and is what bounds the per-centroid
    *    `collect_list` state below;
    *  - assignment: argmax dot(embedding, centroid), ties to lowest
    *    cid — the same rule the index itself uses, so training
    *    optimises the partition actually searched (spherical k-means
    *    flavor);
    *  - update: per-dimension mean, folded in ascending `vec_id`
    *    order (floats widened to double, left-to-right accumulation,
    *    one divide), rounded back to float32 — IEEE-identical in both
    *    engines, so no tolerance is needed; empty cells keep their
    *    previous centroid.
    *
    * Plan per iteration: broadcast(k centroids) × sample → narrow
    * argmax, then one k-group aggregation whose state is ≤ sampleN
    * vectors total.  No all-pairs, no driver collect.
    */
  private[operators] def lloydCentroids(emb: DataFrame, k: Int,
                                        iters: Int, sampleN: Int,
                                        dims: Int = 64): DataFrame = {
    val sample = emb.filter(col("vec_id") < sampleN).select("vec_id", "embedding")
    // per-dim mean over members sorted by vec_id: fold matches DuckDB's
    // list_reduce over list(embedding ORDER BY vec_id), then one
    // double→float rounding (round-to-nearest-even in both engines)
    val meanExpr = expr(
      s"""transform(sequence(0, ${dims - 1}), d ->
         |  cast(aggregate(members, cast(0.0 as double),
         |         (acc, m) -> acc + cast(m.embedding[d] as double))
         |       / size(members) as float))""".stripMargin)
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    for (_ <- 1 to iters) {
      val means = assignCells(sample, cents).groupBy("cid")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("members"))
        .select(col("cid"), meanExpr.as("m_emb"))
      // lazily checkpoint each k-row generation: the recurrence
      // references cents TWICE (assignment + the empty-cell coalesce
      // join), so without truncation the training subtree re-executes
      // 2^iters times when the final plan runs.  The checkpoint also
      // keeps the per-iteration logical plan O(1) instead of
      // re-analyzing a doubling tree, and the ContextCleaner releases
      // each generation once the loop drops it — no caller-side
      // clearCache obligation (see Reindex.chunked).
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("m_emb"), col("c_emb")).as("c_emb"))
        .localCheckpoint(false)
    }
    cents
  }

  /** IVF ANN with trained centroids: `iters` Lloyd iterations (above)
    * refine the first-`nCentroids` init into a real k-means cell
    * partition; every vector is assigned to its nearest centroid (max
    * dot product) and probes search only their own cell (nprobe=1).
    *
    * Scale shape: centroids broadcast (tiny), assignment is a narrow
    * broadcast product + per-vector argmax (no shuffle of the vector
    * table beyond the grouping), search is an equi-join on cell id —
    * the candidate set per probe is |n|/|cells|, never all-pairs.  This
    * is the trained-partition upgrade of bucketedAnn's sign-LSH.
    */
  /** Nearest-centroid assignment (argmax dot, ties → lowest cid),
    * shared by lloydCentroids, ivfAnn and kmeansCells.
    *
    * Shape: broadcast product then `max(struct(cdot, -cid, emb))` —
    * an aggregation, NOT a vec_id-partitioned window.  The window
    * form shuffles and sorts all n×k scored rows; the aggregation
    * partial-combines the k candidates per vector map-side, so only n
    * rows reach the exchange — at 100 TB that is the difference
    * between shuffling k× the corpus and 1× it.  struct ordering is
    * field-by-field, so max picks highest cdot, then highest -cid
    * (= lowest cid) — exactly the window's (cdot DESC, cid ASC) rule;
    * cid is unique so the embedding field never decides.
    */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.select("vec_id", "embedding")
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dot(col("embedding"), col("c_emb")))
      .groupBy("vec_id")
      .agg(max(struct(col("cdot"), (-col("cid")).as("ncid"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"), (-col("m.ncid")).as("cid"))

  /** Embedding clustering as a first-class operator (q73): train the
    * Lloyd centroids, assign the whole corpus, report per-cell
    * population and the smallest member id — the summary a pipeline
    * uses to check cluster balance before sharding by cell.  Same
    * broadcast-train + narrow-assign shapes as ivfAnn; output is k
    * rows.
    */
  def kmeansCells(spark: SparkSession, dir: String,
                  k: Int = 8, iters: Int = 2, sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    assignCells(emb, lloydCentroids(emb, k, iters, sampleN))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
  }

  /** Class-balanced undersampling (q115): keep exactly min-class-size
    * vectors from EVERY label, chosen by md5-hash priority — the
    * deterministic class-balancing resample a training pipeline runs
    * before fitting on skewed labels.  The hash key uses md5 hex
    * digits 13-16, extending the house digit registry (q63 split 1-4,
    * q75 rates 5-8, q98 fixed sample 9-12) so composing all four
    * samplers never correlates.
    *
    * 100 TB shape: class sizes are one partial+final agg whose min is
    * a broadcast 1-row frame; the pick is one label-partitioned
    * ranking window (q98's shape — a label too hot for one partition
    * switches to the q65 two-pass form); membership is reproducible
    * on any engine and any partitioning.
    */
  /** Per-label centroid cosine matrix (q125): how separable are the
    * embedding clusters?  The mean vector of each label, then pairwise
    * cosine between the centroids — the domain-signature / cluster-
    * overlap audit (labels whose centroids sit at cos ≈ 1 are one
    * population wearing two names; q109 purity measures assignment
    * quality, this measures geometry).
    *
    * Bit-parity discipline for float sums: every reduction over
    * doubles folds in a PINNED order mirrored by the oracle —
    * per-dimension centroid sums fold by vec_id, per-pair dot/norm
    * sums fold by dimension (sort_array+aggregate ↔ list_reduce over
    * list(… ORDER BY …)); float→double widening is exact in both
    * engines.
    *
    * 100 TB shape: one (label, dim) keyed aggregation over the
    * exploded embeddings — labels × dims cells — then all pairwise
    * work happens on that tiny centroid frame.  The ordered-fold
    * collect_list is per (label, dim) and bounded by per-label row
    * count; at extreme scale the same shape survives by folding
    * per-partition subtotals instead (documented trade: exact
    * reproducibility vs one wider shuffle — same as q84's choice).
    */
  def centroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val cent = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((Folds.orderedSum(col("v").cast("double"), col("vec_id"))
        / count(lit(1)).cast("double")).as("m"))
    val a = cent.toDF("label_a", "dim", "ma")
    val b = cent.toDF("label_b", "dim", "mb")
    a.join(b, Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(
        Folds.orderedSum(col("ma") * col("mb"), col("dim")).as("dot"),
        Folds.orderedSum(col("ma") * col("ma"), col("dim")).as("na"),
        Folds.orderedSum(col("mb") * col("mb"), col("dim")).as("nb"))
      .select(col("label_a"), col("label_b"),
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos_sim"))
  }

  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val minN = broadcast(
      e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("min_n")))
    val priority = conv(substring(md5(col("vec_id").cast("string")), 13, 4), 16, 10)
      .cast("int")
    val w = Window.partitionBy("label").orderBy(col("priority").asc, col("vec_id").asc)
    e.withColumn("priority", priority)
      .withColumn("rank", row_number().over(w))
      .crossJoin(minN)
      .filter(col("rank") <= col("min_n"))
      .select(col("label"), col("rank"), col("vec_id"), col("priority"))
  }

  /** Cluster–label purity (q109): per trained k-means cell, the
    * majority ground-truth label and its share — the standard external
    * clustering-quality check (does the unsupervised cell structure
    * recover the labels the embedding model was trained on?).  Trains
    * q73's exact cells; the argmax rides the house max-of-struct rule
    * (count DESC, ties → LOWEST label via negated key).
    *
    * 100 TB shape: training is bounded-sample (broadcast centroids);
    * assignment is the narrow broadcast-product argmax; the label
    * join-back is a vec_id equi-join; per-cell counts are two nested
    * partial+final aggregations of a (k × labels)-bounded frame.
    */
  def cellPurity(spark: SparkSession, dir: String,
                 k: Int = 8, iters: Int = 2, sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = assignCells(emb, lloydCentroids(emb, k, iters, sampleN))
      .select("vec_id", "cid")
    assigned.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("cl"))
      .groupBy("cid")
      .agg(
        sum(col("cl")).as("n_vecs"),
        max(struct(col("cl"), (-col("label")).as("nl"))).as("m"))
      .select(col("cid"), col("n_vecs"),
        (-col("m.nl")).cast("int").as("top_label"),
        col("m.cl").as("n_top"),
        (col("m.cl").cast("double") / col("n_vecs").cast("double")).as("purity"))
  }

  /** Semantic deduplication (q80, SemDeDup — Abbas et al. 2023):
    * cluster the corpus with the trained Lloyd centroids, compare
    * embeddings only WITHIN their cluster, and drop every vector that
    * has a lower-id cluster-mate with cosine ≥ `threshold`.  Output is
    * the per-cell pruning summary (n_vecs / n_dropped / n_kept) a
    * curation pipeline reviews before committing the prune.
    *
    * Determinism: the keep-lowest-id rule makes the dropped set a pure
    * function of the pair list (no iteration order), so the DuckDB
    * oracle reproduces it exactly.
    *
    * Scale shape: training is bounded-sample (see lloydCentroids),
    * assignment is broadcast(k) + argmax aggregation, and the pair
    * stage is an equi-join on cell id — the whole point of SemDeDup is
    * that k grows with the corpus to keep cells bounded, so per-cell
    * pair cost stays (n/k)² per cell, never corpus-quadratic.  The
    * assigned frame is lazily checkpointed once: three consumers (both
    * pair sides + the final summary) reuse one assignment pass instead
    * of re-scanning the corpus per reference.
    */
  def semDedup(spark: SparkSession, dir: String,
               k: Int = 8, iters: Int = 2, sampleN: Int = 256,
               threshold: Double = 0.40): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val e = withNorm(assignCells(emb, lloydCentroids(emb, k, iters, sampleN)))
      .localCheckpoint(false)
    val a = e.select(col("cid"), col("vec_id").as("id_a"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = e.select(col("cid"), col("vec_id").as("id_b"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    e.join(broadcast(dropped.withColumn("is_dropped", lit(1L))), Seq("vec_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
  }

  def ivfAnn(spark: SparkSession, dir: String,
             nCentroids: Int = 8, numProbes: Int = 6, k: Int = 3,
             iters: Int = 2, sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = assignCells(emb, lloydCentroids(emb, nCentroids, iters, sampleN))
    val e = assigned.withColumn("nrm", norm(col("embedding")))
    val probes = e.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("probe_id"), col("cid"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    val cands = e.select(col("vec_id").as("neighbor_id"), col("cid"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val cos = dot(col("p_emb"), col("q_emb")) / (col("p_nrm") * col("q_nrm"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(probes).join(cands, "cid")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos").as("cos_sim"), col("rank"))
  }

  /** Label centroid stats: per-label mean vector magnitude — the
    * label-stratified aggregation exercise (FIXTURES.md §B.3), with the
    * norm sum kept deterministic via a single sequential fold per row
    * and an order-insensitive integral count.
    */
  def labelStats(spark: SparkSession, dir: String): DataFrame =
    withNorm(Tables.embeddings(spark, dir))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))

  /** Product-quantization ANN (q92, Jégou et al. 2011): the embedding
    * splits into `m` subvectors of `subDim` dims; each subspace trains
    * its own `k`-centroid codebook (the SAME deterministic Lloyd
    * contract as ivfAnn, per subspace) and every vector is encoded as
    * `m` small centroid ids — 64 floats compress to 4 bytes here.
    * Search is asymmetric distance computation (ADC): the probe keeps
    * its EXACT subvectors and scores a candidate by summing, subspace
    * by subspace in fixed order, the dot product of the probe
    * subvector with the candidate's ASSIGNED centroid.
    *
    * Determinism: codes are integers (argmax-dot assignment, ties →
    * lowest cid — assignCells' rule); each ADC contribution is the
    * native sequential-fold dot product; the m contributions add
    * left-to-right; ranking ties break on neighbor_id.
    *
    * 100 TB shape: this is THE memory-bound ANN scale path — the
    * search never touches raw candidate vectors, only the m-byte code
    * table and m broadcast codebooks (k rows each).  Training is
    * bounded-sample per subspace; encoding is m broadcast(k)-argmax
    * passes; the probe set broadcasts onto the code table (q24's
    * bounded probe shape); nothing is ever corpus-pairwise.  A
    * production variant composes this with ivfAnn's cells (IVF-PQ:
    * coarse cell equi-join, then ADC inside the cell).
    */
  /** Per-subspace PQ codebooks + code table, shared by pqAnn and
    * ivfPqAnn: returns the (vec_id, k0..k{m-1}) code table and the m
    * broadcast-sized codebooks (cid$s, cemb$s).
    */
  private def pqCodebooks(emb: DataFrame, m: Int, subDim: Int, k: Int,
                          iters: Int, sampleN: Int): (DataFrame, Seq[DataFrame]) = {
    val books = (0 until m).map { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
      lloydCentroids(sub, k, iters, sampleN, subDim)
        .select(col("cid").as(s"cid$s"), col("c_emb").as(s"cemb$s"))
    }
    // ONE-PASS encoding: training is bounded-sample per subspace, but
    // encoding touches the whole corpus — so it must be a single scan.
    // The m codebooks union into one (s, cid, c_emb) broadcast (m·k
    // rows); each vector meets all of them in one broadcast product
    // and ONE grouped aggregation computes the m argmaxes side by side
    // (max-of-struct per subspace tag — assignCells' exact tie rule).
    // The per-subspace form (m aggregations + m−1 vec_id joins) costs
    // m shuffles of corpus-sized frames; this costs one.
    // EAGER pin (Pins.eager): the m codebooks feed concurrent
    // broadcast exchanges, and a lazy pin materialized from a
    // broadcast thread deadlocks against the DAG scheduler — the r11
    // lock cycle documented in util/Pins.scala.  The eager pin runs
    // the m·k-row job HERE on the main thread, so every broadcast
    // that follows only reads blocks.
    val tagged = books.zipWithIndex.map { case (b, s) =>
      b.select(lit(s).as("s"), col(s"cid$s").as("cid"), col(s"cemb$s").as("c_emb"))
    }.reduce(_ union _).transform(graft.util.Pins.eager)
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(tagged))
      .withColumn("cdot",
        dot(slice(col("embedding"), col("s") * lit(subDim) + lit(1), lit(subDim)),
          col("c_emb")))
    val aggs = (0 until m).map(s =>
      max(when(col("s") === s, struct(col("cdot"), (-col("cid")).as("ncid")))).as(s"m$s"))
    val codeTable = scored.groupBy("vec_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until m).map(s => (-col(s"m$s.ncid")).as(s"k$s")): _*)
    (codeTable, books)
  }

  /** ADC scoring + per-probe top-k over a (probe × coded-candidate)
    * frame: joins the m broadcast codebooks, sums the m subspace dot
    * products left-to-right, ranks per probe (ties → neighbor_id).
    */
  private def adcTopK(cand: DataFrame, books: Seq[DataFrame],
                      subDim: Int, topK: Int): DataFrame = {
    val joined = books.zipWithIndex.foldLeft(cand) {
      case (df, (book, s)) => df.join(broadcast(book), col(s"k$s") === col(s"cid$s"))
    }
    val adc = books.indices
      .map(s => dot(slice(col("p_emb"), s * subDim + 1, subDim), col(s"cemb$s")))
      .reduce(_ + _)
    val w = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("neighbor_id").asc)
    joined.withColumn("adc", adc)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("adc"))
  }

  def pqAnn(spark: SparkSession, dir: String, m: Int = 4, subDim: Int = 16,
            k: Int = 8, iters: Int = 1, sampleN: Int = 256,
            nProbes: Int = 10, topK: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (codeTable, books) = pqCodebooks(emb, m, subDim, k, iters, sampleN)
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val cand = broadcast(probes).join(codeTable, col("probe_id") =!= col("vec_id"))
    adcTopK(cand, books, subDim, topK)
  }

  /** IVF-PQ ANN (q95): the production composition SCALING.md's q92
    * entry promises — ivfAnn's coarse trained cells prune the
    * candidate set via an EQUI-join on cell id, then PQ's ADC scores
    * only within-cell candidates from their codes.  This is the
    * FAISS IVFPQ architecture re-expressed relationally: at 100 TB
    * the scan reads the (cell, codes) table — a few bytes per vector
    * — the coarse search is an equi-join on a selective key, and the
    * fine search never touches a raw candidate vector.
    *
    * Determinism: coarse cells and PQ codes are integers from the
    * q54 Lloyd contract (ONE coarse iteration here; q54 itself keeps
    * iters=2 so the two stay distinct fixtures); ADC is the q92
    * fixed-sequence sum; ranking ties break on neighbor_id.
    */
  def ivfPqAnn(spark: SparkSession, dir: String,
               nCells: Int = 8, coarseIters: Int = 1,
               m: Int = 4, subDim: Int = 16, k: Int = 8, pqIters: Int = 1,
               sampleN: Int = 256, nProbes: Int = 10, topK: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cells = assignCells(emb, lloydCentroids(emb, nCells, coarseIters, sampleN))
      .select(col("vec_id"), col("cid").as("cell"))
    val (codeTable, books) = pqCodebooks(emb, m, subDim, k, pqIters, sampleN)
    val coded = codeTable.join(cells, Seq("vec_id"))
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      .join(cells.select(col("vec_id").as("probe_id"), col("cell").as("p_cell")),
        Seq("probe_id"))
    val cand = broadcast(probes)
      .join(coded, col("p_cell") === col("cell") && col("probe_id") =!= col("vec_id"))
    adcTopK(cand, books, subDim, topK)
  }

  /** Leave-one-out target encoding (q139): encode the categorical
    * `source` by the mean of the label over the OTHER documents of
    * the same source — the standard high-cardinality-categorical
    * feature for downstream models, with the self-exclusion that
    * prevents target leakage (a plain group mean lets each row see
    * its own label; LOO is the unbiased train-time form).
    *
    *   loo(d) = (Σ_src label − label_d) / (n_src − 1)
    *
    * Determinism: group sums and counts are exact integers; the
    * encoding is one integer subtract + one divide, both correctly
    * rounded; singleton groups (divide-by-zero) emit literal 0.0
    * behind an explicit n > 1 guard rather than NULL/NaN.
    *
    * 100 TB shape: one source-keyed aggregation with map-side
    * combine, then the bounded per-source stats broadcast back onto
    * the row stream — no window, no second shuffle of the fact
    * frame.  The label joins from embeddings on vec_id ≡ doc_id,
    * the corpus id contract.
    */
  def looEncoding(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("label"))
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
    val g = j.groupBy("source")
      .agg(sum(col("label")).as("s"), count(lit(1)).as("n"))
    j.join(broadcast(g), Seq("source"))
      .select(
        col("doc_id"), col("source"), col("label"),
        when(col("n") > 1,
          (col("s") - col("label")).cast("double") /
            (col("n") - lit(1L)).cast("double"))
          .otherwise(lit(0.0)).as("loo_mean"))
  }

  /** Bucketed all-vector kNN: EVERY vector probes its own sign-LSH
    * bucket (the q26 index turned inward — no sampled probe set).
    * One bucket equi-join + one vec_id-keyed window; candidates per
    * probe are bounded by the bucket occupancy (~n/2^nBits), so the
    * pair fanout is n²/2^nBits, not n² — the same contract that
    * makes q26 the q25 scale path.  Labels ride along for the
    * consumers that need them.
    */
  private def bucketedAllKnn(spark: SparkSession, dir: String,
                             k: Int, nBits: Int = 6): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
      .withColumn("bucket", signLshBucket(col("embedding"), nBits))
    val a = emb.select(col("vec_id"), col("label"), col("bucket"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = emb.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      col("bucket"), col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    a.join(b, "bucket")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("label"), col("neighbor_id"),
        col("n_label"), col("cos"), col("rank"))
  }

  /** kNN label-disagreement noise audit (q143) — confident-learning
    * lite: for each labeled vector, how many of its k nearest
    * (bucketed) neighbors carry a DIFFERENT label?  Per-label
    * aggregation surfaces the classes whose embeddings don't support
    * their labels (mislabeled slices, ambiguous class boundaries) and
    * the single most-confused other label — the audit that decides
    * whether a labeled corpus is clean enough to train on.
    *
    * Determinism: neighbor ranking is the shared bit-exact cosine
    * with the neighbor_id tiebreak; disagreement counts and row
    * counts are exact integers; disagree_frac is one final divide;
    * the top-confusion pick is argmax over integer counts with the
    * smaller-label tiebreak (max(struct(cnt, −n_label))); labels with
    * zero disagreements emit the (−1, 0) sentinel, never NULL.
    *
    * 100 TB shape: inherits bucketedAllKnn's bounded fanout (swap
    * nBits up as n grows, or swap the bucket leg for the IVF/PQ tier);
    * everything after the kNN frame is two keyed aggregations of a
    * k·n-row frame and one broadcast join of a labels×labels
    * confusion table.
    */
  def knnLabelNoise(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val knn = graft.util.Pins.eager(
      bucketedAllKnn(spark, dir, k)
        .withColumn("dis", when(col("label") =!= col("n_label"), 1L).otherwise(0L)))
    val perVec = knn.groupBy("vec_id", "label")
      .agg(count(lit(1)).as("nn"), sum(col("dis")).as("dis"))
    val perLabel = perVec.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nn")).as("knn_rows"),
        sum(col("dis")).as("dis_total"))
    val confusion = knn.filter(col("dis") === 1L)
      .groupBy("label", "n_label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(max(struct(col("cnt"), (-col("n_label")).cast("long").as("neg"))).as("m"))
      .select(col("label"),
        (-col("m.neg")).cast("int").as("top_confusion"),
        col("m.cnt").as("top_confusion_n"))
    perLabel.join(broadcast(confusion), Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("knn_rows"),
        (col("dis_total").cast("double") / col("knn_rows").cast("double"))
          .as("disagree_frac"),
        coalesce(col("top_confusion"), lit(-1)).as("top_confusion"),
        coalesce(col("top_confusion_n"), lit(0L)).as("top_confusion_n"))
  }

  /** Mutual-kNN (reciprocal nearest neighbor) pairs (q144): pairs
    * where EACH side ranks the other inside its own bucketed top-k —
    * the high-precision near-duplicate signal (a one-way top-k hit is
    * often a hub artifact; a reciprocal hit almost never is).  The
    * RNN test is the standard precision filter layered on any ANN
    * index before an aggressive dedup merge.
    *
    * Determinism: the kNN frame is the shared bit-exact ranking; the
    * reciprocity test is an equi-join on exact ids; cos is computed
    * once per direction over the identical dimension fold, so the
    * a→b and b→a doubles are bit-equal and either can be emitted.
    *
    * 100 TB shape: one equi-join of the k·n-row kNN frame with
    * itself on (vec, neighbor) = (neighbor, vec) — keyed, linear in
    * k·n; the frame is eager-pinned for its two consumers (the
    * multi-broadcast rule, util/Pins.scala).
    */
  def mutualKnn(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val knn = graft.util.Pins.eager(bucketedAllKnn(spark, dir, k))
    val fwd = knn.select(col("vec_id").as("vec_a"), col("neighbor_id").as("vec_b"),
      col("cos"), col("rank").as("rank_ab"))
    val rev = knn.select(col("neighbor_id").as("vec_a"), col("vec_id").as("vec_b"),
      col("rank").as("rank_ba"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cos").as("cos_sim"),
        col("rank_ab"), col("rank_ba"))
  }

  /** Cohen's kappa of nearest-centroid assignment vs the true label
    * (q150): assign every vector to its argmax-cosine label centroid
    * (q125's geometry turned into a classifier) and measure
    * chance-corrected agreement with the given label —
    *
    *   κ = (p_o − p_e)/(1 − p_e) = (N·A − B)/(N² − B)
    *
    * with A = Σ_k diag_k (agreements) and B = Σ_k row_k·col_k (the
    * chance term), so κ reduces to ONE divide of exact integers —
    * the algebra keeps the whole statistic integer until the end.
    * κ ≈ 0 means the labels are no better than chance w.r.t. the
    * embedding geometry (labeling noise or non-separable classes —
    * the aggregate twin of q143's per-label audit).
    *
    * Determinism: centroid means and per-(vec, centroid) dots fold
    * in pinned order (by vec_id / by dim — the q125 contract); the
    * vector norm is the shared native fold; argmax breaks cosine
    * ties toward the smaller centroid label; A, B, N are exact
    * integers.
    *
    * 100 TB shape: centroids are one (label, dim) keyed agg (labels
    * × dims cells, broadcast); scoring joins each exploded vector
    * dim against the tiny centroid frame — labels× fanout, linear in
    * corpus; the confusion matrix is labels² and aggregates to one
    * row.  The ordered-fold trade at extreme scale is q125's,
    * documented there.
    */
  def centroidKappa(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("vec_id"), col("dim"), col("v").cast("double").as("v"))
    val cent = graft.util.Pins.eager(
      ex.groupBy(col("label").as("label_c"), col("dim"))
        .agg((Folds.orderedSum(col("v"), col("vec_id"))
          / count(lit(1)).cast("double")).as("m")))
    val cnorm = cent.groupBy("label_c")
      .agg(sqrt(Folds.orderedSum(col("m") * col("m"), col("dim"))).as("nc"))
    val vnorm = withNorm(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("nrm").as("nv"))
    val dots = ex.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label").as("label_true"), col("label_c"))
      .agg(Folds.orderedSum(col("v") * col("m"), col("dim")).as("dot"))
    val assigned = dots
      .join(broadcast(cnorm), Seq("label_c"))
      .join(vnorm, Seq("vec_id"))
      .withColumn("cos", col("dot") / (col("nv") * col("nc")))
      .groupBy("vec_id", "label_true")
      .agg(max(struct(col("cos"), (-col("label_c")).cast("long").as("neg"))).as("mx"))
      .select(col("vec_id"), col("label_true"),
        (-col("mx.neg")).cast("int").as("assigned"))
    // r22: the confusion matrix is labels²-BOUNDED (≤ a few thousand
    // rows at any corpus scale), so A, B, N fold on the driver (the
    // q251/q257 bounded-driver-fold rule) instead of paying four
    // sub-aggregates + a full-outer join + three broadcasts over a
    // pinned frame.  All folds are exact-integer / exact-decimal and
    // order-free (long adds; B as exact BigInt Σ rk·ck then ONE
    // toDouble — the same value the DECIMAL(38,0) sum + cast
    // produced); the κ arithmetic below runs through the SAME Spark
    // expressions over the literals, so every double is bit-identical.
    val confRows = assigned
      .groupBy("label_true", "assigned").agg(count(lit(1)).as("c")).collect()
    val nL = confRows.iterator.map(_.getLong(2)).sum
    val aL = confRows.iterator
      .filter(r => r.get(0) == r.get(1)).map(_.getLong(2)).sum
    val rks = confRows.groupBy(_.get(0))
      .map { case (k, rs) => k -> rs.iterator.map(_.getLong(2)).sum }
    val cks = confRows.groupBy(_.get(1))
      .map { case (k, rs) => k -> rs.iterator.map(_.getLong(2)).sum }
    val bD = new java.math.BigDecimal(
      rks.iterator.map { case (k, rk) =>
        BigInt(rk) * BigInt(cks.getOrElse(k, 0L))
      }.sum.bigInteger).doubleValue
    spark.range(1)
      .select(lit(nL).as("n"), lit(aL).as("a"), lit(bD).as("b"))
      .select(col("n").as("n_vecs"), col("a").as("agree"),
        (col("a").cast("double") / col("n").cast("double")).as("po"),
        (col("b") / (col("n").cast("double") * col("n").cast("double"))).as("pe"),
        when(col("n").cast("double") * col("n").cast("double") - col("b") > 0,
          (col("n").cast("double") * col("a").cast("double") - col("b")) /
            (col("n").cast("double") * col("n").cast("double") - col("b")))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** Mean reciprocal rank of same-label retrieval (q165): for each
    * probe, rank ALL other vectors by exact cosine and take the
    * reciprocal rank of the FIRST same-label hit within the top-k
    * (0 if none — standard MRR@k).  Per-label MRR is the
    * dense-retrieval eval: "when I query with a class member, how
    * high does its class surface?" — low MRR for a label means its
    * embeddings don't retrieve each other (the retrieval twin of
    * q143's noise audit and q150's kappa).
    *
    * Determinism: the shared bit-exact cosine ranking with the
    * neighbor_id tiebreak; first-hit rank is an integer min;
    * reciprocals (1/3 is inexact) sum in probe_id order via the
    * pinned fold; one final divide per label.
    *
    * 100 TB shape: probes bounded by construction (q24's broadcast
    * scan; the candidate leg swaps for the ANN tier at scale); the
    * per-label reduction folds ≤ nProbes values.
    */
  def labelMrr(spark: SparkSession, dir: String,
               numProbes: Int = 50, k: Int = 20): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val probes = graft.util.Pins.eager(
      labels.filter(col("vec_id") < numProbes)
        .select(col("vec_id").as("probe_id"), col("label").as("probe_label")))
    val firstHit = bruteForceTopK(spark, dir, numProbes, k)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .filter(col("n_label") === col("probe_label"))
      .groupBy("probe_id").agg(min(col("rank")).as("first_rank"))
    probes.join(firstHit, Seq("probe_id"), "left")
      .withColumn("rr",
        when(col("first_rank").isNotNull, lit(1.0) / col("first_rank").cast("double"))
          .otherwise(lit(0.0)))
      .groupBy(col("probe_label"))
      .agg(count(lit(1)).as("n_probes"),
        (Folds.orderedSum(col("rr"), col("probe_id"))
          / count(lit(1)).cast("double")).as("mrr"))
  }

  /** Hard-negative mining for contrastive training (q147): for each
    * probe, the top-k most-similar vectors carrying a DIFFERENT
    * label — the negatives that actually move a contrastive loss
    * (random negatives are trivially separable; the ones nearest the
    * decision boundary are the training signal).  The standard
    * mining pass behind every dense-retriever / embedding-model
    * training pipeline.
    *
    * Determinism: the shared bit-exact cosine with the neighbor_id
    * tiebreak; the label filter happens BEFORE ranking so rank is
    * dense over negatives only.
    *
    * 100 TB shape: identical to q24's broadcast-probe scan (probes
    * bounded by construction, one pass over candidates, per-probe
    * top-k via the window / bounded-heap contract); past memory
    * scale the candidate leg swaps for the IVF/PQ tier exactly as
    * q26/q95 do, with the label filter pushed into the candidate
    * scan.
    */
  def hardNegatives(spark: SparkSession, dir: String,
                    numProbes: Int = 10, k: Int = 5): DataFrame = {
    val emb = withNorm(Tables.embeddings(spark, dir))
    val probes = emb.filter(col("vec_id") < numProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
    val cands = emb.select(col("vec_id").as("neighbor_id"),
      col("label").as("neg_label"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(probes)
      .join(cands, col("probe_label") =!= col("neg_label"))
      .withColumn("cos", dot(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("probe_label"), col("neighbor_id"),
        col("neg_label"), col("cos").as("cos_sim"), col("rank"))
  }

  /** Maximal Marginal Relevance diversified retrieval (q140,
    * Carbonell & Goldstein, SIGIR'98): greedily re-rank each probe's
    * top-`kCand` cosine candidates so the selected set trades
    * relevance against redundancy —
    *
    *   pick_i = argmax_d  λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)
    *
    * The first pick is pure relevance (empty S ⇒ zero penalty); each
    * later pick penalizes similarity to ANYTHING already selected —
    * the dedup-at-query-time every retrieval stack bolts onto ANN
    * when near-identical chunks crowd the context window.
    *
    * Determinism: every sim is the shared fold-mirrored dot/norm;
    * the λ blend writes (1.0 − 0.7) literally on BOTH engines so
    * Catalyst and DuckDB fold the identical double (the q88
    * constant-folding rule); each greedy pick is the q54 argmax
    * contract — max(struct(score, −doc_id)) ≡ row_number ORDER BY
    * score DESC, doc_id.  The greedy loop is UNROLLED (kSel
    * data-independent iterations), so the whole query is one
    * declarative plan, replayed CTE-for-CTE by the oracle.
    *
    * 100 TB shape: candidate generation delegates to the ANN tier
    * (swap bruteForceTopK for ivfPqAnn past memory scale); MMR
    * itself touches only nProbes·kCand candidate rows and their
    * kCand² within-probe pair sims — bounded by the QUERY, not the
    * corpus.  Each iteration's selected frame is eager-pinned: it
    * has two consumers (anti-join + penalty join) and keeps the
    * unrolled plan linear instead of exponential in kSel.
    */
  def mmrSelect(spark: SparkSession, dir: String, nProbes: Int = 10,
                kCand: Int = 10, kSel: Int = 5, lam: Double = 0.7): DataFrame = {
    // r21 shape: every frame the greedy loop touches is BOUNDED by the
    // probe/candidate constants — qsim is ≤ nProbes·kCand rows (100)
    // and the candidate-pair cosines ≤ nProbes·kCand² (1000), with NO
    // dependence on corpus size.  The r20 form eager-pinned selected
    // every pick (kSel−1 pins + per-pick join/agg jobs ≈ 50 Spark jobs
    // around ≤1000-row data).  Now the two bounded frames are fetched
    // once (the q295 bounded-driver-fold rule; the expensive exact
    // top-k and the pair cosines are still computed BY SPARK, exactly
    // as before) and the greedy MMR selection folds on the driver:
    // max-cos penalty (order-free), the same lam·rel − (1−lam)·pen
    // IEEE ops, the same (mmr, −doc_id) lexicographic argmax — values
    // bit-identical, job count O(1) instead of O(kSel).
    val qsimRows = bruteForceTopK(spark, dir, nProbes, kCand)
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("cos_sim").as("rel")).collect()
    val emb = withNorm(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val cand = spark.createDataFrame(
      java.util.Arrays.asList(qsimRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("probe_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rel",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val withVec = cand.select("probe_id", "doc_id")
      .join(emb, col("vec_id") === col("doc_id"))
      .select(col("probe_id"), col("doc_id"), col("embedding"), col("nrm"))
    val pairRows = withVec.toDF("probe_id", "doc_a", "a_emb", "a_nrm")
      .join(withVec.toDF("probe_id", "doc_b", "b_emb", "b_nrm"), Seq("probe_id"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("probe_id"), col("doc_a"), col("doc_b"),
        (dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
          .as("cos")).collect()
    val relOf = qsimRows.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cosOf = pairRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double, Double)]()
    qsimRows.map(_.getLong(0)).distinct.sorted.foreach { probe =>
      val docs = qsimRows.iterator.filter(_.getLong(0) == probe)
        .map(_.getLong(1)).toSeq
      // pick 1: pure relevance, ties → lowest doc_id (the struct-max rule)
      var selected = List(docs.maxBy(d => (relOf((probe, d)), -d)))
      out += ((probe, 1, selected.head, relOf((probe, selected.head)),
        relOf((probe, selected.head))))
      for (i <- 2 to kSel) {
        val remaining = docs.filterNot(selected.contains)
        if (remaining.nonEmpty) {
          val scored = remaining.map { d =>
            val pen = selected.iterator.map(s => cosOf((probe, d, s))).max
            (d, lam * relOf((probe, d)) - (1.0 - lam) * pen)
          }
          val (pick, mmr) = scored.maxBy { case (d, m) => (m, -d) }
          selected ::= pick
          out += ((probe, i, pick, relOf((probe, pick)), mmr))
        }
      }
    }
    spark.createDataFrame(out.toSeq)
      .toDF("probe_id", "sel_rank", "doc_id", "rel", "mmr_score")
  }

  /** Hybrid lexical+dense retrieval with reciprocal-rank fusion
    * (q133) — the standard production search stack: BM25 over the
    * inverted index (q88's scorer) and exact cosine over embeddings
    * retrieve top-`kEach` candidates independently per probe, and the
    * two rankings fuse by RRF (Cormack, Clarke & Buettcher, SIGIR'09):
    *
    *   rrf(d) = Σ_lists 1/(rrfK + rank_list(d)),  missing list → 0
    *
    * Rank fusion deliberately uses RANKS, not scores — BM25 logits and
    * cosine live on incomparable scales, and RRF needs no calibration.
    * The probe identity is shared because vec_id ≡ doc_id in the
    * corpus; both retrievers exclude the probe document itself.
    *
    * Determinism: both input ranks are row_number over (score desc,
    * doc_id) total orders; each RRF term is one int add + one divide,
    * the fusion one add of two doubles — all correctly rounded, no
    * fold (exactly two lists).  Absent-from-list contributes literal
    * 0.0 via coalesce on BOTH engines; absent ranks surface as 0 ints,
    * never NULL (NULL-in-output hash rule).
    *
    * 100 TB shape: each retriever keeps its own scale path (BM25
    * probes broadcast onto the token-keyed index; dense probes
    * broadcast over the candidate scan — swap in ivfPqAnn for the
    * dense leg when the corpus outgrows brute force); the fusion
    * itself touches only 2·nProbes·kEach rank rows — a full-outer
    * equi-join on (probe_id, doc_id) over a frame whose size is set by
    * the query, not the corpus.
    */
  def hybridRrf(spark: SparkSession, dir: String, nProbes: Int = 10,
                kEach: Int = 20, topK: Int = 10, rrfK: Int = 60): DataFrame = {
    val wLex = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    val lex = TextAnalysis
      .bm25Scored(spark, dir, nProbes, k1 = 1.2, b = 0.75, excludeSelf = true)
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= kEach)
      .select("probe_id", "doc_id", "lex_rank")
    val emb = withNorm(Tables.embeddings(spark, dir))
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nrm").as("p_nrm"))
    val cands = emb.select(col("vec_id").as("doc_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val wDen = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    val dense = broadcast(probes)
      .join(cands, col("probe_id") =!= col("doc_id"))
      .withColumn("cos", dot(col("p_emb"), col("c_emb")) / (col("p_nrm") * col("c_nrm")))
      .withColumn("dense_rank", row_number().over(wDen))
      .filter(col("dense_rank") <= kEach)
      .select("probe_id", "doc_id", "dense_rank")
    val wFuse = Window.partitionBy("probe_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    lex.join(dense, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")).cast("double"), lit(0.0)))
      .withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("rank"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
        col("rrf_score"))
  }

  /** Per-label nDCG@k of same-label retrieval (q188): binary gain
    * (same label = relevant), DCG = Σ 1/log2(rank+1) over the hits in
    * the exact top-k, normalized by the ideal DCG for the number of
    * same-label candidates actually available (capped at k) — the
    * position-sensitive complement of q165's MRR (first hit only) and
    * q87's recall (set overlap only): nDCG is what moves when a
    * relevant result slides from rank 2 to rank 9.
    *
    * Determinism: the shared bit-exact cosine ranking with the
    * neighbor_id tiebreak; each discount term is ln(2)/ln(rank+1)
    * through graft_ln (libm parity) and both the DCG and ideal-DCG
    * sums fold in RANK order from a 0.0 seed, so the DuckDB oracle
    * replays the exact IEEE sequence; the per-label mean folds in
    * probe order (q165's pinning).
    *
    * 100 TB shape: probes bounded by construction (q24's broadcast
    * scan — the candidate leg swaps for the ANN tier at scale); label
    * sizes are one class-bounded agg joined back by broadcast; the
    * ideal-DCG fold runs over a generated ≤k sequence, never data.
    */
  def labelNdcg(spark: SparkSession, dir: String,
                numProbes: Int = 50, k: Int = 20): DataFrame = {
    val ln = graft.functions.MathFunctions.ln _
    val ln2 = ln(lit(2.0))
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val labelSizes = labels.groupBy("label").agg(count(lit(1)).as("n_label"))
    val probes = graft.util.Pins.eager(
      labels.filter(col("vec_id") < numProbes)
        .select(col("vec_id").as("probe_id"), col("label").as("probe_label")))
    val dcg = bruteForceTopK(spark, dir, numProbes, k)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .filter(col("n_label") === col("probe_label"))
      .groupBy("probe_id")
      .agg(Folds.orderedSum(ln2 / ln(col("rank").cast("double") + lit(1.0)), col("rank"))
        .as("dcg"))
    probes
      .join(broadcast(labelSizes), probes("probe_label") === labelSizes("label"))
      .withColumn("m", least(col("n_label") - 1, lit(k)).cast("int"))
      .join(dcg, Seq("probe_id"), "left")
      .withColumn("dcg", coalesce(col("dcg"), lit(0.0)))
      // sequence(1, 0) would count DOWN; guard the empty-ideal case
      .withColumn("idcg", when(col("m") >= 1,
        aggregate(sequence(lit(1), col("m")),
          lit(0.0), (acc, i) => acc + ln2 / ln(i.cast("double") + lit(1.0))))
        .otherwise(lit(0.0)))
      .withColumn("ndcg",
        when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0)))
      .groupBy(col("probe_label"))
      .agg(count(lit(1)).as("n_probes"),
        (Folds.orderedSum(col("ndcg"), col("probe_id"))
          / count(lit(1)).cast("double")).as("mean_ndcg"))
  }

  /** Principal embedding direction via power iteration (q217): the
    * top eigenvector of the (uncentered) covariance XᵀX — the
    * direction PCA whitening, ABTT ("all-but-the-top") embedding
    * post-processing, and anisotropy diagnostics all need first.
    *
    * Fixed `iters` power steps from the exact uniform start
    * v₀ = 1/√dim (dim = 64 ⇒ 0.125, exactly representable):
    * w = Xᵀ(Xv) as two keyed passes — per-vector dot dᵢ = xᵢ·v
    * (sequential fold, 0.0 seed), then per-dimension
    * w_d = Σᵢ x_{i,d}·dᵢ via the quantize-then-exact-sum rule (each
    * term floor(t·1e9 + 0.5), summed as exact DECIMAL(38,0)
    * integers, divided once), so the reduction is independent of
    * partition order AND cross-engine bit-exact; ‖w‖ folds the 64
    * squared components in dimension order.  ‖w‖ of the last step is
    * the Rayleigh eigenvalue estimate.
    *
    * 100 TB shape: each step is one broadcast of the 64-double v,
    * one corpus scan, one 64-key aggregate — the PageRank superstep
    * pattern with a dense 64-vector instead of a rank column.  Each
    * step's v is Pins.eager-pinned (64 rows) so step i+1's plan reads
    * blocks instead of re-deriving every earlier step's corpus scan.
    */
  def principalComponent(spark: SparkSession, dir: String,
                         dim: Int = 64, iters: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    var folded: DataFrame = null
    var v: DataFrame = spark.range(1, dim + 1)
      .select(col("id").cast("int").as("d"), lit(1.0 / math.sqrt(dim.toDouble)).as("vd"))
    for (_ <- 1 to iters) {
      val vrow = v.agg(transform(
        sort_array(collect_list(struct(col("d"), col("vd")))),
        e => e.getField("vd")).as("v"))
      val dots = emb.crossJoin(broadcast(vrow))
        .select(col("vec_id"), col("embedding"),
          Folds.sum(zip_with(col("embedding"), col("v"), (x, y) => x * y)).as("dt"))
      // exact-sum trick for arbitrary doubles: a DECIMAL(38,18) cast
      // of a long-binary double rounds DIFFERENTLY in Spark (exact
      // BigDecimal expansion) and DuckDB (scaled multiply) — measured
      // 1-ulp drift. Quantizing each term with floor(t·1e9 + 0.5)
      // (IEEE multiply + floor, bit-identical everywhere), summing the
      // integer-valued results as exact DECIMAL(38,0), and dividing
      // once keeps the reduction order-independent AND cross-engine
      // exact (precision 1e-9 absolute per term, overflow-safe to
      // 1e29 terms).
      val w = dots
        .select(col("dt"), posexplode(col("embedding")))
        .groupBy((col("pos") + 1).cast("int").as("d"))
        .agg(sum(floor((col("col").cast("double") * col("dt")) * lit(1.0e9) + lit(0.5))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("wdec"))
        .select(col("d"), (col("wdec").cast("double") / lit(1.0e9)).as("wd"))
      folded = graft.util.Pins.eager(
        w.agg(sort_array(collect_list(struct(col("d"), col("wd")))).as("ws"))
          .select(col("ws"),
            sqrt(Folds.sum(transform(col("ws"), e =>
              e.getField("wd") * e.getField("wd")))).as("nrm")))
      v = folded
        .select(posexplode(col("ws")), col("nrm"))
        .select(col("col.d").as("d"), (col("col.wd") / col("nrm")).as("vd"))
    }
    folded
      .select(posexplode(col("ws")), col("nrm"))
      .select(col("col.d").as("d"),
        (col("col.wd") / col("nrm")).as("loading"),
        col("nrm").as("eigval"))
  }

  /** Cell-bounded threshold pairs (q223): the SCALE-PATH twin of
    * q25's deliberate all-pairs baseline, with the SAME output
    * contract (vec_a < vec_b, exact cosine ≥ threshold) — candidate
    * pairs are enumerated only WITHIN q54's trained Lloyd cells (an
    * equi-self-join on cid), so the rescored set is Σ_c C(n_c, 2) ≈
    * n²/cells instead of n²/2, and the cell count grows with the
    * corpus (the Similarity header contract).  This is q80 SemDeDup's
    * within-cell architecture applied to pair MINING rather than
    * dedup-drop.
    *
    * Why not sign-LSH banding (q21/q78 style): banding prunes only at
    * HIGH similarity — at this fixture's pair-cosine range (max
    * 0.513, threshold 0.42 ⇒ θ ≈ 65°) a sign bit agrees with
    * p ≈ 0.64, so any banding either misses most true pairs or admits
    * nearly all candidates.  Coarse cells bound the candidate set
    * unconditionally; the price is cross-cell misses, which q224
    * measures as the realized pair recall.
    */
  def thresholdPairsCell(spark: SparkSession, dir: String,
                         threshold: Double = 0.42,
                         nCells: Int = 8, iters: Int = 2,
                         sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = withNorm(
      assignCells(emb, lloydCentroids(emb, nCells, iters, sampleN)))
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos").as("cos_sim"))
  }

  /** Pair-recall audit for the cell-bounded threshold join (q224):
    * what fraction of q25's exact threshold pairs does q223's
    * within-cell path recover — the single number that justifies
    * retiring the quadratic baseline at scale, and the knob check for
    * the cells-vs-recall trade (more cells ⇒ cheaper ∧ lower recall).
    * One row: exact count, found count, recall.
    *
    * Measured at sf0.01 / 8 cells: 14 of 34 exact pairs (0.41) — low
    * BECAUSE the fixture's "pairs" sit at cos ≈ 0.42 (θ ≈ 65°, max
    * pair cos 0.513 — near-random vectors), where neighbors straddle
    * coarse-cell boundaries.  On a real near-dup corpus (pairs at
    * cos ≥ 0.9) within-cell recall approaches 1; this audit is what
    * tells you which regime you are in before trusting the twin.
    */
  def thresholdPairRecall(spark: SparkSession, dir: String,
                          threshold: Double = 0.42): DataFrame = {
    val exact = thresholdPairs(spark, dir, threshold)
      .select(col("vec_a"), col("vec_b"))
    val found = thresholdPairsCell(spark, dir, threshold)
      .select(col("vec_a"), col("vec_b"), lit(1).as("hit"))
    exact.join(found, Seq("vec_a", "vec_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_found"))
      .select(col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double")).as("pair_recall"))
  }

  /** Per-source anisotropy audit (q220): project every embedding onto
    * q217's principal direction and report each source's mean and
    * mean-absolute projection — the ABTT diagnostic ("all-but-the-top",
    * Mu & Viswanath 2018) that tells you whether one source's vectors
    * cluster along the corpus's dominant direction (a retrieval-bias
    * smell) before that source is mixed into training data.
    *
    * Determinism: the direction is q217's pinned output re-assembled
    * in dimension order; each projection is the 0.0-seeded sequential
    * fold; per-source means follow the quantize-then-exact-sum rule
    * (nano-unit integers — projections are O(1)).
    *
    * 100 TB shape: q217's three pinned supersteps, then ONE more
    * corpus scan with the 64-double direction broadcast and one
    * source-keyed aggregate.  The documents join keys on
    * vec_id ≡ doc_id (the q139 identity).
    */
  def sourceAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val v = principalComponent(spark, dir)
    val vrow = v.agg(transform(
      sort_array(collect_list(struct(col("d"), col("loading")))),
      e => e.getField("loading")).as("v"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.embeddings(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(vrow))
      .select(col("source"),
        dotBuiltin(col("embedding"), col("v")).as("proj"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("proj") * lit(1.0e9) + lit(0.5)).cast(dec0))
          .cast("double") / lit(1.0e9) / count(lit(1)).cast("double")).as("mean_proj"),
        (sum(floor(abs(col("proj")) * lit(1.0e9) + lit(0.5)).cast(dec0))
          .cast("double") / lit(1.0e9) / count(lit(1)).cast("double")).as("mean_abs_proj"))
      .orderBy(col("source"))
  }

  /** Symmetric int8 quantization audit (q218): the error budget of
    * serving embeddings at 8 bits — per vector, scale = max|x|/127,
    * q_d = clamp(⌊x_d/scale + 0.5⌋, ±127), and the reconstruction
    * squared error folds in dimension order; per label, exact-decimal
    * mean MSE plus max MSE and mean scale.  The go/no-go audit before
    * swapping an ANN serving tier to int8 — PQ (q92) compresses
    * harder but needs codebooks; int8 is the codebook-free baseline.
    *
    * Determinism: the max|x| fold is sequential with a 0.0 seed
    * (all-zero vectors hit the explicit scale = 0 guard), ⌊·+0.5⌋ is
    * the explicit half-up both engines share (never round(), whose
    * tie rule differs), and cross-row means follow q217's
    * quantize-then-exact-sum rule (femto-unit integers, exact
    * DECIMAL(38,0) sum, one divide) — a raw DECIMAL(38,18) cast of
    * an arbitrary double rounds 1 ulp apart across engines.
    *
    * 100 TB shape: one scan, all per-vector math inside codegen'd
    * higher-order functions, one label-keyed aggregate with map-side
    * combine.  Nothing is ever pairwise.
    */
  def quantizationAudit(spark: SparkSession, dir: String,
                        qmax: Double = 127.0): DataFrame = {
    val xd = (x: Column) => x.cast("double")
    val scale = aggregate(transform(col("embedding"), x => abs(xd(x))),
      lit(0.0), (a, x) => greatest(a, x)) / lit(qmax)
    val sqerr = Folds.sum(transform(col("embedding"), { x =>
      val q = least(greatest(floor(xd(x) / col("scale") + lit(0.5)), lit(-qmax)), lit(qmax))
      val dq = q * col("scale")
      (xd(x) - dq) * (xd(x) - dq)
    }))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("scale", scale)
      .withColumn("mse",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(sqerr / size(col("embedding")).cast("double")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        // q217's quantize-then-exact-sum rule for means of arbitrary
        // doubles (a DECIMAL(38,18) cast drifts 1 ulp cross-engine):
        // femto-unit integers, exact DECIMAL(38,0) sum, one divide
        (sum(floor(col("mse") * lit(1.0e15) + lit(0.5))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(1.0e15) / count(lit(1)).cast("double")).as("mean_mse"),
        max(col("mse")).as("max_mse"),
        (sum(floor(col("scale") * lit(1.0e15) + lit(0.5))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(1.0e15) / count(lit(1)).cast("double")).as("mean_scale"))
      .orderBy(col("label"))
  }

  /** q265: Johnson–Lindenstrauss random-projection distortion audit —
    * project the 64-dim embeddings to m=16 dims with a deterministic
    * ±1 sign matrix (sign(j,d) = +1 iff the first hex digit of
    * md5("jl:j:d") is 0-7; both engines derive the identical matrix
    * from md5), then measure, on the id-adjacent pair sample
    * (vec_b − vec_a ∈ [1, maxOff]), the distortion ratio
    *
    *   ‖P(a) − P(b)‖² / (m · ‖a − b‖²)   (E[ratio] = 1 for ±1 JL)
    *
    * — the cheap-sketch trust gate a 100 TB ANN pre-filter needs
    * before replacing 64-dim distance with 16-dim distance.
    *
    * Determinism: every reduction over vector components is an
    * ordered array fold (aggregate over zip_with, d then j ascending
    * — the q217/q128 rule), every scalar op is IEEE correctly
    * rounded, so both engines produce bit-identical doubles.
    *
    * 100 TB shape: the sign matrix is one broadcast row (m·dim
    * doubles); projection is a map-only pass; the pair sample is an
    * offset-explode EQUI-join on vec_id (never a range/NL join), so
    * the audit is corpus-linear with a maxOff fan-out.
    */
  def jlDistortion(spark: SparkSession, dir: String,
                   m: Int = 16, maxOff: Int = 5): DataFrame = {
    val sgn = spark.range(0, m)
      .select(col("id").cast("int").as("j"),
        transform(sequence(lit(0), lit(63)), d =>
          when(conv(substring(md5(concat(lit("jl:"), col("id").cast("string"),
            lit(":"), d.cast("string"))), 1, 1), 16, 10).cast("int") < 8,
            lit(1.0)).otherwise(lit(-1.0))).as("s"))
    val sgnRow = sgn.agg(transform(
      sort_array(collect_list(struct(col("j"), col("s")))),
      e => e.getField("s")).as("sm"))
    // pinned: the projected frame feeds BOTH sides of the pair join —
    // without the pin the scan+projection pass runs twice
    val proj = graft.util.Pins.eager(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(sgnRow))
      .select(col("vec_id"), col("embedding"),
        transform(col("sm"), sj =>
          Folds.sum(zip_with(col("embedding"), sj, (x, y) => x * y))).as("proj")))
    val a = proj.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("proj").as("pa"))
      .withColumn("vec_b", explode(sequence(col("vec_a") + 1, col("vec_a") + maxOff)))
    val b = proj.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("proj").as("pb"))
    a.join(b, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        // cast BEFORE subtracting: a float-width subtract would round
        // differently from the oracle's double arithmetic
        Folds.sum(zip_with(col("ea"), col("eb"), (x, y) =>
          (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")))).as("exact_d2"),
        Folds.sum(zip_with(col("pa"), col("pb"),
          (x, y) => (x - y) * (x - y))).as("proj_d2"))
      .withColumn("ratio",
        when(col("exact_d2") === 0.0, lit(null).cast("double"))
          .otherwise(col("proj_d2") / (lit(m.toDouble) * col("exact_d2"))))
      .orderBy("vec_a", "vec_b")
  }

  /** Per-cell simplified silhouette of the q73/q54 k-means cells
    * (q306): for each vector, a = Euclidean distance to its OWN
    * trained centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1].  The centroid-based
    * ("simplified") silhouette of Hruschka et al. replaces the
    * classic all-pairs mean distances with centroid distances — the
    * only form that is corpus-linear and therefore the one a 100 TB
    * pipeline can actually run; it answers "which cells are
    * well-separated and which are shredding one population across
    * two ids" BEFORE anyone shards by cell (q73's population view
    * says nothing about geometry; q109 purity needs labels).
    *
    * Cell membership stays the house argmax-DOT rule (ties → lowest
    * cid) so this audits exactly the cells q54/q73/q223 build —
    * membership is NOT re-derived by min-distance.  Distances come
    * from the dot-product identity d² = ‖x‖² − 2x·c + ‖c‖² (each dot
    * a dimension-ordered native fold, the same operand order on both
    * engines) with a greatest(…, 0) clamp so x ≈ c can't produce a
    * NaN via a −1-ulp negative; sqrt is correctly rounded in both
    * engines.  Per-cell aggregation uses the quantize-then-exact-sum
    * rule (q247/PCA): each s quantized to floor(s·1e9 + 0.5) as
    * BIGINT, summed exactly (order-free), ONE terminal divide —
    * never a shuffle-order-dependent double sum.
    *
    * 100 TB shape: centroid training is the q54 broadcast-train loop
    * (bounded sample); scoring is ONE corpus scan against a
    * broadcast k×64 array — per-vector work is pure expression (no
    * per-vector shuffle, no window) — and the only exchange is the
    * final k-key aggregate.
    */
  def silhouette(spark: SparkSession, dir: String,
                 k: Int = 8, iters: Int = 2, sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = lloydCentroids(emb, k, iters, sampleN)
    val carr = cents.agg(sort_array(
      collect_list(struct(col("cid"), col("c_emb")))).as("cs"))
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(carr))
      .withColumn("nx", dot(col("embedding"), col("embedding")))
      .withColumn("ds", transform(col("cs"), c => {
        val cdot = dot(col("embedding"), c.getField("c_emb"))
        val nc = dot(c.getField("c_emb"), c.getField("c_emb"))
        struct(c.getField("cid").as("cid"), cdot.as("cdot"),
          sqrt(greatest((col("nx") - (cdot + cdot)) + nc, lit(0.0))).as("dist"))
      }))
      // own cell: max struct on (cdot, -cid) == the q54 window's
      // (cdot DESC, cid ASC); cid unique so dist never decides
      .withColumn("own", array_max(transform(col("ds"), s =>
        struct(s.getField("cdot").as("cdot"), (-s.getField("cid")).as("ncid"),
          s.getField("dist").as("dist")))))
      .select(col("vec_id"), (-col("own.ncid")).as("cid"),
        col("own.dist").as("a"),
        array_min(transform(
          filter(col("ds"), s => s.getField("cid") =!= -col("own.ncid")),
          s => s.getField("dist"))).as("b"))
      .withColumn("s",
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .withColumn("qs", floor(col("s") * lit(1.0e9) + lit(0.5)).cast("long"))
    scored.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qs").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("sil_sum_q9"),
        sum(when(col("qs") < 0L, 1L).otherwise(0L)).as("n_negative"))
      .select(col("cid"), col("n_vecs"), col("sil_sum_q9"), col("n_negative"),
        (col("sil_sum_q9").cast("double") /
          (col("n_vecs") * lit(1000000000L)).cast("double")).as("mean_sil"))
      .orderBy("cid")
  }

  /** Davies–Bouldin terms for the q73/q54 cells (q310): the OTHER
    * classic internal cluster-quality index — σᵢ = mean member
    * distance to the own centroid (scatter), and for each cell the
    * worst similarity ratio Rᵢ = max_{j≠i} (σᵢ + σⱼ) / d(cᵢ, cⱼ).
    * Silhouette (q306) scores per-POINT margins; DB scores per-CELL
    * scatter against centroid separation — a cell can have fine
    * silhouette yet a bad DB term when its nearest peer centroid is
    * close relative to the two scatters.  Mean of r_max over cells is
    * the Davies–Bouldin index; the per-cell rows name WHICH peer is
    * the confusable one (the merge candidate a curation pass reviews).
    *
    * Determinism: member distances are the q306 pinned expression
    * (dot-identity, clamp, sqrt); σᵢ goes through quantize-then-
    * exact-sum (q9) with ONE terminal divide; the k×k ratio matrix is
    * pinned double arithmetic on a bounded frame; the argmax peer is
    * max(struct(r, −cid)) — ties (double-equal ratios) break to the
    * LOWEST peer cid, same rule both engines.
    *
    * 100 TB shape: identical to q306 — broadcast centroids, one
    * corpus scan, one k-key aggregate; everything after is k² rows.
    */
  def daviesBouldin(spark: SparkSession, dir: String,
                    k: Int = 8, iters: Int = 2, sampleN: Int = 256): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = lloydCentroids(emb, k, iters, sampleN)
    val carr = cents.agg(sort_array(
      collect_list(struct(col("cid"), col("c_emb")))).as("cs"))
    val sums = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(carr))
      .withColumn("nx", dot(col("embedding"), col("embedding")))
      .withColumn("own", array_max(transform(col("cs"), c => {
        val cdot = dot(col("embedding"), c.getField("c_emb"))
        val nc = dot(c.getField("c_emb"), c.getField("c_emb"))
        struct(cdot.as("cdot"), (-c.getField("cid")).as("ncid"),
          sqrt(greatest((col("nx") - (cdot + cdot)) + nc, lit(0.0))).as("dist"))
      })))
      .select((-col("own.ncid")).as("cid"),
        floor(col("own.dist") * lit(1.0e9) + lit(0.5)).cast("long").as("qd"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qd").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("d_sum_q9"))
      .select(col("cid"), col("n_vecs"),
        (col("d_sum_q9").cast("double") /
          (col("n_vecs") * lit(1000000000L)).cast("double")).as("sigma"))
    val cn = cents
      .withColumn("nc", dot(col("c_emb"), col("c_emb")))
      .join(sums, "cid")
    val pairs = cn.as("i").join(cn.as("j"), col("i.cid") =!= col("j.cid"))
      .select(col("i.cid").as("cid"), col("i.n_vecs").as("n_vecs"),
        col("i.sigma").as("sigma"), col("j.cid").as("peer"), {
          val cd = dot(col("i.c_emb"), col("j.c_emb"))
          val d = sqrt(greatest((col("i.nc") - (cd + cd)) + col("j.nc"), lit(0.0)))
          ((col("i.sigma") + col("j.sigma")) / d).as("r")
        })
    pairs.groupBy("cid")
      .agg(max(col("n_vecs")).as("n_vecs"), max(col("sigma")).as("sigma"),
        max(struct(col("r"), (-col("peer")).as("npeer"))).as("m"))
      .select(col("cid"), col("n_vecs"), col("sigma"),
        (-col("m.npeer")).as("worst_peer"), col("m.r").as("r_max"))
      .orderBy("cid")
  }

  /** Per-dimension Fisher discriminant audit (q318): which embedding
    * DIMENSIONS carry each label's signal — the feature-selection
    * lens the vector tier lacks (q27 profiles labels, q109/q143
    * score cluster/neighbor purity, but none says "label 3 lives in
    * dims 17 and 41").  For every (label, dim), the one-vs-rest
    * Fisher ratio F = (μ_l − μ_rest)² / (σ²_l + σ²_rest); per label
    * the top-5 dims by F.  Low top-F across all labels flags
    * embeddings that won't linearly separate; a single dominant dim
    * flags a shortcut feature a probe would overfit to.
    *
    * Determinism: each float is quantized once — q = floor(x·10⁶ +
    * ½) (exact: floats are exact doubles) — and ALL moments are
    * exact BIGINT sums of q and q² (|x| < 0.6 ⇒ Σq² < 7·10¹⁴ at
    * sf0.1; beyond ~10⁷ vectors the q² sum needs DECIMAL(38,0) — a
    * documented scale upgrade, same discipline as q309).  Rest
    * moments are exact total−label subtractions; F is one pinned
    * double factorization per (label, dim); F is scale-invariant in
    * q-units (the 10¹² cancels), so no rescale divide exists at all.
    * Zero-variance dims (σ²_l + σ²_rest = 0) are excluded before
    * ranking on both engines.
    *
    * 100 TB shape: ONE posexplode pass (row count × dim, the same
    * fan-out every per-dim audit pays) into ONE (label, dim)-keyed
    * exact aggregate (k·d cells — tiny), then driver-scale algebra:
    * the dim totals broadcast back over the k·d frame, and the
    * top-5-per-label window runs on k·d rows.
    */
  def fisherDims(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1.0e6) + lit(0.5))
          .cast("long").as("q"))
    val perLD = q.groupBy("label", "dim")
      .agg(count(lit(1)).as("n_l"), sum(col("q")).as("s_l"),
        sum(col("q") * col("q")).as("s2_l"))
    val tot = perLD.groupBy("dim")
      .agg(sum(col("n_l")).as("n_t"), sum(col("s_l")).as("s_t"),
        sum(col("s2_l")).as("s2_t"))
    val f = perLD.join(broadcast(tot), "dim")
      .select(col("label"), col("dim"), col("n_l"), {
        val nR = col("n_t") - col("n_l")
        val sR = col("s_t") - col("s_l")
        val s2R = col("s2_t") - col("s2_l")
        val muL = col("s_l").cast("double") / col("n_l").cast("double")
        val muR = sR.cast("double") / nR.cast("double")
        val varL = (col("s2_l").cast("double") / col("n_l").cast("double")
          - muL * muL)
        val varR = s2R.cast("double") / nR.cast("double") - muR * muR
        val d = muL - muR
        struct(((d * d) / (varL + varR)).as("fisher"),
          (varL + varR).as("denom")).as("t")
      })
      .select(col("label"), col("dim"), col("n_l"),
        col("t.fisher").as("fisher"), col("t.denom").as("denom"))
      .filter(col("denom") > 0.0)
    f.withColumn("rank", row_number().over(Window.partitionBy("label")
        .orderBy(col("fisher").desc, col("dim").asc)))
      .filter(col("rank") <= topK)
      .select(col("label"), col("rank"), col("dim"), col("n_l"), col("fisher"))
      .orderBy("label", "rank")
  }
}
