package graft.operators

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over the `documents` corpus — the first of the
  * LLM-data-pipeline operator tiers (SURVEY.md §2.C, BASELINE north
  * star).  Five detectors, each built to stay sub-quadratic at 100 TB:
  *
  *  - exact:        hash-groupBy on md5(text) — one shuffle on the hash.
  *  - fingerprint:  hash-groupBy on the sorted-distinct-token md5 —
  *                  catches word-order shuffles at the same cost.
  *  - MinHash-LSH:  shingle → k minhashes → banded signatures →
  *                  self-join on (band, signature).  Only documents
  *                  sharing a full band collide, so the join is an
  *                  equi-join on a selective key — never an all-pairs
  *                  cross product.
  *  - n-gram Jaccard: inverted-index join on shingle for candidate
  *                  pairs + exact Jaccard on intersection counts.  At
  *                  100 TB you'd drop stop-shingles (document frequency
  *                  cap) before the join; the pattern is the same.
  *  - SimHash:      per-token hash bits → majority vote → compact
  *                  64-bit-style signature (16 bits here so the oracle
  *                  SQL stays finite); equal signatures ⇒ near-dups.
  *
  * The minhash family is integer-arithmetic (graft.plans.MinHashes):
  * one base polynomial hash per shingle, scrambled per seed by a
  * distinct odd multiplier mod 2^32 — reproducible in any engine with
  * 64-bit integers, which is what lets the DuckDB oracle verify the
  * whole LSH pipeline end to end (and collisions are shared, so parity
  * is unconditional).
  */
object Dedup {

  /** Exact duplicate groups: survivor = min doc_id per content hash. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Bag-of-words duplicate groups via the canonical fingerprint. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Dedup against an existing corpus: keep only documents whose
    * content fingerprint is NOT already present in `corpus` — the
    * incremental-ingest form of dedup (new crawl vs indexed corpus),
    * as a left_anti join on the fingerprint hash.  At scale this is
    * one shuffle on the hash (or broadcast when the new batch is
    * small), never a pairwise comparison.
    */
  def againstCorpus(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val fp = TextFunctions.fingerprint(col("text"))
    newDocs.withColumn("fp", fp)
      .join(corpus.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
      .drop("fp")
  }

  /** Oracle-shaped corpusDiff: treat doc_id < `split` as the already-
    * indexed corpus and report which documents (including the corpus's
    * own members' duplicates) carry an unseen fingerprint.  Exercises
    * the left_anti incremental-dedup path end to end.
    */
  def corpusDiff(spark: SparkSession, dir: String, split: Long = 250): DataFrame = {
    val docs = Tables.documents(spark, dir)
    againstCorpus(docs, docs.filter(col("doc_id") < split))
      .select("doc_id", "source")
  }

  /** Bloom-prefiltered corpusDiff — the 100 TB shape of incremental
    * dedup, with the identical result set (q49's oracle verifies it
    * exactly, because a bloom filter has NO false negatives: a
    * definite-miss is definitely new, and every maybe-hit is settled
    * by the exact anti-join).
    *
    * Why it scales where the plain left_anti doesn't: the anti-join
    * shuffles BOTH sides on the fingerprint — at 100 TB the probe side
    * is the whole new crawl.  Here the corpus aggregates into one
    * bloom bitmap (partial+final merge, a few KB), the bitmap ships to
    * every task as a scalar subquery (one broadcast, no join), and the
    * codegen'd `might_contain` drops the overwhelming majority of
    * probe rows BEFORE the shuffle.  Only the ~fpp false-positive
    * sliver plus the true duplicates reach the anti-join.  This is the
    * same machinery Spark's runtime join filters use
    * (BloomFilterAggregate / BloomFilterMightContain), surfaced as SQL
    * functions by GraftExtensions.
    *
    * Sizing: estItems/numBits are literals here (test corpus ≤ a few
    * thousand fingerprints); a production job sizes them from the
    * corpus row-count statistic.  NULL-safety: an empty corpus slice
    * aggregates to a NULL bitmap and might_contain(NULL) is NULL, so
    * the definite-miss branch wraps it in coalesce(…, false) — a NULL
    * bitmap degrades to "everything is a definite miss", matching the
    * exact left_anti semantics.  The maybe-hit branch settles via
    * NOT EXISTS (not NOT IN): a NULL fingerprint on either side can't
    * NULL-out the predicate, so NULL-text rows stay in the result
    * exactly as they do under the left_anti join.
    */
  def corpusDiffBloom(spark: SparkSession, dir: String, split: Long = 250): DataFrame = {
    Tables.registerAll(spark, dir)
    graft.plans.RegisterFunctions(spark)
    spark.sql(
      s"""WITH fp AS (
         |  SELECT doc_id, source,
         |         md5(concat_ws(' ', array_sort(array_distinct(split(text, ' '))))) AS fp
         |  FROM documents),
         |corp AS (SELECT DISTINCT fp FROM fp WHERE doc_id < $split),
         |bloom AS (SELECT graft_bloom_agg(xxhash64(fp), 4096, 262144) AS bf FROM corp)
         |SELECT doc_id, source FROM fp
         |WHERE NOT coalesce(graft_might_contain((SELECT bf FROM bloom), xxhash64(fp)), false)
         |UNION ALL
         |SELECT f.doc_id, f.source FROM fp f
         |WHERE coalesce(graft_might_contain((SELECT bf FROM bloom), xxhash64(f.fp)), false)
         |  AND NOT EXISTS (SELECT 1 FROM corp c WHERE c.fp = f.fp)""".stripMargin)
  }

  /** Distinct word-`n`-gram shingles per document: (doc_id, shingle).
    *
    * Dedup happens per row (array_distinct before the explode, narrow)
    * — but the trailing global .distinct() stays DELIBERATELY even
    * though the rows are already unique: its exchange is the
    * materialization point that the downstream self-join's two sides
    * and the sizes aggregate all reuse (ReusedExchange).  Dropping it
    * re-executes the shingling pipeline once per consumer and doubled
    * q22's wall time at sf0.1.
    */
  private[operators] def shingleSet(docs: DataFrame, n: Int): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        explode(TextFunctions.shingleSet(col("text"), n)).as("shingle"))
      .distinct()

  /** MinHash-LSH candidate pairs (doc_a < doc_b).
    *
    * @param numHashes   total minhash functions (seeds 0..numHashes-1)
    * @param rowsPerBand hashes per band; bands = numHashes/rowsPerBand.
    *                    Collision prob for Jaccard s is
    *                    1-(1-s^rows)^bands — defaults target s ≳ 0.5.
    */
  def minhashLsh(spark: SparkSession, dir: String,
                 shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // The whole signature is ONE narrow expression per document
    // (graft.plans.MinHashes): no shingle explode, no distinct, no
    // aggregation — min over the shingle multiset equals min over the
    // set, so the groupBy-min the SQL formulation uses is computable
    // per row.  The only shuffle left in the query is the band
    // self-join.
    val mh = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= shingleN)
      .select(col("doc_id"),
        TextFunctions.minHashes(col("text"), shingleN, numHashes).as("mhs"))
    // Band signatures: seed-order concat within each band — identical
    // to string_agg(mh, ',' ORDER BY seed) per band.  explode of a
    // small literal array is narrow (no shuffle).
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      val sigCols = (0 until rowsPerBand).map(r =>
        element_at(col("mhs"), b * rowsPerBand + r + 1).cast("string"))
      struct(lit(b.toLong).as("band"), concat_ws(",", sigCols: _*).as("sig"))
    }
    val sig = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val a = sig.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val b = sig.select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Duplicate CLUSTERS from the minhash candidate pairs: connected
    * components by iterative min-label propagation, the step that
    * turns pairwise near-dup hits into dedup groups with a canonical
    * survivor (cluster_id = smallest doc_id in the component — the doc
    * a pipeline keeps).
    *
    * Each superstep is one shuffle join (edges ⋈ labels) + a min
    * aggregation, closed by a single changed-count aggregate that both
    * materializes the persisted labels and answers convergence — the
    * driver orchestrates supersteps but collects only that one count.
    * Supersteps needed = component diameter — near-dup clusters are
    * tiny, so 2-3 in practice; the shape is the standard large-graph
    * CC that scales to billions of edges.  The fixpoint (min reachable
    * id) is engine- and iteration-order-independent, which is what
    * makes an exact DuckDB oracle (recursive closure) possible.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(spark, dir))

  /** Min-label propagation over an undirected pair list (columns
    * `doc_a`, `doc_b`) — the engine core behind dedupClusters,
    * factored out so adversarial graph shapes (long chains) are unit
    * testable without a minhash corpus.
    *
    * Plan-size bound: the superstep recurrence references `labels`
    * twice (the join input and inside nbrMin), so without truncation
    * the logical plan grows EXPONENTIALLY in supersteps — 2^d copies
    * of the seed plan at diameter d; persist() truncates recompute
    * but Catalyst still analyzes the whole tree every superstep
    * (measured: a diameter-40 chain OOMs during plan analysis around
    * superstep 12).  So each superstep's label frame is a *lazy*
    * `localCheckpoint`: materialization piggybacks on the one
    * convergence action the superstep already runs (no extra job),
    * and the next superstep's plan rebases on the materialized
    * partitions — plan size is O(1) per superstep at any diameter.
    * The standard iterative-graph trade (same as GraphX/GraphFrames
    * checkpointing): an executor lost mid-operator fails the job
    * instead of recomputing lineage; retried clean-slate.
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // Symmetrize with ONE pass over `pairs`: a union of two selects
    // evaluates the (expensive) pairs subtree twice when the persist
    // first materializes — explode of both directions reads it once.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .persist()
    // seed with the closed-neighborhood minimum — superstep 1 fused
    // into initialization (every node appears as src because edges
    // carry both directions), saving one full loop iteration
    var labels = edges.groupBy("src")
      .agg(min(col("dst")).as("nbr"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("nbr")).as("cluster_id"))
      .persist()
    try {
      var converged = false
      while (!converged) {
        // One superstep = ONE join + ONE aggregation: neighbor label
        // candidates (edges ⋈ labels on dst) are unioned with each
        // node's own label row and min-reduced per node — the
        // join-back of nbr_min onto labels that a naive formulation
        // pays (a third shuffle round per superstep) is folded into
        // the same aggregate by carrying the old label as a second
        // min (each node has exactly one non-null `old`, and every
        // node appears as an edge src, so no coalesce path is
        // needed).
        val candidates = edges
          .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
          .select(col("src").as("doc_id"), col("cluster_id").as("cand"),
            lit(null).cast("long").as("o"))
          .union(labels.select(col("doc_id"), col("cluster_id").as("cand"),
            col("cluster_id").as("o")))
        // lazy checkpoint: materialized by the convergence action
        // below (still ONE action per superstep), then the plan is a
        // LogicalRDD — the exponential labels-referenced-twice
        // recurrence never builds up; old checkpoint partitions are
        // released by the ContextCleaner once the loop drops them
        val next = candidates.groupBy("doc_id")
          .agg(min(col("cand")).as("cluster_id"), min(col("o")).as("old"))
          .localCheckpoint(false)
        converged = next
          .agg(coalesce(sum(when(col("cluster_id") =!= col("old"), 1L).otherwise(0L)),
            lit(0L))) // coalesce: sum over an empty frame is NULL
          .head().getLong(0) == 0L
        labels.unpersist() // real for the seed persist; no-op after
        labels = next.drop("old")
      }
      labels
    } finally { edges.unpersist(); () }
  }

  /** PageRank over the near-duplicate graph (q119): centrality of each
    * document in the MinHash-LSH candidate graph — hub documents (the
    * template a hundred variants were stamped from) rank high, isolated
    * near-dup pairs rank near the floor.  Complements q72's connected
    * components (WHICH cluster) and q77's survivor pick (WHO represents
    * it) with HOW CENTRAL each member is — the signal used to pick
    * canonical pages and to down-weight boilerplate hubs in corpus
    * curation.
    *
    * Fixed `iters` power iterations with damping d over the symmetrized
    * pair list: r₀ = 1/N; rₖ₊₁(v) = (1−d)/N + d·Σ rₖ(u)/deg(u) over
    * neighbors u.  No dangling-mass term is needed — every node of an
    * undirected pair graph has degree ≥ 1 by construction.  For
    * bit-parity with the oracle the neighbor sum folds in NEIGHBOR-ID
    * ORDER via the bounded two-level segmented fold
    * ([[GraphFold.segmentedSum]], mirrored CTE-for-CTE by DuckDB —
    * the r16 hub-hazard fix: a boilerplate hub's per-row state is
    * max(4096, ⌈degree/4096⌉), never a full degree-sized array), and
    * the damping constants are written as the same literal arithmetic
    * on both sides so both engines fold them identically.
    *
    * 100 TB shape: the edge frame (with degree pre-joined) is pinned
    * eagerly ONCE via [[graft.util.Pins.eager]] — the LSH join and
    * degree shuffle never re-run — and each iteration is one
    * equi-join + one keyed aggregation on the (tiny relative to the
    * corpus) graph frame.  The rank frame re-shuffles on the same id
    * key every iteration; plan depth is linear in `iters` (each
    * iteration references the previous rank frame exactly once), so
    * no per-iteration checkpoint is needed at fixed small `iters` —
    * unlike q72's fixpoint, whose superstep recurrence references its
    * state twice and grows exponentially without truncation.
    */
  def pageRank(spark: SparkSession, dir: String,
               iters: Int = 4, damping: Double = 0.85): DataFrame = {
    val pairs = minhashLsh(spark, dir)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // one materialization of the graph: every iteration reads these
    // blocks instead of re-running the LSH join (Pins.eager also
    // keeps any broadcast of the small rank frames off the lazy-
    // checkpoint deadlock path, SCALING.md)
    val g = graft.util.Pins.eager(edges.join(deg, "src"))
    val tot = broadcast(g.select(col("src")).distinct()
      .agg(count(lit(1)).as("n")))
    var ranks = g.select(col("src").as("id")).distinct()
      .crossJoin(tot)
      .select(col("id"), (lit(1.0) / col("n").cast("double")).as("r"))
    for (_ <- 1 to iters) {
      val contribs = g.join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), col("src"),
          (col("r") / col("deg").cast("double")).as("c"))
      ranks = GraphFold.segmentedSum(contribs, "dst", col("src"), col("c"), "s")
        .crossJoin(tot)
        .select(col("dst").as("id"),
          ((lit(1.0) - lit(damping)) / col("n").cast("double") +
            lit(damping) * col("s")).as("r"))
    }
    ranks.select(col("id").as("doc_id"), col("r").as("pagerank"))
  }

  /** Blocked fuzzy self-join at edit distance 1 (q121): the
    * record-linkage primitive — find entity names one typo apart
    * without an n² comparison.  Symmetric-delete blocking (the
    * SymSpell/FastSS construction): each name's variant set is itself
    * plus every one-character deletion, and dist(a,b) ≤ 1 ⟺ the
    * variant sets intersect (a substitution pair shares the deletion
    * at the edited position; an insert/delete pair contains one side
    * verbatim in the other's deletions).  The equi-join on `variant`
    * therefore finds EVERY true pair; the few false positives the
    * blocking admits (e.g. transpositions, distance 2) are removed by
    * one exact levenshtein filter over candidates only — so the
    * result is IDENTICAL to the naive all-pairs join the oracle runs,
    * at a fraction of the comparisons.
    *
    * 100 TB shape: variant generation is a narrow (len+1)-fold
    * row explosion; the join is an equi-join on a selective key
    * (shared-prefix deletions keep per-variant fan-out near the true
    * duplicate rate), and the exact filter touches candidates only.
    * The naive quadratic form never exists in the plan — the same
    * inverted-index discipline as the LSH and shingle joins.
    */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.supplier(spark, dir).select(col("s_name").as("name"))
    val variants = names.select(col("name"),
      explode(array_distinct(expr(
        """transform(sequence(0, length(name)),
          |  i -> IF(i = 0, name,
          |          concat(substr(name, 1, i - 1),
          |                 substr(name, i + 1, length(name)))))""".stripMargin)))
        .as("variant"))
    variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) === 1)
  }

  /** Asymmetric shingle containment (q124): |A∩B| / |A| — the
    * subset-duplication detector symmetric Jaccard is blind to.  A
    * short document pasted verbatim inside a much longer one has
    * Jaccard ≈ |A|/|B| (arbitrarily small) but containment ≈ 1; LSH
    * (q21) won't collide such pairs either, since minhash estimates
    * Jaccard.  This is the "quotes/boilerplate/embedded copy" audit
    * in LLM dedup pipelines.
    *
    * Two stages, both exact where it matters: (1) CANDIDATES — pairs
    * sharing at least one rare shingle (document frequency ≤
    * `maxShingleDf`, the q45 rule; a contained copy shares ALL of A's
    * shingles, so requiring one rare shared shingle only loses pairs
    * whose every common shingle is corpus-hot); (2) EXACT per-pair
    * intersection — candidates joined back to the FULL shingle sets
    * of both sides, so the reported containment is the true value,
    * not the capped index's undercount (the difference from q45,
    * where the capped counts themselves are reported).
    *
    * 100 TB shape: the capped inverted index bounds candidate fan-out
    * at (cap choose 2) per shingle; the exact-intersection join
    * touches candidate pairs × their shingles only.  The all-pairs
    * form never exists in the plan.
    */
  def containment(spark: SparkSession, dir: String, shingleN: Int = 3,
                  threshold: Double = 0.9, maxShingleDf: Int = 8): DataFrame = {
    // four consumers read the shingle frame (df filter, candidate
    // join, both sides of the exact intersection, sizes) — pin it
    // once; eager, since AQE may broadcast small descendants (rare,
    // sz) and a lazy pin must never first materialize inside a
    // broadcast thread (see util/Pins.scala)
    val sh = graft.util.Pins.eager(
      shingleSet(Tables.documents(spark, dir), shingleN))
    // df cap via a count window, not groupBy+join-back (r22 — the
    // q22-df-cap trick already used by ngramJaccard): the window
    // shuffles on `shingle` ONCE and the candidate self-join on the
    // same key reuses that exchange on both sides — two fewer
    // shuffles of the biggest intermediate; the kept (doc, shingle)
    // set is identical (same df, same ≤ cap filter)
    val shc = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("df") <= maxShingleDf).drop("df")
    val cand = shc.as("a").join(shc.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.toDF("doc_a", "shingle"), "doc_a")
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sz.toDF("doc_a", "n_a"), "doc_a")
      .join(sz.toDF("doc_b", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        (col("inter").cast("double") / col("n_a").cast("double")).as("containment_a"),
        (col("inter").cast("double") / col("n_b").cast("double")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
  }

  /** Exact n-gram Jaccard over inverted-index candidates: pairs sharing
    * ≥1 shingle, scored |A∩B| / |A∪B|, thresholded.
    *
    * @param maxShingleDf optional document-frequency cap: shingles that
    *        occur in more than this many documents are dropped before
    *        the pair join.  At 100 TB the inverted index's hot shingles
    *        (stop-phrases) dominate the candidate blow-up — a df cap
    *        bounds per-shingle fan-out at (cap choose 2) while barely
    *        moving near-dup recall (true near-dups share *rare*
    *        shingles too).  Off by default: with the cap the scores are
    *        approximate (intersections under-counted), so the
    *        oracle-checked query keeps None.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Option[Int] = None): DataFrame = {
    val shAll = shingleSet(Tables.documents(spark, dir), shingleN)
    val sh = maxShingleDf match {
      case None => shAll
      case Some(cap) =>
        // df cap via a count window, not groupBy+join-back: the window
        // shuffles on `shingle` ONCE and the downstream self-join on
        // `shingle` reuses that exchange on both sides — two fewer
        // shuffles of the biggest intermediate in the query.
        shAll
          .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .filter(col("df") <= cap).drop("df")
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting, the
    * MOSS scheme): hash every character k-gram, then keep the minimum
    * of each w-window of consecutive hashes — the classic guarantee
    * that any shared substring of length ≥ k+w-1 yields a shared
    * fingerprint.  Pairs sharing ≥ `minShared` fingerprints are
    * near-dup candidates.
    *
    * The per-document fingerprint set comes from ONE native expression
    * (graft.plans.WinnowFingerprints: rolling polynomial hash +
    * monotonic-deque sliding minima, O(n) per doc) — the builtin
    * md5-per-position + array_min-per-window formulation interpreted
    * its lambdas and was ~4× slower at sf0.1.  The expression emits
    * each doc's DISTINCT minima, so the pipeline is narrow until the
    * single inverted-index join on fingerprint.
    *
    * CAVEAT on `maxFpDf`: the substring-match guarantee only holds for
    * duplicate clusters of at most `maxFpDf` documents — a cluster of
    * more near-identical docs pushes ALL its shared fingerprints over
    * the cap and reports no pairs.  That is the deliberate trade
    * (boilerplate spam is the thing the cap exists to bound); exact and
    * bag-of-words clusters of any size are caught by the q19/q20 hash
    * tiers, and corpora where large NEAR-dup clusters matter should
    * raise the cap to their expected cluster size.
    */
  def winnowing(spark: SparkSession, dir: String,
                k: Int = 8, w: Int = 4, minShared: Long = 10L,
                maxFpDf: Int = 5): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFunctions.winnowFingerprints(col("text"), k, w)).as("fp"))
    // Drop boilerplate fingerprints (document frequency > maxFpDf)
    // before the inverted-index join: hot fingerprints contribute
    // O(df^2) candidate pairs but no discriminative signal; true
    // near-dups keep their pair-specific rare fingerprints.  Applied
    // identically in the oracle, so the result is still exact.  The
    // cap is a count window (one shuffle on fp, reused by the
    // self-join) instead of a groupBy+join-back.
    val fpr = fp
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= maxFpDf).drop("df")
    val a = fpr.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fpr.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SimHash signature aggregation over a `(doc_id, feature)` frame:
    * bit b of the signature is the majority vote of bit b of
    * md5(feature) across the document's features, where bit b is read
    * from hex digit b/4 of the digest (big-endian within the digit).
    * All arithmetic is integral so any engine reproduces it exactly.
    * Shared by the token-feature form (q23) and the shingle-feature
    * near-dup join (q78).
    */
  private def simhashSignature(features: DataFrame, bits: Int): DataFrame = {
    // digits ≤ 15 keeps conv's value under 2^60: at digits = 16 the
    // folded prefix can exceed Long.MaxValue, the non-ANSI cast yields
    // NULL, and those rows would silently vanish from every bit-sum.
    require(bits >= 1 && bits <= 60, s"simhash supports 1..60 bits, got $bits")
    // The md5 digest is hashed ONCE per (doc, feature) row, in the
    // pre-aggregation projection: the first ceil(bits/4) hex digits
    // are folded into a single long `pre` (conv of ≤16 hex chars
    // fits), from which every bit-sum is a shift+mask.  Spark's
    // subexpression elimination does not span distinct
    // AggregateExpressions, so hashing inside each of the `bits`
    // sum(...) children — the earlier formulation — recomputed the
    // digest `bits`× per row and tripled q23's runtime.
    val digits = (bits + 3) / 4
    val pre = features.select(col("doc_id"),
      conv(substring(md5(col("feature")), 1, digits), 16, 10).cast("long").as("pre"))
    // All `bits` bit-sums in ONE partial+final aggregation (no ×bits
    // row explosion, single shuffle): hex digit b/4 contributes bit
    // (3 - b%4), i.e. bit b of the signature sits at shift
    // 4*(digits-1-b/4) + (3-b%4) of `pre`.
    def bitOf(b: Int) =
      (shiftright(col("pre"), 4 * (digits - 1 - b / 4) + (3 - b % 4)) % 2).as(s"bit$b")
    val sums = (0 until bits).map(b => sum(bitOf(b)).as(s"ones$b"))
    val packed = (0 until bits).map { b =>
      when(col(s"ones$b") * 2 >= col("total"), 1L << b).otherwise(0L)
    }.reduce(_ + _)
    pre.groupBy("doc_id")
      .agg(count(lit(1)).as("total"), sums: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Per-document SimHash signature over distinct tokens, `bits` wide
    * (q23).  Token features give a topical signature; for near-dup
    * detection use [[simhashNearDup]]'s shingle features, which stay
    * discriminative when documents share a small vocabulary.
    */
  def simhash(spark: SparkSession, dir: String, bits: Int = 16): DataFrame =
    simhashSignature(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("feature"))
        .distinct(),
      bits)

  /** SimHash near-duplicate pairs (q78): `bits`-wide signatures over
    * word-`shingleN`-gram features, candidate pairs via band banding
    * (Manku/Jarvelin-style Hamming-distance search), exact Hamming
    * filter at the end.
    *
    * Exactness: a pair within `maxHamming` bit flips differs in at
    * most `maxHamming` < `bands` bands, so by pigeonhole at least one
    * of the `bands` equal-width signature slices matches — the banded
    * equi-join is a lossless candidate generator for the ≤ maxHamming
    * set (the same guarantee Manku et al. use for 64-bit simhash at
    * web scale).  Shingle features — not tokens — keep the signature
    * discriminative on short-vocabulary corpora: distinct-token sets
    * collapse when every document samples the same few hundred words.
    *
    * Scale shape: one signature aggregation (single shuffle), then an
    * equi-join on (band, slice) — 500 docs at sf0.01 yield ~150
    * candidate pairs of 124,750 possible; the slice width
    * (`bits/bands`) is the selectivity knob to widen as the corpus
    * grows.  Never all-pairs.
    */
  def simhashNearDup(spark: SparkSession, dir: String,
                     shingleN: Int = 3, bits: Int = 48,
                     bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bits ($bits) must divide evenly into bands ($bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole exactness requires maxHamming ($maxHamming) < bands ($bands)")
    val width = bits / bands
    val mask = (1L << width) - 1
    val sig = simhashSignature(
      shingleSet(Tables.documents(spark, dir), shingleN)
        .withColumnRenamed("shingle", "feature"),
      bits)
    // band b = signature bits [b*width, (b+1)*width) — a static
    // projection per band, exploded positionally so the join key is
    // (band, slice)
    val slices = array((0 until bands).map(b =>
      shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*)
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(slices).as(Seq("band", "slice")))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("band"), col("slice"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("band"), col("slice"))
    a.join(b, Seq("band", "slice"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .distinct() // a pair may collide in several bands
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Duplicated-span statistics (q79): for every document, the
    * fraction of its distinct word-`spanN`-gram spans that occur in at
    * least `minDf` documents — the per-document signal behind exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): a document whose spans are mostly
    * shared is a near-copy even when no full-text hash matches.
    *
    * Long spans (default 8 words) make cross-document collisions of
    * independent text vanishingly rare, so dup_frac ≈ 1 flags real
    * copies while topical overlap (which swamps 3-gram features on a
    * small vocabulary) scores 0.
    *
    * Scale shape: span df is one hash aggregation on the span string,
    * joined back to the exploded spans (the exchange on `shingle` is
    * reused by both sides), then one doc-keyed aggregation — never
    * pairwise.  At 100 TB, hash each span to 64 bits first so the df
    * shuffle carries fixed-width keys instead of strings.
    */
  def dupSpanStats(spark: SparkSession, dir: String,
                   spanN: Int = 8, minDf: Int = 2): DataFrame = {
    require(spanN >= 1 && minDf >= 2, s"need spanN >= 1, minDf >= 2; got ($spanN, $minDf)")
    val spans = shingleSet(Tables.documents(spark, dir), spanN)
    val df = spans.groupBy("shingle").agg(count(lit(1)).as("df"))
    spans.join(df, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_spans"))
      .filter(col("n_dup_spans") > 0)
      .withColumn("dup_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  /** Cross-source near-duplication matrix (q76): attribute every LSH
    * candidate pair to its (source, source) cell — the curation view
    * that answers "which corpora copy each other" before mixing
    * weights are set.  Pair endpoints resolve by two doc_id equi-joins
    * against the documents dimension (the pair list is orders of
    * magnitude smaller than the corpus, so it is the probe side);
    * least/greatest canonicalizes the unordered source pair.
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    minhashLsh(spark, dir)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Source-overlap matrix (q96): shingle-level Jaccard between every
    * source PAIR — the data-mixing diagnostic that catches two
    * "different" crawls feeding the recipe the same text (q76 counts
    * near-dup DOC pairs; this measures raw content overlap even when
    * no document pair trips the near-dup threshold).
    *
    * |A∩B| comes from a self-equi-join of the distinct (source,
    * shingle) frame on the shingle key; |A| and |B| are per-source
    * distinct counts; Jaccard = inter / (|A| + |B| − inter) is
    * integer arithmetic up to ONE divide.
    *
    * 100 TB shape: the (source, shingle) frame is one distinct
    * shuffle; the self-join fans out per shingle by (sources sharing
    * it)² — bounded by the SOURCE count squared, not by document
    * frequency, because the frame is distinct-per-source (a shingle
    * in a million docs of the same crawl is ONE row per source).
    * Source counts are physical datasets (dozens), so the fan-out is
    * trivially bounded; per-source sizes join back broadcast.
    */
  def sourceOverlap(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val ss = Tables.documents(spark, dir)
      .filter(size(TextFunctions.tokens(col("text"))) >= n)
      .select(col("source"), explode(TextFunctions.shingleSet(col("text"), n)).as("shingle"))
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val inter = ss.toDF("src_a", "shingle")
      .join(ss.toDF("src_b", "shingle_b"),
        col("shingle") === col("shingle_b") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.toDF("src_a", "n_a")), Seq("src_a"))
      .join(broadcast(sizes.toDF("src_b", "n_b")), Seq("src_b"))
      .select(col("src_a").as("source_x"), col("src_b").as("source_y"),
        col("n_a"), col("n_b"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
  }

  /** Per-cluster survivor selection (q77): the decision a dedup
    * pipeline actually ships — for every near-dup cluster keep the
    * highest-quality member (ties → lowest doc_id).  Composes
    * dedupClusters with the quality score and the same
    * `max(struct(score, -id))` argmax-by-aggregation shape as IVF
    * assignment: partial map-side combine, no per-cluster window
    * sort.  Output is one row per cluster; singleton documents (never
    * in any candidate pair) are not listed — they are all survivors
    * by definition, and a pipeline gets them with a left_anti join
    * against this result's member set.
    */
  def clusterSurvivors(spark: SparkSession, dir: String): DataFrame =
    clusterSurvivors(spark, dir, dedupClusters(spark, dir))

  /** Pipeline-reuse overload: a caller that already materialized the
    * cluster labels (dedupClusters returns a checkpointed frame — one
    * CC run can feed survivor selection, the dup matrix, and the
    * left_anti singleton pass) supplies them here instead of paying
    * the minhash+CC pipeline again.  `labels` must have columns
    * (doc_id, cluster_id).
    */
  def clusterSurvivors(spark: SparkSession, dir: String,
                       labels: DataFrame): DataFrame = {
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
    labels
      .join(q, "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.nid")).as("survivor_id"),
        col("m.q").as("survivor_q"), col("n_members"))
  }

  /** Document originality ratio (q110): the fraction of a document's
    * distinct shingles that occur in NO other document — the
    * continuous inverse of the dup-span view (q79 ranks the most
    * copied spans; this scores each document by how much of it is
    * corpus-unique).  A curation pipeline reads it as a boilerplate/
    * template gauge: originality ~1 is fresh text, ~0 is assembled
    * from shared fragments.  Documents shorter than the shingle width
    * have no shingles and no row, by contract.
    *
    * 100 TB shape: the distinct (doc, shingle) frame is one keyed
    * shuffle off the narrow one-pass ShingleSet expression; shingle
    * df is one more (vocab-sized); the score join is an equi-join ON
    * shingle; the ratio is ONE IEEE divide of exact counts.  Nothing
    * pairwise — this reads the same frames q76/q79/q96 read.
    */
  /** Train/test split leakage audit (q117): near-duplicate pairs that
    * CROSS the q63 split boundary — a training document with a
    * near-identical twin in valid/test silently inflates every eval
    * metric, which is why LLM pipelines dedup ACROSS splits, not just
    * within the corpus.  Candidates come from the q21 MinHash-LSH
    * join; split labels are q63's exact md5-bucket assignment (ONE
    * shared definition, md5Bucket(1)); a pair leaks iff exactly one
    * side is train (valid↔test twins don't contaminate training).
    * Output orients each pair as (train_doc, eval_doc, eval_split).
    *
    * 100 TB shape: q21's banded self-join produces the pairs (never
    * corpus-pairwise); the split label is a narrow md5 projection
    * joined on via two doc_id equi-joins.  An empty result is the
    * healthy state — the audit exists to fail loudly when it isn't.
    */
  def splitLeakage(spark: SparkSession, dir: String,
                   trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val lab = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(TextAnalysis.md5Bucket(1) < trainPct, "train")
          .when(TextAnalysis.md5Bucket(1) < trainPct + validPct, "valid")
          .otherwise("test").as("split"))
    minhashLsh(spark, dir)
      .join(lab.toDF("doc_a", "split_a"), Seq("doc_a"))
      .join(lab.toDF("doc_b", "split_b"), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b") &&
        (col("split_a") === "train" || col("split_b") === "train"))
      .select(
        when(col("split_a") === "train", col("doc_a")).otherwise(col("doc_b")).as("train_doc"),
        when(col("split_a") === "train", col("doc_b")).otherwise(col("doc_a")).as("eval_doc"),
        when(col("split_a") === "train", col("split_b")).otherwise(col("split_a")).as("eval_split"))
  }

  def originality(spark: SparkSession, dir: String, shingleN: Int = 3): DataFrame = {
    val sh = shingleSet(Tables.documents(spark, dir), shingleN)
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles").cast("double")).as("originality"))
  }

  /** Per-document triangle count and local clustering coefficient
    * over the near-duplicate graph (q130) — how CLIQUE-LIKE each
    * dup neighborhood is.  A doc whose neighbors are all pairwise
    * near-dups of each other (clustering → 1) sits inside one
    * coherent template family; a hub with clustering → 0 bridges
    * unrelated families and is the classic false-merge risk for the
    * q72 connected-components dedup (one bad edge glues two
    * families; triangles quantify how well-supported each node's
    * neighborhood is).
    *
    * Algorithm: degree-oriented node-iterator (Chiba–Nishizeki /
    * the GraphX-style "count only from the lowest-(deg,id) corner"
    * orientation).  Each undirected edge is oriented from its
    * lower-(deg, id) endpoint to the higher; a wedge enumerates two
    * out-edges of one center u with the (deg, id)-smaller spoke
    * first, and the triangle closes via an equi-join back on the
    * oriented edge (v, w).  Every triangle is generated EXACTLY once
    * (its minimum-(deg, id) corner is the only valid center), so the
    * counts are exact — no dedup pass, no double counting.
    *
    * 100 TB shape: the orientation is the whole point — out-degree
    * under the (deg, id) order is bounded by O(sqrt(2m)) on any
    * graph (a node keeps only edges toward HIGHER-degree peers), so
    * the wedge self-join fans out by at most sqrt(2m) per node
    * instead of the raw max-degree.  A hub of degree 10^6 in the raw
    * graph contributes zero wedges from itself; its triangles are
    * counted from its low-degree corners.  All three steps are
    * equi-joins/aggregations on keyed shuffles; the edge frame is
    * Pins.eager-pinned because three join lineages consume it.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient a<b edges by (deg, id): src is the smaller endpoint
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val oriented = pairs
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
      .select(
        when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
    val fwd = graft.util.Pins.eager(oriented)
    val e1 = fwd.select(col("src").as("u"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = fwd.select(col("src").as("u"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
      fwd.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val corners = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          (lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double")) /
            (col("deg") * (col("deg") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Adamic–Adar common-neighbor scoring over the near-duplicate
    * graph (q369): for every document pair sharing at least one LSH
    * neighbor, the classic score Σ_z 1/ln(deg(z)) — low-degree shared
    * neighbors are strong evidence, hubs are weak evidence — plus an
    * `is_edge` flag separating the two consumers of that score.
    * is_edge = 0 rows are LINK PREDICTION: pairs the banding likely
    * missed (tied together by tight template families without a band
    * collision — the recall worklist q224's audit would check next);
    * is_edge = 1 rows are EDGE EMBEDDEDNESS: how clique-supported an
    * existing edge is, the standard score for sparsifying the dup
    * graph before q72's connected-components merge (an edge with no
    * shared neighbors is the classic false-merge bridge q130's
    * clustering coefficient flags).  At the shipped fixtures the LSH
    * families are complete cliques, so every scored pair is an edge —
    * the prediction path is exercised (and pinned non-degenerate) on
    * a thinned graph in Batch29Spec.
    *
    * Determinism: deg is an exact integer; each contribution is one
    * int→double cast, one GraftLn (libm-identical), one divide; the
    * per-pair sum folds in NEIGHBOR-ID order (sort_array over
    * (z, contrib) structs — the q84 order-pinning), so DuckDB's
    * `list(... ORDER BY z)` replays the identical IEEE sequence.
    * Ties in the top-k are broken by (doc_a, doc_b).
    *
    * 100 TB shape: the wedge enumeration is the standard
    * common-neighbor equi-join (adjacency ⋈ adjacency ON the shared
    * center), whose fan-out is quadratic in hub degree — so hubs are
    * DEGREE-CAPPED before the join (deg ≤ `degCap`, the df-cap
    * discipline of q44/q334; a capped hub's AA contribution was
    * already the weakest by 1/ln(deg), which is why capped AA is the
    * standard production form).  The cap is part of the registered
    * semantics and the oracle replays it; at the shipped fixtures
    * every degree sits under the cap (asserted in Batch29Spec), so
    * the capped score equals the uncapped ideal there — the q351
    * cap-slack pattern.  Everything else is keyed joins and
    * aggregates; the existing-edge exclusion is a fan-out-≤1
    * left-anti join.
    */
  def adamicAdar(spark: SparkSession, dir: String, k: Int = 20,
      degCap: Int = 64): DataFrame =
    adamicAdarFrom(graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))), k, degCap)

  /** The AA core over any (doc_a < doc_b) edge frame — split out so
    * Batch29Spec can exercise the PREDICTION path (is_edge = 0) on a
    * deliberately thinned graph, where clique edges are missing and
    * the score has to surface them.
    */
  private[graft] def adamicAdarFrom(pairs: DataFrame, k: Int,
      degCap: Int): DataFrame = {
    val adj = pairs.select(col("doc_a").as("z"), col("doc_b").as("nb"))
      .unionByName(pairs.select(col("doc_b").as("z"), col("doc_a").as("nb")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("deg"))
    val capped = adj.join(deg.filter(col("deg") <= lit(degCap.toLong)), Seq("z"))
    val w1 = capped.select(col("z"), col("nb").as("x"), col("deg"))
    val w2 = capped.select(col("z"), col("nb").as("y"))
    val scored = w1.join(w2, Seq("z"))
      .filter(col("x") < col("y"))
      .withColumn("contrib",
        lit(1.0) / graft.functions.MathFunctions.ln(col("deg").cast("double")))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"),
        aggregate(sort_array(collect_list(struct(col("z"), col("contrib")))),
          lit(0.0), (acc, s) => acc + s.getField("contrib")).as("aa_score"))
    scored
      .join(pairs.select(col("doc_a").as("x"), col("doc_b").as("y"),
          lit(1).as("is_edge")),
        Seq("x", "y"), "left")
      .select(col("x").as("doc_a"), col("y").as("doc_b"),
        col("n_common"), col("aa_score"),
        coalesce(col("is_edge"), lit(0)).as("is_edge"))
      .orderBy(col("aa_score").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
  }

  /** MinHash-estimate calibration audit (q136): for every LSH
    * candidate pair, the signature's Jaccard ESTIMATE (matching
    * minhash positions / numHashes) against the EXACT shingle-set
    * Jaccard — the per-pair companion to q87's set-level recall
    * audit.  |est − exact| quantifies how much the 8-hash signature
    * can be trusted before committing a merge; the answer sets the
    * numHashes/band budget at production scale (E[est] = J, σ =
    * sqrt(J(1−J)/numHashes) — the audit verifies the engine delivers
    * that contract on real pairs).
    *
    * Determinism: the match count is an integer fold over the two
    * signatures (zip, compare, sum — no doubles until the final
    * divides); exact Jaccard is the q22 integer intersection/union;
    * est_jac, exact_jac, abs_err are one divide each + one subtract
    * + abs — all correctly rounded.  A band collision without any
    * shared shingle is possible (hash collision), so the exact side
    * left-joins with a 0 floor rather than assuming intersection.
    *
    * 100 TB shape: candidates only — signatures equi-join back onto
    * the pair frame (narrow per-pair zip over 8 longs); the exact
    * intersection touches candidate pairs × their shingles (the q124
    * discipline).  The pair frame is eager-pinned for its three join
    * consumers.
    */
  def minhashCalibration(spark: SparkSession, dir: String,
                         shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    val mh = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= shingleN)
      .select(col("doc_id"),
        TextFunctions.minHashes(col("text"), shingleN, numHashes).as("mhs"))
    val est = pairs
      .join(mh.select(col("doc_id").as("doc_a"), col("mhs").as("ma")), Seq("doc_a"))
      .join(mh.select(col("doc_id").as("doc_b"), col("mhs").as("mb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("ma"), col("mb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _).as("n_match"))
    val sh = graft.util.Pins.eager(
      shingleSet(Tables.documents(spark, dir), shingleN))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.toDF("doc_a", "shingle"), Seq("doc_a"))
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .withColumn("i", coalesce(col("i"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        (col("n_match").cast("double") / lit(numHashes.toDouble)).as("est_jac"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("exact_jac"),
        abs(col("n_match").cast("double") / lit(numHashes.toDouble) -
          col("i").cast("double") /
            (col("na") + col("nb") - col("i")).cast("double")).as("abs_err"))
  }

  /** Per-source boilerplate shingles (q137): the top-k shingles by
    * within-source document frequency, with coverage = the fraction
    * of the source's documents containing the shingle — the
    * C4/RefinedWeb-style boilerplate detector (navigation chrome,
    * license banners, template headers light up as near-1.0-coverage
    * shingles; the downstream filter strips spans matching them).
    *
    * Determinism: document frequencies are exact integer counts over
    * the DISTINCT (doc_id, shingle) frame; top-k breaks ties on
    * shingle text; coverage is one int→double divide.
    *
    * 100 TB shape: one (source, shingle) keyed shuffle with map-side
    * combine over the shingle frame, a source-partitioned top-k
    * window over the (source, shingle) counts — cardinality bounded
    * by per-source vocabulary, not documents — and a broadcast
    * join-back of the bounded per-source doc counts.
    */
  def boilerplate(spark: SparkSession, dir: String,
                  shingleN: Int = 3, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val bySrc = shingleSet(docs, shingleN)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source", "shingle").agg(count(lit(1)).as("n_docs_with"))
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs_source"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_docs_with").desc, col("shingle").asc)
    bySrc
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .join(broadcast(nd), Seq("source"))
      .select(col("source"), col("rank"), col("shingle"),
        col("n_docs_with"), col("n_docs_source"),
        (col("n_docs_with").cast("double") / col("n_docs_source").cast("double"))
          .as("coverage"))
  }

  /** Newman modularity of the source partition over the near-dup
    * graph (q156): with communities fixed to the `source` column,
    *
    *   Q = Σ_c [ e_cc/m − (d_c/2m)² ]
    *
    * per-source contributions tell whether near-duplicates
    * concentrate INSIDE sources (contrib > 0 — dedup can shard by
    * source and stay cheap) or cross source boundaries (the
    * cross-source syndication q96 measures at shingle level, seen
    * here at graph level — dedup MUST run globally).  A direct
    * 100 TB planning signal: high modularity licenses per-source
    * dedup partitioning.
    *
    * Determinism: e_cc, d_c, m are exact integer counts; each
    * contribution is a fixed divide/square/subtract sequence; rows
    * are per-source (no cross-row double sum).
    *
    * 100 TB shape: edges from the banded MinHash join; two id-keyed
    * joins attach sources to endpoints; everything aggregates to
    * sources-bounded frames; m broadcasts as one row.  The
    * source-tagged edge frame is eager-pinned for its two consumers
    * (within-edge count + degree sum).
    */
  def sourceModularity(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val tagged = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
        .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
        .join(src.toDF("doc_b", "src_b"), Seq("doc_b")))
    val m = tagged.agg(count(lit(1)).as("m"))
    val eIn = tagged.filter(col("src_a") === col("src_b"))
      .groupBy(col("src_a").as("source")).agg(count(lit(1)).as("e_in"))
    val degs = tagged
      .select(explode(array(
        struct(col("doc_a").as("id"), col("src_a").as("source")),
        struct(col("doc_b").as("id"), col("src_b").as("source")))).as("x"))
      .select(col("x.id"), col("x.source"))
      .groupBy("source")
      .agg(count(lit(1)).as("deg_sum"),
        countDistinct(col("id")).as("n_nodes"))
    degs.join(eIn, Seq("source"), "left")
      .crossJoin(broadcast(m))
      .select(col("source"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (coalesce(col("e_in"), lit(0L)).cast("double") / col("m").cast("double") -
          (col("deg_sum").cast("double") / (lit(2.0) * col("m").cast("double"))) *
            (col("deg_sum").cast("double") / (lit(2.0) * col("m").cast("double"))))
          .as("contrib"))
  }

  /** LSH band operating curve (q157): bucket-occupancy statistics of
    * the 8-hash MinHash signature under every band width r ∈
    * {1, 2, 4, 8} — the tuning audit run BEFORE committing a band
    * budget at production scale.  `join_pairs` = Σ s(s−1)/2 over
    * buckets is EXACTLY the candidate-join row count the q21 band
    * self-join would produce at that width (before pair dedup), i.e.
    * the shuffle cost; `max_bucket` is the skew ceiling a single
    * task would absorb.  Narrow bands (r=1) recall more at quadratic
    * bucket cost; wide bands (r=8) collapse the candidate set to
    * near-exact matches (the theoretical S-curve threshold is
    * J* ≈ (1/b)^(1/r) — left to the scaladoc; pow parity is not
    * oracle-safe).
    *
    * Determinism: signatures are the shared MinHashes expression;
    * band keys are seed-order string concatenation (the q21
    * contract); every statistic is an exact integer count.
    *
    * 100 TB shape: the signature frame is computed ONCE (eager-
    * pinned, four consumers) and each width costs one (band, sig)
    * keyed count with map-side combine — the audit never materializes
    * a candidate pair.
    */
  def bandOperatingCurve(spark: SparkSession, dir: String,
                         shingleN: Int = 3, numHashes: Int = 8): DataFrame = {
    val mh = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= shingleN)
        .select(col("doc_id"),
          TextFunctions.minHashes(col("text"), shingleN, numHashes).as("mhs")))
    val perW = Seq(1, 2, 4, 8).map { w =>
      val numBands = numHashes / w
      val bandStructs = (0 until numBands).map { b =>
        val sigCols = (0 until w).map(r =>
          element_at(col("mhs"), b * w + r + 1).cast("string"))
        struct(lit(b.toLong).as("band"), concat_ws(",", sigCols: _*).as("sig"))
      }
      mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .groupBy(col("bs.band").as("band"), col("bs.sig").as("sig"))
        .agg(count(lit(1)).as("s"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("s") > 1, 1L).otherwise(0L)).as("n_multi_buckets"),
          sum(expr("(s * (s - 1)) DIV 2")).as("join_pairs"),
          max(col("s")).as("max_bucket"))
        .select(lit(w).as("rows_per_band"), lit(numBands).as("n_bands"),
          col("n_buckets"), col("n_multi_buckets"), col("join_pairs"),
          col("max_bucket"))
    }
    perW.reduce(_ unionByName _)
  }

  /** Cluster-representative selection (q374): the dedup decision the
    * q72 connected-components merge leaves open — WHICH document a
    * near-dup cluster keeps.  Keep-first (min doc id) is the oracle-
    * simple baseline every earlier dedup query uses; a production
    * curation run keeps the BEST: per cluster, the document with the
    * highest q31 quality score (ties: smaller doc id), plus the token
    * accounting the yield report needs (representative's tokens kept,
    * the rest of the cluster's tokens dropped).  Quality-aware
    * representative selection is the difference between deduping a
    * template family down to its cleanest instance and deduping it
    * down to whichever instance happened to get the lowest id.
    *
    * Determinism: quality doubles are the q31 IEEE sequence (bit-
    * identical cross-engine), so the rank-1 pick is total-ordered by
    * (quality DESC, doc_id ASC) in both engines; token sums are exact
    * integers.
    *
    * 100 TB shape: clusters come from the LSH pair frame (banded,
    * never all-pairs); the pick is one row_number window partitioned
    * by cluster_id (high-cardinality key, the q10 discipline) and the
    * accounting one keyed aggregate — nothing beyond what the CC
    * labeling itself already shuffles.
    */
  def clusterRep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = dedupClusters(spark, dir)
    val q = Tables.documents(spark, dir).select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")
        .as("tok"))
    val j = graft.util.Pins.eager(cc.join(q, Seq("doc_id")))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val rep = j.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("quality").as("rep_quality"), col("tok").as("rep_tokens"))
    val acct = j.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("total_tokens"))
    rep.join(acct, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("rep_doc_id"),
        col("rep_quality"), col("rep_tokens"),
        (col("total_tokens") - col("rep_tokens")).as("dropped_tokens"))
      .orderBy("cluster_id")
  }

  /** Near-dup cluster-size histogram (q166): the q72 connected
    * components reduced to their size distribution — how much of the
    * corpus sits in 2-doc pairs vs. big template families, and what
    * the dedup will actually delete (every cluster keeps one
    * survivor, so docs − clusters rows die).  The histogram is the
    * capacity-planning view of the dedup: a fat tail here means a
    * few giant families dominate the removal and the CC iteration
    * depth.
    *
    * Determinism: cluster ids are the q72 min-label fixpoint
    * (engine-independent); sizes and counts exact integers; shares
    * single divides.
    *
    * 100 TB shape: two keyed re-aggs of the CC label frame (cluster
    * → size, size → count) + one broadcast totals row.  The CC cost
    * itself is q72's, already audited.
    */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val sizes = dedupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val cells = graft.util.Pins.eager(
      sizes.groupBy("size").agg(count(lit(1)).as("n_clusters")))
    val tot = cells.agg(sum(col("size") * col("n_clusters")).as("n_docs_total"),
      sum(col("n_clusters")).as("n_clusters_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") * col("n_clusters")).cast("double") /
          col("n_docs_total").cast("double")).as("doc_share"),
        ((col("size") - lit(1L)) * col("n_clusters")).as("n_removed"))
  }

  /** Degree assortativity of the near-duplicate graph (q146,
    * Newman 2002): the Pearson correlation of endpoint degrees over
    * every directed edge.  Template families (cliques of mutual
    * near-dups) drive assortativity positive; a hub-and-spoke shape
    * (one boilerplate page linked to many singletons — the q130
    * false-merge risk) drives it negative.  One scalar that says
    * which failure mode the q72 connected-components dedup is
    * exposed to BEFORE committing the merge.
    *
    * Determinism: degrees are exact integer counts; all five moment
    * sums (Σx, Σy, Σxy, Σx², Σy²) run through DECIMAL(38,0)
    * partial+final aggregation (the q118 exact-moments rule); the
    * only double arithmetic is the final correlation expression in a
    * fixed operation order.  A degenerate graph (all degrees equal ⇒
    * zero variance) emits 0.0 behind an explicit guard, never NaN.
    *
    * 100 TB shape: edges from the q21 banded MinHash join (never
    * all-pairs); degree is one keyed count; the edge↔degree joins
    * are equi-joins on node id; the moments collapse in ONE
    * partial+final agg to a single row.  The pair frame is
    * eager-pinned for its two join lineages.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val n = col("n").cast("double")
    e.join(deg.select(col("id").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n"),
        sum(col("dx").cast(dec)).cast("double").as("sx"),
        sum(col("dy").cast(dec)).cast("double").as("sy"),
        sum((col("dx") * col("dy")).cast(dec)).cast("double").as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).cast("double").as("sxx"),
        sum((col("dy") * col("dy")).cast(dec)).cast("double").as("syy"))
      .select(
        ((col("n").cast("double") / lit(2.0))).cast("long").as("n_edges"),
        when(n * col("sxx") - col("sx") * col("sx") > 0 &&
          n * col("syy") - col("sy") * col("sy") > 0,
          (n * col("sxy") - col("sx") * col("sy")) /
            (sqrt(n * col("sxx") - col("sx") * col("sx")) *
              sqrt(n * col("syy") - col("sy") * col("sy"))))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Fuzzy catalog reconciliation over the distinct part-name
    * vocabulary (q181): for every distinct name, its nearest OTHER
    * name by Jaro–Winkler (the native `graft_jw` expression,
    * bit-identical to DuckDB's) plus both group sizes — the
    * "same item, misspelled SKU" survey that decides whether a
    * catalog needs fuzzy merging at all (q121's symmetric-delete
    * join is the scalable resolver once it does).
    *
    * Determinism: JW doubles are bit-equal across engines by the
    * expression's contract; the winner per name is rank-1 of
    * (jw DESC, name_b ASC) — a total order, ties broken
    * lexicographically.
    *
    * 100 TB shape: parts are SF-linear but their NAMES draw from a
    * bounded vocabulary (adjective×noun), so the distinct-name frame
    * is catalog-bounded: one distinct agg collapses the fact table,
    * then the all-pairs scoring and rank window run on vocab² —
    * constant in SF (the q173 calendar argument, applied to a
    * vocabulary).  The window partitions by name_a; no
    * single-partition corpus window exists.
    */
  def nameReconcile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.jaroWinkler
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"))
    val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"))
    a.crossJoin(b)
      .filter(col("name_a") =!= col("name_b"))
      .withColumn("jw", jaroWinkler(col("name_a"), col("name_b")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("name_a").orderBy(col("jw").desc, col("name_b").asc)))
      .filter(col("rn") === 1)
      .select(col("name_a"), col("n_a"), col("name_b").as("best_match"),
        col("n_b").as("n_best"), col("jw"))
  }

  /** q244: multi-source BFS over the MinHash-LSH duplicate graph —
    * exact hop distance (≤ `hops`) from the deterministic seed set
    * (the `nSeeds` smallest doc_ids present in the graph — always
    * non-empty at any SF, unlike a modulus rule), reported as the
    * distance histogram.  Answers the curation question "how much of
    * the dup graph is within h links of a flagged set" (contamination
    * spread, takedown blast-radius).
    *
    * Frontier supersteps in the q119/q72 mold: the edge list is
    * materialized once (Pins.eager) and every round is ONE
    * frontier⋈edges equi-join on src plus a min-aggregate — state is
    * the (id, dist) frame, never paths.  Nodes outside the LSH graph
    * are out of scope by construction (an isolated doc has no row in
    * the edge list and distance 0 from itself adds no curation
    * information).
    *
    * 100 TB shape: each superstep shuffles only the CURRENT frontier
    * keyed by src against the id-partitioned edge blocks; the
    * distance frame re-uses the id partitioning across rounds and the
    * driver holds nothing (the histogram is the only collect-free
    * output, ≤ hops+1 rows).
    */
  def bfsHops(spark: SparkSession, dir: String,
              hops: Int = 3, nSeeds: Int = 8): DataFrame = {
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    // TakeOrdered over nSeeds rows — a bounded global min-k, not a sort
    var dist = nodes.orderBy(col("id")).limit(nSeeds)
      .select(col("id"), lit(0).as("dist"))
    for (h <- 1 to hops) {
      val frontier = dist.filter(col("dist") === h - 1)
        .withColumnRenamed("id", "src")
      val nxt = frontier.join(edges, "src")
        .select(col("dst").as("id"), lit(h).as("dist"))
      dist = graft.util.Pins.eager(
        dist.union(nxt).groupBy("id").agg(min(col("dist")).as("dist")))
    }
    dist.groupBy("dist").agg(count(lit(1)).as("n_nodes")).orderBy("dist")
  }

  /** q258: 2-core peeling over the MinHash-LSH duplicate graph —
    * `rounds` unrolled peel supersteps, each deleting every node of
    * degree < 2 (with its edges) and reporting the surviving
    * (n_nodes, n_edges) per round.  The 2-core is the cyclic backbone
    * of the dup graph: dangling pair-dups peel away, rings and
    * densely-linked template families survive — the structure
    * curation actually needs to look at (q130's triangles are its
    * strictest subset; q72's components count but don't rank
    * density).  Peeling converges monotonically, so after the fixture
    * stabilizes the remaining rounds re-emit the fixpoint — the
    * deterministic analogue of iterate-until-stable.
    *
    * Superstep shape (q119/q244 mold): the edge list is pinned once;
    * each round is ONE degree aggregate + ONE semi-join-style filter
    * of edges against surviving nodes, re-pinned — state is the edge
    * frame, shrinking every round.
    *
    * 100 TB shape: each round shuffles only the CURRENT edge set
    * keyed by endpoint; rounds are data-dependent-size but bounded,
    * and the answer frame is `rounds` rows.
    */
  def kcorePeel(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    var edges = pairs
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (r <- 1 to rounds) {
      val deg = edges
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= 2).select(col("id"))
      edges = graft.util.Pins.eager(edges
        .join(keep.withColumnRenamed("id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(keep.withColumnRenamed("id", "doc_b"), Seq("doc_b"), "left_semi")
        .select(col("doc_a"), col("doc_b")))
      val stats = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(
          edges.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
            .agg(countDistinct(col("id")).as("n_nodes"))))
        .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
      out += stats
    }
    out.reduce(_.unionAll(_)).orderBy("round")
  }

  /** q260: weighted Jaccard over the MinHash-LSH candidate pairs —
    * multiset similarity J_w = Σ_t min(w_a,w_b) / Σ_t max(w_a,w_b)
    * with w = per-doc token multiplicity, reported next to the
    * set-Jaccard on the same pairs.  The weighted form is what
    * near-dup scoring actually wants on repetitive text: a doc that
    * repeats a template 10× and one that has it once are
    * set-identical but multiset-different, and the (set − weighted)
    * gap is exactly the repetition signal q68 measures per-doc,
    * lifted to pairs.
    *
    * Exactness: Σmin over shared tokens and the per-doc totals are
    * exact BIGINTs; Σmax = n_a + n_b − Σmin by multiset identity, so
    * each score is one integer-ratio divide.
    *
    * 100 TB shape: candidate-driven like q247's verify — the token
    * joins run only on LSH-candidate pairs (pair ⋈ doc_a tokens ⋈
    * doc_b tokens keyed equi-joins); totals are a per-doc aggregate
    * joined back by id.
    */
  def weightedJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.util.Pins.eager(
      minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
    val tok = graft.util.Pins.eager(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c")))
    val totals = tok.groupBy("doc_id").agg(
      sum(col("c")).as("n_tok"), count(lit(1)).as("n_set"))
    val shared = pairs
      .join(tok.select(col("doc_id").as("doc_a"), col("token"), col("c").as("ca")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("token"), col("c").as("cb")),
        Seq("doc_b", "token"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ca"), col("cb"))).as("smin"), count(lit(1)).as("sset"))
    shared
      .join(totals.select(col("doc_id").as("doc_a"),
        col("n_tok").as("na"), col("n_set").as("sa")), Seq("doc_a"))
      .join(totals.select(col("doc_id").as("doc_b"),
        col("n_tok").as("nb"), col("n_set").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("smin"), col("sset"),
        (col("smin").cast("double")
          / (col("na") + col("nb") - col("smin")).cast("double")).as("weighted_jaccard"),
        (col("sset").cast("double")
          / (col("sa") + col("sb") - col("sset")).cast("double")).as("set_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** q247: exact-threshold Jaccard join via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate rule) — the TRUE scale path for q22's
    * deliberately-quadratic inverted-index baseline, with the SAME
    * output contract (doc_a < doc_b, |A∩B|/|A∪B| ≥ 0.8) and — unlike
    * q45's df-cap — the EXACT same result set, guaranteed, not
    * approximated (OperatorSpec asserts set equality vs q22).
    *
    * The rule: order every document's shingles by the GLOBAL
    * (df asc, shingle asc) total order — rarest first — and keep only
    * the first n − ⌈t·n⌉ + 1 as the document's prefix.  For any pair
    * with J ≥ t the globally-smallest SHARED shingle sits inside BOTH
    * prefixes (all shared shingles rank at-or-after it, so its
    * position in X is ≤ |X| − |A∩B| + 1 ≤ |X| − ⌈t|X|⌉ + 1), hence the
    * prefix⋈prefix equi-join misses nothing.  Candidate fan-out is
    * driven by RARE shingles — exactly the opposite of q22's
    * stop-phrase blow-up; hot shingles land in nobody's prefix.
    *
    * Exactness: the prefix length uses the rational threshold
    * t = 4/5 in pure integer math (⌈4n/5⌉ = (4n+4) div 5) — a float
    * ceil(0.8·n) rounds UP off the lattice (0.8 is not binary) and
    * would shorten prefixes below the guarantee.  Intersections are
    * then recomputed exactly per candidate (candidate-driven: pair ⋈
    * A-shingles ⋈ B-shingles), so scores are identical to q22's.
    *
    * 100 TB shape: three keyed shuffles (df attach on shingle,
    * prefix⋈prefix on shingle, verify joins on doc ids); per-shingle
    * fan-out is bounded by its PREFIX df, which the global order keeps
    * at the rare tail.  Σ|prefix| ≈ (1−t)·corpus shingles — the index
    * is 5× smaller than q22's before any pair forms.
    */
  def prefixJaccard(spark: SparkSession, dir: String,
                    shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the shingle frame feeds FOUR consumers (ranking, sizes, and both
    // verify sides) — pin it once so the ShingleSet expression runs
    // one corpus pass instead of four (measured ~4% at sf0.1: the
    // dominant cost is the two ranking-window shuffles, which is the
    // price of the global df order; see SCALING.md on the crossover)
    val sh = graft.util.Pins.eager(
      shingleSet(Tables.documents(spark, dir), shingleN))
    // df via a window on shingle: one shuffle, reused by the prefix
    // self-join on the same key (the q22 df-cap branch's trick)
    val ranked = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    // r22 NOTE: two variants were measured and REJECTED here —
    // (a) pinning the prefix partitioned on shingle (eagerPartitioned
    // + repartition) so the self-join skips its exchange, and
    // (b) deriving sizes from the windowed `n` instead of the keyed
    // count.  Same-subset bench: 3.19 s → 3.74 s (q247) / 3.81 s →
    // 4.72 s (q304) — the cache write + SMJ sorts cost more than the
    // AQE-reused exchange they replaced.  The r21 shape stands.
    val prefix = graft.util.Pins.eager(
      ranked.filter(col("rn") <= expr("n - ((4 * n + 4) div 5) + 1"))
        .select(col("doc_id"), col("shingle")))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jac >= 0.8)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** q304: blocking-quality audit of the MinHash-LSH banding — the
    * record-linkage evaluation (Christen, "Data Matching", 2012) of
    * q21's candidate generation against q22/q247's exact ≥0.8 truth:
    *
    *  - reduction ratio  = 1 − |candidates| / C(N,2)   (work avoided)
    *  - pairs completeness = |candidates ∩ truth| / |truth|  (recall)
    *  - pair quality      = |candidates ∩ truth| / |candidates|
    *
    * This is the measured go/no-go for the banding parameters: a
    * production run tunes (bands, rows) until completeness holds at
    * the smallest candidate volume — exactly the number this row
    * states.  One audit row; every count exact.
    *
    * 100 TB shape: the candidate and truth sets are both sub-quadratic
    * by construction (banded equi-join; prefix-filtered join); the
    * semi-join intersection shuffles on the pair key; C(N,2) is
    * closed-form off a 1-row count.  The audit costs one run of each
    * pipeline — production samples blocks instead of running truth on
    * the full corpus (documented); the MACHINERY is identical.
    */
  def blockingAudit(spark: SparkSession, dir: String): DataFrame = {
    val cand = graft.util.Pins.eager(minhashLsh(spark, dir))
    val truth = graft.util.Pins.eager(
      prefixJaccard(spark, dir).select("doc_a", "doc_b"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nCaught = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    nDocs.crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nTruth))
      .crossJoin(broadcast(nCaught))
      .select(col("n_docs"),
        expr("(n_docs * (n_docs - 1)) div 2").as("n_possible"),
        col("n_candidates"), col("n_truth"), col("n_caught"),
        (lit(1.0) - col("n_candidates").cast("double")
          / expr("(n_docs * (n_docs - 1)) div 2").cast("double"))
          .as("reduction_ratio"),
        when(col("n_truth") === 0L, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double") / col("n_truth").cast("double"))
          .as("pairs_completeness"),
        when(col("n_candidates") === 0L, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double")
            / col("n_candidates").cast("double"))
          .as("pair_quality"))
  }

  /** q305: dedup impact accounting — the report every production
    * dedup run ships before anyone deletes anything: under exact
    * fingerprint dedup (q20's sorted-distinct-token fingerprint,
    * survivor = min doc_id per fingerprint, the q230 rule), what does
    * each source lose?  Docs kept/dropped and token mass kept/dropped,
    * with the dropped-token fraction — the number that decides whether
    * a source's apparent volume is real or duplicated.
    *
    * 100 TB shape: fingerprint is a per-row expression; survivor
    * selection is one keyed min; the kept flag is an equi-join of the
    * doc id against the survivor set (broadcast-or-shuffle by size);
    * the rollup is one keyed aggregate.  Exact integers + one divide.
    */
  def dedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    val survivors = docs.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("kept"))
    docs.join(survivors, Seq("doc_id"), "left")
      .na.fill(0, Seq("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("kept") === 1, col("n_tok")).otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_dropped"),
        ((col("tokens_total") - col("tokens_kept")).cast("double")
          / col("tokens_total").cast("double")).as("drop_frac"))
      .orderBy("source")
  }

  /** The token-array frame every ExactSubstr entry point takes:
    * (doc_id, keep…, w = tokens(text)).
    */
  private[graft] def tokenized(docs: DataFrame, keep: String*): DataFrame =
    docs.select((col("doc_id") +: keep.map(col)) :+
      TextFunctions.tokens(col("text")).as("w"): _*)

  /** [[tokenized]], eager-pinned: for a consumer that reads the arrays
    * more than once (anchor grams, the positional cut, the n_tok
    * recount) — one tokenizer pass instead of one per consumer.  Eager
    * because the downstream joins may broadcast an aggregate side (the
    * util/Pins rule).
    */
  private[operators] def pinnedTokens(docs: DataFrame, keep: String*): DataFrame =
    graft.util.Pins.eager(tokenized(docs, keep: _*))

  /** Positional k-grams keyed by their 60-bit content hash — one row
    * per (doc, position), over a PRE-TOKENIZED (doc_id, w:
    * array<string>) frame.
    */
  def positionalGramsFromTokens(tw: DataFrame, k: Int): DataFrame =
    tw
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - k),
          i => array_join(slice(col("w"), i + 1, lit(k)), " ")))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        graft.operators.TextAnalysis.hv60(col("gram")).as("g"))

  /** q296: exact-substring duplication via anchored k-mer chains — the
    * second of Lee et al.'s two dedup modes ("Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): where q275 profiles
    * duplicated 5-grams as a bag, this finds the maximal CONTIGUOUS
    * shared substrings of length ≥ `minLen` tokens across document
    * pairs — the spans an ExactSubstr pass would cut.
    *
    * Anchored definition (exact, both engines): every position's
    * k-gram hashes to a 60-bit anchor key; an equi-join on the key
    * (doc_a < doc_b) yields anchor matches; matches on the same
    * (doc_a, doc_b, pa−pb) diagonal at consecutive positions chain
    * into runs (gaps-and-islands over a keyed window); a run of m
    * anchors is a shared substring of m + k − 1 tokens.  Suffix-array
    * ExactSubstr and this chain agree on every span ≥ k tokens, up to
    * the documented 60-bit collision odds (hv60 rule; both engines
    * hash identically, so the oracle matches regardless).
    *
    * 100 TB shape: the anchor join is an equi-join ON CONTENT — a
    * pair appears only where the corpora actually share a k-gram, so
    * the join's size is the duplication volume itself, never an
    * all-pairs product; both sides shuffle-partition on the gram key,
    * and Catalyst reuses the single exchange for the self-join (the
    * SCALING.md exchange-reuse-over-pin rule).  The chain window is
    * keyed by (doc_a, doc_b, diagonal) — per-pair-sized partitions,
    * no global window.  Production lever for pathological hot grams
    * (df ≫ corpus duplication): the q124 df-cap on the anchor index
    * before the join, dropping only grams whose chains are already
    * attested by rarer neighbors on the same diagonal.
    */
  def exactSubstrSpans(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12): DataFrame =
    exactSubstrSpansFrom(positionalGramsFromTokens(
      tokenized(Tables.documents(spark, dir)), k), k, minLen)

  /** The chain over a pre-built anchor frame (positionalGramsFromTokens) —
    * split out so the property spec can drive crafted corpora through
    * the identical plan.
    */
  def exactSubstrSpansFrom(grams: DataFrame, k: Int, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = grams.toDF("da", "pa", "g")
      .join(grams.toDF("db", "pb", "g"), Seq("g"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy("da", "db", "diag").orderBy(col("pa").asc)
    val runs = anchors
      .withColumn("brk",
        when(lag(col("pa"), 1).over(w) === col("pa") - 1, 0).otherwise(1))
      .withColumn("run", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy("da", "db", "diag", "run")
      .agg(min(col("pa")).as("pos_a"), min(col("pb")).as("pos_b"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("match_len"))
      .filter(col("match_len") >= minLen)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("pos_a"), col("pos_b"), col("match_len"))
      .orderBy("doc_a", "doc_b", "pos_a", "pos_b")
  }

  /** q334: the df-capped ExactSubstr twin — q296 with the production
    * lever its own scaladoc names actually WIRED.  The anchor index is
    * document-frequency-capped BEFORE the self-join: any k-gram whose
    * total occurrence count exceeds `maxAnchorDf` is dropped from both
    * join sides, so per-gram join fan-out is bounded at maxAnchorDf²
    * no matter how hot a boilerplate line gets (the q124/q45 rule —
    * without the cap one corpus-hot gram makes the equi-join df² on a
    * single key, the exact SCALING.md q22 hazard).  What the cap can
    * cost: a span is lost only if EVERY one of its anchors is
    * corpus-hot — a duplicated span of m anchors survives as long as
    * any one diagonal run of its rare anchors still reaches minLen;
    * dropped-gram volume is reported, never silent.
    *
    * Accounting columns (the no-silent-caps rule): every span row
    * carries `grams_capped` (distinct gram keys dropped) and
    * `anchors_dropped` (total anchor occurrences those grams held) —
    * a 1-row broadcast rollup of the same df frame the filter reads.
    *
    * On the shipped fixtures no 5-gram reaches df 5 (measured: max 4
    * at sf0.001, 3 at sf0.01), so with the default cap of 16 the
    * spans are IDENTICAL to q296's — the capped-twin discipline that
    * took q45→q22 and q223→q25 off the scale-killer list; the
    * crafted-corpus spec drives a corpus where the cap binds and
    * proves spans ⊆ q296's with nonzero accounting.
    *
    * 100 TB shape: the gram frame is consumed three times all keyed on
    * `g` (the df rollup and both join sides) — Catalyst reuses one
    * exchange (SCALING.md exchange-reuse-over-pin); everything
    * downstream is q296's per-pair diagonal window, now with bounded
    * join fan-out.
    */
  def exactSubstrSpansCapped(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12, maxAnchorDf: Int = 16): DataFrame = {
    val grams = positionalGramsFromTokens(tokenized(Tables.documents(spark, dir)), k)
    capSpansWithAccounting(grams, k, minLen, maxAnchorDf)
  }

  /** The df cap split from the span chain: returns the kept anchor
    * frame (grams with df ≤ maxAnchorDf) AND the 1-row accounting
    * frame separately, so consumers that always emit rows (the cut,
    * the coverage rollup) can attach the accounting through a path
    * that survives zero surviving spans — the "reported, never
    * silent" contract even when the cap removes every anchor.
    */
  private[graft] def cappedGramsAndAccounting(grams: DataFrame,
      maxAnchorDf: Int): (DataFrame, DataFrame) = {
    // r22: ONE explicit exchange on `g` serves the df rollup, the
    // keep-join and the downstream span self-join (guide §2.4) — the
    // r21 form paid the df-agg exchange plus a full gram-stream
    // exchange at the join
    val g1 = grams.repartition(col("g"))
    val dfc = g1.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = g1.join(dfc.filter(col("df") <= maxAnchorDf).select("g"), "g")
      .select(col("doc_id"), col("pos"), col("g"))
    val acc = dfc.agg(
      coalesce(sum(when(col("df") > maxAnchorDf, lit(1L))), lit(0L))
        .as("grams_capped"),
      coalesce(sum(when(col("df") > maxAnchorDf, col("df"))), lit(0L))
        .as("anchors_dropped"))
    (kept, acc)
  }

  /** The capped chain over a pre-built anchor frame — split out (the
    * exactSubstrSpansFrom pattern) so the crafted-corpus spec can
    * drive a corpus where the cap actually binds.  Edge case
    * (documented): accounting rides the SPAN rows here, so a corpus
    * where the cap removes every span yields an empty frame and the
    * drop counts travel via [[cappedGramsAndAccounting]] instead —
    * the cut/coverage consumers use that path and always emit rows.
    */
  private[graft] def capSpansWithAccounting(grams: DataFrame, k: Int,
      minLen: Int, maxAnchorDf: Int): DataFrame = {
    val (kept, acc) = cappedGramsAndAccounting(grams, maxAnchorDf)
    exactSubstrSpansFrom(kept, k, minLen).crossJoin(broadcast(acc))
  }

  /** q301: duplication-coverage rollup over the q296 spans — Lee et
    * al.'s headline ExactSubstr number: what FRACTION of each source's
    * token positions sits inside some cross-document duplicated span
    * ≥ minLen?  Each span covers positions [pos, pos+len) on BOTH of
    * its documents; overlapping spans must not double-count, so the
    * covered set is distinct (doc, position) pairs.
    *
    * 100 TB shape: the span table is duplication-volume-sized; the
    * explode adds span-length rows per span side; the distinct and the
    * doc-length join shuffle on doc_id — all downstream of q296's
    * content equi-join, nothing all-pairs.  Exact integers + one
    * terminal divide.
    */
  def dupCoverage(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12): DataFrame = {
    val tw = pinnedTokens(Tables.documents(spark, dir), "source")
    dupCoverageFromTokens(tw,
      exactSubstrSpansFrom(positionalGramsFromTokens(tw, k), k, minLen))
  }

  /** q352: the CAPPED coverage rollup — q301 riding q334's df-capped
    * anchor frame instead of the uncapped q296 one.  Same per-source
    * duplication fractions, but every pair-producing step is bounded
    * at maxAnchorDf² per gram key (the q334 rule), and the cap's
    * accounting columns ride EVERY output row via the 1-row broadcast
    * (zero-span-safe: the rollup emits one row per source regardless,
    * so the accounting can never vanish with the spans).  On the
    * shipped fixtures the cap is slack (max 5-gram df is 4), so the
    * coverage numbers are IDENTICAL to q301's — the capped-twin
    * discipline; the crafted hot-gram spec drives a corpus where the
    * cap binds and proves covered positions ⊆ q301's.
    *
    * 100 TB shape: q301's shape with the one hazard removed — the
    * anchor self-join fan-out is bounded, everything downstream
    * unchanged (span-volume explode, distinct on (doc, pos), keyed
    * rollup).
    */
  def dupCoverageCapped(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12, maxAnchorDf: Int = 16): DataFrame = {
    val tw = pinnedTokens(Tables.documents(spark, dir), "source")
    val (kept, acc) = cappedGramsAndAccounting(
      positionalGramsFromTokens(tw, k), maxAnchorDf)
    dupCoverageFromTokens(tw, exactSubstrSpansFrom(kept, k, minLen))
      .crossJoin(broadcast(acc))
  }

  /** The coverage rollup over a PRE-TOKENIZED (doc_id, source, w) frame
    * and a span frame — split out so q301 (uncapped) and q352 (capped)
    * share one body and the crafted-corpus spec can drive both through
    * the identical plan.
    */
  private[graft] def dupCoverageFromTokens(tw: DataFrame,
      spans: DataFrame): DataFrame = {
    val side = (doc: String, pos: String) => spans.select(
      col(doc).as("doc_id"),
      explode(sequence(col(pos).cast("long"),
        col(pos).cast("long") + col("match_len") - 1L)).as("tokpos"))
    // repartition(doc_id) before the distinct (r22, guide §2.4): the
    // dedup AND the per-doc rollup both ride one doc_id exchange
    val covered = side("doc_a", "pos_a").union(side("doc_b", "pos_b"))
      .repartition(col("doc_id"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
    val docs = tw
      .select(col("doc_id"), col("source"),
        size(col("w")).cast("long").as("n_tok"))
    docs.join(covered, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_cov"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_cov")).as("n_covered"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_tokens").cast("double"))
          .as("dup_frac"))
      .orderBy("source")
  }

  /** q337: the ExactSubstr CUT — q296/q301 find and measure the
    * duplicated spans; this emits the deduplicated corpus itself, the
    * artifact a training-data pipeline actually ships.  Lee et al.'s
    * rule (ACL 2022 §3.2): every duplicated span survives in exactly
    * one place.  Deterministic survivor choice: each q296 span row has
    * doc_a < doc_b by construction, so the LOWER id keeps its copy and
    * the span's token positions on the doc_b side are cut; a position
    * covered by ANY span as a doc_b side is cut once (distinct
    * (doc, position)).  Remaining tokens re-join in position order —
    * documents untouched by any span round-trip VERBATIM (the spec's
    * conservation + round-trip gates).
    *
    * 100 TB shape: everything rides q296's single content equi-join —
    * the span frame is duplication-volume-sized; the cut-position
    * explode adds span-length rows; the anti-join and the rebuild
    * shuffle on doc_id.  The per-doc rebuild array is bounded by
    * document length — the same per-row bound the corpus' own `text`
    * column already imposes.
    */
  def exactSubstrCut(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12): DataFrame = {
    val tw = pinnedTokens(Tables.documents(spark, dir))
    exactSubstrCutFromTokens(tw,
      exactSubstrSpansFrom(positionalGramsFromTokens(tw, k), k, minLen))
  }

  /** q351: the CAPPED cut — the production artifact (q337's
    * deduplicated corpus) riding q334's df-capped anchor frame, the
    * composition that takes the cut off the 100 TB hazard list: one
    * corpus-hot boilerplate gram can no longer make the span build
    * df² on a single key, because the hot grams never reach the
    * self-join.  What the cap costs the cut: a capped span is always
    * CONTAINED in an uncapped span (dropping anchors only breaks or
    * shortens diagonal runs), so capped cut positions ⊆ q337's cut
    * positions — the capped cut keeps a SUPERSET of every document's
    * tokens (cuts less, never more); the crafted hot-gram spec proves
    * exactly that, plus token conservation.  Accounting rides every
    * output row via the 1-row broadcast — and since the cut emits one
    * row per DOCUMENT, the accounting survives even a corpus where
    * the cap removes every span (unlike q334, where it rides span
    * rows — documented there).
    *
    * On the shipped fixtures the cap is slack (max 5-gram df is 4),
    * so text_cut/n_kept are IDENTICAL to q337's — the capped-twin
    * fixture-identity discipline.
    *
    * 100 TB shape: q337's shape with the anchor join bounded at
    * maxAnchorDf² per gram; everything downstream unchanged
    * (span-volume explode, anti-join on (doc, pos), per-doc rebuild
    * bounded by document length).
    */
  def exactSubstrCutCapped(spark: SparkSession, dir: String,
      k: Int = 5, minLen: Int = 12, maxAnchorDf: Int = 16): DataFrame = {
    val tw = pinnedTokens(Tables.documents(spark, dir))
    val (kept, acc) = cappedGramsAndAccounting(
      positionalGramsFromTokens(tw, k), maxAnchorDf)
    exactSubstrCutFromTokens(tw, exactSubstrSpansFrom(kept, k, minLen))
      .crossJoin(broadcast(acc))
  }

  /** The cut over a PRE-TOKENIZED (doc_id, w) frame and a span frame —
    * split out so q337 (uncapped), q351 (capped) and q358 share one
    * body and the crafted-corpus spec can drive them through the
    * identical plan.  `spans` needs (doc_b, pos_b, match_len);
    * survivor rule unchanged (lower id keeps its copy, doc_b side
    * positions are cut once).
    */
  private[graft] def exactSubstrCutFromTokens(tw: DataFrame,
      spans: DataFrame): DataFrame = {
    // repartition(doc_id) BEFORE the distinct (r22, guide §2.4): the
    // dedup rides the doc_id exchange the anti-join needs anyway —
    // Hash(doc_id) satisfies the distinct's (doc_id, pos) clustering
    val cut = spanPositions(spans).repartition(col("doc_id")).distinct()
    val toks = tw
      .select(col("doc_id"),
        posexplode(col("w")).as(Seq("p", "token")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("token"))
    val kept = toks.join(cut, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("text_cut"))
    tw
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"))
      .join(kept, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("text_cut"))
      .select(col("doc_id"), col("n_tok"), col("n_kept"),
        (col("n_tok") - col("n_kept")).as("n_cut"), col("text_cut"))
      .orderBy("doc_id")
  }

  /** The token positions a span frame (doc_b, pos_b, match_len) cuts:
    * one (doc_id, pos) row per position of each span's doc_b side, not
    * yet distinct (overlapping spans repeat positions).
    */
  private[operators] def spanPositions(spans: DataFrame): DataFrame =
    spans.select(col("doc_b").as("doc_id"),
      explode(sequence(col("pos_b").cast("long"),
        col("pos_b").cast("long") + col("match_len") - 1L)).as("pos"))

  /** The eval designation q340, q358 and the yield report's gate 6
    * share: hv60("ev:"‖doc_id) mod 10 = 0 (the q329 designation
    * pattern — ~10% of the corpus).
    */
  private[operators] def isEval: Column =
    pmod(graft.operators.TextAnalysis.hv60(
      concat(lit("ev:"), col("doc_id").cast("string"))), lit(10L)) === 0L

  /** k-gram hit spans: every positional k-gram of the token frame
    * `probe` whose key also occurs in `ref`, as (doc_b, pos_b,
    * match_len = k) span rows the cut consumes.  The hit test is a
    * LEFT-SEMI on the gram key — fan-out ≤ 1 per probe row by
    * definition, so no df-cap is ever needed however hot the gram.
    */
  private[operators] def hitSpans(probe: DataFrame, ref: DataFrame,
      k: Int): DataFrame =
    positionalGramsFromTokens(probe, k)
      .join(positionalGramsFromTokens(ref, k).select("g").distinct(),
        Seq("g"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
        lit(k.toLong).as("match_len"))

  /** q340: eval-set decontamination audit — the n-gram overlap check
    * every benchmark-honest training pipeline runs (the GPT-3 appendix
    * / Lee et al. decontamination rule): an eval document whose
    * content n-grams also appear in the TRAINING corpus inflates eval
    * scores and must be flagged.  Eval membership is hash-designated
    * ([[isEval]]); for each eval document, every positional
    * 8-gram (the q296 anchor machinery reused at k=8) is checked for
    * existence in the train-side gram set, and the document reports
    * n_grams, n_hit, the hit fraction (one pinned divide) and the
    * strict any-hit contaminated flag.
    *
    * 100 TB shape: the existence check is a LEFT-SEMI join on the
    * gram key — fan-out ≤ 1 per probe row BY DEFINITION, so unlike
    * the q296 pair join no df-cap is ever needed (a semi join cannot
    * multiply, however hot the gram); the train set is
    * distinct-gram-sized and both sides shuffle-partition on `g`.
    * Short eval docs (< k tokens) report n_grams = 0 with a NULL
    * fraction and flag 0 — surfaced, not dropped (no-silent-caps).
    */
  def evalContamination(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = positionalGramsFromTokens(tokenized(docs), k)
      .join(docs.select(col("doc_id"), isEval.as("ev")), "doc_id")
    val trainSet = grams.filter(!col("ev")).select("g").distinct()
    val evalGrams = grams.filter(col("ev"))
    val hits = evalGrams.join(trainSet, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val base = evalGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    docs.filter(isEval).select(col("doc_id"))
      .join(base, Seq("doc_id"), "left").na.fill(0L, Seq("n_grams"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") === 0L, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_grams").cast("double"))
          .as("hit_frac"),
        when(col("n_hit") >= 1L, 1).otherwise(0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** q358: the decontamination CUT — q340 FLAGS eval documents whose
    * 8-grams leak from the training corpus; this ships the clean
    * artifact: every leaked 8-gram's token span is REDACTED from the
    * eval document (positions covered by any hitting gram, cut once),
    * and the remaining tokens re-join in position order — the q337
    * rebuild applied to the decontamination decision.  An eval doc
    * with no hits round-trips verbatim; one redacted everywhere
    * reports n_kept 0 with empty text (surfaced, not dropped).
    *
    * 100 TB shape: the hit test stays the q340 LEFT-SEMI on the gram
    * key — fan-out ≤ 1 by definition, no df-cap ever needed; hit
    * spans are hit-volume-sized (explode ×8); the rebuild is the
    * per-document-bounded q337 shape over the EVAL slice only (~10%
    * of the corpus by the hash designation).
    */
  def decontamCut(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalTw = tokenized(docs.filter(isEval))
    exactSubstrCutFromTokens(evalTw,
      hitSpans(evalTw, tokenized(docs.filter(!isEval)), k))
  }

  /** Fellegi–Sunter agreement-pattern table (q308): the probabilistic
    * record-linkage SCORER the blocking tiers feed — q121 finds
    * typo-pairs, q304 audits blocking recall; this computes, per
    * field-agreement pattern γ, how much more likely the pattern is
    * under "same entity" than under "random pair" — the likelihood
    * ratio whose threshold IS the Fellegi–Sunter decision rule.
    *
    * Pairs are customers blocked on c_nationkey; comparison fields
    * are γ₁ mktsegment equality, γ₂ acctbal-sign equality, γ₃
    * same-kilodollar-bucket (floor(acctbal/1000)).  u-probabilities
    * (P[agree | random pair]) are ESTIMATED from the blocked pairs
    * themselves — exact BIGINT agree counts over exact pair counts —
    * the standard unsupervised u-estimate; m is the conventional
    * literal 19/20.  Each pattern's ratio is a product of three
    * factors (agree ⇒ m/u_f, disagree ⇒ (1−m)/(1−u_f)) written as
    * IDENTICAL left-associated double arithmetic on both engines —
    * exact-integer ratios through single divides, no transcendentals
    * (a log-weight form would gamble on ln parity; the monotone
    * product carries the same decision order).
    *
    * 100 TB shape: ONE equi-join on the block key, flowing straight
    * into the map-side-combined ≤2³-group pattern aggregate — pairs
    * are never materialized; the u-estimate is a 1-row broadcast
    * rollup RECOVERED from the pattern table (γ ∈ {0,1} makes the
    * per-field agree counts exact sums of γ·n over patterns).  Block granularity is the documented knob: at reference
    * scale nation-blocking bounds pairs at Σ|block|², and a corpus
    * too hot for that swaps in a finer key (q121's symmetric-delete
    * variants, q21's LSH bands) without changing this scorer.
    */
  def linkagePatterns(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
    // r22: the pair stream is consumed ONCE.  The r21 form eagerly
    // checkpointed the Σ|block|²-sized pair frame (~4.5M rows at
    // sf0.1) so the u-rollup and the pattern rollup could share it —
    // but the u-counts are EXACTLY recoverable from the ≤2³-row
    // pattern table (γ ∈ {0,1}: Σ_pairs γ_f = Σ_patterns γ_f·n — the
    // same BIGINTs), so the pairs now flow straight into the pattern
    // aggregate (map-side combined to ≤8 groups) and are never
    // materialized anywhere (guide §5: the driver/pin holds nothing
    // pair-sized).
    val pairs = c.as("a").join(c.as("b"),
        col("a.nat") === col("b.nat") && col("a.k") < col("b.k"))
      .select(
        when(col("a.seg") === col("b.seg"), 1L).otherwise(0L).as("g_seg"),
        when((col("a.bal") < 0.0) === (col("b.bal") < 0.0), 1L)
          .otherwise(0L).as("g_sign"),
        when(floor(col("a.bal") / lit(1000.0)) ===
             floor(col("b.bal") / lit(1000.0)), 1L)
          .otherwise(0L).as("g_kbal"))
    val pat = graft.util.Pins.eager(
      pairs.groupBy("g_seg", "g_sign", "g_kbal")
        .agg(count(lit(1)).as("n_pairs")))
    val u = pat.agg(sum(col("n_pairs")).as("np"),
      sum(when(col("g_seg") === 1L, col("n_pairs")).otherwise(0L)).as("n_seg"),
      sum(when(col("g_sign") === 1L, col("n_pairs")).otherwise(0L)).as("n_sign"),
      sum(when(col("g_kbal") === 1L, col("n_pairs")).otherwise(0L)).as("n_kbal"))
    def factor(g: Column, na: Column, np: Column): Column = {
      val uf = na.cast("double") / np.cast("double")
      when(g === 1L, lit(0.95) / uf).otherwise(lit(0.05) / (lit(1.0) - uf))
    }
    pat
      .crossJoin(broadcast(u))
      .select(col("g_seg"), col("g_sign"), col("g_kbal"), col("n_pairs"),
        (factor(col("g_seg"), col("n_seg"), col("np"))
          * factor(col("g_sign"), col("n_sign"), col("np"))
          * factor(col("g_kbal"), col("n_kbal"), col("np"))).as("lr"))
      .orderBy("g_seg", "g_sign", "g_kbal")
  }

  /** Per-source conductance on the near-dup graph (q312): for the
    * node set S of each source, φ(S) = cut(S) / min(vol(S), vol(V∖S))
    * — the community-quality metric q161's modularity does NOT give:
    * modularity scores the whole partition against a null model;
    * conductance scores EACH source's boundary (a low-φ source is a
    * closed near-dup community — internal template stamping; a
    * high-φ source duplicates mostly ACROSS sources — syndication).
    * vol counts edge-endpoints (Σ degree), cut counts incident
    * cross-source edges — a cross edge contributes once to each of
    * its two sources' cuts.  Everything is exact integers until the
    * one guarded terminal divide (min = 0 ⇔ the source holds every
    * edge or none — φ undefined, NULL on both engines).
    *
    * 100 TB shape: the LSH pair list joins the (doc → source) map
    * twice on doc id (at production scale: broadcast if the dim
    * fits, shuffle equi-join otherwise), then ONE explode-by-2 and a
    * per-source aggregate — never adjacency materialization beyond
    * the already-sub-quadratic candidate pairs.
    */
  def conductance(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val e = minhashLsh(spark, dir)
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), "doc_b")
    val tot = e.agg((count(lit(1)) * lit(2L)).as("vol_total"))
    val ends = e.select(explode(array(
        struct(col("src_a").as("s"), col("doc_a").as("d"),
          (col("src_a") =!= col("src_b")).as("x")),
        struct(col("src_b").as("s"), col("doc_b").as("d"),
          (col("src_a") =!= col("src_b")).as("x")))).as("p"))
      .select(col("p.s").as("source"), col("p.d").as("doc_id"), col("p.x").as("x"))
    ends.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_nodes"),
        count(lit(1)).as("vol"),
        sum(when(col("x"), 1L).otherwise(0L)).as("cut"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_nodes"), col("vol"), col("cut"),
        col("vol_total"),
        when(least(col("vol"), col("vol_total") - col("vol")) === 0L,
          lit(null).cast("double"))
          .otherwise(col("cut").cast("double") /
            least(col("vol"), col("vol_total") - col("vol")).cast("double"))
          .as("phi"))
      .orderBy("source")
  }

  /** Synchronous label-propagation communities on the near-dup graph
    * (q316): the graph tier's missing COMMUNITY DETECTOR — q72's
    * connected components give reachability (one syndicated bridge
    * merges two template families into one blob), while LPA's
    * majority vote keeps densely-linked template families separate
    * across weak bridges.  Raghavan et al.'s rule, made fully
    * deterministic: every node votes with its neighbors' labels PLUS
    * its own (the self-vote kills the classic 2-cycle oscillation a
    * synchronous sweep has on bipartite-ish pairs), takes the most
    * frequent label, ties to the SMALLEST label; two synchronous
    * supersteps (fixed — an adaptive stop would make the output
    * depend on convergence detection order).
    *
    * Everything is exact integer algebra — vote counts are BIGINTs,
    * the argmax is a (count DESC, label ASC) row_number — so the
    * oracle replays the supersteps bit-for-bit as unrolled CTEs.
    *
    * 100 TB shape: per superstep ONE equi-join of the (sub-quadratic
    * LSH) edge list against the label frame on node id + ONE
    * (node, label)-keyed count + ONE node-keyed argmax — all hash-
    * partitioned on node id, no adjacency materialization.  The
    * label frame is localCheckpoint'd per superstep (the q54 Lloyd
    * discipline) so the plan subtree doesn't double per iteration.
    */
  def labelProp(spark: SparkSession, dir: String,
                iters: Int = 2, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.util.Pins.eager(minhashLsh(spark, dir))
    val nodes = pairs.select(col("doc_a").as("v"))
      .unionAll(pairs.select(col("doc_b").as("v"))).distinct()
    // undirected adjacency + the self-vote loop
    val adj = pairs.select(col("doc_a").as("v"), col("doc_b").as("u"))
      .unionAll(pairs.select(col("doc_b").as("v"), col("doc_a").as("u")))
      .unionAll(nodes.select(col("v"), col("v").as("u")))
    var lab = nodes.withColumn("lab", col("v"))
    for (_ <- 1 to iters) {
      lab = adj.join(lab.select(col("v").as("u"), col("lab")), "u")
        .groupBy("v", "lab").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("v").orderBy(col("c").desc, col("lab").asc)))
        .filter(col("rn") === 1).select("v", "lab")
        .localCheckpoint(false)
    }
    // r22 (global-window triage): orderBy+limit(topK) BEFORE the rank
    // window — the heap-based TakeOrdered bounds the single-partition
    // window at topK rows instead of one-row-per-community (the one
    // unbounded global window the r21 triage found); ranks over the
    // same total order are identical
    lab.groupBy("lab").agg(count(lit(1)).as("n_members"),
        min(col("v")).as("min_doc"), max(col("v")).as("max_doc"))
      .orderBy(col("n_members").desc, col("lab").asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_members").desc, col("lab").asc)))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("lab").as("community"),
        col("n_members"), col("min_doc"), col("max_doc"))
      .orderBy("rank")
  }

  /** Snapshot reconciliation diff (q332): the table-diff primitive
    * next to q49's content diff and q86's CDC merge — q49 asks "which
    * CONTENT is new", q86 APPLIES a change log, this DETECTS one:
    * given two snapshots of the documents table, classify every key
    * as added / removed / changed / unchanged via one full-outer join
    * and a column compare.  Snapshot B is derived deterministically
    * from A (hv60('snap:' ∥ doc_id) mod 50: bucket 0 dropped, bucket
    * 1 lang rewritten to 'xx', bucket 2 cloned at doc_id + 10⁹) so
    * every class is populated and the oracle replays the derivation
    * bit-for-bit — the harness shape is exactly a production
    * yesterday-vs-today run.
    *
    * 100 TB shape: ONE full-outer equi-join on the key (the
    * unavoidable shuffle any reconciliation pays) with the class
    * decided per-row from null-sides + a struct equality — no window,
    * no second pass; the rollup is a |sources|×4-key count.  At
    * production scale the column compare is a fingerprint equality so
    * wide rows never ship twice — here the compared columns ARE the
    * fingerprinted payload.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val hv = graft.operators.TextAnalysis.hv60(
      concat(lit("snap:"), col("doc_id").cast("string")))
    val a = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val withB = a.withColumn("b", pmod(hv, lit(50L)))
    val b = withB.filter(col("b") =!= 0L)
      .select(col("doc_id"), col("source"),
        when(col("b") === 1L, lit("xx")).otherwise(col("lang")).as("lang"),
        col("n_chars"))
      .unionAll(withB.filter(col("b") === 2L)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("source"),
          col("lang"), col("n_chars")))
    val diff = a.select(col("doc_id"), struct(col("source"), col("lang"),
        col("n_chars")).as("row_a"))
      .join(b.select(col("doc_id"), struct(col("source"), col("lang"),
        col("n_chars")).as("row_b")), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("row_a.source"), col("row_b.source")).as("source"),
        when(col("row_b").isNull, "removed")
          .when(col("row_a").isNull, "added")
          .when(col("row_a") =!= col("row_b"), "changed")
          .otherwise("unchanged").as("class"))
    diff.groupBy("source", "class").agg(count(lit(1)).as("n"))
      .orderBy("source", "class")
  }
}
