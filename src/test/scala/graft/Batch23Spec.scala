package graft

import graft.operators.Dedup
import graft.functions.Folds
import graft.util.Harness.planNodes
import org.apache.spark.sql.functions._

/** Batch 26 (q334, q337): the ExactSubstr scale levers — the df-capped
  * anchor join proven identical to the uncapped truth where the cap
  * doesn't bind (and strictly contained, with accounting, where it
  * does), and the span CUT's token-conservation + verbatim round-trip.
  */
class Batch23Spec extends SparkSuite {

  test("q334 capped spans == q296 uncapped spans on the fixture (cap never binds)") {
    val capped = Dedup.exactSubstrSpansCapped(spark, sf).collect()
    // accounting: no 5-gram on the fixture reaches df 17 (measured
    // max 4 at sf0.001) — the cap must report zero drops
    assert(capped.forall(r => r.getLong(5) == 0L && r.getLong(6) == 0L),
      "no grams capped on the fixture")
    val cappedSet = capped.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    val uncapped = Dedup.exactSubstrSpans(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(cappedSet == uncapped, "capped twin identical where cap is slack")
    assert(uncapped.nonEmpty, "fixture has duplicated spans to test on")
  }

  test("q334 crafted hot gram: cap binds, accounting nonzero, spans a subset") {
    import spark.implicits._
    // 6 docs share the verbatim hot line (every gram df=6 > cap 4);
    // docs 100/101 additionally share a rare 14-token span
    val hot = "the quick brown fox jumps over the lazy dog again and again today"
    val rare = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
    val docs = ((1 to 6).map(i => (i.toLong, hot)) ++
      Seq((100L, s"prefix one two three $rare"),
          (101L, s"$rare suffix four five six"))).toDF("doc_id", "text")
    val grams = Dedup.positionalGramsFromTokens(Dedup.tokenized(docs), 5)
    val capped = Dedup.capSpansWithAccounting(grams, 5, 12, 4).collect()
    assert(capped.nonEmpty, "the rare span survives the cap")
    assert(capped.forall(_.getLong(5) > 0L), "grams_capped reported")
    assert(capped.forall(_.getLong(6) >= 6L * capped.head.getLong(5)),
      "anchors_dropped counts every occurrence of every capped gram")
    // spans under the cap are a subset of the uncapped truth
    val cappedSet = capped.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    val full = Dedup.exactSubstrSpansFrom(grams, 5, 12).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(cappedSet.subsetOf(full), "cap only removes spans, never invents")
    assert(cappedSet.contains((100L, 101L, 4, 0, 14L)),
      "the rare cross-doc span is found with its exact positions")
    // the hot-line pairs (15 of them) are the ones the cap dropped
    assert(full.size > cappedSet.size, "cap actually bound on the hot gram")
  }

  test("q337 cut: token conservation, cut mass recounts, untouched docs round-trip verbatim") {
    val out = Dedup.exactSubstrCut(spark, sf)
    val rows = out.collect()
    assert(rows.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)),
      "n_kept + n_cut == n_tok per document")
    // cut mass == distinct doc_b-side covered positions of the spans
    val spans = Dedup.exactSubstrSpans(spark, sf)
    val nCut = spans.select(col("doc_b").as("doc_id"),
        explode(sequence(col("pos_b").cast("long"),
          col("pos_b").cast("long") + col("match_len") - 1L)).as("pos"))
      .distinct().count()
    assert(rows.map(_.getLong(3)).sum == nCut, "cut tokens recount from spans")
    assert(nCut > 0L, "fixture has cut mass")
    // verbatim round-trip for every untouched document
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = rows.filter(_.getLong(3) == 0L)
    assert(untouched.nonEmpty)
    assert(untouched.forall(r => r.getString(4) == orig(r.getLong(0))),
      "zero-cut documents reproduce their text verbatim")
    // cut documents keep a strict subsequence (every kept token in order)
    val touched = rows.filter(_.getLong(3) > 0L)
    assert(touched.nonEmpty)
    assert(touched.forall { r =>
      val kept = r.getString(4).split(" ").filter(_.nonEmpty)
      val full = orig(r.getLong(0)).split(" ")
      var i = 0
      kept.forall { t => i = full.indexOf(t, i); i >= 0 && { i += 1; true } }
    }, "cut text is an in-order subsequence of the original")
  }

  test("segmented fold == flat ordered fold on a crafted hub graph; one exchange") {
    import spark.implicits._
    import graft.operators.GraphFold
    // a 10k-degree hub next to a 5-degree node; values dyadic (k/1024)
    // so every partial sum is IEEE-exact and the two fold shapes must
    // agree BIT-FOR-BIT, not just approximately
    val rows = (1 to 10000).map(i => (1L, i.toLong, i / 1024.0)) ++
      (1 to 5).map(i => (2L, 100000L + i, i / 8.0))
    val df = rows.toDF("key", "id", "v")
    def m(out: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val flat = m(df.groupBy("key").agg(Folds.orderedSum(col("v"), col("id"))))
    // width 7: the hub spreads over all 7 residue segments unevenly
    val seg7 = m(GraphFold.segmentedSum(df, "key", col("id"), col("v"), "s", 7))
    assert(seg7 == flat, "segmented fold replays the flat ordered fold exactly")
    // width above every id: residue == id, one element per segment
    val segWide = m(GraphFold.segmentedSum(df, "key", col("id"), col("v"), "s", 1 << 20))
    assert(segWide == flat)
    assert(flat(1L) == (1 to 10000).foldLeft(0.0)((a, i) => a + i / 1024.0),
      "matches a local left fold in id order")
    // plan shape: level 1 exchanges on (key, segment) — the same data
    // volume the flat fold's single exchange moved — and level 2 on
    // key moves only segment PARTIALS (≤ width per key); an explicit
    // pre-repartition on key would fuse them to one exchange but was
    // measured slower (it defeats map-side partial aggregation)
    val plan = GraphFold.segmentedSum(df, "key", col("id"), col("v"), "s")
      .queryExecution.executedPlan
    val shuffles = planNodes(plan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(shuffles == 2, s"row-sized + partial-sized exchange, got $shuffles")
    assert(!planNodes(plan).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "residue segmentation needs neither a window nor a sort")
  }

  test("Folds.orderedSum: the same bits at 1 and 4 partitions, equal to a driver fold in (order, v) order") {
    import spark.implicits._
    // ties on the order key (o) and 1e16-scale cancellations: each
    // group's sum depends on the order its rows are added in
    val rows = Seq((1L, 1L, -1e16), (1L, 0L, 1e16), (1L, 0L, 1.0), (1L, 1L, 1.0),
      (1L, 2L, 1.0), (2L, 5L, 1.0), (2L, 5L, -1e16), (2L, 3L, 1e16), (2L, 3L, 0.5))
    def pinned(k: Long): Double =
      rows.filter(_._1 == k).sortBy(r => (r._2, r._3)).foldLeft(0.0)(_ + _._3)
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for (k <- Seq(1L, 2L))
      assert(bits(rows.filter(_._1 == k).foldLeft(0.0)(_ + _._3)) != bits(pinned(k)),
        s"key $k: input order and pinned order give different sums")
    val df = rows.toDF("k", "o", "v")
    for (parts <- Seq(1, 4); input <- Seq(df, df.orderBy(col("v").desc))) {
      val got = input.repartition(parts).groupBy("k")
        .agg(Folds.orderedSum(col("v"), col("o")).as("s"))
        .collect().map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
      assert(got == Map(1L -> bits(pinned(1L)), 2L -> bits(pinned(2L))), s"$parts partitions")
    }
  }

  test("Folds.sum equals a driver foldLeft(0.0)(_ + _) over the array") {
    import spark.implicits._
    val arrs = Seq(Seq(1e16, 1.0, -1e16, 1.0), Seq(0.1, 0.2, 0.3), Seq.empty[Double])
    val got = arrs.toDF("a").select(Folds.sum(col("a"))).collect().map(_.getDouble(0))
    assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      arrs.map(a => java.lang.Double.doubleToRawLongBits(a.foldLeft(0.0)(_ + _))))
  }

  test("q334/q337 plan shape: content equi-joins, never all-pairs; keyed windows; gram exchange reused") {
    // the 100 TB shape (the q296 pin, now for its two derivatives):
    // fixture-scale broadcasts off so the anchor self-join shows its
    // production SMJ + ReusedExchange form
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (df <- Seq(Dedup.exactSubstrSpansCapped(spark, sf),
                     Dedup.exactSubstrCut(spark, sf))) {
        df.collect()
        val all = planNodes(df.queryExecution.executedPlan)
        assert(!all.exists(_.nodeName.contains("CartesianProduct")),
          "anchor join stays a content equi-join under the cap")
        val ws = all.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w }
        assert(ws.forall(_.partitionSpec.nonEmpty),
          "chain windows keyed by (doc_a, doc_b, diag), never global")
        assert(all.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
          "the gram-key exchange is built once and reused (SCALING.md rule)")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
