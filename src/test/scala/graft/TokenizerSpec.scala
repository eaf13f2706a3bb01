package graft

import graft.operators.{Dedup, Tokenizer}
import org.apache.spark.sql.functions._

/** Definitional ground-truth checks for the two round-16 primitives,
  * beyond the fixture: the BPE merge fold is checked EXHAUSTIVELY
  * against a reference Scala implementation over every short symbol
  * array on a binary alphabet (508 cases — stronger than sampled
  * properties, and the overlap-heavy cases like "aaaa" live exactly
  * there), and the anchored k-mer span chain is checked against a
  * brute-force dynamic-programming maximal-common-substring finder on
  * a crafted corpus with planted overlapping/periodic duplicates (the
  * multi-diagonal cases the fixture doesn't exercise).
  */
class TokenizerSpec extends SparkSuite {

  /** Reference left-to-right non-overlapping merge (the Sennrich
    * greedy), plain Scala.
    */
  private def refMerge(syms: Seq[String], l: String, r: String): Seq[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
      else acc :+ s
    }

  test("mergeFold: exhaustive agreement with the reference fold over all binary arrays up to length 6") {
    import scala.jdk.CollectionConverters._
    val alphabet = Seq("a", "b")
    val arrays = (0 to 6).flatMap { n =>
      (0 until math.pow(2, n).toInt).map { bits =>
        (0 until n).map(i => alphabet((bits >> i) & 1))
      }
    }
    val pairs = for (l <- alphabet; r <- alphabet) yield (l, r)
    val cases = for {
      (arr, i) <- arrays.zipWithIndex
      ((l, r), j) <- pairs.zipWithIndex
    } yield (i * pairs.length + j, arr, l, r)
    assert(cases.length == 508)
    // one Spark pass over every case: per-pair mergeFold columns
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("syms",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("l",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("r",
        org.apache.spark.sql.types.StringType)))
    val rows = cases.map { case (id, arr, l, r) =>
      org.apache.spark.sql.Row(id, arr, l, r) }
    val df = spark.createDataFrame(rows.asJava, schema)
    val byPair = pairs.map { case (l, r) =>
      val got = df.filter(col("l") === l && col("r") === r)
        .select(col("id"), Tokenizer.mergeFold(col("syms"), l, r).as("m"))
        .collect().map(rw => rw.getInt(0) -> rw.getSeq[String](1)).toMap
      (l, r) -> got
    }.toMap
    cases.foreach { case (id, arr, l, r) =>
      val got = byPair((l, r))(id)
      val want = refMerge(arr, l, r)
      assert(got == want, s"case $id: fold($arr, $l+$r) = $got, want $want")
    }
  }

  /** Brute-force maximal common substrings ≥ minLen between two token
    * sequences: every match start whose predecessor pair mismatches,
    * run-length extended.  Returns (posA, posB, len).
    */
  private def bruteSpans(a: IndexedSeq[String], b: IndexedSeq[String],
      minLen: Int): Set[(Int, Int, Int)] = {
    val out = scala.collection.mutable.Set[(Int, Int, Int)]()
    for (i <- a.indices; j <- b.indices
         if a(i) == b(j) && (i == 0 || j == 0 || a(i - 1) != b(j - 1))) {
      var m = 0
      while (i + m < a.length && j + m < b.length && a(i + m) == b(j + m)) m += 1
      if (m >= minLen) out += ((i, j, m))
    }
    out.toSet
  }

  test("exactSubstr chain: equals the brute-force maximal-common-substring set on planted overlapping duplicates") {
    import scala.jdk.CollectionConverters._
    val base = (0 until 40).map(i => s"tok$i")
    val docs: Seq[(Long, IndexedSeq[String])] = Seq(
      // d0/d1 share one long interior span and one span at d1's edge
      0L -> base,
      1L -> (Vector("x0", "x1") ++ base.slice(5, 25) ++ Vector("x2") ++ base.slice(30, 40)),
      // d2/d3: periodic text — every alignment of the repeated block
      // matches on its own diagonal (the multi-diagonal stress case)
      2L -> Vector.fill(4)(Vector("p0", "p1", "p2")).flatten.toIndexedSeq,
      3L -> (Vector.fill(3)(Vector("p0", "p1", "p2")).flatten.toIndexedSeq ++ Vector("q9")),
      // d4: shares exactly k=5 tokens with d0 — anchors exist (one
      // per diagonal) but the span is below minLen and must NOT be
      // reported
      4L -> (base.slice(0, 5) ++ Vector("z0", "z1", "z2")))
    val k = 5
    val minLen = 6
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      docs.map { case (id, toks) =>
        org.apache.spark.sql.Row(id, toks.mkString(" ")) }.asJava, schema)
    val got = Dedup.exactSubstrSpansFrom(
        Dedup.positionalGramsFromTokens(Dedup.tokenized(df), k), k, minLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4).toInt)).toSet
    val byId = docs.toMap
    val want = (for {
      (da, a) <- docs; (db, b) <- docs if da < db
      (pa, pb, len) <- bruteSpans(byId(da), byId(db), minLen)
    } yield (da, db, pa, pb, len)).toSet
    assert(want.nonEmpty && want.exists { case (da, db, _, _, _) => da == 2L && db == 3L },
      "the crafted corpus must exercise the periodic multi-diagonal case")
    assert(!want.exists { case (da, db, _, _, _) => db == 4L || da == 4L },
      "the sub-minLen share must not be reported by the reference either")
    assert(got == want, {
      val miss = want -- got; val extra = got -- want
      s"spans diverge: missing=$miss extra=$extra"
    })
  }
}
