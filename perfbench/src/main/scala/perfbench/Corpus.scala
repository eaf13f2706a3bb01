package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Deterministic Argot corpus in the `ParquetDocSource` shape
  * (`doc_id`, `source`, `text`).  Every row draws from its own
  * generator seeded by (seed, row index), so any row — and the facts the
  * output checks need about it — can be recomputed without the files.
  *
  * Planted properties the checks rely on:
  *  - ids are unique 16-hex-digit strings in scrambled order, so the
  *    asciibetical sort and range partitioning do real work;
  *  - about 1 % of rows are malformed (truncated JSON, non-object
  *    roots, plain text) and must be skipped as soft errors;
  *  - `Owners` owners with a skewed share each; the last
  *    `OwnersWithoutAuthority` have no authority record, so the NULL
  *    enrichment path runs.
  */
final case class Corpus(seed: Long, docs: Int) {
  import Corpus._

  private def rng(i: Long): SplittableRandom = new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + i))

  def id(i: Long): String = f"${mix(seed << 32 ^ i)}%016x"

  /** The cheap per-row facts: (owner index, malformed kind or -1). */
  private def head(r: SplittableRandom): (Int, Int) = {
    val malformed = if (r.nextInt(100) == 0) r.nextInt(4) else -1
    (ownerIndex(r.nextDouble()), malformed)
  }

  def row(i: Long): (String, String, String) = {
    val r = rng(i)
    val (owner, malformed) = head(r)
    val doc = argot(id(i), r)
    val text = malformed match {
      case -1 => doc
      case 0 => doc.substring(0, doc.length / 2) // truncated object
      case 1 => "[\"not\",\"an\",\"object\"]"
      case 2 => "\"just a string\""
      case _ => "not json at all"
    }
    (id(i), ownerName(owner), text)
  }

  /** What a correct reindex of this corpus must produce. */
  @transient lazy val expected: Expected = {
    val good = Array.newBuilder[String]
    val ownerOf = new java.util.HashMap[String, String](docs * 2)
    var malformed = 0L
    var i = 0L
    while (i < docs) {
      val (owner, m) = head(rng(i))
      if (m >= 0) malformed += 1
      else { good += id(i); ownerOf.put(id(i), ownerName(owner)) }
      i += 1
    }
    val ids = good.result()
    Expected(ids.toSet, malformed, ids.max, ownerOf, authorities(seed))
  }

  /** Write the corpus as parquet under `dir` (atomically: a temp dir
    * renamed into place), unless it is already there.
    */
  def writeTo(spark: SparkSession, dir: Path, partitions: Int = 4): Unit = {
    if (Files.exists(dir.resolve("_SUCCESS"))) return
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Fs.deleteTree(tmp)
    val n = docs.toLong
    val self = this
    val rows = spark.sparkContext.parallelize(0 until partitions, partitions).flatMap { p =>
      (p * n / partitions until (p + 1) * n / partitions).iterator.map { i =>
        val (d, s, t) = self.row(i); Row(d, s, t)
      }
    }
    spark.createDataFrame(rows, Schema).write.parquet(tmp.toString)
    Fs.deleteTree(dir)
    Files.move(tmp, dir)
  }
}

/** The output a correct run must reproduce. */
final case class Expected(
    goodIds: Set[String],
    malformed: Long,
    maxId: String,
    ownerOf: java.util.Map[String, String],
    authority: Map[String, String])

object Corpus {
  val Owners = 40
  val OwnersWithoutAuthority = 4

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("source", StringType),
    StructField("text", StringType)))

  /** SplitMix64 finalizer: a bijection on longs. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def ownerName(k: Int): String = f"owner-$k%02d"

  // skewed owner shares: weight 1/(k+1)^0.8
  private val ownerCdf: Array[Double] = {
    val w = (0 until Owners).map(k => 1.0 / math.pow(k + 1, 0.8))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def ownerIndex(u: Double): Int = {
    val k = java.util.Arrays.binarySearch(ownerCdf, u)
    math.min(if (k >= 0) k else -k - 1, Owners - 1)
  }

  /** Authority records, keyed by owner; the last owners have none. */
  def authorities(seed: Long): Map[String, String] =
    (0 until Owners - OwnersWithoutAuthority).map { k =>
      ownerName(k) -> f"""{"id":"auth-${mix(seed ^ (k + 1000L))}%016x","name":"Institution $k","lang":"eng"}"""
    }.toMap

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po",
    "qua", "ber", "dan", "fel", "gor", "hin", "jor", "lex", "mon", "nor")

  private def word(r: SplittableRandom): String = {
    val sb = new StringBuilder
    (0 until 2 + r.nextInt(3)).foreach(_ => sb.append(syllables(r.nextInt(syllables.length))))
    sb.toString
  }
  private def words(r: SplittableRandom, lo: Int, hi: Int): String =
    Iterator.fill(lo + r.nextInt(hi - lo + 1))(word(r)).mkString(" ")
  private def q(s: String): String = "\"" + s + "\""

  /** One Argot-like record of about 1.1 KB: nested objects, arrays of
    * objects, mixed-type arrays, ints, floats, booleans and nulls.
    */
  private def argot(id: String, r: SplittableRandom): String = {
    val sb = new StringBuilder(1400)
    def arr(n: Int)(f: => String): String = Iterator.fill(n)(f).mkString("[", ",", "]")
    sb.append("{\"id\":").append(q(id))
    sb.append(",\"local_id\":{\"value\":").append(q(id.take(8)))
      .append(",\"other\":").append(arr(1 + r.nextInt(2))(q(word(r)))).append('}')
    sb.append(",\"title_main\":[{\"value\":").append(q(words(r, 3, 8)))
      .append(",\"lang\":\"eng\"}]")
    sb.append(",\"names\":").append(arr(1 + r.nextInt(3))(
      s"""{"name":${q(words(r, 2, 3))},"rel":["author"],"type":"personal"}"""))
    sb.append(",\"publisher\":{\"name\":").append(q(words(r, 2, 4)))
      .append(",\"place\":").append(q(word(r)))
      .append(",\"year\":").append(1900 + r.nextInt(125)).append('}')
    sb.append(",\"physical_description\":[{\"extent\":").append(q(s"${50 + r.nextInt(900)} p."))
      .append(",\"dimensions\":{\"height_cm\":").append(15 + r.nextInt(20)).append('.').append(r.nextInt(10))
      .append(",\"width_cm\":").append(10 + r.nextInt(10)).append(".5}}]")
    sb.append(",\"subject_topical\":").append(arr(2 + r.nextInt(5))(q(words(r, 1, 3))))
    sb.append(",\"note_general\":").append(arr(1 + r.nextInt(3))(q(words(r, 8, 20))))
    sb.append(",\"isbn\":[").append(q(f"978${r.nextLong(10000000000L)}%010d")).append(']')
    sb.append(",\"price\":").append(r.nextInt(200)).append('.').append(r.nextInt(100))
    sb.append(",\"copies\":").append(r.nextInt(12))
    sb.append(",\"available\":").append(r.nextBoolean())
    sb.append(",\"suppressed\":false,\"deprecated\":null")
    sb.append(",\"mixed\":[").append(r.nextInt(50)).append(",\"two\",3.5,true,null]")
    sb.append(",\"url\":[{\"href\":").append(q(s"https://example.org/record/$id"))
      .append(",\"type\":\"fulltext\",\"restricted\":").append(r.nextBoolean()).append("}]")
    sb.append(",\"misc\":{\"a\":{\"b\":{\"c\":[1,2,3],\"d\":").append(q(words(r, 2, 6))).append("}}}")
    sb.append('}')
    sb.toString
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
