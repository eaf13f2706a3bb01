package graft

import graft.functions.{ArgotFlatten, DocJson, Utf8}
import graft.operators.Reindex
import graft.sinks.BatchedUpsertSink
import graft.sources.{InMemoryKvTransport, KvAuthorityStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** The sink's doc writer against `to_json`, byte for byte, and its
  * UTF-8 check against `UTF8String.isValid`, case for case.
  */
class DocJsonSpec extends SparkSuite {
  import spark.implicits._

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString(" ")

  /** Every row of `df` gets `to_json(struct(...))`'s bytes from the
    * writer, with null fields omitted and written, generated and
    * interpreted.
    */
  private def sameAsToJson(df: DataFrame): Unit = {
    assert(DocJson.covers(df.schema), df.schema.simpleString)
    val modes = Seq(
      Map("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (ignore <- Seq("true", "false"); mode <- modes) {
      val confs = mode + ("spark.sql.jsonGenerator.ignoreNullFields" -> ignore)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val doc = DocJson.column(df)
        assert(ColumnBridge.expression(doc).isInstanceOf[DocJson])
        val rows = df.select(doc.cast("binary"), to_json(struct(df.columns.map(col): _*)).cast("binary"))
          .collect()
        assert(rows.nonEmpty)
        for (r <- rows) {
          val (got, want) = (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
          assert(java.util.Arrays.equals(got, want),
            s"$confs\n got ${hex(got)}\nwant ${hex(want)}\n(${new String(want, "UTF-8")})")
        }
      } finally confs.keys.foreach(spark.conf.unset)
    }
  }

  /** One string column `s` per byte array, its bytes kept as they are. */
  private def strings(xs: Seq[Array[Byte]]): DataFrame = {
    val df = xs.zipWithIndex.map { case (b, i) => (i.toString, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("s"))
    val back = df.select(col("s").cast("binary")).as[Array[Byte]].collect()
    assert(back.map(_.toSeq).toSeq == xs.map(_.toSeq), "string bytes kept as they are")
    df
  }

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val ascii7 = "abcdefg".getBytes("US-ASCII")

  test("every single byte 0x00-0xFF, alone and inside ASCII runs, writes to_json's bytes") {
    val single = (0 until 256).map(b => bytes(b))
    val framed = (0 until 256).map(b => ascii7 ++ bytes(b) ++ "hijklmnopqrstu".getBytes("US-ASCII"))
    sameAsToJson(strings(single ++ framed))
  }

  test("ill-formed UTF-8 is written as its decoded String, as to_json writes it") {
    val ill = Seq(
      bytes(0xC0, 0xAF), bytes(0xED, 0xA0, 0x80), bytes(0xED, 0xA0, 0xBD, 0xED, 0xB8, 0x80),
      bytes(0xE2, 0x82), bytes(0xF0, 0x9F, 0x98), bytes(0xC3), bytes(0xE2),
      bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xF5, 0x80, 0x80, 0x80), bytes(0xFF), bytes(0x80),
      bytes(0xC2, 0x41), bytes(0xE0, 0x80, 0x80), bytes(0xF0, 0x80, 0x80, 0x80))
    val contexts = ill.flatMap(b => Seq(b, ascii7 ++ b, ascii7 ++ b ++ "\"\\x\u0001".getBytes("UTF-8") ++ ascii7,
      "é😀".getBytes("UTF-8") ++ b ++ ascii7 ++ ascii7))
    assert(contexts.forall(b => !UTF8String.fromBytes(b).isValid))
    sameAsToJson(strings(contexts))
  }

  test("non-BMP and other multi-byte text, with escapes around it, is copied raw") {
    val texts = Seq("𝄞", "😀 emoji", "a😀b", "\"😀\\\n", "中文テキスト한국어", "ünïcödé\u2028\u2029/\u007F",
      "x" * 17 + "😀" + "y" * 9, "\t\r\n\b\f\u0000\u001F\u0010", "\uFFFD\uFEFF", "")
    sameAsToJson(strings(texts.map(_.getBytes("UTF-8"))))
  }

  test("random byte strings write to_json's bytes") {
    val rnd = new scala.util.Random(7)
    val pool = Array(0x00, 0x0A, 0x1F, 0x22, 0x2F, 0x5C, 0x41, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF,
      0xC0, 0xC2, 0xDF, 0xE0, 0xED, 0xEF, 0xF0, 0xF4, 0xF5, 0xFF)
    val xs = Seq.fill(2000)(Array.fill(rnd.nextInt(40)) {
      rnd.nextInt(3) match {
        case 0 => (0x20 + rnd.nextInt(0x5F)).toByte
        case 1 => pool(rnd.nextInt(pool.length)).toByte
        case _ => rnd.nextInt(256).toByte
      }
    })
    sameAsToJson(strings(xs))
  }

  test("escaped field names, at the top and nested") {
    val df = spark.sql("""SELECT 'v' AS s, named_struct('q"', 'a', 'b\\\\s', 'b', 'é😀', 'c') AS n""")
      .select(col("s").as("q\"uote"), col("s").as("back\\slash"), col("s").as("nl\nctl\u0001\u001F"),
        col("s").as("é 😀"), col("s").as("/slash\u2028"), col("n"))
    sameAsToJson(df)
  }

  test("null struct fields, null map values and null array elements") {
    sameAsToJson(spark.sql("""SELECT 'x' AS id, CAST(NULL AS STRING) AS n,
      map('a', NULL, 'b', 'x') AS m, array('a', NULL, 'c') AS a,
      array(CAST(NULL AS STRING)) AS an,
      named_struct('p', CAST(NULL AS STRING), 'q', 'y') AS st,
      CAST(NULL AS MAP<STRING, STRING>) AS nm, CAST(NULL AS ARRAY<STRING>) AS na,
      CAST(NULL AS STRUCT<a: STRING>) AS ns"""))
  }

  test("empty maps and arrays, and nested structs, arrays and maps") {
    sameAsToJson(spark.sql("""SELECT 'x' AS id,
      CAST(map() AS MAP<STRING, STRING>) AS em, CAST(array() AS ARRAY<STRING>) AS ea,
      array(map('k', array('a', NULL)), CAST(map() AS MAP<STRING, ARRAY<STRING>>)) AS am,
      named_struct('a', named_struct('b', array(named_struct('c', 'd', 'e', CAST(NULL AS STRING))))) AS deep,
      map('k"', named_struct('x', array(CAST(NULL AS STRING), '\\n')), 'l', NULL) AS ms,
      array(array('a'), CAST(NULL AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>)) AS aa,
      named_struct('e', CAST(map() AS MAP<STRING, STRING>)) AS se"""))
  }

  test("scanSlice docs after parse and enrichment write to_json's bytes") {
    val slice = Reindex.scanSlice(spark, sf)
    val owners = slice.select("owner").distinct().as[String].collect().sorted
    val entries = owners.zipWithIndex.collect {
      case (o, i) if i % 2 == 0 => o -> s"""{"name":"Auth "$i"\\ é😀","t":"\t"}"""
    }.toMap
    val docs = new KvAuthorityStore(new InMemoryKvTransport(entries)).enrich(slice)
      .withColumn("flat", ArgotFlatten.flattenArgot(col("content")))
      .select("id", "txn_id", "owner", "content", "flat", "authority")
    assert(docs.filter(col("authority").isNotNull).count() > 0)
    sameAsToJson(docs)
  }

  test("the sink posts to_json's bytes, from the writer and for a frame with a double column") {
    val slice = Reindex.scanSlice(spark, sf).withColumn("flat", ArgotFlatten.flattenArgot(col("content")))
    val scored = slice.filter(length(col("id")) < 2).withColumn("score", length(col("content")) / 3.0)
    assert(DocJson.covers(slice.schema) && !DocJson.covers(scored.schema))
    for (df <- Seq(slice, scored)) {
      BatchCollector.reset()
      assert(new BatchedUpsertSink(BatchCollector, chunkSize = 64).write(df) == df.count())
      val want = df.select(col("id"), to_json(struct(df.columns.map(col): _*))).as[(String, String)]
        .collect().toMap
      assert(BatchCollector.docs().toMap == want)
    }
  }

  test("the UTF-8 check accepts exactly what UTF8String.isValid accepts") {
    val buf = new Array[Byte](16)
    def same(len: Int): Unit = {
      // offset 1, so the check reads from the string's own base offset
      val s = UTF8String.fromBytes(buf, 1, len)
      if (Utf8.wellFormed(s) != s.isValid)
        fail(s"${hex(java.util.Arrays.copyOfRange(buf, 1, 1 + len))}: isValid=${s.isValid}")
    }
    var cases = 0L
    for (a <- 0 until 256; b <- 0 until 256) {
      buf(1) = a.toByte; buf(2) = b.toByte
      same(2); cases += 1
    }
    // a 7-byte ASCII prefix puts the lead last in the first 8-byte word
    System.arraycopy(ascii7, 0, buf, 1, 7)
    for (lead <- 0xC0 until 256; c1 <- 0 until 256; c2 <- 0 until 256) {
      buf(8) = lead.toByte; buf(9) = c1.toByte; buf(10) = c2.toByte; buf(11) = 0x80.toByte
      same(10); same(11); cases += 2
    }
    val rnd = new scala.util.Random(11)
    val pool = Array(0x00, 0x41, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xC1, 0xC2, 0xDF,
      0xE0, 0xE1, 0xED, 0xEE, 0xEF, 0xF0, 0xF1, 0xF4, 0xF5, 0xFF)
    for (_ <- 0 until 1000000) {
      val len = rnd.nextInt(buf.length - 1)
      var k = 1
      while (k <= len) {
        buf(k) = (rnd.nextInt(3) match {
          case 0 => 0x20 + rnd.nextInt(0x5F)
          case 1 => pool(rnd.nextInt(pool.length))
          case _ => rnd.nextInt(256)
        }).toByte
        k += 1
      }
      same(len); cases += 1
    }
    assert(cases == 65536L + 64L * 65536L * 2 + 1000000L)
  }
}
