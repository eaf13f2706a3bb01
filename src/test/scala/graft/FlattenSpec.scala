package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.functions.ArgotFlatten.{flatten, flattenEither}
import graft.functions.ParseFlatten
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Flatten + suffix transform (O7) — the spec the reference delegates
  * to the external argot gem, pinned here by tests (SURVEY.md §7.3:
  * byte-parity with the gem is unprovable from the reference repo, so
  * the engine's flatten contract is defined and property-tested here).
  */
class FlattenSpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  test("scalar types get Solr dynamic-field suffixes") {
    val m = flatten("""{"title":"abc","count":3,"score":1.5,"ok":true}""")
    assert(m == Map(
      "title_t" -> Seq("abc"),
      "count_i" -> Seq("3"),
      "score_f" -> Seq("1.5"),
      "ok_b" -> Seq("true")))
  }

  test("nested objects join keys with underscore") {
    val m = flatten("""{"a":{"b":{"c":"x"}}}""")
    assert(m == Map("a_b_c_t" -> Seq("x")))
  }

  test("arrays are multi-valued in document order, objects recurse") {
    val m = flatten("""{"tags":["x","y"],"authors":[{"name":"a"},{"name":"b"}]}""")
    assert(m("tags_t") == Seq("x", "y"))
    assert(m("authors_name_t") == Seq("a", "b"))
  }

  test("nulls dropped; invalid JSON and non-objects yield empty maps") {
    assert(flatten("""{"a":null}""") == Map.empty)
    assert(flatten("{not json") == Map.empty)
    assert(flatten("[1,2]") == Map.empty)
    assert(flatten(null) == Map.empty)
  }

  private val keyGen: Gen[String] = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString
  private val flatObjGen: Gen[Map[String, String]] = for {
    n <- Gen.choose(0, 6)
    kvs <- Gen.listOfN(n, Gen.zip(keyGen, Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString)))
  } yield kvs.toMap

  test("property: flat string objects round-trip (every value preserved under key_t)") {
    checkProp(Prop.forAll(flatObjGen) { obj =>
      val json = obj.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      val flat = flatten(json)
      obj.forall { case (k, v) => flat.get(s"${k}_t").exists(_.contains(v)) }
    })
  }

  test("property: flatten never throws on arbitrary strings") {
    checkProp(Prop.forAll(Gen.asciiPrintableStr) { s => flatten(s); true })
  }

  test("keys come out in first-seen document order") {
    val m = flatten("""{"b":1,"a":{"c":"x","d":[2.5,true]},"b2":"y","a_c":"z"}""")
    assert(m.keys.toSeq == Seq("b_i", "a_c_t", "a_d_f", "a_d_b", "b2_t"))
    assert(m("a_c_t") == Seq("x", "z"))
  }

  // --- the streaming kernel against a tree flatten over Jackson's readTree

  private val mapper = new ObjectMapper()

  /** The tree flatten the kernel replaced: `readTree`, then a recursive
    * walk that concatenates keys per leaf.
    */
  private def reference(json: String): Either[String, Map[String, Seq[String]]] = {
    if (json == null || json.isEmpty) return Right(Map.empty)
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => return Left(s"malformed JSON: ${e.getMessage}") }
    if (root == null) return Right(Map.empty)
    if (!root.isObject) return Left(s"root is ${root.getNodeType}, not an object")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def suffixFor(n: JsonNode): String =
      if (n.isTextual) "_t" else if (n.isIntegralNumber) "_i" else if (n.isNumber) "_f"
      else if (n.isBoolean) "_b" else "_t"
    def walk(prefix: String, node: JsonNode): Unit =
      if (node.isObject) {
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          walk(if (prefix.isEmpty) e.getKey else s"${prefix}_${e.getKey}", e.getValue)
        }
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) walk(prefix, it.next())
      } else if (!node.isNull) {
        val k = prefix + suffixFor(node)
        out(k) = out.getOrElse(k, Vector.empty) :+ node.asText
      }
    walk("", root)
    Right(out.toMap)
  }

  // a small key pool, so objects repeat keys and paths join to one key
  // (`a` + `b` and `a_b`); "" joins to its parent's prefix
  private val keys = Gen.oneOf("a", "b", "a_b", "b_a", "", "x_", "é", "k\\u00e9", "a\\\"q")
  private val scalars: Gen[String] = Gen.oneOf(
    Gen.oneOf("0", "-0", "7", "-12", "2147483648", "-9223372036854775809",
      "123456789012345678901234567890", "1e3", "1.50", "-0.0", "1E-7", "2.5e+2", "1e400",
      "true", "false", "null", "\"\"", "\"x\"", "\"ünï 😀\"", "\"tab\\tq\\\"\"", "\"\\u00e9\\ud83d\\ude00\""),
    Gen.asciiPrintableStr.map(s => mapper.writeValueAsString(s.take(6))))
  private def value(depth: Int): Gen[String] =
    if (depth == 0) scalars
    else Gen.frequency(4 -> scalars, 2 -> array(depth - 1), 2 -> obj(depth - 1))
  private def array(depth: Int): Gen[String] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, value(depth))).map(_.mkString("[", ",", "]"))
  private def obj(depth: Int): Gen[String] =
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, Gen.zip(keys, value(depth))))
      .map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  private val documents: Gen[String] = Gen.frequency(
    10 -> obj(3),
    2 -> value(2), // non-object roots
    2 -> obj(3).flatMap(d => Gen.choose(0, d.length).map(d.take)), // truncated
    1 -> obj(2).flatMap(d => Gen.oneOf(" ", "}", " trailing", "{\"a\":1}", ",").map(d + _)),
    1 -> obj(2).map(" \n" + _),
    1 -> Gen.oneOf("", " ", " \t\n ", "null", "{not json", "abc", "{\"a\":}", "{\"a\" 1}", "\uFEFF{}"),
    1 -> Gen.asciiPrintableStr)

  test("property: the kernel equals the tree flatten (Left/Right, messages, keys, value lists)") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(documents) { d =>
        val (got, want) = (flattenEither(d), reference(d))
        Prop(got == want) :| s"doc: $d\n got: $got\nwant: $want"
      })
    assert(res.passed, res.status.toString)
  }

  test("duplicate keys are last-wins at the first key's position, as readTree resolves them") {
    for (d <- Seq("""{"a":1,"b":2,"a":3}""", """{"a":{"b":1},"a":{"c":2}}""",
        """{"a_b":0,"a":{"b":1},"a_b":5}""", """{"a":1,"":{"a":2},"a":3}""",
        """{"x":[{"a":1,"a":2},{"a":3}]}"""))
      assert(flattenEither(d) == reference(d), d)
    assert(flatten("""{"a":1,"b":2,"a":3}""").keys.toSeq == Seq("a_i", "b_i"))
  }

  test("bytes that are not well-formed UTF-8 flatten as their decoded String does") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val docs = Seq(
      "{\"a\":\"".getBytes ++ bytes(0xC0, 0xAF) ++ "\"}".getBytes, // overlong '/'
      "{\"a\":\"".getBytes ++ bytes(0xED, 0xA0, 0x80) ++ "\"}".getBytes, // a surrogate
      "{\"".getBytes ++ bytes(0xFF) ++ "\":1}".getBytes,
      bytes('{', 0, '}'))
    for (d <- docs) {
      val text = UTF8String.fromBytes(d)
      val row = ParseFlatten.compute(text)
      val got =
        if (!row.isNullAt(0)) Left(row.getUTF8String(0).toString)
        else {
          val m = row.getMap(1)
          Right((0 until m.numElements()).map(i => m.keyArray().getUTF8String(i).toString ->
            m.valueArray().getArray(i).toObjectArray(StringType).toSeq.map(_.toString)).toMap)
        }
      assert(got == reference(text.toString), text.toString)
    }
  }

  test("the path cache stays bounded after 10^5 distinct keys") {
    for (i <- 0 until 100000) {
      val m = flatten(s"""{"k$i":{"v":$i}}""")
      if (i % 9973 == 0) assert(m == Map(s"k${i}_v_i" -> Seq(i.toString)))
    }
    assert(ParseFlatten.cachedEdges <= ParseFlatten.MaxEdges + 2, ParseFlatten.cachedEdges)
  }
}
