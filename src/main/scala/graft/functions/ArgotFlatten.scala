package graft.functions

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.functions.coalesce
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.VectorMap
import scala.util.control.NonFatal

/** Native flatten + suffix transform for Argot-style JSON records
  * (reference O7).
  *
  * The reference delegates this to the external `argot ingest` Ruby gem
  * (/root/reference/ingest/ingest.go:29-31; /root/reference/README.md:99-103
  * "flattens and suffixes the Argot records ... and then submits the
  * results to Solr").  The gem's exact byte-level behavior is not
  * recoverable from the reference repo (SURVEY.md §7.3), so the engine
  * defines its own precise spec, kept in-JVM so the transform runs
  * inside Spark tasks with no subprocess:
  *
  *  - Nested object keys are joined with '_' (`{"a":{"b":1}}` → key `a_b`).
  *  - Arrays are multi-valued: elements of the same type land in the
  *    same key's value list, in document order; arrays of objects
  *    recurse with the same parent path.
  *  - Every leaf is rendered as text: strings verbatim, numbers in
  *    Jackson's canonical text form (`1e3` → "1000.0", `1.50` → "1.5" —
  *    NOT the raw source bytes), booleans `true`/`false`; nulls dropped.
  *  - Solr-dynamic-field suffix typing: `_t` string, `_i` integral,
  *    `_f` fractional, `_b` boolean, appended to the flattened key.
  *    Each element is keyed by its OWN type suffix, so a mixed-type
  *    array fans out into sibling keys (`{"a":[1,"x"]}` → `a_i:["1"],
  *    a_t:["x"]`).
  *  - Duplicate keys in one object are last-wins, as Jackson's
  *    `readTree` resolves them: the last value, at the first key's
  *    position.
  *  - Map entries come out in first-seen document order.
  *
  * Output is `map<string, array<string>>` — the shape Solr dynamic
  * fields expect and what the chunked sink serializes back to NDJSON.
  *
  * All forms run one kernel, [[ParseFlatten]], a Catalyst expression
  * that streams the content's UTF-8 bytes through a Jackson
  * `JsonParser` straight into Catalyst map data.  Pipelines parse each
  * record once: [[parseFlatten]] returns the failure reason and the
  * flat map from one pass, so the reindex job can cache that struct and
  * serve both the sink and its soft-error count from it.
  * [[flattenArgot]] and [[parseError]] are the single-purpose column
  * forms, [[flattenEither]] and [[flatten]] the driver-side ones.
  */
object ArgotFlatten {

  private val FlatType = MapType(StringType, ArrayType(StringType, containsNull = false),
    valueContainsNull = false)

  /** `struct<err: string, flat: map<string, array<string>>>`. */
  private[functions] val ParsedType: StructType = StructType(Seq(
    StructField("err", StringType), StructField("flat", FlatType)))

  /** Pure flatten: JSON text → flat multi-valued map.  Invalid JSON or
    * non-object roots yield an empty map; callers that must count such
    * soft errors use [[flattenEither]] or [[parseFlatten]].
    */
  def flatten(json: String): Map[String, Seq[String]] =
    flattenEither(json).getOrElse(Map.empty)

  /** Flatten with parse failures surfaced: Left(reason) for malformed
    * JSON or a non-object root, so pipelines can count soft errors
    * exactly (reference bug B10's fix needs exact counts, not a lossy
    * channel).  A null/empty input is NOT an error — the reference's
    * source can legitimately hand over empty content.
    */
  def flattenEither(json: String): Either[String, Map[String, Seq[String]]] = {
    val row = ParseFlatten.compute(if (json == null) null else UTF8String.fromString(json))
    if (!row.isNullAt(0)) Left(row.getUTF8String(0).toString)
    else {
      val m = row.getMap(1)
      Right(VectorMap.from((0 until m.numElements()).map { i =>
        m.keyArray().getUTF8String(i).toString ->
          m.valueArray().getArray(i).toObjectArray(StringType).toSeq.map(_.toString)
      }))
    }
  }

  /** Column form for DataFrame pipelines:
    * `df.withColumn("flat", ArgotFlatten.flattenArgot($"content"))`;
    * content that fails to parse gives an empty map.
    */
  val flattenArgot: Column => Column = (c: Column) =>
    coalesce(parseFlatten(c).getField("flat"),
      ColumnBridge.column(Literal.create(ParseFlatten.emptyMap, FlatType)))

  /** Parse-failure reason column: null when the content flattens
    * cleanly, the reason text otherwise.  Lets callers count soft
    * errors with an ordinary (exact, deterministic) aggregation —
    * accumulators inside transformations over-count whenever the plan
    * evaluates rows more than once (e.g. range-partition sampling
    * before a chunked write), so they are kept for diagnostics only.
    */
  val parseError: Column => Column = (c: Column) => parseFlatten(c).getField("err")

  /** Both of the above from one parse:
    * `struct<err: string, flat: map<string, array<string>>>`, exactly
    * one field null.  Split the struct after a plan boundary (a
    * persist) when both fields are read.
    */
  val parseFlatten: Column => Column = (c: Column) =>
    ColumnBridge.column(ParseFlatten(ColumnBridge.expression(c)))
}

/** The flatten kernel: STRING content → [[ArgotFlatten.ParsedType]].
  * Never null: null or empty content gives an empty map.
  */
case class ParseFlatten(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArgotFlatten.ParsedType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_parse_flatten"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any =
    ParseFlatten.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ParseFlatten.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ParseFlatten {

  private val mapper = new ObjectMapper()

  /** A thread's path cache is dropped and rebuilt once it holds more
    * edges than this, checked between documents.
    */
  private[graft] val MaxEdges = 4096

  private val caches = ThreadLocal.withInitial[PathCache](() => new PathCache)

  private[functions] def emptyMap: MapData =
    new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))

  /** The calling thread's path cache size in edges, for tests. */
  private[graft] def cachedEdges: Int = caches.get().edges

  /** Flatten one document.  Static so generated code calls straight
    * into compiled Scala.
    *
    * The fast path streams the bytes once.  Anything it does not handle
    * — a parse failure (for the exact Jackson message), a non-object
    * root, a duplicate key, bytes the byte parser would decode
    * differently from the `String` form — is redone from the `String`
    * through `readTree`, which defines the contract.
    */
  def compute(text: UTF8String): InternalRow = {
    if (text == null || text.numBytes == 0) return parsed(null, emptyMap)
    var cache = caches.get()
    if (cache.edges > MaxEdges) { cache = new PathCache; caches.set(cache) }
    if (streamable(text)) {
      try return parsed(null, cache.stream(text))
      catch { case NonFatal(_) => () }
    }
    val json = text.toString
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => return parsed(s"malformed JSON: ${e.getMessage}", null) }
    if (!root.isObject) parsed(s"root is ${root.getNodeType}, not an object", null)
    else parsed(null, cache.tree(root))
  }

  private def parsed(err: String, flat: MapData): InternalRow =
    new GenericInternalRow(Array[Any](if (err == null) null else UTF8String.fromString(err), flat))

  /** An object root in well-formed UTF-8.  The byte parser sniffs the
    * encoding from the first bytes: a zero second byte would read as
    * UTF-16 or UTF-32, which the `String` form never does.
    */
  private def streamable(text: UTF8String): Boolean =
    text.getByte(0) == '{' && (text.numBytes < 2 || text.getByte(1) != 0) && Utf8.wellFormed(text)

  private def parser(text: UTF8String): JsonParser = text.getBaseObject match {
    case a: Array[Byte] =>
      mapper.getFactory.createParser(a, (text.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, text.numBytes)
    case _ => mapper.getFactory.createParser(text.getBytes)
  }

  // leaf kinds: the index into a node's slots and into Suffixes
  private final val T = 0
  private final val I = 1
  private final val F = 2
  private final val B = 3
  private val Suffixes = Array("_t", "_i", "_f", "_b")
  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")

  /** Control flow out of the fast path, to the `readTree` path. */
  private object Fallback extends Exception(null, null, false, false)

  /** One flattened key, with this document's values. */
  private final class Slot(val key: UTF8String) {
    var doc = 0L
    var n = 0
    var values = new Array[Any](4)
    def add(v: Any): Unit = {
      if (n == values.length) {
        val grown = new Array[Any](n * 2)
        System.arraycopy(values, 0, grown, 0, n)
        values = grown
      }
      values(n) = v
      n += 1
    }
  }

  /** A field name's target under its parent object.  `stamp` is the
    * last object instance that named it, so a second sighting in the
    * same instance is a duplicate key.
    */
  private final class Edge(val node: Node) { var stamp = 0L }

  /** One key prefix (`a_b`): its children by field name and its four
    * typed leaf keys, each built once.
    */
  private final class Node(val prefix: String) {
    val children = new java.util.HashMap[String, Edge](8)
    val slots = new Array[Slot](4)
    def slot(kind: Int): Slot = {
      var s = slots(kind)
      if (s == null) { s = new Slot(UTF8String.fromString(prefix + Suffixes(kind))); slots(kind) = s }
      s
    }
  }

  /** A thread's flatten state: every key prefix seen so far, found by
    * walking field names from the root, so each field costs one hash
    * lookup on Jackson's canonical field-name string (its hash code is
    * cached) — no key concatenation and no map rebuild.
    * Field paths that join to one key (`{"a":{"b":1},"a_b":2}`) share
    * one node, so their values merge into one list.
    */
  private final class PathCache {
    private val byPrefix = new java.util.HashMap[String, Node]()
    private val root = node("")
    private val touched = new java.util.ArrayList[Slot]()
    private var doc = 0L
    private var instances = 0L
    var edges = 0

    private def node(prefix: String): Node = {
      var n = byPrefix.get(prefix)
      if (n == null) { n = new Node(prefix); byPrefix.put(prefix, n) }
      n
    }

    private def edge(parent: Node, name: String): Edge = {
      var e = parent.children.get(name)
      if (e == null) {
        e = new Edge(node(if (parent.prefix.isEmpty) name else parent.prefix + "_" + name))
        parent.children.put(name, e)
        edges += 1
      }
      e
    }

    private def emit(n: Node, kind: Int, v: UTF8String): Unit = {
      val s = n.slot(kind)
      if (s.doc != doc) { s.doc = doc; s.n = 0; touched.add(s) }
      s.add(v)
    }

    private def begin(): Unit = { doc += 1; touched.clear() }

    /** The touched keys in first-seen order; releases the values. */
    private def result(): MapData = {
      val k = touched.size
      val keys = new Array[Any](k)
      val vals = new Array[Any](k)
      var i = 0
      while (i < k) {
        val s = touched.get(i)
        keys(i) = s.key
        val v = new Array[Any](s.n)
        System.arraycopy(s.values, 0, v, 0, s.n)
        vals(i) = new GenericArrayData(v)
        java.util.Arrays.fill(s.values.asInstanceOf[Array[AnyRef]], 0, s.n, null)
        i += 1
      }
      touched.clear()
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    }

    /** The fast path: one streaming pass over an object root. */
    def stream(text: UTF8String): MapData = {
      begin()
      val p = parser(text)
      try {
        p.nextToken() // the root's START_OBJECT
        readObject(p, root)
      } finally p.close()
      result()
    }

    private def readObject(p: JsonParser, n: Node): Unit = {
      instances += 1
      val instance = instances
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        // an empty name under the root joins to the root's own prefix:
        // the duplicate check below would miss a root key repeated
        // around it
        if (name.isEmpty && n.prefix.isEmpty) throw Fallback
        val e = edge(n, name)
        if (e.stamp == instance) throw Fallback
        e.stamp = instance
        readValue(p, e.node, p.nextToken())
        t = p.nextToken()
      }
    }

    // number text is the text of the node `readTree` builds for it
    private def readValue(p: JsonParser, n: Node, t: JsonToken): Unit = t match {
      case JsonToken.START_OBJECT => readObject(p, n)
      case JsonToken.START_ARRAY =>
        var e = p.nextToken()
        while (e != JsonToken.END_ARRAY) { readValue(p, n, e); e = p.nextToken() }
      case JsonToken.VALUE_STRING => emit(n, T, UTF8String.fromString(p.getText))
      case JsonToken.VALUE_NUMBER_INT =>
        val s = p.getNumberType match {
          case JsonParser.NumberType.INT => Integer.toString(p.getIntValue)
          case JsonParser.NumberType.LONG => java.lang.Long.toString(p.getLongValue)
          case _ => p.getBigIntegerValue.toString
        }
        emit(n, I, UTF8String.fromString(s))
      case JsonToken.VALUE_NUMBER_FLOAT =>
        emit(n, F, UTF8String.fromString(java.lang.Double.toString(p.getDoubleValue)))
      case JsonToken.VALUE_TRUE => emit(n, B, True)
      case JsonToken.VALUE_FALSE => emit(n, B, False)
      case JsonToken.VALUE_NULL => ()
      case _ => throw Fallback
    }

    /** The `readTree` path: the same nodes, walked over the tree. */
    def tree(rootNode: JsonNode): MapData = {
      begin()
      def walk(n: Node, j: JsonNode): Unit =
        if (j.isObject) {
          val it = j.properties().iterator()
          while (it.hasNext) { val f = it.next(); walk(edge(n, f.getKey).node, f.getValue) }
        } else if (j.isArray) {
          val it = j.elements()
          while (it.hasNext) walk(n, it.next())
        } else if (!j.isNull) {
          val kind =
            if (j.isTextual) T else if (j.isIntegralNumber) I else if (j.isNumber) F
            else if (j.isBoolean) B else T
          emit(n, kind, UTF8String.fromString(j.asText))
        }
      walk(root, rootNode)
      result()
    }
  }
}
