package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A document's JSON written straight from Catalyst data into UTF-8
  * bytes: STRUCT → STRING, the exact bytes `to_json` writes for it,
  * with no `String`, no Jackson generator and no char buffer.
  *
  *  - Struct fields in schema order; each field's `"name":` prefix is
  *    encoded once per expression.  A null struct field is omitted when
  *    `ignoreNullFields` (`spark.sql.jsonGenerator.ignoreNullFields`,
  *    read when the column is built), written as `null` otherwise.
  *  - A null map value or array element is written as `null`.
  *  - Strings: `"` and `\` escaped, control bytes as `\b \t \f \n \r`
  *    or `\u00XX` (uppercase hex), everything else copied raw
  *    (non-ASCII, DEL, `/`, U+2028).  A string that is not well-formed
  *    UTF-8 is written from its decoded `String`, whose U+FFFD
  *    replacements are what `to_json` writes.
  *
  * Leaves are strings only, under structs, arrays and string-keyed
  * maps ([[DocJson.covers]]); [[DocJson.column]] keeps `to_json` for
  * any other frame.
  */
case class DocJson(child: Expression, ignoreNullFields: Boolean) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_doc_json"

  @transient private lazy val writer =
    new StructJson(child.dataType.asInstanceOf[StructType], ignoreNullFields)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StructType] && DocJson.covers(child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRUCT of string leaves, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    DocJson.compute(writer, input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("docJson", writer)
    defineCodeGen(ctx, ev, c => s"graft.functions.DocJson.compute($w, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocJson {

  /** A thread's buffer is dropped after a document that grew it past this. */
  private val MaxKeptBytes = 1 << 20

  private val buffers = ThreadLocal.withInitial[JsonBuffer](() => new JsonBuffer)

  /** Whether the writer covers every leaf of `dt`. */
  def covers(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.forall(f => covers(f.dataType))
    case ArrayType(e, _) => covers(e)
    case MapType(k, v, _) => k == StringType && covers(v)
    case t => t == StringType
  }

  /** Each row of `df` as one JSON document, every column in order:
    * `to_json(struct(...))`'s bytes, from this writer when it covers
    * the schema and from `to_json` otherwise (the only path that
    * renders numbers, dates and timestamps).
    */
  def column(df: DataFrame): Column = {
    val all = struct(df.columns.map(col): _*)
    if (!covers(df.schema)) to_json(all)
    else ColumnBridge.column(DocJson(ColumnBridge.expression(all),
      df.sparkSession.conf.get(SQLConf.JSON_GENERATOR_IGNORE_NULL_FIELDS.key).toBoolean))
  }

  /** Write one document.  Static so generated code calls straight into
    * compiled Scala.
    */
  def compute(writer: StructJson, row: InternalRow): UTF8String = {
    val out = buffers.get()
    out.pos = 0
    writer.writeRow(out, row)
    val doc = UTF8String.fromBytes(java.util.Arrays.copyOf(out.buf, out.pos))
    if (out.buf.length > MaxKeptBytes) buffers.set(new JsonBuffer)
    doc
  }
}

/** A growable byte buffer the JSON is written into. */
final class JsonBuffer {
  var buf = new Array[Byte](4096)
  var pos = 0

  /** Room for `n` more bytes. */
  def reserve(n: Int): Unit =
    if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  def byte(b: Int): Unit = { reserve(1); buf(pos) = b.toByte; pos += 1 }

  def bytes(a: Array[Byte]): Unit = {
    reserve(a.length)
    System.arraycopy(a, 0, buf, pos, a.length)
    pos += a.length
  }

  /** `s` as a JSON string literal. */
  def string(s: UTF8String): Unit = {
    val start = pos
    if (!quoted(s)) {
      pos = start
      quoted(UTF8String.fromString(s.toString))
    }
  }

  private def quoted(s: UTF8String): Boolean = {
    reserve(s.numBytes + 2)
    buf(pos) = '"'
    pos += 1
    val ok = Utf8.scan(s.getBaseObject, s.getBaseOffset, s.numBytes, this)
    if (ok) byte('"')
    ok
  }

  /** One ASCII byte `b` that JSON escapes; `rest` input bytes follow it. */
  private[functions] def escape(b: Int, rest: Int): Unit = {
    reserve(6 + rest)
    buf(pos) = '\\'
    val c = b match {
      case '"' => '"'
      case '\\' => '\\'
      case 0x08 => 'b'
      case 0x09 => 't'
      case 0x0A => 'n'
      case 0x0C => 'f'
      case 0x0D => 'r'
      case _ => 'u'
    }
    buf(pos + 1) = c.toByte
    if (c != 'u') pos += 2
    else {
      buf(pos + 2) = '0'
      buf(pos + 3) = '0'
      buf(pos + 4) = JsonBuffer.Hex(b >> 4)
      buf(pos + 5) = JsonBuffer.Hex(b & 0xF)
      pos += 6
    }
  }
}

private object JsonBuffer {
  val Hex: Array[Byte] = "0123456789ABCDEF".getBytes("US-ASCII")
}

/** The one UTF-8 scan: well-formedness by the Unicode table of
  * well-formed byte sequences (what `UTF8String.isValid` accepts),
  * optionally writing the bytes out JSON-escaped in the same pass.
  */
object Utf8 {
  private final val Hi = 0x8080808080808080L
  private final val Ones = 0x0101010101010101L

  /** Whether `s` is well-formed UTF-8. */
  def wellFormed(s: UTF8String): Boolean =
    scan(s.getBaseObject, s.getBaseOffset, s.numBytes, null)

  /** Scan `n` bytes at `base`/`off`; false at the first byte that does
    * not start a well-formed sequence.  With `out`, each byte is also
    * written to it, JSON-escaped; `out` has room for the `n` bytes.
    */
  private[functions] def scan(base: AnyRef, off: Long, n: Int, out: JsonBuffer): Boolean = {
    var i = 0
    while (i < n) {
      // 8 bytes at a time while none is non-ASCII or needs escaping
      val w = if (n - i >= 8) Platform.getLong(base, off + i) else Hi
      if ((w & Hi) == 0 && (out == null || plain(w))) {
        if (out != null) {
          Platform.putLong(out.buf, Platform.BYTE_ARRAY_OFFSET + out.pos, w)
          out.pos += 8
        }
        i += 8
      } else {
        val b = Platform.getByte(base, off + i) & 0xFF
        if (b < 0x80) {
          if (out != null) {
            if (b < 0x20 || b == '"' || b == '\\') out.escape(b, n - i - 1)
            else { out.buf(out.pos) = b.toByte; out.pos += 1 }
          }
          i += 1
        } else {
          val len = sequence(base, off + i, n - i, b)
          if (len == 0) return false
          if (out != null) {
            var k = 0
            while (k < len) { out.buf(out.pos + k) = Platform.getByte(base, off + i + k); k += 1 }
            out.pos += len
          }
          i += len
        }
      }
    }
    true
  }

  /** No byte of an ASCII word is a control byte, `"` or `\`: with no
    * high bit set, a byte's subtraction sets its high bit exactly when
    * it (or a lower byte) is below the subtrahend.
    */
  private def plain(w: Long): Boolean =
    (((w - 0x2020202020202020L) | ((w ^ 0x2222222222222222L) - Ones) |
      ((w ^ 0x5C5C5C5C5C5C5C5CL) - Ones)) & Hi) == 0

  /** The length of the well-formed sequence led by `b` (≥ 0x80) at
    * `at`, with `left` bytes left; 0 when it is not well-formed.
    */
  private def sequence(base: AnyRef, at: Long, left: Int, b: Int): Int = {
    val len = if (b < 0xC2) 0 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else if (b < 0xF5) 4 else 0
    if (len == 0 || len > left) return 0
    val c = Platform.getByte(base, at + 1) & 0xFF
    val lo = if (b == 0xE0) 0xA0 else if (b == 0xF0) 0x90 else 0x80
    val hi = if (b == 0xED) 0x9F else if (b == 0xF4) 0x8F else 0xBF
    if (c < lo || c > hi) return 0
    var k = 2
    while (k < len) {
      if ((Platform.getByte(base, at + k) & 0xC0) != 0x80) return 0
      k += 1
    }
    len
  }
}

/** A JSON writer for one value of a covered type. */
sealed abstract class JsonWriter extends Serializable {
  def write(out: JsonBuffer, d: SpecializedGetters, i: Int): Unit
}

private object JsonWriter {
  val Null: Array[Byte] = "null".getBytes("US-ASCII")

  def apply(dt: DataType, ignoreNullFields: Boolean): JsonWriter = dt match {
    case s: StructType => new StructJson(s, ignoreNullFields)
    case ArrayType(e, _) => new ArrayJson(JsonWriter(e, ignoreNullFields))
    case MapType(_, v, _) => new MapJson(JsonWriter(v, ignoreNullFields))
    case _ => StringJson
  }

  /** `"name":` as to_json writes a field name. */
  def name(s: String): Array[Byte] = {
    val out = new JsonBuffer
    out.string(UTF8String.fromString(s))
    out.byte(':')
    java.util.Arrays.copyOf(out.buf, out.pos)
  }
}

object StringJson extends JsonWriter {
  override def write(out: JsonBuffer, d: SpecializedGetters, i: Int): Unit =
    out.string(d.getUTF8String(i))
}

final class StructJson(schema: StructType, ignoreNullFields: Boolean) extends JsonWriter {
  private val names = schema.fields.map(f => JsonWriter.name(f.name))
  private val fields = schema.fields.map(f => JsonWriter(f.dataType, ignoreNullFields))

  override def write(out: JsonBuffer, d: SpecializedGetters, i: Int): Unit =
    writeRow(out, d.getStruct(i, fields.length))

  def writeRow(out: JsonBuffer, row: InternalRow): Unit = {
    out.byte('{')
    var first = true
    var k = 0
    while (k < fields.length) {
      val isNull = row.isNullAt(k)
      if (!isNull || !ignoreNullFields) {
        if (!first) out.byte(',')
        first = false
        out.bytes(names(k))
        if (isNull) out.bytes(JsonWriter.Null) else fields(k).write(out, row, k)
      }
      k += 1
    }
    out.byte('}')
  }
}

final class ArrayJson(element: JsonWriter) extends JsonWriter {
  override def write(out: JsonBuffer, d: SpecializedGetters, i: Int): Unit = {
    val a = d.getArray(i)
    out.byte('[')
    var k = 0
    while (k < a.numElements()) {
      if (k > 0) out.byte(',')
      if (a.isNullAt(k)) out.bytes(JsonWriter.Null) else element.write(out, a, k)
      k += 1
    }
    out.byte(']')
  }
}

final class MapJson(value: JsonWriter) extends JsonWriter {
  override def write(out: JsonBuffer, d: SpecializedGetters, i: Int): Unit = {
    val m = d.getMap(i)
    val keys = m.keyArray()
    val values = m.valueArray()
    out.byte('{')
    var k = 0
    while (k < m.numElements()) {
      if (k > 0) out.byte(',')
      out.string(keys.getUTF8String(k))
      out.byte(':')
      if (values.isNullAt(k)) out.bytes(JsonWriter.Null) else value.write(out, values, k)
      k += 1
    }
    out.byte('}')
  }
}
