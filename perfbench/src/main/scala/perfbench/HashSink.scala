package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** A write target shaped like Spark's `noop` format (a DataSource V2
  * batch write that accepts any schema and keeps nothing) that also
  * computes an order-insensitive hash of the rows it is handed.  Forcing
  * a query through it costs what `noop` costs plus the hashing, and
  * yields the value the registry check compares.
  *
  * `df.write.format(HashSink.Format).mode("overwrite").option("key", k).save()`
  * then `HashSink.take(k)` gives (rows, hash).
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = HashSink.table
}

object HashSink {
  val Format: String = classOf[HashSink].getName
  private val results = new ConcurrentHashMap[String, (Long, String)]()

  def take(key: String): (Long, String) = results.remove(key)

  private val table: Table = new Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = Set(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new HashBatch(info.schema(), info.options().get("key"))
        }
      }
  }

  private final case class Part(rows: Long, sum: Long, mixSum: Long) extends WriterCommitMessage

  private final class HashBatch(schema: StructType, key: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      val rows = parts.map(_.rows).sum
      val h = parts.map(_.sum).sum ^ java.lang.Long.rotateLeft(parts.map(_.mixSum).sum, 17)
      results.put(key, (rows, f"$h%016x"))
      ()
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows, sum, mixSum = 0L
        override def write(r: InternalRow): Unit = {
          val h = RowHash.row(r, schema)
          rows += 1; sum += h; mixSum += Corpus.mix(h)
        }
        override def commit(): WriterCommitMessage = Part(rows, sum, mixSum)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}

/** Value hashing for the registry check.  Floating-point values are
  * rounded to 12 significant digits first, so a last-bit difference from
  * a changed summation order does not read as a wrong answer; map
  * entries are combined order-insensitively.
  */
object RowHash {
  private val Seed = 42L

  private def str(s: String, h: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
  }

  private def double(d: Double, h: Long): Long =
    if (d.isNaN || d.isInfinite) XXH64.hashLong(java.lang.Double.doubleToLongBits(d), h)
    else str(new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      .stripTrailingZeros.toPlainString, h)

  def value(v: Any, t: DataType, h: Long): Long = if (v == null) XXH64.hashInt(-1, h) else t match {
    case BooleanType => XXH64.hashInt(if (v.asInstanceOf[Boolean]) 1 else 0, h)
    case ByteType => XXH64.hashLong(v.asInstanceOf[Byte].toLong, h)
    case ShortType => XXH64.hashLong(v.asInstanceOf[Short].toLong, h)
    case IntegerType | DateType => XXH64.hashLong(v.asInstanceOf[Int].toLong, h)
    case LongType | TimestampType | TimestampNTZType => XXH64.hashLong(v.asInstanceOf[Long], h)
    case FloatType => double(v.asInstanceOf[Float].toDouble, h)
    case DoubleType => double(v.asInstanceOf[Double], h)
    case _: DecimalType =>
      str(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toPlainString, h)
    case _: StringType => str(v.toString, h)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements).foldLeft(XXH64.hashInt(a.numElements, h)) { (acc, i) =>
        value(if (a.isNullAt(i)) null else a.get(i, et), et, acc)
      }
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray, m.valueArray)
      val entries = (0 until m.numElements).map { i =>
        value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt, value(ks.get(i, kt), kt, Seed))
      }.sum
      XXH64.hashLong(entries, h)
    case st: StructType => row(v.asInstanceOf[InternalRow], st, h)
    case _ => str(v.toString, h)
  }

  def row(r: InternalRow, schema: StructType, h0: Long = Seed): Long =
    schema.fields.indices.foldLeft(h0) { (h, i) =>
      val t = schema.fields(i).dataType
      value(if (r.isNullAt(i)) null else r.get(i, t), t, h)
    }
}
