package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive digest of a query result: the row count and the
  * sum (mod 2^64) of the first 8 bytes of each row's MD5, over a
  * canonical text form of the row with columns sorted by name. The same
  * canonical form is computed from DuckDB's oracle results in
  * `make_expected.py`, so one number compares a Spark result with its
  * oracle the way `tools/local_verify.py` does (rows sorted, values
  * equal, NaN treated as null, integral floats equal to integers).
  */
case class Digest(columns: Seq[String], rows: Long, sum: Long) {
  def hex: String = java.lang.Long.toHexString(sum)
}

object Digest {
  val Sep = '\u0001'

  /** Canonical token of one value, appended to `sb`. */
  def token(g: SpecializedGetters, i: Int, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (g.isNullAt(i)) sb.append('N')
    else t match {
      case BooleanType => sb.append(if (g.getBoolean(i)) '1' else '0')
      case ByteType => sb.append(g.getByte(i).toLong)
      case ShortType => sb.append(g.getShort(i).toLong)
      case IntegerType => sb.append(g.getInt(i).toLong)
      case LongType => sb.append(g.getLong(i))
      case FloatType => number(g.getFloat(i).toDouble, sb)
      case DoubleType => number(g.getDouble(i), sb)
      case d: DecimalType => number(g.getDecimal(i, d.precision, d.scale).toDouble, sb)
      case StringType | _: StringType => sb.append('s').append(g.getUTF8String(i).toString)
      case BinaryType =>
        sb.append('b'); g.getBinary(i).foreach(b => sb.append(Integer.toHexString((b & 0xff) | 0x100), 1, 3))
      case DateType => sb.append('t').append(g.getInt(i).toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append('t').append(g.getLong(i))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        var k = 0
        while (k < a.numElements()) {
          if (k > 0) sb.append(',')
          token(a, k, et, sb); k += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        sb.append('{')
        st.fields.indices.foreach { k =>
          if (k > 0) sb.append(',')
          token(r, k, st.fields(k).dataType, sb)
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(s"no digest form for $other")
    }

  /** Integral values (within ±2^63) print as integers, so 3.0 == 3 as
    * in Python; NaN is null; other values print their IEEE-754 bits. */
  def number(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append('N')
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.2e18) sb.append(d.toLong)
    else sb.append('x').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))

  def rowHash(md: MessageDigest, text: String): Long = {
    val h = md.digest(text.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
    v
  }

  /** Finished digests by sink `id`, filled when a write commits. */
  val results: TrieMap[String, Digest] = TrieMap.empty
}

/** `df.write.format("perfbench.DigestSink").option("id", name)
  * .mode("overwrite").save()`: a sink shaped like Spark's `noop` sink
  * (same write node, same capabilities) that digests the rows it is
  * handed instead of dropping them.
  */
class DigestSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "perfbench-digest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestTable(properties.get("id"))
}

class DigestTable(id: String) extends Table with SupportsWrite {
  override def name(): String = s"perfbench-digest:$id"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(id, info.schema())
      }
    }
}

case class DigestPart(rows: Long, sum: Long) extends WriterCommitMessage

class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: DigestPart => p }
    Digest.results.put(id, Digest(schema.fieldNames.toSeq.sorted,
      parts.map(_.rows).sum, parts.map(_.sum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
      private val md = MessageDigest.getInstance("MD5")
      private val sb = new java.lang.StringBuilder
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = {
        sb.setLength(0)
        var k = 0
        while (k < order.length) {
          if (k > 0) sb.append(Digest.Sep)
          Digest.token(r, order(k), schema.fields(order(k)).dataType, sb)
          k += 1
        }
        sum += Digest.rowHash(md, sb.toString)
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestPart(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
