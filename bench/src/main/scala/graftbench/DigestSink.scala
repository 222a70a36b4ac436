package graftbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `noop` sink plus an order-insensitive digest of what it consumed.
  *
  * Saving a frame here runs the V2 write of every row that `format("noop")`
  * runs, in one job, and also folds each row into (row count, sum of row
  * hashes) on the executors; the hashing is part of the timed op. The
  * result lands in [[DigestSink.results]] under the `id` write option.
  * Doubles hash at float precision, so a last-bit difference in a shuffled
  * floating sum does not read as a wrong answer.
  */
class DigestSink extends TableProvider {
  override def inferSchema(o: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, p: Array[Transform],
                        props: util.Map[String, String]): Table = DigestTable
  override def supportsExternalMetadata(): Boolean = true
}

object DigestSink {
  final case class Digest(rows: Long, hash: Long)
  val results = new java.util.concurrent.ConcurrentHashMap[String, Digest]()

  def mix(h: Long): Long = {
    var x = h * 0x9E3779B97F4A7C15L
    x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^ (x >>> 29)
  }

  def hashValue(v: Any, dt: DataType): Long = if (v == null) 0x5bd1e995L else dt match {
    case DoubleType => java.lang.Float.floatToIntBits(normal(v.asInstanceOf[Double]).toFloat)
    case FloatType => java.lang.Float.floatToIntBits(normal(v.asInstanceOf[Float].toDouble).toFloat)
    case _: DecimalType =>
      v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros().hashCode
    case StringType => v.asInstanceOf[UTF8String].hashCode
    case BinaryType => util.Arrays.hashCode(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).foldLeft(17L) { (h, i) =>
        mix(h * 31 + hashValue(if (a.isNullAt(i)) null else a.get(i, et), et)) }
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      (0 until m.numElements()).map { i =>
        mix(hashValue(m.keyArray().get(i, kt), kt) * 31 +
          hashValue(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt))
      }.sum
    case st: StructType => hashRow(v.asInstanceOf[InternalRow], st)
    case _ => v.hashCode.toLong
  }

  private def normal(d: Double): Double = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d

  def hashRow(r: InternalRow, schema: StructType): Long =
    schema.fields.indices.foldLeft(23L) { (h, i) =>
      val dt = schema.fields(i).dataType
      mix(h * 31 + hashValue(if (r.isNullAt(i)) null else r.get(i, dt), dt))
    }
}

private object DigestTable extends Table with SupportsWrite {
  override def name(): String = "digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DigestBatch(info.options().get("id"), info.schema())
      }
    }
}

private final case class PartDigest(rows: Long, hash: Long) extends WriterCommitMessage

private final class DigestBatch(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartDigest => p }
    DigestSink.results.put(id,
      DigestSink.Digest(parts.map(_.rows).sum, parts.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1; hash += DigestSink.hashRow(r, schema)
      }
      override def commit(): WriterCommitMessage = PartDigest(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
