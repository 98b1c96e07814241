package lakebench

import java.util.{EnumSet => JEnumSet, Map => JMap, Set => JSet}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-independent digest of a multiset of rows: the row count plus two
  * wrapping sums of per-row 64-bit hashes (the second over a mixed copy,
  * so one colliding sum does not decide equality). Addition commutes, so
  * any row order, partitioning or file layout gives the same digest. */
final case class RowDigest(rows: Long, sum1: Long, sum2: Long) {
  def +(o: RowDigest): RowDigest = RowDigest(rows + o.rows, sum1 + o.sum1, sum2 + o.sum2)
  def add(h: Long): RowDigest = RowDigest(rows + 1, sum1 + h, sum2 + RowDigest.mix(h))
  override def toString: String = f"$rows:$sum1%016x:$sum2%016x"
}

object RowDigest {
  val empty: RowDigest = RowDigest(0L, 0L, 0L)
  /** splitmix64 finalizer. */
  def mix(h0: Long): Long = {
    var h = h0 + 0x9E3779B97F4A7C15L
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }
  def of(hashes: Iterator[Long]): RowDigest = hashes.foldLeft(empty)(_ add _)
}

/** A write sink that, like Spark's `noop`, executes the whole plan and
  * keeps nothing, except an order-independent digest of the rows, so the
  * query's output can be checked without a second execution. */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new HashSink.SinkTable(properties.get("id"))
}

object HashSink {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, RowDigest]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Executes `df` into the sink and returns the digest of its rows. */
  def run(df: DataFrame): RowDigest = {
    val id = s"h${ids.incrementAndGet()}"
    df.write.format(classOf[HashSink].getName).option("id", id).mode("overwrite").save()
    Option(results.remove(id)).getOrElse(
      throw new IllegalStateException(s"hash sink $id committed no digest"))
  }

  final case class Part(d: RowDigest) extends WriterCommitMessage

  final class SinkTable(id: String) extends Table with SupportsWrite {
    override def name(): String = s"hash-sink-$id"
    override def schema(): StructType = new StructType()
    override def capabilities(): JSet[TableCapability] = JEnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val schema = info.schema()
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              new Factory(schema)
            override def commit(messages: Array[WriterCommitMessage]): Unit =
              results.put(id, messages.collect { case Part(d) => d }
                .foldLeft(RowDigest.empty)(_ + _))
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
  }

  final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val hash = XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, f.nullable) }, 42L)
        private var d = RowDigest.empty
        override def write(row: InternalRow): Unit =
          d = d.add(hash.eval(row).asInstanceOf[Long])
        override def commit(): WriterCommitMessage = Part(d)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
