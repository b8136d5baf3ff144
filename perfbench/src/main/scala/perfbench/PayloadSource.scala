package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An append-only feed of wire payloads (the `value` bytes a Kafka
  * topic would carry) held in the benchmark's JVM. The generator publishes a
  * prefix of the pre-built payloads by advancing `available`; the stream
  * reads published rows by offset. Local mode runs tasks in the same
  * JVM, so readers index the arrays directly. */
final class Feed(val payloads: Array[Array[Byte]]) {
  @volatile var available: Long = 0L
  @volatile var consumed: Long = 0L
}

object Feeds {
  private val feeds = new ConcurrentHashMap[String, Feed]
  def register(id: String, f: Feed): Unit = feeds.put(id, f)
  def apply(id: String): Feed = feeds.get(id)
  def remove(id: String): Unit = feeds.remove(id)
}

final class RowOffset(val n: Long) extends Offset {
  override def json(): String = n.toString
}

/** `spark.readStream.format(classOf[PayloadSource].getName)` with options
  * `feed` (a registered feed id), `partitions` and `maxRowsPerTrigger`
  * (the bounded per-trigger intake, like Kafka's maxOffsetsPerTrigger). */
final class PayloadSource extends TableProvider {
  override def inferSchema(o: CaseInsensitiveStringMap): StructType = PayloadSource.schema
  override def getTable(schema: StructType, parts: Array[Transform],
                        props: java.util.Map[String, String]): Table =
    new PayloadTable(props.get("feed"), props.get("partitions").toInt,
      props.get("maxRowsPerTrigger").toLong)
}

object PayloadSource {
  val schema: StructType = StructType(StructField("value", BinaryType) :: Nil)
}

final class PayloadTable(feed: String, partitions: Int, maxRows: Long)
    extends Table with SupportsRead {
  override def name(): String = s"payloads-$feed"
  override def schema(): StructType = PayloadSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = PayloadSource.schema
      override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
        new PayloadStream(feed, partitions, maxRows)
    }
}

final case class PayloadSlice(feed: String, from: Long, until: Long) extends InputPartition

final class PayloadStream(feed: String, partitions: Int, maxRows: Long)
    extends MicroBatchStream with SupportsAdmissionControl {
  private def n(o: Offset): Long = o.asInstanceOf[RowOffset].n

  override def initialOffset(): Offset = new RowOffset(0L)
  override def deserializeOffset(json: String): Offset = new RowOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = Feeds(feed).consumed = n(end)
  override def stop(): Unit = ()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = Feeds(feed).available
    new RowOffset(limit match {
      case m: ReadMaxRows => math.min(avail, n(start) + m.maxRows)
      case _ => avail
    })
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (n(start), n(end))
    val step = math.max(1L, (e - s + partitions - 1) / partitions)
    (s until e by step).map(lo => PayloadSlice(feed, lo, math.min(e, lo + step)))
      .toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory = PayloadReaderFactory
}

object PayloadReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[PayloadSlice]
    val payloads = Feeds(slice.feed).payloads
    new PartitionReader[InternalRow] {
      private var i = slice.from - 1
      override def next(): Boolean = { i += 1; i < slice.until }
      override def get(): InternalRow = InternalRow(payloads(i.toInt))
      override def close(): Unit = ()
    }
  }
}
