package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side log of one bus lane: the raw payloads its client callback
  * appended, addressed by absolute line number — the lane's offset.
  * Bounded at `cap` held lines (a dev/live-tap buffer, not a durability
  * log): on overflow the NEWEST line is dropped and counted, visible,
  * never silent. [[MqttLaneStream.commit]] trims what the query has
  * committed. */
final class LaneLog(cap: Int = LaneLog.Cap) {
  private val lines = mutable.ArrayDeque.empty[Array[Byte]]
  private var base = 0L // line number of lines.head
  private var droppedLines = 0L

  def append(line: Array[Byte]): Unit = synchronized {
    if (lines.size >= cap) droppedLines += 1 else lines += line
  }

  /** Line number one past the last held line. */
  def end: Long = synchronized(base + lines.size)
  def dropped: Long = synchronized(droppedLines)
  def held: Int = synchronized(lines.size)

  /** Lines [from, until) as one block, each payload framed by its
    * length (4 bytes, big-endian) — never by a delimiter, since a raw
    * newline is legal JSON whitespace inside one event. The range is
    * clamped to the held lines, so an offset from another log (a
    * checkpoint of an earlier bus) reads nothing instead of throwing. */
  def block(from: Long, until: Long): Array[Byte] = synchronized {
    val hi = (math.max(math.min(until, base + lines.size), base) - base).toInt
    val lo = (math.min(math.max(from, base), base + hi) - base).toInt
    var n = 0
    var i = lo
    while (i < hi) { n += 4 + lines(i).length; i += 1 }
    val buf = java.nio.ByteBuffer.allocate(n)
    i = lo
    while (i < hi) { buf.putInt(lines(i).length).put(lines(i)); i += 1 }
    buf.array()
  }

  /** Forget every line before `upTo`. An offset past the log's end
    * belongs to an earlier log and is ignored. */
  def trim(upTo: Long): Unit = synchronized {
    if (upTo > base && upTo <= base + lines.size) {
      lines.dropInPlace((upTo - base).toInt)
      base = upTo
    }
  }
}

object LaneLog {
  /** Held lines per lane: 128k event JSONs, tens of MB at worst. */
  val Cap: Int = 131072
}

/** Structured Streaming source over a set of [[LaneLog]]s, on Spark's
  * public connector API: loaded by class name through
  * `readStream.format`, no session conf, no extension. All lanes of a
  * bus form ONE stream; its offset is the line count per lane, and each
  * micro-batch plans one input partition per non-empty lane that carries
  * the lane's new lines as a single byte block. The rows are the
  * `value` string column of Spark's `socket` source, so
  * [[Sources.SocketJsonBus.parse]] applies unchanged.
  *
  * The logs live in driver memory and are found through the `bus`
  * option (see [[MqttLaneSource.register]]); executors only read the
  * blocks the partitions carry. One query per bus: `commit` trims the
  * shared logs. */
final class MqttLaneSource extends TableProvider {
  def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MqttLaneSource.schema

  def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val bus = properties.get("bus")
    val logs = Option(MqttLaneSource.buses.get(bus)).getOrElse(
      throw new IllegalArgumentException(s"no open bus with id '$bus'"))
    new Table with SupportsRead {
      def name: String = s"mqtt-lanes-$bus"
      override def schema: StructType = MqttLaneSource.schema
      def capabilities: java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => new Scan {
          def readSchema: StructType = MqttLaneSource.schema
          // rows only: saying so keeps the planner from building the
          // lane blocks for each copy of the scan node just to ask
          override def columnarSupportMode: Scan.ColumnarSupportMode =
            Scan.ColumnarSupportMode.UNSUPPORTED
          override def toMicroBatchStream(checkpoint: String)
              : MicroBatchStream = new MqttLaneStream(logs)
        }
    }
  }
}

object MqttLaneSource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))

  private val buses = new ConcurrentHashMap[String, IndexedSeq[LaneLog]]()

  /** Make `logs` readable as a stream; returns the `bus` option value. */
  def register(logs: IndexedSeq[LaneLog]): String = {
    val id = java.util.UUID.randomUUID().toString
    buses.put(id, logs)
    id
  }

  /** A running query keeps reading the logs it already resolved. */
  def unregister(id: String): Unit = buses.remove(id)

  def stream(spark: SparkSession, id: String): DataFrame =
    spark.readStream.format(classOf[MqttLaneSource].getName)
      .option("bus", id).load()
}

/** Line count per lane. */
final class LaneOffset(val lines: IndexedSeq[Long]) extends Offset {
  def json: String = lines.mkString("[", ",", "]")
}

/** One lane's slice of one micro-batch. */
final case class LaneBlock(block: Array[Byte]) extends InputPartition

final class MqttLaneStream(logs: IndexedSeq[LaneLog])
    extends MicroBatchStream {
  private def lines(o: Offset): IndexedSeq[Long] =
    o.asInstanceOf[LaneOffset].lines

  def initialOffset: Offset = new LaneOffset(logs.map(_ => 0L))
  def latestOffset: Offset = new LaneOffset(logs.map(_.end))
  def deserializeOffset(json: String): Offset = new LaneOffset(
    json.stripPrefix("[").stripSuffix("]").split(',').toIndexedSeq
      .map(_.toLong))

  def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = lines(start)
    val until = lines(end)
    logs.indices.flatMap { i =>
      val block = logs(i).block(from.lift(i).getOrElse(0L), until(i))
      if (block.isEmpty) None else Some(LaneBlock(block))
    }.toArray
  }

  def createReaderFactory: PartitionReaderFactory = LaneReaderFactory

  def commit(end: Offset): Unit =
    logs.lazyZip(lines(end)).foreach(_.trim(_))

  def stop(): Unit = ()
}

object LaneReaderFactory extends PartitionReaderFactory {
  def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val block = p.asInstanceOf[LaneBlock].block
      private val buf = java.nio.ByteBuffer.wrap(block)
      private var row: InternalRow = _
      def next(): Boolean = buf.hasRemaining && {
        val n = buf.getInt()
        row = InternalRow(UTF8String.fromBytes(block, buf.position(), n))
        buf.position(buf.position() + n)
        true
      }
      def get(): InternalRow = row
      def close(): Unit = ()
    }
}
