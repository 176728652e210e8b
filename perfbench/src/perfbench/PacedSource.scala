package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{BinaryType, LongType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The benchmark's purchase generator, as a Spark source.
  *
  * Row `i` is a pure function of the spec's seed and `i`: the purchase
  * in pool slot `slot(i)` with the event time
  * `eventOriginMicros + i * eventStepMicros`. In `avro` form the row is
  * the slot's Confluent-framed Avro `Purchase` frame (the payload a
  * Kafka topic would carry); in `typed` form it is the slot's decoded
  * columns. Every row also carries `due`, the wall-clock time from which
  * the generator offers it.
  *
  * A stream releases rows on two schedules, one after the other:
  *  - closed loop: each micro-batch takes exactly `rowsPerBatch` new
  *    rows, so the next batch is offered only when the previous one has
  *    completed — `warmBatches` batches, then for `closedMicros` more;
  *  - open loop, from the first poll after that (`t0`, at offset
  *    `base`) for `openRows` rows: row `base + k` is due at
  *    `t0 + k / ratePerSec`, and each poll releases every row already
  *    due — millisecond release, whatever the engine's pace. (Spark's
  *    `rate` source releases once per second, which would add up to a
  *    second of generator delay to every event.)
  * Switching inside one query keeps the open loop free of a new
  * query's first-trigger cost and backlog.
  *
  * A batch read (`spark.read`) returns rows `[0, maxRows)`; a `typed`
  * copy of an `avro` spec yields the pool's decoded values, the
  * reference input for checking the streaming results.
  */
final case class PaceSpec(
    avro: Boolean,
    seed: Long,
    pool: Array[Array[Byte]],
    poolRows: Array[(Long, Long, Long)],  // decoded (id, quantity, productid)
    eventOriginMicros: Long,
    eventStepMicros: Long,
    partitions: Int,
    rowsPerBatch: Long = 0L,
    warmBatches: Int = 0,
    closedMicros: Double = 0.0,
    ratePerSec: Double = 0.0,
    openRows: Long = 0L,
    maxRows: Long = 0L) {

  /** Pool slot of row `i` (splitmix64 of seed and index). */
  def slot(i: Long): Int = {
    var z = seed + (i + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, pool.length.toLong).toInt
  }

  def schema: StructType =
    if (avro) new StructType().add("value", BinaryType).add("ts", TimestampType)
      .add("due", TimestampType)
    else new StructType().add("id", LongType).add("quantity", LongType)
      .add("productid", LongType).add("ts", TimestampType).add("due", TimestampType)
}

/** One poll that released rows: when it ran and the offset it released up to. */
final case class Poll(epochMicros: Double, released: Long)

/** Where the open loop of a stream started: wall time `t0` and offset `base`. */
final case class OpenLoop(t0Micros: Double, base: Long) {
  def dueMicros(i: Long, rate: Double): Double = t0Micros + (i - base) * 1e6 / rate
}

object PacedSource {
  private val specs = new ConcurrentHashMap[String, PaceSpec]()
  private val polls = new ConcurrentHashMap[String, Vector[Poll]]()
  private val opens = new ConcurrentHashMap[String, OpenLoop]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  val Format: String = classOf[PacedSourceProvider].getName

  /** Register a spec; the returned id is the source's `spec` option. */
  def register(spec: PaceSpec): String = {
    val id = s"pace-${ids.incrementAndGet()}"
    specs.put(id, spec)
    polls.put(id, Vector.empty)
    id
  }
  def spec(id: String): PaceSpec = specs.get(id)
  def pollsOf(id: String): Seq[Poll] = polls.get(id)
  /** The open loop's start, once the stream has switched to it. */
  def openLoop(id: String): Option[OpenLoop] = Option(opens.get(id))

  private[perfbench] def recordPoll(id: String, p: Poll): Unit =
    polls.computeIfPresent(id, (_, ps) => ps :+ p)
  private[perfbench] def startOpenLoop(id: String, o: OpenLoop): OpenLoop =
    opens.computeIfAbsent(id, _ => o)
}

/** Wall clock with microsecond resolution: epoch millis at class load
  * plus the monotonic clock since then.
  */
object Clock {
  private val baseMillis = System.currentTimeMillis()
  private val baseNanos = System.nanoTime()
  def epochMicros: Double = baseMillis * 1000.0 + (System.nanoTime() - baseNanos) / 1000.0
}

class PacedSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PacedSource.spec(options.get("spec")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PacedTable(properties.get("spec"))
}

class PacedTable(specId: String) extends Table with SupportsRead {
  private val spec = PacedSource.spec(specId)
  override def name(): String = specId
  override def schema(): StructType = spec.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = spec.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PacedStream(specId, spec)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          PacedRange.split(0, spec.maxRows, spec.partitions, 0.0, 0L, 0.0)
        override def createReaderFactory(): PartitionReaderFactory =
          new PacedReaderFactory(specId)
      }
    }
}

final case class PacedOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

/** Rows `[start, end)`; row `i` is due at `dueOrigin + (i - dueBase) * dueStep` micros. */
final case class PacedRange(start: Long, end: Long, dueOrigin: Double, dueBase: Long,
                            dueStep: Double) extends InputPartition

object PacedRange {
  def split(start: Long, end: Long, parts: Int, dueOrigin: Double, dueBase: Long,
            dueStep: Double): Array[InputPartition] = {
    val n = end - start
    (0 until parts).map { p =>
      PacedRange(start + n * p / parts, start + n * (p + 1) / parts, dueOrigin, dueBase, dueStep)
    }.filter(r => r.end > r.start).toArray[InputPartition]
  }
}

class PacedStream(specId: String, spec: PaceSpec)
    extends MicroBatchStream with SupportsAdmissionControl {
  // closed loop: the rows of a batch are due when the batch is planned
  private val releasedAt = new ConcurrentHashMap[Long, java.lang.Double]()

  override def initialOffset(): Offset = PacedOffset(0)
  override def deserializeOffset(json: String): Offset = PacedOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[PacedOffset].rows
    val now = Clock.epochMicros
    val polls = PacedSource.pollsOf(specId)
    val closed = spec.rowsPerBatch > 0 && (polls.length <= spec.warmBatches ||
      now <= polls(spec.warmBatches).epochMicros + spec.closedMicros)
    val end =
      if (closed) {
        releasedAt.put(start, now)
        start + spec.rowsPerBatch
      } else if (spec.ratePerSec > 0) {
        val o = PacedSource.startOpenLoop(specId, OpenLoop(now, start))
        o.base + math.min(spec.openRows, ((now - o.t0Micros) * spec.ratePerSec / 1e6).toLong)
      } else start
    if (end > start) PacedSource.recordPoll(specId, Poll(now, end))
    PacedOffset(math.max(start, end))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PacedOffset].rows
    val e = end.asInstanceOf[PacedOffset].rows
    Option(releasedAt.get(s)) match {
      case Some(at) => PacedRange.split(s, e, spec.partitions, at.doubleValue, 0L, 0.0)
      case None =>
        val o = PacedSource.openLoop(specId).get
        PacedRange.split(s, e, spec.partitions, o.t0Micros, o.base, 1e6 / spec.ratePerSec)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new PacedReaderFactory(specId)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Looks the spec up by id: executors share the driver's JVM in the
  * benchmark's `local[n]` sessions, so the pool is never serialized.
  */
class PacedReaderFactory(specId: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val spec = PacedSource.spec(specId)
    val r = partition.asInstanceOf[PacedRange]
    val writer = new UnsafeRowWriter(spec.schema.length)
    new PartitionReader[InternalRow] {
      private var i = r.start - 1
      override def next(): Boolean = { i += 1; i < r.end }
      override def get(): InternalRow = {
        val k = spec.slot(i)
        val ts = spec.eventOriginMicros + i * spec.eventStepMicros
        val due = (r.dueOrigin + (i - r.dueBase) * r.dueStep).toLong
        writer.reset()
        writer.zeroOutNullBytes()
        if (spec.avro) {
          writer.write(0, spec.pool(k))
          writer.write(1, ts)
          writer.write(2, due)
        } else {
          val (id, quantity, productid) = spec.poolRows(k)
          writer.write(0, id)
          writer.write(1, quantity)
          writer.write(2, productid)
          writer.write(3, ts)
          writer.write(4, due)
        }
        writer.getRow
      }
      override def close(): Unit = ()
    }
  }
}
