package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.plans.{BucketMath, PlanParser, RowBuffer, TestPlan}

/** Data Source V2 implementation of the plan-driven generator — the
  * reference's testbed (load generator) re-expressed as a Spark source.
  *
  * Deterministic and replayable: the offset is simply "plan seconds
  * consumed", and every second's rows are a pure function of the plan, so
  * recovery/retry re-produce identical data (exactly-once capable).
  * (reference: testbed DataGeneratorActor.scala:92-136 — the scheduler
  * queue and wall-clock pacing collapse into the trigger+offset model.)
  *
  * Supported options:
  *  - `plan` (required): HOCON-subset test plan text
  *  - `streamId` (default 0): tag emitted in the stream_id column
  *  - `startEpochMs` (default 0): absolute anchor for event_time
  *  - `secondsPerTrigger` (default 1): replay pacing per micro-batch
  *  - `maxRowsPerTrigger`: admission-control row cap (ReadLimit)
  *  - `maxSeconds`: bound for unbounded plans (required if plan unbounded)
  *  - `numPartitions` (default 4, at most 100 used): readers per batch,
  *    each taking every n-th 10 ms bucket of every plan-second in it
  *  - `rateLimitKey`: name in [[RateLimitRegistry]] consulted each trigger
  *    for a dynamic row cap (how the PID backpressure controller steers
  *    the source, mirroring receiver rate updates —
  *    reference SubscriberInputDStream.scala:43-48)
  */
class PlanDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "plan-gen"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PlanDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PlanTable(PlanOptions(properties))
}

object PlanDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("event_time", TimestampType, nullable = false),
    StructField("value", IntegerType, nullable = false),
    StructField("stream_id", IntegerType, nullable = false)))
}

/** Per-query dynamic rate limits, keyed by `rateLimitKey`. The PID
  * controller writes, the source reads at each latestOffset. Driver-side
  * state: admission control happens on the driver in Structured Streaming,
  * so a plain process-local map is correct even on a cluster. */
object RateLimitRegistry {
  private val limits = new ConcurrentHashMap[String, java.lang.Long]()
  def set(key: String, maxRows: Long): Unit = limits.put(key, maxRows)
  def get(key: String): Option[Long] = Option(limits.get(key)).map(_.longValue)
  def clear(key: String): Unit = limits.remove(key)
}

/** The source over parsed options; [[PlanGenerator]] builds one directly
  * for a [[TestPlan]] it already holds. */
private final class PlanTable(opts: PlanOptions)
    extends Table with SupportsRead {
  override def name(): String = "plan-gen"
  override def schema(): StructType = PlanDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = PlanDataSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PlanMicroBatchStream(opts)
      override def toBatch: Batch = new PlanBatch(opts)
    }
}

private final case class PlanOptions(
    plan: TestPlan,
    streamId: Int = 0,
    startEpochMs: Long = 0L,
    secondsPerTrigger: Int = 1,
    maxRowsPerTrigger: Option[Long] = None,
    maxSeconds: Option[Int] = None,
    numPartitions: Int = 4,
    rateLimitKey: Option[String] = None) {
  require(numPartitions >= 1, s"plan-gen needs numPartitions >= 1, got $numPartitions")
  def planSeconds: Int = plan.duration.orElse(maxSeconds).getOrElse(
    throw new IllegalArgumentException("unbounded plan needs a 'maxSeconds' option"))
}

private object PlanOptions {
  def apply(props: util.Map[String, String]): PlanOptions = {
    // CaseInsensitiveStringMap lower-cases keys; accept either casing.
    def opt(k: String): Option[String] =
      Option(props.get(k)).orElse(Option(props.get(k.toLowerCase)))
    PlanOptions(
      plan = PlanParser.parse(opt("plan").getOrElse(
        throw new IllegalArgumentException("plan-gen source needs a 'plan' option"))),
      streamId = opt("streamId").map(_.toInt).getOrElse(0),
      startEpochMs = opt("startEpochMs").map(_.toLong).getOrElse(0L),
      secondsPerTrigger = opt("secondsPerTrigger").map(_.toInt).getOrElse(1),
      maxRowsPerTrigger = opt("maxRowsPerTrigger").map(_.toLong),
      maxSeconds = opt("maxSeconds").map(_.toInt),
      numPartitions = opt("numPartitions").map(_.toInt).getOrElse(4),
      rateLimitKey = opt("rateLimitKey"))
  }
}

private final case class SecondsOffset(seconds: Int) extends Offset {
  override def json(): String = seconds.toString
}

private final class PlanMicroBatchStream(opts: PlanOptions)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val planSeconds = opts.planSeconds

  override def initialOffset(): Offset = SecondsOffset(0)
  override def deserializeOffset(json: String): Offset = SecondsOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit =
    opts.maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Advance up to secondsPerTrigger plan-seconds, admission-capped by the
    * smaller of the static ReadLimit and the dynamic PID limit. At least
    * one second always advances (second = minimum offset granularity). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startSec = start.asInstanceOf[SecondsOffset].seconds
    if (startSec >= planSeconds) return SecondsOffset(planSeconds)
    val staticCap = limit match {
      case m: ReadMaxRows => Some(m.maxRows)
      case _              => None
    }
    val dynamicCap = opts.rateLimitKey.flatMap(RateLimitRegistry.get)
    val cap = (staticCap.toSeq ++ dynamicCap.toSeq).reduceOption(_ min _)
    val hardEnd = math.min(planSeconds, startSec + opts.secondsPerTrigger)
    cap match {
      case None => SecondsOffset(hardEnd)
      case Some(maxRows) =>
        var sec = startSec
        var rows = 0L
        var done = false
        while (!done && sec < hardEnd) {
          val next = rows + opts.plan.rowCountFor(sec)
          if (next > maxRows && sec > startSec) done = true
          else { rows = next; sec += 1 }
        }
        SecondsOffset(math.max(sec, startSec + 1))
    }
  }

  override def reportLatestOffset(): Offset = SecondsOffset(planSeconds)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    PlanPartitioning.partitions(
      opts, start.asInstanceOf[SecondsOffset].seconds,
      end.asInstanceOf[SecondsOffset].seconds)

  override def createReaderFactory(): PartitionReaderFactory = new PlanReaderFactory
}

/** Whole-plan batch scan (spark.read on the same source). */
private final class PlanBatch(opts: PlanOptions) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    PlanPartitioning.partitions(opts, 0, opts.planSeconds)
  override def createReaderFactory(): PartitionReaderFactory = new PlanReaderFactory
}

private object PlanPartitioning {
  /** `numPartitions` readers per batch, reader p owning the 10 ms buckets
    * p, p + n, … of every plan-second in [startSec, endSec). The cost of a
    * row follows its value (Hanoi work doubles per step), and values
    * change from second to second, so striping whole seconds over readers
    * handed one reader most of a batch's expensive seconds; striping
    * buckets gives every reader the same share of every second and so the
    * same value mix. n is capped at the buckets per second, so no reader
    * is planned that owns no bucket. */
  def partitions(opts: PlanOptions, startSec: Int, endSec: Int): Array[InputPartition] =
    if (startSec >= endSec) Array.empty
    else {
      val n = math.min(opts.numPartitions, BucketMath.BucketsPerSecond)
      Array.tabulate[InputPartition](n)(p => PlanInputPartition(
        opts.plan, startSec, endSec, p, n, opts.startEpochMs, opts.streamId))
    }
}

private final case class PlanInputPartition(
    plan: TestPlan,
    startSec: Int,
    endSec: Int,
    part: Int,
    numParts: Int,
    startEpochMs: Long,
    streamId: Int) extends InputPartition

private final class PlanReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PlanReader(partition.asInstanceOf[PlanInputPartition])
}

/** Fills one [[RowBuffer]] per plan-second and writes each row into one
  * reused `UnsafeRow`: nothing is allocated per row. Spark copies a row
  * wherever it keeps one past the next `next()`. */
private final class PlanReader(p: PlanInputPartition) extends PartitionReader[InternalRow] {
  private val rows = new RowBuffer
  private val writer = new UnsafeRowWriter(3)
  private var sec = p.startSec
  private var i = 0

  override def next(): Boolean = {
    while (i >= rows.size && sec < p.endSec) {
      p.plan.fillRows(sec, p.part, p.numParts, rows)
      sec += 1
      i = 0
    }
    if (i < rows.size) {
      // fixed-width fields and no nulls: reset() only sets the row's size
      writer.reset()
      writer.write(0, (rows.timeMs(i) + p.startEpochMs) * 1000L) // micros for TimestampType
      writer.write(1, rows.value(i))
      writer.write(2, p.streamId)
      i += 1
      true
    } else false
  }

  override def get(): InternalRow = writer.getRow

  override def close(): Unit = ()
}
