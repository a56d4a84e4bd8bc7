package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.functions.Hanoi

/** The reference's one streaming query, Spark-first: ingest integers, run
  * the CPU-bound Hanoi workload per element, aggregate per-(value, stream)
  * per-micro-batch stats, emit TSV.
  * (reference: SimpleStreamingApp.scala:26-108)
  *
  * Per-batch (processing-time) semantics are exact-parity via foreachBatch:
  * the reference aggregates whatever arrived in the batch, not an
  * event-time window. stddev must be population stddev.
  */
object StreamingStats {

  /** The per-batch aggregation: count/sum/mean/stddev_pop of the measured
    * per-element cost, grouped by (value, stream_id).
    * (reference: SimpleStreamingApp.scala:81,114-122)
    *
    * This is the declarative definition of the stats: the batch registry
    * gates (`q_stream_batch_stats*`) run it, and it is the oracle that
    * [[run]]'s one-stage fold is checked against, schema included. */
  def batchStats(batch: DataFrame, metric: String = "hanoi_ms"): DataFrame =
    batch.groupBy("value", "stream_id")
      .agg(
        count(metric).as("cnt"),
        sum(metric).as("sum_ms"),
        avg(metric).as("mean_ms"),
        stddev_pop(metric).as("stddev_ms"))

  /** Attach the measured Hanoi cost column. */
  def withHanoiCost(df: DataFrame): DataFrame =
    df.withColumn("hanoi_ms", Hanoi.hanoiTime(col("value")))

  /** Reference output line: millis, batchTime, value, streamId, count,
    * sum, mean, stdDev (tab-separated).
    * (reference: SimpleStreamingApp.scala:106-108) */
  def toTsv(stats: DataFrame, batchEpochMs: Long): DataFrame =
    stats.select(format_string(
      "%d\t%d\t%d\t%d\t%d\t%d\t%.3f\t%.3f",
      unix_millis(current_timestamp()), lit(batchEpochMs),
      col("value"), col("stream_id"), col("cnt"), col("sum_ms"),
      col("mean_ms"), col("stddev_ms")).as("line"))

  /** Idiomatic event-time variant of [[batchStats]]: tumbling event-time
    * windows + watermark instead of processing-time batch scope. Not
    * bit-identical to the reference under lag (SURVEY §7.3) — this is the
    * declarative mode; [[run]] is the parity mode. Stateful aggregation:
    * Spark keeps per-window partial state until the watermark passes, so
    * the shuffle carries partial aggregates, never raw rows. */
  def windowedStats(
      df: DataFrame,
      windowLength: String = "5 seconds",
      watermarkDelay: String = "10 seconds",
      metric: String = "hanoi_ms"): DataFrame =
    df.withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLength), col("value"), col("stream_id"))
      .agg(
        count(metric).as("cnt"),
        sum(metric).as("sum_ms"),
        avg(metric).as("mean_ms"),
        stddev_pop(metric).as("stddev_ms"))
      .select(col("window.start").as("window_start"), col("value"),
        col("stream_id"), col("cnt"), col("sum_ms"), col("mean_ms"), col("stddev_ms"))

  /** Full pipeline on N generator streams, unioned, exact per-batch
    * semantics. `sink` receives (statsDF, batchId) per micro-batch.
    *
    * Each trigger runs one Spark job of one stage and no shuffle, and
    * plans nothing beyond what the micro-batch itself needs: the job runs
    * straight on the RDD of the `LogicalRDD` that `foreachBatch` hands
    * over, and every reader task folds its rows into per-(value,
    * stream_id) moments ([[KeyedMoments.FoldPartition]]) and returns them
    * as its task result. The driver merges them in partition order and
    * hands `sink` a local DataFrame with exactly [[batchStats]]' schema
    * and values. The stats are computed once per batch, before `sink`
    * runs, so a sink may read them any number of times without
    * re-running the scan or the metric. `metricCol` must add a `LongType`
    * `hanoi_ms` column and keep (value, stream_id) non-null INTs. */
  def run(
      spark: SparkSession,
      planText: String,
      numStreams: Int = 1,
      triggerMs: Long = 1000L,
      maxRowsPerTrigger: Option[Long] = None,
      rateLimitKey: Option[String] = None,
      secondsPerTrigger: Int = 1,
      numPartitions: Option[Int] = None,
      metricCol: DataFrame => DataFrame = withHanoiCost,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val genParts = numPartitions.getOrElse(spark.sparkContext.defaultParallelism)
    val streams = (0 until numStreams).map { id =>
      var r = spark.readStream.format("plan-gen")
        .option("plan", planText)
        .option("streamId", id)
        .option("secondsPerTrigger", secondsPerTrigger)
        .option("numPartitions", genParts)
      maxRowsPerTrigger.foreach(m => r = r.option("maxRowsPerTrigger", m))
      rateLimitKey.foreach(k => r = r.option("rateLimitKey", k))
      r.load()
    }
    val unioned = streams.reduce(_ unionByName _) // reference U1 stream union
    val measured = metricCol(unioned)
    val stats = oneStageStats(measured)
    measured.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(stats(batch), batchId)
      }
      .start()
  }

  /** [[batchStats]] in one job, for batches shaped like `template`: each
    * task folds its rows into [[KeyedMoments]], and the driver merges the
    * task results, in partition order, into a local DataFrame with
    * [[batchStats]]' schema. Refuses a template whose `hanoi_ms` is not
    * `LongType` or whose (value, stream_id) are not non-null INTs.
    *
    * The job is this lean on purpose: it sets the per-trigger floor of
    * [[run]]. The plain form of the same job, a lambda `mapPartitions`
    * over `batch.queryExecution.toRdd` and a `collect`, pays two pieces
    * of Spark overhead on every trigger. 1 ms JFR profiles charged each
    * a share of the stream thread's CPU, on the paced perfbench workload
    * and on back-to-back 10 000-row triggers:
    *  - 23 % / 31 %: closure cleaning in `collect` and `mapPartitions`.
    *    `collect` and `runJob` clean lambdas declared in `RDD` and
    *    `SparkContext`, and Spark's `ClosureCleaner` re-reads and
    *    ASM-scans those classes' bytes (184 KB and 204 KB) for each one.
    *    So the task function is the named class
    *    [[KeyedMoments.FoldPartition]], built once here and handed to
    *    `SparkContext.runJob`: the cleaner reads no class bytes for a
    *    class that is neither a `$anonfun$` class nor a synthetic lambda.
    *    Do not turn it back into a lambda or a `mapPartitions`.
    *  - 8 % / 12 %: `batch.queryExecution.toRdd`, which plans the batch a
    *    second time (optimizer, planner, whole-stage code generation and
    *    one more closure clean) only to scan the RDD `ForeachBatchSink`
    *    has already wrapped in a `LogicalRDD`. So a batch whose analyzed
    *    plan is a `LogicalRDD` is read from its `rdd` directly, whose
    *    rows are laid out as the batch's output; any other DataFrame is
    *    planned with `toRdd`.
    *
    * Each task result is kept at its partition index and merged in index
    * order, so the stddev bits do not depend on which task ends first. */
  def oneStageStats(template: DataFrame): DataFrame => DataFrame = {
    val in = template.schema
    val metric = in("hanoi_ms")
    require(metric.dataType == LongType,
      s"the stats metric `hanoi_ms` must be LongType, got ${metric.dataType.simpleString}")
    Seq(in("value"), in("stream_id")).foreach { k =>
      require(k.dataType == IntegerType && !k.nullable,
        s"stats key `${k.name}` must be a non-null INT, got ${k.dataType.simpleString}" +
          (if (k.nullable) " (nullable)" else ""))
    }
    val (valueOrd, streamOrd, metricOrd) =
      (in.fieldIndex("value"), in.fieldIndex("stream_id"), in.fieldIndex("hanoi_ms"))
    val schema = batchStats(template).schema
    val fold = KeyedMoments.FoldPartition(valueOrd, streamOrd, metricOrd)
    batch => {
      val rdd = batch.queryExecution.analyzed match {
        case scan: LogicalRDD => scan.rdd
        case _ => batch.queryExecution.toRdd
      }
      val parts = new Array[KeyedMoments](rdd.getNumPartitions)
      rdd.sparkContext.runJob(rdd, fold, parts.indices, (i: Int, m: KeyedMoments) => parts(i) = m)
      val merged = parts.foldLeft(new KeyedMoments)(_ merge _)
      batch.sparkSession.createDataFrame(merged.statsRows.asJava, schema)
    }
  }
}

/** Per-(value, stream_id) moments of a LongType metric, the one-stage
  * form of [[StreamingStats.batchStats]]: the non-null count, the exact
  * `Long` sum (overflow throws, like ANSI `sum`), and the (n, avg, m2)
  * running moments of Spark's `CentralMomentAgg`, with its update and
  * merge formulas. The pair is packed into one `Long` key of a small
  * open-addressing table in primitive arrays, so a fold allocates nothing
  * per row; a batch has only a few keys. Serializable: a task returns its
  * fold as the task result. */
private[streaming] final class KeyedMoments extends Serializable {
  private var keys = new Array[Long](8)
  private var used = new Array[Boolean](8)
  private var cnt = new Array[Long](8)
  private var sum = new Array[Long](8)
  private var avg = new Array[Double](8)
  private var m2 = new Array[Double](8)
  private var size = 0

  /** The slot of `key`, inserting an empty group if it is new. */
  private def slotOf(key: Long): Int = {
    val mask = keys.length - 1
    var i = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & mask)
    while (used(i) && keys(i) != key) i = (i + 1) & mask
    if (used(i)) i
    else if ((size + 1) * 2 > keys.length) { grow(); slotOf(key) }
    else { used(i) = true; keys(i) = key; size += 1; i }
  }

  private def grow(): Unit = {
    val (k, u, c, s, a, m) = (keys, used, cnt, sum, avg, m2)
    val n = keys.length * 2
    keys = new Array(n); used = new Array(n); cnt = new Array(n)
    sum = new Array(n); avg = new Array(n); m2 = new Array(n)
    size = 0
    for (j <- k.indices if u(j)) {
      val i = slotOf(k(j))
      cnt(i) = c(j); sum(i) = s(j); avg(i) = a(j); m2(i) = m(j)
    }
  }

  /** A row whose metric is null: the group exists, its moments do not move. */
  def addNull(key: Long): Unit = slotOf(key)

  /** `CentralMomentAgg`'s update for one non-null value. */
  def add(key: Long, x: Long): Unit = {
    val i = slotOf(key)
    val n = cnt(i) + 1
    val delta = x.toDouble - avg(i)
    val deltaN = delta / n
    avg(i) += deltaN
    m2(i) += delta * (delta - deltaN)
    cnt(i) = n
    sum(i) = Math.addExact(sum(i), x)
  }

  /** `CentralMomentAgg`'s merge of `that` into this; returns this. */
  def merge(that: KeyedMoments): KeyedMoments = {
    for (j <- that.keys.indices if that.used(j)) {
      val i = slotOf(that.keys(j))
      val (n1, n2) = (cnt(i).toDouble, that.cnt(j).toDouble)
      val n = n1 + n2
      val delta = that.avg(j) - avg(i)
      val deltaN = if (n == 0.0) 0.0 else delta / n
      avg(i) += deltaN * n2
      m2(i) += that.m2(j) + delta * deltaN * n1 * n2
      cnt(i) += that.cnt(j)
      sum(i) = Math.addExact(sum(i), that.sum(j))
    }
    this
  }

  /** One [[StreamingStats.batchStats]] row per group, ordered by (value,
    * stream_id): a group with no non-null metric has cnt 0 and null
    * sum, mean and stddev. */
  def statsRows: Seq[Row] =
    keys.indices.filter(used(_)).map { i =>
      val (v, s, n) = (KeyedMoments.value(keys(i)), KeyedMoments.streamId(keys(i)), cnt(i))
      if (n == 0) Row(v, s, 0L, null, null, null)
      else Row(v, s, n, sum(i), sum(i).toDouble / n, math.sqrt(m2(i) / n))
    }.sortBy(r => (r.getInt(0), r.getInt(1)))
}

private[streaming] object KeyedMoments {
  /** (value, stream_id) as one key. */
  def pack(value: Int, streamId: Int): Long = (value.toLong << 32) | (streamId.toLong & 0xFFFFFFFFL)
  def value(key: Long): Int = (key >> 32).toInt
  def streamId(key: Long): Int = key.toInt

  /** The stats job's task function: folds one partition's rows; the
    * ordinals locate value, stream_id and the metric. A named class, not
    * a lambda, so that `SparkContext.runJob`'s closure cleaner skips it
    * instead of reading class bytes every trigger (see
    * [[StreamingStats.oneStageStats]]). */
  final case class FoldPartition(valueOrd: Int, streamOrd: Int, metricOrd: Int)
      extends ((TaskContext, Iterator[InternalRow]) => KeyedMoments) {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): KeyedMoments = {
      val m = new KeyedMoments
      while (rows.hasNext) {
        val r = rows.next()
        val key = pack(r.getInt(valueOrd), r.getInt(streamOrd))
        if (r.isNullAt(metricOrd)) m.addNull(key) else m.add(key, r.getLong(metricOrd))
      }
      m
    }
  }
}
