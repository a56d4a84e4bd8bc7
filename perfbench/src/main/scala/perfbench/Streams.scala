package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.RateLimitRegistry
import graft.streaming.StreamingStats

/** One micro-batch as the sink saw it: plan-seconds [from, until), when
  * its sink ended, how long the sink took, and whether its counts
  * matched the closed form. */
final case class BatchRecord(batchId: Long, from: Int, until: Int, sinkEndMs: Double, sinkMs: Double, ok: Boolean)

final case class DrainResult(batches: Seq[BatchRecord], startMs: Double, wallS: Double, rows: Long) {
  def rowsS: Double = rows / wallS
  /** Per-batch duration from the previous sink's end (the query's start
    * for the first batch) to this one's. */
  def batchMs: Seq[Double] =
    (startMs +: batches.sortBy(_.batchId).map(_.sinkEndMs)).sliding(2).collect { case Seq(a, b) => b - a }.toSeq
}

/** The paced schedule. Plan-second s fills slot s, so it is due (its last
  * event scheduled) when that slot ends at `baseMs + s * slotMs`; `baseMs`
  * is a multiple of `slotMs`, as are the trigger times of a query with a
  * `slotMs` processing-time trigger. */
final case class SlotClock(baseMs: Long, slotMs: Long) {
  def due(s: Int): Long = baseMs + s * slotMs

  /** From the due time of the oldest plan-second a batch admitted to the
    * end of its sink. Second 0 is admitted by the query's first trigger
    * before any slot has passed, so it yields no sample. */
  def latencyMs(b: BatchRecord): Option[Double] =
    if (b.from >= 1) Some(b.sinkEndMs - due(b.from)) else None
}

object SlotClock {
  def startingAt(nowMs: Long, slotMs: Long): SlotClock = SlotClock(nowMs / slotMs * slotMs, slotMs)
}

final case class PacedResult(
    batches: Seq[BatchRecord], latencyMs: Seq[Double], generatorLateMs: Seq[Double],
    sampledFromMs: Double, wallS: Double, rows: Long, failed: Int) {
  def rowsS: Double = rows / wallS
}

/** The two streaming workloads over graft's public streaming entry point,
  * [[StreamingStats.run]] (plan-gen source → Hanoi UDF → per-batch stats). */
object Streams {

  /** A paced batch later than this after its slot was due counts as failed,
    * though its result is still checked. */
  val LatencyLimitMs = 2500.0

  /** Wall-clock time in milliseconds, to the microsecond. */
  def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  /** Whether a batch's Σcnt per (value, stream_id) equals the closed form. */
  def countsMatch(plan: StreamPlan, rows: Seq[Row], from: Int, until: Int): Boolean = {
    val got = rows.map(r => (r.getAs[Int]("value"), r.getAs[Int]("stream_id")) -> r.getAs[Long]("cnt")).toMap
    from < until && got == plan.expectedCounts(from, until).map { case (v, c) => (v, 0) -> c }
  }

  /** Closed loop: the whole plan is backlog, admitted `maxRows` per
    * trigger with no pause between triggers. */
  def drain(spark: SparkSession, plan: StreamPlan, maxRows: Long): DrainResult = {
    val expected = StreamPlan.batches(plan, maxRows)
    val records = new ConcurrentLinkedQueue[BatchRecord]()
    val t0 = nowMs()
    val q = StreamingStats.run(spark, plan.text,
      triggerMs = 0L,
      maxRowsPerTrigger = Some(maxRows),
      secondsPerTrigger = plan.seconds,
      numPartitions = Some(Main.Cores),
      sink = (stats, batchId) => {
        val s0 = System.nanoTime()
        val rows = stats.collect().toSeq
        val end = nowMs()
        val (from, until) = expected.lift(batchId.toInt).getOrElse((0, 0))
        records.add(BatchRecord(batchId, from, until, end, (System.nanoTime() - s0) / 1e6,
          countsMatch(plan, rows, from, until)))
      })
    try q.processAllAvailable() finally q.stop()
    val batches = records.asScala.toSeq.sortBy(_.batchId)
    val complete = batches.size == expected.size
    DrainResult(
      if (complete) batches else batches.map(_.copy(ok = false)),
      t0, (batches.map(_.sinkEndMs).maxOption.getOrElse(nowMs()) - t0) / 1000.0, plan.totalRows)
  }

  /** Open loop: plan-second s is due at the s-th slot boundary after the
    * start, and a generator thread releases it then by raising the
    * query's admission limit in [[RateLimitRegistry]] to the rows released
    * but not yet admitted. Triggers fire on the same slot clock, so a
    * batch that overruns its slot leaves a backlog that the next trigger
    * admits whole; the generator never waits for the query. Batches that
    * start before plan-second `leadIn` are run and checked but not
    * sampled; sampling starts when that second is due. */
  def paced(spark: SparkSession, plan: StreamPlan, slotMs: Long, key: String, leadIn: Int = 1): PacedResult = {
    val perSecond = plan.rowsPerSecond
    val lock = new Object
    var released = 1
    var admitted = 0
    def publish(): Unit = RateLimitRegistry.set(key, math.max(1, released - admitted) * perSecond)
    lock.synchronized(publish())
    val records = new ConcurrentLinkedQueue[BatchRecord]()
    val done = new CountDownLatch(1)
    val q = StreamingStats.run(spark, plan.text,
      triggerMs = slotMs,
      rateLimitKey = Some(key),
      secondsPerTrigger = plan.seconds,
      numPartitions = Some(Main.Cores),
      sink = (stats, batchId) => {
        val s0 = System.nanoTime()
        val rows = stats.collect().toSeq
        val end = nowMs()
        val total = rows.map(_.getAs[Long]("cnt")).sum
        val n = (total / perSecond).toInt
        val from = lock.synchronized {
          val f = admitted
          admitted += n
          publish()
          f
        }
        records.add(BatchRecord(batchId, from, from + n, end, (System.nanoTime() - s0) / 1e6,
          total % perSecond == 0 && countsMatch(plan, rows, from, from + n)))
        if (from + n >= plan.seconds || n == 0) done.countDown()
      })
    val clock = SlotClock.startingAt(System.currentTimeMillis(), slotMs)
    import clock.due
    val late = new ConcurrentLinkedQueue[Double]()
    val generator = new Thread(() => {
      var s = 1
      try while (s < plan.seconds && done.getCount > 0) {
        val wait = due(s) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val now = System.currentTimeMillis()
        lock.synchronized { released = s + 1; publish() }
        late.add((now - due(s)).toDouble)
        s += 1
      } catch { case _: InterruptedException => () }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    try {
      val patienceMs = plan.seconds * slotMs + 60000L
      done.await(patienceMs, TimeUnit.MILLISECONDS)
    } finally {
      q.stop()
      generator.interrupt()
      generator.join()
      RateLimitRegistry.clear(key)
    }
    val batches = records.asScala.toSeq.sortBy(_.batchId)
    val lastEnd = batches.map(_.sinkEndMs).maxOption.getOrElse(nowMs())
    val complete = batches.map(_.until).maxOption.exists(_ >= plan.seconds)
    val checked = if (complete) batches else batches.map(_.copy(ok = false))
    val latency = batches.filter(_.from >= leadIn).flatMap(clock.latencyMs)
    PacedResult(checked, latency, late.asScala.toSeq, due(leadIn).toDouble,
      (lastEnd - due(0)) / 1000.0,
      plan.totalRows - plan.expectedCounts(0, 1).values.sum,
      checked.count(!_.ok) + latency.count(_ > LatencyLimitMs))
  }
}
