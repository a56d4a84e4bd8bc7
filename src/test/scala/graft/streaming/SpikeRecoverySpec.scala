package graft.streaming

import scala.collection.mutable
import graft.SparkSpec
import graft.sources.RateLimitRegistry

/** The reference's signature experiment (scenario 2, test-runs-004): a
  * per-element cost spike mid-run, with PID backpressure adapting the
  * ingest limit so the query survives and recovers.
  */
class SpikeRecoverySpec extends SparkSpec {

  test("PID limit dips under a 4x cost spike and total delivery stays exact") {
    // value 16 ≈ 4x the cost of 14 (O(2^n) workload). A solve of 14 takes
    // ~60 µs on a 2020s x86 core, so an 8000-row batch is ~0.5 s of CPU:
    // the rows alone overrun a 100 ms trigger on four cores, whatever the
    // per-trigger overhead
    val planText =
      """sequence = [
        |  { type = fixed, value = 14, rate = 2000, duration = 4 }
        |  { type = fixed, value = 16, rate = 2000, duration = 4 }
        |  { type = fixed, value = 14, rate = 2000, duration = 4 }
        |]""".stripMargin
    val key = "spike-spec"
    val pid = new PidController(kp = 0.5, ki = 0.1, minRows = 200, maxRows = 100000)
    val listener = new PidRateListener(key, triggerMs = 100L, initialLimit = 8000L, pid)
    spark.streams.addListener(listener)
    val limitTrace = mutable.ArrayBuffer.empty[Long]
    var processed = 0L
    try {
      val q = StreamingStats.run(
        spark, planText,
        triggerMs = 100L,
        rateLimitKey = Some(key),
        secondsPerTrigger = 4,
        sink = (stats, _) => {
          limitTrace += listener.currentLimit
          processed += stats.collect().map(_.getLong(2)).sum
        })
      q.processAllAvailable()
      q.stop()
    } finally {
      spark.streams.removeListener(listener)
      RateLimitRegistry.clear(key)
    }
    assert(processed == 3 * 4 * 2000L, s"lost or duplicated rows: $processed")
    // the controller reacted: the limit moved below its initial value at
    // some point (batches at 100 ms triggers always overrun with this
    // workload, so the PID must shrink)
    assert(limitTrace.nonEmpty)
    assert(limitTrace.min < 8000L, s"PID never adapted: $limitTrace")
  }

  /** Deterministic closed-loop simulation of the reference's scenario-2
    * spike experiment (test-runs-004/README.md): a source at `rate` rows/s
    * into batches of `triggerSec`, a processing capacity that halves
    * mid-run, scheduling delay accumulating whenever a batch overruns its
    * interval. Returns (rates, schedulingDelaysMs) per batch. */
  private def simulate(
      est: PidRateEstimator,
      batches: Int,
      capacity: Int => Double,
      initialRate: Double): (Vector[Double], Vector[Double]) = {
    val intervalMs = est.batchIntervalMs
    var rate = initialRate
    var schedDelay = 0.0
    var time = 0L
    val rates = Vector.newBuilder[Double]
    val delays = Vector.newBuilder[Double]
    (1 to batches).foreach { b =>
      time += intervalMs
      val elems = (rate * intervalMs / 1000).toLong
      val procMs = elems / capacity(b) * 1000
      schedDelay = math.max(0.0, schedDelay + procMs - intervalMs)
      est.compute(time, elems, procMs.toLong, schedDelay.toLong)
        .foreach(r => rate = r)
      rates += rate
      delays += schedDelay
    }
    (rates.result(), delays.result())
  }

  // 10k rows/s capacity, halved to 5k during batches 10-29, recovered after.
  private val SpikeCap: Int => Double =
    b => if (b >= 10 && b < 30) 5000.0 else 10000.0

  test("reference PID parity: integral term drains the spike backlog, P-only never does") {
    // The reference's documented comparison: PID(-1, -0.2, 0) recovers to
    // real-time after the spike; PID(-1, 0, 0) converges to the sustainable
    // rate but stays permanently late (the backlog is never drained).
    val (ratesPI, delaysPI) = simulate(
      new PidRateEstimator(1000L, proportional = 1.0, integral = 0.2, derivative = 0.0),
      80, SpikeCap, initialRate = 10000.0)
    val (ratesP, delaysP) = simulate(
      new PidRateEstimator(1000L, proportional = 1.0, integral = 0.0, derivative = 0.0),
      80, SpikeCap, initialRate = 10000.0)

    // both controllers survive the spike and re-reach the 10k capacity
    assert(math.abs(ratesPI.last - 10000.0) < 500.0, s"P+I end rate ${ratesPI.last}")
    assert(math.abs(ratesP.last - 10000.0) < 500.0, s"P end rate ${ratesP.last}")
    // both accumulate backlog at spike onset (batch 10 = index 9)
    assert(delaysPI(9) >= 500.0 && delaysP(9) >= 500.0,
      s"no backlog at onset: PI=${delaysPI(9)}, P=${delaysP(9)}")
    // the difference the reference documents: the integral term starts
    // draining the backlog DURING the spike (rate pushed below the
    // demonstrated capacity) and ends at ~0; proportional-only converges to
    // exactly the sustainable rate, so whatever lateness accumulated is
    // carried forever
    assert(delaysPI.last < 100.0,
      s"P+I should drain backlog, still ${delaysPI.last} ms late")
    assert(delaysP.last >= 400.0,
      s"P-only unexpectedly drained backlog to ${delaysP.last} ms")
    assert(delaysP.last > 10 * delaysPI.last,
      s"expected an order-of-magnitude gap: P=${delaysP.last}, PI=${delaysPI.last}")
  }

  test("first valid batch seeds the estimator and emits nothing") {
    // Upstream-parity contract: batch 1 only stores latestRate =
    // processingRate with latestError = 0 and returns None. The round-6 bug
    // seeded latestError from the -1.0 sentinel, so with any derivative
    // gain the second batch saw a huge spurious dError and slashed a
    // steady-state stream toward minRate with no capacity change.
    val est = new PidRateEstimator(
      1000L, proportional = 1.0, integral = 0.2, derivative = 1.0, minRate = 100.0)
    assert(est.compute(1000L, 10000L, 1000L, 0L).isEmpty, "first batch must not emit")
    // steady state exactly at capacity: the emitted rate must hold, not crash
    val r2 = est.compute(2000L, 10000L, 1000L, 0L)
    assert(r2.exists(r => math.abs(r - 10000.0) < 500.0),
      s"spurious derivative cut on a steady stream: $r2")
  }

  test("derivative term sharpens the first reaction to a sudden capacity drop") {
    def firstCut(d: Double): Double = {
      val (rates, _) = simulate(
        new PidRateEstimator(1000L, proportional = 1.0, integral = 0.2, derivative = d),
        12, SpikeCap, initialRate = 10000.0)
      // batch 10 is the first spiked batch: rate_9 - rate_10 is the
      // controller's immediate cut
      rates(8) - rates(9)
    }
    val cutNoD = firstCut(0.0)
    val cutD = firstCut(0.5)
    assert(cutNoD > 0.0 && cutD > cutNoD,
      s"derivative term should deepen the first cut: d=0 -> $cutNoD, d=0.5 -> $cutD")
  }

  test("estimator-mode listener steers the admission limit through a live spike") {
    // the same overrunning workload as the PID-controller case above
    val planText =
      """sequence = [
        |  { type = fixed, value = 14, rate = 2000, duration = 4 }
        |  { type = fixed, value = 16, rate = 2000, duration = 4 }
        |  { type = fixed, value = 14, rate = 2000, duration = 4 }
        |]""".stripMargin
    val key = "spike-est-spec"
    val listener = new PidRateListener(
      key, triggerMs = 100L, initialLimit = 8000L,
      estimator = Some(new PidRateEstimator(100L, 1.0, 0.2, 0.0, minRate = 200.0)))
    spark.streams.addListener(listener)
    val limitTrace = mutable.ArrayBuffer.empty[Long]
    var processed = 0L
    try {
      val q = StreamingStats.run(
        spark, planText,
        triggerMs = 100L,
        rateLimitKey = Some(key),
        secondsPerTrigger = 4,
        sink = (stats, _) => {
          limitTrace += listener.currentLimit
          processed += stats.collect().map(_.getLong(2)).sum
        })
      listener.attach(q)
      q.processAllAvailable()
      q.stop()
    } finally {
      spark.streams.removeListener(listener)
      RateLimitRegistry.clear(key)
    }
    assert(processed == 3 * 4 * 2000L, s"lost or duplicated rows: $processed")
    assert(limitTrace.nonEmpty)
    assert(limitTrace.min < 8000L, s"estimator never adapted: $limitTrace")
  }
}
