package graft.plans

import scala.annotation.tailrec

/** A burst of integer values scheduled at a time offset (ms from plan
  * start, 10 ms resolution). Mirrors the reference's `DataAtTime`
  * (reference: testbed/app/com/typesafe/spark/testbed/DataGenerator.scala:6-14).
  */
final case class TimedValues(timeMs: Long, values: List[Int]) {
  def shift(deltaMs: Long): TimedValues = copy(timeMs = timeMs + deltaMs)
}

/** The 10-ms bucket allocator shared by all rate phases.
  *
  * Bucket `i` (of 100 per second) receives
  * `floor((i+1)*r/100) - floor(i*r/100)` items, evaluated in *double*
  * arithmetic — the reference's golden specs pin the double rounding
  * (e.g. 3 * 0.3 = 0.8999… floors to 0), so an exact integer derivation
  * would diverge. (reference: FixedPhase.scala:11-14, RampPhaseSpec.scala:40-51)
  */
object BucketMath {
  val BucketsPerSecond = 100
  val BucketMs = 10

  def inBucket(i: Int, ratePerSecond: Double): Int = {
    val r10 = ratePerSecond / 100d
    ((i + 1) * r10).toInt - (i * r10).toInt
  }

  /** One second's buckets at `rate`; `mk(alreadyEmitted, n)` chooses the
    * `n` values of a bucket given how many items this second already got.
    */
  def bucketsFor(second: Int, rate: Double)(mk: (Int, Int) => List[Int]): List[TimedValues] = {
    val acc = List.newBuilder[TimedValues]
    var emitted = 0
    var i = 0
    while (i < BucketsPerSecond) {
      val n = inBucket(i, rate)
      if (n > 0) acc += TimedValues(second * 1000L + i * BucketMs, mk(emitted, n))
      emitted += n
      i += 1
    }
    acc.result()
  }

  /** Appends the rows of buckets `part, part + n, …` of one second at
    * `rate` to `out`, bucket `i` at `baseMs + i * BucketMs`. Bucket `i`'s
    * first element is `floor(i * rate/100)`: the prefix sum of
    * [[inBucket]] telescopes in the same double arithmetic, so
    * `valueAt(element)` sees the element index [[bucketsFor]]' `mk` would,
    * and the union over `part = 0 until n` is that second's rows. */
  def fill(baseMs: Long, rate: Double, part: Int, n: Int, out: RowBuffer)(valueAt: Int => Int): Unit = {
    val r10 = rate / 100d
    var i = part
    while (i < BucketsPerSecond) {
      val end = ((i + 1) * r10).toInt
      var k = (i * r10).toInt
      if (k < end) {
        out.reserve(end - k)
        val t = baseMs + i * BucketMs
        while (k < end) { out.put(t, valueAt(k)); k += 1 }
      }
      i += n
    }
  }

  /** Total rows a second yields at `rate` — Σ inBucket telescopes to
    * floor(100 * (rate/100)) term-by-term in the same double arithmetic,
    * so this is exactly Σ inBucket(i, rate) without the loop. */
  def rowsPerSecond(rate: Double): Int = (100 * (rate / 100d)).toInt
}

/** Reused primitive storage for the rows of one reader's share of one
  * plan-second ([[TestPlan.fillRows]]): `size` rows of (`timeMs(i)`,
  * `value(i)`). The arrays grow to the largest share seen and are never
  * shrunk, so a reader that refills one buffer per plan-second allocates
  * nothing per row. */
final class RowBuffer {
  private var times = new Array[Long](256)
  private var values = new Array[Int](256)
  private var n = 0

  def size: Int = n
  def timeMs(i: Int): Long = times(i)
  def value(i: Int): Int = values(i)

  private[plans] def clear(): Unit = n = 0
  private[plans] def reserve(extra: Int): Unit =
    if (n + extra > times.length) {
      val cap = math.max(n + extra, times.length * 2)
      times = java.util.Arrays.copyOf(times, cap)
      values = java.util.Arrays.copyOf(values, cap)
    }
  /** Callers [[reserve]] first. */
  private[plans] def put(timeMs: Long, value: Int): Unit = {
    times(n) = timeMs
    values(n) = value
    n += 1
  }
}

/** One rate phase of a test plan. `valuesFor` is a *pure* function of the
  * phase-relative second — this purity is what lets the Spark generator
  * source be deterministic and replayable at any offset.
  */
sealed trait Phase extends Serializable {
  /** Seconds this phase lasts; None = unbounded. */
  def duration: Option[Int]
  /** Scheduled values for phase-relative `second` (0-based). */
  def valuesFor(second: Int): List[TimedValues]
  /** Row count of `valuesFor(second)` without materializing it — admission
    * control calls this once per plan-second per trigger, and building the
    * full value list there (e.g. 50k tuples/s) was pure allocation waste.
    * Exact by the telescoping bucket sum ([[BucketMath.rowsPerSecond]]). */
  def rowCountFor(second: Int): Int
  /** Appends the rows of buckets `part, part + n, …` of `valuesFor(second)`,
    * times shifted by `offsetMs`, to `out` — the allocation-free twin of
    * `valuesFor` that plan-gen readers call. */
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit
}

/** Emits nothing for `duration` seconds (time offset only).
  * (reference: TestPhase.scala:35-38) */
final case class NoopPhase(duration: Option[Int]) extends Phase {
  def valuesFor(second: Int): List[TimedValues] = Nil
  def rowCountFor(second: Int): Int = 0
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit = ()
}

/** Constant `rate` items/s of a constant `value`. The reference keeps
  * emitting at `second == duration` (strict `<` bound check,
  * FixedPhase.scala:8) — preserved, its LoopPhase golden spec depends on it. */
final case class FixedPhase(value: Int, rate: Int, duration: Option[Int]) extends Phase {
  def valuesFor(second: Int): List[TimedValues] =
    if (duration.exists(_ < second)) Nil
    else BucketMath.bucketsFor(second, rate.toDouble)((_, n) => List.fill(n)(value))
  def rowCountFor(second: Int): Int =
    if (duration.exists(_ < second)) 0 else BucketMath.rowsPerSecond(rate.toDouble)
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit =
    if (!duration.exists(_ < second))
      BucketMath.fill(offsetMs + second * 1000L, rate.toDouble, part, n, out)(_ => value)
}

/** Linear rate interpolation from `startRate` to `endRate` over `durationSec`
  * seconds (inclusive endpoints; duration 1 uses startRate only).
  * (reference: RampPhase.scala:9-31) */
final case class RampPhase(value: Int, startRate: Int, endRate: Int, durationSec: Int) extends Phase {
  def duration: Option[Int] = Some(durationSec)
  private def rateAt(second: Int): Double =
    if (durationSec == 1) startRate.toDouble
    else startRate + (endRate - startRate) / (durationSec - 1d) * second
  def valuesFor(second: Int): List[TimedValues] =
    if (second >= durationSec) Nil
    else BucketMath.bucketsFor(second, rateAt(second))((_, n) => List.fill(n)(value))
  def rowCountFor(second: Int): Int =
    if (second >= durationSec) 0 else BucketMath.rowsPerSecond(rateAt(second))
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit =
    if (second < durationSec)
      BucketMath.fill(offsetMs + second * 1000L, rateAt(second), part, n, out)(_ => value)
}

/** Constant rate cycling through `values` round-robin across the second's
  * buckets; the element counter advances across buckets within a second and
  * resets each second. (reference: CyclePhase.scala:7-26) */
final case class CyclePhase(values: List[Int], rate: Int, duration: Option[Int]) extends Phase {
  require(values.nonEmpty, "cycle phase needs at least one value")
  private val cycle = values.toArray
  def valuesFor(second: Int): List[TimedValues] =
    if (duration.exists(_ <= second)) Nil
    else BucketMath.bucketsFor(second, rate.toDouble)((offset, n) =>
      List.tabulate(n)(x => values((offset + x) % values.size)))
  def rowCountFor(second: Int): Int =
    if (duration.exists(_ <= second)) 0 else BucketMath.rowsPerSecond(rate.toDouble)
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit =
    if (!duration.exists(_ <= second))
      BucketMath.fill(offsetMs + second * 1000L, rate.toDouble, part, n, out)(k => cycle(k % cycle.length))
}

/** Sequential phase composition: map an absolute second to the active phase
  * and its phase-relative second by walking cumulative durations; an
  * unbounded phase absorbs everything after it.
  * (reference: PhaseContainer.scala:12-50) */
final case class PhaseSeq(phases: List[Phase]) extends Serializable {
  /** None if any member is unbounded. */
  lazy val totalDuration: Option[Int] =
    if (phases.exists(_.duration.isEmpty)) None
    else Some(phases.flatMap(_.duration).sum)

  def activePhase(second: Int): Option[(Phase, Int)] = {
    @tailrec def go(ps: List[Phase], rem: Int): Option[(Phase, Int)] = ps match {
      case p :: rest =>
        p.duration match {
          case Some(d) if d <= rem => go(rest, rem - d)
          case _                   => Some((p, rem))
        }
      case Nil => None
    }
    go(phases, second)
  }

  def valuesFor(second: Int): List[TimedValues] =
    activePhase(second) match {
      case Some((p, local)) =>
        p.valuesFor(local).map(_.shift((second - local) * 1000L))
      case None => Nil
    }

  def rowCountFor(second: Int): Int =
    activePhase(second).map { case (p, local) => p.rowCountFor(local) }.getOrElse(0)

  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit =
    activePhase(second).foreach { case (p, local) =>
      p.fillRows(local, part, n, offsetMs + (second - local) * 1000L, out)
    }
}

/** Repeats its inner phase sequence `times` times (unbounded if None):
  * position-in-loop via modulo, emitted times re-based by the completed
  * loops' offset. (reference: LoopPhase.scala:5-29) */
final case class LoopPhase(times: Option[Int], phases: List[Phase]) extends Phase {
  private val seq = PhaseSeq(phases)
  lazy val duration: Option[Int] =
    for { t <- times; d <- seq.totalDuration } yield t * d

  def valuesFor(second: Int): List[TimedValues] =
    if (duration.exists(_ < second)) Nil
    else {
      val inLoop = seq.totalDuration.map(second % _).getOrElse(second)
      val beforeSec = seq.totalDuration.map(d => (second / d) * d).getOrElse(0)
      seq.valuesFor(inLoop).map(_.shift(beforeSec * 1000L))
    }
  def rowCountFor(second: Int): Int =
    if (duration.exists(_ < second)) 0
    else seq.rowCountFor(seq.totalDuration.map(second % _).getOrElse(second))
  def fillRows(second: Int, part: Int, n: Int, offsetMs: Long, out: RowBuffer): Unit =
    if (!duration.exists(_ < second)) {
      val inLoop = seq.totalDuration.map(second % _).getOrElse(second)
      val beforeSec = seq.totalDuration.map(d => (second / d) * d).getOrElse(0)
      seq.fillRows(inLoop, part, n, offsetMs + beforeSec * 1000L, out)
    }
}

/** A whole test plan: the phase sequence plus duration algebra (sum of
  * durations; None if any phase is unbounded).
  * (reference: TestPlan.scala:7-12, DataGenerator.scala:16-23) */
final case class TestPlan(phases: List[Phase]) extends Serializable {
  private val seq = PhaseSeq(phases)
  lazy val duration: Option[Int] = seq.totalDuration
  def valuesFor(second: Int): List[TimedValues] = seq.valuesFor(second)
  def isDoneAt(second: Int): Boolean = duration.exists(_ <= second)

  /** Rows generated for `second`, exploded to (timeMs, value) pairs — the
    * reference-parity oracle that [[fillRows]] is checked against; no
    * generator calls it. */
  def rowsFor(second: Int): List[(Long, Int)] =
    valuesFor(second).flatMap(tv => tv.values.map(v => (tv.timeMs, v)))

  /** Count of [[rowsFor]] without materializing it (admission control). */
  def rowCountFor(second: Int): Int = seq.rowCountFor(second)

  /** Replaces `out`'s contents with reader `part`'s share (of `n`) of
    * `second`: the rows of its 10 ms buckets `part, part + n, …`. Over
    * `part = 0 until n` the shares are [[rowsFor]]`(second)` as a
    * multiset, and every reader holds a share of every second, so n
    * readers of a range of seconds split its value mix evenly. */
  def fillRows(second: Int, part: Int, n: Int, out: RowBuffer): Unit = {
    require(0 <= part && part < n, s"reader $part of $n")
    out.clear()
    seq.fillRows(second, part, n, 0L, out)
  }
}
