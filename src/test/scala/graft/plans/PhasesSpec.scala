package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** Golden tests ported (as oracles, expected values recomputed by hand) from
  * the reference's RampPhaseSpec.scala:13-71 and LoopPhaseSpec.scala:13-59 —
  * they pin the floor-diff bucket arithmetic and loop re-basing.
  */
class PhasesSpec extends AnyFunSuite {
  import PhasesSpec._

  test("ramp: constant output when startRate == endRate (25/s => t*40+30)") {
    val phase = RampPhase(12, 25, 25, 4)
    def expected(second: Int): List[TimedValues] =
      (0 until 25).map(t => TimedValues(second * 1000L + t * 40 + 30, List(12))).toList
    (0 until 4).foreach { second =>
      assert(phase.valuesFor(second) == expected(second), s"second $second")
    }
  }

  test("ramp: duration 1 uses startRate only") {
    val phase = RampPhase(12, 20, 25, 1)
    val expected = (0 until 20).map(t => TimedValues(t * 50L + 40, List(12))).toList
    assert(phase.valuesFor(0) == expected)
  }

  test("ramp: duration 2 uses startRate then endRate") {
    val phase = RampPhase(12, 10, 20, 2)
    val e0 = (0 until 10).map(t => TimedValues(t * 100L + 90, List(12))).toList
    val e1 = (0 until 20).map(t => TimedValues(1000L + t * 50 + 40, List(12))).toList
    assert(phase.valuesFor(0) == e0)
    assert(phase.valuesFor(1) == e1)
  }

  test("ramp: duration 3 hits the midpoint; pins double floor arithmetic") {
    val phase = RampPhase(12, 10, 40, 3)
    val e0 = (0 until 10).map(t => TimedValues(t * 100L + 90, List(12))).toList
    val e1 = (0 until 25).map(t => TimedValues(1000L + t * 40 + 30, List(12))).toList
    val e2 = (0 until 40).map(t =>
      TimedValues(2000L + t * 25 + (if (t * 25 % 10 == 0) 20 else 15), List(12))).toList
    assert(phase.valuesFor(0) == e0)
    assert(phase.valuesFor(1) == e1)
    assert(phase.valuesFor(2) == e2)
  }

  test("ramp: no data past duration") {
    assert(RampPhase(12, 5, 33, 6).valuesFor(6) == Nil)
  }

  test("ramp: linear ramp-up and ramp-down sizes") {
    val up = RampPhase(20, 12, 72, 6)
    val down = RampPhase(20, 72, 12, 6)
    (0 until 6).foreach { s =>
      assert(up.valuesFor(s).size == s * 12 + 12)
      assert(down.valuesFor(s).size == (5 - s) * 12 + 12)
    }
  }

  test("fixed: rate 10 => one item per 100ms bucket at t*100+90") {
    val phase = FixedPhase(3, 10, Some(2))
    val expected = (0 until 10).map(t => TimedValues(t * 100L + 90, List(3))).toList
    assert(phase.valuesFor(0) == expected)
    // reference quirk: fixed still emits at second == duration (strict <)
    assert(phase.valuesFor(2).nonEmpty)
    assert(phase.valuesFor(3) == Nil)
  }

  test("fixed: total rows per second equals rate") {
    for (rate <- List(1, 3, 7, 10, 25, 33, 99, 100, 1000, 50000)) {
      val n = FixedPhase(1, rate, None).valuesFor(0).map(_.values.size).sum
      assert(n == rate, s"rate $rate produced $n rows")
    }
  }

  test("cycle: values cycle across buckets within a second; multiset preserved") {
    val phase = CyclePhase(List(5, 6, 7), 10, Some(1))
    val flat = phase.valuesFor(0).flatMap(_.values)
    assert(flat == List(5, 6, 7, 5, 6, 7, 5, 6, 7, 5))
    // cycle uses <= bound: nothing at second == duration
    assert(phase.valuesFor(1) == Nil)
  }

  test("loop: infinite duration when times or an inner duration is absent") {
    assert(LoopPhase(None, Nil).duration.isEmpty)
    val p = LoopPhase(Some(2), List(FixedPhase(5, 4, None), FixedPhase(4, 5, Some(2))))
    assert(p.duration.isEmpty)
  }

  test("loop: repeat one phase (seconds 0 to 6 incl. boundary quirk)") {
    val phase = LoopPhase(Some(3), List(FixedPhase(3, 10, Some(2))))
    def expected(second: Int): List[TimedValues] =
      (0 until 10).map(t => TimedValues(second * 1000L + t * 100 + 90, List(3))).toList
    (0 to 6).foreach { second =>
      assert(phase.valuesFor(second) == expected(second), s"second $second")
    }
  }

  test("loop: repeat two phases with loop re-basing (seconds 0 to 15)") {
    val phase = LoopPhase(Some(3),
      List(FixedPhase(3, 10, Some(2)), FixedPhase(4, 5, Some(3))))
    def e1(second: Int): List[TimedValues] =
      (0 until 10).map(t => TimedValues(second * 1000L + t * 100 + 90, List(3))).toList
    def e2(second: Int): List[TimedValues] =
      (0 until 5).map(t => TimedValues(second * 1000L + t * 200 + 190, List(4))).toList
    (0 to 15).foreach { second =>
      val expected = if (second % 5 <= 1) e1(second) else e2(second)
      assert(phase.valuesFor(second) == expected, s"second $second")
    }
  }

  test("plan: duration algebra and phase dispatch with time shifting") {
    val plan = TestPlan(List(
      NoopPhase(Some(2)),
      FixedPhase(7, 10, Some(3)),
      RampPhase(9, 10, 20, 2)))
    assert(plan.duration.contains(7))
    assert(plan.valuesFor(0) == Nil)
    assert(plan.valuesFor(1) == Nil)
    // second 2 = fixed phase local second 0, shifted +2000ms
    val atTwo = plan.valuesFor(2)
    assert(atTwo == (0 until 10).map(t => TimedValues(2000L + t * 100 + 90, List(7))).toList)
    // second 5 = ramp local 0 (noop 2 + fixed 3)
    val atFive = plan.valuesFor(5)
    assert(atFive.forall(_.values == List(9)))
    assert(atFive.map(_.values.size).sum == 10)
    assert(plan.valuesFor(6).map(_.values.size).sum == 20)
    assert(!plan.isDoneAt(6) && plan.isDoneAt(7))
    // plan with an unbounded phase has no duration
    assert(TestPlan(List(FixedPhase(1, 1, None))).duration.isEmpty)
  }

  /** One reader's rows, filled into a fresh buffer. */
  private def share(fill: RowBuffer => Unit): Seq[(Long, Int)] = {
    val buf = new RowBuffer
    fill(buf)
    (0 until buf.size).map(i => (buf.timeMs(i), buf.value(i)))
  }

  /** The union of the n shares is `expected` as a multiset, and every row
    * of share p lies in one of p's buckets (p, p + n, …). */
  private def assertSplits(expected: Seq[(Long, Int)], n: Int, ctx: String)(
      fill: (Int, RowBuffer) => Unit): Unit = {
    val shares = (0 until n).map(p => share(fill(p, _)))
    shares.zipWithIndex.foreach { case (rows, p) =>
      rows.foreach { case (t, _) =>
        assert(((t % 1000) / BucketMath.BucketMs) % n == p, s"$ctx: row at $t ms in reader $p of $n")
      }
    }
    assert(shares.flatten.sorted == expected.sorted, s"$ctx, n = $n")
  }

  test("fillRows: the readers' shares of each second are rowsFor as a multiset") {
    val plan = PlanParser.parse(ParityPlanText)
    for (n <- ParityReaders; second <- 0 to plan.duration.get)
      assertSplits(plan.rowsFor(second), n, s"second $second")((p, buf) =>
        plan.fillRows(second, p, n, buf))
  }

  test("fillRows: every phase kind matches valuesFor, duration-boundary quirks included") {
    val phases = PlanParser.parse(ParityPlanText).phases
    for (phase <- phases; n <- ParityReaders; second <- 0 to phase.duration.get + 1)
      assertSplits(phase.valuesFor(second).flatMap(tv => tv.values.map(v => (tv.timeMs + 5000L, v))),
        n, s"$phase second $second")((p, buf) => phase.fillRows(second, p, n, 5000L, buf))
  }

  test("fillRows: a refill replaces the buffer and grows it past its first capacity") {
    val plan = TestPlan(List(FixedPhase(1, 50000, Some(1)), FixedPhase(2, 10, Some(1))))
    val buf = new RowBuffer
    plan.fillRows(0, 0, 1, buf)
    assert(buf.size == 50000 && buf.value(49999) == 1 && buf.timeMs(49999) == 990L)
    plan.fillRows(1, 0, 1, buf)
    assert(buf.size == 10 && (0 until 10).map(buf.value).forall(_ == 2))
    intercept[IllegalArgumentException](plan.fillRows(0, 1, 1, buf))
  }
}

object PhasesSpec {
  /** Every phase kind, including a loop nested in a loop, at rate 3 (the
    * double-rounding edge: 3/100 per bucket) and at rate 1234 (buckets of
    * 12 and 13 rows); ramps run from the rate to three times it. */
  val ParityPlanText: String = Seq(3, 1234).map { rate =>
    s"""  { type = noop, duration = 1 }
       |  { type = fixed, value = 3, rate = $rate, duration = 2 }
       |  { type = ramp, startRate = $rate, endRate = ${rate * 3}, value = 5, duration = 3 }
       |  { type = cycle, values = [1, 2, 8], rate = $rate, duration = 2 }
       |  { type = loop, times = 2, phases = [
       |      { type = fixed, value = 9, rate = $rate, duration = 1 }
       |      { type = loop, times = 2, phases = [
       |          { type = cycle, values = [2, 3, 5], rate = $rate, duration = 1 } ] } ] }""".stripMargin
  }.mkString("sequence = [\n", "\n", "\n]")

  /** Reader counts: one, odd, the bench's four, prime, every bucket its
    * own reader, and more readers than buckets. */
  val ParityReaders: Seq[Int] = Seq(1, 3, 4, 7, 100, 128)
}
