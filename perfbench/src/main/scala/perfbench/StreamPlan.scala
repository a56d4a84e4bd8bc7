package perfbench

import graft.plans.{PlanParser, TestPlan}

/** A seeded streaming input: one plan-second per value, each a one-second
  * fixed-rate phase, so the seed sets the order of the reference value mix
  * and every count has a closed form from [[TestPlan.rowCountFor]]. */
final case class StreamPlan(values: IndexedSeq[Int], rate: Int) {
  val text: String =
    values.map(v => s"{ type = fixed, value = $v, rate = $rate, duration = 1 }")
      .mkString("sequence = [\n", "\n", "\n]")
  lazy val plan: TestPlan = PlanParser.parse(text)
  def seconds: Int = values.size
  lazy val rowsPerSecond: Long = plan.rowCountFor(0).toLong
  lazy val totalRows: Long = (0 until seconds).map(plan.rowCountFor(_).toLong).sum

  /** Closed-form Σcnt per value over plan-seconds [from, until). */
  def expectedCounts(from: Int, until: Int): Map[Int, Long] =
    (from until until).groupMapReduce(values)(plan.rowCountFor(_).toLong)(_ + _)
}

object StreamPlan {
  /** Each block of this many plan-seconds holds one second at value 8
    * (2^8 Hanoi moves, about twice the per-row cost of the baseline value
    * 7) and the rest at 7; a trailing partial block is all 7. The 1-in-5
    * share is the benchmark's own choice: the reference's spike scenario
    * is a contiguous 7 -> 8 -> 7 run whose phase lengths the repository
    * does not record. Fixing the count per block keeps every drain batch
    * (40 plan-seconds) at the same mix, so the seed moves only the order. */
  val Block = 5

  def seeded(seed: Long, seconds: Int, rate: Int): StreamPlan = {
    val rnd = new scala.util.Random(seed)
    val values = (0 until seconds).grouped(Block).flatMap { b =>
      val eight = if (b.size == Block) rnd.nextInt(Block) else -1
      b.indices.map(i => if (i == eight) 8 else 7)
    }
    StreamPlan(values.toVector, rate)
  }

  /** Plan-seconds admitted per batch under a `maxRows` cap: whole seconds
    * while they fit, and at least one (the source's admission rule). */
  def batches(plan: StreamPlan, maxRows: Long): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var start = 0
    while (start < plan.seconds) {
      var end = start + 1
      var rows = plan.plan.rowCountFor(start).toLong
      while (end < plan.seconds && rows + plan.plan.rowCountFor(end) <= maxRows) {
        rows += plan.plan.rowCountFor(end); end += 1
      }
      out += ((start, end)); start = end
    }
    out.result()
  }
}
