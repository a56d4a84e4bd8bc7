package graft.operators

import org.apache.spark.sql.functions._
import graft.Q
import graft.plans.{BucketMath, PlanParser}
import graft.sources.PlanGenerator
import graft.streaming.StreamingStats

/** Registry entries exercising the plan-driven generator and the per-batch
  * stats pipeline in batch form.
  *
  * The two generator-fidelity gates carry CLOSED-FORM oracles: the plan's
  * per-second row counts have the telescoping identity
  * `rowsPerSecond(rate) = floor(100 * rate/100)` (BucketMath.scala), so
  * the expected table is derived arithmetically per phase — ramp rates
  * interpolated with the same double expression the phase uses — and
  * registered as a DuckDB VALUES literal, independent of the generator
  * pipeline under test. q_stream_batch_stats stays rows-only (its
  * exactness is pinned by StreamingStatsSpec golden cells).
  */
object GeneratorQueries {

  /** (absolute second, rows) for [[Scenario1Scaled]]: 2 s noop, 30 s ramp
    * 100→5000 (inclusive endpoints, reference RampPhase.scala:9-31), 60 s
    * fixed 5000. */
  private val scenario1PerSecond: Seq[(Int, Int)] = {
    val ramp = (0 until 30).map(s =>
      (2 + s, BucketMath.rowsPerSecond(100 + (5000 - 100) / 29d * s)))
    val fixed = (0 until 60).map(s => (32 + s, 5000))
    ramp ++ fixed
  }

  /** Scaled-down scenario-1 (reference test-runs-004): noop, ramp-up,
    * sustained fixed phase. */
  val Scenario1Scaled: String =
    """sequence = [
      |  { type = noop, duration = 2 }
      |  { type = ramp, startRate = 100, endRate = 5000, value = 7, duration = 30 }
      |  { type = fixed, value = 7, rate = 5000, duration = 60 }
      |]""".stripMargin

  private val Mixed: String =
    """sequence = [
      |  { type = fixed, value = 4, rate = 1000, duration = 10 }
      |  { type = cycle, values = [5, 5, 5, 7, 5, 5, 5], rate = 1000, duration = 10 }
      |  { type = loop, times = 3, phases = [
      |      { type = fixed, value = 5, rate = 100, duration = 2 }
      |      { type = fixed, value = 6, rate = 50, duration = 3 } ] }
      |]""".stripMargin

  /** Generator fidelity: per-value totals and event-time span. First event
    * = ramp second 0's first occupied bucket (rate 100 → bucket 0); last =
    * the final fixed second's bucket 99. */
  val qGenCounts: Q = Q(
    "q_gen_plan_counts",
    s"""SELECT 7 AS value, CAST(${scenario1PerSecond.map(_._2.toLong).sum} AS BIGINT) AS "rows",
       |  epoch_ms(2000) AS first_event, epoch_ms(91990) AS last_event""".stripMargin) { (s, _) =>
    PlanGenerator.generate(s, PlanParser.parse(Scenario1Scaled))
      .groupBy("value")
      .agg(
        count(lit(1)).as("rows"),
        min("event_time").as("first_event"),
        max("event_time").as("last_event"))
  }

  /** Per-second generated rate (the reference's tick.log view). */
  val qGenRate: Q = Q(
    "q_gen_rate_per_second",
    s"""SELECT epoch_ms(CAST(s AS BIGINT) * 1000) AS second, CAST(n AS BIGINT) AS "rows"
       |FROM (VALUES ${scenario1PerSecond.map { case (s, n) => s"($s,$n)" }.mkString(",")}) t(s, n)""".stripMargin) { (s, _) =>
    PlanGenerator.generate(s, PlanParser.parse(Scenario1Scaled))
      .groupBy(window(col("event_time"), "1 second"))
      .agg(count(lit(1)).as("rows"))
      .select(col("window.start").as("second"), col("rows"))
  }

  /** The streaming query's aggregation in batch form over a mixed plan,
    * with the deterministic identity metric so values are checkable. */
  val qStreamStats: Q = Q.noOracle("q_stream_batch_stats") { (s, _) =>
    val gen = PlanGenerator.generate(s, PlanParser.parse(Mixed))
      .withColumn("hanoi_ms", col("value").cast("long"))
    StreamingStats.batchStats(gen)
  }

  /** Fixed/loop-only plan: per-value row counts are trivially closed-form
    * (duration × rate, rates multiple of 100's bucket math identity), with
    * no cycle-distribution arithmetic to re-derive. */
  private[graft] val DetPlan: String =
    """sequence = [
      |  { type = fixed, value = 4, rate = 1000, duration = 10 }
      |  { type = fixed, value = 7, rate = 50, duration = 3 }
      |  { type = loop, times = 3, phases = [
      |      { type = fixed, value = 5, rate = 100, duration = 2 } ] }
      |]""".stripMargin

  /** The flagship streaming aggregation, value-exact: the REAL Hanoi solver
    * runs per element (same Θ(2^value) CPU work the reference measures),
    * but the aggregated metric is its deterministic MOVE COUNT (2^v - 1),
    * so every stat has a closed form — cnt = Σ duration×rate per value,
    * sum = cnt·(2^v-1), mean = 2^v-1 exactly (a constant per group), and
    * stddev_pop = 0 exactly (Welford's m2 accumulates zero deltas).
    * Column names keep [[StreamingStats.batchStats]]'s *_ms contract. */
  val qStreamStatsDet: Q = Q(
    "q_stream_batch_stats_det",
    """SELECT * FROM (VALUES
      |  (CAST(4 AS INT), CAST(0 AS INT), CAST(10000 AS BIGINT), CAST(150000 AS BIGINT), CAST(15.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
      |  (CAST(5 AS INT), CAST(0 AS INT), CAST(600 AS BIGINT), CAST(18600 AS BIGINT), CAST(31.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
      |  (CAST(7 AS INT), CAST(0 AS INT), CAST(150 AS BIGINT), CAST(19050 AS BIGINT), CAST(127.0 AS DOUBLE), CAST(0.0 AS DOUBLE))
      |) t(value, stream_id, cnt, sum_ms, mean_ms, stddev_ms)""".stripMargin) { (s, _) =>
    val gen = PlanGenerator.generate(s, PlanParser.parse(DetPlan))
      .withColumn("hanoi_ms", graft.functions.Hanoi.hanoiMoves(col("value")))
    StreamingStats.batchStats(gen)
  }

  val all: Seq[Q] = Seq(qGenCounts, qGenRate, qStreamStats, qStreamStatsDet)
}
