package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.{BucketMath, PhasesSpec, PlanParser}

class PlanSourceSpec extends SparkSpec {

  private val planText =
    """sequence = [
      |  { type = fixed, value = 3, rate = 100, duration = 2 }
      |  { type = ramp, startRate = 10, endRate = 50, value = 5, duration = 3 }
      |  { type = cycle, values = [1, 2], rate = 10, duration = 2 }
      |]""".stripMargin
  private val plan = PlanParser.parse(planText)
  private val expectedTotal =
    (0 until plan.duration.get).map(s => plan.rowsFor(s).size).sum

  test("batch read through the DSv2 source matches the direct generator") {
    val viaSource = spark.read.format("plan-gen").option("plan", planText).load()
    val direct = PlanGenerator.generate(spark, plan)
    assert(viaSource.count() == expectedTotal)
    assert(viaSource.count() == direct.count())
    val a = viaSource.groupBy("value").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = direct.groupBy("value").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b)
    // event_time parity too (FixedPhase at rate 100 ⇒ first bucket at 0ms)
    assert(viaSource.agg(min("event_time")).head.getTimestamp(0).getTime ==
      direct.agg(min("event_time")).head.getTimestamp(0).getTime)
  }

  test("streaming read delivers the whole plan exactly once") {
    val q = spark.readStream.format("plan-gen")
      .option("plan", planText)
      .option("secondsPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("plan_all").start()
    try {
      q.processAllAvailable()
      val got = spark.table("plan_all")
      assert(got.count() == expectedTotal)
      val perValue = got.groupBy("value").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = (0 until plan.duration.get)
        .flatMap(plan.rowsFor).groupBy(_._2).map { case (v, l) => v -> l.size.toLong }
      assert(perValue == expected)
    } finally q.stop()
  }

  test("maxRowsPerTrigger caps micro-batch size (admission control)") {
    val q = spark.readStream.format("plan-gen")
      .option("plan", planText)
      .option("secondsPerTrigger", "10") // would take everything without cap
      .option("maxRowsPerTrigger", "120")
      .load()
      .writeStream.format("memory").queryName("plan_capped").start()
    try {
      q.processAllAvailable()
      assert(spark.table("plan_capped").count() == expectedTotal)
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.length >= 3, s"expected several capped batches, got ${sizes.toSeq}")
      // one second may overshoot the cap (second = offset granularity);
      // rate is ≤100/s here so the bound is cap + 100
      assert(sizes.forall(_ <= 220), s"batch exceeded cap+slack: ${sizes.toSeq}")
    } finally q.stop()
  }

  test("dynamic rate limit from the registry is honored") {
    RateLimitRegistry.set("spec-key", 50)
    try {
      val q = spark.readStream.format("plan-gen")
        .option("plan", planText)
        .option("secondsPerTrigger", "10")
        .option("rateLimitKey", "spec-key")
        .load()
        .writeStream.format("memory").queryName("plan_dyn").start()
      try {
        q.processAllAvailable()
        assert(spark.table("plan_dyn").count() == expectedTotal)
        val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
        assert(sizes.forall(_ <= 150), s"dynamic cap ignored: ${sizes.toSeq}")
      } finally q.stop()
    } finally RateLimitRegistry.clear("spec-key")
  }

  /** (reader, time ms, value) of every row a batch read with `n` readers
    * returns; the scan's partitions are its readers. */
  private def readerRows(text: String, n: Int): Array[(Int, Long, Int)] = {
    val df = spark.read.format("plan-gen").option("plan", text)
      .option("numPartitions", n).load()
    assert(df.rdd.getNumPartitions == math.min(n, BucketMath.BucketsPerSecond), s"n = $n")
    df.select(spark_partition_id(), unix_millis(col("event_time")), col("value")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
  }

  test("readers split every plan-second by bucket; their union is rowsFor per second") {
    val parity = PlanParser.parse(PhasesSpec.ParityPlanText)
    for (n <- PhasesSpec.ParityReaders) {
      val rows = readerRows(PhasesSpec.ParityPlanText, n)
      val readers = math.min(n, BucketMath.BucketsPerSecond)
      rows.foreach { case (p, t, _) =>
        assert(((t % 1000) / BucketMath.BucketMs) % readers == p, s"row at $t ms in reader $p of $readers")
      }
      val bySecond = rows.toSeq.map { case (_, t, v) => (t, v) }.groupBy(_._1 / 1000)
      (0 until parity.duration.get).foreach { s =>
        assert(bySecond.getOrElse(s.toLong, Nil).sorted == parity.rowsFor(s).sorted, s"second $s, n = $n")
      }
      assert(bySecond.keySet.forall(s => s >= 0 && s < parity.duration.get))
    }
  }

  test("drain-shaped batch: every reader gets 1/n of each value, within one bucket") {
    // 40 one-second phases at the drain rate, one second in each block of
    // five at value 8; the 8s sit at 0, 7, 14, 16, 23, 25, 32 and 39, which
    // striping whole seconds (s % 4) dealt 3/1/1/3 to four readers
    val rate = 50000
    val values = (0 until 40).map(s => if (s % 5 == (s / 5 * 2) % 5) 8 else 7)
    assert(values.count(_ == 8) == 8)
    val text = values.map(v => s"{ type = fixed, value = $v, rate = $rate, duration = 1 }")
      .mkString("sequence = [\n", "\n", "\n]")
    val n = 4
    val counts = spark.read.format("plan-gen").option("plan", text)
      .option("numPartitions", n).load()
      .groupBy(spark_partition_id().as("reader"), col("value")).count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bucket = rate / BucketMath.BucketsPerSecond
    for (v <- Seq(7, 8); p <- 0 until n) {
      val share = values.count(_ == v).toLong * rate / n
      val got = counts.getOrElse((p, v), 0L)
      assert(math.abs(got - share) <= bucket, s"reader $p holds $got rows of value $v, 1/n is $share")
    }
  }

  test("row reuse: a non-codegen batch collect returns distinct, correct rows") {
    val key = "spark.sql.codegen.wholeStage"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val got = spark.read.format("plan-gen").option("plan", planText)
        .option("streamId", 3).option("startEpochMs", 1000000L).load().collect()
        .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2))).toSeq
      val expected = (0 until plan.duration.get).flatMap(plan.rowsFor)
        .map { case (t, v) => (t + 1000000L, v, 3) }
      assert(got.sorted == expected.sorted)
      assert(got.distinct.size == got.size, "rows of distinct buckets came back equal")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("row reuse: each reader row copies whole (its size covers every field)") {
    val reader = new PlanReader(PlanInputPartition(plan, 0, plan.duration.get, 0, 1, 1000000L, 3))
    val copies = Iterator.continually(reader).takeWhile(_.next()).map(_.get().copy()).toList
    val got = copies.map(r => (r.getLong(0) / 1000L, r.getInt(1), r.getInt(2)))
    val expected = (0 until plan.duration.get).flatMap(plan.rowsFor)
      .map { case (t, v) => (t + 1000000L, v, 3) }
    assert(got.sorted == expected.sorted)
  }
}
