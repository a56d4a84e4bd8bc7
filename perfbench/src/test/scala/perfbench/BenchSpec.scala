package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Q, SparkEntry}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Main.session(2)

  override def afterAll(): Unit = Main.stop(spark)

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.supports(100, 90) && !Stats.supports(99, 90))
    assert(Stats.supports(40, 75) && !Stats.supports(39, 75))
    assert(Stats.supports(29, Main.TailPercentile) && !Stats.supports(28, Main.TailPercentile))
    assert(Stats.highestSupported(52).contains(75.0))
    assert(Stats.highestSupported(29).contains(65.0))
    assert(Stats.highestSupported(9).isEmpty)
  }

  test("percentiles are nearest-rank and medians interpolate") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 75) == 75.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("paced latency runs from the due time of the oldest admitted second") {
    val clock = SlotClock.startingAt(1000450L, 400L)
    assert(clock.baseMs == 1000400L)
    assert(clock.due(3) == 1001600L)
    def batch(from: Int, until: Int, end: Double) = BatchRecord(0L, from, until, end, 1.0, ok = true)
    assert(clock.latencyMs(batch(3, 4, 1001650L)).contains(50.0))
    // a backlog of three seconds is timed from the first of them
    assert(clock.latencyMs(batch(3, 6, 1002450L)).contains(850.0))
    assert(clock.latencyMs(batch(0, 1, 1000500L)).isEmpty)
  }

  test("closed-form counts equal the generated rows") {
    val p = StreamPlan.seeded(5L, 12, 3000)
    val generated = (0 until p.seconds).flatMap(p.plan.rowsFor).groupMapReduce(_._2)(_ => 1L)(_ + _)
    assert(p.expectedCounts(0, p.seconds) == generated)
    assert(p.totalRows == generated.values.sum)
    assert(p.expectedCounts(3, 5).values.sum == 2 * p.rowsPerSecond)
  }

  test("drain batches split the plan under the row cap") {
    val p = StreamPlan.seeded(1L, 10, 1000)
    assert(StreamPlan.batches(p, 4000L) == Seq((0, 4), (4, 8), (8, 10)))
    assert(StreamPlan.batches(p, 10L) == (0 until 10).map(s => (s, s + 1)))
  }

  test("the seed alone sets the value order and the query order") {
    val a = StreamPlan.seeded(7L, 50, 100)
    assert(a == StreamPlan.seeded(7L, 50, 100))
    assert(a.values != StreamPlan.seeded(8L, 50, 100).values)
    assert(a.values.grouped(StreamPlan.Block).forall(_.count(_ == 8) == 1))
    assert(StreamPlan.seeded(7L, 7, 100).values.drop(5) == Seq(7, 7))
    val names = SparkEntry.registry.map(_.name)
    assert(Registry.order(names, 7L) == Registry.order(names, 7L))
    assert(Registry.order(names, 7L) != Registry.order(names, 8L))
    assert(Registry.order(names, 7L).sorted == names.sorted)
  }

  test("a build that starts a streaming query is split from batch builds") {
    val counter = new Registry.StartCounter
    spark.streams.addListener(counter)
    try {
      val batch = Q.noOracle("batch")((s, _) => s.range(3).toDF())
      val streaming = Q.noOracle("streaming") { (s, _) =>
        val q = s.readStream.format("rate").load().writeStream.format("noop").start()
        q.stop()
        s.range(1).toDF()
      }
      assert(!Registry.buildWatched(spark, counter, batch, "")._2)
      assert(Registry.buildWatched(spark, counter, streaming, "")._2)
    } finally spark.streams.removeListener(counter)
  }

  test("a drain checks every batch against the closed form") {
    val p = StreamPlan.seeded(3L, 6, 2000)
    val r = Streams.drain(spark, p, 4000L)
    assert(r.batches.map(b => (b.from, b.until)) == StreamPlan.batches(p, 4000L))
    assert(r.batches.forall(_.ok))
    val rows = Seq(Row(7, 0, 4000L), Row(8, 0, 1L))
    val schema = spark.range(1).selectExpr("7 AS value", "0 AS stream_id", "1L AS cnt").schema
    val wrong = rows.map(r => new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(r.toSeq.toArray, schema))
    assert(!Streams.countsMatch(p, wrong, 0, 2))
  }

  test("content hashes ignore row order") {
    import spark.implicits._
    val a = Seq((1, 0.5), (2, 1.25)).toDF("k", "v")
    val b = Seq((2, 1.25), (1, 0.5)).toDF("k", "v").repartition(2)
    assert(Registry.fingerprint(a) == Registry.fingerprint(b))
    assert(Registry.fingerprint(a) != Registry.fingerprint(Seq((1, 0.5)).toDF("k", "v")))
  }
}
