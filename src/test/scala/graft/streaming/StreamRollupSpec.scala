package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.operators.Analytic
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class Ev(event_type: String, ts: Timestamp, value: Double)

class StreamRollupSpec extends SparkSpec {

  private def ts(day: Int, h: Int) =
    Timestamp.valueOf(f"2026-01-$day%02d $h%02d:00:00")

  test("maintained summary equals the direct rollup of everything arrived") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    withTempDir("graft-rollup") { dir =>
      val store = new StreamRollup.SummaryStore(spark, dir)
      val in = MemoryStream[Ev]
      val q = StreamRollup.maintain(in.toDF(), store).start()

      val b1 = Seq(Ev("click", ts(1, 9), 1.25), Ev("click", ts(1, 10), 2.5),
        Ev("view", ts(2, 9), 0.75))
      val b2 = Seq(Ev("click", ts(1, 11), 4.125), // accumulates into an existing cell
        Ev("buy", ts(3, 9), 10.0))                // delta-only (type, day) cell
      val b3 = Seq(Ev("view", ts(2, 10), 0.25))
      try {
        Seq(b1, b2, b3).foreach { b => in.addData(b: _*); q.processAllAvailable() }

        val got = store.current.collect()
          .map(r => (r.getString(0), r.getDate(1).toString) ->
            ((r.getLong(2), r.getDecimal(3)))).toMap
        val want = Analytic.dailyRollup((b1 ++ b2 ++ b3).toDF())
          .select(col("event_type"), col("day"), col("cnt"),
            col("sum_value").cast("decimal(38,6)").as("sum_value"))
          .collect()
          .map(r => (r.getString(0), r.getDate(1).toString) ->
            ((r.getLong(2), r.getDecimal(3)))).toMap
        assert(got.keySet === want.keySet, "summary key set diverged")
        want.foreach { case (k, (cnt, sum)) =>
          assert(got(k)._1 == cnt && got(k)._2.compareTo(sum) == 0,
            s"cell $k: got ${got(k)}, want ($cnt, $sum)")
        }

        // three commits happened; only the latest two versions survive pruning
        assert(store.currentVersion.contains(2L))
        val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
          .map(_.getName).sorted.toSeq
        assert(dirs === Seq("v=1-b=1", "v=2-b=2"), s"pruning kept $dirs")

        // foreachBatch is at-least-once: a crash-replay of the last batch
        // must be a no-op, not a double merge
        val before = store.current.collect().toSet
        StreamRollup.applyBatch(store, b3.toDF(), batchId = 2L)
        assert(store.currentVersion.contains(2L), "replayed batch created a version")
        assert(store.current.collect().toSet === before, "replay double-merged")
        // a genuinely new batch still commits
        StreamRollup.applyBatch(store, b3.toDF(), batchId = 3L)
        assert(store.currentVersion.contains(3L))
      } finally q.stop()
    }
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
