package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T9 plan hot-swap (reference DataGeneratorActor.scala:46-49: a new
  * TestPlanMsg replaces the running plan). Spark-first equivalent: stop the
  * query and restart against the SAME checkpoint with a new `plan` option —
  * offsets are plan-seconds, so the restarted query resumes exactly where
  * the old plan stopped and generates the remaining seconds from the new
  * plan. No seconds replay, none are skipped.
  */
class PlanHotSwapSpec extends SparkSpec {

  test("restart with a new plan against the same checkpoint: offset continuity, no duplicate seconds") {
    withTempDir("hotswap-ckpt") { ckpt =>
      // batchId → per-(second, value) counts; put() overwrites on replay so a
      // re-fired uncommitted batch cannot double-count
      val byBatch =
        new java.util.concurrent.ConcurrentHashMap[Long, Array[(Long, Int, Long)]]()

      def run(plan: String): Unit = {
        val q = spark.readStream.format("plan-gen")
          .option("plan", plan)
          .option("secondsPerTrigger", 1)
          .option("numPartitions", 2)
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val rows = batch
              .groupBy(expr("unix_millis(event_time) div 1000").as("second"), col("value"))
              .agg(count(lit(1)).as("n"))
              .collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
            byBatch.put(id, rows)
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }

      run("sequence = [ { type = fixed, value = 1, rate = 100, duration = 4 } ]")
      // hot swap: same checkpoint, new value and a longer duration
      run("sequence = [ { type = fixed, value = 2, rate = 100, duration = 8 } ]")

      import scala.jdk.CollectionConverters._
      val all = byBatch.values.asScala.flatten.toSeq
      val perSecond = all.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      // continuity: seconds 0..7 each generated exactly once across both runs
      assert(perSecond.keySet === (0L to 7L).toSet, s"seconds covered: ${perSecond.keySet}")
      assert(perSecond.values.forall(_ == 100L), s"per-second counts: $perSecond")
      // pre-swap seconds came from plan A, post-swap seconds from plan B —
      // proof the restart did NOT regenerate 0..3 under the new plan
      val valuesBySecond = all.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (0L to 3L).foreach(s => assert(valuesBySecond(s) === Set(1), s"second $s: ${valuesBySecond(s)}"))
      (4L to 7L).foreach(s => assert(valuesBySecond(s) === Set(2), s"second $s: ${valuesBySecond(s)}"))
    }
  }
}
