package graft.sources

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.plans.TestPlan

/** Batch materialization of a test plan: the deterministic generator as a
  * DataFrame. Each plan-second is a pure function of the plan, so the
  * plan's buckets distribute across readers with no coordination and no
  * shuffle — at any scale the generator is embarrassingly parallel. It is
  * a batch scan of the plan-gen source itself (one reader per core), so
  * batch and streaming share one row generator.
  * (reference: testbed DataGenerator.scala:16-23, PhaseContainer.scala:12-21)
  */
object PlanGenerator {

  /** (event_time TIMESTAMP, value INT, stream_id INT) for the whole plan.
    * `startEpochMs` anchors plan-relative times to an absolute clock.
    * Unbounded plans must pass `maxSeconds`. */
  def generate(
      spark: SparkSession,
      plan: TestPlan,
      streamId: Int = 0,
      startEpochMs: Long = 0L,
      maxSeconds: Option[Int] = None): DataFrame = {
    if (plan.duration.orElse(maxSeconds).isEmpty)
      throw new IllegalArgumentException("unbounded plan needs maxSeconds")
    val opts = PlanOptions(plan, streamId = streamId, startEpochMs = startEpochMs,
      maxSeconds = maxSeconds, numPartitions = spark.sparkContext.defaultParallelism)
    GraftShims.ofRows(spark, DataSourceV2Relation.create(new PlanTable(opts), None, None))
  }
}
