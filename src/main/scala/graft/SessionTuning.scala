package graft

import org.apache.spark.sql.SparkSession

/** Runtime SQL-conf tuning shared by every graft entry point (Bench,
  * Verify, ScaleSmoke, Main, Plans, the test harness) so the mains and
  * the specs execute under the same aggregation and checkpoint regime. */
object SessionTuning {

  /** ObjectHashAggregate's sort-based fallback threshold. The default
    * (128 in-memory groups per partition) would make every graft native
    * aggregate (graft_min_k argmaxes keyed by vec_id, graft_collect_capped
    * LSH buckets) silently degrade to sort-based merging after the first
    * 128 groups — the exact per-partition sort the hash formulations
    * exist to avoid.
    *
    * Why 2^20 groups is memory-safe for GRAFT'S aggregates (the
    * group-count threshold is only a proxy — the real question is bytes):
    * every graft object aggregate has an input-bounded buffer. graft_min_k
    * holds ≤ k elements per group; graft_collect_capped holds ≤ cap+1,
    * and every buffered element is a copy of AT MOST ONE input row — so a
    * task's total buffered bytes are ≤ ~(partition input bytes) × copy
    * overhead, regardless of group count. With 128 MB maxPartitionBytes
    * that is a few hundred MB per task at the absolute worst. The knob is
    * NOT safe to inherit blindly for unbounded-buffer aggregates
    * (collect_list/collect_set over hot keys) — graft never ships those
    * in a hot path (that is what graft_collect_capped exists for). */
  val ObjectHashFallbackGroups: Int = 1 << 20

  def tune(spark: SparkSession): Unit = {
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      ObjectHashFallbackGroups.toString)
    // streaming checkpoints on file: paths are published without forking
    // chmod/readlink (see LocalCheckpointFileManager)
    spark.conf.set(graft.streaming.LocalCheckpointFileManager.ConfKey,
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
  }
}
