package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Similarity, TextAnalysis}

class StreamShardRouterSpec extends SparkSpec {

  test("stream-routed shards reproduce the batch routing audit exactly") {
    val streamed = TextAnalysis.qStreamShardRoute.build(spark, sf)
      .orderBy("shard_id").collect().toSeq
    val batch = TextAnalysis.qShardAssign.build(spark, sf)
      .orderBy("shard_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("replay is idempotent: re-routing the same data does not duplicate") {
    withTempDir("graft_shards_spec") { out =>
      def routeOnce(): Unit =
        StreamShardRouter.route(graft.Tables.readStream(spark, sf, "documents"), out)
          .awaitTermination()
      routeOnce()
      val n1 = spark.read.parquet(out).count()
      routeOnce() // an at-least-once re-delivery overwrites batch=0, never appends
      val n2 = spark.read.parquet(out).count()
      assert(n1 == graft.Tables.documents(spark, sf).count())
      assert(n2 == n1)
    }
  }

  test("reading one shard is a partition-pruned scan") {
    withTempDir("graft_shards_spec") { out =>
      StreamShardRouter.route(graft.Tables.readStream(spark, sf, "documents"), out)
        .awaitTermination()
      val one = spark.read.parquet(out).filter(col("shard_id") === 3)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains("shard_id"), s"expected pruned scan, got:\n$plan")
      // pruned read returns exactly the batch gate's count for that shard
      val expected = TextAnalysis.qShardAssign.build(spark, sf)
        .filter(col("shard_id") === 3).select("n_docs").collect()(0).getLong(0)
      assert(one.count() == expected)
    }
  }

  test("persisted IVF index serves bit-identical results to the in-memory path") {
    val served = Similarity.qKnnIvfPersist.build(spark, sf)
      .orderBy("query_id", "rank").collect().toSeq
    val direct = Similarity.qKnnIvf.build(spark, sf)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served.nonEmpty)
    assert(served == direct)
  }

  test("persisted IVF postings scan carries the probed-cell partition filter") {
    // the dir is fingerprint+pid-keyed (round 8) — resolve it via the
    // operator's own accessor rather than rebuilding the naming by hand
    val dir = Similarity.ivfIndex.dir(spark, sf)
    val probe = spark.read.parquet(s"$dir/postings").filter(col("cell") === 0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
  }
}
