package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.SparkSpec

/** Restart/recovery for the CHAINED streaming ANN leg: the ingest query
  * dies mid-run — after a batch has LANDED on disk but before its
  * offsets commit (the worst at-least-once window) — and is restarted
  * from the same checkpoint. The contract: the re-delivered batch keeps
  * its batch id, [[StreamShardRouter.landBatch]]'s per-batch overwrite
  * absorbs the replay, and the landed corpus plus the assignments built
  * from it hold every vector EXACTLY once. This is the recovery story
  * the Bench ANN e2e leg relies on at production cadence. */
class StreamAnnRecoverySpec extends SparkSpec {

  test("crash after land, before commit: restart re-lands the same batch id, no loss, no dupes") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_annrecover").toFile.getAbsolutePath
    val srcDir = s"$base/src"
    val outDir = s"$base/landed"
    val ckpt = s"$base/ckpt"
    try {
      // 3 single-file appends → 3 micro-batches (maxFilesPerTrigger = 1)
      def vecs(from: Int, until: Int) = (from until until).map { i =>
        (i.toLong, i.toLong, (i % 8), Array.tabulate(8)(j => (i * 31 + j).toFloat / 100f))
      }.toDF("doc_id", "vec_id", "label", "embedding")
      vecs(0, 40).coalesce(1).write.mode("append").parquet(srcDir)
      vecs(40, 80).coalesce(1).write.mode("append").parquet(srcDir)
      vecs(80, 120).coalesce(1).write.mode("append").parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema

      // tiny frozen codebook: per-label centroids of the full set
      val cents = StreamAnn.labelCentroids(s.read.parquet(srcDir)).localCheckpoint()

      def start(crashOnBatch: Option[Long]) = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          // land FIRST, then maybe die: the landed-but-uncommitted state
          StreamAnnIngest.ingestStep(b, cents, outDir, id).count()
          if (crashOnBatch.contains(id))
            throw new RuntimeException(s"injected crash after landing batch $id")
          ()
        }
        .start()

      // run 1: batch 0 commits; batch 1 lands, then the query dies
      val q1 = start(crashOnBatch = Some(1L))
      intercept[StreamingQueryException] { q1.awaitTermination() }
      val afterCrash = s.read.parquet(outDir)
      assert(afterCrash.select("vec_id").distinct().count() === 80,
        "batches 0 and 1 should both be on disk when the crash hits")

      // run 2: same checkpoint — batch 1 is RE-DELIVERED under the SAME
      // id (overwriting its own directory), then batch 2 proceeds
      start(crashOnBatch = None).awaitTermination()

      val landed = s.read.parquet(outDir)
      assert(landed.count() === 120,
        s"recovery lost or duplicated rows: ${landed.count()} of 120")
      assert(landed.select("vec_id").distinct().count() === 120)
      val batchDirs = new java.io.File(outDir).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
      assert(batchDirs === Seq("batch=0", "batch=1", "batch=2"),
        s"batch ids must resume, not renumber: $batchDirs")

      // and the index maintained from the landed corpus sees each vector
      // exactly once, identical to the no-crash batch twin
      val recovered = StreamAnn.assign(landed, cents)
      val expect = StreamAnn.assign(s.read.parquet(srcDir), cents)
      assert(recovered.count() === 120)
      assert(recovered.exceptAll(expect).count() === 0 &&
        expect.exceptAll(recovered).count() === 0,
        "post-recovery assignments diverge from the batch twin")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
