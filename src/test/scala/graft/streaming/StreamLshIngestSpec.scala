package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The ingest-time LSH indexing path ([[StreamLshIngest.ingestAndLand]]:
  * corpus landing ∥ posting-delta landing): the streamed postings, read
  * back from the landed deltas, must be IDENTICAL to expanding the same
  * rows in one batch — the planes are constants and the expansion a pure
  * per-row function, so micro-batching and the disk round-trip must not
  * change one posting bit. This is the evidence behind the "index ready
  * at ingest time" claim: unlike [[StreamAnnIngestSpec]]'s chain, NO
  * trained artifact is an input here. */
class StreamLshIngestSpec extends SparkSpec {

  test("stream land+expand ≡ batch LSH posting expansion (zero training inputs)") {
    val s = spark
    val emb = Tables.embeddings(s, sf)
      .withColumn("doc_id", col("vec_id"))
      .withColumn("label", (col("vec_id") % 8).cast("int"))
      .select("doc_id", "vec_id", "label", "embedding")

    // batch twin: the whole corpus expanded in one pass
    val expect = Similarity.lshPostings(Tables.embeddings(s, sf))
      .select("neighbor_id", "tb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted

    val outDir = Files.createTempDirectory("graft_lshspec").toFile
    val idxDir = Files.createTempDirectory("graft_lshspec_idx").toFile
    try {
      val tablePath = s"$sf/embeddings.parquet"
      val reader = s.readStream.schema(Tables.embeddings(s, sf).schema)
      val src =
        if (new java.io.File(tablePath).isDirectory) reader.parquet(tablePath)
        else reader.option("pathGlobFilter", "embeddings.parquet").parquet(sf)
      val q = src
        .withColumn("doc_id", col("vec_id"))
        .withColumn("label", (col("vec_id") % 8).cast("int"))
        .select("doc_id", "vec_id", "label", "embedding")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamLshIngest.ingestAndLand(b, outDir.getAbsolutePath,
            idxDir.getAbsolutePath, id)
        }
        .start()
      q.awaitTermination()

      val gotSorted = StreamLshIngest.readPostings(s, idxDir.getAbsolutePath)
        .select("neighbor_id", "tb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotSorted.nonEmpty)
      assert(gotSorted === expect.toSeq,
        "streamed posting expansion diverged from the batch twin")

      // every vector posts into exactly `tables` buckets
      val perVec = gotSorted.groupBy(_._1).view.mapValues(_.size)
      assert(perVec.values.forall(_ == 8),
        s"expected 8 postings per vector, got ${perVec.values.toSet}")

      // the landing layout is the router's: batch=<id>/shard_id=<k>/
      val batchDirs = outDir.listFiles().filter(_.getName.startsWith("batch="))
      assert(batchDirs.nonEmpty, "no batch directories landed")
      assert(batchDirs.forall(_.listFiles().exists(_.getName.startsWith("shard_id="))),
        "landed batches are not shard-partitioned")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
      org.apache.commons.io.FileUtils.deleteQuietly(idxDir)
    }
  }
}
