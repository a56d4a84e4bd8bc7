package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The LSH posting-delta LIFECYCLE: per-batch posting deltas landed in
  * the serve layout key (`shard_id = tb_hi`, tb-sorted), folded by
  * [[DeltaCompact]]'s manifest-committed generation fold — with the
  * mid-stream maintenance cadence the compaction contract prescribes —
  * and served through the SAME join as `q_knn_lsh_persist`. The closing
  * assertions pin (a) the folded corpus row-exact against the single-pass
  * batch expansion, (b) the serve output bit-for-bit against the
  * oracle-gated `q_knn_lsh` (i.e. against DuckLshSql), and (c) the
  * worst-window crash recovery: the query dies after a delta LANDS but
  * before its offsets commit, the restart re-delivers the same batch id,
  * and the overwrite absorbs the replay — no loss, no dupes, same bits.
  * This closes the doc promise that folding LSH posting deltas "is
  * DeltaCompact's generation fold" with evidence, mirroring
  * StreamAnnRecoverySpec for the training-free index family. */
class StreamLshCompactSpec extends SparkSpec {

  test("crash-replayed posting deltas fold to the exact serve layout; serve ≡ q_knn_lsh") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, sf)
    val base = Files.createTempDirectory("graft_lshcompact").toFile.getAbsolutePath
    val srcDir = s"$base/src"
    val docsDir = s"$base/docs"
    val idxDir = s"$base/idx"
    val ckpt = s"$base/ckpt"
    try {
      // 3 single-file appends → 3 micro-batches (maxFilesPerTrigger = 1)
      (0 until 3).foreach { k =>
        emb.filter(col("vec_id") % 3 === k).coalesce(1)
          .write.mode("append").parquet(srcDir)
      }

      def start(crashOnBatch: Option[Long]) = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val batch = b.withColumn("doc_id", col("vec_id"))
            .select("doc_id", "vec_id", "label", "embedding")
          StreamLshIngest.ingestAndLand(batch, docsDir, idxDir, id)
          // worst at-least-once window: delta landed, offsets uncommitted
          if (crashOnBatch.contains(id))
            throw new RuntimeException(s"injected crash after landing batch $id")
          // maintenance cadence INSIDE the ingest (the single-maintainer
          // discipline DeltaCompact's contract prescribes): fold after
          // batch 1, leaving batch 2 a post-fold delta
          if (id == 1L) { StreamLshIngest.compactPostings(s, idxDir); () }
          ()
        }.start()

      // run 1: batch 0 commits; batch 1 lands, then the query dies
      val q1 = start(crashOnBatch = Some(1L))
      intercept[StreamingQueryException] { q1.awaitTermination() }
      // run 2: same checkpoint — batch 1 RE-DELIVERED under the same id
      // (its delta directory overwritten), fold runs, batch 2 proceeds
      start(crashOnBatch = None).awaitTermination()

      val expectPostings = Similarity.lshPostings(emb)
        .select("neighbor_id", "tb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

      // pre-final-fold state: committed base (batches 0-1) + batch 2 as
      // an unfolded delta — readers see the full corpus either way
      val man0 = DeltaCompact.readManifest(idxDir)
        .getOrElse(fail("mid-stream fold left no manifest"))
      assert(man0.maxFoldedBatch === 1L,
        s"mid-stream fold should cover batches 0-1: $man0")
      assert(DeltaCompact.listDeltaBatches(idxDir) === Seq(2L),
        "batch 2 should still be a post-fold delta")
      val gotPreFold = StreamLshIngest.readPostings(s, idxDir)
        .select("neighbor_id", "tb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotPreFold === expectPostings,
        "base + unfolded delta diverged from the batch expansion")

      // final fold: everything into one generation, deltas GC'd
      val man = StreamLshIngest.compactPostings(s, idxDir)
      assert(man.maxFoldedBatch === 2L)
      val children = new java.io.File(idxDir).listFiles().map(_.getName).toSet
      assert(!children.exists(_.startsWith("batch=")), s"unGC'd deltas: $children")
      assert(children.contains(s"base_gen=${man.gen}"),
        s"committed base generation missing: $children")

      val gotPostings = StreamLshIngest.readPostings(s, idxDir)
        .select("neighbor_id", "tb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotPostings === expectPostings,
        "folded postings diverged from the single-pass batch expansion")

      // serve parity: the shared serve join over the folded layout
      // reproduces the oracle-gated q_knn_lsh output bit-for-bit
      val probes = Similarity.lshQueryProbes(emb).localCheckpoint()
      val gotServe = Similarity.lshServeJoin(
          StreamLshIngest.readPostings(s, idxDir).drop("tb_hi"), probes)
        .collect().map(_.toString).sorted.toSeq
      val expectServe = Similarity.qKnnLsh.build(s, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(gotServe.nonEmpty)
      assert(gotServe === expectServe,
        "serve over folded deltas diverged from q_knn_lsh (DuckLshSql)")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
