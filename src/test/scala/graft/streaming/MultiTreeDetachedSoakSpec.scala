package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity

/** MULTI-TENANT detached-maintenance soak — the 100 TB shape
  * [[DetachedLifecycleSoakSpec]] (one tree) and DetachedMaintainerSpec's
  * cap-1 toy ACTs can't pin together: THREE index trees (two LSH posting
  * indexes + a BM25 lexical index) sharing ONE maintainer at the default
  * `maxConcurrentActs = 2`, with their pressure cycles ALIGNED so every
  * cycle submits three real rebuilds at once — two run genuinely
  * concurrently, the third queues FIFO behind the cap.
  *
  * Pinned properties:
  *  - >= 2 ACTs observed RUNNING at the same instant, and >= 1 ACT
  *    observed QUEUED while both slots are held (via the round-16
  *    [[DetachedMaintainer.queuedSinceMs]] probe — the cap is real, not
  *    a serialized pool);
  *  - the FIFO queue DRAINS under load: every fired ACT completes
  *    ([[DetachedMaintainer.awaitAll]] returns, no tree stays busy, a
  *    held failure anywhere would rethrow there);
  *  - every LSH tree's serve stays VALUE-EXACT against its driver-side
  *    model at every checkpoint, regardless of which trees' ACTs are
  *    running or queued (logical deletes ride the serve anti-join); the
  *    BM25 merge stays READABLE throughout (its deletes apply at the
  *    rebuild — the capped-aggregate contract);
  *  - each tree's FINAL state ≡ its synchronous composition: LSH
  *    postings ≡ the batch build over that tree's survivors, BM25 serve
  *    ≡ the batch build over the doc survivors. */
class MultiTreeDetachedSoakSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def vecBatch(batchId: Int, rows: Int, idBase: Long): DataFrame = {
    import spark.implicits._
    (0 until rows).map { j =>
      val id = idBase + batchId * 1000L + j
      (id, id, (id % 8).toInt,
        Array.tabulate(64)(k => ((id * 31 + k * 7) % 13 - 6) * 0.1f))
    }.toDF("doc_id", "vec_id", "label", "embedding")
  }

  private def toVecDf(rows: Seq[(Long, Long, Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "vec_id", "label", "embedding")
  }

  /** Deterministic small-vocab docs so the BM25 rebuild is real work but
    * the batch-build oracle is cheap. */
  private def docBatch(batchId: Int, rows: Int): Seq[(Long, String)] =
    (0 until rows).map { j =>
      val id = batchId * 1000L + j
      (id, (0 until 8).map(t => s"w${(id * 13 + t * 5) % 30}").mkString(" "))
    }

  private def toDocDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def postingSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("tb"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("three trees, one maintainer, cap 2: aligned pressure cycles run " +
    ">= 2 real ACTs concurrently with >= 1 queued, the FIFO drains, every " +
    "serve stays exact, each final state ≡ its synchronous composition") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val corpusA = tmp("graft_mt_corpusA"); val idxA = tmp("graft_mt_idxA")
    val corpusB = tmp("graft_mt_corpusB"); val idxB = tmp("graft_mt_idxB")
    val outC = tmp("graft_mt_bm25")
    val m = new DetachedMaintainer("mt-soak") // default cap = 2
    val landedA = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Array[Float])]
    val landedB = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Array[Float])]
    val landedC = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val deletedA = scala.collection.mutable.Set.empty[Long]
    val deletedB = scala.collection.mutable.Set.empty[Long]
    val deletedC = scala.collection.mutable.Set.empty[Long]
    def liveA = landedA.toSeq.filterNot(r => deletedA(r._2))
    def liveB = landedB.toSeq.filterNot(r => deletedB(r._2))
    def liveC = landedC.toSeq.filterNot(r => deletedC(r._1))
    var deleteRound = 0
    var actsFired = 0
    var peakConcurrent = 0
    var queuedObserved = 0
    val trees = Seq(idxA, idxB, outC)
    val nBatches = 22
    val deleteEvery = 7 // aligned cycles at i = 7, 14, 21
    try {
      (0 until nBatches).foreach { i =>
        // land one batch into each tree
        val bA = vecBatch(i, 30, 0L)
        StreamLshIngest.ingestAndLand(bA, corpusA, idxA, i.toLong)
        landedA ++= bA.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getSeq[Float](3).toArray))
        val bB = vecBatch(i, 30, 10000000L)
        StreamLshIngest.ingestAndLand(bB, corpusB, idxB, i.toLong)
        landedB ++= bB.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getSeq[Float](3).toArray))
        val dC = docBatch(i, 20)
        StreamBm25Ingest.ingestStep(toDocDf(dC), outC, i.toLong)
        landedC ++= dC

        // ALIGNED pressure: all three trees take a ~1/6 takedown in the
        // same batch, so the three DECIDEs fire into the shared cap at once
        if (i > 0 && i % deleteEvery == 0) {
          import s.implicits._
          def doom(live: Seq[Long], already: scala.collection.mutable.Set[Long]) =
            live.filter(_ % 6 == 3).filterNot(already)
          val dA = doom(liveA.map(_._2), deletedA)
          val dB = doom(liveB.map(_._2), deletedB)
          val dCc = doom(liveC.map(_._1), deletedC)
          if (dA.nonEmpty) {
            DeltaCompact.landTombstones(dA.toDF("vec_id"), corpusA,
              deleteRound.toLong, watermark = Some(i.toLong))
            StreamLshIngest.landTombstones(
              dA.toDF("neighbor_id"), idxA, deleteRound.toLong,
              watermark = Some(i.toLong))
            deletedA ++= dA
          }
          if (dB.nonEmpty) {
            DeltaCompact.landTombstones(dB.toDF("vec_id"), corpusB,
              deleteRound.toLong, watermark = Some(i.toLong))
            StreamLshIngest.landTombstones(
              dB.toDF("neighbor_id"), idxB, deleteRound.toLong,
              watermark = Some(i.toLong))
            deletedB ++= dB
          }
          if (dCc.nonEmpty) {
            DeltaCompact.landTombstones(dCc.toDF("doc_id"), s"$outC/docs",
              deleteRound.toLong, watermark = Some(i.toLong))
            deletedC ++= dCc
          }
          deleteRound += 1
        }

        // the DECIDEs, every batch, every tree — the production cadence.
        // beforeAct sleeps hold each fired ACT long enough that an
        // aligned cycle's third submission must QUEUE behind the cap.
        val hold = () => Thread.sleep(1200L)
        if (AnnMaintenance.lshStep(s, corpusA, idxA, m,
          autoSize = false, gcGraceMs = DeltaCompact.StagingTtlMs,
          beforeAct = hold)) actsFired += 1
        if (AnnMaintenance.lshStep(s, corpusB, idxB, m,
          autoSize = false, gcGraceMs = DeltaCompact.StagingTtlMs,
          beforeAct = hold)) actsFired += 1
        if (StreamBm25Ingest.maintainIndex(s, outC, m,
          beforeAct = hold)) actsFired += 1

        // observe the cap: poll for the 2-running + 1-queued instant via
        // the queuedSinceMs probe (running = busy and not queued)
        var polls = 0
        while (polls < 200 &&
          !(trees.count(t => m.isBusy(t) && m.queuedSinceMs(t).isEmpty) >= 2 &&
            trees.count(t => m.queuedSinceMs(t).nonEmpty) >= 1)) {
          val running = trees.count(t => m.isBusy(t) && m.queuedSinceMs(t).isEmpty)
          peakConcurrent = math.max(peakConcurrent, running)
          // only poll while something is actually in flight
          if (!trees.exists(m.isBusy)) polls = 200 else { Thread.sleep(25); polls += 1 }
        }
        if (polls < 200) {
          peakConcurrent = math.max(peakConcurrent, 2)
          queuedObserved += 1
        }

        // SERVE every tree, every batch: the LSH trees are value-exact
        // on checkpoints (logical deletes apply at the serve anti-join);
        // the BM25 merge must stay readable while its rebuild queues/runs
        if (i % 4 == 0 || i == nBatches - 1) {
          assert(postingSet(StreamLshIngest.readPostingsLive(s, idxA)) ===
            postingSet(Similarity.lshPostings(toVecDf(liveA))),
            s"tree A serve diverged at batch $i")
          assert(postingSet(StreamLshIngest.readPostingsLive(s, idxB)) ===
            postingSet(Similarity.lshPostings(toVecDf(liveB))),
            s"tree B serve diverged at batch $i")
        } else {
          assert(StreamLshIngest.readPostingsLive(s, idxA).count() >= 0)
          assert(StreamLshIngest.readPostingsLive(s, idxB).count() >= 0)
        }
        assert(StreamBm25Ingest.mergeIndexes(s, outC).count() > 0,
          s"BM25 merge unreadable at batch $i")
      }

      // the FIFO drains under load: every fired ACT completes, a held
      // failure anywhere rethrows here, no tree stays busy
      m.awaitAll()
      assert(trees.forall(t => !m.isBusy(t)), "queue failed to drain")
      assert(actsFired >= 6,
        s"three aligned pressure cycles must fire >= 6 ACTs, saw $actsFired")
      assert(peakConcurrent >= 2,
        s"never observed 2 ACTs genuinely concurrent (peak $peakConcurrent)")
      assert(queuedObserved >= 1,
        "never observed an ACT queued behind the cap")

      // apply any takedown that landed after a tree's last ACT, so each
      // final state is deterministic; then: final ≡ synchronous composition
      if (AnnMaintenance.lshStep(s, corpusA, idxA, m,
        autoSize = false, gcGraceMs = DeltaCompact.StagingTtlMs)) m.await(idxA)
      if (AnnMaintenance.lshStep(s, corpusB, idxB, m,
        autoSize = false, gcGraceMs = DeltaCompact.StagingTtlMs)) m.await(idxB)
      if (StreamBm25Ingest.maintainIndex(s, outC, m)) m.await(outC)

      assert(postingSet(StreamLshIngest.readPostingsLive(s, idxA)) ===
        postingSet(Similarity.lshPostings(toVecDf(liveA))),
        "tree A final state diverged from the synchronous composition")
      assert(postingSet(StreamLshIngest.readPostingsLive(s, idxB)) ===
        postingSet(Similarity.lshPostings(toVecDf(liveB))),
        "tree B final state diverged from the synchronous composition")
      val liveDocs = toDocDf(liveC).localCheckpoint()
      val got = graft.operators.TextAnalysis.bm25Serve(
        StreamBm25Ingest.mergeIndexes(s, outC), liveDocs).collect().toSet
      val expect = graft.operators.TextAnalysis.bm25Serve(
        graft.operators.TextAnalysis.bm25Index(
          graft.operators.TextAnalysis.bm25Partial(
            graft.operators.TextAnalysis.bm25Postings(liveDocs))), liveDocs)
        .collect().toSet
      assert(got === expect,
        "BM25 final state diverged from the batch build over survivors")
    } finally {
      m.close()
      Seq(corpusA, idxA, corpusB, idxB, outC).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
  }
}
