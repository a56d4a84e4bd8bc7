package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Similarity

/** Endurance soak for DETACHED maintenance — the 100 TB shape of the
  * detect→decide→act loop that DetachedMaintainerSpec pins one held-open
  * ACT of: a LONG ingest stream with repeated injected pressure cycles,
  * multiple fired ACTs overlapping later batches, a mid-run corpus fold
  * racing a (possibly in-flight) ACT, and serves executing EVERY batch.
  *
  * Properties (checked against a driver-side model of the landed state):
  *  - every serve during the run is READABLE and VALUE-EXACT: the live
  *    posting view equals the batch build over the model's live vectors
  *    at every checkpoint, regardless of what the maintainer is doing;
  *  - >= 3 ACTs fire across the run (pressure → act → relief → pressure
  *    again), and the at-most-one-in-flight guard holds throughout
  *    (while one runs, later pressured batches no-op);
  *  - a mid-run corpus generation fold (with the documented detached-
  *    concurrency settings: retainSnapshots >= 1, gcGraceMs > plan
  *    lifetimes) composes with the ACTs — no lost rows, no failed fold;
  *  - the FINAL artifact state is identical to the synchronous
  *    composition: the batch build over survivors of everything landed;
  *  - an ACT failure anywhere would surface (held failures rethrow at
  *    the next submit/await — the loop's own cadence is the probe).
  *
  * The grace-boundary leg runs the ACT SLOWER THAN ITS GC GRACE
  * (gcGraceMs ≪ act duration): folded-delta/tombstone sweeps then run
  * with the grace already expired at commit, and the property that keeps
  * the system correct anyway is that CURRENT-STATE readers never list a
  * swept directory (they read manifest + deltas ABOVE the committed
  * watermark; swept dirs are below it by construction). Plans pinned
  * ACROSS a commit are the retention/grace contract's job and are pinned
  * by DetachedMaintainerSpec's retention leg — here every serve is
  * constructed fresh, the steady-state serving pattern. */
class DetachedLifecycleSoakSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Deterministic 64-d batch: vec_ids unique across batches (the model
    * never re-ingests a deleted key — sequence-rule replay is
    * DeltaCompactSoakSpec's property, not this soak's). */
  private def batchDf(batchId: Int, rows: Int): DataFrame = {
    import spark.implicits._
    (0 until rows).map { j =>
      val id = batchId * 1000L + j
      (id, id, (id % 8).toInt,
        Array.tabulate(64)(k => ((id * 31 + k * 7) % 13 - 6) * 0.1f))
    }.toDF("doc_id", "vec_id", "label", "embedding")
  }

  private def toDf(rows: Seq[(Long, Long, Int, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "vec_id", "label", "embedding")
  }

  private def postingSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("tb"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** `awaitBeforeServe`: the tiny-grace leg quiesces the tree before each
    * serve — with the grace already expired at commit, a plan whose
    * construct→execute window SPANS the commit can race the sweep, which
    * is precisely the combination the production default
    * (gcGraceMs ≫ plan lifetime) exists to exclude. Serving concurrently
    * with commits under the DEFAULT grace is the long leg's job. */
  private def runSoak(nBatches: Int, rowsPerBatch: Int, deleteEvery: Int,
      gcGraceMs: Long, actSleepMs: Long, midFoldAt: Int,
      checkEvery: Int, awaitBeforeServe: Boolean = false): Unit = {
    val s = spark
    val corpusDir = tmp("graft_dls_corpus")
    val idxDir = tmp("graft_dls_idx")
    val m = new DetachedMaintainer("dls-soak")
    // the driver-side model: every landed row, and the deleted key set
    val landed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Array[Float])]
    val deleted = scala.collection.mutable.Set.empty[Long]
    var actsFired = 0
    var deleteRound = 0
    def liveModel: Seq[(Long, Long, Int, Array[Float])] =
      landed.toSeq.filterNot(r => deleted(r._2))
    try {
      (0 until nBatches).foreach { i =>
        val b = batchDf(i, rowsPerBatch)
        StreamLshIngest.ingestAndLand(b, corpusDir, idxDir, i.toLong)
        landed ++= b.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getSeq[Float](3).toArray))

        // injected pressure cycle: a ~1/6 takedown of the live corpus
        if (i > 0 && i % deleteEvery == 0) {
          val doomedIds = liveModel.map(_._2).filter(_ % 6 == 3)
            .filterNot(deleted).toSeq
          if (doomedIds.nonEmpty) {
            import s.implicits._
            val doomed = doomedIds.toDF("vec_id")
            DeltaCompact.landTombstones(doomed, corpusDir,
              deleteRound.toLong, watermark = Some(i.toLong))
            StreamLshIngest.landTombstones(
              doomed.select(col("vec_id").as("neighbor_id")), idxDir,
              deleteRound.toLong, watermark = Some(i.toLong))
            deleted ++= doomedIds
            deleteRound += 1
          }
        }

        // the DECIDE, every batch — the production cadence. A fired ACT
        // runs DETACHED (slowed so it overlaps later batches); while one
        // is in flight, pressured batches must no-op.
        val busyBefore = m.isBusy(idxDir)
        val fired = AnnMaintenance.lshStep(s, corpusDir, idxDir, m,
          autoSize = false, gcGraceMs = gcGraceMs,
          beforeAct = () => Thread.sleep(actSleepMs))
        if (fired) actsFired += 1
        assert(!(busyBefore && fired),
          "at-most-one-in-flight violated: fired while an ACT was running")

        // mid-run corpus generation fold, racing whatever ACT is in
        // flight — the documented detached-concurrency settings
        if (i == midFoldAt)
          DeltaCompact.compact(s, corpusDir, tombstoneKey = Some("vec_id"),
            retainSnapshots = 1, gcGraceMs = DeltaCompact.StagingTtlMs)

        // SERVE every batch: always readable; value-exact on checkpoints
        // (logical deletes apply the moment the tombstone lands — the
        // serve is exact even while the reclaim ACT is still running)
        if (awaitBeforeServe) m.await(idxDir)
        val serve = StreamLshIngest.readPostingsLive(s, idxDir)
        if (i % checkEvery == 0 || i == nBatches - 1) {
          assert(postingSet(serve) ===
            postingSet(Similarity.lshPostings(toDf(liveModel))),
            s"serve diverged from the model at batch $i " +
              s"(acts=$actsFired, busy=${m.isBusy(idxDir)})")
        } else assert(serve.count() >= 0)
      }

      // quiesce; a held ACT failure would rethrow here
      m.awaitAll()
      assert(actsFired >= 3,
        s"the soak must exercise repeated pressure cycles, fired $actsFired")

      // FINAL state ≡ the synchronous composition: batch build over the
      // survivors of everything landed, at the unchanged geometry
      assert(StreamLshIngest.readGeometry(s, idxDir) ===
        StreamLshIngest.DefaultGeometry)
      assert(postingSet(StreamLshIngest.readPostingsLive(s, idxDir)) ===
        postingSet(Similarity.lshPostings(toDf(liveModel))),
        "final artifact state diverged from the synchronous composition")
      // and the corpus itself folded + served consistently
      assert(DeltaCompact.readCorpusLive(s, corpusDir, keyCol = "vec_id")
        .count() === liveModel.size.toLong)
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("detached-ACT endurance: 45-batch ingest, 3+ pressure-fired ACTs " +
    "overlapping batches and a mid-run fold, every serve exact, final " +
    "state ≡ synchronous composition") {
    runSoak(nBatches = 45, rowsPerBatch = 36, deleteEvery = 12,
      gcGraceMs = DeltaCompact.StagingTtlMs, actSleepMs = 150L,
      midFoldAt = 22, checkEvery = 5)
  }

  test("grace boundary — ACT slower than its GC grace: post-commit serves " +
    "stay exact, expired-grace sweeps and marker-aged tombstones compose") {
    runSoak(nBatches = 26, rowsPerBatch = 30, deleteEvery = 8,
      gcGraceMs = 40L, actSleepMs = 200L,
      midFoldAt = 13, checkEvery = 4, awaitBeforeServe = true)
  }
}
