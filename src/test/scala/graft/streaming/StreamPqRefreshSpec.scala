package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The PQ tier's refresh half of the drift story: reconstruction error
  * (PQ's own drift audit — the m0..m7 the assignment emits) sags upward
  * when the landed distribution outgrows the codebook entries, and
  * [[StreamAnnRefresh.refreshPq]] must bring it back down by re-picking
  * entries from the current corpus and re-encoding — with the same
  * manifest crash windows and replay determinism as the IVF refresh. */
class StreamPqRefreshSpec extends SparkSpec {

  /** 64-d clustered synthetics: label l concentrates on dim l·8 (its own
    * PQ subspace), small per-id perturbation elsewhere. */
  private def vecs(from: Int, until: Int, label: Int => Int): DataFrame = {
    val s = spark
    import s.implicits._
    (from until until).map { i =>
      val l = label(i)
      (i.toLong, i.toLong, l,
        Array.tabulate(64)(j => if (j == l * 8) 1f else (i % 7) * 0.01f))
    }.toDF("doc_id", "vec_id", "label", "embedding")
  }

  test("drifted batch's reconstruction error recovers after PQ refresh; replay deterministic") {
    val s = spark
    val base = Files.createTempDirectory("graft_pqrefresh").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      // historic ingest: labels 0-3 (subspaces 0-3), two landed batches
      StreamShardRouter.landBatch(vecs(0, 40, _ % 4), corpusDir, 0L)
      StreamShardRouter.landBatch(vecs(40, 80, _ % 4), corpusDir, 1L)
      val man0 = StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      assert(man0.gen === 0L && man0.maxFoldedBatch === 1L)
      val cb0 = StreamAnnRefresh.currentPqCodebook(s, idxDir).localCheckpoint()
      assert(cb0.count() === StreamAnnRefresh.PqEntries)

      // drift: a new class (label 7 — subspace 7, which no historic
      // vector occupies) lands as batch 2; its error under the stale
      // codebook is the alert
      val drifted = vecs(80, 120, _ => 7)
      val sagged = StreamAnnRefresh.pqReconError(drifted, cb0)

      // crash window: an orphan generation with no manifest swap stays
      // invisible to serving
      new java.io.File(s"$idxDir/base_gen=99/codes").mkdirs()
      assert(StreamAnnRefresh.currentPqCodebook(s, idxDir)
        .collect().map(_.toString).sorted === cb0.collect().map(_.toString).sorted)

      StreamShardRouter.landBatch(drifted, corpusDir, 2L)
      val man1 = StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      assert(man1.gen === man0.gen + 1 && man1.maxFoldedBatch === 2L)
      val cb1 = StreamAnnRefresh.currentPqCodebook(s, idxDir).localCheckpoint()
      val recovered = StreamAnnRefresh.pqReconError(drifted, cb1)
      assert(recovered < sagged * 0.5,
        s"PQ refresh must cut the drifted batch's reconstruction error: " +
          s"sagged=$sagged recovered=$recovered")
      // the committed code table covers the whole corpus
      assert(StreamAnnRefresh.currentPqCodes(s, idxDir).count() === 120)

      // GC: old + orphan generations swept after cut-over
      val gens = new java.io.File(idxDir).listFiles()
        .filter(_.getName.startsWith("base_gen=")).map(_.getName).toSet
      assert(gens === Set(s"base_gen=${man1.gen}"))

      // replay determinism: a crash-replayed refresh over the same landed
      // corpus retrains the identical codebook (new generation number)
      val man2 = StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      assert(man2.gen === man1.gen + 1 && man2.maxFoldedBatch === man1.maxFoldedBatch)
      val cb2 = StreamAnnRefresh.currentPqCodebook(s, idxDir)
      assert(cb1.collect().map(_.toString).sorted
        === cb2.collect().map(_.toString).sorted)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("crash injection: refresh killed between codebook write and commit leaves serving on gen g; next refresh absorbs the orphan") {
    val s = spark
    val base = Files.createTempDirectory("graft_pqcrash").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      StreamShardRouter.landBatch(vecs(0, 80, _ % 4), corpusDir, 0L)
      val man0 = StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      val cb0 = StreamAnnRefresh.currentPqCodebook(s, idxDir)
        .collect().map(_.toString).sorted.toSeq

      // drift lands; a refresh starts and is KILLED between its codebook
      // write and the commit — under the staged protocol that crash
      // window is a staging directory with the codebook written, the
      // codes missing, and no rename. Reconstruct exactly that state.
      val drifted = vecs(80, 120, _ => 7)
      StreamShardRouter.landBatch(drifted, corpusDir, 1L)
      val orphan = s"$idxDir/_staging/gen=1.killed-refresh"
      StreamAnnRefresh.currentPqCodebook(s, idxDir)
        .write.parquet(s"$orphan/pq_codebook")

      // readers stay on generation g: the pointer never moved, the
      // orphan is invisible (readers go through the pointer, never by
      // listing), serve keeps working
      assert(DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration).contains(man0))
      assert(StreamAnnRefresh.currentPqCodebook(s, idxDir)
        .collect().map(_.toString).sorted.toSeq === cb0)
      assert(StreamAnnRefresh.currentPqCodes(s, idxDir).count() === 80)

      // the NEXT refresh absorbs the crash: the slot was never claimed,
      // so it commits gen 1 normally — and the drift audit recovers
      val sagged = StreamAnnRefresh.pqReconError(drifted,
        StreamAnnRefresh.currentPqCodebook(s, idxDir))
      val man1 = StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      assert(man1.gen === man0.gen + 1 && man1.maxFoldedBatch === 1L)
      val recovered = StreamAnnRefresh.pqReconError(drifted,
        StreamAnnRefresh.currentPqCodebook(s, idxDir))
      assert(recovered < sagged * 0.5,
        s"post-crash refresh must recover the drift: $sagged -> $recovered")
      assert(StreamAnnRefresh.currentPqCodes(s, idxDir).count() === 120)

      // the orphan staging is TTL-swept once expired (dead by protocol)
      val f = DeltaCompact.fs(idxDir, s.sparkContext.hadoopConfiguration)
      val op = new org.apache.hadoop.fs.Path(orphan)
      assert(f.exists(op), "young staging must not be yanked from a live writer")
      val old = System.currentTimeMillis() - DeltaCompact.StagingTtlMs - 60000
      f.setTimes(op, old, old)
      StreamAnnRefresh.refreshPq(s, corpusDir, idxDir, sampleSize = 64)
      assert(!f.exists(op), "expired crash orphan must be swept by the next GC")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
