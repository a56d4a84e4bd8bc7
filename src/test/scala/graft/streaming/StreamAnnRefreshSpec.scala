package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The codebook-refresh half of the drift story: [[StreamAnn.assign]]'s
  * `matches_label` audit FLAGS drift; [[StreamAnnRefresh.refresh]] must
  * FIX it — retrain from a bounded reservoir of the landed corpus,
  * reassign, and cut serving over atomically — with the same crash
  * windows as every other manifest-committed fold. */
class StreamAnnRefreshSpec extends SparkSpec {

  /** Clustered synthetic embeddings: label l concentrates on dim l, with
    * a small per-id perturbation so vectors within a cluster differ. */
  private def vecs(from: Int, until: Int, label: Int => Int): DataFrame = {
    val s = spark
    import s.implicits._
    (from until until).map { i =>
      val l = label(i)
      (i.toLong, i.toLong, l,
        Array.tabulate(8)(j => if (j == l) 1f else (i % 7) * 0.01f))
    }.toDF("doc_id", "vec_id", "label", "embedding")
  }

  test("drifted batch's assignment agreement recovers after refresh; cut-over is atomic") {
    val s = spark
    val base = Files.createTempDirectory("graft_annrefresh").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      // historic ingest: labels 0-3, two landed batches
      StreamShardRouter.landBatch(vecs(0, 40, _ % 4), corpusDir, 0L)
      StreamShardRouter.landBatch(vecs(40, 80, _ % 4), corpusDir, 1L)
      val man0 = StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize = 64)
      assert(man0.gen === 0L && man0.maxFoldedBatch === 1L)
      val cents0 = StreamAnnRefresh.currentCodebook(s, idxDir).localCheckpoint()
      assert(cents0.select("cent_id").collect().map(_.getInt(0)).sorted
        === Array(0, 1, 2, 3))

      // drift: a new class (label 4, concentrated on a dim the codebook
      // has never seen) lands as batch 2
      val drifted = vecs(80, 120, _ => 4)
      StreamShardRouter.landBatch(drifted, corpusDir, 2L)
      // frozen-codebook assignment of the drifted batch: the audit sags
      // to 0 — no centroid for the new class exists, every row lands in
      // a wrong cell. This is the alert that fires a refresh.
      val saggedAgreement = StreamAnn.assign(drifted, cents0)
        .agg(avg(col("matches_label"))).head().getDouble(0)
      assert(saggedAgreement === 0.0,
        s"drifted batch should disagree with the stale codebook: $saggedAgreement")

      // BEFORE the refresh commits, serving must stay on gen 0: simulate
      // the crash window by writing an orphan generation directory with
      // no manifest swap — readers go through the manifest, never by
      // listing, so the orphan is invisible
      new java.io.File(s"$idxDir/base_gen=99/postings").mkdirs()
      assert(StreamAnnRefresh.currentCodebook(s, idxDir)
        .collect().map(_.toString).sorted
        === cents0.collect().map(_.toString).sorted,
        "half-written generation leaked into serving before the manifest swap")

      // the refresh: retrain from the landed corpus (now including the
      // drifted batch), reassign, cut over
      val man1 = StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize = 64)
      assert(man1.gen === man0.gen + 1 && man1.maxFoldedBatch === 2L)
      val cents1 = StreamAnnRefresh.currentCodebook(s, idxDir).localCheckpoint()
      assert(cents1.select("cent_id").collect().map(_.getInt(0)).sorted
        === Array(0, 1, 2, 3, 4), "refresh must learn the drifted class")

      // recovery: the drifted batch now agrees fully, and so does the
      // committed full reassignment
      val recovered = StreamAnn.assign(drifted, cents1)
        .agg(avg(col("matches_label"))).head().getDouble(0)
      assert(recovered === 1.0, s"drift not recovered after refresh: $recovered")
      val servedAgreement = StreamAnnRefresh.currentAssignments(s, idxDir)
        .agg(avg(col("matches_label"))).head().getDouble(0)
      assert(servedAgreement === 1.0,
        s"served reassignment should agree post-refresh: $servedAgreement")
      assert(StreamAnnRefresh.currentAssignments(s, idxDir).count() === 120)

      // GC: the old and orphan generations are swept after the commit
      val gens = new java.io.File(idxDir).listFiles()
        .filter(_.getName.startsWith("base_gen=")).map(_.getName).toSet
      assert(gens === Set(s"base_gen=${man1.gen}"),
        s"old/orphan generations must be GC'd after cut-over: $gens")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("refresh is deterministic under replay: re-running retrains the identical codebook") {
    val s = spark
    val base = Files.createTempDirectory("graft_annrefresh2").toFile.getAbsolutePath
    try {
      StreamShardRouter.landBatch(vecs(0, 60, _ % 3), s"$base/corpus", 0L)
      val m1 = StreamAnnRefresh.refresh(s, s"$base/corpus", s"$base/idx", sampleSize = 32)
      val c1 = StreamAnnRefresh.currentCodebook(s, s"$base/idx")
        .collect().map(_.toString).sorted.toSeq
      // a crash-replayed refresh runs again over the same landed corpus:
      // new generation number, bit-identical content (the hash-ordered
      // reservoir is deterministic)
      val m2 = StreamAnnRefresh.refresh(s, s"$base/corpus", s"$base/idx", sampleSize = 32)
      assert(m2.gen === m1.gen + 1 && m2.maxFoldedBatch === m1.maxFoldedBatch)
      val c2 = StreamAnnRefresh.currentCodebook(s, s"$base/idx")
        .collect().map(_.toString).sorted.toSeq
      assert(c1 === c2, "replayed refresh retrained a different codebook")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("refresh reads THROUGH the corpus manifest: folded base + unfolded deltas") {
    val s = spark
    val base = Files.createTempDirectory("graft_annrefresh3").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      StreamShardRouter.landBatch(vecs(0, 40, _ % 4), corpusDir, 0L)
      StreamShardRouter.landBatch(vecs(40, 80, _ % 4), corpusDir, 1L)
      // the corpus tree itself generation-folds (DeltaCompact supports it
      // on the same layout) — batches 0-1 are now base_gen=0, no batch=
      // directories survive
      DeltaCompact.compact(s, corpusDir)
      StreamShardRouter.landBatch(vecs(80, 120, _ % 4), corpusDir, 2L)
      // the retrain must cover base + unfolded delta — a delta-only read
      // would retrain on 40 rows and commit a wrong watermark
      val man = StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize = 64)
      assert(man.maxFoldedBatch === 2L)
      assert(StreamAnnRefresh.currentAssignments(s, idxDir).count() === 120,
        "reassignment must cover the folded base, not just unfolded deltas")
      // fully-folded corpus (no unfolded deltas at all): watermark comes
      // from the corpus manifest
      DeltaCompact.compact(s, corpusDir)
      val man2 = StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize = 64)
      assert(man2.maxFoldedBatch === 2L)
      assert(StreamAnnRefresh.currentAssignments(s, idxDir).count() === 120)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("tombstone-aware refresh: deleted vectors neither train nor reassign") {
    val s = spark
    val base = Files.createTempDirectory("graft_annrefresh4").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      // labels 0-3 plus a poison class 4; then class 4 is taken down
      StreamShardRouter.landBatch(vecs(0, 80, _ % 4), corpusDir, 0L)
      StreamShardRouter.landBatch(vecs(80, 100, _ => 4), corpusDir, 1L)
      DeltaCompact.landTombstones(
        vecs(80, 100, _ => 4).select(col("vec_id")), corpusDir, 0L)
      val man = StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize = 64,
        tombstoneKey = Some("vec_id"))
      assert(man.maxFoldedBatch === 1L)
      val cents = StreamAnnRefresh.currentCodebook(s, idxDir)
      assert(cents.select("cent_id").collect().map(_.getInt(0)).sorted
        === Array(0, 1, 2, 3),
        "a tombstoned class must not train a centroid")
      val served = StreamAnnRefresh.currentAssignments(s, idxDir)
      assert(served.count() === 80, "deleted vectors must not reassign")
      assert(served.filter(col("vec_id") >= 80).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
