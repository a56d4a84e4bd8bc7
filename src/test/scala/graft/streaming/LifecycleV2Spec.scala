package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** Lifecycle v2 machinery behind `q_hybrid_lifecycle` — the policy-fired
  * maintenance verbs, exercised standalone so the composed gate's oracle
  * pass is explained, not just observed. Each step's ACT runs on a
  * [[DetachedMaintainer]], as in the gate; a test awaits every step that
  * fires and passes `gcGraceMs = 0L` where it checks what the commit GCs:
  *  - [[AnnMaintenance.lshStep]]'s DECIDE: fires on tombstone pressure,
  *    stays quiet without it, and (autoSize) re-sizes the geometry when
  *    the corpus outgrows its bit width — the path the oracle-pinned gate
  *    cannot take;
  *  - [[StreamLshIngest.refreshGeometry]]: the reclaim rebuild reads the
  *    LIVE corpus (deletes physically gone), commits the geometry sidecar
  *    atomically with the generation, and folds carried tombstones away;
  *  - [[StreamLshIngest.compactPostings]] carries the committed geometry
  *    across generation folds;
  *  - [[StreamBm25Ingest.maintainIndex]]: rebuild-on-pending-tombstones,
  *    exact vs the batch build over survivors.
  */
class LifecycleV2Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** The vector corpus shaped like the router's callers expect. */
  private def emb: DataFrame =
    Tables.embeddings(spark, sf)
      .withColumn("doc_id", col("vec_id"))
      .select("doc_id", "vec_id", "label", "embedding")

  private def postingSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("tb"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("lshStep: quiet without pressure; reclaim fires on tombstone pressure; " +
    "refresh serve ≡ fresh build over survivors; tombstones fold away") {
    val s = spark
    val corpusDir = tmp("graft_lc2_corpus")
    val idxDir = tmp("graft_lc2_idx")
    val m = new DetachedMaintainer("lc2-spec-lsh")
    try {
      // two landed batches + their posting deltas, registry geometry
      (0 until 2).foreach { i =>
        val b = emb.filter(col("vec_id") % 2 === i)
        StreamLshIngest.ingestAndLand(b, corpusDir, idxDir, i.toLong)
      }

      // no tombstones, width pinned: the decide must not fire (and must not
      // touch data on its fast path — observable as: still no manifest)
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = false))
      assert(DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration).isEmpty)
      // corpus at the geometry floor: autoSize finds nothing to resize either
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = true))

      // a ~1/7 takedown lands on both trees — pressure over the 5% floor
      val doomed = DeltaCompact.readCorpus(s, corpusDir)
        .filter(col("vec_id") % 7 === 3).select(col("vec_id")).localCheckpoint()
      DeltaCompact.landTombstones(doomed, corpusDir, 0L, watermark = Some(1L))
      StreamLshIngest.landTombstones(
        doomed.select(col("vec_id").as("neighbor_id")), idxDir, 0L,
        watermark = Some(1L))
      assert(AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = false,
        gcGraceMs = 0L))
      m.await(idxDir)

      // the committed generation: live-corpus postings at the PINNED width,
      // deleted vectors physically absent, applied tombstones GC'd
      val geom = StreamLshIngest.readGeometry(s, idxDir)
      assert(geom === StreamLshIngest.DefaultGeometry)
      val survivors = emb.filter(col("vec_id") % 7 =!= 3)
      assert(postingSet(StreamLshIngest.readPostings(s, idxDir)) ===
        postingSet(Similarity.lshPostings(survivors)))
      assert(DeltaCompact.listTombstoneBatches(idxDir,
        s.sparkContext.hadoopConfiguration).isEmpty)
      // pressure relieved: the next decide is quiet again
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = false))
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("autoSize: a corpus past the occupancy rule re-sizes the width; " +
    "post-refresh deltas + fold carry the geometry") {
    val s = spark
    val corpusDir = tmp("graft_lc2_auto_corpus")
    val idxDir = tmp("graft_lc2_auto_idx")
    // 3000 synthetic 64-dim vectors: lshGeometry(3000, cap=16) = 9 bits —
    // one past the 8-bit registry floor (content is irrelevant to the
    // geometry decision; only the count drives the occupancy rule)
    val big = s.range(3000).select(
      col("id").as("doc_id"), col("id").as("vec_id"),
      (col("id") % 8).cast("int").as("label"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 7 + i).cast("float")).as("embedding"))
      .localCheckpoint()
    val m = new DetachedMaintainer("lc2-spec-auto")
    try {
      StreamLshIngest.ingestAndLand(big, corpusDir, idxDir, 0L)

      assert(AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = true))
      m.await(idxDir)
      val geom = StreamLshIngest.readGeometry(s, idxDir)
      assert(geom.bits === Similarity.lshGeometry(3000))
      assert(geom.bits > StreamLshIngest.DefaultGeometry.bits)
      // stable: re-deciding at the committed width finds nothing to do
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m, autoSize = true))

      // a post-refresh batch lands AT the committed geometry; the fold
      // carries the sidecar and the folded tree equals one batch build
      val more = big.select((col("doc_id") + 3000).as("doc_id"),
        (col("vec_id") + 3000).as("vec_id"), col("label"), col("embedding"))
        .limit(200).localCheckpoint()
      StreamLshIngest.ingestAndLand(more, corpusDir, idxDir, 1L,
        geometry = StreamLshIngest.readGeometry(s, idxDir))
      StreamLshIngest.compactPostings(s, idxDir)
      assert(StreamLshIngest.readGeometry(s, idxDir) === geom)
      assert(postingSet(StreamLshIngest.readPostings(s, idxDir)) ===
        postingSet(Similarity.lshPostings(big.unionByName(more),
          geom.tables, geom.bits)))
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("bm25 maintainIndex: rebuild fires on pending tombstones, " +
    "merged serve ≡ batch build over survivors, then quiet") {
    val s = spark
    val out = tmp("graft_lc2_bm25")
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val m = new DetachedMaintainer("lc2-spec-bm25")
    try {
      (0 until 2).foreach { i =>
        StreamBm25Ingest.ingestStep(
          docs.filter(col("doc_id") % 2 === i), out, i.toLong)
      }
      assert(!StreamBm25Ingest.maintainIndex(s, out, m)) // nothing pending

      DeltaCompact.landTombstones(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        s"$out/docs", 0L, watermark = Some(1L))
      assert(StreamBm25Ingest.maintainIndex(s, out, m, gcGraceMs = 0L)) // rebuild fired
      m.await(out)
      assert(!StreamBm25Ingest.maintainIndex(s, out, m)) // tombstones consumed

      // a post-rebuild batch keeps merging exactly (it never contained the
      // deleted docs, so the capped-partial merge stays closed)
      val more = docs.filter(col("doc_id") % 7 =!= 3)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      StreamBm25Ingest.ingestStep(more, out, 2L)
      val live = docs.filter(col("doc_id") % 7 =!= 3).unionByName(more)
      val got = graft.operators.TextAnalysis.bm25Serve(
        StreamBm25Ingest.mergeIndexes(s, out), live).collect().toSet
      val expect = graft.operators.TextAnalysis.bm25Serve(
        graft.operators.TextAnalysis.bm25Index(
          graft.operators.TextAnalysis.bm25Partial(
            graft.operators.TextAnalysis.bm25Postings(live))), live)
        .collect().toSet
      assert(got === expect,
        "streamed rebuild+merge diverged from the batch build over survivors")
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }
}
