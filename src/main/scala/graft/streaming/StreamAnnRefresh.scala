package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Portable}

/** Streaming IVF codebook refresh — the ACT half of the drift story.
  * `q_knn_incr_assign` / [[StreamAnn.assign]] emit the `matches_label`
  * drift audit (sagging agreement = the frozen codebook no longer fits
  * the incoming distribution); this object is what a pipeline DOES when
  * that alert fires: retrain the codebook from a bounded reservoir of
  * the landed corpus, reassign the corpus as a new index generation, and
  * cut serving over atomically under [[DeltaCompact]]'s manifest
  * protocol.
  *
  * Generation layout under one index root:
  * {{{
  *   base_gen=<g>/codebook/   the generation's trained centroids
  *   base_gen=<g>/postings/   full reassignment, cell-partitioned
  *   _compaction.json          manifest: {gen, maxFoldedBatch}
  * }}}
  * `maxFoldedBatch` records the highest corpus batch id the retrain saw:
  * batches landing after a refresh keep being assigned against the
  * CURRENT generation's codebook (the frozen-index fast path) until the
  * next refresh folds them in — the same watermark semantics as the
  * posting-delta folds.
  *
  * Commit protocol (identical crash windows to [[DeltaCompact.compact]]):
  * write `base_gen=<g+1>` COMPLETELY (codebook first, then postings),
  * atomically swap the manifest, only then GC old generations. A crash
  * before the swap leaves readers on the old generation — a half-written
  * new generation is invisible because readers go through the manifest,
  * never by listing — and the next refresh absorbs the orphan.
  *
  * Scale shape: the reservoir is ONE bounded keyless
  * ObjectHashAggregate (O(k) state per partition, map-side combined) —
  * retraining cost is O(k × dims), not O(corpus); the reassignment is
  * the same broadcast argmax as ingest (one exchange row per vector);
  * the cut-over is a metadata rename. History is re-touched exactly
  * once per refresh, by design — that IS the retrain — and the cadence
  * is the operator's knob (fire on the drift audit, not per batch). */
object StreamAnnRefresh {

  /** Default reservoir size: plenty for per-label means while keeping
    * retrain cost independent of corpus size. */
  val DefaultSampleSize = 4096

  /** Deterministic bounded reservoir over the landed corpus: the `k`
    * rows with the LOWEST portable 60-bit id-hash (ties by vec_id) —
    * the same hash-ordered reservoir as the ivf2 sub-seed selection,
    * computed by the native `graft_min_k` aggregate in one pass.
    * Deterministic ⇒ a re-run retrains the identical codebook, which is
    * what makes refresh idempotent under crash-replay. */
  def reservoir(corpus: DataFrame, k: Int = DefaultSampleSize): DataFrame = {
    corpus
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("prio", Portable.hash60(col("vec_id").cast("string")))
      .agg(GraftFunctions.minK(
        struct(col("prio"), col("vec_id"), col("label"), col("embedding")),
        k).as("kept"))
      .select(explode(col("kept")).as("kv"))
      .select(col("kv.vec_id").as("vec_id"), col("kv.label").as("label"),
        col("kv.embedding").as("embedding"))
  }

  /** Retrain + reassign + atomic cut-over. Reads ONE captured view of
    * the corpus under `corpusDir` — the FULL manifest-routed corpus
    * (committed base, if the tree was ever [[DeltaCompact.compact]]ed, +
    * unfolded deltas — reading `batch=` directories alone would silently
    * retrain on the unfolded tail only) — and commits that view's
    * watermark: a batch landing after the capture stays ABOVE it, never
    * silently joining a retrain whose manifest predates it (the capture
    * discipline a DETACHED refresh racing live ingest depends on). Trains
    * a fresh per-label codebook from a [[reservoir]] sample, writes the
    * full reassignment as the next generation, and commits. `tombstoneKey`: apply landed corpus
    * tombstones before retraining (the delete-lifecycle contract —
    * deleted vectors neither train nor reassign). Returns the committed
    * manifest. Run from the ingest's own maintenance cadence (the
    * [[DeltaCompact.compact]] single-maintainer discipline). */
  def refresh(s: SparkSession, corpusDir: String, idxDir: String,
      sampleSize: Int = DefaultSampleSize,
      tombstoneKey: Option[String] = None,
      retainSnapshots: Int = DeltaCompact.PreserveRetention): DeltaCompact.Manifest = {
    val view = DeltaCompact.capture(corpusDir, s.sparkContext.hadoopConfiguration)
    val corpus = tombstoneKey.fold(view.read(s))(k => view.readLive(s, keyCol = k))
    val cents = StreamAnn.labelCentroids(reservoir(corpus, sampleSize))
      .localCheckpoint()
    // detached callers pass retainSnapshots >= 1 (nextManifest doc): the
    // commit races live serves, which must survive on the old generation.
    // Stage the generation COMPLETELY (codebook first, then postings),
    // then claim-by-rename + pointer swap + GC — the shared
    // concurrent-maintainer-guarded commit (DeltaCompact scaladoc)
    DeltaCompact.commitGeneration(view, idxDir, s.sparkContext.hadoopConfiguration,
      retainSnapshots) { staging =>
      cents.write.mode("overwrite").parquet(s"$staging/codebook")
      StreamAnn.assign(corpus, cents)
        .write.mode("overwrite").partitionBy("assigned_cell")
        .parquet(s"$staging/postings")
    }
  }

  /** The SERVING codebook — current generation per the manifest. New
    * batches assign against this until the next refresh. */
  def currentCodebook(s: SparkSession, idxDir: String): DataFrame =
    current(s, idxDir, "codebook")

  /** The SERVING assignment postings — current generation per the
    * manifest, cell-partition-pruned on read like every persisted
    * posting layout. */
  def currentAssignments(s: SparkSession, idxDir: String): DataFrame =
    current(s, idxDir, "postings")

  /** Table `sub` of the committed generation. */
  private def current(s: SparkSession, idxDir: String, sub: String): DataFrame =
    s.read.parquet(DeltaCompact.currentGenDir(idxDir, s.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalStateException(
        s"no committed codebook generation under $idxDir — run refresh first")) +
      s"/$sub")

  // ---- the PQ tier's refresh: re-pick entries, re-encode, cut over ----

  /** PQ codebook entries per generation — 16 one-byte codes per
    * subspace, the `q_knn_ivf_pq` geometry. */
  val PqEntries = 16

  /** Generation refresh for the PQ (memory-bounded) serving tier. The
    * batch index quantizes against codebook entries DRAWN FROM the
    * corpus; under distribution drift those entries stop covering the
    * incoming vectors and the per-vector reconstruction error — PQ's
    * drift audit, emitted by the assignment as m0..m7 — sags upward.
    * This is what a pipeline does when that alert fires: re-pick the
    * [[PqEntries]] codebook entries from a bounded deterministic
    * reservoir of the landed corpus (the [[reservoir]] hash order makes
    * replay retrain the identical codebook), re-encode EVERY vector's 8
    * codes as the next generation — re-encoding is the retrain cost,
    * one broadcast×16 distance pass per vector, the same shape as
    * ingest encoding — and cut serving over atomically under the
    * [[DeltaCompact]] manifest. Layout per generation:
    * `base_gen=<g>/pq_codebook` + `base_gen=<g>/codes`. */
  def refreshPq(s: SparkSession, corpusDir: String, idxDir: String,
      sampleSize: Int = DefaultSampleSize,
      tombstoneKey: Option[String] = None,
      retainSnapshots: Int = DeltaCompact.PreserveRetention): DeltaCompact.Manifest = {
    // the captured corpus view, exactly as in refresh
    val view = DeltaCompact.capture(corpusDir, s.sparkContext.hadoopConfiguration)
    val corpus = tombstoneKey.fold(view.read(s))(k => view.readLive(s, keyCol = k))
    // the new codebook: the PqEntries lowest-hash corpus vectors (the
    // reservoir rule at k = entries), ranked by the same hash — uniform
    // over the CURRENT distribution, deterministic under replay. The
    // rank window sorts 16 rows.
    val pcents = reservoir(corpus, PqEntries)
      .withColumn("prio", Portable.hash60(col("vec_id").cast("string")))
      .withColumn("cent_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("prio"), col("vec_id"))) - 1)
      .select(col("cent_rank"),
        transform(col("embedding"), _.cast("double")).as("c"))
      .localCheckpoint()
    // stage codebook + codes COMPLETELY, then the shared guarded commit
    DeltaCompact.commitGeneration(view, idxDir, s.sparkContext.hadoopConfiguration,
      retainSnapshots) { staging =>
      pcents.write.mode("overwrite").parquet(s"$staging/pq_codebook")
      graft.operators.Similarity.pqAssign(corpus, pcents)
        .write.mode("overwrite").parquet(s"$staging/codes")
    }
  }

  /** The SERVING PQ codebook — current generation per the manifest. */
  def currentPqCodebook(s: SparkSession, idxDir: String): DataFrame =
    current(s, idxDir, "pq_codebook")

  /** The SERVING code table (vec_id, cc0..cc7, m0..m7). */
  def currentPqCodes(s: SparkSession, idxDir: String): DataFrame =
    current(s, idxDir, "codes")

  /** The PQ drift audit: mean total reconstruction error of `emb`
    * under `pcents` — the number that sags upward when the codebook
    * stops fitting and recovers after [[refreshPq]]. */
  def pqReconError(emb: DataFrame, pcents: DataFrame): Double = {
    import org.apache.spark.sql.functions.avg
    graft.operators.Similarity.pqAssign(emb, pcents)
      .select(((0 until 8).map(i => col(s"m$i")).reduce(_ + _)).as("err"))
      .agg(avg(col("err"))).head().getDouble(0)
  }
}
