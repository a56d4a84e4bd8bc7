package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The drift loop CLOSED: detect → decide → act, per micro-batch.
  * [[StreamAnn.assign]] DETECTS (the `matches_label` agreement audit),
  * this policy DECIDES (agreement below the floor ⇒ the frozen codebook
  * no longer fits the incoming distribution), and
  * [[StreamAnnRefresh.refresh]] ACTS (reservoir retrain + reassignment
  * + atomic generation cut-over). Without the decide step an operator
  * reads dashboards; with it the pipeline is self-healing at a bounded
  * cadence — refresh cost is paid only when drift actually happens,
  * never per batch.
  *
  * Scale shape per step: the landing + assignment are the ingest's own
  * costs; the DECIDE adds one scalar aggregate over the batch's
  * assignment (map-side combined); the ACT re-touches history exactly
  * once per genuine drift event (the refresh contract). */
object AnnMaintenance {

  /** One ingest step under the policy: land `batch`, assign it against
    * the CURRENT committed codebook, and refresh iff the batch's label
    * agreement sags below `minAgreement`. The codebook family's member
    * of the maintenance trio (LSH: [[lshStep]]; BM25:
    * [[StreamBm25Ingest.maintainIndex]]): the per-batch DETECT (land +
    * assign + agreement audit) and the DECIDE run on the caller's thread
    * — they ARE the ingest's work — and a fired retrain is submitted to
    * `maintainer` instead of blocking the trigger. The returned
    * assignment is against the codebook the batch ARRIVED under
    * (materialized, so the refresh can't retroactively change it); later
    * batches keep assigning against the old codebook until the refresh's
    * atomic cut-over, and drifted batches arriving while the ACT runs are
    * no-ops (at-most-one-in-flight). BOOTSTRAP stays synchronous: the
    * first batch ever has no committed codebook to assign against, so its
    * build is the ingest's own cost by definition. Returns (assignment,
    * whether a refresh fired). A caller that needs the healed state
    * calls `maintainer.await(idxDir)`.
    *
    * `beforeAct` runs on the maintainer thread before the refresh — the
    * DetachedMaintainerSpec slow-ACT injection point. */
  def step(batch: DataFrame, corpusDir: String, idxDir: String,
      batchId: Long, maintainer: DetachedMaintainer,
      minAgreement: Double = 0.5,
      sampleSize: Int = StreamAnnRefresh.DefaultSampleSize,
      retainSnapshots: Int = DeltaCompact.PreserveRetentionDetached,
      beforeAct: () => Unit = () => ()): (DataFrame, Boolean) = {
    val s = batch.sparkSession
    StreamShardRouter.landBatch(batch, corpusDir, batchId)
    val bootstrap = DeltaCompact
      .readManifest(idxDir, s.sparkContext.hadoopConfiguration).isEmpty
    if (bootstrap) {
      StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize)
      val cents = StreamAnnRefresh.currentCodebook(s, idxDir)
      return (StreamAnn.assign(batch, cents).localCheckpoint(), true)
    }
    val cents = StreamAnnRefresh.currentCodebook(s, idxDir).localCheckpoint()
    val assigned = StreamAnn.assign(batch, cents).localCheckpoint()
    // empty micro-batches are routine under streaming triggers: avg over
    // zero rows is null, and an empty batch is EVIDENCE OF NOTHING — it
    // must neither crash the ingest nor count as drift
    val row = assigned.agg(avg(col("matches_label").cast("double"))).head()
    val drifted = !row.isNullAt(0) && row.getDouble(0) < minAgreement
    val fired = drifted && !maintainer.isBusy(idxDir) &&
      maintainer.submit(idxDir) { () =>
        beforeAct()
        // retainSnapshots >= 1: the detached cut-over races live serve
        // plans — the superseded codebook generation must outlive the swap
        StreamAnnRefresh.refresh(s, corpusDir, idxDir, sampleSize,
          retainSnapshots = retainSnapshots)
        ()
      }
    (assigned, fired)
  }

  /** The LSH index family's step — same detect→decide→act loop as
    * [[step]], with the LSH-native pressure signals in place of the
    * codebook's agreement audit (there is no codebook to drift):
    *  - TOMBSTONE pressure: pending deletes ride every serve as the
    *    [[StreamLshIngest.readPostingsLive]] anti-join; past
    *    `maxTombstoneFrac` of the corpus the reclaim rebuild is due;
    *  - GEOMETRY pressure (`autoSize = true`): bucket occupancy grows
    *    linearly with the corpus at fixed bits, so when
    *    [[graft.operators.Similarity.lshGeometry]]'s occupancy rule wants
    *    a different width than the committed generation carries, the
    *    corpus has outgrown (or shrunk out of) its geometry.
    * The DECIDE is deliberately cheap enough to run EVERY batch: pending
    * tombstone keys are bounded by maintenance cadence (tiny read), the
    * landed-corpus count is a parquet metadata count, and the live count
    * is approximated as landed − tombstoned (exact when every tombstone
    * names a live row; an over-estimate of deletions only ever fires the
    * reclaim early, never late). `autoSize = false` pins the width to the
    * committed geometry (oracle-pinned gates; the reclaim trigger still
    * fires).
    *
    * The ACT is [[StreamLshIngest.refreshGeometry]] — one posting
    * expansion over the live corpus, the generation fold's own cost
    * class. The asymmetry is measured (SCALE.md third-decade tables): the
    * DECIDE is flat (~0.12 s) across two corpus decades, the ACT rides
    * the corpus (190 s at 100×). So the DECIDE runs on the caller's
    * thread, every batch, and a fired reclaim/resize is SUBMITTED to
    * `maintainer`: the ingest's next trigger proceeds immediately, later
    * batches land as deltas above the refresh's captured watermark
    * (forward-landing under [[DeltaCompact.atomicLandDir]]'s atomic
    * publication), and serves stay on the committed generation until the
    * ACT's atomic claim rename swaps the pointer. While an ACT is in
    * flight the step is a no-op — pressure persists until the commit GCs
    * the tombstones, and piling up rebuilds that would lose the claim
    * anyway is waste. Quiesce with `maintainer.await(idxDir)` before
    * end-of-run folds. Returns whether an ACT was submitted this step.
    *
    * `beforeAct`: runs on the maintainer thread before the refresh —
    * the DetachedMaintainerSpec slow-ACT injection point. */
  def lshStep(s: org.apache.spark.sql.SparkSession, corpusDir: String,
      idxDir: String,
      maintainer: DetachedMaintainer,
      cap: Int = graft.operators.Similarity.LshCap,
      maxTombstoneFrac: Double = 0.05,
      autoSize: Boolean = true,
      gcGraceMs: Long = DeltaCompact.StagingTtlMs,
      retainSnapshots: Int = DeltaCompact.PreserveRetentionDetached,
      beforeAct: () => Unit = () => ()): Boolean = {
    if (maintainer.isBusy(idxDir)) return false
    val cur = StreamLshIngest.readGeometry(s, idxDir)
    // PENDING tombstones only: applied-but-grace-retained batches are
    // zero pressure (counting them would re-fire the reclaim forever)
    val tsRows = DeltaCompact.readPendingTombstones(s, idxDir)
      .map(_.count()).getOrElse(0L)
    // fast path: nothing pending and no resize wanted — zero data reads
    if (tsRows == 0L && !autoSize) return false
    val landed = DeltaCompact.readCorpus(s, corpusDir).count()
    val approxLive = math.max(1L, landed - tsRows)
    val pressure = tsRows > 0L && tsRows.toDouble >= maxTombstoneFrac * approxLive
    val resize = autoSize &&
      graft.operators.Similarity.lshGeometry(approxLive, cap) != cur.bits
    (pressure || resize) && maintainer.submit(idxDir) { () =>
      beforeAct()
      // retainSnapshots >= 1: the detached commit races live serve
      // plans, which must survive on the superseded generation
      StreamLshIngest.refreshGeometry(s, corpusDir, idxDir, cap,
        bitsOverride = if (autoSize) None else Some(cur.bits),
        gcGraceMs = gcGraceMs, retainSnapshots = retainSnapshots)
      ()
    }
  }
}
