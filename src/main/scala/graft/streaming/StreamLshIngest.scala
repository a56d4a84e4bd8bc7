package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-time LSH indexing, micro-batch by micro-batch: land the batch
  * shard-partitioned ([[StreamShardRouter]], idempotent replay) and,
  * side by side, expand each of its vectors into its multi-table LSH
  * posting rows — the corpus side of `q_knn_lsh`'s index.
  *
  * This is the training-free counterpart of [[StreamAnnIngest]]: the ivf2
  * chain must wait for (or periodically retrain) a frozen leaf codebook
  * before new vectors are indexable, while the LSH planes are CONSTANTS —
  * so a vector is searchable the moment its batch lands, with zero
  * training dependencies and no index-rebuild coupling. The posting
  * expansion is the same pure per-row column expression the batch build
  * uses, which is what makes stream/batch parity exact
  * (StreamLshIngestSpec) rather than approximate.
  *
  * Scale shape per batch: one narrow shard projection + partitioned file
  * write for the corpus, and a per-row ×tables posting fan-out behind the
  * same shard exchange for the postings delta — history is never
  * re-touched, so per-batch cost tracks batch size at any corpus scale.
  * Folding the per-batch posting deltas into the serve layout
  * (`tb_hi`-partitioned, tb-sorted) is [[DeltaCompact]]'s generation
  * fold, same as the ivf2 path.
  */
object StreamLshIngest {

  /** One ingest micro-batch: land `batch` under
    * `outDir/batch=<id>/shard_id=<k>/` and its LSH posting expansion —
    * (tb, neighbor_id, embedding), the postings-append of this batch — as
    * the `idxDir/batch=<id>` delta ([[landPostingsDelta]]). `batch` needs
    * (doc_id, vec_id, label, embedding) like the router's other callers.
    *
    * The two landings derive from the SAME batch rows and write DISTINCT
    * trees, so they run OVERLAPPED from driver threads (guide §2.6, r17 —
    * the `StreamBm25Ingest.ingestStep` pattern). Posting rows are computed
    * from `batch` directly — landBatch writes exactly `withShard(batch)`
    * and [[graft.operators.Similarity.lshPostings]] projects
    * (vec_id, embedding) only, so postings-from-batch ≡
    * postings-from-landed row for row — with the landing's own shard
    * co-location exchange, so the plane-projection expansion still fans
    * out across `numShards` tasks when the batch source is one
    * unsplittable file.
    *
    * `geometry`: the expansion's (tables, bits) — MUST match the serving
    * index's committed geometry (postings at different bit widths cannot
    * share one bucket space), so geometry-refreshed pipelines pass
    * [[readGeometry]]'s answer per batch. Defaults to the registry
    * constants, the pre-refresh geometry of every tree. */
  def ingestAndLand(batch: DataFrame, outDir: String, idxDir: String,
      batchId: Long, numShards: Int = 16,
      geometry: LshGeometry = DefaultGeometry): Unit = {
    graft.operators.Par.units(
      () => { StreamShardRouter.landBatch(batch, outDir, batchId, numShards); () },
      () => {
        landPostingsDelta(
          graft.operators.Similarity.lshPostings(
            StreamShardRouter.withShard(batch, numShards)
              .repartition(col("shard_id")),
            geometry.tables, geometry.bits),
          idxDir, batchId)
        ()
      })
  }

  /** Land one batch's POSTING rows as a delta under an
    * overwrite-idempotent `batch=<id>` directory: plain parquet files,
    * each sorted by (shard_id, tb), with `shard_id = tb_hi` (the
    * `qKnnLshPersist` directory key) carried as a DATA column typed
    * exactly as the folded base's partition-directory column reads back
    * (int) so [[DeltaCompact.assemble]]'s unionByName never widens.
    *
    * Round 16 (optimization): deltas used to land shard-PARTITIONED like
    * the base (`repartition(shard_id)` + `partitionBy`), fanning every
    * micro-batch into ≤128 directories — measured 3.8 s/batch at sf0.1
    * vs 0.35 s for plain sorted files, pure per-directory writer/commit
    * overhead (guide §6.2 small-files; §2.4 also drops the repartition
    * exchange). The directory layout bought nothing on deltas: every
    * streamed-tree serve reads them via [[readPostings]] and drops
    * `tb_hi` unfiltered, and unfolded deltas are bounded by compaction
    * cadence by design. The long-lived artifact keeps the pruned layout:
    * [[compactPostings]]' base generation is still `shard_id=`
    * partitioned and tb-sorted — the fold is the layout-restoring step,
    * paid once per cadence instead of per batch. Within each delta file
    * the (shard_id, tb) sort keeps row-group min/max stats carrying a
    * residual tb filter exactly as before. */
  def landPostingsDelta(postings: DataFrame, idxDir: String, batchId: Long): String =
    DeltaCompact.atomicLandDir(s"$idxDir/batch=$batchId",
      postings.sparkSession.sparkContext.hadoopConfiguration)(
      writePostings(postings, _))

  /** The one posting-file writer, for deltas and refreshed generations
    * alike: plain files, each sorted by (shard_id, tb), `shard_id` the
    * int `tb_hi` directory key carried as a data column. */
  private def writePostings(postings: DataFrame, path: String): Unit =
    postings
      .withColumn("shard_id",
        graft.operators.Similarity.lshDirKey(col("tb")).cast("int"))
      .sortWithinPartitions("shard_id", "tb")
      .write.mode("overwrite").parquet(path)

  // ---- geometry sidecar: the committed generation's (tables, bits) ----

  /** The LSH index geometry a generation was expanded at. Postings at
    * different bit widths cannot share one bucket space, so the geometry
    * is GENERATION-scoped state: committed atomically with the base that
    * carries it (a sidecar inside the `base_gen=` directory, staged
    * before the claim rename), carried forward by folds, and replaced
    * only by [[refreshGeometry]] — which rewrites every posting row at
    * the new width anyway. */
  final case class LshGeometry(tables: Int, bits: Int)

  /** The registry constants — every tree's geometry until a refresh
    * re-sizes it (and the floor [[graft.operators.Similarity
    * .lshGeometry]] never sizes below). */
  val DefaultGeometry: LshGeometry = LshGeometry(
    graft.operators.Similarity.LshTables, graft.operators.Similarity.LshBits)

  private val GeometryFileName = "_lsh_geometry.json"

  private[streaming] def writeGeometry(genDir: String, g: LshGeometry,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    DeltaCompact.writeSidecar(new org.apache.hadoop.fs.Path(genDir, GeometryFileName),
      Seq("tables" -> g.tables.toLong, "bits" -> g.bits.toLong), conf)

  /** The SERVING geometry: the committed generation's sidecar, or the
    * registry defaults for trees that predate geometry refresh (deltas
    * with no manifest yet, or a generation folded before sidecars
    * existed — both were expanded at the registry constants by
    * construction). A corrupt sidecar fails loudly, like the manifest
    * fields. */
  def readGeometry(s: SparkSession, idxDir: String): LshGeometry = {
    val conf = s.sparkContext.hadoopConfiguration
    DeltaCompact.currentGenDir(idxDir, conf)
      .flatMap(g => DeltaCompact.readSidecar(
        new org.apache.hadoop.fs.Path(g, GeometryFileName), Seq("tables", "bits"),
        "LSH geometry sidecar", conf))
      .fold(DefaultGeometry)(m =>
        LshGeometry(Math.toIntExact(m("tables")), Math.toIntExact(m("bits"))))
  }

  /** Fold every landed posting delta into the next base generation —
    * [[DeltaCompact]]'s manifest-committed fold with the LSH layout's
    * within-shard tb clustering preserved across generations. Because the
    * posting expansion is a pure per-row function and the fold is a pure
    * union-repartition, N landed deltas fold into EXACTLY the rows a
    * single batch build would produce (StreamLshCompactSpec pins this
    * against `q_knn_lsh`'s oracle-gated serve output). Shard count and
    * the carried-forward sidecar both come from the CURRENT committed
    * geometry — a fold never changes geometry, it just must not lose
    * it. */
  def compactPostings(s: SparkSession, idxDir: String,
      gcGraceMs: Long = 0L): DeltaCompact.Manifest = {
    val conf = s.sparkContext.hadoopConfiguration
    val geom = readGeometry(s, idxDir)
    DeltaCompact.compact(s, idxDir,
      gcGraceMs = gcGraceMs,
      // with shardDirs = false, numShards is just the fold exchange's
      // width (≈ output file count) — size it to the session instead of
      // the 128-value dir-key domain the directory layout used to need
      numShards = math.max(1, s.sparkContext.defaultParallelism),
      sortCols = Seq("tb"),
      // plain shard-clustered files, no directory fan-out: no streamed-
      // tree serve prunes on shard_id dirs (they all read readPostings
      // and drop tb_hi), and the per-directory writer overhead dominated
      // the fold at micro-batch cadence — see compact()'s shardDirs doc
      shardDirs = false,
      // deletes apply physically at the fold: a tombstoned vector's
      // posting rows (×tables of them) are excluded from the new base —
      // exact for LSH because postings are pure per-vector expansions
      // (nothing aggregated), so removal can never under-promote the way
      // a capped aggregate would (contrast: the BM25 partial is NOT
      // closed under deletion — see `q_bm25_delete`'s rebuild rationale)
      tombstoneKey = Some("neighbor_id"),
      extraStage = staging => writeGeometry(staging, geom, conf))
  }

  /** Geometry refresh — the LSH family's generation rebuild, and its
    * answer to BOTH maintenance pressures at once:
    *  - TOMBSTONE pressure: landed deletes ride every serve as the
    *    [[readPostingsLive]] anti-join; past a fraction of the corpus the
    *    reclaim is due — the rebuild reads the LIVE corpus, so deleted
    *    vectors are physically gone from the new generation and the
    *    index tree's applied tombstones fold away;
    *  - GEOMETRY drift: bucket occupancy grows linearly with the corpus
    *    at fixed bits (recall collapse measured in SCALE.md round 11) —
    *    `bitsOverride = None` auto-sizes bits from the live count via
    *    [[graft.operators.Similarity.lshGeometry]]'s occupancy rule and
    *    re-expands every vector at the new width.
    * Unlike the IVF/PQ refreshes there is no training step (planes are
    * constants): the rebuild IS one posting expansion over the live
    * corpus + the serve-layout partitioned write — the same cost class as
    * the generation fold it replaces. Committed under the shared staged
    * protocol; the geometry sidecar stages WITH the generation, so a
    * crash can never publish postings at one width with a descriptor at
    * another. `bitsOverride`: pin the width (oracle-pinned registry gates
    * pass the current geometry — auto-sizing there would detach the gate
    * from its fixed-geometry oracle; LifecycleV2Spec covers the auto
    * path). */
  def refreshGeometry(s: SparkSession, corpusDir: String, idxDir: String,
      cap: Int = graft.operators.Similarity.LshCap,
      bitsOverride: Option[Int] = None,
      gcGraceMs: Long = 0L,
      retainSnapshots: Int = DeltaCompact.PreserveRetention): LshGeometry = {
    val conf = s.sparkContext.hadoopConfiguration
    // the rebuild's input: exactly the CAPTURED corpus view, minus
    // tombstoned vectors — a refresh must not re-index deleted rows, and
    // a batch landing mid-refresh must stay a delta above the committed
    // watermark (the compact() forward-landing guarantee)
    val corpus = DeltaCompact.capture(corpusDir, conf)
    val live = corpus.readLive(s, keyCol = "vec_id")
    val bits = bitsOverride.getOrElse(
      graft.operators.Similarity.lshGeometry(live.count(), cap))
    val geom = LshGeometry(graft.operators.Similarity.LshTables, bits)
    // index-tree tombstones are applied BY CONSTRUCTION (the rebuild
    // reads the live corpus): capture the landed batches now, GC exactly
    // those after the commit — the compact() capture discipline, so a
    // delete landing mid-refresh survives to apply logically
    val tsBatches = DeltaCompact.listTombstoneBatches(idxDir, conf)
    // retainSnapshots >= 1 for DETACHED callers: the commit races live
    // serve plans, and a history-less manifest would GC the superseded
    // base at the swap instant under a reader mid-plan (nextManifest doc)
    DeltaCompact.commitGeneration(corpus, idxDir, conf, retainSnapshots,
      gcGraceMs, tombstones = tsBatches) { staging =>
      // the delta layout (writePostings), the same no-directory layout the
      // fold writes (shardDirs = false rationale on compactPostings): no
      // streamed-tree serve prunes on the dirs, and the ≤128-way dynamic-
      // partition fan-out dominated the rebuild's wall time at sf0.1
      // (~3 s of writer constants)
      writePostings(
        graft.operators.Similarity.lshPostings(live, geom.tables, geom.bits),
        staging)
      writeGeometry(staging, geom, conf)
    }
    geom
  }

  /** The posting corpus as of now (committed base + unfolded deltas) in
    * the serve schema — (tb, neighbor_id, embedding) plus the `tb_hi`
    * directory key for pruning. */
  def readPostings(s: SparkSession, idxDir: String): DataFrame =
    DeltaCompact.readCorpus(s, idxDir)
      .select(col("shard_id").cast("long").as("tb_hi"), col("tb"),
        col("neighbor_id"), col("embedding"))

  /** Land a delete batch against the posting index: `ids` is a frame of
    * `neighbor_id` keys. Serving picks it up immediately via
    * [[readPostingsLive]]; the next [[compactPostings]] applies it
    * physically and folds the tombstone away.
    *
    * `watermark` pins the tombstone's sequence ceiling, exactly as on
    * [[DeltaCompact.landTombstones]]: an at-least-once replay that
    * re-lands this delete batch AFTER later data batches have landed
    * must pass the ORIGINAL watermark, or the recomputed default (max
    * landed batch at re-land time) would kill rows legitimately
    * re-ingested after the delete — violating the sequence rule. */
  def landTombstones(ids: DataFrame, idxDir: String, batchId: Long,
      watermark: Option[Long] = None): String =
    DeltaCompact.landTombstones(ids.select(col("neighbor_id")), idxDir, batchId,
      watermark)

  /** [[readPostings]] minus tombstoned vectors — exact logical deletion
    * (every posting row of a deleted vector drops, across all tables)
    * with zero index rewrite; the anti-join's tombstone side is bounded
    * by compaction cadence and broadcasts. */
  def readPostingsLive(s: SparkSession, idxDir: String): DataFrame =
    DeltaCompact.readCorpusLive(s, idxDir, keyCol = "neighbor_id")
      .select(col("shard_id").cast("long").as("tb_hi"), col("tb"),
        col("neighbor_id"), col("embedding"))
}
