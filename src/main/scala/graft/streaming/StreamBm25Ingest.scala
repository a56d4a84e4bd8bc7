package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Ingest-time lexical indexing, micro-batch by micro-batch: land the
  * document batch shard-partitioned ([[StreamShardRouter]], idempotent
  * replay), read the LANDED files back, and fold the batch into the
  * impact-capped BM25 index — the corpus side of `q_bm25_topk`.
  *
  * The load-bearing property is that the capped index is a MERGEABLE
  * SKETCH: per term, the partial is (min-k of postings by impact,
  * partial df). min-k is associative — the min-k of a union equals the
  * min-k of the concatenated per-batch min-ks — and df is additive, so
  * per-batch partials fold into EXACTLY the index a single batch build
  * would produce, bit for bit (StreamBm25IngestSpec pins this and the
  * end-to-end serve parity against `q_bm25_topk`'s oracle-gated output).
  * The same property is what makes the BATCH build's map-side partials
  * correct under any partitioning — the stream fold is just that merge
  * tree with batch boundaries as the partition boundaries.
  *
  * Scale shape per batch: tf is per-document (documents arrive whole, so
  * the (doc, tok) aggregate never crosses batches), the partial index is
  * one tok-key ObjectHashAggregate over the batch with O(64) state per
  * term, and the landed partial is vocab-sized, NOT batch-sized. History
  * is never re-touched at ingest; the serve-time fold touches only
  * vocab × generations rows. Periodically folding generations down is
  * [[DeltaCompact]]'s generation fold, same as the ANN paths.
  */
object StreamBm25Ingest {

  /** One ingest micro-batch: land `batch` (documents with `doc_id`,
    * `text`) under `outDir/docs/batch=<id>/shard_id=<k>/`, then write
    * the batch's capped partial index (tok, kept min-k postings, partial
    * df) under `outDir/idx/batch=<id>/` — both overwrite-idempotent on
    * replay. Also drops a `_docid_range.json` sidecar (min/max/count of
    * the batch's doc_ids) into the batch directory: batch-sized to
    * compute HERE, and what lets [[mergeIndexes]]' disjointness guard be
    * O(batches) instead of re-scanning the whole landed corpus per fold.
    * Underscore-prefixed, so parquet readers ignore it like `_SUCCESS`.
    * Returns the landed partial index. */
  def ingestStep(batch: DataFrame, outDir: String, batchId: Long,
      numShards: Int = 16): DataFrame = {
    val s = batch.sparkSession
    graft.functions.GraftFunctions.register(s)
    // The docs landing and the batch's capped partial derive from the
    // SAME batch rows and write DISTINCT trees (`docs/batch=<id>` vs
    // `idx/batch=<id>`), so the two actions overlap from driver threads
    // (guide §2.6; r17 — was land → read landed back → write partial, a
    // serial 2-job chain per micro-batch). The partial is computed from
    // `batch` directly: landBatch writes exactly `withShard(batch)`, so
    // partial-from-batch ≡ partial-from-landed row for row (pinned by
    // StreamBm25IngestSpec's fold-vs-batch-build parity). The shard
    // co-location exchange mirrors landBatch's so the tokenize+aggregate
    // still fans out across `numShards` tasks even when the batch source
    // is one unsplittable file (the r16 scan-parallelism finding).
    // The doc-id envelope rides the partial-index write as observed
    // metrics (CollectMetrics over the same batch scan) instead of its
    // own min/max/count job — r16: one fewer Spark action per
    // micro-batch, same sidecar bytes.
    val obs = org.apache.spark.sql.Observation()
    val observed = batch.observe(obs,
      min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
      count(lit(1)).as("n"))
    val dirs = graft.operators.Par.run[String](
      () => StreamShardRouter.landBatch(batch, s"$outDir/docs", batchId, numShards),
      // atomic like the docs landing: a concurrent serve's mergeIndexes
      // must never list a half-written partial
      () => DeltaCompact.atomicLandDir(s"$outDir/idx/batch=$batchId",
        s.sparkContext.hadoopConfiguration) { staging =>
        TextAnalysis.bm25Partial(TextAnalysis.bm25Postings(
          StreamShardRouter.withShard(observed, numShards)
            .repartition(col("shard_id"))))
          .write.mode("overwrite").parquet(staging)
      })
    val m = obs.get
    val range =
      if (m("n").asInstanceOf[Long] == 0L) DocIdRange(0L, -1L, 0L)
      else DocIdRange(m("mn").asInstanceOf[Long], m("mx").asInstanceOf[Long],
        m("n").asInstanceOf[Long])
    writeDocIdRange(s, dirs.head, range)
    s.read.parquet(dirs(1))
  }

  /** Per-batch doc-id envelope, carried as metadata with the landed
    * batch. `count == 0` marks an empty batch (no ids to overlap). */
  private final case class DocIdRange(minId: Long, maxId: Long, count: Long)

  private def rangePath(batchDir: String) =
    new org.apache.hadoop.fs.Path(batchDir, "_docid_range.json")

  private def writeDocIdRange(s: SparkSession, batchDir: String,
      range: DocIdRange): Unit = {
    val json =
      s"""{"minId":${range.minId},"maxId":${range.maxId},"count":${range.count}}"""
    val conf = s.sparkContext.hadoopConfiguration
    val p = rangePath(batchDir)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The batch's doc-id envelope: the sidecar when present (one tiny
    * metadata read), else reconstructed from that batch's parquet — a
    * BATCH-sized column scan, the pre-sidecar fallback, never
    * corpus-sized. */
  private def readDocIdRange(s: SparkSession, batchDir: String): DocIdRange = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = rangePath(batchDir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      def field(k: String): Long =
        s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
          .getOrElse(throw new IllegalStateException(
            s"corrupt doc-id range sidecar $p: $txt")).group(1).toLong
      DocIdRange(field("minId"), field("maxId"), field("count"))
    } else {
      val r = s.read.parquet(batchDir)
        .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1))).head()
      if (r.getLong(2) == 0L) DocIdRange(0L, -1L, 0L)
      else DocIdRange(r.getLong(0), r.getLong(1), r.getLong(2))
    }
  }

  /** Enforce the fold's batch-disjointness precondition in O(batches),
    * not O(docs): compare the per-batch doc-id ENVELOPES (the landed
    * sidecars). Doc ids are assigned monotonically by the pipeline, so
    * disjoint batches have disjoint envelopes and the common case is
    * decided from metadata alone — ZERO data-column scan, zero Spark
    * jobs. Only when envelopes genuinely intersect does the guard read
    * doc_id from exactly the OVERLAPPING batches (never the whole
    * corpus) for the precise countDistinct verdict, so interleaved-but-
    * disjoint ids are still accepted — the guard's semantics are
    * unchanged, only its cost. */
  private def assertBatchDisjoint(s: SparkSession, docsDir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val ranges = DeltaCompact.listDeltaBatches(docsDir, conf)
      .map(id => (id, readDocIdRange(s, s"$docsDir/batch=$id")))
      .filter(_._2.count > 0L)
      .sortBy(_._2.minId)
    // sweep envelopes in minId order, grouping transitive overlaps
    val groups = ranges.foldLeft(List.empty[(Long, List[Long])]) {
      case ((gMax, ids) :: rest, (id, r)) if r.minId <= gMax =>
        (math.max(gMax, r.maxId), id :: ids) :: rest
      case (acc, (id, r)) => (r.maxId, List(id)) :: acc
    }.map(_._2.reverse).filter(_.size > 1)
    groups.foreach { ids =>
      val offenders = s.read.option("basePath", docsDir)
        .parquet(ids.map(id => s"$docsDir/batch=$id"): _*)
        .groupBy("doc_id")
        .agg(countDistinct(col("batch")).as("nb"))
        .filter(col("nb") > 1)
        .limit(5).collect()
      if (offenders.nonEmpty)
        throw new IllegalStateException(
          "BM25 fold precondition violated: doc_ids ingested under more than " +
            "one batch id (df would double-count): " +
            offenders.map(_.getLong(0)).mkString(", "))
    }
  }

  /** Fold every landed per-batch partial into the serving index: re-cap
    * the concatenated min-k lists per term (associativity) and sum the
    * partial dfs. Output rows are `(tok, doc_id, tf, dfc)` — identical
    * to the batch-built `bm25Index`.
    *
    * Exactness PRECONDITION, now enforced rather than assumed: each
    * doc_id must appear in exactly ONE batch. A document re-ingested
    * under a second batch id would double-count df (partial dfs are
    * summed) and could seat the same doc_id twice in a term's re-capped
    * min-k list, displacing a legitimate posting — and the damage is NOT
    * repairable at merge time from capped partials alone (a doc's
    * postings beyond the cap are gone, so "dedupe and recount df from
    * distinct doc_ids" can't reconstruct the true df). So the fold
    * ASSERTS disjointness — via [[assertBatchDisjoint]]'s per-batch
    * doc-id envelopes: O(batches) metadata reads on the fast path, a
    * data-column read only over batches whose envelopes actually
    * intersect, NEVER a corpus-sized scan at serve time. A crash-replay
    * of the SAME batch id is fine (landBatch overwrites its own
    * directory, so the doc still lives under one batch). */
  def mergeIndexes(s: SparkSession, outDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    assertBatchDisjoint(s, s"$outDir/docs")
    TextAnalysis.bm25Index(recapMergePartial(indexPartials(s, outDir)))
  }

  /** Every CURRENT partial — the committed base generation (if any index
    * compaction has run) plus each batch delta above the fold watermark.
    * Readers go through the manifest, never by listing, so a
    * half-written base is invisible (the [[DeltaCompact]] discipline). */
  private def indexPartials(s: SparkSession, outDir: String): DataFrame = {
    val idxDir = s"$outDir/idx"
    val conf = s.sparkContext.hadoopConfiguration
    val man = DeltaCompact.readManifest(idxDir, conf)
    val parts =
      man.map(m => s.read.parquet(s"$idxDir/base_gen=${m.gen}")).toSeq ++
        DeltaCompact.unfoldedDeltas(idxDir, man, conf)
          .map(id => s.read.parquet(s"$idxDir/batch=$id"))
    require(parts.nonEmpty, s"no landed index partials under $idxDir")
    parts.map(_.select("tok", "kept", "dfc"))
      .reduce(_ unionByName _)
  }

  /** The associative fold on PARTIAL schema: per term, re-cap the
    * concatenated min-k lists and sum the partial dfs — output is again
    * a partial (tok, kept, dfc), so folded generations keep folding with
    * future batches exactly (min-k of a union = min-k of concatenated
    * min-ks; df is additive given the batch-disjointness precondition). */
  private def recapMergePartial(partials: DataFrame): DataFrame =
    // ONE pass: the re-cap and the df sum share the tok-keyed
    // ObjectHashAggregate instead of reading the partials twice and
    // joining the two aggregates back on tok (r16: the join plan scanned
    // every partial twice and paid a second exchange + sort). A partial
    // row's `kept` is non-empty by construction (a term row exists only
    // when ≥1 posting did — bm25Partial aggregates FROM postings), so
    // posexplode never drops a row's dfc, and crediting dfc at pos 0
    // counts each partial row exactly once — bit-identical to the old
    // sum-then-join.
    partials
      .select(col("tok"), col("dfc"),
        posexplode(col("kept")).as(Seq("pos", "kv")))
      .groupBy("tok")
      .agg(
        graft.functions.GraftFunctions.minK(
          struct(col("kv.negtf").as("negtf"), col("kv.doc_id").as("doc_id"),
            col("kv.tf").as("tf")), TextAnalysis.Bm25Cap).as("kept"),
        sum(when(col("pos") === 0, col("dfc"))).as("dfc"))
      .select(col("tok"), col("kept"), col("dfc"))

  /** Fold every landed per-batch partial into ONE base-generation
    * partial under [[DeltaCompact]]'s manifest commit protocol — the
    * AGGREGATING twin of the LSH postings fold: the fold step is the
    * re-cap merge (vocab-sized output) instead of a union-repartition,
    * everything else (write base completely → atomic manifest swap →
    * GC folded deltas + old bases) is the same crash-safe discipline.
    * The base keeps the PARTIAL schema and the batch-built index's
    * layout (tok-range-partitioned, tok-sorted), so serve-time
    * [[mergeIndexes]] and future batch folds read it like any other
    * partial. Bounded idx growth: between compactions readers pay
    * base + unfolded deltas; after, one vocab-sized generation. */
  def compactIndex(s: SparkSession, outDir: String,
      retainSnapshots: Int = DeltaCompact.PreserveRetention): DeltaCompact.Manifest = {
    graft.functions.GraftFunctions.register(s)
    val idxDir = s"$outDir/idx"
    val conf = s.sparkContext.hadoopConfiguration
    val prev = DeltaCompact.rollForward(idxDir, conf)
    val deltas = DeltaCompact.unfoldedDeltas(idxDir, prev, conf)
    val folded = recapMergePartial(indexPartials(s, outDir))
    val watermark = (deltas ++ prev.map(_.maxFoldedBatch)).max
    val man = DeltaCompact.nextManifest(prev, watermark, retainSnapshots)
    // stage → claim-by-rename → pointer swap → GC: the shared
    // concurrent-maintainer-guarded commit, so the protocol can't
    // diverge between the three fold flavors
    DeltaCompact.commitStagedGeneration(idxDir, man, conf) { staging =>
      folded
        .repartitionByRange(col("tok"))
        .sortWithinPartitions("tok")
        .write.mode("overwrite").parquet(staging)
    }
    man
  }

  /** The lexical delete-maintenance step: pending corpus tombstones ⇒
    * [[rebuildIndex]], else nothing. The DECIDE is one metadata listing
    * on the caller's thread, cheap enough to run every batch (the
    * [[AnnMaintenance.lshStep]] cadence discipline); a fired rebuild is
    * submitted to `maintainer` and staged OFF-path — ingest keeps landing
    * batches above the fold watermark, serves keep merging the committed
    * index, and the swap is the rebuild's atomic generation commit. At
    * most one rebuild per tree is in flight (the [[DetachedMaintainer]]
    * guard); while one runs, this is a no-op. Returns whether a rebuild
    * was submitted; a caller that needs it finished (an end-of-run fold)
    * calls `maintainer.await(outDir)`.
    *
    * `gcGraceMs` defaults to [[DeltaCompact.StagingTtlMs]]: a rebuild's
    * post-commit sweep must not yank delta directories that a concurrent
    * ingest read-back or serve plan still lists (the grace contract on
    * [[DeltaCompact.compact]]). A caller with no concurrent reader passes
    * 0 to GC at the commit.
    *
    * `beforeAct` runs on the maintainer thread before the rebuild — the
    * injection point DetachedMaintainerSpec uses to slow the ACT and
    * prove cadence/serve isolation; production callers leave it. */
  def maintainIndex(s: SparkSession, outDir: String,
      maintainer: DetachedMaintainer,
      gcGraceMs: Long = DeltaCompact.StagingTtlMs,
      retainSnapshots: Int = DeltaCompact.PreserveRetentionDetached,
      beforeAct: () => Unit = () => ()): Boolean = {
    if (maintainer.isBusy(outDir)) return false
    val pending = DeltaCompact.listPendingTombstoneBatches(
      s"$outDir/docs", s.sparkContext.hadoopConfiguration)
    if (pending.isEmpty) false
    else maintainer.submit(outDir) { () =>
      beforeAct()
      // retainSnapshots >= 1: the detached commit races live serve plans,
      // so the superseded generation must outlive the swap (gcGraceMs
      // only protects delta/tombstone dirs, not the old base)
      rebuildIndex(s, outDir, gcGraceMs, retainSnapshots)
      ()
    }
  }

  /** Delete maintenance for the capped index — REBUILD, because the
    * impact-capped partial is NOT closed under deletion (`q_bm25_delete`
    * rationale: dropping a kept posting must promote one the cap already
    * forgot, and N/avgdl/df all shrink when documents leave). The
    * stats-correct sequence, all under the manifest protocols:
    *  1. fold the DOCS tree with its tombstones ([[DeltaCompact
    *     .compact]]) — physical delete on the corpus, tombstones GC'd;
    *  2. rebuild the capped partial from the folded survivors — one
    *     tokenize + capped-aggregate pass, the `q_bm25_topk` build leg;
    *  3. commit it as the INDEX tree's next base generation with the
    *     docs fold's watermark, superseding every landed partial at or
    *     under it (they described the pre-delete corpus) — partials
    *     landing AFTER stay deltas and keep merging exactly, because
    *     post-delete batches never contained the deleted docs.
    * Cost class: the fold cadence's own — a rebuild rides the compaction
    * tick, never a per-delete rewrite. */
  def rebuildIndex(s: SparkSession, outDir: String,
      gcGraceMs: Long = 0L,
      retainSnapshots: Int = DeltaCompact.PreserveRetention): DeltaCompact.Manifest = {
    graft.functions.GraftFunctions.register(s)
    val docsDir = s"$outDir/docs"
    val idxDir = s"$outDir/idx"
    val conf = s.sparkContext.hadoopConfiguration
    // retention covers BOTH trees: a detached rebuild's docs fold races
    // concurrent serve plans over the docs corpus exactly as its idx
    // commit races index serves
    val docMan = DeltaCompact.compact(s, docsDir, tombstoneKey = Some("doc_id"),
      retainSnapshots = retainSnapshots, gcGraceMs = gcGraceMs)
    // exactly the folded snapshot — NOT readCorpus: a batch landing
    // between the fold and this read would sit above the committed
    // watermark, so baking it into the rebuilt base AND leaving it a
    // delta would double-count its docs at merge time
    val live = DeltaCompact.readCorpusAsOf(s, docsDir, docMan.gen)
      .select(col("doc_id"), col("text"))
    val prev = DeltaCompact.rollForward(idxDir, conf, gcGraceMs)
    val man = DeltaCompact.nextManifest(prev, docMan.maxFoldedBatch,
      retainSnapshots)
    DeltaCompact.commitStagedGeneration(idxDir, man, conf, gcGraceMs) { staging =>
      TextAnalysis.bm25Partial(TextAnalysis.bm25Postings(live))
        .repartitionByRange(col("tok"))
        .sortWithinPartitions("tok")
        .write.mode("overwrite").parquet(staging)
    }
    man
  }
}
