package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.TextAnalysis

/** The ingest-time BM25 indexing path (land → per-batch capped partial →
  * serve-time fold): the folded index must be IDENTICAL to the
  * single-pass batch build — min-k is associative and df additive, so
  * micro-batching must not change one index bit — and serving off the
  * folded index must reproduce `q_bm25_topk`'s oracle-gated output
  * exactly. This is the mergeable-sketch evidence for the capped
  * lexical index, the same property the streaming CMS gate pins for
  * frequency sketches. */
class StreamBm25IngestSpec extends SparkSpec {

  test("folded per-batch partials ≡ batch index; serve parity with q_bm25_topk") {
    val s = spark
    val docs = Tables.documents(s, sf)

    val expectIdx = TextAnalysis
      .bm25Index(TextAnalysis.bm25Partial(TextAnalysis.bm25Postings(docs)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted

    val outDir = Files.createTempDirectory("graft_bm25spec").toFile
    try {
      val tablePath = s"$sf/documents.parquet"
      val reader = s.readStream.schema(docs.schema)
      val src =
        if (new java.io.File(tablePath).isDirectory) reader.parquet(tablePath)
        else reader.option("pathGlobFilter", "documents.parquet").parquet(sf)
      val q = src.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          StreamBm25Ingest.ingestStep(b, outDir.getAbsolutePath, id)
          ()
        }
        .start()
      q.awaitTermination()

      val merged = StreamBm25Ingest.mergeIndexes(s, outDir.getAbsolutePath)
      // the fold must be index-bound: its plan reads idx/ partials only —
      // the disjointness guard decides from per-batch doc-id envelope
      // sidecars, never a corpus-sized scan of docs/
      val scanRoots = merged.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      assert(scanRoots.nonEmpty, "expected file scans in the fold plan")
      assert(scanRoots.forall(p => !p.contains("/docs")),
        s"fold plan scans the landed corpus: $scanRoots")
      val gotIdx = merged.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted
      assert(gotIdx.nonEmpty)
      assert(gotIdx === expectIdx,
        "folded streaming index diverged from the single-pass batch build")

      // end-to-end: serving off the folded index reproduces the
      // oracle-gated batch gate bit-for-bit
      val expectServe = TextAnalysis.qBm25TopK.build(s, sf).collect()
        .map(_.toString).sorted
      val gotServe = TextAnalysis.bm25Serve(merged, docs).collect()
        .map(_.toString).sorted
      assert(gotServe === expectServe,
        "serve over the folded index diverged from q_bm25_topk")

      // layout: docs landed shard-partitioned, one partial index per batch
      val docBatches = new java.io.File(outDir, "docs")
        .listFiles().filter(_.getName.startsWith("batch="))
      assert(docBatches.nonEmpty, "no document batches landed")
      assert(docBatches.forall(_.listFiles().exists(_.getName.startsWith("shard_id="))),
        "landed batches are not shard-partitioned")
      assert(new java.io.File(outDir, "idx")
        .listFiles().exists(_.getName.startsWith("batch=")),
        "no per-batch partial index landed")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    }
  }

  test("index compaction: re-cap generation fold under the manifest protocol stays exact") {
    val s = spark
    val docs = Tables.documents(s, sf)
    val expectIdx = TextAnalysis
      .bm25Index(TextAnalysis.bm25Partial(TextAnalysis.bm25Postings(docs)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    def mergedNow(outDir: String) =
      StreamBm25Ingest.mergeIndexes(s, outDir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq

    val outDir = java.nio.file.Files.createTempDirectory("graft_bm25cpt").toFile
    try {
      // 3 disjoint batches through the real ingest step
      StreamBm25Ingest.ingestStep(docs.filter(col("doc_id") % 3 === 0), outDir.getAbsolutePath, 0L)
      StreamBm25Ingest.ingestStep(docs.filter(col("doc_id") % 3 === 1), outDir.getAbsolutePath, 1L)
      // maintenance-cadence fold after two batches...
      val man0 = StreamBm25Ingest.compactIndex(s, outDir.getAbsolutePath)
      assert(man0.maxFoldedBatch === 1L)
      // ...then a third batch lands as a post-fold delta
      StreamBm25Ingest.ingestStep(docs.filter(col("doc_id") % 3 === 2), outDir.getAbsolutePath, 2L)
      // base partial + unfolded delta merge to the exact batch index
      assert(mergedNow(outDir.getAbsolutePath) === expectIdx,
        "base-generation partial + post-fold delta diverged from the batch build")
      // an orphaned half-written base (crash between write and commit)
      // is invisible: readers go through the manifest, never by listing
      new java.io.File(outDir, "idx/base_gen=99").mkdirs()
      assert(mergedNow(outDir.getAbsolutePath) === expectIdx,
        "orphan base generation leaked into the merge")
      // final fold: one generation, deltas GC'd, still exact
      val man = StreamBm25Ingest.compactIndex(s, outDir.getAbsolutePath)
      assert(man.maxFoldedBatch === 2L && man.gen === man0.gen + 1)
      val children = new java.io.File(outDir, "idx").listFiles().map(_.getName).toSet
      assert(!children.exists(_.startsWith("batch=")), s"unGC'd idx deltas: $children")
      assert(children.contains(s"base_gen=${man.gen}") &&
        !children.contains(s"base_gen=${man0.gen}"),
        s"old/new base generations wrong: $children")
      assert(mergedNow(outDir.getAbsolutePath) === expectIdx,
        "compacted-only index diverged from the batch build")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    }
  }

  test("merge enforces batch-disjoint doc_ids; same-id replay stays mergeable") {
    val s = spark
    import s.implicits._
    val batch = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val outDir = java.nio.file.Files.createTempDirectory("graft_bm25dis").toFile
    try {
      StreamBm25Ingest.ingestStep(batch, outDir.getAbsolutePath, 0L)
      // crash-replay of the SAME batch id: landBatch overwrites its own
      // directory — each doc still lives under exactly one batch, merge ok
      StreamBm25Ingest.ingestStep(batch, outDir.getAbsolutePath, 0L)
      assert(StreamBm25Ingest.mergeIndexes(s, outDir.getAbsolutePath).count() > 0)
      // the SAME doc re-ingested under a NEW batch id: df would
      // double-count and the re-capped min-k could seat doc 1 twice —
      // the fold must refuse, not silently corrupt the index
      StreamBm25Ingest.ingestStep(batch.filter(col("doc_id") === 1L),
        outDir.getAbsolutePath, 1L)
      val e = intercept[IllegalStateException] {
        StreamBm25Ingest.mergeIndexes(s, outDir.getAbsolutePath).count()
      }
      assert(e.getMessage.contains("more than one batch"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    }
  }

  test("interleaved-but-disjoint doc_id envelopes are still accepted") {
    // the envelope guard's fast path is range metadata; when ranges
    // intersect it must fall back to a precise check over just those
    // batches — NOT reject on the envelope alone
    val s = spark
    import s.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft_bm25ilv").toFile
    try {
      StreamBm25Ingest.ingestStep(
        Seq((1L, "alpha beta"), (3L, "beta gamma")).toDF("doc_id", "text"),
        outDir.getAbsolutePath, 0L)
      StreamBm25Ingest.ingestStep(
        Seq((2L, "gamma delta")).toDF("doc_id", "text"),
        outDir.getAbsolutePath, 1L)
      assert(StreamBm25Ingest.mergeIndexes(s, outDir.getAbsolutePath).count() > 0,
        "disjoint-but-interleaved batches must merge")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    }
  }

  test("crash between docs-land and partial-land: restart's batch replay " +
    "heals the cross-tree divergence, serve ≡ the no-crash run") {
    // the lexical branch lands TWO sibling trees per batch (docs, then
    // the capped index partial). A crash in the window between them
    // leaves the trees diverged: docs/batch=N exists, idx/batch=N does
    // not. Structured Streaming's at-least-once foreachBatch replays
    // batch N on restart with the SAME id; both landings are
    // overwrite-idempotent (atomicLandDir), so the replay rewrites
    // docs/batch=N in place and lands the missing partial — the healed
    // tree must be indistinguishable from one that never crashed. (The
    // semantic branch's twin windows are StreamAnnRecoverySpec /
    // LshRefreshCrashRaceSpec; this pins the lexical branch explicitly.)
    val s = spark
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val crashed = Files.createTempDirectory("graft_bm25crash").toFile
    val control = Files.createTempDirectory("graft_bm25ctl").toFile
    try {
      val b0 = docs.filter(col("doc_id") % 3 === 0)
      val b1 = docs.filter(col("doc_id") % 3 === 1)
      val b2 = docs.filter(col("doc_id") % 3 === 2)

      // control: three clean ingest steps
      StreamBm25Ingest.ingestStep(b0, control.getAbsolutePath, 0L)
      StreamBm25Ingest.ingestStep(b1, control.getAbsolutePath, 1L)
      StreamBm25Ingest.ingestStep(b2, control.getAbsolutePath, 2L)

      // crashed run: batch 1 dies AFTER its docs landed, BEFORE its
      // partial landed — exactly the cross-tree window
      StreamBm25Ingest.ingestStep(b0, crashed.getAbsolutePath, 0L)
      StreamShardRouter.landBatch(b1, s"${crashed.getAbsolutePath}/docs", 1L)
      // the divergence is real: docs tree has batch 1, idx tree does not
      assert(DeltaCompact.listDeltaBatches(s"${crashed.getAbsolutePath}/docs",
        s.sparkContext.hadoopConfiguration).contains(1L))
      assert(!DeltaCompact.listDeltaBatches(s"${crashed.getAbsolutePath}/idx",
        s.sparkContext.hadoopConfiguration).contains(1L))

      // restart: the checkpoint replays batch 1, then the run continues
      StreamBm25Ingest.ingestStep(b1, crashed.getAbsolutePath, 1L)
      StreamBm25Ingest.ingestStep(b2, crashed.getAbsolutePath, 2L)

      // the healed serve is hash-identical to the no-crash run's
      def serve(dir: java.io.File): Set[(Long, Long, Long)] =
        graft.operators.TextAnalysis.bm25Serve(
          StreamBm25Ingest.mergeIndexes(s, dir.getAbsolutePath), docs)
          .select(col("query_id"), col("doc_id"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
          .toSet
      assert(serve(crashed) === serve(control),
        "replayed cross-tree landing diverged from the no-crash run")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(crashed)
      org.apache.commons.io.FileUtils.deleteQuietly(control)
    }
  }
}
