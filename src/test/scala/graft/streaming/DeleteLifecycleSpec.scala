package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Similarity


/** The DELETE half of the persisted-index lifecycle, end to end:
  * tombstone deltas land like data deltas, serve drops the deleted keys
  * IMMEDIATELY (logical delete via the live read's anti-join), the next
  * generation fold removes them PHYSICALLY and folds the tombstones
  * away — and the two serves are bit-identical (both gates face one
  * DuckDB oracle; this spec pins the equality directly plus the
  * storage-level facts the oracle can't see: physical absence, tombstone
  * GC, crash-replay harmlessness, and post-fold deletes applying
  * logically until the next fold). */
class DeleteLifecycleSpec extends SparkSpec {

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("LSH tombstones: logical serve ≡ physical serve; fold forgets; replay harmless") {
    val s = spark
    val emb = Tables.embeddings(s, sf)
    val idx = Files.createTempDirectory("graft_del_lsh").toFile.getAbsolutePath
    try {
      (0 until 3).foreach { i =>
        StreamLshIngest.landPostingsDelta(
          Similarity.lshPostings(emb.filter(col("vec_id") % 3 === i)), idx, i.toLong)
      }
      val deleted = emb.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("neighbor_id"))
      val nDeleted = deleted.count()
      assert(nDeleted > 0, "delete set must be non-empty for the spec to mean anything")
      StreamLshIngest.landTombstones(deleted, idx, 0L)

      // 1. logical delete is immediate and exact: live read drops every
      //    posting row of every tombstoned vector, and ONLY those
      val full = StreamLshIngest.readPostings(s, idx)
      val live = StreamLshIngest.readPostingsLive(s, idx)
      assert(full.filter(col("neighbor_id") % 7 === 3).count() > 0)
      assert(live.filter(col("neighbor_id") % 7 === 3).count() === 0)
      assert(live.count() === full.filter(col("neighbor_id") % 7 =!= 3).count())

      val probes = Similarity.lshQueryProbes(emb).localCheckpoint()
      val logical = sortedRows(
        Similarity.lshServeJoin(live.drop("tb_hi"), probes))

      // 2. the fold applies tombstones physically and folds them away
      StreamLshIngest.compactPostings(s, idx)
      val folded = StreamLshIngest.readPostings(s, idx)
      assert(folded.filter(col("neighbor_id") % 7 === 3).count() === 0,
        "physical delete: the folded base must not contain tombstoned vectors")
      assert(DeltaCompact.listTombstoneBatches(idx).isEmpty,
        "applied tombstones must be GC'd by the fold")
      val physical = sortedRows(
        Similarity.lshServeJoin(folded.drop("tb_hi"), probes))
      assert(logical === physical,
        "logical (anti-join) and physical (folded) serves must be bit-identical")

      // 3. crash-replay window: a stale tombstone re-landed AFTER its fold
      //    (crash between manifest commit and tombstone GC) re-applies as
      //    a no-op — keys already absent from the base
      DeltaCompact.landTombstones(deleted, idx, 0L)
      assert(sortedRows(Similarity.lshServeJoin(
        StreamLshIngest.readPostingsLive(s, idx).drop("tb_hi"), probes)) === physical)
      StreamLshIngest.compactPostings(s, idx) // sweeps the stale file
      assert(DeltaCompact.listTombstoneBatches(idx).isEmpty)

      // 4. a NEW delete after the fold applies logically until the next
      //    fold: pick one live vector, tombstone it, live read drops it
      //    while the raw read still has it. (Re-read: `folded` still
      //    plans over generation 0's files, which the second fold GC'd.)
      val victim = StreamLshIngest.readPostings(s, idx)
        .select("neighbor_id").filter(col("neighbor_id") % 7 =!= 3)
        .agg(min("neighbor_id")).collect().head.getLong(0)
      StreamLshIngest.landTombstones(
        s.range(victim, victim + 1).select(col("id").as("neighbor_id")), idx, 1L)
      assert(StreamLshIngest.readPostings(s, idx)
        .filter(col("neighbor_id") === victim).count() > 0)
      assert(StreamLshIngest.readPostingsLive(s, idx)
        .filter(col("neighbor_id") === victim).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    }
  }

  test("sequence rule: a key re-ingested AFTER its delete survives; at-or-before rows die") {
    val s = spark
    import s.implicits._
    val idx = Files.createTempDirectory("graft_del_seq").toFile.getAbsolutePath
    def vec(id: Long) = (id, Array.tabulate(64)(j => ((id + j) % 7).toFloat / 7f))
    val batch0 = Seq(vec(1L), vec(2L)).toDF("vec_id", "embedding")
    try {
      StreamLshIngest.landPostingsDelta(Similarity.lshPostings(batch0), idx, 0L)
      // delete vec 1 "as it exists now" (watermark = batch 0)
      StreamLshIngest.landTombstones(
        Seq(1L).toDF("neighbor_id"), idx, 0L)
      assert(StreamLshIngest.readPostingsLive(s, idx)
        .filter(col("neighbor_id") === 1L).count() === 0)

      // the re-crawl: vec 1 lands again in a LATER batch — the sequence
      // rule says the old tombstone must NOT suppress the new rows
      val recrawl = Seq(vec(1L)).toDF("vec_id", "embedding")
      StreamLshIngest.landPostingsDelta(Similarity.lshPostings(recrawl), idx, 1L)
      val perVec = Similarity.lshPostings(batch0).filter(col("neighbor_id") === 1L).count()
      val live = StreamLshIngest.readPostingsLive(s, idx)
      assert(live.filter(col("neighbor_id") === 1L).count() === perVec,
        "re-ingested key must be visible exactly once (new rows, not old)")
      assert(live.filter(col("neighbor_id") === 2L).count() === perVec)

      // the fold folds the re-ingested rows into the base and drops only
      // the at-or-before-watermark ones; tombstone GC'd
      StreamLshIngest.compactPostings(s, idx)
      assert(DeltaCompact.listTombstoneBatches(idx).isEmpty)
      val folded = StreamLshIngest.readPostings(s, idx)
      assert(folded.filter(col("neighbor_id") === 1L).count() === perVec)

      // and a fold that would IGNORE pending tombstones refuses loudly
      StreamLshIngest.landTombstones(Seq(2L).toDF("neighbor_id"), idx, 1L)
      val e = intercept[IllegalArgumentException] {
        DeltaCompact.compact(s, idx, numShards = 1)
      }
      assert(e.getMessage.contains("resurrect"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    }
  }

  test("BM25 delete gate: no deleted doc serves, as query or result; live query count") {
    val s = spark
    val out = graft.SparkEntry.queries("q_bm25_delete")(s, sf).localCheckpoint()
    // the full-corpus gate DOES rank deleted docs — deletion changed real results
    val base = graft.SparkEntry.queries("q_bm25_topk")(s, sf)
    assert(base.filter(col("doc_id") % 7 === 3).count() > 0,
      "delete set must intersect the undeleted top-k for the gate to be a real test")
    assert(out.filter(col("doc_id") % 7 === 3).count() === 0)
    assert(out.filter(col("query_id") % 7 === 3).count() === 0)
    // every live query (doc_id < Bm25Queries, not deleted) serves a full top-k
    val liveQueries = Tables.documents(s, sf)
      .filter(col("doc_id") < 8 && col("doc_id") % 7 =!= 3).count()
    assert(out.select("query_id").distinct().count() === liveQueries)
    assert(out.count() === liveQueries * 10)
  }
}
