package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The streamed crawl-dedup loop's protocol facts that the
  * `q_neardup_stream` oracle can't see: dedup-BEFORE-index ordering (a
  * batch never matches itself — the eager-checkpoint-before-land
  * contract), tombstoned documents ceasing to match future crawls
  * immediately (logical) and after the fold (physical), and fold
  * transparency for verdicts. */
class StreamNeardupIngestSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dedup-before-index, same-batch blindness, tombstones, fold transparency") {
    val s = spark
    val idx = Files.createTempDirectory("graft_ndstream").toFile.getAbsolutePath + "/idx"
    val clone = "the quick brown fox jumps over the lazy dog tonight"
    try {
      // batch 0: first crawl ever — nothing can precede it
      val v0 = StreamNeardupIngest.ingestStep(
        docs(0L -> clone, 1L -> "completely unrelated words about parquet row groups"),
        idx, 0L)
      assert(v0.count() === 0)

      // batch 1: docs 2 and 3 are clones of doc 0 AND of each other —
      // both must flag against the EARLIER doc 0, neither against its
      // same-batch twin (the index they served against predates them)
      val v1 = StreamNeardupIngest.ingestStep(
        docs(2L -> clone, 3L -> clone), idx, 1L)
      val got1 = v1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got1 === Map(2L -> 0L, 3L -> 0L), s"got $got1")

      // takedown: doc 0 is tombstoned — it must stop matching future
      // crawls IMMEDIATELY (logical delete via the live index read)
      DeltaCompact.landTombstones(
        docs(0L -> "").select("doc_id"), idx, 0L)
      val v2 = StreamNeardupIngest.ingestStep(docs(4L -> clone), idx, 2L)
      val got2 = v2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 === Map(4L -> 2L),
        s"tombstoned doc 0 must not match; next-best is the earliest clone 2: $got2")

      // fold: tombstone applied physically, verdicts unchanged
      StreamNeardupIngest.compactIndex(s, idx)
      assert(StreamNeardupIngest.readIndex(s, idx)
        .filter(org.apache.spark.sql.functions.col("doc_id") === 0L).count() === 0,
        "folded index must physically lack the tombstoned doc's signatures")
      assert(DeltaCompact.listTombstoneBatches(idx).isEmpty)
      val v3 = StreamNeardupIngest.ingestStep(docs(5L -> clone), idx, 3L)
      val got3 = v3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got3 === Map(5L -> 2L), s"post-fold serve must agree: $got3")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(idx).getParentFile)
    }
  }
}
