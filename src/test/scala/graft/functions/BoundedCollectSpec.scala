package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The bounded collect aggregate ([[CollectCapped]]) and the hot-bucket
  * behavior it buys the dedup/LSH family: oversized groups are retained at
  * exactly cap+1 elements (the overflow sentinel) through both the partial
  * and merge paths, and the pair-generation queries drop them instead of
  * materializing one unbounded array in one task. */
class BoundedCollectSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  test("groups at or under the cap are collected in full") {
    val s = spark
    val df = s.range(0, 100)
      .select((col("id") % 10).as("k"), col("id").as("v"))
      .groupBy("k")
      .agg(GraftFunctions.collectCapped(col("v"), 10).as("vs"))
      .select(col("k"), size(col("vs")).as("n"), col("vs"))
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getInt(1) == 10))
    // full contents, not a sample: k=3 holds exactly {3, 13, ..., 93}
    val k3 = rows.find(_.getLong(0) == 3L).get.getSeq[Long](2).toSet
    assert(k3 == (0 until 10).map(i => 3L + 10 * i).toSet)
  }

  test("an overflowing group is bounded at cap+1, never the true size") {
    val s = spark
    // one hot key with 100k values across many partitions — the unbounded
    // collect_list would materialize all 100k; the cap keeps 33
    val n = s.range(0, 100000, 1, 16)
      .select(lit("hot").as("k"), col("id").as("v"))
      .groupBy("k")
      .agg(GraftFunctions.collectCapped(col("v"), 32).as("vs"))
      .select(size(col("vs")))
      .head.getInt(0)
    assert(n == 33, s"overflow sentinel must be cap+1, got $n")
  }

  test("min-k keeps exactly the k smallest, ascending, regardless of partitioning") {
    val s = spark
    // values arrive across 16 partitions in id order per partition; the
    // k smallest of each group are a SET property — the result must be
    // identical however the rows were distributed (unlike collectCapped)
    val rows = s.range(0, 10000, 1, 16)
      .select((col("id") % 7).as("k"), ((col("id") * 37) % 10000).as("v"))
      .groupBy("k")
      .agg(GraftFunctions.minK(col("v"), 5).as("vs"))
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val k = r.getLong(0)
      val got = r.getSeq[Long](1)
      // expected directly: all v for this k, smallest 5 ascending
      val expect = (0L until 10000L).filter(_ % 7 == k).map(id => (id * 37) % 10000)
        .sorted.take(5)
      assert(got == expect, s"k=$k: got $got, want $expect")
    }
  }

  test("min-k on a struct orders by (first, second) fields — the hash-reservoir shape") {
    val s = spark
    val rows = s.range(0, 1000, 1, 8)
      .select(lit(1).as("k"),
        struct((col("id") % 10).as("h"), col("id").as("vec_id")).as("c"))
      .groupBy("k")
      .agg(GraftFunctions.minK(col("c"), 3).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.h"), col("c.vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // min by (h, vec_id): h=0 ids ascending → (0,0), (0,10), (0,20)
    assert(rows.toSeq == Seq((0L, 0L), (0L, 10L), (0L, 20L)))
  }

  test("min-k null semantics: null elements skipped; null struct FIELDS sort first (mask at call sites)") {
    val s = spark
    // null element (whole candidate) → skipped: only non-null rows collect
    val skipped = s.range(0, 10)
      .select(lit(1).as("k"),
        when(col("id") >= 5, struct(col("id").as("h"), col("id").as("v"))).as("c"))
      .groupBy("k")
      .agg(GraftFunctions.minK(col("c"), 3).as("cs"))
      .select(explode(col("cs")).as("c")).select(col("c.h")).collect().map(_.getLong(0))
    assert(skipped.toSeq == Seq(5L, 6L, 7L),
      "null candidates must be skipped, min-3 of the survivors kept")
    // null FIELD inside a non-null struct sorts FIRST — the behavior the
    // argmax call sites must mask (Similarity.maskedCand); pinned here so
    // a silent ordering change in Spark's interpreted ordering is caught
    val first = s.range(0, 10)
      .select(lit(1).as("k"),
        struct(when(col("id") === 7, lit(null)).otherwise(col("id")).as("h"),
          col("id").as("v")).as("c"))
      .groupBy("k")
      .agg(GraftFunctions.minK(col("c"), 1).as("cs"))
      .select(col("cs").getItem(0).getField("v")).head.getLong(0)
    assert(first == 7L, "a null ordering field must sort first (hence the masks)")
  }

  test("nulls are skipped like collect_list") {
    val s = spark
    val n = s.range(0, 10)
      .select(lit(1).as("k"), when(col("id") % 2 === 0, col("id")).as("v"))
      .groupBy("k")
      .agg(GraftFunctions.collectCapped(col("v"), 100).as("vs"))
      .select(size(col("vs")))
      .head.getInt(0)
    assert(n == 5)
  }

  test("SQL surface: graft_collect_capped via GraftExtensions registry") {
    val s = spark
    GraftFunctions.register(s)
    s.range(0, 50).createOrReplaceTempView("bc_sql_in")
    val n = s.sql(
      "SELECT size(graft_collect_capped(id, 7)) AS n FROM bc_sql_in")
      .head.getInt(0)
    assert(n == 8)
  }

  test("degenerate corpus: 1500 identical docs complete with buckets dropped, exact dedup still catches them") {
    val s = spark
    import s.implicits._
    // 1500 byte-identical docs + 2 genuine near-dups. All 1500 collapse
    // into the SAME MinHash band buckets (bucket size 1500 > MaxBucket =
    // 1024 if uncapped ⇒ ~1.1M pairs from one task). With the cap the
    // bucket is dropped: the pipeline completes, emits only the near-dup
    // pair, and the identical docs remain the exact-dedup pass's job.
    val docs = (0 until 1500).map(i => (i.toLong, "srcA", "the quick brown fox jumps over the lazy dog again and again")) ++
      Seq((900L, "srcB", "completely unique text alpha beta gamma delta epsilon zeta eta theta"),
          (901L, "srcB", "completely unique text alpha beta gamma delta epsilon zeta eta theta iota"))
    val df = docs.toDF("doc_id", "source", "text")
    df.createOrReplaceTempView("bc_documents")
    withTempDir("bc_docs") { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val pairs = graft.operators.Dedup.qMinhashPairs.build(s, tmp).collect()
      val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet == Set((900L, 901L)),
        s"only the genuine near-dup pair should survive the bucket cap, got ${pairSet.size} pairs")

      // the identical docs ARE caught by the exact path (hash groupBy)
      val exactGroups = df.groupBy(md5(col("text").cast("binary")))
        .count().filter(col("count") > 1).count()
      assert(exactGroups == 1L)
    }
  }

  test("hot shingle across 1k docs: jaccard pipeline stays bounded and exact for uncommon shingles") {
    val s = spark
    import s.implicits._
    // every doc contains one shared hot 3-gram ("common filler words") —
    // df=1000 > MaxShingleDf, so it is excluded from the inverted index;
    // two docs also share three rare shingles and must still pair up.
    val hot = "common filler words"
    val docs = (0 until 1000).map { i =>
      val rare = if (i < 2) "rare shared shingle text here" else s"doc$i unique body text $i"
      (i.toLong, "srcA", s"$hot $rare")
    }
    withTempDir("bc_hot") { tmp =>
      docs.toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val top = graft.operators.Dedup.qNgramJaccard.build(s, tmp).collect()
      assert(top.nonEmpty, "the rare-shingle pair must survive the DF cap")
      val best = top.head
      assert((best.getLong(0), best.getLong(1)) == (0L, 1L),
        s"docs 0 and 1 share rare shingles and must rank first, got $best")
      // jaccard uses FULL set sizes: both docs have 7 distinct shingles
      // (9 words -> 7 shingles), sharing 5 of the rare ones; the hot shingle
      // and its df>cap bridge shingles are excluded from the intersection
      // counts but stay in the denominators — value must be < 1.0
      assert(best.getDouble(2) < 1.0 && best.getDouble(2) > 0.0)
    }
  }
}
