package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke for the dedup/LSH family: time the bucketed candidate
  * generation at sf0.1 and at a 10× synthetic corpus (≈sf1), and print the
  * ratio table committed in SCALE.md. Near-linear ratios (≪ the quadratic
  * 100×) are the evidence that the group-then-expand plans scale with
  * corpus size, not pairs.
  *
  * The 10× corpus is derived from sf0.1 by unioning ten perturbed copies:
  * each copy tags EVERY word with a copy marker (so every shingle is
  * unique to its copy — copies must NOT near-collide across replicas, or
  * the measurement reflects quadratic pair OUTPUT growth instead of plan
  * scaling; a first attempt that prefixed only one token per doc produced
  * a legitimate 45× pair blow-up, not a plan regression) and nudges
  * `embedding` by a copy-specific epsilon for the same reason. Run on
  * demand:
  * `sbt "runMain graft.ScaleSmoke [workDir] [queries] [copies]"` (not part
  * of the driver bench or the test suite — it takes minutes by design).
  * `copies` (default 10) sets the scale multiple: the round-7 100× smoke
  * (`copies = 100`, SCALE.md's 100× column) probes the superlinear rows a
  * further decade out, where a cap that merely postponed quadratic growth
  * would be unmissable.
  */
object ScaleSmoke {

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val nDocs = docs.count()
    (0 until copies).map { k =>
      docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c$k$$1").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "(\\S+)", s"c$k$$1")).cast("long")
          .as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val nVec = emb.count()
    (0 until copies).map { k =>
      emb.select(
        (col("vec_id") + lit(k * nVec)).as("vec_id"),
        transform(col("embedding"), x => (x + lit(k * 1e-3f)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    synthesizeEvents(spark, baseDir, outDir, copies)
  }

  /** 10x events: user ids offset per copy so per-user event counts (and
    * thus SCD2 state-run lengths) stay constant — the corpus grows in
    * USERS, the per-key work does not; that is what linear scaling of a
    * user-partitioned plan means. Separate method so a workDir synthesized
    * before events were part of the smoke upgrades in place. */
  def synthesizeEvents(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    // read the raw ns-epoch ts as LONG and write it back as LONG — the
    // copy must present the same schema to Tables.events as the original
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val nEv = ev.count()
    val nUser = ev.agg(max("user_id")).head().getLong(0) + 1
    (0 until copies).map { k =>
      ev.select(
        (col("event_id") + lit(k * nEv)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * nUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_scale_sf1")
    // optional 4th arg: the base corpus to multiply and compare against.
    // Passing an already-synthesized workDir here COMPOSES decades — e.g.
    // base = the 100x corpus with copies = 10 yields a 1000x corpus (the
    // copy markers re-prefix every word, so uniqueness per (outer, inner)
    // copy is preserved), and the printed ratio is the 100x -> 1000x
    // decade directly.
    val baseDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SessionTuning.tune(spark) // shared ObjectHashAggregate fallback sizing
    spark.sparkContext.setLogLevel("WARN")

    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    if (!new java.io.File(s"$workDir/documents.parquet").exists()) {
      System.err.println(s"[scale] synthesizing ${copies}x corpus at $workDir")
      synthesize(spark, baseDir, workDir, copies)
    } else if (!new java.io.File(s"$workDir/events.parquet").exists()) {
      System.err.println(s"[scale] adding ${copies}x events to existing $workDir")
      synthesizeEvents(spark, baseDir, workDir, copies)
    }

    // by-name: the timer must cover build() too — q_dedup_clusters runs
    // eager localCheckpoints during plan construction
    def force(df: => DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1000000L
    }

    val fullFamily: Seq[Q] = Seq(
      operators.Dedup.qMinhashBands, operators.Dedup.qMinhashPairs,
      operators.Dedup.qSimhash, operators.Dedup.qSimhashPairs,
      operators.Dedup.qSimhashPairs32,
      operators.Dedup.qNgramJaccard, operators.Dedup.qDedupClusters,
      operators.Dedup.qContamination, operators.Similarity.qEmbedNearDup,
      operators.Dedup.qDedupKeepBest, operators.TextAnalysis.qLmScore,
      operators.Similarity.qEmbedClusters, operators.Similarity.qKnnPqAdc,
      operators.Similarity.qSemDedup, operators.Similarity.qKnnIvfPq,
      operators.Dedup.qMinhashJaccardEst, operators.TextAnalysis.qWeightedSample,
      operators.Dedup.qDupSpanCoverage, operators.Dedup.qDupSpanRemoval,
      operators.Dedup.qIncrDedup,
      operators.Similarity.qKnnRerank,
      operators.Features.qCharEntropy, operators.Features.qHeavyHitters,
      operators.Analytic.qPitJoin, operators.Layout.qCompaction,
      operators.Features.qQualityGate, operators.Features.qQuantileBins,
      operators.Features.qPmiCooc,
      operators.TextAnalysis.qSparseCosine, operators.Analytic.qNearestEvent,
      operators.TextAnalysis.qBpeMerges, operators.Features.qTypeDrift,
      operators.TextAnalysis.qRepetition, operators.TextAnalysis.qBpeEncode,
      operators.TextAnalysis.qNbSourceScore, operators.TextAnalysis.qLangIdEval,
      operators.Dedup.qDedupClusterSizes, operators.Similarity.qKnnIncrAssign,
      operators.TextAnalysis.qNbStreamScore, operators.Features.qQuantileBinsApprox,
      operators.TextAnalysis.qShardAssign,
      operators.TextAnalysis.qGlobalShuffle, operators.TextAnalysis.qTemperatureMix,
      operators.Dedup.qCrossSourceDups,
      operators.TextAnalysis.qNbCalibration, operators.Dedup.qDedupDegree,
      operators.Similarity.qKnnStreamAssign, operators.Similarity.qEmbedDimStats,
      operators.TextAnalysis.qTokFertility,
      // flat vs two-level IVF: at 100x embeddings (200k vectors) the
      // assignment work is 200k x 447 cosines flat vs 200k x (21+22)
      // two-level - the smoke ratio pair is the O(n*sqrt(n)) vs
      // O(n*n^0.25) build-cost evidence
      operators.Similarity.qKnnIvf, operators.Similarity.qKnnIvf2,
      // round 10: the training-free LSH pair (in-flight + persisted
      // build/serve), the per-key reservoir, and the CMS frequency sketch
      operators.Similarity.qKnnLsh, operators.Similarity.qKnnLshPersist,
      // capped postings: the ratio vs qKnnLsh IS the measurement — the
      // cap turns the linear-in-n candidate fan-out into a plan constant
      operators.Similarity.qKnnLshCapped,
      operators.TextAnalysis.qReservoirSample,
      operators.TextAnalysis.qReservoirPerKey,
      operators.Features.qHeavyHittersCms,
      // round 10b: impact-pruned BM25 (candidates a plan constant), the
      // widened-probe filtered ANN serve, and the RRF fusion of the two
      // retrieval modes (cost should track the sum of its branches —
      // fusion itself touches only top-k outputs)
      operators.TextAnalysis.qBm25TopK, operators.Similarity.qKnnFiltered,
      operators.Similarity.qHybridRrf,
      // label-inequality twin of the filtered serve: same probe plan,
      // ~9x the eligible candidates per cell
      operators.Similarity.qHardNegatives,
      // round 11: the persisted serve family — filtered/hard-negative
      // serves off label-carrying postings, hybrid fusion off landed
      // BM25 + IVF indexes, and the streamed BM25 ingest-to-serve gate;
      // their ratios vs the in-flight twins ARE the build/serve split
      // evidence at scale
      operators.Similarity.qKnnFilteredPersist,
      operators.Similarity.qHardNegativesPersist,
      operators.Similarity.qHybridRrfPersist,
      operators.TextAnalysis.qBm25StreamTopK)
    // optional 2nd arg: comma-separated query names, for measuring one
    // plan change without re-timing the whole family
    val family = args.lift(1).map(_.split(',').toSet) match {
      case Some(only) => fullFamily.filter(q => only(q.name))
      case None       => fullFamily
    }

    // warmup both dirs so codegen/JIT is paid before measurement
    family.foreach(q => force(q.build(spark, "/root/testdata/sf0.01")))

    println(f"${"query"}%-22s ${"base_ms"}%10s ${s"${copies}x_ms"}%10s ${"ratio"}%7s")
    family.foreach { q =>
      val small = force(q.build(spark, baseDir))
      val big = force(q.build(spark, workDir))
      println(f"${q.name}%-22s $small%10d $big%10d ${big.toDouble / small}%7.1f")
    }
    spark.stop()
  }
}
