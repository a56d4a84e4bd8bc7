package graft.streaming

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The LSH geometry refresh's failure modes, exercised directly — the
  * sibling of StreamPqRefreshSpec's crash test and DeltaCompactRaceSpec's
  * slot race, at the one surface where a torn commit would be silently
  * catastrophic: postings expanded at one bit width served under a
  * descriptor claiming another hash EVERY probe into the wrong bucket
  * space. The staged protocol's claim-by-rename makes sidecar + postings
  * atomic BY CONSTRUCTION (both live inside the renamed generation
  * directory); these tests pin that construction against a mid-refresh
  * crash and a two-maintainer race. */
class LshRefreshCrashRaceSpec extends SparkSpec {

  private def emb: DataFrame =
    Tables.embeddings(spark, sf)
      .withColumn("doc_id", col("vec_id"))
      .select("doc_id", "vec_id", "label", "embedding")

  private def conf = spark.sparkContext.hadoopConfiguration

  test("crash injection: refresh killed after staging, before the claim — serving stays on the old generation, next refresh absorbs, orphan TTL-swept") {
    val s = spark
    val base = Files.createTempDirectory("graft_lshcrash").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    try {
      val b0 = emb.filter(col("vec_id") % 2 === 0)
      StreamLshIngest.ingestAndLand(b0, corpusDir, idxDir, 0L)
      val man0 = StreamLshIngest.compactPostings(s, idxDir)
      val geom0 = StreamLshIngest.readGeometry(s, idxDir)
      val served0 = StreamLshIngest.readPostings(s, idxDir).count()

      // more corpus lands; a refresh starts and is KILLED after staging
      // its postings AND its (wider) geometry sidecar, before the claim
      // rename. Reconstruct exactly that staging state.
      val b1 = emb.filter(col("vec_id") % 2 === 1)
      StreamLshIngest.ingestAndLand(b1, corpusDir, idxDir, 1L)
      val orphan = s"$idxDir/_staging/gen=${man0.gen + 1}.killed-refresh"
      Similarity.lshPostings(emb, geom0.tables, geom0.bits + 1)
        .withColumn("shard_id", lit(0))
        .write.partitionBy("shard_id").parquet(orphan)
      StreamLshIngest.writeGeometry(orphan,
        StreamLshIngest.LshGeometry(geom0.tables, geom0.bits + 1), conf)

      // the crash window is invisible: pointer unmoved, serving geometry
      // and postings still the committed pair (never the orphan's wider
      // ones — a reader can never see postings at one width under a
      // sidecar at another)
      assert(DeltaCompact.readManifest(idxDir, conf).contains(man0))
      assert(StreamLshIngest.readGeometry(s, idxDir) === geom0)
      assert(StreamLshIngest.readPostingsLive(s, idxDir).count() ===
        served0 + b1.count() * geom0.tables)

      // the real refresh proceeds normally — the slot was never claimed
      val geom1 = StreamLshIngest.refreshGeometry(s, corpusDir, idxDir,
        bitsOverride = Some(geom0.bits))
      val man1 = DeltaCompact.readManifest(idxDir, conf).get
      assert(man1.gen === man0.gen + 1 && man1.maxFoldedBatch === 1L)
      assert(StreamLshIngest.readGeometry(s, idxDir) === geom1)
      assert(StreamLshIngest.readPostings(s, idxDir).count() ===
        emb.count() * geom1.tables)

      // the expired orphan is swept by a later fold's GC, never a live one
      val f = DeltaCompact.fs(idxDir, conf)
      val op = new org.apache.hadoop.fs.Path(orphan)
      assert(f.exists(op), "young staging must not be yanked from a live writer")
      val old = System.currentTimeMillis() - DeltaCompact.StagingTtlMs - 60000
      f.setTimes(op, old, old)
      StreamLshIngest.compactPostings(s, idxDir)
      assert(!f.exists(op), "expired crash orphan must be swept by the next GC")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("two maintainers racing one index generation: the committed sidecar and postings are the SAME winner's — never torn") {
    val s = spark
    import s.implicits._
    val idxDir = Files.createTempDirectory("graft_lshrace").toFile.getAbsolutePath
    try {
      // two refreshers staging competing generations for slot 0 — racer i
      // stages postings whose neighbor_id IS its racer id, plus a sidecar
      // at its own width, then both hit the claim barrier together
      val man = DeltaCompact.Manifest(0L, 0L)
      val staged = new CyclicBarrier(2)
      val results = (8 to 9).map { bits =>
        var outcome: Either[Throwable, Unit] =
          Left(new IllegalStateException("did not run"))
        val t = new Thread(() => {
          outcome =
            try Right(DeltaCompact.commitStagedGeneration(idxDir, man, conf) {
              staging =>
                Seq((0L, bits.toLong)).toDF("tb", "neighbor_id")
                  .withColumn("shard_id", lit(0))
                  .write.partitionBy("shard_id").parquet(staging)
                StreamLshIngest.writeGeometry(staging,
                  StreamLshIngest.LshGeometry(8, bits), conf)
                staged.await()
            })
            catch { case e: Throwable => Left(e) }
        })
        (bits, t, () => outcome)
      }
      results.foreach(_._2.start()); results.foreach(_._2.join(120000))
      val (losers, winners) = results.partition(_._3().isLeft)
      assert(winners.size === 1 && losers.size === 1,
        s"exactly one racer must win: ${results.map(_._3())}")
      assert(losers.head._3().swap
        .exists(_.isInstanceOf[ConcurrentCompactionException]))
      // the committed pair is consistent: the sidecar's width and the
      // postings' content identify the SAME racer
      val winBits = winners.head._1
      assert(StreamLshIngest.readGeometry(s, idxDir).bits === winBits)
      val ids = s.read.parquet(s"$idxDir/base_gen=0")
        .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(winBits.toLong),
        s"postings must be the sidecar's own racer's: $ids vs width $winBits")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
  }
}
