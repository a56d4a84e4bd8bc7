package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The closed drift loop: the policy refreshes exactly when the
  * agreement audit sags — never on healthy batches — and the refresh it
  * fires actually heals the NEXT batch from the same drifted
  * distribution. */
class AnnMaintenanceSpec extends SparkSpec {

  private def vecs(from: Int, until: Int, label: Int => Int): DataFrame = {
    val s = spark
    import s.implicits._
    (from until until).map { i =>
      val l = label(i)
      (i.toLong, i.toLong, l,
        Array.tabulate(8)(j => if (j == l) 1f else (i % 7) * 0.01f))
    }.toDF("doc_id", "vec_id", "label", "embedding")
  }

  test("refresh fires on drift only, and heals the next drifted batch") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val base = Files.createTempDirectory("graft_annmaint").toFile.getAbsolutePath
    val corpusDir = s"$base/corpus"
    val idxDir = s"$base/idx"
    val m = new DetachedMaintainer("annmaint-spec")
    try {
      // batch 0 bootstraps (labels 0-3)
      val (_, boot) = AnnMaintenance.step(vecs(0, 40, _ % 4), corpusDir, idxDir, 0L, m)
      assert(boot, "first batch must bootstrap the index")

      // batch 1: same distribution — healthy, NO refresh
      val (a1, r1) = AnnMaintenance.step(vecs(40, 80, _ % 4), corpusDir, idxDir, 1L, m)
      assert(!r1, "healthy batch must not fire a refresh")
      assert(a1.agg(avg(col("matches_label").cast("double")))
        .head().getDouble(0) === 1.0)

      // batch 2: a new class (label 4) — the audit sags, the policy acts
      val (a2, r2) = AnnMaintenance.step(vecs(80, 120, _ => 4), corpusDir, idxDir, 2L, m)
      assert(r2, "drifted batch must fire a refresh")
      m.await(idxDir)
      assert(a2.agg(avg(col("matches_label").cast("double")))
        .head().getDouble(0) === 0.0,
        "the returned assignment is against the codebook the batch ARRIVED under")

      // batch 3: same drifted distribution — now healthy under the
      // refreshed codebook, no further refresh
      val (a3, r3) = AnnMaintenance.step(vecs(120, 160, _ => 4), corpusDir, idxDir, 3L, m)
      assert(!r3, "the refresh must have healed the distribution")
      assert(a3.agg(avg(col("matches_label").cast("double")))
        .head().getDouble(0) === 1.0)
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("an empty micro-batch neither crashes the step nor counts as drift") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val base = Files.createTempDirectory("graft_annmaint_empty").toFile.getAbsolutePath
    val m = new DetachedMaintainer("annmaint-spec-empty")
    try {
      val (_, boot) = AnnMaintenance.step(vecs(0, 40, _ % 4), s"$base/corpus",
        s"$base/idx", 0L, m)
      assert(boot)
      // empty batches are routine under streaming triggers: avg(matches_
      // label) over zero rows is null — must short-circuit to "no drift",
      // not NPE-crash the ingest stream
      val (a, drifted) = AnnMaintenance.step(vecs(0, 0, _ % 4), s"$base/corpus",
        s"$base/idx", 1L, m)
      assert(!drifted, "an empty batch is evidence of nothing — not drift")
      assert(a.count() === 0)
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
