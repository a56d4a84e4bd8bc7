package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PqSubDistsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rnd = new scala.util.Random(4242)
    (1 to 50).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextDouble() * 2 - 1).toSeq,
        Array.fill(64)(rnd.nextDouble() * 2 - 1).toSeq)
    }.toDF("id", "a", "b")
  }

  /** The higher-order formulation the kernel replaces (Similarity's
    * `pqSubDist`) — per-subspace ascending fold over zip_with'd slices. */
  private def hof(s0: Int, v: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(slice(v, s0 * 8 + 1, 8), slice(c, s0 * 8 + 1, 8),
        (a, b) => (a - b) * (a - b)),
      lit(0d), _ + _)

  test("native kernel is bit-identical to the zip_with/slice/aggregate " +
    "formulation across all 8 subspaces") {
    val rows = vecs.select(
      GraftFunctions.pqSubDists(col("a"), col("b")).as("native") +:
        (0 until 8).map(s => hof(s, col("a"), col("b")).as(s"h$s")): _*)
      .collect()
    rows.foreach { r =>
      val native = r.getSeq[Double](0)
      assert(native.size === 8)
      (0 until 8).foreach { s =>
        assert(java.lang.Double.doubleToLongBits(native(s)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1 + s)),
          s"subspace $s: native=${native(s)} hof=${r.getDouble(1 + s)}")
      }
    }
  }

  test("registered in SQL; identical vectors give all-zero distances") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("pq_vecs")
    val viaSql = spark.sql(
      "SELECT graft_pq_sub_dists(a, a) AS ds FROM pq_vecs")
      .collect()
    viaSql.foreach(r => assert(r.getSeq[Double](0).forall(_ == 0.0)))
  }

  test("null inputs yield null; short arrays follow slice semantics") {
    val df = Seq((Some(Seq(1d, 2d)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    assert(df.select(GraftFunctions.pqSubDists(col("a"), col("b")))
      .head.isNullAt(0))
    // 12-element arrays: subspace 0 full, subspace 1 reads 4 elements,
    // subspaces 2..7 are empty sums (0.0) — matching slice() + aggregate
    val short = Seq((Seq.fill(12)(2d), Seq.fill(12)(1d))).toDF("a", "b")
    val native = short
      .select(GraftFunctions.pqSubDists(col("a"), col("b"))).head.getSeq[Double](0)
    val viaHof = short.select(
      (0 until 8).map(s => hof(s, col("a"), col("b")).as(s"h$s")): _*).head
    (0 until 8).foreach(s => assert(native(s) === viaHof.getDouble(s)))
    assert(native(0) === 8.0 && native(1) === 4.0 && native(2) === 0.0)
  }
}
