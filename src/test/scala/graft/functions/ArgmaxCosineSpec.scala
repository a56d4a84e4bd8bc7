package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ArgmaxCosineSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(77)
  private def vec(): Seq[Float] = Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq

  test("matches the crossJoin + graft_min_k argmax exactly, including " +
    "duplicate-centroid ties (smallest id wins)") {
    val centRows = (0 until 23).map(i => (i * 97L, vec()))
    // force ties: two extra entries DUPLICATE existing centroid vectors
    // at higher ids — the argmax must keep the smaller id
    val cents = (centRows ++ Seq((5000L, centRows(3)._2), (6000L, centRows(11)._2)))
      .toDF("cent_id", "c_embedding")
    val emb = (0 until 300).map { i =>
      // a third of the vectors ARE centroid vectors (cosine exactly 1,
      // tied between the original and the duplicate)
      val v = if (i % 3 == 0) centRows(i % 23)._2 else vec()
      (i.toLong, i % 8, v)
    }.toDF("vec_id", "label", "embedding")

    val viaJoin = emb.crossJoin(broadcast(cents))
      .withColumn("csim", GraftFunctions.cosine(col("c_embedding"), col("embedding")))
      .groupBy("vec_id")
      .agg(GraftFunctions.minK(
        GraftFunctions.minKCandidate(col("csim"),
          struct((-col("csim")).as("neg"), col("cent_id"))), 1).as("am"))
      .select(col("vec_id"), col("am").getItem(0).getField("cent_id").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val sorted = (centRows ++ Seq((5000L, centRows(3)._2), (6000L, centRows(11)._2)))
      .sortBy(_._1)
    val viaExpr = emb.select(col("vec_id"),
      GraftFunctions.argmaxCosine(col("embedding"),
        typedLit(sorted.map(_._2)), typedLit(sorted.map(_._1))).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(viaExpr === viaJoin)
  }

  test("null vector yields null; all-NaN similarities yield null " +
    "(zero-vector centroids only)") {
    val zeroCents = Seq(Seq.fill(64)(0f), Seq.fill(64)(0f))
    val ids = Seq(1L, 2L)
    val df = Seq(
      (1L, Some(vec())),
      (2L, None: Option[Seq[Float]])).toDF("id", "v")
    val out = df.select(col("id"),
      GraftFunctions.argmaxCosine(col("v"),
        typedLit(zeroCents), typedLit(ids)).as("cell"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isEmpty, "all-NaN sims must yield NULL, not a winner")
    assert(out(2L).isEmpty, "null vector must yield NULL")
  }

  test("registered in SQL; a vector equal to a centroid assigns to it") {
    GraftFunctions.register(spark)
    val c0 = vec(); val c1 = vec()
    Seq((10L, c0), (11L, c1)).toDF("id", "v").createOrReplaceTempView("amc_vecs")
    // the centroids and ids ride in as plan literals, as the Column API's do
    val got = spark.sql(
      "SELECT id, graft_argmax_cosine(v, :cents, :ids) AS cell FROM amc_vecs",
      Map("cents" -> typedLit(Seq(c0, c1)), "ids" -> typedLit(Seq(100L, 200L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 100L, 11L -> 200L))
  }
}
