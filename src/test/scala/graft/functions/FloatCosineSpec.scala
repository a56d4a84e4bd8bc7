package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class FloatCosineSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rnd = new scala.util.Random(1234)
    (1 to 50).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat()).toSeq,
        Array.fill(64)(rnd.nextFloat()).toSeq)
    }.toDF("id", "a", "b")
  }

  test("native expression is bit-identical to the portable formulation") {
    val both = vecs.select(
      GraftFunctions.cosine(col("a"), col("b")).as("native"),
      Portable.cosine(col("a"), col("b")).as("portable"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} portable=${r.getDouble(1)}")
    }
  }

  test("registered in SQL and usable via spark.sql") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("cos_vecs")
    val viaSql = spark.sql("SELECT id, graft_cosine(a, b) AS c FROM cos_vecs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaApi = vecs.select(col("id"), GraftFunctions.cosine(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi)
    assert(viaSql.values.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("null inputs yield null") {
    val df = Seq((Some(Seq(1f, 2f)), None: Option[Seq[Float]])).toDF("a", "b")
    assert(df.select(GraftFunctions.cosine(col("a"), col("b"))).head.isNullAt(0))
  }

  test("interpreted eval matches codegen (identity vector = 1)") {
    val df = Seq((Seq(3f, 4f), Seq(3f, 4f))).toDF("a", "b")
    val v = df.select(GraftFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
  }
}
