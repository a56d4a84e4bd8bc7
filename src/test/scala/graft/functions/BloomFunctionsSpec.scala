package graft.functions

import graft.SparkSpec

class BloomFunctionsSpec extends SparkSpec {

  test("SQL surface: build via aggregate, probe via contains") {
    GraftFunctions.register(spark)
    import spark.implicits._
    (1L to 1000L).toDF("k").createOrReplaceTempView("bloom_in")
    val bf = spark.sql(
      "SELECT graft_bloom_agg(xxhash64(k), 1000, 16000) AS bf FROM bloom_in")
      .head.getAs[Array[Byte]]("bf")
    assert(bf.nonEmpty)

    (1L to 2000L).toDF("k").createOrReplaceTempView("bloom_probe")
    val hits = spark.sql(
      "SELECT k FROM bloom_probe WHERE graft_bloom_contains(:bf, xxhash64(k))",
      Map("bf" -> bf))
      .as[Long].collect().toSet
    // no false negatives on the inserted keys
    assert((1L to 1000L).forall(hits), "bloom dropped inserted keys")
    // bounded false positives on the absent half (16 bits/key ≈ sub-1% FPP)
    val fp = (1001L to 2000L).count(hits)
    assert(fp < 100, s"$fp of 1000 absent keys passed")
  }

  test("validation: wrong arity and non-literal bloom fail with clear messages") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val arity = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg(xxhash64(1))").collect()
    }
    assert(arity.getMessage.contains("3 arguments"), arity.getMessage)

    Seq((1L, Array[Byte](1, 2))).toDF("k", "b").createOrReplaceTempView("bloom_bad")
    val nonLit = intercept[Exception] {
      spark.sql("SELECT graft_bloom_contains(b, xxhash64(k)) FROM bloom_bad").collect()
    }
    assert(nonLit.getMessage.contains("literal"), nonLit.getMessage)
  }
}
