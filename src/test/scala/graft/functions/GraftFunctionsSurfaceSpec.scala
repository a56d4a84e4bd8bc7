package graft.functions

import org.apache.spark.sql.{AnalysisException, SessionExtensionsShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpec}
import graft.operators.Relational
import graft.streaming.StreamAnn

/** The two ways to reach graft's native functions. The Column API builds
  * the expression itself, so it works on a session where nothing is
  * registered; plain SQL resolves every name of the one table, whether
  * [[GraftFunctions.register]] or [[GraftExtensions]] installed it. Each
  * case runs on `spark.newSession()`, whose function registry starts
  * with Spark's built-ins only. */
class GraftFunctionsSurfaceSpec extends SparkSpec {

  /** One plain-SQL call per native function, `FROM range(10)`. */
  private val sqlCalls: Map[String, String] = {
    val v = "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))"
    val w = "array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))"
    Map(
      "graft_cosine" -> s"graft_cosine($v, $w)",
      "graft_collect_capped" -> "graft_collect_capped(id, 3)",
      "graft_min_k" -> "graft_min_k(id, 3)",
      "graft_bloom_agg" -> "graft_bloom_agg(xxhash64(id), 10, 1024)",
      "graft_bloom_contains" -> "graft_bloom_contains(CAST(NULL AS BINARY), xxhash64(id))",
      "graft_hilbert" -> "graft_hilbert(id, id)",
      "graft_hash60" -> "graft_hash60(CAST(CAST(id AS STRING) AS BINARY))",
      "graft_md5_slices" -> "graft_md5_slices(CAST(CAST(id AS STRING) AS BINARY), 8, 14, 2)",
      "graft_regexp_count" -> "graft_regexp_count(CAST(id AS STRING), '1')",
      "graft_pq_sub_dists" -> "graft_pq_sub_dists(array(CAST(id AS DOUBLE)), array(0D))",
      "graft_argmax_cosine" -> s"graft_argmax_cosine($v, array($v, $w), array(1L, 2L))")
  }

  /** The names of [[sqlCalls]] that `s` cannot resolve; any other failure
    * of a call is thrown. */
  private def unresolved(s: SparkSession): Set[String] =
    sqlCalls.filter { case (_, call) =>
      try { s.sql(s"SELECT $call FROM range(10)").collect(); false }
      catch { case e: AnalysisException if e.getMessage.contains("UNRESOLVED_ROUTINE") => true }
    }.keySet

  test("the SQL table lists one entry per native function") {
    assert(GraftFunctions.SqlFunctions.map(_._1.funcName).toSet === sqlCalls.keySet)
    assert(GraftFunctions.SqlFunctions.size === sqlCalls.size)
  }

  test("every SQL function resolves in plain SQL after register") {
    val fresh = spark.newSession()
    assert(unresolved(fresh) === sqlCalls.keySet)
    GraftFunctions.register(fresh)
    GraftFunctions.register(fresh) // idempotent
    assert(unresolved(fresh) === Set.empty[String])
  }

  test("every SQL function resolves in plain SQL through GraftExtensions") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val fresh = spark.newSession()
    assert(unresolved(fresh) === sqlCalls.keySet)
    SessionExtensionsShim.registerFunctions(ext, fresh.sessionState.functionRegistry)
    assert(unresolved(fresh) === Set.empty[String])
  }

  test("the Column API needs nothing registered: StreamAnn.assign on a fresh session") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val cents = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("cent_id", "c_embedding")
    val batch = Seq(
      (10L, 1L, Seq(0.9f, 0.1f)),
      (11L, 1L, Seq(0.2f, 0.8f)),
      (12L, 2L, Seq(0f, 3f))).toDF("vec_id", "label", "embedding")
    val got = StreamAnn.assign(batch, cents)
      .select("vec_id", "assigned_cell", "matches_label").as[(Long, Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((10L, 1L, 1), (11L, 2L, 0), (12L, 2L, 1)))
  }

  test("the Column API needs nothing registered: bloom build and prefilter on a fresh session") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val bloom = Relational.buildBloom(fresh.range(0, 100).toDF("k"), col("k"), 100L, 16000L)
    val kept = Relational.bloomPrefilter(fresh.range(0, 1000).toDF("k"), col("k"), bloom)
      .as[Long].collect().toSet
    // 160 bits per key: a false positive among 900 absent keys is
    // vanishingly unlikely, and hashing is deterministic
    assert(kept === (0L until 100L).toSet)
  }

  test("min-k rejects an unorderable element type at analysis, on both surfaces") {
    val fresh = spark.newSession()
    val viaColumn = intercept[Exception] {
      fresh.range(3).agg(GraftFunctions.minK(map(col("id"), col("id")), 1)).collect()
    }
    assert(viaColumn.getMessage.contains("not orderable"), viaColumn.getMessage)
    GraftFunctions.register(fresh)
    val viaSql = intercept[Exception] {
      fresh.sql("SELECT graft_min_k(map(id, id), 1) FROM range(3)").collect()
    }
    assert(viaSql.getMessage.contains("not orderable"), viaSql.getMessage)
  }
}
