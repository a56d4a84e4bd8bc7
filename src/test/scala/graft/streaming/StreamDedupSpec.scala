package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class Doc(doc_id: Long, text: String, ts: Timestamp)

class StreamDedupSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  test("cross-batch duplicates inside the horizon are suppressed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[Doc]
    val q = StreamDedup(in.toDF(), horizon = "10 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(
        Doc(1, "hello  world", ts(1000)), // whitespace-normalized forms
        Doc(2, "foo", ts(1000)))          // of the same text collide
      q.processAllAvailable()
      in.addData(
        Doc(3, "Hello World", ts(2000)), // dup of doc 1 (case+spacing)
        Doc(4, "bar", ts(2000)))
      q.processAllAvailable()

      val got = spark.table("dedup_out").as[Doc].collect()
        .map(d => d.doc_id).toSet
      assert(got === Set(1L, 2L, 4L), s"expected dup doc 3 suppressed, got $got")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS dedup_out")
    }
  }

  test("stream-static probe drops dup-of-corpus docs and passes novel ones") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // historical corpus on disk → the real batch band index
    withTempDir("graft-hist") { dir =>
      Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
        (2L, "totally different content about streaming backpressure and rates"))
        .map { case (id, text) => (id, text, "en", "srcA", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val index = graft.operators.Dedup.qMinhashBands.build(spark, dir)

      val in = MemoryStream[Doc]
      val q = StreamDedup.againstIndex(in.toDF(), index)
        .writeStream.format("memory").queryName("incr_out")
        .outputMode(OutputMode.Append())
        .start()
      try {
        in.addData(
          // near-dup of historical doc 1 (one word changed — the planted
          // pair shape the LSH banding test proves collides on a band)
          Doc(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu", ts(1000)),
          // novel content: no band in common with the history
          Doc(101, "fresh unseen words discussing shuffle partitions and codegen", ts(1000)))
        q.processAllAvailable()
        val got = spark.table("incr_out").as[Doc].collect().map(_.doc_id).toSet
        assert(got === Set(101L), s"expected dup-of-corpus doc 100 dropped, got $got")
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS incr_out")
      }
    }
  }

  test("simhash near-dedup suppresses a reworded (signature-equal) document") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[Doc]
    val q = StreamDedup.nearBySimhash(in.toDF(), horizon = "10 seconds")
      .writeStream.format("memory").queryName("neardedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(Doc(1, "alpha beta gamma delta epsilon", ts(1000)))
      q.processAllAvailable()
      in.addData(
        // same word SET (reordered + one word duplicated): identical
        // distinct-token simhash → suppressed
        Doc(2, "epsilon delta gamma beta alpha alpha", ts(2000)),
        // genuinely different content: survives
        Doc(3, "totally unrelated streaming content here", ts(2000)))
      q.processAllAvailable()

      val got = spark.table("neardedup_out").as[Doc].collect().map(_.doc_id).toSet
      assert(got === Set(1L, 3L), s"expected reworded doc 2 suppressed, got $got")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS neardedup_out")
    }
  }
}
