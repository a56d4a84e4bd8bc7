package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

case class SrcDoc(doc_id: Long, text: String, source: String, ts: Timestamp)

class StreamCurationSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  // ≥50 chars, healthy stopword ratio — passes the quality gate
  private val good =
    "the quick brown fox jumps over the lazy dog and runs on through the field"

  test("quality gate and dedup curate a live feed like the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[SrcDoc]
    val q = StreamCuration.curate(in.toDF(), horizon = "10 seconds")
      .writeStream.format("memory").queryName("curate_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(
        SrcDoc(1, good, "srcA", ts(1000)),
        SrcDoc(2, "too short", "srcA", ts(1000)), // fails the length gate
        // ≥50 chars but zero stopwords → fails the ratio floor
        SrcDoc(3, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do", "srcB", ts(1000)))
      q.processAllAvailable()
      in.addData(
        SrcDoc(4, good.toUpperCase, "srcB", ts(2000)), // dup of 1 (case-insensitive fingerprint)
        SrcDoc(5, good + " again and again", "srcB", ts(2000)))
      q.processAllAvailable()

      val got = spark.table("curate_out").as[SrcDoc].collect().map(_.doc_id).toSet
      assert(got === Set(1L, 5L),
        s"expected low-quality 2/3 and duplicate 4 suppressed, got $got")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS curate_out")
    }
  }

  test("the windowed audit counts kept docs and tokens per source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[SrcDoc]
    val q = StreamCuration.audit(
        StreamCuration.curate(in.toDF(), horizon = "2 seconds"),
        windowLen = "5 seconds")
      .writeStream.format("memory").queryName("audit_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(
        SrcDoc(1, good, "srcA", ts(1000)),
        SrcDoc(2, good.toUpperCase, "srcB", ts(1500)), // dup of 1 — dropped pre-audit
        SrcDoc(3, good + " more words here", "srcB", ts(2000)))
      q.processAllAvailable()
      // advance event time far past window end + watermark so the
      // [0s, 5s) window closes and its audit rows are emitted
      in.addData(SrcDoc(9, good + " closing the first window now", "srcA", ts(60000)))
      q.processAllAvailable()

      val rows = spark.table("audit_out").collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      // srcA kept doc 1 (15 word-tokens); srcB kept only doc 3 (dup dropped)
      assert(rows.get("srcA").map(_._1) === Some(1L), s"got $rows")
      assert(rows.get("srcB").map(_._1) === Some(1L), s"got $rows")
      assert(rows("srcA")._2 > 0 && rows("srcB")._2 > rows("srcA")._2,
        s"doc 3 has extra tokens vs doc 1: $rows")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS audit_out")
    }
  }

  test("batch-trained NB model scores a live stream identically to the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // offline training corpus: src0 speaks {alpha beta}, src1 {gamma delta}
    withTempDir("nb-stream") { trainDir =>
      Seq((1L, "alpha beta alpha", "src0"), (2L, "beta alpha", "src0"),
        (3L, "gamma delta gamma", "src1"), (4L, "delta delta", "src1"))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length($"text"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$trainDir/documents.parquet")

      // the trained token->llr model (the vocabulary-sized aggregate from the
      // batch classifier's chain), materialized as the static frame
      val toks = graft.Tables.documents(spark, trainDir)
        .select($"source", explode(graft.functions.Portable.words($"text")).as("tok"))
      val cnt = toks.groupBy("tok").agg(
        sum(when($"source" === "src0", 1).otherwise(0)).as("c_pos"),
        sum(when($"source" =!= "src0", 1).otherwise(0)).as("c_neg"))
      val tot = cnt.agg(sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"),
        count(lit(1)).as("v"))
      val model = cnt.crossJoin(broadcast(tot))
        .select($"tok",
          (log(($"c_pos" + 1.0) / ($"n_pos" + $"v")) -
            log(($"c_neg" + 1.0) / ($"n_neg" + $"v"))).as("llr"))
        .localCheckpoint()

      // live feed scored per micro-batch via foreachBatch
      val in = MemoryStream[SrcDoc]
      val out = scala.collection.mutable.Map.empty[Long, (Long, Double, Boolean, Boolean)]
      val q = in.toDF().writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamCuration.scoreWithModel(batch, model).collect().foreach { r =>
            out.synchronized {
              out(r.getAs[Long]("doc_id")) = (
                r.getAs[Long]("n_scored_tokens"),
                r.getAs[Double]("nb_score"),
                r.getAs[Boolean]("is_oov"),
                r.getAs[Boolean]("keep"))
            }
          }
        }
        .start()
      try {
        in.addData(
          SrcDoc(10, "alpha beta", "live", ts(1000)),     // pure positive vocab
          SrcDoc(11, "gamma delta", "live", ts(1000)),    // pure negative vocab
          SrcDoc(12, "unseen words only", "live", ts(1000))) // OOV -> neutral 0.0
        q.processAllAvailable()
      } finally q.stop()

      assert(out(10L)._2 > 0 && !out(10L)._3 && out(10L)._4, s"positive doc: ${out(10L)}")
      assert(out(11L)._2 < 0 && !out(11L)._3 && !out(11L)._4, s"negative doc: ${out(11L)}")
      // OOV: neutral score, flagged, and KEPT — the model has no evidence, so
      // a cold-start stream never silently loses the document; strict
      // consumers filter keep && !is_oov instead
      assert(out(12L) === ((0L, 0.0, true, true)), s"OOV doc must be flagged+kept: ${out(12L)}")
    }
  }
}
