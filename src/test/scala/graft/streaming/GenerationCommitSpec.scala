package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The one generation commit ([[DeltaCompact.commitGeneration]]) over a
  * captured [[DeltaCompact.View]], and the flat JSON sidecars every tree
  * shares: a fold commits exactly the view it captured — a batch landing
  * after the capture stays a delta above the committed watermark, never
  * folded into the base and read again as a delta — and the sidecars keep
  * their bytes and fail loudly when corrupt. */
class GenerationCommitSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def land(outDir: String, batchId: Long, from: Int, until: Int): Unit = {
    import spark.implicits._
    val df = (from until until).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    StreamShardRouter.landBatch(df, outDir, batchId, numShards = 4)
  }

  private def corpusIds(outDir: String): Seq[Long] =
    DeltaCompact.readCorpus(spark, outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  private def writeBase(input: org.apache.spark.sql.DataFrame, staging: String): Unit =
    input.repartition(4, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(staging)

  private def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Overwrite through Hadoop's FS so its checksum sidecar stays valid
    * and the read reaches the JSON parser. */
  private def overwrite(path: String, txt: String): Unit = {
    val out = DeltaCompact.fs(path, conf).create(new Path(path), true)
    try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  test("a fold commits its captured watermark: a batch landed after the input plan stays a delta") {
    withTempDir("graft_view_wm") { out =>
      land(out, 0, 0, 20); land(out, 1, 20, 40)
      val view = DeltaCompact.captureForFold(out, conf, gcGraceMs = 0L)
      val input = view.read(spark)
      val man = DeltaCompact.commitGeneration(view, out, conf,
        DeltaCompact.PreserveRetention) { staging =>
        land(out, 2, 40, 60) // after the input plan was built
        writeBase(input, staging)
      }
      assert(man.maxFoldedBatch === 1L)
      assert(DeltaCompact.readManifest(out, conf).contains(man))
      assert(DeltaCompact.listDeltaBatches(out, conf) === Seq(2L))
      assert(corpusIds(out) === (0L until 60L), "every row exactly once")
    }
  }

  test("a batch landed between capture and commit is neither read nor watermarked by the fold") {
    withTempDir("graft_view_read") { out =>
      land(out, 0, 0, 20); land(out, 1, 20, 40)
      val view = DeltaCompact.captureForFold(out, conf, gcGraceMs = 0L)
      land(out, 2, 40, 60) // before the commit picks its watermark and the input is read
      val man = DeltaCompact.commitGeneration(view, out, conf,
        DeltaCompact.PreserveRetention) { staging =>
        writeBase(view.read(spark), staging)
      }
      assert(man.maxFoldedBatch === 1L)
      assert(DeltaCompact.listDeltaBatches(out, conf) === Seq(2L))
      assert(corpusIds(out) === (0L until 60L), "every row exactly once")
    }
  }

  test("sidecars written through the shared helper keep their bytes") {
    withTempDir("graft_sidecar") { dir =>
      StreamLshIngest.writeGeometry(dir, StreamLshIngest.LshGeometry(8, 12), conf)
      assert(readFile(s"$dir/_lsh_geometry.json") === """{"tables":8,"bits":12}""")

      import spark.implicits._
      val docs = (10 until 15).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      StreamBm25Ingest.ingestStep(docs, s"$dir/bm25", 0L, numShards = 4)
      assert(readFile(s"$dir/bm25/docs/batch=0/_docid_range.json") ===
        """{"minId":10,"maxId":14,"count":5}""")

      // the empty-batch envelope carries a negative field
      val p = new Path(dir, "_empty_range.json")
      DeltaCompact.writeSidecar(p, Seq("minId" -> 0L, "maxId" -> -1L, "count" -> 0L), conf)
      assert(readFile(p.toString) === """{"minId":0,"maxId":-1,"count":0}""")
      assert(DeltaCompact.readSidecar(p, Seq("minId", "maxId", "count"), "range", conf) ===
        Some(Map("minId" -> 0L, "maxId" -> -1L, "count" -> 0L)))
    }
  }

  test("a corrupt LSH geometry sidecar fails loudly, naming the file") {
    withTempDir("graft_geom_corrupt") { idx =>
      DeltaCompact.commitGeneration(DeltaCompact.View(s"$idx/src", None, Nil), idx, conf,
        DeltaCompact.PreserveRetention) { staging =>
        StreamLshIngest.writeGeometry(staging, StreamLshIngest.LshGeometry(8, 12), conf)
      }
      assert(StreamLshIngest.readGeometry(spark, idx) === StreamLshIngest.LshGeometry(8, 12))
      val sidecar = s"$idx/base_gen=0/_lsh_geometry.json"
      overwrite(sidecar, """{"tables":8,"bi""")
      val e = intercept[IllegalStateException](StreamLshIngest.readGeometry(spark, idx))
      assert(e.getMessage.contains(sidecar) && e.getMessage.contains("bits"), e.getMessage)
    }
  }

  test("a corrupt doc-id range sidecar fails the BM25 merge loudly, naming the file") {
    withTempDir("graft_range_corrupt") { out =>
      import spark.implicits._
      def docs(from: Int, until: Int) =
        (from until until).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      StreamBm25Ingest.ingestStep(docs(0, 5), out, 0L, numShards = 4)
      StreamBm25Ingest.ingestStep(docs(5, 10), out, 1L, numShards = 4)
      assert(StreamBm25Ingest.mergeIndexes(spark, out).count() > 0L)
      val sidecar = s"$out/docs/batch=1/_docid_range.json"
      overwrite(sidecar, """{"minId":5,"maxId":""")
      val e = intercept[IllegalStateException](StreamBm25Ingest.mergeIndexes(spark, out))
      assert(e.getMessage.contains(sidecar) && e.getMessage.contains("maxId"), e.getMessage)
    }
  }
}
