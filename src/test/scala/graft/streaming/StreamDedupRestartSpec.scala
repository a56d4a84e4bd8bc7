package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{SessionTuning, SparkSpec}

/** A stateful operator restarted from its checkpoint: [[StreamDedup]]'s
  * dedup state (HDFS-backed state-store delta files, published with
  * `overwriteIfPossible = true`) is written by one query and read back
  * by the next, and the output equals an uninterrupted run. */
class StreamDedupRestartSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  // batches 3-4 repeat docs of batches 1-2 inside the 10 s horizon, so
  // they are dropped only if the restarted query restored the state;
  // batch 5 comes after the watermark has passed `beta`'s horizon, so
  // its `beta` is new again (state eviction across the restart)
  private val batches: Seq[Seq[Doc]] = Seq(
    Seq(Doc(1, "alpha", ts(1000)), Doc(2, "beta", ts(1000))),
    Seq(Doc(3, "Alpha ", ts(3000)), Doc(4, "gamma", ts(3000))),
    Seq(Doc(5, "beta", ts(5000)), Doc(6, "delta", ts(5000)), Doc(7, "GAMMA", ts(6000))),
    Seq(Doc(8, "delta  ", ts(30000)), Doc(9, "epsilon", ts(30000))),
    Seq(Doc(10, "beta", ts(31000)), Doc(11, "epsilon", ts(31000))))

  /** Runs `batches` through queries on one checkpoint, restarting before
    * each index in `restartsAt`; `manager(i)` says whether query `i`
    * uses graft's checkpoint manager. Returns the emitted doc ids. */
  private def run(ckpt: String, restartsAt: Set[Int],
      manager: Int => Boolean = _ => true): Seq[Long] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Doc]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start(i: Int) = {
      if (manager(i)) SessionTuning.tune(spark)
      else spark.conf.unset(LocalCheckpointFileManager.ConfKey)
      try StreamDedup(in.toDF(), horizon = "10 seconds").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("doc_id").as[Long].collect().foreach(out.add); ()
        }
        .start()
      finally SessionTuning.tune(spark)
    }
    var q = start(0)
    var queries = 0
    try batches.zipWithIndex.foreach { case (docs, i) =>
      if (restartsAt(i)) { q.stop(); queries += 1; q = start(queries) }
      in.addData(docs)
      q.processAllAvailable()
    } finally q.stop()
    out.asScala.toSeq.sorted
  }

  private def withCheckpoints(body: (String, String) => Unit): Unit = {
    val base = Files.createTempDirectory("graft_dedup_restart").toFile
    try body(s"$base/whole", s"$base/halves")
    finally FileUtils.deleteQuietly(base)
  }

  test("a dedup query resumed from its checkpoint emits what an uninterrupted run emits") {
    withCheckpoints { (whole, halves) =>
      val expected = run(whole, restartsAt = Set.empty)
      assert(expected === Seq(1L, 2L, 4L, 6L, 9L, 10L))
      assert(run(halves, restartsAt = Set(2)) === expected)
      val stateFiles = FileUtils.listFiles(new java.io.File(s"$halves/state"), null, true)
        .asScala.map(_.getName).toSeq
      assert(stateFiles.exists(_.endsWith(".delta")), stateFiles)
      // graft's manager publishes without Hadoop's hidden `.<name>.crc`
      // sidecars (Spark's own `<name>.crc` checksum files are data to it)
      assert(!stateFiles.exists(n => n.startsWith(".") && n.endsWith(".crc")), stateFiles)
    }
  }

  test("a checkpoint moves between Spark's stock manager and graft's in both directions") {
    withCheckpoints { (whole, halves) =>
      val expected = run(whole, restartsAt = Set.empty)
      // stock → graft → stock
      assert(run(halves, restartsAt = Set(2, 4), manager = _ == 1) === expected)
    }
  }
}
