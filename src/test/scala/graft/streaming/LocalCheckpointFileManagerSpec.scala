package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import graft.{SessionTuning, SparkSpec}

/** [[LocalCheckpointFileManager]]: Spark's write-temp-then-publish
  * contract on `file:` paths, and no forked processes on the trigger path. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ckptfm")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try { out.write(text.getBytes(UTF_8)); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
  }

  private def readLocal(p: Path): String = {
    val in = FileSystem.getLocal(new Configuration()).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a no-overwrite publish onto an existing file fails like Hadoop and keeps the old bytes") {
    withDir { dir =>
      val fm = manager(dir)
      val target = new Path(dir.resolve("0").toUri)
      write(fm, target, "first", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, target, "second", overwrite = false)
      }
      assert(readLocal(target) === "first")
      assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet === Set("0"),
        "the losing writer's temp file must not be left behind")
    }
  }

  test("an overwrite of a Hadoop-written file (with its .crc) reads back the new bytes") {
    withDir { dir =>
      val target = new Path(dir.resolve("1.delta").toUri)
      val local = FileSystem.getLocal(new Configuration())
      val out = local.create(target)
      out.write("old bytes, longer than the new ones".getBytes(UTF_8))
      out.close()
      assert(Files.exists(dir.resolve(".1.delta.crc")), "LocalFileSystem writes a checksum sidecar")

      write(manager(dir), target, "new", overwrite = true)
      assert(readLocal(target) === "new")
      assert(!Files.exists(dir.resolve(".1.delta.crc")))
      // and Spark's stock manager reads it too
      val stock = CheckpointFileManager.create(new Path(dir.toUri), new Configuration())
      assert(!stock.isInstanceOf[LocalCheckpointFileManager])
      val in = stock.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) === "new") finally in.close()
    }
  }

  test("cancel() leaves neither the temp file nor the target") {
    withDir { dir =>
      val out = manager(dir).createAtomic(new Path(dir.resolve("2").toUri), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a no-op once cancelled: nothing is published
      assert(Files.list(dir).count() === 0L)
    }
  }

  test("mkdirs and the checkpoint directory are created on the local file system") {
    withDir { dir =>
      val nested = dir.resolve("a/b/c")
      val fm = new LocalCheckpointFileManager(new Path(nested.toString), new Configuration())
      val created = fm.createCheckpointDirectory()
      assert(Files.isDirectory(nested))
      assert(created.toString === s"file:$nested")
      fm.mkdirs(new Path(nested.resolve("offsets").toUri))
      assert(Files.isDirectory(nested.resolve("offsets")))
    }
  }

  test("a checkpoint root that is a symbolic link to a directory is used as is") {
    withDir { dir =>
      val real = Files.createDirectory(dir.resolve("real"))
      val link = Files.createSymbolicLink(dir.resolve("link"), real)
      val fm = new LocalCheckpointFileManager(new Path(link.toString), new Configuration())
      assert(fm.createCheckpointDirectory().toString === s"file:$link")
      fm.mkdirs(new Path(link.toUri))
      fm.mkdirs(new Path(link.resolve("offsets").toUri))
      assert(Files.isDirectory(real.resolve("offsets")))
      assert(Files.isSymbolicLink(link))
    }
  }

  test("SessionTuning installs graft's manager for the session's checkpoints") {
    withDir { dir =>
      val fm = CheckpointFileManager.create(new Path(dir.toString),
        spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass.getName)
    }
  }

  /** Processes forked from the checkpoint path (Spark's checkpointing
    * package or any CheckpointFileManager) while a 5-trigger
    * [[StreamingStats.run]] runs, as JFR `jdk.ProcessStart` events. */
  private def checkpointSpawns(): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.start()
      var batches = 0
      val q = StreamingStats.run(spark,
        "sequence = [ { type = fixed, value = 3, rate = 20, duration = 5 } ]",
        triggerMs = 10L,
        sink = (stats, _) => { stats.collect(); batches += 1 })
      try q.processAllAvailable() finally q.stop()
      rec.stop()
      assert(batches === 5)
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
            val cls = f.getMethod.getType.getName
            cls.contains("streaming.checkpointing") || cls.contains("CheckpointFileManager")
          })
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("a 5-trigger StreamingStats run forks no process from the checkpoint path") {
    assert(checkpointSpawns() === 0)
    // control: without libhadoop the stock manager forks chmod/readlink
    // for its log writes, so a recording that saw nothing fails here
    // rather than passing above; with libhadoop there is no fork to see
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: Spark's stock manager forks nothing to compare against")
    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    val stock = try checkpointSpawns() finally SessionTuning.tune(spark)
    assert(stock > 0, "the JFR recording saw no spawn from Spark's stock manager")
    info(s"stock manager: $stock processes in 5 triggers")
  }
}
