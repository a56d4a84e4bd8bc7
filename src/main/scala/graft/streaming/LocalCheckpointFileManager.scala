package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint writes for `file:` paths without process spawns.
  *
  * Spark's jars ship no libhadoop, so Hadoop's `RawLocalFileSystem` falls
  * back to the shell: `chmod` for every file and directory it creates,
  * `readlink` for every rename. Spark's default manager publishes every
  * offset-log entry, commit-log entry, stream-metadata file and
  * state-store delta/snapshot through exactly those calls — about five
  * forked processes per log write, ~85 ms of a ~245 ms trigger on four
  * cores. This manager keeps Spark's protocol (write a hidden temp file
  * beside the target, then publish it atomically) and does the create,
  * publish and `mkdirs` with `java.nio` syscalls:
  *  - temp file: `.<name>.<uuid>.tmp` (Spark's own temp naming, so
  *    Spark's listings skip it), opened with `CREATE_NEW`;
  *  - no-overwrite publish (offset/commit logs, stream metadata):
  *    `link(2)` the temp to the target, then unlink the temp. `link`
  *    fails if the target exists, which is the atomic "first writer wins"
  *    the logs need; the clash surfaces as Hadoop's
  *    `FileAlreadyExistsException`, which `HDFSMetadataLog` maps to its
  *    concurrent-writer error; any other I/O error propagates as is;
  *  - overwriting publish (state-store files): `rename(2)`, after
  *    dropping any `.<name>.crc` sidecar a Hadoop writer left for the old
  *    bytes, so reads through Hadoop's checksummed `LocalFileSystem` do
  *    not verify new bytes against an old checksum;
  *  - directories: created only where no directory exists yet, following
  *    symbolic links as Hadoop's `mkdirs` does (`Files.createDirectories`
  *    refuses a link to an existing directory on JDKs without the fix for
  *    JDK-8294193, which includes early JDK 17 updates).
  *
  * Reads, listings, existence checks and deletes, and every path on
  * another file system, go to the manager Spark would have chosen
  * without this class. Files written here carry no `.crc` sidecar, which
  * Hadoop's local readers accept, so a checkpoint stays readable by the
  * stock manager and vice versa.
  *
  * [[graft.SessionTuning.tune]] installs it through
  * `spark.sql.streaming.checkpointFileManagerClass`; Spark instantiates
  * it reflectively with this constructor. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val fallback: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(LocalCheckpointFileManager.ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private val defaultScheme = FileSystem.getDefaultUri(hadoopConf).getScheme

  /** The local file behind `p`, if `p` lives on the `file:` scheme. */
  private def local(p: Path): Option[java.nio.file.Path] = {
    val scheme = Option(p.toUri.getScheme).getOrElse(defaultScheme)
    if (scheme == "file") Some(java.nio.file.Paths.get(p.toUri.getPath)) else None
  }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    local(p) match {
      case Some(target) =>
        val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
        val out = new BufferedOutputStream(
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
        new LocalAtomicStream(out, tmp, target, overwriteIfPossible)
      case None => fallback.createAtomic(p, overwriteIfPossible)
    }

  private def createDirectories(dir: java.nio.file.Path): Unit =
    if (!Files.isDirectory(dir)) Files.createDirectories(dir)

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(dir) => createDirectories(dir)
    case None => fallback.mkdirs(p)
  }

  override def createCheckpointDirectory(): Path = local(path) match {
    case Some(dir) =>
      createDirectories(dir)
      FileSystem.getLocal(hadoopConf).makeQualified(path)
    case None => fallback.createCheckpointDirectory()
  }

  override def open(p: Path): FSDataInputStream = fallback.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fallback.list(p, filter)
  override def exists(p: Path): Boolean = fallback.exists(p)
  override def delete(p: Path): Unit = fallback.delete(p)
  override def isLocal: Boolean = fallback.isLocal
  override def close(): Unit = fallback.close()

  /** Publishes `tmp` as `target` when closed; `cancel()` drops it. */
  private final class LocalAtomicStream(
      out: OutputStream,
      tmp: java.nio.file.Path,
      target: java.nio.file.Path,
      overwrite: Boolean) extends CancellableFSDataOutputStream(out) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(tmp, target,
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          } else publishNew()
        } finally { Files.deleteIfExists(tmp); () }
      }
    }

    private def publishNew(): Unit =
      try { Files.createLink(target, tmp); () }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists")
      }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case NonFatal(_) => () }
        finally { Files.deleteIfExists(tmp); () }
      }
    }
  }
}

object LocalCheckpointFileManager {
  /** Spark's (internal) SQL conf naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
