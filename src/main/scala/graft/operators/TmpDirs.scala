package graft.operators

import org.apache.spark.sql.SparkSession

/** The one owner of graft's `/tmp` scratch: where index and run dirs live,
  * who owns them, when they are reaped, and whether a build is memoized.
  * Gates go through two helpers and never name a pid themselves:
  *
  *  - [[BuildOnce]] — a build-once / serve-many index at
  *    `/tmp/<name>/<fingerprint>_<pid>`;
  *  - [[runDir]] — a fresh per-run scratch dir `/tmp/<name>/run_<pid>_<n>`.
  *
  * The pid in every name gives each JVM its own dir — two JVMs sharing one
  * dir could race rebuild-vs-serve — and [[reap]] keeps the scheme
  * bounded: children of a root owned by DEAD pids (or in a legacy layout
  * with no parseable pid) are deleted; live pids keep theirs, except where
  * `reapSamePid` opts specific own dirs in (run dirs several generations
  * old, whose consumers have finished).
  *
  * OWNERSHIP ASSUMPTION: every `/tmp/<name>` handed to these helpers must
  * be a namespace this library owns exclusively — a child whose name
  * doesn't parse is treated as OUR legacy layout and reaped. Never point
  * them at a shared directory. */
object TmpDirs {

  private val pid: Long = ProcessHandle.current().pid()

  /** Owner pid per the `<anything>_<pid>` suffix convention. */
  def pidSuffix(name: String): Option[Long] =
    name.split('_').lastOption.flatMap(_.toLongOption)

  /** Owner pid per the `run_<pid>_<n>` convention — THE parser for every
    * per-run root; one definition so a layout rename cannot silently
    * break reaping at a subset of call sites. */
  def runPrefixPid(name: String): Option[Long] =
    name.stripPrefix("run_").split('_').headOption.flatMap(_.toLongOption)

  /** Age floor for cross-pid reaps: a dir younger than this is never
    * deleted on the dead-pid / legacy paths, even if its recorded owner
    * looks dead — guards against pid recycling (a long-lived system
    * process re-using a crashed builder's pid would otherwise keep that
    * dir alive forever, and conversely a *young* dir whose owner briefly
    * looks absent mid-fork must not be reaped under it). Same-pid
    * opt-ins (`reapSamePid`) are exempt: the caller knows those dirs. */
  val ageFloorMs: Long = 2L * 60 * 60 * 1000

  def reap(root: String, pid: Long, pidOf: String => Option[Long],
      reapSamePid: String => Boolean = _ => false,
      nowMs: () => Long = () => System.currentTimeMillis()): Unit =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter { f =>
        def oldEnough = nowMs() - f.lastModified() >= ageFloorMs
        pidOf(f.getName) match {
          case Some(p) if p == pid => reapSamePid(f.getName)
          case Some(p)             => !ProcessHandle.of(p).isPresent && oldEnough
          case None                => oldEnough // legacy un-suffixed layout
        }
      }
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))

  /** Cheap content fingerprint for the dataset at `path`: an MD5 over the
    * FULL path plus each underlying file's (name, mtime, length). Keying
    * the index memo and directory on this instead of a sanitized path
    * fixes two staleness holes: (a) a dataset regenerated in-place within
    * one JVM gets a fresh fingerprint, so the index rebuilds instead of
    * serving stale postings; (b) distinct paths whose sanitized forms
    * collide (`/data/x` vs `/data_x`) get distinct directories. */
  private[graft] def dataFingerprint(path: String): String = {
    // (name, mtime-ms, length) alone can miss an in-place regeneration
    // that lands within mtime granularity with identical names/sizes —
    // fold in each file's TAIL bytes too (for parquet that is the footer:
    // row-group offsets/stats, which change with content even at equal
    // file size). 64 bytes × O(files) driver-side reads — cheap.
    // IO failures fingerprint as a distinct marker instead of throwing:
    // a file deleted/truncated between listFiles() and the read (the
    // concurrent-regeneration TOCTOU this content marker exists for)
    // must change the fingerprint, not crash the index build
    def tailMarker(c: java.io.File): String =
      try {
        if (!c.isFile || c.length == 0) ""
        else {
          val n = math.min(64L, c.length).toInt
          val buf = new Array[Byte](n)
          val raf = new java.io.RandomAccessFile(c, "r")
          try { raf.seek(c.length - n); raf.readFully(buf) } finally raf.close()
          java.util.Base64.getEncoder.encodeToString(buf)
        }
      } catch { case _: java.io.IOException => "unreadable" }
    def leaf(c: java.io.File): String =
      s"${c.getName}:${c.lastModified}:${c.length}:${tailMarker(c)}"
    val f = new java.io.File(path)
    val leaves =
      if (f.isDirectory)
        // null-guard: a concurrently-deleted dir lists as empty, which
        // fingerprints distinctly rather than throwing (TOCTOU)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).map(leaf)
      else Array(leaf(f))
    java.security.MessageDigest.getInstance("MD5")
      .digest((path + "|" + leaves.mkString(",")).getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** A build-once / serve-many index over the testdata table `table`:
    * built offline once per (JVM, corpus) into
    * `/tmp/<name>/<dataFingerprint(sfDir/<table>.parquet)>_<pid>`, then
    * served many times off disk. The fingerprint rebuilds a dataset
    * regenerated in place instead of serving it stale, and keeps distinct
    * sf dirs apart; the pid keeps two JVMs over one sf dir apart.
    *
    * `build(spark, sfDir, dir)` writes the index under `dir`. It runs
    * under this instance's own lock (one lock per index, so builds of
    * different indexes never wait on each other), after dead-pid dirs
    * under `/tmp/<name>` are reaped and `dir` is emptied, and the dir is
    * recorded as built only once `build` returns — a failed build is
    * retried from scratch by the next call. */
  final class BuildOnce(name: String, table: String)(
      build: (SparkSession, String, String) => Unit) {
    private val root = s"/tmp/$name"
    private val built = scala.collection.mutable.Set.empty[String]

    private def pathFor(d: String): String =
      s"$root/${dataFingerprint(s"$d/$table.parquet")}_$pid"

    /** The index dir for sf dir `d`, built first if this JVM has not
      * built it yet. */
    def dir(s: SparkSession, d: String): String = synchronized {
      val dir = pathFor(d)
      if (!built(dir)) {
        reap(root, pid, pidSuffix)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        build(s, d, dir)
        built += dir
      }
      dir
    }

    /** Forget the index for `d` and build it again from scratch —
      * isolates the BUILD cost from the SERVE cost the build-once /
      * serve-many split exists for. */
    def rebuild(s: SparkSession, d: String): String = synchronized {
      built -= pathFor(d)
      dir(s, d)
    }
  }

  object BuildOnce {
    def apply(name: String, table: String)(
        build: (SparkSession, String, String) => Unit): BuildOnce =
      new BuildOnce(name, table)(build)
  }

  private val runCounters =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** The next per-run scratch dir `/tmp/<name>/run_<pid>_<n>` (not
    * created), with runs numbered per `name` from 1. Reaps dead-pid runs
    * under `/tmp/<name>` plus this JVM's runs of `name` at least three
    * runs old: their consumers have read back, and keeping the two prior
    * generations covers a caller's still-lazy DataFrame over them — which
    * bounds the per-JVM footprint at three runs. The numbering is per
    * name on purpose: one shared counter would let other gates' runs age
    * out a run whose DataFrame a caller still holds. */
  def runDir(name: String): String = {
    val run = runCounters
      .computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong(0))
      .incrementAndGet()
    reap(s"/tmp/$name", pid, runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    s"/tmp/$name/run_${pid}_$run"
  }
}
