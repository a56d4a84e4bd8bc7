package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thrown when a generation commit loses the atomic claim to a
  * concurrent maintainer racing the same tree. The loser aborts CLEANLY:
  * its staged generation is deleted, the committed tree is untouched, no
  * GC ran — retrying (or just waiting for the winner's cadence) is
  * always safe. */
final class ConcurrentCompactionException(msg: String)
  extends IllegalStateException(msg)

/** Delta→base compaction for the streaming-landed corpus — the LSM step
  * that keeps [[StreamShardRouter]]'s per-batch landing viable long-term.
  * Every micro-batch lands as its own `batch=<id>/shard_id=<k>/` parquet
  * directory (idempotent replay), which at production cadence means
  * thousands of small files per day: the classic small-files problem
  * that degrades every downstream scan. Compaction folds the landed
  * deltas into a generation-numbered base with ONE file per shard, under
  * a manifest that makes the fold atomic and crash-safe.
  *
  * Layout under one corpus root:
  * {{{
  *   batch=<id>/shard_id=<k>/part-*.parquet   landed deltas (the router)
  *   base_gen=<g>/shard_id=<k>/part-*.parquet compacted base, generation g
  *   _tombstones/batch=<id>/part-*.parquet    landed delete keys (+watermark)
  *   _compaction.json                          manifest:
  *                                             {gen, maxFoldedBatch, history?}
  * }}}
  *
  * Commit protocol (the Delta-Lake/Iceberg snapshot discipline, file-based):
  *  1. write the new generation COMPLETELY into a maintainer-unique
  *     staging directory `_staging/gen=<g+1>.<nonce>/`, including an
  *     in-directory `_gen_manifest.json` (the manifest this generation
  *     will commit, + the nonce);
  *  2. CLAIM the generation: atomically rename the staging directory to
  *     `base_gen=<g+1>` WITHOUT overwrite — the rename is the commit
  *     point AND the concurrency guard: exactly one maintainer wins the
  *     slot, a racing loser's rename fails and it aborts cleanly
  *     ([[ConcurrentCompactionException]]) before touching the pointer
  *     or GC'ing anything;
  *  3. swap the pointer manifest `_compaction.json` (temp file + rename)
  *     to the committed generation;
  *  4. only then GC the folded `batch=` directories and unretained bases.
  * A crash between any two steps leaves readers correct: the pointer
  * still names the old generation, whose base + still-present deltas are
  * the full corpus; an orphaned staging directory is invisible (readers
  * go through the pointer, never by listing) and is TTL-swept by a later
  * GC; a generation that won its rename but crashed before the pointer
  * swap is ROLLED FORWARD by the next maintainer from its in-directory
  * manifest (the rename made it complete by construction).
  *
  * Concurrency: the single-maintainer CADENCE remains the contract — the
  * guard exists so that the operator error of two maintainers racing one
  * tree degrades to one clean abort instead of interleaved base writes
  * and readers stranded on a GC'd generation. GC keep-sets additionally
  * union the freshly re-read pointer's, so a stalled winner running its
  * GC late cannot sweep a successor's generations (residual TOCTOU
  * windows narrower than a fold remain out of scope, as they would be
  * for any lock-free FS protocol).
  *
  * ALL storage access goes through the Hadoop `FileSystem`/`FileContext`
  * API resolved from the corpus root's URI — so the same protocol runs
  * against local disk (tests), HDFS, or an object store, exactly like
  * the parquet reads/writes it brackets. The manifest swap uses
  * `FileContext.rename(…, Options.Rename.OVERWRITE)`, the same primitive
  * Spark's own streaming `CheckpointFileManager` relies on for its
  * atomic commit rename.
  *
  * Scale shape: the fold is one `repartition(shards, shard_id)` +
  * partitioned write — a single shuffle sized by shard count, no
  * driver-side data. Readers between compactions pay base + unfolded
  * deltas (bounded by compaction cadence); after, one pruned file per
  * shard. Serve-path equivalence pre/post fold is pinned by the
  * `q_stream_ann_compact` gate and [[graft.streaming]] specs. */
object DeltaCompact {

  /** The committed compaction state: current base generation, the
    * highest batch id folded into it, and the RETAINED older snapshots
    * (gen, maxFoldedBatch) — newest last. Retained generations survive
    * GC and serve [[readCorpusAsOf]] time travel; the default retention
    * of 0 keeps the original keep-only-current behavior.
    *
    * `retain` persists the retention POLICY the last fold was asked for
    * (its `retainSnapshots`), distinct from the current history DEPTH:
    * a retaining tree folded only once has an empty history but a
    * non-zero policy, and maintenance verbs that must preserve
    * retention ([[StreamShardRouter.reshardOnFold]]'s default) read the
    * policy instead of guessing it from depth. Manifests written before
    * the field parse as 0 (depth-inference remains their fallback). */
  final case class Manifest(gen: Long, maxFoldedBatch: Long,
      history: Seq[(Long, Long)] = Nil, retain: Int = 0)

  /** `retainSnapshots` sentinel: "this fold does not intend to change the
    * tree's retention policy" — resolves to the persisted `prev.retain`
    * (0 on a fresh tree). This is the default for every maintenance verb
    * (compact, geometry refresh, codebook retrain, BM25 rebuild): a fold
    * that merely heals the tree must never silently truncate a deeper
    * persisted policy and lose time-travel history. Resolution happens
    * inside [[nextManifest]], at commit time against the freshest
    * manifest, so a policy committed between a detached DECIDE and its
    * ACT is still honored. Pass an explicit `n >= 0` to SET the policy. */
  val PreserveRetention: Int = -1

  /** [[PreserveRetention]], floored at 1 — the detached-maintainer
    * variant: a detached commit races live serve plans, so the
    * superseded generation must outlive the swap even on a
    * non-retaining tree (the round-15 `retainSnapshots >= 1` contract). */
  val PreserveRetentionDetached: Int = -2

  private[streaming] def resolveRetain(asked: Int,
      prev: Option[Manifest]): Int = asked match {
    case PreserveRetention => prev.map(_.retain).getOrElse(0)
    case PreserveRetentionDetached => math.max(1, prev.map(_.retain).getOrElse(0))
    case n => math.max(0, n)
  }

  private def manifestPath(outDir: String) = new Path(outDir, "_compaction.json")

  private[streaming] def fs(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  // ---- small JSON files: the manifests and the trees' flat sidecars ----

  private def readText(p: Path, f: FileSystem): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeText(p: Path, txt: String, conf: Configuration,
      overwrite: Boolean): Unit = {
    val out = p.getFileSystem(conf).create(p, overwrite)
    try out.write(txt.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Numeric field `k` of the JSON text `txt` read from `p` (a `what`).
    * A missing or malformed field fails loudly, naming the file. */
  private def longField(txt: String, k: String, p: Path, what: String): Long =
    s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(throw new IllegalStateException(
        s"corrupt $what $p: missing $k in $txt"))
      .group(1).toLong

  /** Write a flat `{"k":v,…}` sidecar, fields in the given order — the
    * order is the byte layout, which trees already on disk share. */
  private[streaming] def writeSidecar(p: Path, fields: Seq[(String, Long)],
      conf: Configuration): Unit =
    writeText(p, fields.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}"), conf, overwrite = true)

  /** The `keys` of a [[writeSidecar]] file (a `what`, for the corrupt-file
    * message), or None when the file is absent. */
  private[streaming] def readSidecar(p: Path, keys: Seq[String], what: String,
      conf: Configuration): Option[Map[String, Long]] = {
    val f = p.getFileSystem(conf)
    if (!f.exists(p)) None
    else {
      val txt = readText(p, f)
      Some(keys.map(k => k -> longField(txt, k, p, what)).toMap)
    }
  }

  /** Parse one manifest JSON payload (shared by the pointer manifest and
    * the in-generation `_gen_manifest.json`). */
  private def parseManifest(s: String, p: Path): Manifest = {
    // the history array is cut out FIRST so the top-level gen /
    // maxFoldedBatch fields are parsed from the remainder only
    val histRe = """"history"\s*:\s*\[([^\]]*)\]""".r
    val hist = histRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val top = histRe.replaceFirstIn(s, "")
    def field(k: String): Long = longField(top, k, p, "compaction manifest")
    val history = """\{"gen":(\d+),"maxFoldedBatch":(-?\d+)\}""".r
      .findAllMatchIn(hist)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    // a history entry that fails the regex must fail LOUDLY like the
    // scalar fields — silently dropping one would forget a retained
    // snapshot and let the next gcFolded delete a still-referenced base
    val rawEntries = hist.count(_ == '{')
    if (history.size != rawEntries)
      throw new IllegalStateException(
        s"corrupt compaction manifest $p: history has $rawEntries " +
          s"entries but only ${history.size} parsed in $s")
    // optional (absent in pre-policy manifests → 0)
    val retain = """"retain"\s*:\s*(\d+)""".r.findFirstMatchIn(top)
      .map(_.group(1).toInt).getOrElse(0)
    Manifest(field("gen"), field("maxFoldedBatch"), history, retain)
  }

  /** Read the committed manifest, if any compaction has ever run. */
  def readManifest(outDir: String,
      conf: Configuration = new Configuration()): Option[Manifest] = {
    val p = manifestPath(outDir)
    val f = fs(outDir, conf)
    if (!f.exists(p)) None
    else Some(parseManifest(readText(p, f), p))
  }

  private def manifestJson(m: Manifest, nonce: Option[String] = None): String = {
    val hist =
      if (m.history.isEmpty) ""
      else m.history
        .map { case (g, w) => s"""{"gen":$g,"maxFoldedBatch":$w}""" }
        .mkString(""","history":[""", ",", "]")
    val non = nonce.fold("")(n => s""","nonce":"$n"""")
    val ret = if (m.retain > 0) s""","retain":${m.retain}""" else ""
    s"""{"gen":${m.gen},"maxFoldedBatch":${m.maxFoldedBatch}$hist$ret$non}"""
  }

  /** ONE definition of "the next generation's manifest under a retention
    * policy", computed by [[commitGeneration]] for every fold:
    * gen = prev + 1, the superseded generation joins the retained
    * history (truncated to the policy depth), and the policy itself is
    * persisted. Detached maintainers MUST pass `retainSnapshots >= 1`
    * (or [[PreserveRetentionDetached]]) — their commit races live serve
    * plans, and a history-less manifest would let [[gcFolded]] delete
    * the superseded base at the swap instant, failing a reader mid-plan
    * on the old generation. [[PreserveRetention]] (the maintenance-verb
    * default) resolves to the persisted policy here, against the
    * freshest manifest. */
  private[streaming] def nextManifest(prev: Option[Manifest], watermark: Long,
      retainSnapshots: Int = PreserveRetention): Manifest = {
    val keep = resolveRetain(retainSnapshots, prev)
    val history = prev
      .map(p => (p.history :+ (p.gen, p.maxFoldedBatch)).takeRight(keep))
      .getOrElse(Nil)
    Manifest(prev.map(_.gen + 1).getOrElse(0L), watermark, history, keep)
  }

  /** The pointer swap (protocol step 3): called by
    * [[commitStagedGeneration]] after a won claim and by [[rollForward]]
    * when it adopts a crashed winner's generation. */
  private[streaming] def writeManifest(outDir: String, m: Manifest,
      conf: Configuration = new Configuration()): Unit = {
    val tmp = new Path(outDir, s"_compaction.json.tmp.${System.nanoTime()}")
    writeText(tmp, manifestJson(m), conf, overwrite = true)
    // rename-with-overwrite within one directory: the pointer swap.
    // FileSystem.rename can't replace an existing destination portably;
    // FileContext.rename(OVERWRITE) is the API contract for exactly this
    // (what Spark's CheckpointFileManager uses on HDFS and local alike).
    // Uncontended by construction: only the maintainer that WON the
    // generation rename (or a roll-forwarder writing the identical
    // bytes from the in-generation manifest) ever writes gen g's pointer,
    // and nobody can claim gen g+1 before the pointer names gen g.
    val fc = FileContext.getFileContext(manifestPath(outDir).toUri, conf)
    fc.rename(tmp, manifestPath(outDir), Options.Rename.OVERWRITE)
  }

  // ---- generation claim: the concurrent-maintainer guard ----

  private val GenManifestName = "_gen_manifest.json"

  /** Dead staging directories are swept only after this long — an ACTIVE
    * concurrent fold toward an already-taken slot must lose at its own
    * rename (a clean [[ConcurrentCompactionException]]), not by having
    * files yanked from under its writer mid-stage. */
  private[streaming] val StagingTtlMs: Long = 10L * 60 * 1000

  private def stagingRoot(outDir: String) = new Path(outDir, "_staging")

  /** The in-generation manifest (+ its maintainer nonce), if `dir` is a
    * committed-by-rename generation directory. Pre-guard generation
    * directories (written in place by the old protocol) have none. */
  private[streaming] def readGenManifest(dir: String,
      conf: Configuration): Option[(Manifest, String)] = {
    val p = new Path(dir, GenManifestName)
    val f = fs(dir, conf)
    if (!f.exists(p)) None
    else {
      val txt = readText(p, f)
      val nonce = """"nonce"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"corrupt generation manifest $p: missing nonce in $txt"))
        .group(1)
      Some((parseManifest(txt, p), nonce))
    }
  }

  private[streaming] def writeGenManifest(dir: String, m: Manifest,
      nonce: String, conf: Configuration): Unit = {
    writeText(new Path(dir, GenManifestName), manifestJson(m, Some(nonce)), conf,
      overwrite = false)
  }

  /** Stage-and-commit one generation under the concurrent-maintainer
    * guard (protocol steps 1-4 of the object scaladoc) — the claim half
    * of [[commitGeneration]], which every fold goes through. `stage` must
    * write the generation's COMPLETE content under the staging path it
    * is given; this helper then adds the in-generation manifest, claims
    * `base_gen=<man.gen>` by atomic rename, swaps the pointer, and GCs.
    * A racing maintainer that loses the claim gets a
    * [[ConcurrentCompactionException]] with its staging deleted and the
    * committed tree untouched. */
  private[streaming] def commitStagedGeneration(outDir: String, man: Manifest,
      conf: Configuration, gcGraceMs: Long = 0L)(stage: String => Unit): Unit = {
    val nonce = java.util.UUID.randomUUID().toString
    val staging = new Path(stagingRoot(outDir), s"gen=${man.gen}.$nonce")
    val dest = new Path(genDir(outDir, man.gen))
    val f = fs(outDir, conf)
    stage(staging.toString)
    writeGenManifest(staging.toString, man, nonce, conf)
    // a manifest-LESS directory in the slot is a pre-guard orphan (the
    // old protocol wrote bases in place; a crash could leave one
    // half-written) — readers never saw it, clear it for the rename.
    // A directory WITH a manifest is a committed generation: the rename
    // below will fail on it, which is exactly the guard.
    if (f.exists(dest) && readGenManifest(dest.toString, conf).isEmpty)
      f.delete(dest, true)
    val fc = FileContext.getFileContext(dest.toUri, conf)
    // A lost claim must leave the WINNER'S tree clean: the local-FS
    // AbstractFileSystem rename can exhibit POSIX `mv`-into-directory
    // semantics when dest already exists — the loser's staging lands as
    // `base_gen=<g>/gen=<g>.<nonce>/`, a non-underscore subdirectory that
    // breaks every partition-inferring reader of the winner's base
    // (observed: LshRefreshCrashRaceSpec, CONFLICTING_PARTITION_COLUMN_
    // NAMES). So both abort paths sweep the staging from BOTH places it
    // can be: its original path and misplaced inside dest.
    def abortLostClaim(detail: String): Nothing = {
      f.delete(staging, true)
      val misplaced = new Path(dest, staging.getName)
      if (f.exists(misplaced)) f.delete(misplaced, true)
      throw new ConcurrentCompactionException(
        s"generation ${man.gen} under $outDir $detail")
    }
    try fc.rename(staging, dest) // no OVERWRITE: the atomic claim
    catch {
      case e: java.io.IOException =>
        abortLostClaim("was committed by a concurrent maintainer — " +
          "aborting before pointer swap and GC " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})")
    }
    // belt-and-braces for file systems whose no-overwrite rename check is
    // not atomic: the slot must carry OUR nonce, or someone else won
    if (!readGenManifest(dest.toString, conf).exists(_._2 == nonce))
      abortLostClaim("carries another maintainer's manifest after " +
        "rename — lost the claim, aborting before GC")
    writeManifest(outDir, man, conf)
    gcFolded(outDir, man, conf, gcGraceMs)
  }

  /** Adopt any generation that won its rename but crashed before the
    * pointer swap: finish the swap from its in-generation manifest (a
    * roll-FORWARD — the rename made the generation complete by
    * construction) and run its GC. Returns the effective committed
    * manifest after adoption. Every maintainer calls this before
    * computing its own next generation, so a crashed predecessor can
    * never wedge the slot sequence. */
  private[streaming] def rollForward(outDir: String,
      conf: Configuration, gcGraceMs: Long = 0L): Option[Manifest] = {
    var cur = readManifest(outDir, conf)
    var next = cur.map(_.gen + 1).getOrElse(0L)
    var orphan = readGenManifest(genDir(outDir, next), conf)
    while (orphan.isDefined) {
      val m = orphan.get._1
      writeManifest(outDir, m, conf)
      gcFolded(outDir, m, conf, gcGraceMs)
      cur = Some(m)
      next = m.gen + 1
      orphan = readGenManifest(genDir(outDir, next), conf)
    }
    cur
  }

  private def genDir(dir: String, gen: Long): String = s"$dir/base_gen=$gen"

  /** The committed generation's directory, or None before the first
    * commit — how a reader finds a generation's own files (codebooks,
    * sidecars): through the pointer, never by listing. */
  private[streaming] def currentGenDir(dir: String,
      conf: Configuration): Option[String] =
    readManifest(dir, conf).map(m => genDir(dir, m.gen))

  /** THE generation commit every fold goes through ([[compact]], the LSH
    * geometry refresh, the BM25 index fold and rebuild, the IVF and PQ
    * refreshes): the next manifest after the target's committed one,
    * carrying `from`'s watermark, staged and claimed under the
    * concurrent-maintainer guard ([[commitStagedGeneration]]), then GC of
    * exactly the target's tombstone batches `tombstones` — captured by
    * the caller BEFORE it read its input, so a delete landing mid-fold
    * survives to apply logically.
    *
    * `into == from.dir` is a fold of a tree INTO ITSELF: the claimed slot
    * follows `from.man`, which must come from [[captureForFold]] — input,
    * watermark and slot from ONE rolled-forward manifest. A second
    * roll-forward here could adopt a racing winner's generation and claim
    * the slot after it over a view that winner already folded, instead of
    * losing cleanly with a [[ConcurrentCompactionException]]. Otherwise
    * `from` is a cross-tree SOURCE captured read-only ([[capture]]), and
    * the target is rolled forward here, at commit. */
  private[streaming] def commitGeneration(from: View, into: String,
      conf: Configuration, retainSnapshots: Int, gcGraceMs: Long = 0L,
      tombstones: Seq[Long] = Nil)(stage: String => Unit): Manifest = {
    val prev =
      if (into == from.dir) from.man else rollForward(into, conf, gcGraceMs)
    val man = nextManifest(prev, from.watermark, retainSnapshots)
    commitStagedGeneration(into, man, conf, gcGraceMs)(stage)
    gcTombstoneBatches(into, tombstones, conf, gcGraceMs)
    man
  }

  // ---- atomic delta landing ----

  private val LandingPrefix = "_landing_"

  /** Land one delta directory ATOMICALLY: `write` stages the directory's
    * COMPLETE content under a sibling `_landing_…` path, which is then
    * renamed into place (existing content deleted first — the
    * overwrite-idempotent replay contract). A lister — a fold capturing
    * its delta set, a live serve assembling the corpus — therefore never
    * observes a half-written `batch=` directory: underscore-prefixed
    * staging names match no `batch=` filter, and the rename publishes
    * the finished directory in one metadata operation. This is what lets
    * a DETACHED maintainer capture-and-fold while ingest keeps landing:
    * every directory the capture lists is complete by construction, and
    * anything newer stays a delta above the committed watermark (the
    * forward-landing guarantee). The one remaining exclusion is
    * unchanged: a concurrent RE-delivery of an already-captured batch id
    * (the delete-then-rename yanks files from under the fold's read) —
    * checkpointed streams never re-deliver a batch id while live, and
    * the rename fails loudly rather than interleaving if two landers do
    * race one id. Crash debris (`_landing_` dirs) is TTL-swept by the
    * next fold's GC. */
  private[streaming] def atomicLandDir(dir: String, conf: Configuration)(
      write: String => Unit): String = {
    atomicLandDirIf(dir, conf) { staging => write(staging); true }
      .getOrElse(throw new IllegalStateException(
        s"unreachable: unconditional land of $dir did not publish"))
  }

  /** [[atomicLandDir]] with the PUBLISH decision made by the writer
    * itself: `write` stages the content and returns whether to publish.
    * On `false` the staging is deleted and nothing lands — the
    * skip-empty-batch idiom without a separate counting action (the
    * decision can ride the staged write as an `Observation`). Returns
    * the landed dir, or None when the writer declined. */
  private[streaming] def atomicLandDirIf(dir: String, conf: Configuration)(
      write: String => Boolean): Option[String] = {
    val dest = new Path(dir)
    val staging = new Path(dest.getParent,
      s"$LandingPrefix${dest.getName}.${java.util.UUID.randomUUID()}")
    val f = fs(dir, conf)
    val publish =
      try write(staging.toString)
      catch { case e: Throwable => f.delete(staging, true); throw e }
    if (!publish) { f.delete(staging, true); return None }
    f.delete(dest, true)
    if (!f.rename(staging, dest)) {
      f.delete(staging, true)
      throw new IllegalStateException(
        s"atomic land of $dir lost its publish rename — two landers raced " +
          "one batch id, which the landing contract excludes")
    }
    Some(dir)
  }

  /** Sweep crashed landers' `_landing_` staging debris older than the
    * TTL (an ACTIVE lander must never have files yanked mid-stage — the
    * [[StagingTtlMs]] discipline). Called from fold GC. */
  private[streaming] def sweepLandingDebris(rootDir: String,
      conf: Configuration): Unit = {
    val root = new Path(rootDir)
    val f = fs(rootDir, conf)
    if (!f.exists(root)) return
    val now = System.currentTimeMillis()
    f.listStatus(root).toSeq
      .filter(st => st.getPath.getName.startsWith(LandingPrefix) &&
        now - st.getModificationTime > StagingTtlMs)
      .foreach(st => f.delete(st.getPath, true))
  }

  /** Batch ids currently landed as delta directories. */
  def listDeltaBatches(outDir: String,
      conf: Configuration = new Configuration()): Seq[Long] = {
    val root = new Path(outDir)
    val f = fs(outDir, conf)
    if (!f.exists(root) || !f.getFileStatus(root).isDirectory) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(st => st.getPath.getName.stripPrefix("batch=").toLongOption)
      .sorted
  }

  /** Sequence-number column tagged onto assembled rows: the batch id a
    * row landed in (base rows carry the base's fold watermark — every
    * base row came from a batch at-or-under it). Tombstones apply only
    * to rows with sequence ≤ the tombstone's watermark — the
    * Iceberg-sequence-number / Delta-deletion-vector rule that makes
    * DELETE-then-REINGEST correct: a re-crawled key landed AFTER its
    * deletion is a new row, not a resurrected one, and must survive. */
  private val WmCol = "__graft_wm"
  private val TsWmCol = "__graft_ts_wm"

  /** One CAPTURED view of a tree: its committed manifest and exactly the
    * delta batches above that manifest's watermark, listed once. A fold
    * reads, and commits the watermark of, exactly the view it captured:
    * a delta landing after the capture stays a delta above the committed
    * watermark instead of being baked into a base it postdates (the
    * forward-landing guarantee on [[compact]]). Readers use the same
    * views, so the data a fold writes can never diverge from the data
    * readers see. */
  private[streaming] final case class View(dir: String, man: Option[Manifest],
      deltas: Seq[Long]) {
    def isEmpty: Boolean = man.isEmpty && deltas.isEmpty

    /** The highest batch id the view covers (-1 when nothing landed). */
    def watermark: Long =
      (deltas ++ man.map(_.maxFoldedBatch)).foldLeft(-1L)(math.max)

    /** The view's rows, no tombstone applied. */
    def read(spark: SparkSession, allowEvolution: Boolean = false): DataFrame =
      assemble(spark, this, allowEvolution).drop(WmCol)

    /** The view's rows minus every tombstone landed under `dir` — listed
      * at plan time, so a delete landing mid-fold is applied (but not
      * GC'd by the caller's captured sweep; re-application is a no-op). */
    def readLive(spark: SparkSession, keyCol: String,
        allowEvolution: Boolean = false): DataFrame =
      minus(spark, keyCol, readTombstones(spark, dir), allowEvolution)

    private[DeltaCompact] def minus(spark: SparkSession, keyCol: String,
        ts: Option[DataFrame], allowEvolution: Boolean): DataFrame = {
      val tagged = assemble(spark, this, allowEvolution)
      ts.fold(tagged)(antiTombstoned(tagged, _, keyCol)).drop(WmCol)
    }
  }

  /** Capture `dir`'s view READ-ONLY: one manifest read, one delta
    * listing. Never rolls the tree forward — a cross-tree fold's source
    * and every serve read only. */
  private[streaming] def capture(dir: String, conf: Configuration): View =
    viewAfter(dir, readManifest(dir, conf), conf)

  /** The view a fold of `dir` into itself reads: adopt a predecessor that
    * won its rename but crashed pre-pointer ([[rollForward]]) BEFORE
    * capturing, so the input, the watermark and the slot
    * [[commitGeneration]] claims all follow that one manifest. */
  private[streaming] def captureForFold(dir: String, conf: Configuration,
      gcGraceMs: Long): View =
    viewAfter(dir, rollForward(dir, conf, gcGraceMs), conf)

  private def viewAfter(dir: String, man: Option[Manifest],
      conf: Configuration): View =
    View(dir, man,
      listDeltaBatches(dir, conf).filter(id => man.forall(id > _.maxFoldedBatch)))

  /** A view's rows — committed base (if any) + exactly its delta batches,
    * schema-aligned by name, each row tagged with its landing sequence
    * ([[WmCol]]). */
  private def assemble(spark: SparkSession, v: View,
      allowEvolution: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val parts =
      v.man.map(m => spark.read.parquet(genDir(v.dir, m.gen))
        .withColumn(WmCol, lit(m.maxFoldedBatch))).toSeq ++
        v.deltas.map(id => spark.read.parquet(s"${v.dir}/batch=$id")
          .withColumn(WmCol, lit(id)))
    require(parts.nonEmpty, s"no landed data under ${v.dir}")
    // allowEvolution = additive schema evolution (the table-format rule:
    // new columns may appear; old rows read them as null). The DEFAULT
    // stays strict — a silently missing column is usually an ingest bug,
    // and evolution must be an explicit contract, not an accident.
    parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = allowEvolution))
  }

  /** The full corpus as of NOW: committed base (if any) + every delta
    * batch newer than the fold watermark. Never lists `base_gen`
    * directories — the manifest IS the source of truth, which is what
    * makes a half-written new base invisible. */
  def readCorpus(spark: SparkSession, outDir: String,
      allowEvolution: Boolean = false): DataFrame =
    capture(outDir, spark.sparkContext.hadoopConfiguration)
      .read(spark, allowEvolution)

  // ---- tombstones: the DELETE half of the corpus lifecycle ----
  //
  // Deletes (takedowns, licensing revocations, opt-outs) arrive as key
  // sets, not row rewrites — rewriting a multi-TB base per delete batch
  // would be absurd. The protocol mirrors the delta discipline exactly:
  //  * a delete batch LANDS as its own `_tombstones/batch=<id>/` parquet
  //    (idempotent overwrite, same as data deltas);
  //  * readers get EXACT logical deletion immediately — [[readCorpusLive]]
  //    anti-joins the landed tombstone keys, whose volume is bounded by
  //    compaction cadence, so the anti-join's build side stays broadcast
  //    -sized by construction;
  //  * the next [[compact]] applies them PHYSICALLY — the fold excludes
  //    tombstoned rows from the new base, then GCs the applied tombstone
  //    directories (after the manifest commit, like data-delta GC).
  // Crash-safety falls out of idempotence: a crash between commit and
  // tombstone-GC leaves tombstone files whose keys are already absent
  // from the new base — re-applying an anti-join on absent keys is a
  // no-op, so stale tombstones are harmless and swept by the next fold.

  private def tombstoneRoot(outDir: String) = s"$outDir/_tombstones"

  /** Land one tombstone delta: `keys` (the delete-key column(s) only,
    * e.g. a single `doc_id`) under `_tombstones/batch=<id>/`. Overwrite
    * -idempotent like [[StreamShardRouter.landBatch]]. Coalesced to one
    * file: a delete batch is key-sized, not corpus-sized, and per-file
    * constant costs dominate tiny writes.
    *
    * Each tombstone carries its WATERMARK — the highest data batch
    * landed at delete time — and applies only to rows that landed
    * at-or-under it: "delete this key as it exists NOW". A re-ingest of
    * the key in a LATER batch survives (the sequence rule above), which
    * is what makes delete-then-recrawl upserts correct instead of
    * permanently suppressing the key until a fold happens to clear the
    * tombstone. */
  def landTombstones(keys: DataFrame, outDir: String, batchId: Long,
      watermark: Option[Long] = None): String = {
    import org.apache.spark.sql.functions.lit
    val conf = keys.sparkSession.sparkContext.hadoopConfiguration
    // explicit watermark: callers whose deletes logically precede a known
    // batch (the CDC apply: "invalidate everything before MY batch") must
    // pin it — recomputing at a crash-replayed re-land, AFTER the batch's
    // own data landed, would raise the watermark over the batch's own rows
    // and delete them
    val wm = watermark.getOrElse(capture(outDir, conf).watermark)
    // atomic like the data landing: a fold's tombstone capture or a
    // live serve's plan-time readTombstones never sees a half directory
    atomicLandDir(s"${tombstoneRoot(outDir)}/batch=$batchId", conf) { staging =>
      keys.withColumn(TsWmCol, lit(wm))
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
  }

  /** Tombstone batch ids currently landed (not yet folded away). */
  def listTombstoneBatches(outDir: String,
      conf: Configuration = new Configuration()): Seq[Long] =
    listDeltaBatches(tombstoneRoot(outDir), conf)

  /** GC exactly the given tombstone batches — for folds that applied
    * them OUTSIDE [[compact]] (the LSH geometry refresh rebuilds from
    * the live corpus, so its captured index tombstones are applied by
    * construction). Captured-batches-only, same as [[compact]]'s own
    * sweep: a delete landed mid-fold must survive to apply logically. */
  private val AppliedMarker = "_applied"

  private[streaming] def gcTombstoneBatches(outDir: String, ids: Seq[Long],
      conf: Configuration, graceMs: Long = 0L): Unit = {
    val f = fs(outDir, conf)
    val now = System.currentTimeMillis()
    ids.foreach { id =>
      val p = new Path(tombstoneRoot(outDir), s"batch=$id")
      val marker = new Path(p, AppliedMarker)
      // grace: an APPLIED tombstone left landed is harmless (re-applying
      // on absent keys is a no-op, the sequence rule covers the rest) —
      // but deleting it mid-plan would fail a concurrent reader whose
      // readTombstones listed it. Instead of deleting fresh applications,
      // mark them `_applied` (one tiny underscore file — parquet readers
      // and in-flight plans are undisturbed) so maintenance DECIDEs stop
      // counting them as pressure; a later fold deletes them once the
      // MARKER ages past the grace. The marker's mtime is the age clock —
      // "graceMs since the tombstone was applied" is the semantic (the
      // directory's own mtime is the LANDING time, which can be
      // arbitrarily older than the application a concurrent reader's
      // plan actually raced; it is also bumped by the marker creation
      // itself, which would double the retention).
      // A concurrent maintainer sweeping the same aged dir between our
      // listing and these calls is fine — FileNotFound means
      // already-swept, never a failed fold.
      try {
        if (graceMs <= 0L) { f.delete(p, true); () }
        else if (f.exists(marker)) {
          if (now - f.getFileStatus(marker).getModificationTime > graceMs)
            f.delete(p, true)
          ()
        } else if (f.exists(p)) f.create(marker, true).close()
      } catch {
        case _: java.io.FileNotFoundException => () // concurrently swept
      }
    }
  }

  /** Tombstone batches landed and NOT yet applied by any fold — the
    * maintenance-pressure signal. [[listTombstoneBatches]] additionally
    * includes APPLIED-but-grace-retained batches (kept on disk so a
    * concurrent reader's in-flight plan survives the sweep; harmless to
    * re-apply, but zero pressure — counting them would re-fire the ACT
    * forever). */
  def listPendingTombstoneBatches(outDir: String,
      conf: Configuration = new Configuration()): Seq[Long] = {
    val f = fs(outDir, conf)
    listTombstoneBatches(outDir, conf).filterNot(id =>
      f.exists(new Path(tombstoneRoot(outDir), s"batch=$id/$AppliedMarker")))
  }

  /** [[readTombstones]] over only the PENDING batches — what maintenance
    * DECIDEs count. Correctness reads ([[readCorpusLive]] and folds)
    * keep using ALL landed batches: a pinned reader over the old
    * generation still needs an applied tombstone's logical effect, and
    * re-application is a no-op by the sequence rule. */
  def readPendingTombstones(spark: SparkSession,
      outDir: String): Option[DataFrame] =
    readTombstoneBatches(spark, outDir, listPendingTombstoneBatches(outDir,
      spark.sparkContext.hadoopConfiguration))

  /** All landed tombstone keys (+ their watermarks), or None when no
    * delete has ever landed (schema is the caller's key schema, so an
    * empty frame can't be conjured here). */
  def readTombstones(spark: SparkSession, outDir: String): Option[DataFrame] =
    readTombstoneBatches(spark, outDir,
      listTombstoneBatches(outDir, spark.sparkContext.hadoopConfiguration))

  /** The keys of exactly the tombstone batches `ids`, or None for none. */
  private def readTombstoneBatches(spark: SparkSession, outDir: String,
      ids: Seq[Long]): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some(ids.map(id => spark.read.parquet(s"${tombstoneRoot(outDir)}/batch=$id"))
      .reduce(_ unionByName _))

  /** Anti-join `tagged` (a [[WmCol]]-tagged corpus) against the landed
    * tombstones under the sequence rule: a row dies iff some tombstone
    * names its key with watermark ≥ the row's landing sequence. The
    * tombstone side keeps MAX watermark per key (a later re-delete
    * re-kills), is broadcast (bounded by fold cadence), and the
    * watermark comparison rides the broadcast hash join as a residual
    * condition — still one map-side probe, zero extra exchanges. */
  private def antiTombstoned(tagged: DataFrame, ts: DataFrame,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, max}
    val t = ts.groupBy(col(keyCol).as("__graft_ts_key"))
      .agg(max(col(TsWmCol)).as(TsWmCol))
    tagged.join(broadcast(t),
      tagged(keyCol) === t("__graft_ts_key") &&
        tagged(WmCol) <= t(TsWmCol),
      "left_anti")
  }

  /** The LIVE corpus: [[readCorpus]] minus tombstoned rows — exact
    * logical deletion the moment a tombstone lands, no base rewrite,
    * re-ingests after a delete correctly visible (the sequence rule on
    * [[landTombstones]]). `keyCol` names the delete key in both trees. */
  def readCorpusLive(spark: SparkSession, outDir: String,
      keyCol: String = "doc_id", allowEvolution: Boolean = false): DataFrame =
    capture(outDir, spark.sparkContext.hadoopConfiguration)
      .readLive(spark, keyCol, allowEvolution)

  /** Fold every landed delta into the next base generation and commit.
    * Idempotent: compacting with no unfolded deltas rewrites the base
    * (a no-op fold) and re-commits. Returns the committed manifest.
    *
    * Concurrency contract: the delta list is captured ONCE and the fold
    * reads exactly those directories, so a NEW batch id landing while
    * the fold runs stays a delta above the new watermark — forward
    * landings need no coordination. What IS excluded is a concurrent
    * RE-delivery of an already-captured batch id (a crash-restarted
    * stream replaying while the fold reads that directory — landBatch's
    * overwrite would yank files mid-read, or the committed watermark
    * would shadow the re-landed rows). Run compaction from the ingest's
    * own maintenance cadence (e.g. every N batches inside foreachBatch,
    * or with the stream quiesced), the same single-maintainer discipline
    * a Delta-Lake-style log would enforce with optimistic locking.
    *
    * `maxRecordsPerFile`: 0 = one file per shard (the small-corpus
    * default every spec pins); > 0 caps file size so a 100 TB shard
    * folds into N right-sized parquet files instead of one monster —
    * the writer splits WITHIN the shard task, so clustering order
    * (sortCols) is preserved per file and the plan gains no exchange.
    *
    * `extraStage`: runs inside the staging callback AFTER the parquet
    * write, with the staging path — for generation-scoped sidecar
    * metadata (e.g. the LSH geometry descriptor) that must commit
    * atomically WITH the generation it describes. Underscore-prefix the
    * file names so parquet readers ignore them (the `_gen_manifest.json`
    * precedent).
    *
    * `reshard`: recompute `shard_id` ON the fold — the elasticity knob.
    * Without it the fold keeps each row's LANDED shard id (`numShards`
    * then only sizes the exchange), so a tree sharded at width N when
    * it was small stays N-wide forever; at 100 TB the right width grows
    * with the corpus, and the fold — which rewrites the base anyway —
    * is the one moment widening costs nothing extra. The callback gets
    * the tombstone-applied corpus and must return it with a replaced
    * `shard_id` (each tree family owns its convention —
    * [[StreamShardRouter.reshardOnFold]] for hash-routed document
    * trees). Deltas landing mid-fold keep their old width until a later
    * fold passes `reshard` again (deterministic assignment makes that
    * idempotent); switch the ingest's shard count at the same
    * maintenance tick.
    *
    * `gcGraceMs`: the post-commit sweep leaves folded delta/tombstone
    * directories YOUNGER than this on disk — the knob a detached
    * maintainer ([[DetachedMaintainer]]) sets so its GC cannot yank
    * directories a concurrent ingest read-back or serve plan still
    * lists. Correctness never depends on the sweep (readers filter by
    * the committed watermark; re-applying an applied tombstone is a
    * no-op), so grace-skipped directories are disk debris for a later
    * fold. 0 (default) sweeps immediately — the single-threaded
    * maintenance cadence's original behavior. Trees serving DURING
    * maintenance should also retain ≥ 1 snapshot so a reader mid-plan
    * on the superseded base survives the swap. */
  /** `shardDirs = false` (r16 optimization) writes the folded base as
    * PLAIN files — shard_id stays a data column, rows still
    * repartitioned by shard and sorted by (shard_id, sortCols) so every
    * file is shard-clustered and row-group min/max stats carry a shard
    * or sort-key filter. For trees whose readers never partition-prune
    * on shard_id directories (the streamed LSH posting tree: every serve
    * reads via readPostings and drops tb_hi unfiltered), the dynamic-
    * partition fan-out is pure per-directory writer/commit overhead —
    * measured ~3 s per 128-dir fold at sf0.1 vs sub-second plain. Trees
    * with genuinely pruned reads (the doc corpus's per-shard trainer
    * scans, the persisted IVF/PQ cell layouts) keep the default. */
  def compact(spark: SparkSession, outDir: String, numShards: Int = 16,
      sortCols: Seq[String] = Nil,
      tombstoneKey: Option[String] = None,
      retainSnapshots: Int = PreserveRetention,
      maxRecordsPerFile: Long = 0L,
      allowEvolution: Boolean = false,
      extraStage: String => Unit = _ => (),
      reshard: Option[DataFrame => DataFrame] = None,
      gcGraceMs: Long = 0L,
      shardDirs: Boolean = true): Manifest = {
    val conf = spark.sparkContext.hadoopConfiguration
    // adopt a predecessor that won its rename but crashed pre-pointer
    // BEFORE capturing our own view (captureForFold)
    val view = captureForFold(outDir, conf, gcGraceMs)
    // tombstone application: capture the landed tombstone batches ONCE
    // (the delta-capture discipline — a delete landing mid-fold stays
    // pending and applies logically via readCorpusLive until the next
    // fold), exclude their keys from the new base, and GC exactly the
    // captured batches after the commit. No manifest field needed: a
    // crash between commit and tombstone-GC leaves tombstones whose
    // keys the new base already lacks — re-application is a no-op.
    val tsBatches = tombstoneKey.fold(Seq.empty[Long])(_ =>
      listTombstoneBatches(outDir, conf))
    // a fold that IGNORES pending tombstones would bump the folded rows'
    // sequence ([[WmCol]] = the new watermark) past every pending
    // tombstone's, silently resurrecting deleted keys — refuse loudly.
    // (PENDING only: an applied-but-grace-retained batch has no rows
    // left to resurrect — its keys are already out of every base.)
    require(tombstoneKey.nonEmpty ||
        listPendingTombstoneBatches(outDir, conf).isEmpty,
      s"pending tombstones under $outDir but compact() was called without " +
        "tombstoneKey — the fold would resurrect deleted rows")
    // sequence-aware application (see antiTombstoned): a key re-ingested
    // in a batch AFTER its delete folds into the new base; only
    // at-or-under-watermark rows are excluded
    val corpus = tombstoneKey.fold(view.read(spark, allowEvolution))(k =>
      view.minus(spark, k, readTombstoneBatches(spark, outDir, tsBatches),
        allowEvolution))
    // step 1: the new base, one file per shard — repartition on the
    // shard key is the ONLY shuffle, sized by shard count not data.
    // sortCols: optional within-shard clustering (e.g. the LSH layout's
    // tb sort, so row-group min/max stats keep carrying the residual
    // probe filter across generation folds) — a per-partition sort, no
    // extra exchange. The sort MUST lead with the dynamic-partition
    // column: the partitioned writer requires its output ordered by
    // shard_id and would insert its OWN sort otherwise, leaving the
    // secondary clustering to survive only by sort-stability accident.
    // Prefixing shard_id satisfies the writer's requirement, so the
    // clustering within each shard file is guaranteed by contract.
    import org.apache.spark.sql.functions.col
    // reshard AFTER tombstone application (deletes are key-based, shard-
    // agnostic) and BEFORE the exchange, so the repartition distributes
    // by the NEW assignment
    val shaped = reshard.fold(corpus)(f => f(corpus))
    val folded = shaped.repartition(numShards, col("shard_id"))
    val clustered =
      if (sortCols.isEmpty) folded
      else folded.sortWithinPartitions(("shard_id" +: sortCols).map(col): _*)
    // retainSnapshots > 0 keeps that many OLDER generations readable
    // ([[readCorpusAsOf]]) — the table-format snapshot-retention
    // discipline that makes "train on the corpus exactly as it was at
    // snapshot g" reproducible.
    // steps 1-4 (stage → claim by rename → pointer swap → GC) under the
    // concurrent-maintainer guard — see the object scaladoc. Applied
    // tombstones fold away too: only the CAPTURED batches (a delete
    // landed mid-fold was not applied and must survive to apply
    // logically / at the next fold)
    commitGeneration(view, outDir, conf, retainSnapshots, gcGraceMs,
      tombstones = tsBatches) { staging =>
      val w = clustered
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile)
      (if (shardDirs) w.partitionBy("shard_id") else w).parquet(staging)
      extraStage(staging)
    }
  }

  /** Post-commit GC sweep by predicate, run by every generation commit
    * and every roll-forward adoption. Keeps the
    * current generation AND every retained snapshot in the manifest's
    * history. */
  private[streaming] def gcFolded(outDir: String, man: Manifest,
      conf: Configuration, graceMs: Long = 0L): Unit = {
    val f = fs(outDir, conf)
    val now = System.currentTimeMillis()
    // graceMs > 0: leave folded delta dirs younger than the grace on
    // disk — a DETACHED maintainer GCs while ingest read-backs and
    // concurrent serve plans may still be executing over those dirs.
    // Correctness never depends on the sweep (readers filter deltas by
    // the committed watermark), so a lingering folded dir is only disk
    // debris, swept by any later fold once aged past the grace.
    listDeltaBatches(outDir, conf).filter(_ <= man.maxFoldedBatch)
      .map(id => new Path(outDir, s"batch=$id"))
      .foreach { p =>
        // a concurrent maintainer sweeping the same aged dir between our
        // listing and this status call must read as already-swept (skip),
        // not fail the fold — exists-then-stat is not atomic
        try {
          if (graceMs <= 0L ||
              now - f.getFileStatus(p).getModificationTime > graceMs)
            f.delete(p, true)
          ()
        } catch {
          case _: java.io.FileNotFoundException => ()
        }
      }
    // keep-set: OURS ∪ the freshly re-read pointer's — a stalled winner
    // running its GC after a successor already committed must not sweep
    // the successor's generations (the pointer may have moved past us)
    val cur = readManifest(outDir, conf)
    val keep = ((man.history.map(_._1) :+ man.gen) ++
      cur.toSeq.flatMap(c => c.history.map(_._1) :+ c.gen))
      .map(g => s"base_gen=$g").toSet
    val root = new Path(outDir)
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("base_gen=") &&
        !keep(st.getPath.getName))
      .foreach(st => f.delete(st.getPath, true))
    // crashed landers' `_landing_` staging debris, same TTL discipline
    sweepLandingDebris(outDir, conf)
    sweepLandingDebris(tombstoneRoot(outDir), conf)
    // dead staging: targets a slot at-or-under the committed pointer
    // (its claim can never succeed) AND old enough that its owner is
    // gone — an ACTIVE racer must lose at its own rename, not by having
    // files yanked from under its writer
    val sRoot = stagingRoot(outDir)
    if (f.exists(sRoot)) {
      val ceiling = cur.map(_.gen).getOrElse(man.gen)
      val now = System.currentTimeMillis()
      f.listStatus(sRoot).toSeq
        .filter { st =>
          st.getPath.getName.stripPrefix("gen=").takeWhile(_ != '.')
            .toLongOption.exists(_ <= ceiling) &&
            now - st.getModificationTime > StagingTtlMs
        }
        .foreach(st => f.delete(st.getPath, true))
    }
  }

  /** Time travel: the corpus EXACTLY as committed at snapshot `gen` —
    * the retained base generation, self-contained (every batch ≤ its
    * fold watermark, tombstones known at its fold already applied).
    * Deltas and tombstones landed after the snapshot's commit postdate
    * it by definition and are not applied. Requires the generation to
    * be the current one or inside the manifest's retained history. */
  def readCorpusAsOf(spark: SparkSession, outDir: String, gen: Long): DataFrame = {
    val man = readManifest(outDir, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalStateException(
        s"no committed compaction under $outDir — nothing to time-travel to"))
    require(man.gen == gen || man.history.exists(_._1 == gen),
      s"snapshot $gen not retained under $outDir (current ${man.gen}, " +
        s"retained ${man.history.map(_._1).mkString("[", ",", "]")}) — " +
        "compact with retainSnapshots > 0 to keep history readable")
    spark.read.parquet(genDir(outDir, gen))
  }
}
