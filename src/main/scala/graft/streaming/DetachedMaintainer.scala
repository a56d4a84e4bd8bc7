package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask,
  LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Runs maintenance ACTs OFF the ingest path — the scale piece the
  * round-13 lifecycle gate was missing. The detect→decide→act loop's
  * economics are asymmetric and MEASURED (SCALE.md third-decade tables):
  * the DECIDE is metadata reads + one parquet count, flat at ~0.12 s
  * across two corpus decades — safe to run every micro-batch — but the
  * ACT is the index build's own cost class and rides the corpus (1.96 s
  * at 1× → 16 s at 10× → 190 s at 100×). Run synchronously inside
  * `foreachBatch`, one pressure event stalls the trigger cadence — and
  * every concurrent sibling stream — for minutes at production scale.
  *
  * This maintainer decouples them. The ingest loop keeps the DECIDE
  * inline and, when pressure fires, SUBMITS the ACT here instead of
  * running it; the ingest's next trigger proceeds immediately. While the
  * ACT stages its rebuild off-path:
  *  - ingest keeps landing deltas — the ACT's fold captured its delta
  *    set at start, so later landings stay above the committed watermark
  *    ([[DeltaCompact]]'s forward-landing guarantee, made safe under
  *    concurrency by [[DeltaCompact.atomicLandDir]]: every directory a
  *    capture lists is complete by construction);
  *  - serves keep reading the OLD generation — readers go through the
  *    pointer manifest, which moves only at the ACT's commit rename
  *    (the generation claim protocol, DeltaCompact.scala);
  *  - the swap is atomic, so the first serve after the commit reads the
  *    new generation with its tombstones reclaimed — bit-identical to
  *    what the synchronous ACT would have published
  *    (DetachedMaintainerSpec pins all three properties with an
  *    artificially slowed ACT).
  *
  * Concurrency contract: AT MOST ONE in-flight ACT per tree. The DECIDE
  * keeps firing while pressure persists (tombstones are only GC'd when
  * the ACT commits), so without the guard every subsequent batch would
  * pile up redundant rebuilds that lose the generation claim anyway;
  * [[submit]] simply refuses while the tree's ACT runs. Across
  * PROCESSES the generation claim remains the guard — a detached ACT
  * racing an external maintainer degrades to one clean
  * [[ConcurrentCompactionException]], which this class treats as a
  * clean abort (the winner did the work), never a failure.
  *
  * Failure contract: an ACT that fails for any OTHER reason is held and
  * rethrown at the tree's next [[submit]] or [[await]] — maintenance
  * errors must surface on the ingest path that depends on them, not
  * vanish into a background thread's stderr.
  *
  * Resource contract: at most `maxConcurrentActs` ACTs RUN at once
  * across all trees — a driver managing many trees (the multi-tenant
  * 100 TB shape) must not let N simultaneous build-cost rebuilds compete
  * with ingest for cluster resources. ACTs past the cap queue FIFO in
  * submission order and stay "in flight" for every other contract:
  * [[isBusy]] is true while queued (so DECIDEs keep no-opping instead of
  * piling duplicates), [[await]] blocks through the queue, and a queued
  * ACT's failure propagates exactly like a running one's. The default is
  * deliberately small: one ACT is the single-maintainer cadence, two
  * lets a second tree's maintenance overlap the first's long rebuild
  * (the `q_hybrid_lifecycle` lexical + semantic pair) without unbounded
  * fan-out. */
final class DetachedMaintainer(namePrefix: String = "graft-maint",
    maxConcurrentActs: Int = 2)
    extends AutoCloseable {

  require(maxConcurrentActs >= 1,
    s"maxConcurrentActs must be >= 1, got $maxConcurrentActs")

  private val seq = new AtomicLong(0)
  // fixed pool = the concurrency cap; its unbounded FIFO work queue is
  // bounded in practice by at-most-one-in-flight-per-tree (≤ one queued
  // task per tree this maintainer touches, never a runaway backlog).
  // The threads start HERE, on the constructing thread: a thread inherits
  // Spark's local properties from the thread that creates it, and a pool
  // thread created lazily by a submit inside `foreachBatch` would carry
  // that stream's job group, so the stream's stop() would cancel whatever
  // ACT job was running on it.
  private val pool = new ThreadPoolExecutor(maxConcurrentActs, maxConcurrentActs,
    0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](),
    new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$namePrefix-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  pool.prestartAllCoreThreads()
  private val inFlight = new ConcurrentHashMap[String, FutureTask[Unit]]()
  // submission epoch-ms while the tree's ACT is still WAITING for a pool
  // slot — cleared by the ACT the instant it starts running. Operators
  // distinguishing "slow ACT" from "ACT starved behind the cap" (the
  // fixed-pool behavior change's observability cost) read [[queuedSinceMs]]
  // or the one-line start log below.
  private val queuedAt = new ConcurrentHashMap[String, java.lang.Long]()

  /** Submit `act` for `tree` unless one is already in flight there.
    * Returns true iff the ACT was accepted (the DECIDE's "fired"
    * signal). If the tree's PREVIOUS act failed (other than losing a
    * generation claim), rethrows that failure here instead of silently
    * retrying over a tree in an unknown state. */
  def submit(tree: String)(act: () => Unit): Boolean = {
    val submitMs = System.currentTimeMillis()
    val boxed = java.lang.Long.valueOf(submitMs)
    val task = new FutureTask[Unit](() => {
      queuedAt.remove(tree, boxed)
      val waitedMs = System.currentTimeMillis() - submitMs
      // surface a starved start: a queue wait of the ACT's own cost class
      // means another tree's rebuild held the slot — without this line a
      // delayed reclaim is indistinguishable from a slow rebuild
      if (waitedMs >= 1000L)
        System.err.println(
          s"[graft-maint] act for $tree waited ${waitedMs} ms for a pool " +
            s"slot (cap $maxConcurrentActs) before starting")
      act()
    }, ())
    def accept(): Boolean = {
      queuedAt.put(tree, boxed)
      pool.execute(task)
      true
    }
    val prev = inFlight.putIfAbsent(tree, task)
    if (prev == null) accept()
    else if (!prev.isDone) false
    else {
      propagate(tree, prev) // clears the finished slot; rethrows a held failure
      if (inFlight.putIfAbsent(tree, task) == null) accept()
      else false // lost the slot to a concurrent submitter on OUR side
    }
  }

  /** Whether `tree` has an ACT in flight. */
  def isBusy(tree: String): Boolean =
    Option(inFlight.get(tree)).exists(!_.isDone)

  /** Epoch-ms at which `tree`'s in-flight ACT was submitted, while it is
    * still queued behind the `maxConcurrentActs` cap — None once it is
    * actually running (or when the tree is idle). The cheap probe for
    * "is my reclaim starved or just slow": `isBusy && queuedSinceMs
    * .nonEmpty` = waiting for a slot; `isBusy && queuedSinceMs.isEmpty`
    * = genuinely rebuilding. */
  def queuedSinceMs(tree: String): Option[Long] =
    if (!isBusy(tree)) None else Option(queuedAt.get(tree)).map(_.longValue)

  /** Block until `tree`'s in-flight ACT (if any) completes; rethrow its
    * failure unless it was a clean lost-claim abort. The quiesce point —
    * call before an end-of-run fold or before handing the tree to
    * another maintainer. */
  def await(tree: String): Unit = {
    val t = inFlight.get(tree)
    if (t != null) propagate(tree, t)
  }

  /** [[await]] every tree this maintainer has touched. */
  def awaitAll(): Unit = {
    val keys = java.util.Collections.list(inFlight.keys())
    keys.forEach(await(_))
  }

  /** Block on `t`, then clear its slot. A lost generation claim is a
    * clean abort (an external maintainer won and did the work — pressure
    * is relieved either way); any other failure rethrows. */
  private def propagate(tree: String, t: FutureTask[Unit]): Unit =
    try { t.get(); inFlight.remove(tree, t); () }
    catch {
      case e: ExecutionException =>
        inFlight.remove(tree, t)
        e.getCause match {
          case _: ConcurrentCompactionException => ()
          case real => throw real
        }
    }

  /** Shut the pool down. In-flight ACTs are interrupted — close only
    * after [[awaitAll]] unless abandoning the trees is intended (their
    * staged generations are invisible to readers and TTL-swept). */
  def close(): Unit = { pool.shutdownNow(); () }
}
