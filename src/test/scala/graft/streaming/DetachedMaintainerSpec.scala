package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The maintenance ACT, DETACHED from the ingest path — round 13's one
  * `weak` closed. The ACT is artificially held open (the `beforeAct`
  * latch: a stand-in for the 190 s reclaim rebuild SCALE.md measures at
  * the 100× corpus) and, while it blocks, the spec proves the three
  * properties the synchronous gate could not:
  *  (a) CADENCE — later ingest batches land and are readable while the
  *      ACT runs (the fold captured its deltas at start; forward
  *      landings stay above the watermark, atomically published);
  *  (b) SERVE ISOLATION — serves during the ACT read the OLD committed
  *      generation (the pointer manifest moves only at the ACT's claim
  *      rename) and logical deletes still apply via the live read;
  *  (c) EQUIVALENCE — the post-swap serve is bit-identical to the
  *      synchronous composition's result (the batch build over the
  *      survivors of everything landed).
  * Plus the maintainer's own contract: at-most-one in-flight ACT per
  * tree, lost generation claims are clean aborts, real failures
  * resurface on the submitting path. */
class DetachedMaintainerSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def emb: DataFrame =
    Tables.embeddings(spark, sf)
      .withColumn("doc_id", col("vec_id"))
      .select("doc_id", "vec_id", "label", "embedding")

  private def postingSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("tb"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH reclaim detached: ingest cadence continues, serves stay on the " +
    "old generation, post-swap serve ≡ the synchronous composition") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val corpusDir = tmp("graft_dm_corpus")
    val idxDir = tmp("graft_dm_idx")
    val m = new DetachedMaintainer("dm-spec-lsh")
    try {
      // two landed batches + posting deltas at the registry geometry
      (0 until 2).foreach { i =>
        val b = emb.filter(col("vec_id") % 3 === i)
        StreamLshIngest.ingestAndLand(b, corpusDir, idxDir, i.toLong)
      }
      // a ~1/7 takedown on both trees — pressure over the 5% floor
      val doomed = DeltaCompact.readCorpus(s, corpusDir)
        .filter(col("vec_id") % 7 === 3).select(col("vec_id")).localCheckpoint()
      DeltaCompact.landTombstones(doomed, corpusDir, 0L, watermark = Some(1L))
      StreamLshIngest.landTombstones(
        doomed.select(col("vec_id").as("neighbor_id")), idxDir, 0L,
        watermark = Some(1L))

      // hold the ACT open: it "runs" for as long as this spec needs —
      // the injected stand-in for a multi-trigger-interval rebuild
      val actStarted = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val fired = AnnMaintenance.lshStep(s, corpusDir, idxDir, m,
        autoSize = false,
        beforeAct = () => {
          actStarted.countDown()
          assert(release.await(600, TimeUnit.SECONDS), "spec never released the ACT")
        })
      assert(fired, "tombstone pressure must fire the detached ACT")
      assert(actStarted.await(300, TimeUnit.SECONDS), "the ACT never started")
      assert(m.isBusy(idxDir))

      // (a) CADENCE: batch 2 lands on both trees WHILE the ACT blocks —
      // the ingest loop is not stalled by the running rebuild
      val b2 = emb.filter(col("vec_id") % 3 === 2)
      StreamLshIngest.ingestAndLand(b2, corpusDir, idxDir, 2L)
      assert(m.isBusy(idxDir), "the ACT must still be running after the land")

      // while one ACT is in flight, the next DECIDE is a cheap no-op —
      // no redundant rebuild piles up behind the running one
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m,
        autoSize = false))

      // (b) SERVE ISOLATION: the pointer has not moved (no generation
      // was ever committed on this tree), and a live serve over the OLD
      // state sees all three landed batches minus the logical delete
      assert(DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration).isEmpty,
        "the swap must not happen before the ACT commits")
      // survivors: the takedown named only keys landed in batches 0-1
      // (doomed was computed from the corpus as of batch 1), so batch-2
      // vectors with the same id pattern are NOT deleted — the sequence
      // rule, visible here
      val survivors = emb.filter(
        col("vec_id") % 3 === 2 || col("vec_id") % 7 =!= 3)
      val expectDuring = postingSet(Similarity.lshPostings(survivors))
      assert(postingSet(StreamLshIngest.readPostingsLive(s, idxDir)) ===
        expectDuring,
        "serves during the ACT must read the old generation + logical deletes")

      // release the ACT and quiesce
      release.countDown()
      m.await(idxDir)
      assert(!m.isBusy(idxDir))

      // (c) EQUIVALENCE: the committed generation serves exactly what the
      // synchronous composition over everything landed would — survivors
      // of all three batches, physically reclaimed, registry geometry
      val man = DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration)
      assert(man.nonEmpty, "the ACT's commit must have swapped the pointer")
      assert(StreamLshIngest.readGeometry(s, idxDir) ===
        StreamLshIngest.DefaultGeometry)
      assert(postingSet(StreamLshIngest.readPostings(s, idxDir)) ===
        postingSet(Similarity.lshPostings(survivors)),
        "post-swap serve must equal the batch build over survivors")

      // pressure relieved: applied tombstones are grace-retained on disk
      // (concurrent readers' plans survive) but PENDING-empty, so the
      // DECIDE does not re-fire
      assert(DeltaCompact.listPendingTombstoneBatches(idxDir,
        s.sparkContext.hadoopConfiguration).isEmpty)
      assert(!AnnMaintenance.lshStep(s, corpusDir, idxDir, m,
        autoSize = false))
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("BM25 rebuild detached: ingest cadence continues, the old index " +
    "serves until the swap, post-swap merge ≡ batch build over survivors") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val out = tmp("graft_dm_bm25")
    val m = new DetachedMaintainer("dm-spec-bm25")
    try {
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
      (0 until 2).foreach { i =>
        StreamBm25Ingest.ingestStep(
          docs.filter(col("doc_id") % 3 === i), out, i.toLong)
      }
      assert(!StreamBm25Ingest.maintainIndex(s, out, m)) // no pressure

      DeltaCompact.landTombstones(
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")),
        s"$out/docs", 0L, watermark = Some(1L))

      val actStarted = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val fired = StreamBm25Ingest.maintainIndex(s, out, m,
        beforeAct = () => {
          actStarted.countDown()
          assert(release.await(600, TimeUnit.SECONDS), "spec never released the ACT")
        })
      assert(fired, "pending tombstones must fire the detached rebuild")
      assert(actStarted.await(300, TimeUnit.SECONDS))

      // (a) CADENCE: a post-takedown batch (never contained deleted docs)
      // lands while the rebuild blocks
      val more = docs.filter(col("doc_id") % 3 === 2 && col("doc_id") % 7 =!= 3)
      StreamBm25Ingest.ingestStep(more, out, 2L)
      assert(m.isBusy(out))
      assert(!StreamBm25Ingest.maintainIndex(s, out, m)) // busy → no-op

      // (b) SERVE ISOLATION: no index generation committed yet — the
      // merge still reads the landed partials (the delete's effect waits
      // for the rebuild, the documented capped-aggregate semantics)
      assert(DeltaCompact.readManifest(s"$out/idx",
        s.sparkContext.hadoopConfiguration).isEmpty)
      val preSwap = StreamBm25Ingest.mergeIndexes(s, out)
      assert(preSwap.filter(col("doc_id") % 7 === 3).count() > 0,
        "pre-swap the old index still carries the doomed docs (delete " +
          "applies at the rebuild for a capped aggregate)")

      release.countDown()
      m.await(out)

      // (c) EQUIVALENCE vs the batch build over everything landed minus
      // the takedown — regardless of where the rebuild's capture fell,
      // base + surviving deltas merge to the same index
      val live = docs.filter(col("doc_id") % 3 < 3 && col("doc_id") % 7 =!= 3)
        .localCheckpoint()
      val got = graft.operators.TextAnalysis.bm25Serve(
        StreamBm25Ingest.mergeIndexes(s, out), live).collect().toSet
      val expect = graft.operators.TextAnalysis.bm25Serve(
        graft.operators.TextAnalysis.bm25Index(
          graft.operators.TextAnalysis.bm25Partial(
            graft.operators.TextAnalysis.bm25Postings(live))), live)
        .collect().toSet
      assert(got === expect,
        "detached rebuild + merge diverged from the batch build over survivors")
      assert(!StreamBm25Ingest.maintainIndex(s, out, m)) // quiet again
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("codebook drift refresh detached: drifted batches keep assigning " +
    "against the old codebook while the retrain runs; the cut-over heals") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.functions.avg
    def vecs(from: Int, until: Int, label: Int => Int): DataFrame = {
      import s.implicits._
      (from until until).map { i =>
        val l = label(i)
        (i.toLong, i.toLong, l,
          Array.tabulate(8)(j => if (j == l) 1f else (i % 7) * 0.01f))
      }.toDF("doc_id", "vec_id", "label", "embedding")
    }
    def agreement(df: DataFrame): Double =
      df.agg(avg(col("matches_label").cast("double"))).head().getDouble(0)

    val base = Files.createTempDirectory("graft_dm_cb").toFile.getAbsolutePath
    val (corpusDir, idxDir) = (s"$base/corpus", s"$base/idx")
    val m = new DetachedMaintainer("dm-spec-cb")
    try {
      // bootstrap is synchronous by definition (nothing to serve yet)
      val (_, boot) = AnnMaintenance.step(
        vecs(0, 40, _ % 4), corpusDir, idxDir, 0L, m)
      assert(boot)
      // healthy batch: no ACT
      val (a1, f1) = AnnMaintenance.step(
        vecs(40, 80, _ % 4), corpusDir, idxDir, 1L, m)
      assert(!f1 && agreement(a1) === 1.0)

      // drifted batch fires the DETACHED retrain; hold it open
      val actStarted = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val (a2, f2) = AnnMaintenance.step(
        vecs(80, 120, _ => 4), corpusDir, idxDir, 2L, m,
        beforeAct = () => {
          actStarted.countDown()
          assert(release.await(600, TimeUnit.SECONDS))
        })
      assert(f2, "drift must fire the detached retrain")
      assert(agreement(a2) === 0.0,
        "the assignment is against the codebook the batch arrived under")
      assert(actStarted.await(300, TimeUnit.SECONDS))

      // cadence + old-codebook isolation: the NEXT drifted batch lands
      // and assigns while the retrain still runs — against the OLD
      // codebook, and without piling a second ACT behind the first
      val (a3, f3) = AnnMaintenance.step(
        vecs(120, 160, _ => 4), corpusDir, idxDir, 3L, m)
      assert(!f3, "at-most-one-in-flight: no second ACT while one runs")
      assert(agreement(a3) === 0.0, "still the old codebook until the cut-over")
      assert(m.isBusy(idxDir))

      release.countDown()
      m.await(idxDir)

      // post-cut-over: the same drifted distribution is now healthy
      val (a4, f4) = AnnMaintenance.step(
        vecs(160, 200, _ => 4), corpusDir, idxDir, 4L, m)
      assert(!f4, "the refresh healed the distribution — no further ACT")
      assert(agreement(a4) === 1.0)
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("detached commit retains the superseded generation: a serve plan " +
    "pinned on the old base survives the swap (retainSnapshots >= 1)") {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val corpusDir = tmp("graft_dm_ret_corpus")
    val idxDir = tmp("graft_dm_ret_idx")
    val m = new DetachedMaintainer("dm-spec-retain")
    try {
      (0 until 2).foreach { i =>
        val b = emb.filter(col("vec_id") % 3 === i)
        StreamLshIngest.ingestAndLand(b, corpusDir, idxDir, i.toLong)
      }
      // generation 0 commits SYNCHRONOUSLY (pre-maintenance baseline)
      StreamLshIngest.refreshGeometry(s, corpusDir, idxDir,
        bitsOverride = Some(StreamLshIngest.DefaultGeometry.bits))
      val gen0 = DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration).get
      assert(gen0.gen === 0L)

      // a serve whose plan resolved its file paths against generation 0 —
      // the reader the detached commit races. Its manifest read happened
      // at CONSTRUCTION; execution comes after the swap below.
      val pinned = StreamLshIngest.readPostings(s, idxDir)

      // takedown pressure → the DETACHED reclaim (default retention)
      val doomed = DeltaCompact.readCorpus(s, corpusDir)
        .filter(col("vec_id") % 7 === 3).select(col("vec_id")).localCheckpoint()
      DeltaCompact.landTombstones(doomed, corpusDir, 0L, watermark = Some(1L))
      StreamLshIngest.landTombstones(
        doomed.select(col("vec_id").as("neighbor_id")), idxDir, 0L,
        watermark = Some(1L))
      assert(AnnMaintenance.lshStep(s, corpusDir, idxDir, m,
        autoSize = false))
      m.await(idxDir)

      val man = DeltaCompact.readManifest(idxDir,
        s.sparkContext.hadoopConfiguration).get
      assert(man.gen === 1L)
      // the superseded generation is RETAINED: in the history, on disk
      assert(man.history === Seq((0L, 1L)))
      assert(man.retain === 1)
      assert(new java.io.File(s"$idxDir/base_gen=0").exists(),
        "the detached commit must not GC the base a reader may be mid-plan on")
      // the pinned pre-swap plan still executes, and serves EXACTLY the
      // old generation's content (all postings — the takedown postdates
      // gen 0's build)
      assert(postingSet(pinned) ===
        postingSet(Similarity.lshPostings(emb.filter(col("vec_id") % 3 < 2))),
        "a serve pinned on the superseded generation must survive the swap")
      // the NEW generation reclaimed the takedown
      assert(postingSet(StreamLshIngest.readPostings(s, idxDir)) ===
        postingSet(Similarity.lshPostings(
          emb.filter(col("vec_id") % 3 < 2 && col("vec_id") % 7 =!= 3))))
    } finally {
      m.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }
  }

  test("concurrency cap: with maxConcurrentActs = 1, ACTs submitted to " +
    "three trees run strictly serialized, all complete, failures propagate") {
    val m = new DetachedMaintainer("dm-spec-cap", maxConcurrentActs = 1)
    try {
      val running = new java.util.concurrent.atomic.AtomicInteger(0)
      val peak = new java.util.concurrent.atomic.AtomicInteger(0)
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val gate = new CountDownLatch(1)
      def act(tree: String): () => Unit = () => {
        assert(gate.await(300, TimeUnit.SECONDS))
        val n = running.incrementAndGet()
        peak.getAndUpdate(p => math.max(p, n))
        order.add(tree)
        Thread.sleep(30)
        running.decrementAndGet()
        if (tree == "t3") throw new IllegalStateException("t3 act broke")
      }
      // all three accepted immediately — queuing is invisible to the
      // DECIDE ("fired" = the pressure is being handled), and each tree
      // reads busy while its ACT waits for a slot
      assert(m.submit("t1")(act("t1")))
      assert(m.submit("t2")(act("t2")))
      assert(m.submit("t3")(act("t3")))
      assert(m.isBusy("t1") && m.isBusy("t2") && m.isBusy("t3"))
      // at-most-one-per-tree holds for QUEUED acts too
      assert(!m.submit("t2")(() => fail("must not run")))
      // queue-wait visibility (the round-16 ADVICE observability ask):
      // the RUNNING act's marker clears the instant it starts, the
      // queued ones' persist — "starved behind the cap" and "slow
      // rebuild" are distinguishable without thread dumps
      val deadline = System.nanoTime() + 5000000000L
      while (m.queuedSinceMs("t1").nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(m.queuedSinceMs("t1").isEmpty,
        "a running ACT must not read as queued")
      assert(m.queuedSinceMs("t2").nonEmpty && m.queuedSinceMs("t3").nonEmpty,
        "ACTs waiting for the cap slot must surface their queue wait")
      gate.countDown()
      m.await("t1"); m.await("t2")
      // cap 1 ⇒ never two ACTs running at once, FIFO submission order
      assert(peak.get() === 1, s"cap 1 must serialize, saw peak ${peak.get()}")
      assert(order.toArray(Array.empty[String]).toSeq === Seq("t1", "t2", "t3"))
      // a queued-then-run ACT's failure propagates exactly like a
      // running one's
      val e = intercept[IllegalStateException](m.await("t3"))
      assert(e.getMessage === "t3 act broke")
      assert(m.submit("t3")(() => ())) // tree usable again after surfacing
      m.awaitAll()
    } finally m.close()
  }

  test("maintainer contract: one in-flight ACT per tree, lost claims abort " +
    "cleanly, real failures resurface at the next submit") {
    val m = new DetachedMaintainer("dm-spec-contract")
    try {
      // at-most-one: second submit while the first blocks is refused
      val release = new CountDownLatch(1)
      assert(m.submit("t1")(() => release.await(60, TimeUnit.SECONDS)))
      assert(!m.submit("t1")(() => fail("must not run")))
      assert(m.isBusy("t1"))
      release.countDown()
      m.await("t1")
      assert(!m.isBusy("t1"))

      // a lost generation claim is a CLEAN abort: the external winner did
      // the work, so the next submit is accepted without complaint
      assert(m.submit("t1")(() =>
        throw new ConcurrentCompactionException("lost the slot")))
      m.await("t1") // must not throw
      assert(m.submit("t1")(() => ()))
      m.await("t1")

      // any other failure is HELD and rethrown on the path that depends
      // on the maintenance — the next submit (or await), never swallowed
      assert(m.submit("t1")(() => throw new IllegalStateException("act broke")))
      val e = intercept[IllegalStateException] {
        m.await("t1")
        m.submit("t1")(() => ())
      }
      assert(e.getMessage === "act broke")
      // after surfacing once, the tree is usable again
      assert(m.submit("t1")(() => ()))
      m.awaitAll()
    } finally m.close()
  }

  test("an ACT submitted from foreachBatch survives the stream's stop()") {
    // the ACT's job is running when the stream that submitted it stops;
    // StreamExecution.stop() cancels the stream's job group, which must
    // not be the ACT's
    DetachedMaintainerSpec.started = new CountDownLatch(1)
    DetachedMaintainerSpec.release = new CountDownLatch(1)
    val m = new DetachedMaintainer("dm-spec-stop")
    try {
      val q = spark.readStream.format("plan-gen")
        .option("plan", "sequence = [ { type = fixed, value = 3, rate = 10, duration = 1 } ]")
        .load()
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          m.submit("t")(() => spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
            DetachedMaintainerSpec.started.countDown()
            DetachedMaintainerSpec.release.await(60, TimeUnit.SECONDS)
            ()
          })
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(DetachedMaintainerSpec.started.await(60, TimeUnit.SECONDS), "ACT job never started")
      } finally q.stop()
      DetachedMaintainerSpec.release.countDown()
      m.await("t") // throws if the stop cancelled the ACT's job
    } finally {
      DetachedMaintainerSpec.release.countDown()
      m.close()
    }
  }
}

object DetachedMaintainerSpec {
  // reached from inside a local-mode task: an object's fields are static,
  // so the closure does not serialize the latches
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}
