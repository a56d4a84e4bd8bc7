package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SessionTuning
import graft.functions.Hanoi

/** One benchmark run in a fresh JVM (see perfbench/README.md).
  *
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <benchDir>
  *   perfbench.Main record <benchDir>
  *
  * `run` prints two lines on stdout: `PERFBENCH_LOG {json}` with the setup
  * steps, and `PERFBENCH_RESULT {json}` with the verdict and metrics. */
object Main {

  val Cores = 4
  val Workloads = Seq("paced", "drain")

  // drain: the reference rate, 40 plan-seconds (2 M rows) per trigger, so
  // per-row work outweighs the ~200 ms a trigger costs; four triggers a drain
  val DrainRate = 50000
  val DrainMaxRows = 40L * DrainRate
  val DrainSeconds = 160
  /** A run measures a fixed number of drains, `seconds / DrainS` (three
    * at 20 s, ~10 s on a quiet host), so a slow host gets no fewer
    * samples and every run sees the same warming trend. */
  val DrainS = 6
  // paced: one plan-second per slot; a trigger costs about 250 ms on four
  // cores, so a 600 ms slot keeps the query under 60 % busy even with 10 %
  // host CPU steal, where a 400 ms slot queued and doubled the tail
  val SlotMs = 600L
  val PacedRate = 10000
  /** Plan-seconds at the start of the measured paced query that are not
    * sampled: its first batch also creates the query's logs and plans it
    * afresh (~650 ms against ~250), which delays the next one or two. */
  val LeadIn = 3
  /** The tail percentile reported: the highest that the 33 sampled paced
    * batches of a 20 s run support (29 needed; p75 needs 40). */
  val TailPercentile = 65.0
  val Tail = s"p${TailPercentile.toInt}"
  // inputs, relative to the benchmark's directory
  val DataDir = "data/sf0.001"
  val ExpectedFile = "expected/operators_sf0.001.json"

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: w :: seed :: seconds :: trace :: benchDir :: Nil if Workloads.contains(w) =>
      val out = new Run(w, seed.toLong, seconds.toInt, trace == "1", benchDir).execute()
      println("PERFBENCH_LOG " + Json(out._1))
      println("PERFBENCH_RESULT " + Json(out._2))
    case "record" :: benchDir :: Nil =>
      record(Paths.get(benchDir, DataDir).toString, Paths.get(benchDir, ExpectedFile).toString)
    case _ =>
      System.err.println("usage: perfbench.Main run <paced|drain> <seed> <seconds> <0|1> <benchDir>\n" +
        "       perfbench.Main record <benchDir>")
      sys.exit(2)
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    SessionTuning.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Writes the expected row count and content hash of every query of the
    * operators pass. A hash that differs between two evaluations is wall-clock
    * output and is recorded as null: only its row count is checked. */
  def record(data: String, file: String): Unit = {
    val spark = session(Cores)
    val counter = new Registry.StartCounter
    spark.streams.addListener(counter)
    val entries = Registry.firstOfEachModule.flatMap { n =>
      try {
        val (df, streaming) = Registry.buildWatched(spark, counter, Registry.byName(n), data)
        if (streaming) None
        else {
          val (rows, h1) = Registry.fingerprint(df)
          val (_, h2) = Registry.fingerprint(Registry.byName(n).build(spark, data))
          Some(n -> Map("rows" -> rows, "hash" -> (if (h1 == h2) h1 else null)))
        }
      } catch { case e: Exception if Registry.missingInput(e, data) => None }
    }
    Files.write(Paths.get(file), (Json(entries.toMap) + "\n").getBytes(StandardCharsets.UTF_8))
    stop(spark)
  }
}

/** One measurement's end-to-end figures; operations attempted, failed, and
  * failed for a wrong result; the sink time of each streaming batch; when
  * (epoch ms) its first measured operation began; and details for the
  * run's log. */
final case class Measured(
    latencyMs: Seq[Double], rowsS: Double,
    attempted: Int, failed: Int, wrong: Int, sinkMs: Seq[Double], startMs: Double, detail: Map[String, Any])

/** The operators pass of a traced drain run: each module's wall, the
  * listeners' totals over the timed queries, and the queries attempted,
  * failed, and failed for a wrong result. */
final case class OperatorsPass(
    moduleWallS: Map[String, Double], totals: Totals, planningMs: Double,
    attempted: Int, failed: Int, wrong: Int)

/** A single run: set-up, then the untraced measurement; when traced, also
  * a measurement under the listeners, a second untraced one, direct calls
  * into the layers, and (drain) the operators pass. */
final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean, benchDir: String) {
  import Main._

  private val data = Paths.get(benchDir, DataDir).toString
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val mainMs = System.currentTimeMillis()
  private var spark: SparkSession = _
  private val log = mutable.LinkedHashMap.empty[String, Any]

  private def since(ms: Long): Double = (System.currentTimeMillis() - ms) / 1000.0

  def execute(): (Map[String, Any], Map[String, Any]) = {
    log("jvm_to_main_s") = (mainMs - jvmStartMs) / 1000.0
    spark = session(Cores)
    val sessionS = since(mainMs)
    log("session_s") = sessionS
    val warm0 = System.currentTimeMillis()
    workload match {
      case "paced" => warmPaced()
      case "drain" => warmDrain()
    }
    val warmupS = since(warm0)
    log("warmup_s") = warmupS

    def measure(): Measured = if (workload == "paced") measurePaced() else measureDrain()
    val steal0 = HostCpu.steal()
    val untraced = measure()
    // set-up ends where the first measured operation begins; for paced
    // that is after the measured query's unsampled lead-in
    val setupS = (untraced.startMs - jvmStartMs) / 1000
    log("setup_s") = setupS
    log ++= untraced.detail
    log("host_steal_pct") = HostCpu.stealPct(steal0, HostCpu.steal())
    val (metrics, attempted, failed, correct) =
      if (!traced) {
        log("latency_samples") = untraced.latencyMs.size
        log("latency_highest_supported_percentile") = Stats.highestSupported(untraced.latencyMs.size).getOrElse(0.0)
        (endToEnd(setupS, untraced), untraced.attempted, untraced.failed, untraced.wrong == 0)
      } else {
        // untraced, traced, untraced: the overhead is taken against the
        // mean of the runs either side, so a warming trend cancels out
        val tracer = new Tracer(spark)
        tracer.start()
        val t = try measure() finally tracer.stop()
        val after = measure()
        val ops = if (workload == "drain") Some(operatorsPass()) else None
        val m = layers(sessionS, warmupS, Seq(untraced, after), t, tracer, ops)
        val all = Seq(untraced, t, after)
        (m, all.map(_.attempted).sum + ops.map(_.attempted).sum, all.map(_.failed).sum + ops.map(_.failed).sum,
          all.map(_.wrong).sum + ops.map(_.wrong).sum == 0)
      }
    stop(spark)
    val result = Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap.from(
        metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    (log.toMap, result)
  }

  private def endToEnd(setupS: Double, m: Measured): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "latency_p50_ms" -> (Stats.percentile(m.latencyMs, 50), "ms"),
    s"latency_${Tail}_ms" -> (Stats.percentile(m.latencyMs, TailPercentile), "ms"),
    "rows_s" -> (m.rowsS, "rows/s"))

  // ---- streaming workloads -------------------------------------------

  private def drainPlan: StreamPlan = StreamPlan.seeded(seed, DrainSeconds, DrainRate)

  /** Fixed warm-up of the trigger path, on seed-independent plans: 32
    * one-second triggers back to back, then a short paced run. With eight,
    * the first ten measured batches still read ~30 % slower than the rest
    * while the JIT caught up. */
  private def warmPaced(): Unit = {
    Streams.drain(spark, StreamPlan.seeded(0L, 32, PacedRate), PacedRate)
    Streams.paced(spark, StreamPlan.seeded(0L, 3, PacedRate), SlotMs, "perfbench-warm")
  }

  /** Three drains of the measured size on a seed-independent plan: after
    * one, the next three still sped up from drain to drain (1.7 to 2.1 M
    * rows/s) while the JIT caught up. */
  private def warmDrain(): Unit =
    Seq.fill(3)(Streams.drain(spark, StreamPlan.seeded(0L, DrainSeconds, DrainRate), DrainMaxRows))

  private def measurePaced(): Measured = {
    val slots = (seconds * 1000L / SlotMs).toInt
    val r = Streams.paced(spark, StreamPlan.seeded(seed, slots + LeadIn, PacedRate), SlotMs, "perfbench-paced", LeadIn)
    Measured(r.latencyMs, r.rowsS, r.batches.size, r.failed, r.batches.count(!_.ok), r.batches.map(_.sinkMs),
      r.sampledFromMs,
      Map(
        "generator_late_ms_p50" -> Stats.percentile(r.generatorLateMs, 50),
        s"generator_late_ms_$Tail" -> Stats.percentile(r.generatorLateMs, TailPercentile),
        "generator_late_ms_max" -> r.generatorLateMs.maxOption.getOrElse(0.0),
        "latency_ms" -> r.latencyMs.map(l => math.round(l * 10) / 10.0)))
  }

  private def measureDrain(): Measured = {
    val startMs = Streams.nowMs()
    val runs = Seq.fill(math.max(1, seconds / DrainS))(Streams.drain(spark, drainPlan, DrainMaxRows))
    val batches = runs.flatMap(_.batches)
    // every batch holds DrainMaxRows rows, so the median batch gives the rate
    val batchMs = runs.flatMap(_.batchMs).toSeq
    val medianS = Stats.median(batchMs) / 1000
    Measured(batchMs, DrainMaxRows / medianS, batches.size, batches.count(!_.ok), batches.count(!_.ok),
      batches.map(_.sinkMs).toSeq, startMs,
      Map("drain_queries" -> runs.size, "drain_query_rows_s" -> runs.map(_.rowsS).toSeq))
  }

  // ---- operators layer -----------------------------------------------

  /** The operators layer, which neither streaming workload uses. The first
    * registry query of each module, in seeded order, is built once while a
    * `StreamingQueryListener` counts `onQueryStarted` (a build that starts
    * a streaming query is left out) and checked against its recorded row
    * count and content hash. Then each is timed once more, build plus a
    * noop write, under a tracer of its own. */
  private def operatorsPass(): OperatorsPass = {
    val counter = new Registry.StartCounter
    spark.streams.addListener(counter)
    val expected = Json.readExpected(Paths.get(benchDir, ExpectedFile))
    // name -> whether its checked result was right
    val checked = mutable.LinkedHashMap.empty[String, Boolean]
    val skipped = mutable.ArrayBuffer.empty[String]
    Registry.order(Registry.firstOfEachModule, seed).foreach { n =>
      try {
        val (df, streaming) = Registry.buildWatched(spark, counter, Registry.byName(n), data)
        if (streaming) skipped += s"$n:streaming"
        else {
          val (rows, hash) = Registry.fingerprint(df)
          checked(n) = expected.get(n).exists { case (r, h) => r == rows && h.forall(_ == hash) }
          if (!checked(n)) System.err.println(s"[operators] $n: got ($rows, $hash), expected ${expected.get(n)}")
        }
      } catch {
        case e: Exception if Registry.missingInput(e, data) && !expected.contains(n) =>
          skipped += s"$n:missing-input"
        case e: Exception =>
          checked(n) = false
          System.err.println(s"[operators] $n failed: $e")
      }
    }
    log("operators_queries") = checked.size
    log("operators_skipped") = skipped.toSeq
    val tracer = new Tracer(spark)
    tracer.start()
    val timed =
      try checked.toSeq.map { case (n, right) =>
        val a = System.nanoTime()
        val ok =
          try {
            val (df, streaming) = Registry.buildWatched(spark, counter, Registry.byName(n), data)
            Registry.force(df)
            !streaming
          } catch { case e: Exception => System.err.println(s"[operators] $n failed: $e"); false }
        (n, (System.nanoTime() - a) / 1e9, ok, right)
      } finally tracer.stop()
    spark.streams.removeListener(counter)
    OperatorsPass(
      timed.groupMapReduce(q => Registry.moduleOf(q._1))(_._2)(_ + _), tracer.all, tracer.planningMs.sum,
      timed.size, timed.count(q => !q._3 || !q._4), timed.count(!_._4))
  }

  // ---- traced run ----------------------------------------------------

  private def layers(
      sessionS: Double, warmupS: Double, untraced: Seq[Measured], t: Measured,
      tracer: Tracer, ops: Option[OperatorsPass]): Seq[(String, (Double, String))] = {
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(name: String, v: Double, unit: String): Unit = out += name -> (v, unit)
    def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)

    put("graft.session_s", sessionS, "s")
    put("graft.warmup_s", warmupS, "s")

    val s = tracer.streaming
    val triggers = tracer.progress.size
    val perTrigger = math.max(1, triggers).toDouble
    val triggerMs = tracer.durations("triggerExecution")
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    put("sources.latest_offset_ms_mean", mean(tracer.durations("latestOffset")), "ms")
    put("sources.records_read", tracer.all.recordsRead.toDouble, "count")
    put("streaming.triggers", triggers.toDouble, "count")
    put("streaming.trigger_ms_p50", p(triggerMs, 50), "ms")
    put(s"streaming.trigger_ms_$Tail", p(triggerMs, TailPercentile), "ms")
    // durationMs entries are whole milliseconds: their means keep the digits
    put("streaming.query_planning_ms_mean", mean(tracer.durations("queryPlanning")), "ms")
    put("streaming.add_batch_ms_mean", mean(tracer.durations("addBatch")), "ms")
    put("streaming.wal_commit_ms_mean", mean(tracer.durations("walCommit")), "ms")
    put("streaming.commit_ms_mean", mean(tracer.durations("commitOffsets")), "ms")
    put("streaming.sink_ms_p50", p(t.sinkMs, 50), "ms")
    put("streaming.jobs_per_batch", s.jobs / perTrigger, "count")
    put("streaming.stages_per_batch", s.stages / perTrigger, "count")
    put("streaming.tasks_per_batch", s.tasks / perTrigger, "count")
    put("streaming.executor_cpu_ms_per_batch", s.cpuNs / 1e6 / perTrigger, "ms")
    put("streaming.effective_parallelism",
      if (triggerMs.isEmpty) 0.0 else s.cpuNs / 1e6 / triggerMs.sum, "cores")
    put("streaming.gc_ms_per_batch", s.gcMs / perTrigger, "ms")
    put("streaming.shuffle_bytes_per_batch", s.shuffleBytes / perTrigger, "bytes")
    put("streaming.bytes_written", s.bytesWritten.toDouble, "bytes")
    put(s"streaming.generator_late_ms_$Tail",
      t.detail.get(s"generator_late_ms_$Tail").map(_.asInstanceOf[Double]).getOrElse(0.0), "ms")

    // the operators layer reads 0 where the run makes no operators pass
    val op = ops.getOrElse(OperatorsPass(Map.empty, new Totals, 0.0, 0, 0, 0))
    val a = op.totals
    Registry.Modules.foreach { case (m, _) => put(s"operators.$m.wall_s", op.moduleWallS.getOrElse(m, 0.0), "s") }
    put("operators.planning_ms", op.planningMs, "ms")
    put("operators.jobs", a.jobs.toDouble, "count")
    put("operators.stages", a.stages.toDouble, "count")
    put("operators.tasks", a.tasks.toDouble, "count")
    put("operators.executor_cpu_s", a.cpuNs / 1e9, "s")
    val opWallS = op.moduleWallS.values.sum
    put("operators.effective_parallelism", if (opWallS > 0) a.cpuNs / 1e9 / opWallS else 0.0, "cores")
    put("operators.scan_bytes", a.scanBytes.toDouble, "bytes")
    put("operators.shuffle_bytes", a.shuffleBytes.toDouble, "bytes")
    put("operators.spill_bytes", a.spillBytes.toDouble, "bytes")
    put("operators.gc_ms", a.gcMs.toDouble, "ms")

    def e2e(m: Measured) = endToEnd(0.0, m).toMap
    val tr = e2e(t)
    Seq("latency_p50_ms", s"latency_${Tail}_ms", "rows_s").foreach { k =>
      put(s"trace.overhead.$k", tr(k)._1 - mean(untraced.map(e2e(_)(k)._1)), tr(k)._2)
    }

    probes(put)
    out.toSeq
  }

  /** Direct calls into the layers on fixed inputs, each timed three
    * times with the median kept; the one-core drain restarts Spark and
    * runs last. */
  private def probes(put: (String, Double, String) => Unit): Unit = {
    def med(f: => Double): Double = Stats.median(Seq.fill(3)(f))
    val plan = StreamPlan.seeded(seed, 20, DrainRate)
    val rows = plan.totalRows.toDouble

    put("plans.rows_for_ns_per_row", med {
      val t0 = System.nanoTime()
      var n = 0L
      (0 until plan.seconds).foreach(s => n += plan.plan.rowsFor(s).size)
      require(n == plan.totalRows)
      (System.nanoTime() - t0) / rows
    }, "ns/row")

    put("functions.hanoi_ns_per_row", med {
      val t0 = System.nanoTime()
      var moves = 0L
      plan.values.foreach { v => var i = 0; while (i < DrainRate) { moves += Hanoi.solve(v); i += 1 } }
      require(moves > 0)
      (System.nanoTime() - t0) / rows
    }, "ns/row")

    put("functions.udf_rows_s", med {
      val t0 = System.nanoTime()
      Registry.force(spark.range(0L, plan.totalRows, 1L, Cores)
        .select(Hanoi.hanoiTime(when(col("id") % 5 === 0, 8).otherwise(7))))
      rows / ((System.nanoTime() - t0) / 1e9)
    }, "rows/s")

    put("sources.scan_rows_s", med {
      val t0 = System.nanoTime()
      Registry.force(spark.read.format("plan-gen").option("plan", plan.text)
        .option("numPartitions", Cores).load())
      rows / ((System.nanoTime() - t0) / 1e9)
    }, "rows/s")

    stop(spark)
    spark = session(1)
    val one = Streams.drain(spark, plan, DrainMaxRows)
    put("streaming.rows_s_local1", one.rowsS, "rows/s")
  }
}

/** The share of CPU time the hypervisor withheld (`steal` in /proc/stat),
  * logged beside each measurement: a run on a contended host reads slow. */
object HostCpu {
  /** (steal, total) jiffies so far, or zeros where /proc/stat is absent. */
  def steal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}
