package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{GnuplotGraph, LogAnalytics, StreamGate}
import graft.streaming.{FanOutServer, PlanEndpoint, StreamingStats}

/** The application surface — the reference is not just a library but two
  * binaries (the Play testbed server and the log-processor CLI), and a
  * user switching engines needs the same two:
  *
  *   - `serve [maxSeconds]` — the testbed: HTTP control plane
  *     (`POST /plan`, `GET /plans`, `GET /` index) + demand-driven TCP
  *     fan-out; every accepted plan streams generator → Hanoi → per-batch
  *     stats → TSV on stdout, with each micro-batch's values delivered to
  *     TCP subscribers under their credit, overflow dropped and logged in
  *     the reference's line formats (reference testbed
  *     `Application.postPlan` + `DataGeneratorActor` semantics).
  *   - `run <planFile|->` — one plan to completion in the foreground,
  *     stats TSV on stdout (the simple-streaming-app loop).
  *   - `graph <runDir> <title> [outDir]` — the log-processor CLI
  *     (reference log-processor Main.scala:9-19 takes exactly
  *     `<folder> <title>`): raw logs → eight tables → dumps +
  *     `graph.gnuplot` (run gnuplot on it externally, as the reference
  *     does).
  *
  * All logic lives in the library ([[streaming.StreamingStats]],
  * [[streaming.FanOutServer]], [[streaming.PlanEndpoint]],
  * [[operators.GnuplotGraph]]); this is arg parsing and wiring only.
  */
object Main {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SessionTuning.tune(s) // shared ObjectHashAggregate fallback sizing
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "serve" :: rest =>
      val maxSeconds = rest.headOption.map(_.toInt)
      serve(session(), maxSeconds)
    case "run" :: planArg :: Nil =>
      val planText =
        if (planArg == "-") new String(System.in.readAllBytes(), StandardCharsets.UTF_8)
        else Files.readString(Paths.get(planArg))
      runPlan(session(), planText)
    case "graph" :: runDir :: title :: rest =>
      val out = rest.headOption.getOrElse(runDir)
      val script = graph(session(), runDir, title, out)
      println(script)
    case _ =>
      System.err.println(
        """usage: graft.Main serve [maxSeconds]
          |       graft.Main run <planFile|->    (- reads the plan from stdin)
          |       graft.Main graph <runDir> <title> [outDir]""".stripMargin)
      sys.exit(2)
  }

  /** The stats sink of [[runPlan]] and [[serve]]: each batch's stats as
    * TSV lines on stdout. */
  private def printTsv(stats: DataFrame, batchId: Long): Unit =
    StreamingStats.toTsv(stats, System.currentTimeMillis())
      .collect().foreach(r => println(r.getString(0)))

  /** One plan, foreground, per-batch stats TSV on stdout. Returns when the
    * plan's data is exhausted. */
  def runPlan(spark: SparkSession, planText: String): Unit =
    StreamGate.drain(StreamingStats.run(spark, planText, sink = printTsv))

  /** The testbed server. Blocks until `maxSeconds` elapses (forever when
    * None); returns the bound (httpPort, tcpPort) via the callback for
    * tests. */
  def serve(
      spark: SparkSession,
      maxSeconds: Option[Int] = None,
      onStart: (Int, Int) => Unit = (h, t) =>
        println(s"graft testbed: plans http://localhost:$h/plan data tcp://localhost:$t")): Unit = {
    val fanOut = new FanOutServer(line => println(line))
    val queries = new ConcurrentHashMap[Long, StreamingQuery]()
    // one accepted plan drives BOTH consumers of the generator (T10
    // fan-out): the per-batch stats pipeline (TSV to stdout, the
    // reference app's output) and raw-value TCP delivery under
    // subscriber credit (the reference testbed's data plane)
    val endpoint = new PlanEndpoint((id, _, planText) => {
      // a failed start rejects the plan (500, id unlisted); the harness
      // stops the query already started, so none outlives the rejection
      val Seq(stats, deliver) = StreamGate.start(
        () => StreamingStats.run(spark, planText, sink = printTsv),
        () => spark.readStream.format("plan-gen")
          .option("plan", planText)
          .load()
          .writeStream
          .foreachBatch(fanOut.batchSink)
          .start())
      queries.put(2 * id, stats)
      queries.put(2 * id + 1, deliver)
      ()
    })
    onStart(endpoint.port, fanOut.port)
    try maxSeconds match {
      case Some(s) => Thread.sleep(s * 1000L)
      case None    => while (true) Thread.sleep(60000L)
    } finally {
      queries.values.forEach(q => try q.stop() catch { case _: Throwable => () })
      endpoint.close(); fanOut.close()
    }
  }

  /** The log-processor CLI: raw run dir → dumps + graph.gnuplot. Returns
    * the script path. */
  def graph(spark: SparkSession, runDir: String, title: String, outDir: String): String =
    GnuplotGraph.write(spark, runDir, title, outDir).toString
}
