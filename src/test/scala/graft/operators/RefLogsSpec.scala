package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Reference raw-log ingestion, pinned two ways:
  *  - against the reference repo's COMMITTED run logs and the
  *    log-processor's committed outputs (independent ground truth);
  *  - against synthetic lines in the exact formats the reference emits
  *    (SimpleStreamingApp.scala:107, DataGeneratorActor.scala:65,229,257)
  *    for the parsers whose raw inputs were never committed.
  *
  * The committed runs live outside this repository (see
  * [[RefLogs.Run006Pid]]); each committed-artifact case is cancelled
  * where its run directory is absent.
  */
class RefLogsSpec extends SparkSpec {
  import RefLogs._

  private def committed(path: String): Seq[Array[String]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(" +"))
  }

  private def assumeRun(runDir: String): Unit =
    assume(Files.isDirectory(Paths.get(runDir)),
      s"committed reference run not present: $runDir")

  test("feedback parse of committed receiver_0.log matches committed feedback_0.log") {
    assumeRun(Run006Pid)
    val parsed = feedback(lines(spark, s"$Run006Pid/receiver_0.log"))
      .orderBy("time").collect()
    val expected = committed(s"$Run006Pid/feedback_0.log")

    assert(parsed.length === expected.length) // 68 non-zero feedback rows
    // limits are shift-invariant: must match the reference's column 2 exactly
    assert(parsed.map(_.getLong(2)).toSeq === expected.map(_(1).toLong).toSeq)
    // times only differ by the reference's timeShift base: deltas must match
    val gotDeltas = parsed.map(_.getLong(0)).sliding(2).map(p => p(1) - p(0)).toSeq
    val expDeltas = expected.map(_(0).toLong).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(gotDeltas === expDeltas)
    // the recovered base lands on a 5000 ms batch boundary (first batchTime)
    val base = parsed.head.getLong(0) - expected.head(0).toLong
    assert(base % 5000 === 0)
  }

  test("ratio parse of committed pre-1.5 receiver.log matches committed ratio.log") {
    assumeRun(Run003Drop)
    val parsed = ratio(lines(spark, s"$Run003Drop/receiver.log"))
      .orderBy("time").collect()
    val expected = committed(s"$Run003Drop/ratio.log")
    assert(parsed.length === expected.length) // 1601 drop-ratio rows
    assert(parsed.map(_.getDouble(2)).toSeq === expected.map(_(1).toDouble).toSeq)
    assert(parsed.forall(_.getInt(1) == 0)) // no `stream N` token → stream 0
  }

  test("perSecond rollup of committed droppedValues_0.log reproduces the reference's own droppedValuesPerSecond_0.log") {
    assumeRun(Run006Pid)
    val got = loadDump(spark, s"$Run006Pid/droppedValues_0.log", Seq("time", "count"))
      .withColumn("client_id", org.apache.spark.sql.functions.lit(0))
      .transform(perSecond)
      .orderBy("time")
      .select("time", "count")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = committed(s"$Run006Pid/droppedValuesPerSecond_0.log")
      .map(a => (a(0).toLong, a(1).toLong))
    assert(got.toSeq === expected)
  }

  test("run.log parsers: memory, execution, pid (synthetic reference-format lines)") {
    val dir = Files.createTempDirectory("reflogs").toFile
    val runLog = new java.io.File(dir, "run.log")
    Files.writeString(runLog.toPath, Seq(
      // log4j line shape behind RunLogData.scala:67 (comma millis, MB unit)
      "2015-07-13 16:57:00,296+0000 INFO MemoryStore: Added input blah (estimated size 7.1 KB, free: 265.4 MB)",
      "2015-07-13 16:57:01,000+0000 INFO MemoryStore: Added input blah (estimated size 7.1 KB, free: 271769.6 KB)",
      // SimpleStreamingApp.scala:107 format string, verbatim field order
      "batch result: 1436372230123\t1436372225000\t7\t0\t14635\t102445\t7.0\t0.5",
      // PID rate estimator line (RunLogData.scala:69); zero-record row dropped
      "time = 1436372230000, # records = 5000, processing time = 1200, scheduling delay = 30",
      "time = 1436372231000, # records = 0, processing time = 0, scheduling delay = 0",
      "2015-07-13 16:57:02,000+0000 INFO other: unrelated line"
    ).mkString("\n"))

    val mem = memory(lines(spark, runLog.getPath)).orderBy("time").collect()
    assert(mem.length === 2)
    assert(mem(0).getDouble(1) === 265.4 * 1024) // MB → KB
    assert(mem(1).getDouble(1) === 271769.6)     // KB stays
    assert(mem(0).getLong(0) === 1436806620296L) // 2015-07-13 16:57:00.296 UTC

    val exec = execution(lines(spark, runLog.getPath)).collect()
    assert(exec.length === 1)
    assert((exec(0).getLong(0), exec(0).getLong(1), exec(0).getInt(2),
      exec(0).getInt(3), exec(0).getInt(4)) ===
      ((1436372230123L, 1436372225000L, 7, 0, 14635)))

    val pids = pid(lines(spark, runLog.getPath)).collect()
    assert(pids.length === 1) // records=0 filtered (TestData.scala:194)
    assert((pids(0).getLong(0), pids(0).getInt(1), pids(0).getInt(2),
      pids(0).getInt(3)) === ((1436372230000L, 5000, 1200, 30)))
  }

  test("application.log parsers: tick, dropped, requested (dot-millis format) + per-client rollup") {
    val dir = Files.createTempDirectory("reflogs").toFile
    val appLog = new java.io.File(dir, "application.log")
    Files.writeString(appLog.toPath, Seq(
      // Play log shape behind ApplicationLogData.scala:52-54 (DOT millis)
      "2015-07-13 16:57:03.085+0000 [INFO] [DataGeneratorActor] At tick 3085, 1000 times 7",
      "2015-07-13 16:57:21.964+0000 [WARN] [DataGeneratorActor] unable to deliver 297 values to client 0",
      "2015-07-13 16:57:21.990+0000 [WARN] [DataGeneratorActor] unable to deliver 3 values to client 0",
      "2015-07-13 16:57:22.100+0000 [WARN] [DataGeneratorActor] unable to deliver 50 values to client 1",
      "2015-07-13 16:57:21.500+0000 [INFO] [DataGeneratorActor] received request for 5000 values from client 0"
    ).mkString("\n"))

    val ticks = tick(lines(spark, appLog.getPath)).collect()
    assert(ticks.length === 1)
    assert((ticks(0).getLong(0), ticks(0).getInt(1), ticks(0).getInt(2)) ===
      ((1436806623085L, 7, 1000))) // dot-millis parsed, value/count swapped per reference

    val dropped = droppedValues(lines(spark, appLog.getPath))
    assert(dropped.count() === 3)
    val perSec = perSecond(dropped).orderBy("time", "client_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // client 0's two drops in second 1436806641 merge; client 1 separate
    assert(perSec.toSeq === Seq(
      (1436806641000L, 0, 300L), (1436806642000L, 1, 50L)))

    val req = requestedValues(lines(spark, appLog.getPath)).collect()
    assert(req.length === 1)
    assert((req(0).getInt(1), req(0).getInt(2)) === ((5000, 0)))
  }

  test("load() assembles the eight tables from a committed run dir, tolerating absent files") {
    assumeRun(Run006Pid)
    val tables = load(spark, Run006Pid)
    assert(tables.keySet === Set("memory", "execution", "pid", "tick",
      "droppedValues", "requestedValues", "feedback", "ratio"))
    assert(tables("feedback").count() === 68)   // receiver_0.log present
    assert(tables("memory").count() === 0)      // no run.log committed
    assert(tables("tick").count() === 0)        // no application.log committed
  }

  test("load() refuses a run dir that does not exist, naming it; an empty dir loads eight empty tables") {
    val dir = Files.createTempDirectory("reflogs")
    val tables = load(spark, dir.toString)
    assert(tables.size === 8)
    assert(tables.values.forall(_.count() === 0))

    val missing = dir.resolve("no-such-run").toString
    val e = intercept[IllegalArgumentException](load(spark, missing))
    assert(e.getMessage.contains(missing))
    // the graph CLI reports the missing dir, not an empty execution table
    val g = intercept[IllegalArgumentException](
      GnuplotGraph.write(spark, missing, "t", dir.resolve("out").toString))
    assert(g.getMessage.contains(missing))
  }
}
