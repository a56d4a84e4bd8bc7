package graft.streaming

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{HttpURLConnection, Socket, URL}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import graft.operators.LogAnalytics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference testbed's WHOLE lifecycle in one run (SURVEY §3.2):
  * plan arrives over HTTP → plan-driven generator streams it → each
  * micro-batch fans out over TCP with demand-capped delivery → DROP/REQ
  * events land in logs → the log-analytics tables reconcile with the
  * server's live counters and the bytes on the wire.
  */
class FullSystemSpec extends SparkSpec {

  test("HTTP plan → streaming query → TCP delivery → drop accounting") {
    val logLines = scala.collection.mutable.ArrayBuffer.empty[String]
    withTempDir("graft-fanout-logs") { tmp =>
      val runDir = java.nio.file.Paths.get(tmp)
      val runLog = new RunLogWriter(runDir)
      val server = new FanOutServer(
        l => logLines.synchronized { logLines += l; () }, Some(runLog))
      val started = new CountDownLatch(1)
      @volatile var query: org.apache.spark.sql.streaming.StreamingQuery = null
      val endpoint = new PlanEndpoint((_, _, planText) => {
        query = spark.readStream.format("plan-gen")
          .option("plan", planText)
          .option("numPartitions", 2)
          .load()
          .writeStream
          .outputMode("append")
          .trigger(Trigger.ProcessingTime(200L))
          .foreachBatch(server.batchSink)
          .start()
        started.countDown()
      })
      val client = new Socket("localhost", server.port)
      try {
        new PrintWriter(client.getOutputStream, true).println("REQ 120")
        val deadline = System.currentTimeMillis() + 10000
        while (server.demands.values.sum < 120L &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)

        // 2 plan-seconds × 100 values/s of value 7 — total 200 > credit 120
        val conn = new URL(s"http://localhost:${endpoint.port}/plan")
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(
          "sequence = [ { type = fixed, value = 7, rate = 100, duration = 2 } ]"
            .getBytes(StandardCharsets.UTF_8))
        assert(conn.getResponseCode === 202)
        assert(started.await(30, TimeUnit.SECONDS), "query never started")
        query.processAllAvailable()

        // regardless of how triggers batched the 200 values, credit caps
        // delivery at exactly 120 and drops the other 80
        val (delivered, dropped) = server.stats.values.head
        assert(delivered === 120L, server.stats.toString)
        assert(dropped === 80L)
        // the wire saw exactly the delivered values (all 7s)
        client.setSoTimeout(10000)
        val r = new BufferedReader(new InputStreamReader(client.getInputStream))
        val onWire = (1 to 120).map(_ => r.readLine().toInt)
        assert(onWire.forall(_ === 7))
        // DROP log lines → analytics table → sum == live counter
        import spark.implicits._
        val drops = LogAnalytics.droppedValues(
          logLines.synchronized(logLines.toSeq).toDF("value"))
        assert(drops.agg(sum("count")).head.getLong(0) === 80L)
        // congestion ratio lines round-trip through the reference receiver
        // parser: at least one partial/full drop logged, every ratio in (0,1],
        // client id 0
        runLog.close()
        val ratios = graft.operators.RefLogs.ratio(
          graft.operators.RefLogs.lines(spark, s"$runDir/receiver_0.log")).collect()
        assert(ratios.nonEmpty, "no ratio lines emitted for the dropped burst")
        ratios.foreach { r =>
          assert(r.getInt(1) === 0)
          val v = r.getDouble(2)
          assert(v > 0.0 && v <= 1.0, s"ratio out of range: $v")
        }
      } finally {
        endpoint.close()
        if (query != null) query.stop()
        client.close()
        server.close()
      }
    }
  }

  test("self-emitted run logs close the reference analysis loop: run → logs → RefLogs → gnuplot") {
    // The engine's OWN streaming run writes run.log/receiver_0.log in the
    // reference's line formats; RefLogs (the log-processor re-expression)
    // must round-trip them, and the gnuplot synthesis must render from the
    // parsed tables — the full reference lifecycle with no archived logs.
    withTempDir("graft-runlogs") { tmp =>
      val runDir = java.nio.file.Paths.get(tmp)
      val writer = new RunLogWriter(runDir)
      val key = "runlog-spec"
      val listener = new PidRateListener(
        key, triggerMs = 100L, initialLimit = 4000L,
        estimator = Some(new PidRateEstimator(100L, 1.0, 0.2, 0.0, minRate = 200.0)),
        runLog = Some(writer))
      spark.streams.addListener(listener)
      val planRows = 3 * 2000L // 3 s × 2000 rows/s
      try {
        val q = StreamingStats.run(
          spark,
          "sequence = [ { type = fixed, value = 8, rate = 2000, duration = 3 } ]",
          triggerMs = 100L,
          rateLimitKey = Some(key),
          secondsPerTrigger = 3,
          sink = RunLogs.loggingSink(writer))
        listener.attach(q)
        q.processAllAvailable()
        q.stop()
      } finally {
        spark.streams.removeListener(listener)
        graft.sources.RateLimitRegistry.clear(key)
        writer.close()
      }

      // round-trip: parse OUR logs with the same parsers that handle the
      // reference's archived runs
      val tables = graft.operators.RefLogs.load(spark, runDir.toString)

      // batch-result lines → execution table; totals reconcile with the plan
      val exec = tables("execution")
      assert(exec.count() > 0, "no batch result lines parsed")
      assert(exec.agg(sum("count")).head.getLong(0) === planRows)
      assert(exec.select("value").distinct().collect().map(_.getInt(0)).toSet === Set(8))

      // PID trace lines → pid table; record totals reconcile too
      val pid = tables("pid")
      assert(pid.count() > 0, "no pid lines parsed")
      assert(pid.agg(sum("records")).head.getLong(0) === planRows)

      // rate-limit feedback lines → feedback table (the estimator must have
      // adapted at least once over a 3 s run at 100 ms triggers)
      val fb = tables("feedback")
      assert(fb.count() > 0, "no feedback lines parsed")
      assert(fb.select("rate_limit").collect().forall(_.getLong(0) > 0))

      // graph synthesis over the engine's own run: script + referenced data
      // files render without the reference's archived logs
      withTempDir("graft-runlogs-graph") { graphTmp =>
        val outDir = java.nio.file.Paths.get(graphTmp)
        val script = graft.operators.GnuplotGraph.writeTables(
          tables, "self-run", outDir.toString)
        assert(java.nio.file.Files.exists(script))
        assert(java.nio.file.Files.exists(outDir.resolve("feedback_0.log")))
        val scriptText = new String(java.nio.file.Files.readAllBytes(script))
        assert(scriptText.contains("plot"), "gnuplot script has no plot command")
      }
    }
  }
}
