package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LogAnalyticsSpec extends SparkSpec {
  import spark.implicits._
  import LogAnalytics.formatters

  private def lines(ls: String*) = ls.toDF("value")

  test("execution parse + pivot + null-preserving cumulative sums") {
    val ls = lines(
      formatters.exec(1000, 5000, 7, 0, 10),
      formatters.exec(1001, 5000, 8, 0, 5),
      formatters.exec(2000, 10000, 7, 0, 20),
      "garbage line that matches nothing",
      formatters.exec(3000, 15000, 8, 0, 2))
    val exec = LogAnalytics.execution(ls)
    assert(exec.count() == 4)
    assert(LogAnalytics.baseTime(exec) == 5000L)

    val piv = LogAnalytics.executionPivot(exec, Seq(7, 8)).collect()
    assert(piv.length == 3)
    val row10k = piv.find(_.getLong(0) == 10000L).get
    assert(row10k.getInt(1) == 20 && row10k.isNullAt(2)) // value 8 missing → null

    val cum = LogAnalytics.cumulativeAcrossValues(
      LogAnalytics.executionPivot(exec, Seq(7, 8)), Seq(7, 8)).collect()
    val c5k = cum.find(_.getLong(0) == 5000L).get
    assert(c5k.getLong(1) == 10 && c5k.getLong(2) == 15) // 10, then 10+5
    val c10k = cum.find(_.getLong(0) == 10000L).get
    assert(c10k.getLong(1) == 20 && c10k.isNullAt(2)) // null preserved
    val c15k = cum.find(_.getLong(0) == 15000L).get
    assert(c15k.isNullAt(1) && c15k.getLong(2) == 2) // accumulator not advanced by null
  }

  test("memory unit normalization (MB → KB)") {
    val m = LogAnalytics.memory(lines(
      "1000 MEMORY free=2048.5KB", "2000 MEMORY free=2.0MB")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1000L) == 2048.5)
    assert(m(2000L) == 2048.0)
  }

  test("pid/feedback zero filtering and 1s bucketed client sums") {
    assert(LogAnalytics.pid(lines(
      formatters.pid(1, 0, 5, 5), formatters.pid(2, 9, 5, 5))).count() == 1)
    assert(LogAnalytics.feedback(lines(
      "5 FEEDBACK stream=0 limit=0", "6 FEEDBACK stream=0 limit=100")).count() == 1)
    val d = LogAnalytics.perSecond(LogAnalytics.droppedValues(lines(
      formatters.drop(1100, 5, 1), formatters.drop(1900, 7, 1),
      formatters.drop(2100, 1, 1), formatters.drop(1500, 9, 2)))).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(d((1000L, 1)) == 12)
    assert(d((2000L, 1)) == 1)
    assert(d((1000L, 2)) == 9)
  }

  test("time shift and gap markers") {
    val t = Seq((0L, 1), (1000L, 2), (2000L, 3), (30000L, 4)).toDF("time", "x")
    val shifted = LogAnalytics.timeShift(t, 1000L).select("time").as[Long].collect()
    assert(shifted.toSeq == Seq(-1000L, 0L, 1000L, 29000L))
    val marked = LogAnalytics.withGapMarkers(t)
      .select("time", "gap_break").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!marked(2000L))
    assert(marked(30000L)) // 28s gap > 10 × 1s previous interval
  }

  test("round-trip: streaming TSV-ish emission parses back into tables") {
    withTempDir("graftlogs") { tmp =>
      val dir = new java.io.File(tmp)
      val run = Seq(
        formatters.exec(1000, 5000, 7, 0, 100),
        formatters.memory(1500, 1024.0),
        formatters.pid(1600, 100, 900, 50))
      val app = Seq(formatters.tick(900, 7, 100), formatters.drop(950, 3, 0))
      val recv0 = Seq(formatters.feedback(1700, 0, 5000), "1800 RATIO stream=0 ratio=0.8")
      java.nio.file.Files.write(new java.io.File(dir, "run.log").toPath,
        run.mkString("\n").getBytes)
      java.nio.file.Files.write(new java.io.File(dir, "application.log").toPath,
        app.mkString("\n").getBytes)
      java.nio.file.Files.write(new java.io.File(dir, "receiver_0.log").toPath,
        recv0.mkString("\n").getBytes)
      val tables = LogAnalytics.loadAll(spark, dir.getAbsolutePath)
      assert(tables("execution").count() == 1)
      assert(tables("memory").count() == 1)
      assert(tables("pid").count() == 1)
      assert(tables("tick").count() == 1)
      assert(tables("droppedValues").count() == 1)
      assert(tables("feedback").count() == 1)
      assert(tables("ratio").head.getDouble(2) == 0.8)
    }
  }
}
