package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.SparkSpec

/** Full gnuplot parity: [[GnuplotGraph]] must reproduce the reference
  * log-processor's committed artifacts byte-for-byte.
  *
  * The committed runs keep only the PROCESSED dumps (no raw run.log /
  * application.log), so the eight tables are reconstructed here from the
  * committed dumps — de-accumulating the horizontal cumsums — and pushed
  * back through the renderer: the regenerated `graph.gnuplot` and every
  * data file must equal the committed bytes (dumps are already at t=0, so
  * the renderer's shift is the identity; a clean round trip proves both
  * directions agree).
  *
  * The committed run lives outside this repository (see
  * [[RefLogs.Run006Pid]]): the two byte-parity cases are cancelled where
  * it is absent. The multi-stream layout case is self-contained.
  */
class GnuplotGraphSpec extends SparkSpec {

  private val Run = RefLogs.Run006Pid
  private val Title = "1.5.0-rc3, TCP receiver, rate estimator. Execution time spike"

  private def dumpRows(name: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(Run, name)).asScala.toSeq
      .filter(_.trim.nonEmpty).map(_.trim.split(" +"))

  /** Reverse accCountsWithMissing: walk accumulated cells left to right,
    * `?` stays missing and does not advance the accumulator. */
  private def deAccumulate(cells: Seq[String]): Seq[Option[Long]] = {
    var running = 0L
    cells.map {
      case "?" => None
      case s   => val acc = s.toLong; val c = acc - running; running = acc; Some(c)
    }
  }

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private val values = Seq(7, 8) // from the run name: 7 → 8 → 7 spike

  private def tables: Map[String, DataFrame] = {
    val memory = df(
      StructType(Seq(StructField("time", LongType), StructField("free_memory_kb", DoubleType))),
      dumpRows("memory.log").map(r => Row(r(0).toLong, r(1).toDouble)))
    val execution = df(
      StructType(Seq(StructField("time", LongType), StructField("batch_time", LongType),
        StructField("value", IntegerType), StructField("stream_id", IntegerType),
        StructField("count", IntegerType))),
      dumpRows("execution_0.log").flatMap { r =>
        deAccumulate(r.drop(2).toSeq).zip(values).collect {
          case (Some(c), v) => Row(r(0).toLong, r(1).toLong, v, 0, c.toInt)
        }
      })
    val tick = df(
      StructType(Seq(StructField("time", LongType), StructField("value", IntegerType),
        StructField("count", IntegerType))),
      dumpRows("tick.log").flatMap { r =>
        deAccumulate(r.drop(1).toSeq).zip(values).collect {
          case (Some(c), v) => Row(r(0).toLong, v, c.toInt)
        }
      })
    val feedback = df(
      StructType(Seq(StructField("time", LongType), StructField("stream_id", IntegerType),
        StructField("rate_limit", LongType))),
      dumpRows("feedback_0.log").map(r => Row(r(0).toLong, 0, r(1).toLong)))
    val dropped = df(
      StructType(Seq(StructField("time", LongType), StructField("count", IntegerType),
        StructField("client_id", IntegerType))),
      dumpRows("droppedValues_0.log").map(r => Row(r(0).toLong, r(1).toInt, 0)))
    val pid = df(
      StructType(Seq(StructField("time", LongType), StructField("records", IntegerType),
        StructField("processing", IntegerType), StructField("delay", IntegerType))), Nil)
    val requested = df(dropped.schema, Nil)
    val ratio = df(
      StructType(Seq(StructField("time", LongType), StructField("stream_id", IntegerType),
        StructField("ratio", DoubleType))), Nil)
    Map("memory" -> memory, "execution" -> execution, "pid" -> pid, "tick" -> tick,
      "droppedValues" -> dropped, "requestedValues" -> requested,
      "feedback" -> feedback, "ratio" -> ratio)
  }

  /** Inline stream-0/client-0 base shaped like the committed run: stream 0
    * carries values 7 and 8 with feedback and no ratio; client 0 has drops
    * and no requests. */
  private def inlineBase: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "memory" -> Seq((0L, 271769.6)).toDF("time", "free_memory_kb"),
      "execution" -> Seq((5100L, 5000L, 7, 0, 100), (5100L, 5000L, 8, 0, 50))
        .toDF("time", "batch_time", "value", "stream_id", "count"),
      "pid" -> Seq.empty[(Long, Int, Int, Int)]
        .toDF("time", "records", "processing", "delay"),
      "tick" -> Seq((0L, 7, 1000), (1000L, 8, 500)).toDF("time", "value", "count"),
      "droppedValues" -> Seq((2000L, 10, 0)).toDF("time", "count", "client_id"),
      "requestedValues" -> Seq.empty[(Long, Int, Int)].toDF("time", "count", "client_id"),
      "feedback" -> Seq((5000L, 0, 2000L)).toDF("time", "stream_id", "rate_limit"),
      "ratio" -> Seq.empty[(Long, Int, Double)].toDF("time", "stream_id", "ratio"))
  }

  private def assumeRun(): Unit =
    assume(Files.isDirectory(Paths.get(Run)), s"committed reference run not present: $Run")

  test("regenerated graph.gnuplot is byte-identical to the committed script") {
    assumeRun()
    val out = Files.createTempDirectory("gg_script").toString
    GnuplotGraph.writeTables(tables, Title, out)
    val got = Files.readString(Paths.get(out, "graph.gnuplot"))
    val want = Files.readString(Paths.get(Run, "graph.gnuplot"))
    assert(got === want)
  }

  test("regenerated data dumps are byte-identical to the committed ones") {
    assumeRun()
    val out = Files.createTempDirectory("gg_dumps").toString
    GnuplotGraph.writeTables(tables, Title, out)
    for (f <- Seq("memory.log", "execution.log", "execution_0.log", "tick.log",
        "feedback_0.log", "droppedValues_0.log", "droppedValuesPerSecond_0.log",
        "pid.log", "ratio_0.log", "requestedValues_0.log",
        "requestedValuesPerSecond_0.log")) {
      val got = Files.readString(Paths.get(out, f))
      val want = Files.readString(Paths.get(Run, f))
      assert(got === want, s"dump $f differs")
    }
  }

  test("multi-stream, multi-client layout: conditional ratio/requested lines and panel count") {
    import spark.implicits._
    // two streams (1 with ratio, 0 without), two clients (1 with requests)
    val t = inlineBase
    val ratio2 = Seq((100L, 1, 0.5), (200L, 1, 0.25))
      .toDF("time", "stream_id", "ratio")
    val exec2 = t("execution").unionByName(
      Seq((900L, 0L, 9, 1, 42)).toDF("time", "batch_time", "value", "stream_id", "count"))
    val req2 = Seq((1000L, 10, 1)).toDF("time", "count", "client_id")
    val drop2 = t("droppedValues").unionByName(
      Seq((1000L, 5, 1)).toDF("time", "count", "client_id"))
    val l = GnuplotGraph.layout(t ++ Map(
      "execution" -> exec2, "ratio" -> ratio2,
      "requestedValues" -> req2, "droppedValues" -> drop2))
    assert(l.streams.map(_.id) === Seq(0, 1))
    assert(l.streams(0).values === Seq(7, 8) && !l.streams(0).hasRatio)
    assert(l.streams(1).values === Seq(9) && l.streams(1).hasRatio)
    assert(l.clients.map(c => (c.id, c.hasRequested)) === Seq((0, false), (1, true)))

    val s = GnuplotGraph.script(l, "t")
    assert(s.contains("set multiplot layout 4, 1"))             // 2 streams + 2
    assert(s.contains("size 1500,1332"))                        // 2*333 + 666
    assert(s.contains("\"ratio_1.log\"") && !s.contains("\"ratio_0.log\""))
    assert(s.contains("\"requestedValuesPerSecond_1.log\""))
    assert(!s.contains("\"requestedValuesPerSecond_0.log\""))
  }
}
