package graft.operators

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** The harness's containment contract, on `MemoryStream` legs (a leg
  * without an `AvailableNow` trigger never terminates on its own): every
  * failure path stops every leg the call started, and afterwards no
  * query is left active in the session. */
class StreamGateSpec extends SparkSpec with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  private val noop: (DataFrame, Long) => Unit = (_, _) => ()

  /** A leg over `in` that records its query in `started`. */
  private def leg(in: MemoryStream[Int], started: ArrayBuffer[StreamingQuery])(
      batch: (DataFrame, Long) => Unit): StreamGate.Leg = () => {
    val q = in.toDF().writeStream.foreachBatch(batch).start()
    started += q
    q
  }

  private def stream(): MemoryStream[Int] = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    MemoryStream[Int]
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def assertAllStopped(started: Seq[StreamingQuery]): Unit = {
    assert(started.nonEmpty)
    assert(started.forall(!_.isActive), s"still active: ${started.filter(_.isActive)}")
    assert(spark.streams.active.isEmpty)
  }

  test("a failing leg stops a sibling that never terminates and its failure propagates") {
    val started = ArrayBuffer.empty[StreamingQuery]
    val bad = stream()
    bad.addData(1)
    val e = failAfter(Span(60, Seconds)) {
      intercept[StreamingQueryException](StreamGate.run(
        leg(stream(), started)(noop),
        leg(bad, started)((_, _) => throw new IllegalStateException("boom")))(()))
    }
    assert(causes(e).exists(c =>
      c.isInstanceOf[IllegalStateException] && c.getMessage == "boom"), e)
    assert(started.size === 2)
    assertAllStopped(started.toSeq)
  }

  test("a failed second start stops the first leg") {
    val started = ArrayBuffer.empty[StreamingQuery]
    var ran = false
    val e = intercept[IllegalStateException](StreamGate.run(
      leg(stream(), started)(noop),
      () => throw new IllegalStateException("no start")) { ran = true })
    assert(e.getMessage === "no start")
    assert(!ran, "whileRunning ran although a start failed")
    assertAllStopped(started.toSeq)
  }

  test("a throwing whileRunning stops both legs") {
    val started = ArrayBuffer.empty[StreamingQuery]
    val e = intercept[IllegalStateException](StreamGate.run(
      leg(stream(), started)(noop),
      leg(stream(), started)(noop))(throw new IllegalStateException("probe")))
    assert(e.getMessage === "probe")
    assert(started.size === 2)
    assertAllStopped(started.toSeq)
  }

  test("drain stops its query when the drain throws") {
    val started = ArrayBuffer.empty[StreamingQuery]
    val in = stream()
    in.addData(1)
    val q = leg(in, started)(noop)()
    // an interrupted caller makes processAllAvailable throw while the
    // query itself keeps running
    Thread.currentThread().interrupt()
    try intercept[InterruptedException](StreamGate.drain(q))
    finally Thread.interrupted()
    assertAllStopped(started.toSeq)
  }
}
