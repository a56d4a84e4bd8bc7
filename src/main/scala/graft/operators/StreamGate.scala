package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one streaming-query lifecycle every gate, `Bench` leg and `Main`
  * entry point goes through: start → await or drain → stop (the
  * Structured Streaming query lifecycle). A failed or interrupted await
  * leaves no stream running: every leg a call started is stopped before
  * the failure reaches the caller.
  *
  * A leg is a thunk that starts one query, so a harness call owns the
  * start order and can stop exactly the legs it started. */
object StreamGate {

  type Leg = () => StreamingQuery

  /** Gate plumbing for a multi-batch replay: `df` written as 4 parquet
    * files, which [[splitSource]] streams back one file per trigger. */
  def split(df: DataFrame, dir: String): Unit =
    df.repartition(4).write.mode("overwrite").parquet(dir)

  /** The file stream over a [[split]] of `df`: 4 files → 4 micro-batches. */
  def splitSource(df: DataFrame, dir: String): DataFrame =
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** The replay leg: `src` drained once (`AvailableNow`), each
    * micro-batch handed to `batch` with its id. */
  def replay(src: DataFrame)(batch: (DataFrame, Long) => Unit): Leg =
    () => src.writeStream.trigger(Trigger.AvailableNow()).foreachBatch(batch).start()

  /** Starts `legs` in order. If a start throws, the legs already started
    * are stopped in reverse and the failure is rethrown. */
  def start(legs: Leg*): Seq[StreamingQuery] = {
    val started = ArrayBuffer.empty[StreamingQuery]
    try legs.foreach(started += _())
    catch { case e: Throwable => stopAll(started.toSeq, e); throw e }
    started.toSeq
  }

  /** Starts `legs`, evaluates `whileRunning` while they run, then waits
    * until every leg has terminated. The first failure of a leg (as the
    * `StreamingQueryException` its await throws) or of `whileRunning`
    * stops the other legs at once, in reverse start order, and is
    * rethrown. Only these legs are awaited, never the session's other
    * queries. */
  def run[A](legs: Leg*)(whileRunning: => A): A = {
    val qs = start(legs: _*)
    try {
      val out = whileRunning
      // round-robin over short awaits, so a failing leg surfaces while a
      // sibling is still running (one blocking await per leg would wait
      // on the first leg before it could see the second fail)
      var live = qs
      while (live.nonEmpty) live = live.filterNot(_.awaitTermination(PollMs))
      out
    } catch { case e: Throwable => stopAll(qs, e); throw e }
  }

  /** Processes everything available to `q`, then stops it, also when the
    * drain throws. Returns `q` for its `recentProgress`. */
  def drain(q: StreamingQuery): StreamingQuery = {
    try q.processAllAvailable() finally q.stop()
    q
  }

  private val PollMs = 50L

  private def stopAll(qs: Seq[StreamingQuery], cause: Throwable): Unit =
    qs.reverseIterator.foreach { q =>
      try q.stop() catch { case NonFatal(e) => cause.addSuppressed(e) }
    }
}
