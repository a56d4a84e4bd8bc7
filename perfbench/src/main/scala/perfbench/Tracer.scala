package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one group of Spark jobs. */
final class Totals {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs = 0L
  var shuffleBytes, spillBytes, scanBytes, recordsRead, bytesWritten = 0L
}

/** The traced run's listeners: Spark jobs, stages and tasks, query
  * planning phases, and streaming trigger progress. Everything is kept in
  * memory and read once the traced measurement has ended. Jobs that carry
  * a streaming query id are counted a second time under `streaming`. */
final class Tracer(spark: SparkSession) {
  val all = new Totals
  val streaming = new Totals
  val planningMs = mutable.ArrayBuffer.empty[Double]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val streamingStages = mutable.Set.empty[Int]
  private var events = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val isStream = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      val groups = if (isStream) Seq(all, streaming) else Seq(all)
      groups.foreach { t => t.jobs += 1; t.stages += e.stageInfos.size }
      if (isStream) streamingStages ++= e.stageIds
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      val m = e.taskMetrics
      val groups = if (streamingStages(e.stageId)) Seq(all, streaming) else Seq(all)
      groups.foreach { t =>
        t.tasks += 1
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.scanBytes += m.inputMetrics.bytesRead
          t.recordsRead += m.inputMetrics.recordsRead
          t.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        events += 1
        planningMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        events += 1
        if (e.progress.numInputRows > 0) progress += e
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners once their asynchronous buses have delivered
    * everything: no new event for 300 ms, or 10 s at most. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 6 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = synchronized(events)
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** `durationMs` entry `key` of every trigger that read input. */
  def durations(key: String): Seq[Double] = synchronized {
    progress.toSeq.flatMap(e => Option(e.progress.durationMs.get(key)).map(_.doubleValue))
  }
}
