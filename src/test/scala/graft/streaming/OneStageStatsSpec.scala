package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{ForeachBatchShim, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.functions.Hanoi
import graft.operators.GeneratorQueries
import graft.plans.PlanParser

/** [[StreamingStats.run]]'s one-stage stats: computed once per batch, equal
  * to [[StreamingStats.batchStats]] (the declarative definition), and one
  * job of one stage per trigger with no shuffle. */
class OneStageStatsSpec extends SparkSpec {

  private val InputSchema = StructType(Seq(
    StructField("value", IntegerType, nullable = false),
    StructField("stream_id", IntegerType, nullable = false),
    StructField("hanoi_ms", LongType, nullable = true)))

  private def sorted(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (r.getInt(0), r.getInt(1)))

  test("the metric is evaluated once per admitted row, however often the sink reads the stats") {
    val planText = "sequence = [ { type = fixed, value = 5, rate = 1000, duration = 3 } ]"
    val planRows = 3000L
    val evals = spark.sparkContext.longAccumulator("metric-evals")
    val counting = udf { v: Int => evals.add(1L); v.toLong }
    withTempDir("graft-once") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      val writer = new RunLogWriter(dir)
      val tsv = new ConcurrentLinkedQueue[String]()
      try {
        val q = StreamingStats.run(
          spark, planText,
          triggerMs = 50L,
          secondsPerTrigger = 3,
          numPartitions = Some(4),
          metricCol = df => df.withColumn("hanoi_ms", counting(col("value"))),
          sink = RunLogs.loggingSink(writer, inner = (stats, _) =>
            StreamingStats.toTsv(stats, 0L).collect().foreach(r => tsv.add(r.getString(0)))))
        try q.processAllAvailable() finally q.stop()
      } finally writer.close()

      assert(evals.value == planRows, s"metric evaluated ${evals.value} times for $planRows rows")
      // (value, stream_id, count, sum) from the logged lines and from the TSV
      def fields(line: String): Seq[Long] = line.split("\t").slice(2, 6).map(_.toLong).toSeq
      val logged = Files.readAllLines(dir.resolve("run.log")).asScala.toSeq
        .filter(_.contains("batch result: "))
        .map(l => fields(l.substring(l.indexOf("batch result: ") + "batch result: ".length)))
      val printed = tsv.asScala.toSeq.map(fields)
      assert(logged.nonEmpty)
      assert(logged.sortBy(_.mkString(",")) == printed.sortBy(_.mkString(",")))
      assert(logged.map(_(2)).sum == planRows)
    }
  }

  test("whole-plan trigger over q_stream_batch_stats_det's plan emits the gate's oracle rows") {
    val gate = GeneratorQueries.qStreamStatsDet
    val expected = spark.sql(gate.oracle.get).collect().toSeq
    val plan = PlanParser.parse(GeneratorQueries.DetPlan)
    val got = new ConcurrentLinkedQueue[Row]()
    val q = StreamingStats.run(
      spark, GeneratorQueries.DetPlan,
      triggerMs = 50L,
      secondsPerTrigger = plan.duration.get,
      numPartitions = Some(4),
      metricCol = df => df.withColumn("hanoi_ms", Hanoi.hanoiMoves(col("value"))),
      sink = (stats, _) => stats.collect().foreach(got.add))
    try q.processAllAvailable() finally q.stop()
    assert(sorted(got.asScala.toSeq) == sorted(expected))
  }

  test("one-stage stats equal batchStats on a mixed two-stream batch with a null-metric group") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 20000).map { i =>
      val value = 3 + i % 4
      val stream = (i / 4) % 2
      // value 6 on stream 1 only ever carries null metrics
      val metric: java.lang.Long =
        if (value == 6 && stream == 1) null
        else if (i % 7 == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(100000).toLong * value)
      Row(value, stream, metric)
    }
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5), InputSchema)
    val oneStage = StreamingStats.oneStageStats(batch)(batch)
    val reference = StreamingStats.batchStats(batch)
    assert(oneStage.schema == reference.schema)
    val got = sorted(oneStage.collect().toSeq)
    val want = sorted(reference.collect().toSeq)
    assert(got.map(r => (r.get(0), r.get(1), r.get(2), r.get(3))) ==
      want.map(r => (r.get(0), r.get(1), r.get(2), r.get(3))))
    val nullGroup = got.find(r => r.getInt(0) == 6 && r.getInt(1) == 1).get
    assert(nullGroup.getLong(2) == 0L && nullGroup.isNullAt(3) && nullGroup.isNullAt(4) && nullGroup.isNullAt(5))
    got.zip(want).foreach { case (g, w) =>
      Seq(4, 5).foreach { i =>
        assert(g.isNullAt(i) == w.isNullAt(i))
        if (!g.isNullAt(i)) {
          val (a, b) = (g.getDouble(i), w.getDouble(i))
          assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)),
            s"${g.schema(i).name} of (${g.get(0)}, ${g.get(1)}): $a vs $b")
        }
      }
    }
    assert(got.exists(r => !r.isNullAt(5) && r.getDouble(5) > 0.0))
  }

  test("an empty batch yields no rows; a non-Long metric is refused") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], InputSchema)
    val stats = StreamingStats.oneStageStats(empty)(empty)
    assert(stats.schema == StreamingStats.batchStats(empty).schema)
    assert(stats.collect().isEmpty)
    val doubles = empty.withColumn("hanoi_ms", col("hanoi_ms").cast("double"))
    val e = intercept[IllegalArgumentException](StreamingStats.oneStageStats(doubles))
    assert(e.getMessage.contains("LongType"))
  }

  test("each trigger runs one job of one stage with no shuffle, and progress counts every row") {
    val planText =
      """sequence = [
        |  { type = fixed, value = 4, rate = 500, duration = 3 }
        |  { type = cycle, values = [5, 6], rate = 300, duration = 3 }
        |]""".stripMargin
    val planRows = (0 until 6).map(PlanParser.parse(planText).rowCountFor).sum
    // every streaming job, by query id; the query's id is known only
    // after it starts, so the filter runs afterwards
    val jobs = mutable.Map.empty[Int, (String, Seq[Int])] // job -> (query id, stages)
    val ended = mutable.Set.empty[Int]
    val shuffleByStage = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(id => jobs(e.jobId) = (id, e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        if (e.taskMetrics != null) shuffleByStage(e.stageId) +=
          e.taskMetrics.shuffleReadMetrics.totalBytesRead + e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized { ended += e.jobId }
    }
    val batches = new ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingStats.run(
        spark, planText,
        triggerMs = 50L,
        numPartitions = Some(4),
        metricCol = df => df.withColumn("hanoi_ms", col("value").cast("long")),
        sink = (stats, batchId) => { stats.collect(); stats.collect(); batches.add(batchId) })
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.map(_.numInputRows).sum == planRows)
      val n = batches.size
      assert(n >= 2, s"expected several triggers, got $n")
      def ours = jobs.synchronized(jobs.filter(_._2._1 == q.id.toString).toMap)
      // listener events arrive asynchronously: wait for the query's jobs to end
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.synchronized(ours.size < n || !ours.keys.forall(ended)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      jobs.synchronized {
        val jobCount = ours.size
        val stageIds = ours.values.toSeq.flatMap(_._2)
        assert(jobCount == n, s"$jobCount jobs for $n triggers")
        assert(stageIds.size == n, s"${stageIds.size} stages for $n triggers")
        assert(stageIds.map(shuffleByStage).sum == 0L)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the stats job runs a named task function on ForeachBatchSink's LogicalRDD, planning nothing") {
    val rows = (0 until 4000).map(i => Row(3 + i % 3, i % 2, java.lang.Long.valueOf(i.toLong)))
    val data = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), InputSchema)
    // the batch as ForeachBatchSink builds it: a LogicalRDD over the
    // micro-batch's RDD, here one whose tasks report their task function
    val (scan, batch) = ForeachBatchShim.batch(data.queryExecution.toRdd.mapPartitions(TaskFunctionSpy.wrap), data)
    val Tag = "graft.spec.statsJob"
    val lastRdds = new ConcurrentLinkedQueue[Int]() // per tagged job: its highest RDD id
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) != null))
          lastRdds.add(e.stageInfos.flatMap(_.rddInfos.map(_.id)).max)
    }
    TaskFunctionSpy.seen.clear()
    val stats = StreamingStats.oneStageStats(batch)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      spark.sparkContext.setLocalProperty(Tag, "1")
      val out = try stats(batch) finally spark.sparkContext.setLocalProperty(Tag, null)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (lastRdds.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    def counts(df: org.apache.spark.sql.DataFrame) =
      sorted(df.collect().toSeq).map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
    assert(counts(got) == counts(StreamingStats.batchStats(data)))

    // no second plan: the one job's last RDD is the LogicalRDD's own
    assert(lastRdds.asScala.toSeq == Seq(scan.rdd.id))
    // not a closure to Spark's cleaner: neither an `$anonfun$` class nor a
    // synthetic (lambda) class, and it survives Java serialization
    val fns = TaskFunctionSpy.seen.asScala.toSet
    assert(fns.size == 1, s"task functions: $fns")
    val fn = fns.head
    assert(!fn.getName.contains("$anonfun$"), fn.getName)
    assert(!fn.isSynthetic, fn.getName)
    assert(fn == classOf[KeyedMoments.FoldPartition], fn.getName)
    val fold = KeyedMoments.FoldPartition(0, 1, 2)
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(fold); out.close()
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back == fold)
  }
}

/** Records, on a task's first pull, the class of the function Spark's
  * `ResultTask` called with the task's iterator. Hidden frames are shown
  * so that a lambda reports its own (synthetic) class, not its body's. */
private object TaskFunctionSpy {
  val seen = new ConcurrentLinkedQueue[Class[_]]()
  private val walker = StackWalker.getInstance(java.util.Set.of(
    StackWalker.Option.RETAIN_CLASS_REFERENCE, StackWalker.Option.SHOW_HIDDEN_FRAMES))

  def wrap(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var first = true
    def hasNext: Boolean = {
      if (first) { first = false; seen.add(taskFunction()) }
      rows.hasNext
    }
    def next(): InternalRow = rows.next()
  }

  private def taskFunction(): Class[_] = {
    val frames = walker.walk(_.iterator.asScala.toVector)
    val task = frames.indexWhere(f =>
      f.getClassName == "org.apache.spark.scheduler.ResultTask" && f.getMethodName == "runTask")
    frames(task - 1).getDeclaringClass
  }
}
