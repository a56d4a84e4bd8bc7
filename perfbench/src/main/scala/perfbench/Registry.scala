package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.{Q, SparkEntry}
import graft.operators._

/** The registry workloads' query sets and the per-query correctness hash. */
object Registry {

  /** The ten registry modules, in `SparkEntry.registry` order. */
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Analytic" -> Analytic.all,
    "TextAnalysis" -> TextAnalysis.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "GeneratorQueries" -> GeneratorQueries.all,
    "Multimodal" -> Multimodal.all, "RefLogs" -> RefLogs.all,
    "Layout" -> Layout.all, "Features" -> Features.all)

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  lazy val byName: Map[String, Q] = SparkEntry.registry.map(q => q.name -> q).toMap

  /** Counts `onQueryStarted` events. The event is delivered on the
    * thread that starts the query, so a count taken around `build` is
    * exact. */
  final class StartCounter extends StreamingQueryListener {
    val started = new AtomicInteger()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Builds `q` and reports whether the build started a streaming query. */
  def buildWatched(spark: SparkSession, counter: StartCounter, q: Q, dir: String): (DataFrame, Boolean) = {
    val before = counter.started.get()
    val df = q.build(spark, dir)
    (df, counter.started.get() != before)
  }

  /** Whether `e` comes from an input path outside `dir` that does not
    * exist: the RefLogs queries read the reference testbed's recorded
    * logs, which do not ship with the repository. */
  def missingInput(e: Throwable, dir: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      val m = Option(t.getMessage).getOrElse("")
      m.contains("PATH_NOT_FOUND") && !m.contains(dir)
    }

  /** The first query of each module, in registry order: chosen by
    * position, never by name. */
  lazy val firstOfEachModule: Seq[String] = Modules.map(_._2.head.name)

  /** Seeded execution order. */
  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  /** Row count and an order-independent content hash of `df`: the sum of
    * per-row xxhash64 values, exact in decimal. Floating-point columns are
    * rounded to 6 decimal places first, so last-bit differences from
    * summation order do not change the hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val row = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.agg(count(lit(1)), sum(row.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canonical(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => canonical(x, et))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
