package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide instance — Spark
  * session startup is ~15 s, per-suite would dominate test time). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    SessionTuning.tune(s) // shared ObjectHashAggregate fallback sizing
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf0001

  /** Runs `f` on a fresh temp dir named `<prefix><random>` and deletes the
    * dir afterwards, whether `f` passed or threw. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
