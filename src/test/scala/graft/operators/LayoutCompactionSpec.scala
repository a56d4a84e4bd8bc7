package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutCompactionSpec extends SparkSpec {

  private def parquetFiles(path: String): Array[java.io.File] =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))

  test("compact sizes output by BYTES and preserves every row") {
    withTempDir("graft-compact") { dir =>
      val src = graft.Tables.events(spark, sf)

      // the small-file pathology: 64 tiny files for a ~1 MB table
      src.repartition(64).write.mode("overwrite").parquet(s"$dir/frag")
      val fragFiles = parquetFiles(s"$dir/frag")
      assert(fragFiles.length == 64)

      val target = 1L << 20
      val n = Layout.compact(spark, s"$dir/frag", s"$dir/compacted", target)

      // file count derives from input bytes / target, not from row count
      val totalBytes = fragFiles.map(_.length).sum
      val expected = math.max(1, math.ceil(totalBytes.toDouble / target).toInt)
      assert(n == expected, s"compact returned $n, bytes/target gives $expected")
      val outFiles = parquetFiles(s"$dir/compacted")
      assert(outFiles.length == n, s"wrote ${outFiles.length} files, promised $n")
      assert(outFiles.length < fragFiles.length,
        s"compaction did not reduce file count (${outFiles.length} vs 64)")

      // zero row drift: count and a value checksum both survive the rewrite
      val before = src.agg(count(lit(1)), sum(col("value").cast("decimal(18,6)")))
        .collect().head
      val after = spark.read.parquet(s"$dir/compacted")
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,6)")))
        .collect().head
      assert(before == after, s"row/value drift: $before vs $after")
    }
  }

  test("q_compaction aggregates over the compacted layout match the raw table") {
    val got = Layout.qCompaction.build(spark, sf)
      .orderBy("event_type").collect()
    val raw = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("sum_value"))
      .orderBy("event_type").collect()
    assert(got.sameElements(raw),
      s"compacted aggregate drifted: ${got.mkString(",")} vs ${raw.mkString(",")}")
    assert(got.length > 0)
  }
}
