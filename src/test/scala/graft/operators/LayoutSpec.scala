package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("z-order tiles bound BOTH dimensions; single-column sort bounds one") {
    val tiles = Layout.qZorderLayout.build(spark, sf).collect()
    assert(tiles.nonEmpty)
    // the pruning guarantee: every 256x256 tile's span is bounded in both dims
    tiles.foreach { t =>
      assert(t.getLong(2) <= 255, s"tile ${t.getLong(0)}: custkey span ${t.getLong(2)}")
      assert(t.getLong(3) <= 255, s"tile ${t.getLong(0)}: day span ${t.getLong(3)}")
    }

    // contrast: bucketing the same rows by custkey alone (the single-column
    // sort layout) leaves the date dimension unclustered — a date-predicate
    // scan prunes nothing
    val z = graft.Tables.orders(spark, sf).select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"))
    val oneCol = z.groupBy((col("x") / 8).cast("long").as("bucket"))
      .agg((max(col("y")) - min(col("y"))).as("day_span"))
      .collect().map(_.getLong(1))
    val fullRange = z.agg(max(col("y")) - min(col("y"))).collect().head.getLong(0)
    val avgOneCol = oneCol.sum.toDouble / oneCol.length
    assert(avgOneCol > fullRange * 0.8,
      s"expected custkey-sorted buckets to span ~the full date range " +
        s"($avgOneCol vs $fullRange) — the z-order contrast is meaningless otherwise")
  }

  test("z-ordered write bounds per-file min-max spans in both dimensions") {
    val z = graft.Tables.orders(spark, sf).select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"))
    val (fullX, fullY) = {
      val r = z.agg(max(col("x")) - min(col("x")),
        max(col("y")) - min(col("y"))).collect().head
      (r.getLong(0), r.getLong(1))
    }

    def perFileSpans(path: String): Array[(Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .collect()
        .map(r => (r.getLong(1).toDouble / fullX, r.getLong(2).toDouble / fullY))

    withTempDir("graft-zorder") { dir =>
      Layout.writeZOrdered(z, col("x"), col("y"), s"$dir/zordered", numFiles = 16)
      // single-column layout: same rows, same file count, sorted by x only
      z.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/xsorted")

      val zSpans = perFileSpans(s"$dir/zordered")
      val xSpans = perFileSpans(s"$dir/xsorted")
      assert(zSpans.length > 1 && xSpans.length > 1)

      def avg(a: Array[Double]) = a.sum / a.length
      // z-order: BOTH dimensions bounded well under the full range per file
      assert(avg(zSpans.map(_._1)) < 0.5,
        s"z-order x-span ${avg(zSpans.map(_._1))} not bounded")
      assert(avg(zSpans.map(_._2)) < 0.5,
        s"z-order y-span ${avg(zSpans.map(_._2))} not bounded")
      // x-sort: x collapses but y stays ~unclustered — nothing for a date
      // predicate to prune on
      assert(avg(xSpans.map(_._2)) > 0.8,
        s"x-sorted baseline unexpectedly clustered y: ${avg(xSpans.map(_._2))}")
    }
  }

  test("hilbert-ordered write bounds per-file spans like the z-order write") {
    val z = graft.Tables.orders(spark, sf).select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"))
    val full = z.agg(max(col("x")) - min(col("x")),
      max(col("y")) - min(col("y"))).collect().head
    withTempDir("graft-hilbert") { dir =>
      Layout.writeHilbertOrdered(z, col("x"), col("y"), dir, numFiles = 16)
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .collect()
        .map(r => (r.getLong(1).toDouble / full.getLong(0),
          r.getLong(2).toDouble / full.getLong(1)))
      assert(spans.length > 1)
      def avg(a: Array[Double]) = a.sum / a.length
      assert(avg(spans.map(_._1)) < 0.5 && avg(spans.map(_._2)) < 0.5,
        s"hilbert spans not bounded: ${avg(spans.map(_._1))} ${avg(spans.map(_._2))}")
    }
  }

  test("3-column z-order write bounds per-file spans in all three dimensions") {
    val z = graft.Tables.orders(spark, sf).select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"),
      col("o_totalprice").cast("long").as("p"))
    val full = z.agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")),
      max(col("p")) - min(col("p"))).collect().head
    withTempDir("graft-zorder3") { dir =>
      Layout.writeZOrderedN(z, Seq(col("x"), col("y"), col("p")), dir, numFiles = 8)

      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"),
          (max(col("p")) - min(col("p"))).as("ps"))
        .collect()
        .map(r => (r.getLong(1).toDouble / full.getLong(0),
          r.getLong(2).toDouble / full.getLong(1),
          r.getLong(3).toDouble / full.getLong(2)))
      assert(spans.length > 1)
      def avg(a: Array[Double]) = a.sum / a.length
      // with 8 files over 3 interleaved dims, each dimension's per-file
      // span must sit well under the full range (8 files ≈ one halving per
      // dimension; a sort on any single column leaves the other two ~1.0)
      val (ax, ay, ap) = (avg(spans.map(_._1)), avg(spans.map(_._2)), avg(spans.map(_._3)))
      assert(ax < 0.8 && ay < 0.8 && ap < 0.8, s"spans not bounded: $ax $ay $ap")
      assert(ax + ay + ap < 2.0, s"joint clustering too weak: $ax $ay $ap")
    }
  }

  test("zkey column and oracle bit-interleave agree on round-trip values") {
    import spark.implicits._
    // interleave then de-interleave: zkey is a bijection on 16-bit pairs
    val probe = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (255L, 256L)).toDF("x", "y")
    val got = probe.withColumn("z", Layout.zkey(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, zv) =>
      var dx = 0L; var dy = 0L
      (0 until 16).foreach { i =>
        dx |= ((zv >> (2 * i)) & 1L) << i
        dy |= ((zv >> (2 * i + 1)) & 1L) << i
      }
      assert(dx == x && dy == y, s"zkey($x,$y)=$zv de-interleaved to ($dx,$dy)")
    }
  }
}
