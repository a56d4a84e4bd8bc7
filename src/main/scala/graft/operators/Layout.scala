package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Data-layout optimization — the write-side half of 100 TB performance.
  *
  * A scan engine prunes with per-file / per-row-group min-max statistics;
  * what those statistics are worth is decided when the data is WRITTEN.
  * Sorting by one column gives perfect pruning on that column and none on
  * any other. Z-ordering (bit-interleaving the dimensions into one sort
  * key) bounds the span of EVERY interleaved dimension within each run of
  * the sort order, so a multi-dimensional predicate prunes on all of them
  * at once — the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
  * expressed here as plain Spark columns: compute the key, then
  * `repartitionByRange(zkey).sortWithinPartitions(zkey)` at write time.
  *
  * The key here interleaves two 16-bit lanes (customer key × order-date
  * day number). 16 bits is a demo parameterization: a production writer
  * first rescales each dimension to its lane via rank quantiles so the
  * lanes are dense regardless of the raw value distribution — the
  * interleave itself is unchanged.
  */
object Layout {

  private val Bits = 16

  /** N-dimensional bit-interleaved Z-order key: column j contributes its
    * bit i at key position `i*n + j`. A flat expression tree of
    * shift/mask terms — codegen folds it into straight-line long
    * arithmetic, no UDF. `bitsPerLane * cols.size` must stay < 63. */
  def zkeyN(cols: Seq[Column], bitsPerLane: Int): Column = {
    require(cols.nonEmpty && bitsPerLane * cols.size < 63,
      s"zkeyN: ${cols.size} lanes x $bitsPerLane bits overflow a long")
    (0 until bitsPerLane).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * cols.size + j)
      }
    }.reduce(_ + _)
  }

  /** Two-dimensional Z key (x even bit positions, y odd). */
  def zkey(x: Column, y: Column): Column = zkeyN(Seq(x, y), Bits)

  private def zkeySql(x: String, y: String): String =
    (0 until Bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-order layout audit over orders (customer key × order-date day):
    * bucket = Z key with the low 16 bits dropped, i.e. one 256×256 tile
    * of the (custkey, day) plane per bucket. The output — per-tile row
    * count and the EXACT span of both dimensions inside the tile — is the
    * pruning guarantee itself: every bucket's custkey span AND day span
    * are ≤ 255, where a single-column sort bounds only its own column.
    * One narrow projection + one hash aggregate on the bucket key. */
  val qZorderLayout: Q = Q(
    "q_zorder_layout",
    s"""WITH z AS (
       |  SELECT o_orderkey,
       |    CAST(o_custkey AS BIGINT) AS x,
       |    CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS y
       |  FROM orders),
       |keyed AS (
       |  SELECT x, y, ${zkeySql("x", "y")} AS zkey FROM z)
       |SELECT zkey >> 16 AS bucket, count(*) AS cnt,
       |  max(x) - min(x) AS custkey_span, max(y) - min(y) AS day_span
       |FROM keyed GROUP BY 1""".stripMargin) { (s, d) =>
    val z = Tables.orders(s, d).select(
      col("o_custkey").cast("long").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("y"))
    z.withColumn("zkey", zkey(col("x"), col("y")))
      .groupBy(shiftright(col("zkey"), 16).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        (max(col("x")) - min(col("x"))).as("custkey_span"),
        (max(col("y")) - min(col("y"))).as("day_span"))
  }

  /** The write path itself: range-partition on the Z key (one skew-aware
    * exchange driven by Spark's range sampler), sort within partitions,
    * write — each output file then covers one contiguous stretch of the
    * Z curve, whose locality property bounds BOTH dimensions' min-max
    * span per file. Readers with predicates on either dimension prune at
    * file/row-group granularity via ordinary parquet statistics — no
    * index, no extra metadata.
    *
    * Both dimensions are first RANGE-NORMALIZED to dense 16-bit lanes
    * (one min/max aggregate — write-time metadata, like the range
    * sampler's own pass). This is not optional: interleaving raw values
    * lets the wider dimension's high bits monopolize the curve's top
    * levels — with a 12-bit date range and an 8-bit key range the top
    * four discriminating bits are ALL date bits, and the "z-ordered"
    * files degenerate to date bands spanning the full key range (the
    * spec's measured failure before normalization: per-file x-span 0.97).
    * `LayoutSpec` measures real per-file spans on read-back against a
    * single-column-sorted write of the same rows. */
  def writeZOrdered(df: org.apache.spark.sql.DataFrame, x: Column, y: Column,
      path: String, numFiles: Int): Unit =
    writeZOrderedN(df, Seq(x, y), path, numFiles)

  /** Multi-column variant (the `OPTIMIZE ZORDER BY (c1, …, ck)` shape):
    * lane width shrinks to keep the interleaved key inside a long, so
    * more dimensions trade per-dimension resolution for coverage —
    * exactly the production trade-off. */
  def writeZOrderedN(df: org.apache.spark.sql.DataFrame, dims: Seq[Column],
      path: String, numFiles: Int): Unit = {
    val bitsPerLane = math.min(16, 62 / dims.size)
    val laneMax = (1L << bitsPerLane) - 1
    val aggExprs = dims.flatMap(c => Seq(min(c).cast("long"), max(c).cast("long")))
    val b = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    require(!b.isNullAt(0),
      "writeZOrdered: input has no non-null rows to lay out")
    val lanes = dims.zipWithIndex.map { case (c, j) =>
      val (lo, hi) = (b.getLong(2 * j), b.getLong(2 * j + 1))
      ((c.cast("long") - lit(lo)) * lit(laneMax) / lit(math.max(hi - lo, 1L)))
        .cast("long")
    }
    df.withColumn("_zkey", zkeyN(lanes, bitsPerLane))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Hilbert-ordered write — same normalize → curve-key → range-partition
    * → sort pipeline as [[writeZOrderedN]], but ordered by the Hilbert
    * index ([[graft.functions.HilbertIndex]], a codegen'd native
    * expression): consecutive curve positions are always grid neighbors,
    * so contiguous file ranges cover tighter regions than the Z curve's
    * tile-boundary jumps. Two dimensions (the classic formulation). */
  def writeHilbertOrdered(df: org.apache.spark.sql.DataFrame,
      x: Column, y: Column, path: String, numFiles: Int): Unit = {
    val aggExprs = Seq(min(x).cast("long"), max(x).cast("long"),
      min(y).cast("long"), max(y).cast("long"))
    val b = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    require(!b.isNullAt(0) && !b.isNullAt(2),
      "writeHilbertOrdered: input has no non-null rows to lay out")
    def lane(c: Column, lo: Long, hi: Long): Column =
      ((c.cast("long") - lit(lo)) * lit(65535L) / lit(math.max(hi - lo, 1L)))
        .cast("long")
    df.withColumn("_hkey", graft.functions.GraftFunctions.hilbert(
        lane(x, b.getLong(0), b.getLong(1)), lane(y, b.getLong(2), b.getLong(3))))
      .repartitionByRange(numFiles, col("_hkey"))
      .sortWithinPartitions("_hkey")
      .drop("_hkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed write — the co-located-join layout. Both sides of a
    * recurring join are written pre-hashed into the SAME number of
    * buckets on the join key (`bucketBy` + `sortBy`, one file per bucket
    * via an explicit repartition on the key): every future join on that
    * key then matches bucket-to-bucket with NO exchange on either side —
    * at 100 TB that deletes the two largest shuffles a fact-dim-fact
    * pipeline has, and it is the one join optimization that must happen
    * at WRITE time (no read-side trick recovers it). The catalog entry
    * (table, not bare path) carries the bucket spec; readers get the
    * hashed distribution for free. */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, key: String,
      numBuckets: Int, table: String, path: String): Unit =
    df.repartition(numBuckets, col(key))
      .write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Hive-style partitioned write — the partition-PRUNING layout: one
    * directory per partition value, so a predicate on the partition
    * column prunes whole directories at PLANNING time (the scan never
    * lists, opens, or reads a byte of the other partitions — visible as
    * `PartitionFilters` on the scan node). The coarse-grained complement
    * to the file-level min-max pruning [[writeZOrderedN]] buys: date is
    * the canonical partition column of every 100 TB event/orders table.
    * `maxRecordsPerFile`-style small-file control is the caller's
    * repartition; here each partition gets the upstream layout. */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, partCol: String,
      path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  private val BucketCount = 8
  private def tag(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** Idempotent per (JVM, sfDir): co-bucketed orders + customer catalog
    * tables on the customer key. Returns (ordersTable, customerTable). */
  private def ensureBucketed(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = synchronized {
    val (ot, ct) = (s"graft_bk_orders_${tag(d)}", s"graft_bk_customer_${tag(d)}")
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) {
      writeBucketed(Tables.orders(s, d), "o_custkey", BucketCount, ot,
        s"/tmp/graft_layout/${tag(d)}/$ot")
      writeBucketed(Tables.customer(s, d), "c_custkey", BucketCount, ct,
        s"/tmp/graft_layout/${tag(d)}/$ct")
    }
    (ot, ct)
  }

  /** Built once per (orders content, JVM): orders re-written partitioned
    * by order month (`o_month=YYYY-MM/` directories) under
    * `orders_by_month`. Its own root, not `/tmp/graft_layout`: the reaper
    * deletes unparseable children, and [[ensureBucketed]]'s catalog
    * tables live there. */
  private val byMonth = TmpDirs.BuildOnce("graft_layout_bymonth", "orders") {
    (s, d, dir) =>
      writePartitioned(
        Tables.orders(s, d)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        "o_month", s"$dir/orders_by_month")
  }

  /** Small-file compaction — the table-maintenance write every streaming
    * or incremental ingest needs: micro-batches and per-task writers leave
    * thousands of KB-sized files, and at 100 TB the scan cost becomes
    * file-OPEN bound (listing, footer reads, task scheduling) rather than
    * byte bound. Sizing is by BYTES, not row count: the existing layout's
    * total size (from file metadata — no data pass) divided by the target
    * file size gives the output file count, and one round-robin
    * repartition rewrites the data. Ordering is deliberately not promised
    * — re-clustering is [[writeZOrderedN]]'s job; compaction fixes file
    * COUNT. Returns the output file count. */
  def compact(s: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    s.read.parquet(inPath).repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Built once per (events content, JVM): events written fragmented (64
    * files — the small-file pathology) then compacted at a 1 MiB target
    * into `events_compacted` (own root, as [[byMonth]]). */
  private val compacted = TmpDirs.BuildOnce("graft_layout_compacted", "events") {
    (s, d, dir) =>
      Tables.events(s, d).repartition(64)
        .write.mode("overwrite").parquet(s"$dir/events_fragmented")
      compact(s, s"$dir/events_fragmented", s"$dir/events_compacted",
        targetBytes = 1L << 20)
      ()
  }

  /** Aggregate over the compacted layout: values identical to the raw
    * table (the oracle reads it) — compaction changes file count, never
    * results. `LayoutCompactionSpec` pins the mechanics: 64 fragments in,
    * byte-sized file count out, zero row drift. The value sum runs in
    * DECIMAL (exact, associative — the `q_incr_rollup` pattern) and the
    * OUTPUT is `round(CAST(x AS DOUBLE), 6)` on both engines: DECIMAL(38,*)
    * output columns hash-mismatch in the driver's HUGEINT bridge despite
    * equal values (round-6 finding). */
  val qCompaction: Q = Q(
    "q_compaction",
    """SELECT event_type, count(*) AS cnt,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      |    AS sum_value
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    s.read.parquet(s"${compacted.dir(s, d)}/events_compacted")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
          .as("sum_value"))
  }

  /** Co-located join over the bucketed layout: orders x customer on the
    * bucket key, merge-join hinted so the bucket distribution (not a
    * broadcast) carries the join at every scale factor. The physical
    * plan has NO exchange below the join — `BucketedLayoutSpec` pins
    * exactly one exchange in the whole plan (the final group-by) vs
    * three for the same join over bare parquet. Values are identical to
    * the plain join; the oracle runs on the raw table. */
  val qBucketedJoin: Q = Q(
    "q_bucketed_join",
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
    val (ot, ct) = ensureBucketed(s, d)
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** Month-predicate aggregate over the partitioned layout: the filter
    * becomes a planning-time `PartitionFilters` entry and only the one
    * `o_month=1995-03/` directory is scanned (`BucketedLayoutSpec` pins
    * the pruned file count). The oracle applies the same predicate to
    * the raw table — layout changes bytes read, never results. */
  val qPartitionPrune: Q = Q(
    "q_partition_prune",
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    s.read.parquet(s"${byMonth.dir(s, d)}/orders_by_month")
      .filter(col("o_month") === "1995-03")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  val all: Seq[Q] = Seq(qZorderLayout, qBucketedJoin, qPartitionPrune, qCompaction)
}
