package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (partitioned/bucketed
  * parquet); here each is a single parquet file per scale factor. All
  * queries go through these helpers so a future catalog/bucketing change
  * is one edit.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Floor below which a table is not worth an exchange to parallelize:
    * for sub-half-MB inputs (dimension tables at every SF; every table at
    * sf≤0.01) the repartition's fixed cost rivals the map work it would
    * spread out. */
  private val MinParallelizeBytes = 512L * 1024

  /** Tables whose downstream per-row work is heavy enough that spreading
    * an unsplittable scan beats the exchange — MEASURED, not assumed
    * (r16 A/B at sf0.1): `documents` feeds regexp-tokenize / minhash /
    * simhash / codec kernels and won 0.3–0.9 s per gate when
    * parallelized. Everything else lost or broke even under the same
    * rule and keeps the plain scan: `lineitem`/`orders` (cheap columnar
    * aggregates — the 1-task scan is already near the work's cost),
    * `embeddings` (re-read many times per gate, often as a broadcast
    * build side where an extra exchange serializes before the join),
    * and `events` (window/agg gates net +5.1 s across the family — the
    * window work is too light to pay for the exchange). */
  private[graft] val ParallelizeTables: Set[String] = Set("documents")

  private val sizeCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def fileBytes(spark: SparkSession, path: String): Long =
    sizeCache.getOrElseUpdate(path,
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => -1L })

  /** Round 16 (optimization): single-file parquet tables split only at
    * row-group/`maxPartitionBytes` boundaries, so a table smaller than
    * one split scans as ONE task and every downstream per-row kernel
    * (tokenize, minhash, posting expansion, cosine) runs single-threaded
    * no matter how many cores the session has — the guide §2.5
    * "unsplittable input" skew, measured as multi-second 1-task map
    * stages across the registry at sf0.1/local[32]. The fix is the
    * guide's own: repartition immediately after the read — but only when
    * (a) the table is big enough that spreading the work beats the
    * exchange's fixed cost ([[MinParallelizeBytes]]) and (b) the scan
    * cannot reach half the session's cores by splitting alone
    * (bytes/maxPartitionBytes < parallelism/2). At cluster scale (b) is
    * false for any real table, so the exchange vanishes exactly where it
    * would hurt — scale-adaptive, not a local[32] constant. Filters and
    * column pruning still reach the scan (Catalyst pushes both through
    * round-robin Repartition). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val bytes = fileBytes(spark, path)
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val dp = spark.sparkContext.defaultParallelism
    if (ParallelizeTables(name) && bytes >= MinParallelizeBytes &&
        bytes / maxSplit < dp / 2)
      df.repartition(dp)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has drifted across testdata
    * generations: TIMESTAMP(NANOS) (read as long under the nanosAsLong
    * legacy flag), TIMESTAMP_NTZ(us), or plain TIMESTAMP(us). Branch on the
    * loaded dtype so a regeneration never breaks the query surface: longs
    * get the ns→us truncation (integral `div`, not `/` — fp division of an
    * ns epoch ~1.7e18 exceeds double precision), NTZ is cast to
    * TimestampType under the UTC session (wall clock preserved, matching
    * DuckDB's naive-timestamp read), TimestampType passes through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"$d/events.parquet: unsupported dtype for ts: $other " +
          "(expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  /** The documents table WITHOUT the unsplittable-scan repartition — for
    * queries the r17 15-rep same-JVM interleaved A/B measured FASTER on
    * the plain 1-task scan (aggregate/join-shaped plans whose first
    * shuffle already spreads the work, so the extra exchange is a pure
    * stage-floor tax): q_tfidf_top, q_bm25_topk, q_corpus_pipeline,
    * q_vocab_coverage, q_dedup_exact, q_nb_source_score,
    * q_token_budget_mix. Heavy per-row-kernel queries (regex counts,
    * minhash/shingles, codec decode) measurably keep the [[load]]
    * repartition. At cluster scale both loaders read identically — the
    * [[load]] guard already drops the exchange for any multi-split scan
    * (TablesLoadGuardSpec). */
  def documentsPlain(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Expected (column, Spark simpleString dtype) per table. Time/timestamp
    * columns may legitimately drift in physical type across testdata
    * regenerations (the loaders adapt — events.ts has shipped as
    * TIMESTAMP(NANOS), TIMESTAMP_NTZ, and TIMESTAMP), so those carry a
    * `None` dtype and are checked by name only.
    */
  private val timeCols = Set("ts", "o_orderdate", "l_shipdate")
  private val expectedSchema: Map[String, Seq[(String, String)]] = Map(
    "region"     -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation"     -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer"   -> Seq("c_custkey" -> "bigint", "c_name" -> "string", "c_nationkey" -> "int",
                        "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier"   -> Seq("s_suppkey" -> "bigint", "s_name" -> "string", "s_nationkey" -> "int",
                        "s_acctbal" -> "double"),
    "part"       -> Seq("p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
                        "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
    "orders"     -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint", "o_orderstatus" -> "string",
                        "o_totalprice" -> "double", "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem"   -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
                        "l_linenumber" -> "int", "l_quantity" -> "double", "l_extendedprice" -> "double",
                        "l_discount" -> "double", "l_tax" -> "double", "l_returnflag" -> "string",
                        "l_linestatus" -> "string", "l_shipdate" -> "timestamp"),
    "events"     -> Seq("event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
                        "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents"  -> Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
                        "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int"))

  /** Fail fast (one clear line) if the driver regenerated testdata with a
    * different shape, instead of surfacing as dozens of downstream analysis
    * errors. Schema reads are metadata-only — this costs milliseconds.
    *
    * Severity split, chosen from the round-5 postmortem: a COLUMN-NAME
    * drift breaks every query that touches the table, so it aborts here;
    * a dtype drift in a non-time column (the round-5 class, e.g. value
    * DOUBLE→FLOAT) is loudly reported on stderr but does NOT abort — most
    * queries still run and the per-query gates localize the damage,
    * whereas aborting would zero the whole verify run. Time columns are
    * names-only (the loaders adapt; nanosAsLong is set BEFORE any raw
    * load so a TIMESTAMP(NANOS) generation reads as long instead of
    * erroring). Additionally forces the `events` loader branch to
    * resolve, so an unsupported ts dtype fails here, not mid-query.
    */
  def validate(s: SparkSession, dir: String): Unit = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val checks = names.map { t =>
      try {
        val got = load(s, dir, t).schema
          .map(f => f.name -> f.dataType.simpleString)
        val want = expectedSchema(t)
        if (got.map(_._1) != want.map(_._1))
          (Some(s"$t: columns ${got.map(_._1)} != expected ${want.map(_._1)}"), None)
        else {
          val drifted = got.zip(want).collect {
            case ((n, g), (_, w)) if !timeCols(n) && g != w => s"$t.$n: $g != expected $w"
          }
          (None, if (drifted.isEmpty) None else Some(drifted.mkString("; ")))
        }
      } catch {
        case e: Exception => (Some(s"$t: unreadable (${e.getMessage})"), None)
      }
    } :+ ((try { events(s, dir).schema; None } catch {
      case e: Exception => Some(s"events loader: ${e.getMessage}")
    }, None))
    checks.flatMap(_._2).foreach(w =>
      System.err.println(s"[tables] WARNING dtype drift under $dir: $w"))
    val fatal = checks.flatMap(_._1)
    require(fatal.isEmpty,
      s"testdata schema drift under $dir:\n  " + fatal.mkString("\n  "))
  }
}

/** One registered query: a DataFrame builder over a scale-factor dir plus an
  * optional DuckDB oracle SQL producing identical columns/values. Queries
  * without an oracle get the driver's weaker rows-only check; their
  * correctness is pinned by unit tests instead.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))
  def noOracle(name: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, None)
}
