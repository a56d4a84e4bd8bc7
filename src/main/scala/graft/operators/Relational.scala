package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.GraftFunctions

/** The relational operator surface (SURVEY.md §2.2-2.8) expressed as
  * declarative DataFrame programs over the testdata tables, each paired with
  * a DuckDB oracle.
  *
  * Scale notes (local[32] tests, 1000-executor target):
  *  - dimension joins broadcast explicitly (region/nation/customer dims);
  *  - fact-fact joins stay sort-merge/shuffle-hash on their equi keys and
  *    rely on AQE for skew;
  *  - global scalars (min over a table) are computed as 1-row aggregates and
  *    broadcast-cross-joined, never as an empty-partition window (which
  *    would serialize the whole table through one task);
  *  - double aggregates are rounded in BOTH engines: fp addition order
  *    differs across partitionings, so unrounded sums would hash-mismatch.
  */
object Relational {

  /** A1/A2 hash aggregation, multi-aggregate single pass (TPC-H Q1 shape).
    * (reference: SimpleStreamingApp.scala:81,114-122) */
  val q1Agg: Q = Q(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
      |  round(sum(l_quantity),2) AS sum_qty,
      |  round(sum(l_extendedprice),2) AS sum_base_price,
      |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      |  round(avg(l_quantity),4) AS avg_qty,
      |  round(avg(l_discount),4) AS avg_disc
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("count_order"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"))
  }

  /** A2: the reference's per-key Stats (count/sum/mean/population stddev) —
    * stddev_pop, not sample stddev, for parity.
    * (reference: SimpleStreamingApp.scala:114-122) */
  val qStats: Q = Q(
    "q_stats_by_type",
    """SELECT event_type, count(value) AS cnt,
      |  round(sum(value),2) AS sum_value,
      |  round(avg(value),4) AS mean_value,
      |  round(stddev_pop(value),4) AS stddev_value
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count("value").as("cnt"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("mean_value"),
        round(stddev_pop("value"), 4).as("stddev_value"))
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** A6 pivot: distinct values become columns, missing combos are 0-filled
    * to match SQL conditional counts. Pivot values are passed explicitly so
    * no extra distinct job runs. (reference: RunLogData.scala:40-54) */
  val qPivot: Q = Q(
    "q_pivot_daily",
    """SELECT CAST(ts AS DATE) AS day,
      |  count(CASE WHEN event_type='click' THEN 1 END) AS click,
      |  count(CASE WHEN event_type='error' THEN 1 END) AS error,
      |  count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
      |  count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
      |  count(CASE WHEN event_type='view' THEN 1 END) AS view
      |FROM events GROUP BY day""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0, EventTypes)
  }

  /** A4 tumbling window aggregation via the real window() operator
    * (epoch-aligned 1h windows ≡ date_trunc in the oracle).
    * (reference: TestData.scala:20-34) */
  val qTumbling: Q = Q(
    "q_tumbling_hour",
    """SELECT date_trunc('hour', ts) AS bucket_start,
      |  count(*) AS cnt, round(sum(value),2) AS sum_value
      |FROM events GROUP BY bucket_start""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("cnt"), col("sum_value"))
  }

  /** A5 dedup-keep-first by key via row_number over a total order — the
    * scalable dedup idiom (dropDuplicates/min_by have no ordering guarantee
    * under ties, so they are not oracle-comparable; l_linenumber alone is
    * not unique in this data). (reference: RunLogData.scala:17-23) */
  val qDedupFirst: Q = Q(
    "q_dedup_first",
    """SELECT l_orderkey, l_linenumber AS first_line,
      |  l_partkey AS first_partkey, round(l_quantity,2) AS first_qty
      |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_partkey, l_quantity) AS rn FROM lineitem)
      |WHERE rn = 1""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_quantity")
    Tables.lineitem(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("l_orderkey"), col("l_linenumber").as("first_line"),
        col("l_partkey").as("first_partkey"),
        round(col("l_quantity"), 2).as("first_qty"))
  }

  /** U1/U3 union + distinct. (reference: TestData.scala:66) */
  val qUnionDistinct: Q = Q(
    "q_union_distinct",
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey FROM supplier""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .distinct()
  }

  /** U4 except / anti set difference. (reference: DataGeneratorActor.scala:170) */
  val qExcept: Q = Q(
    "q_except",
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT SELECT s_nationkey FROM supplier""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
  }

  /** Set intersection (inventory completeness; unused in the reference). */
  val qIntersect: Q = Q(
    "q_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
  }

  /** A9 global min/max over a union of tables.
    * (reference: TestData.scala:119-140) */
  val qMinMax: Q = Q(
    "q_minmax_time",
    """SELECT min(t) AS min_time, max(t) AS max_time FROM
      |(SELECT ts AS t FROM events UNION ALL SELECT o_orderdate FROM orders)""".stripMargin) { (s, d) =>
    Tables.events(s, d).select(col("ts").as("t"))
      .unionByName(Tables.orders(s, d).select(col("o_orderdate").as("t")))
      .agg(min("t").as("min_time"), max("t").as("max_time"))
  }

  /** A7/W1 running cumulative sum as a frame-bounded window function.
    * (reference: TestData.scala:155-168) */
  val qCumSum: Q = Q(
    "q_cumsum_customer",
    """SELECT o_orderkey, o_custkey,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
      |FROM orders""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      round(sum("o_totalprice").over(w), 2).as("running_spend"))
  }

  /** W2 lag-based gap detection: per-user inter-event gaps, counting the
    * ones over an hour. (reference: TestData.scala:244-257) */
  val qLagGaps: Q = Q(
    "q_session_gaps",
    """SELECT user_id,
      |  count(CASE WHEN gap_ms > 3600000 THEN 1 END) AS long_gaps,
      |  max(gap_ms) AS max_gap_ms
      |FROM (SELECT user_id,
      |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS gap_ms
      |  FROM events) GROUP BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("gap_ms", unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(when(col("gap_ms") > 3600000L, 1)).as("long_gaps"),
        max("gap_ms").as("max_gap_ms"))
  }

  /** W-extra ranking: top-3 orders per customer by row_number. */
  val qTopPerGroup: Q = Q(
    "q_top_per_customer",
    """SELECT o_custkey, o_orderkey, rn FROM
      |(SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey
      |   ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
      |WHERE rn <= 3""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
  }

  /** J1 dimension join — dims broadcast so the fact side never shuffles.
    * (reference: TestData.scala:51-63) */
  val qJoinDims: Q = Q(
    "q_join_dims",
    """SELECT r_name, n_name, count(*) AS customers,
      |  round(sum(c_acctbal),2) AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("customers"), round(sum("c_acctbal"), 2).as("total_acctbal"))
  }

  /** Fact-fact equi join (sort-merge at scale) + exact distinct count. */
  val qJoinFact: Q = Q(
    "q_join_fact",
    """SELECT o_orderpriority, count(*) AS line_count,
      |  count(DISTINCT l_orderkey) AS order_count,
      |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("line_count"),
        countDistinct("l_orderkey").as("order_count"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Left-semi join: customers having a big order. */
  val qSemiJoin: Q = Q(
    "q_semi_join",
    """SELECT c_custkey, c_name FROM customer WHERE EXISTS
      |(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  /** Left-anti join: customers with no orders at all. */
  val qAntiJoin: Q = Q(
    "q_anti_join",
    """SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS
      |(SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
  }

  /** Left-outer join with null-aware aggregates (J2's missing→None shape).
    * (reference: RunLogData.scala:46) */
  val qOuterJoin: Q = Q(
    "q_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS order_cnt,
      |  round(coalesce(sum(o_totalprice),0),2) AS spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count("o_orderkey").as("order_cnt"),
        round(coalesce(sum("o_totalprice"), lit(0d)), 2).as("spend"))
  }

  /** As-of join: for each purchase, the user's latest click at-or-before it.
    * Implemented the scale-friendly way — one shuffle on user_id and an
    * ignore-nulls last() window over the merged stream, not an O(n·m)
    * correlated lookup (which the oracle uses, being per-row SQL). */
  val qAsOfJoin: Q = Q(
    "q_asof_join",
    """SELECT event_id, user_id, ts,
      |  (SELECT max(e2.ts) FROM events e2 WHERE e2.user_id = e.user_id
      |     AND e2.event_type = 'click'
      |     AND (e2.ts < e.ts OR (e2.ts = e.ts AND e2.event_id <= e.event_id)))
      |    AS last_click_ts
      |FROM events e WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("click_ts", when(col("event_type") === "click", col("ts")))
      .withColumn("last_click_ts", last("click_ts", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "last_click_ts")
  }

  /** O: global top-k — TakeOrderedAndProject, no full sort at scale. */
  val qTopK: Q = Q(
    "q_topk",
    """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
  }

  /** P7/F16 conditional bucketing (when/otherwise).
    * (reference: RunLogData.scala:74-79) */
  val qConditional: Q = Q(
    "q_conditional_buckets",
    """SELECT CASE WHEN o_totalprice > 200000 THEN 'large'
      |  WHEN o_totalprice > 100000 THEN 'medium' ELSE 'small' END AS size_class,
      |  count(*) AS cnt
      |FROM orders GROUP BY size_class""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(
        when(col("o_totalprice") > 200000, "large")
          .when(col("o_totalprice") > 100000, "medium")
          .otherwise("small").as("size_class"))
      .groupBy("size_class")
      .agg(count(lit(1)).as("cnt"))
  }

  /** P4/F6 regex-extract projection with error-tolerant cast (P1), then
    * aggregate. try_cast, not cast: Spark 4 runs ANSI mode, where a
    * malformed value would fail the query instead of yielding null.
    * (reference: RunLogData.scala:67-98, SimpleStreamingApp.scala:69) */
  val qRegexExtract: Q = Q(
    "q_regex_extract",
    """SELECT event_type, count(k) AS k_cnt, max(k) AS max_k,
      |  round(avg(k),4) AS avg_k
      |FROM (SELECT event_type,
      |    TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
      |  FROM events) GROUP BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(
        col("event_type"),
        expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS int)").as("k"))
      .groupBy("event_type")
      .agg(count("k").as("k_cnt"), max("k").as("max_k"), round(avg("k"), 4).as("avg_k"))
  }

  /** P5/W3 time-shift against a global anchor; the 1-row anchor is
    * broadcast-cross-joined, never an unpartitioned window.
    * (reference: TestData.scala:81-92) */
  val qTimeShift: Q = Q(
    "q_time_shift",
    """SELECT event_id, epoch_ms(ts) -
      |  (SELECT min(epoch_ms(ts)) FROM events) AS shifted_ms
      |FROM events""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val base = ev.agg(min(unix_millis(col("ts"))).as("base_ms"))
    ev.crossJoin(broadcast(base))
      .select(col("event_id"), (unix_millis(col("ts")) - col("base_ms")).as("shifted_ms"))
  }

  /** Rollup (grouping-sets family; Catalyst built-in). */
  val qRollup: Q = Q(
    "q_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |  round(sum(l_quantity),2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** Cube (full grouping-sets lattice; Catalyst built-in). */
  val qCube: Q = Q(
    "q_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Non-equi range (theta) join against a broadcast band dimension —
    * BroadcastNestedLoopJoin with a 3-row build side, so the fact scan
    * streams through untouched. */
  val qRangeJoin: Q = Q(
    "q_range_join",
    """SELECT band, count(*) AS cnt, round(sum(o_totalprice),2) AS total
      |FROM orders JOIN (VALUES ('small', 0, 100000),
      |  ('medium', 100000, 200000), ('large', 200000, 100000000))
      |  AS b(band, lo, hi)
      |ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = Seq(
      ("small", 0, 100000), ("medium", 100000, 200000),
      ("large", 200000, 100000000)).toDF("band", "lo", "hi")
    Tables.orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
  }

  /** The same as-of query through the NATIVE operator
    * ([[graft.plans.AsOfJoin]]: custom logical node + planner strategy +
    * streamed-merge exec). Same oracle as [[qAsOfJoin]] — the two
    * formulations must agree bit-for-bit; the struct time column gives the
    * lexicographic (ts, event_id) tie-break the oracle specifies. */
  val qAsOfNative: Q = Q(
    "q_asof_native",
    """SELECT event_id, user_id, ts,
      |  (SELECT max(e2.ts) FROM events e2 WHERE e2.user_id = e.user_id
      |     AND e2.event_type = 'click'
      |     AND (e2.ts < e.ts OR (e2.ts = e.ts AND e2.event_id <= e.event_id)))
      |    AS last_click_ts
      |FROM events e WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        struct(col("ts"), col("event_id")).as("t"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(struct(col("ts"), col("event_id")).as("rt"),
        col("user_id").as("r_user"), col("ts").as("last_click_ts"))
    graft.plans.AsOfJoin.join(purchases, clicks, "user_id", "r_user", "t", "rt")
      .select("event_id", "user_id", "ts", "last_click_ts")
  }

  /** Binned range join — the fact-×-fact interval join that CANNOT
    * broadcast: every lineitem price matched against a ±1 band around
    * every order total. Plain Spark plans this as a nested loop /
    * cartesian (O(|L|·|R|)); [[graft.plans.BinnedRangeJoin]] quantizes the
    * range dimension into width-10 bins so it becomes an equi-join that
    * shuffles on the bin key — the only shape that survives when both
    * sides are 100 TB facts. Result is identical to the naive join (each
    * pair survives exactly once); the oracle runs the naive SQL. */
  val qRangeJoinBinned: Q = Q(
    "q_range_join_binned",
    """SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice),2) AS total
      |FROM lineitem JOIN orders
      |  ON l_extendedprice >= o_totalprice - 1 AND l_extendedprice < o_totalprice + 1
      |GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    val points = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val intervals = Tables.orders(s, d)
      .select((col("o_totalprice") - 1).as("lo"), (col("o_totalprice") + 1).as("hi"))
    graft.plans.BinnedRangeJoin
      .join(points, intervals, col("l_extendedprice"), col("lo"), col("hi"),
        binWidth = 10.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), round(sum("l_extendedprice"), 2).as("total"))
  }

  /** Salted two-stage aggregation — the skew-mitigation shape for a
    * group-by whose key distribution is pathological (one key taking most
    * rows): stage 1 groups by (key, salt) so the hot key's rows spread
    * over 16 reducers; stage 2 merges the 16 partials per key. The result
    * is identical to the direct group-by (sums/counts are associative;
    * exact decimal arithmetic, rounded once at the end), which is what
    * the oracle runs. AQE's skew handling covers sort-merge JOINS, not
    * aggregations — for aggregations, salting is the technique. Here
    * l_returnflag (3 values over 6M rows/SF) IS a low-cardinality skewed
    * key, making this the honest plan for it at 100 TB. */
  val qSaltedAgg: Q = Q(
    "q_salted_agg",
    """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),2) AS qty,
      |  round(sum(l_extendedprice),2) AS revenue
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), pmod(hash(col("l_orderkey")), lit(16)).as("salt"))
      .agg(count(lit(1)).as("pc"), sum("l_quantity").as("pq"),
        sum("l_extendedprice").as("pe"))
      .groupBy("l_returnflag")
      .agg(sum("pc").as("cnt"), round(sum("pq"), 2).as("qty"),
        round(sum("pe"), 2).as("revenue"))
  }

  /** HyperLogLog sketch vs exact distinct. The sketch estimate itself is
    * engine-specific (DuckDB can't reproduce Spark's HLL++), but the ERROR
    * BOUND is oracle-checkable: Spark emits the exact count plus a
    * within_bound flag (|approx − exact| ≤ 4σ, σ = rsd·exact, floor 5 for
    * tiny groups), and the oracle emits the same exact count with a
    * literal 1 — an out-of-bound sketch value hash-mismatches the gate. */
  val qApproxDistinct: Q = Q(
    "q_approx_distinct",
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
      |  1 AS within_bound
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct("o_custkey").as("exact_customers"),
        approx_count_distinct("o_custkey", 0.02).as("approx_customers"))
      .select(col("o_orderpriority"), col("exact_customers"),
        when(abs(col("approx_customers") - col("exact_customers")) <=
          greatest(lit(5.0), col("exact_customers") * lit(4 * 0.02)), 1)
          .otherwise(0).as("within_bound"))
  }

  /** Build a bloom filter over a key column — distributed aggregate; the
    * one-row binary result is collected to the driver, which is the
    * broadcast seat (≈ numBits/8 bytes — the same residency any broadcast
    * join's small side has, NOT a data-plane collect). */
  def buildBloom(dim: DataFrame, key: org.apache.spark.sql.Column,
      estimatedItems: Long, numBits: Long): Array[Byte] =
    dim.select(GraftFunctions.bloomAgg(xxhash64(key), estimatedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")

  /** Probe-side bloom prefilter: keep rows whose key MIGHT be in the
    * filter (no false negatives — every true match survives). */
  def bloomPrefilter(fact: DataFrame, key: org.apache.spark.sql.Column,
      bloom: Array[Byte]): DataFrame =
    fact.filter(GraftFunctions.bloomContains(bloom, xxhash64(key)))

  /** Bloom-prefiltered fact-dim join — the explicit form of a runtime
    * semi-join filter: build a bloom over the (filtered) dim keys, prune
    * the FACT SCAN with it before the shuffle, then run the exact join
    * (which removes the bloom's false positives, so the result is exact
    * regardless of FPP). At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~selectivity
    * fraction that can possibly match — the manual, reusable version of
    * what AQE's runtime bloom filter injects per-query. The filter rides
    * the scan (codegen'd probe, no join operator), so `.explain` shows
    * the pruning inside the scan stage. */
  val qBloomJoin: Q = Q(
    "q_bloom_join",
    """SELECT l_returnflag, count(*) AS cnt,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin) { (s, d) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = buildBloom(urgent, col("o_orderkey"),
      estimatedItems = 100000L, numBits = 1600000L)
    bloomPrefilter(Tables.lineitem(s, d), col("l_orderkey"), bloom)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
  }

  val all: Seq[Q] = Seq(
    q1Agg, qStats, qPivot, qTumbling, qDedupFirst, qUnionDistinct, qExcept,
    qIntersect, qMinMax, qCumSum, qLagGaps, qTopPerGroup, qJoinDims,
    qJoinFact, qSemiJoin, qAntiJoin, qOuterJoin, qAsOfJoin, qTopK,
    qConditional, qRegexExtract, qTimeShift, qRollup, qCube, qRangeJoin,
    qRangeJoinBinned, qAsOfNative, qSaltedAgg, qApproxDistinct, qBloomJoin)
}
