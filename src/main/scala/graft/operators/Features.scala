package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Portable

/** Feature-engineering and data-quality operators a training-data pipeline
  * runs between curation and training: CDC merge (applying a change batch
  * to a snapshot), exponential time-decay features, robust (median/MAD)
  * outlier detection, character-entropy garbage scoring, and corpus
  * heavy-hitter mining.
  *
  * Scale notes: the CDC merge is ONE full-outer shuffle on the key (the
  * copy-on-write merge shape every table format compiles MERGE INTO down
  * to); decay and heavy-hitters anchor on broadcast 1-row aggregates;
  * outlier detection is the one member with two full scans — inherent to
  * exact nested medians, with `approx_percentile` as the stated single-pass
  * 100 TB swap. FP parity with the DuckDB oracle follows the house rules:
  * no libm transcendentals except log2 (lm-score precedent, rounded at 4),
  * decay weights are exact powers of two, sums that must merge exactly go
  * through DECIMAL.
  */
object Features {

  /** CDC upsert merge — apply a deterministic changes batch (10% updates,
    * 10% deletes, 10% inserts keyed off `c_custkey % 10`) to the customer
    * snapshot: one full-outer join on the key, row-wise resolution, delete
    * filter. This is the relational core of `MERGE INTO` (the incremental
    * sibling of [[Analytic.qIncrRollup]], which merges aggregates; this
    * merges ROWS). At 100 TB both sides shuffle-partition on the key —
    * or better, the snapshot is already bucketed by key
    * ([[Layout.writeBucketed]]) and only the delta moves. */
  val qMergeUpsert: Q = Q(
    "q_merge_upsert",
    """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |changes AS (
      |  SELECT c_custkey AS k, 'U' AS op, round(c_acctbal + 100, 2) AS new_bal,
      |    c_mktsegment AS new_seg FROM base WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey, 'D', NULL, NULL FROM base WHERE c_custkey % 10 = 2
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'I', round(c_acctbal, 2), c_mktsegment
      |  FROM base WHERE c_custkey % 10 = 3)
      |SELECT coalesce(b.c_custkey, c.k) AS c_custkey,
      |  coalesce(b.c_mktsegment, c.new_seg) AS mktsegment,
      |  CASE WHEN c.op IN ('U','I') THEN c.new_bal
      |       ELSE round(b.c_acctbal, 2) END AS acctbal
      |FROM base b FULL JOIN changes c ON b.c_custkey = c.k
      |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin) { (s, d) =>
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    mergeChanges(base, changesBatch(base))
  }

  /** The deterministic changes batch [[qMergeUpsert]] applies: key, op
    * (U/D/I), and the new values for upserts. */
  def changesBatch(base: DataFrame): DataFrame = {
    val m = col("c_custkey") % 10
    val upd = base.filter(m === 1).select(
      col("c_custkey").as("k"), lit("U").as("op"),
      round(col("c_acctbal") + 100, 2).as("new_bal"),
      col("c_mktsegment").as("new_seg"))
    val del = base.filter(m === 2).select(
      col("c_custkey").as("k"), lit("D").as("op"),
      lit(null).cast("double").as("new_bal"),
      lit(null).cast("string").as("new_seg"))
    val ins = base.filter(m === 3).select(
      (col("c_custkey") + 1000000).as("k"), lit("I").as("op"),
      round(col("c_acctbal"), 2).as("new_bal"), col("c_mktsegment").as("new_seg"))
    upd.unionByName(del).unionByName(ins)
  }

  /** Apply a (k, op, new_bal, new_seg) changes batch to the snapshot:
    * full-outer on the key; deletes drop, updates/inserts take the new
    * values, untouched rows pass through. */
  def mergeChanges(base: DataFrame, changes: DataFrame): DataFrame =
    base.join(changes, base("c_custkey") === changes("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        coalesce(col("c_mktsegment"), col("new_seg")).as("mktsegment"),
        when(col("op").isin("U", "I"), col("new_bal"))
          .otherwise(round(col("c_acctbal"), 2)).as("acctbal"))

  /** Snapshot diff — the INVERSE of [[qMergeUpsert]]: given two versions
    * of a table, emit the minimal change feed (op = I/U/D per key) that
    * turns the old into the new. This is how a pipeline without CDC at
    * the source manufactures it (nightly snapshot diffing), and the gate
    * closes the loop: diffing the merged snapshot against the base
    * recovers exactly the changes batch that produced it. Same single
    * full-outer-shuffle shape as the merge; the value comparison runs on
    * 2-decimal-quantized balances so fp noise can't fabricate updates. */
  val qSnapshotDiff: Q = Q(
    "q_snapshot_diff",
    """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |changes AS (
      |  SELECT c_custkey AS k, 'U' AS op, round(c_acctbal + 100, 2) AS new_bal,
      |    c_mktsegment AS new_seg FROM base WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey, 'D', NULL, NULL FROM base WHERE c_custkey % 10 = 2
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'I', round(c_acctbal, 2), c_mktsegment
      |  FROM base WHERE c_custkey % 10 = 3),
      |merged AS (
      |  SELECT coalesce(b.c_custkey, c.k) AS c_custkey,
      |    coalesce(b.c_mktsegment, c.new_seg) AS mktsegment,
      |    CASE WHEN c.op IN ('U','I') THEN c.new_bal
      |         ELSE round(b.c_acctbal, 2) END AS acctbal
      |  FROM base b FULL JOIN changes c ON b.c_custkey = c.k
      |  WHERE c.op IS NULL OR c.op <> 'D'),
      |old AS (SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM base)
      |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |  CASE WHEN o.c_custkey IS NULL THEN 'I'
      |       WHEN n.c_custkey IS NULL THEN 'D'
      |       ELSE 'U' END AS op,
      |  o.acctbal AS old_bal, n.acctbal AS new_bal
      |FROM old o FULL JOIN merged n USING (c_custkey)
      |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
      |  OR o.acctbal <> n.acctbal""".stripMargin) { (s, d) =>
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    diffSnapshots(
      base.select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal")),
      mergeChanges(base, changesBatch(base))
        .select(col("c_custkey"), col("acctbal")))
  }

  /** Minimal (c_custkey, op, old_bal, new_bal) change feed turning `old`
    * into `next`; both sides need (c_custkey, acctbal). */
  def diffSnapshots(old: DataFrame, next: DataFrame): DataFrame = {
    val o = old.select(col("c_custkey").as("o_k"), col("acctbal").as("old_bal"))
    val n = next.select(col("c_custkey").as("n_k"), col("acctbal").as("new_bal"))
    o.join(n, o("o_k") === n("n_k"), "full_outer")
      .filter(col("o_k").isNull || col("n_k").isNull || col("old_bal") =!= col("new_bal"))
      .select(
        coalesce(col("o_k"), col("n_k")).as("c_custkey"),
        when(col("o_k").isNull, "I").when(col("n_k").isNull, "D")
          .otherwise("U").as("op"),
        col("old_bal"), col("new_bal"))
  }

  /** Exponential time-decay engagement features — per user
    * `sum(value · 0.5^age_hours)` with a 1-hour half-life, anchored at the
    * corpus max timestamp: the standard recency-weighted feature every
    * ranking/freshness model consumes. The decay weight is an exact power
    * of two of an INTEGER hour age, so both engines compute the identical
    * double (`exp()` would be libm-dependent and break bit parity — same
    * reasoning as `q_weighted_sample`); terms quantize to DECIMAL(18,6)
    * before the sum so partial aggregates merge exactly in any order.
    * The OUTPUT column is `round(CAST(sum AS DOUBLE), 6)` on both engines:
    * DECIMAL(38,*) is HUGEINT-backed in DuckDB and crosses the driver's
    * hash bridge differently than Spark's decimal (the round-6 mismatch),
    * while the exact decimal sums cast to the identical double. Anchor =
    * broadcast 1-row max; the aggregate is one map-side-combined shuffle
    * on user_id. */
  val qTimeDecay: Q = Q(
    "q_time_decay",
    """WITH ev AS (SELECT user_id, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS secs FROM events),
      |mx AS (SELECT max(secs) AS mx FROM ev)
      |SELECT user_id, count(*) AS n_events,
      |  round(CAST(sum(CAST(value * power(0.5,
      |    CAST((mx - secs) // 3600 AS DOUBLE)) AS DECIMAL(18,6)))
      |    AS DOUBLE), 6) AS decayed_value
      |FROM ev, mx GROUP BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("value"), unix_timestamp(col("ts")).as("secs"))
    timeDecay(ev)
  }

  /** Decayed per-user sum over (user_id, value, secs) rows — see
    * [[qTimeDecay]] for the parity-by-construction weight design. */
  def timeDecay(ev: DataFrame): DataFrame = {
    val mx = ev.agg(max("secs").as("mx"))
    ev.crossJoin(broadcast(mx))
      // `div`, not `/`: integral hour age, exact like the oracle's `//`
      .withColumn("term",
        (col("value") * pow(lit(0.5), expr("(mx - secs) div 3600").cast("double")))
          .cast("decimal(18,6)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("term").cast("double"), 6).as("decayed_value"))
  }

  /** Robust outlier detection — per event_type median and MAD (median
    * absolute deviation), flagging values with deviation > 3·MAD: the
    * outlier gate a feature pipeline runs before training, immune to the
    * outliers it hunts (unlike mean/stddev z-scores). Exact nested medians
    * cost two full scans plus two broadcast joins of the 5-row stats —
    * inherent to the definition; the single-pass 100 TB swap is
    * `approx_percentile` for both levels. Medians and deviations are
    * 4-decimal-quantized on BOTH sides so interpolation ulps can't flip
    * the comparison (`q_percentiles` pins Spark `percentile` ≡ DuckDB
    * `median` at that rounding). */
  val qOutliers: Q = Q(
    "q_outliers",
    """WITH med AS (SELECT event_type, round(median(value), 4) AS med
      |  FROM events GROUP BY 1),
      |dev AS (SELECT e.event_type, m.med,
      |    round(abs(e.value - m.med), 4) AS dev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, round(median(dev), 4) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, min(d.med) AS med, min(m.mad) AS mad,
      |  count(*) AS n, count(CASE WHEN d.dev > 3 * m.mad THEN 1 END) AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type""".stripMargin) { (s, d) =>
    outliers(Tables.events(s, d).select(col("event_type"), col("value")))
  }

  /** Median/MAD outlier counts over (event_type, value) rows. */
  def outliers(ev: DataFrame): DataFrame = {
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", round(abs(col("value") - col("med")), 4))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(dev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(min("med").as("med"), min("mad").as("mad"), count(lit(1)).as("n"),
        count(when(col("dev") > lit(3) * col("mad"), 1)).as("n_outliers"))
  }

  /** Character-entropy garbage scoring — per document the Shannon entropy
    * of its character distribution (first 2000 chars): near-zero entropy
    * is repeated-character junk, abnormally high is binary-in-text noise;
    * curation stacks use it beside the [[TextAnalysis]] quality battery
    * (Gopher rules flag word-level pathologies; entropy catches
    * character-level ones). Computed as `log2(n) − Σc·log2(c)/n` from
    * per-(doc, char) counts: one explode (bounded 2000× by the prefix
    * cap), one map-side-combined count, one per-doc aggregate — all
    * doc-granular shuffles. log2 follows the `q_lm_score` libm-parity
    * precedent (double sums, final round at 4). */
  val qCharEntropy: Q = Q(
    "q_char_entropy",
    """WITH chars AS (SELECT doc_id,
      |    unnest(string_split(substr(text, 1, 2000), '')) AS ch FROM documents),
      |freq AS (SELECT doc_id, ch, count(*) AS c FROM chars
      |  WHERE ch <> '' GROUP BY doc_id, ch),
      |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
      |    sum(c * log2(CAST(c AS DOUBLE))) AS s FROM freq GROUP BY doc_id)
      |SELECT doc_id, n AS n_sampled,
      |  round(log2(CAST(n AS DOUBLE)) - s / n, 4) AS entropy FROM agg""".stripMargin) { (s, d) =>
    charEntropy(Tables.documents(s, d).select(col("doc_id"), col("text")))
  }

  /** Per-doc character entropy over (doc_id, text) rows — see
    * [[qCharEntropy]]. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(substring(col("text"), 1, 2000), "")).as("ch"))
      // Spark's split keeps a trailing empty token where DuckDB's
      // string_split drops it — filter on BOTH sides (no-op in DuckDB)
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), sum(col("c") * log2(col("c").cast("double"))).as("s"))
      .select(col("doc_id"), col("n").as("n_sampled"),
        round(log2(col("n").cast("double")) - col("s") / col("n"), 4).as("entropy"))

  /** Corpus heavy hitters — every token above a RELATIVE frequency
    * threshold (> 0.1% of all corpus tokens): the frequent-item mine
    * behind stopword lists, contamination screens, and boilerplate
    * phrase detection. Where `q_vocab_coverage` walks the top-k coverage
    * curve, this answers the threshold query exactly: token counts are one
    * map-side-combined aggregate, the corpus total a broadcast 1-row
    * anchor, and the filter compares INTEGERS (`cnt · 1000 > total`) so
    * the gate has zero fp surface. At 100 TB the same plan holds — the
    * token-count table is vocabulary-sized, orders smaller than the
    * corpus. */
  val qHeavyHitters: Q = Q(
    "q_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
      |SELECT tok, cnt, round(CAST(cnt AS DOUBLE) / total, 6) AS share
      |FROM counts, tot WHERE cnt * 1000 > total""".stripMargin) { (s, d) =>
    heavyHitters(Tables.documents(s, d).select(col("text")))
  }

  /** Tokens above 0.1% relative corpus frequency, over (text) rows. */
  def heavyHitters(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(graft.functions.Portable.words(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * 1000 > col("total"))
      .select(col("tok"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"))
  }

  /** Count-Min Sketch geometry for [[qHeavyHittersCms]]: depth 4 hash
    * rows × width 1024 counters — 4096 longs of TOTAL state for any
    * corpus size (Cormode–Muthukrishnan 2005; ε = e/w, δ = e^-d). */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024

  /** The (row, cell) CMS coordinates of a token column, one struct per
    * depth row — seeded portable hash, so the oracle re-derives the same
    * cells with `md5(i || '|' || tok)`. */
  private[graft] def cmsCoords(tok: Column): Column =
    array((0 until CmsDepth).map(i =>
      struct(lit(i).as("i"),
        (graft.functions.Portable.hash60(i, tok) % CmsWidth).as("cell"))): _*)

  /** Frequency estimation by Count-Min Sketch — the 100 TB answer to
    * "how often does this token occur" when the exact vocabulary-sized
    * count table of [[qHeavyHitters]] is itself too large to keep hot:
    * the WHOLE sketch is depth × width = 4096 counters, built in one
    * map-side-combined aggregate (each occurrence increments d cells;
    * counters are pure SUMS, so the sketch is order-independent and
    * mergeable across partitions/batches by addition — unlike
    * space-saving/Misra-Gries variants whose contents depend on merge
    * order and could never hash-match a second engine). Point queries
    * are a broadcast join against the 4096-row sketch: est = min over
    * the d cells.
    *
    * The gate queries the sketch for the exact heavy-hitter set and
    * carries the exact counts BESIDE the estimates (the
    * `q_approx_percentiles` discipline): `never_under` pins CMS's
    * one-sided guarantee (est ≥ true, always), `within_bound` pins the
    * overcount against 8·N/w — both flags land as literal 1s in the
    * hash, so the oracle verifies the sketch's accuracy contract, not
    * just its arithmetic. At 100 TB the exact side drops away and the
    * production artifact is the 4096-row sketch + point queries.
    *
    * Oracle: DuckDB rebuilds the identical sketch — same seeded md5
    * cells, same sums, same min — bit-for-bit. */
  val qHeavyHittersCms: Q = Q(
    "q_heavy_hitters_cms",
    s"""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
       |cells AS (SELECT s.i,
       |    CAST(('0x' || substr(md5(s.i || '|' || t.tok),1,15)) AS BIGINT) % $CmsWidth AS cell
       |  FROM toks t CROSS JOIN range($CmsDepth) s(i)),
       |cms AS (SELECT i, cell, CAST(count(*) AS BIGINT) AS c
       |  FROM cells GROUP BY i, cell),
       |hh AS (SELECT tok, CAST(cnt AS BIGINT) AS cnt, total
       |  FROM counts, tot WHERE cnt * 1000 > total),
       |est AS (SELECT h.tok, h.cnt, h.total, min(m.c) AS est_cnt
       |  FROM hh h CROSS JOIN range($CmsDepth) s(i)
       |  JOIN cms m ON m.i = s.i AND m.cell =
       |    CAST(('0x' || substr(md5(s.i || '|' || h.tok),1,15)) AS BIGINT) % $CmsWidth
       |  GROUP BY h.tok, h.cnt, h.total)
       |SELECT tok, cnt, est_cnt,
       |  CAST(est_cnt - cnt AS BIGINT) AS overcount,
       |  CASE WHEN est_cnt >= cnt THEN 1 ELSE 0 END AS never_under,
       |  CASE WHEN (est_cnt - cnt) * $CmsWidth <= 8 * total THEN 1 ELSE 0 END
       |    AS within_bound
       |FROM est""".stripMargin) { (s, d) =>
    heavyHittersCms(Tables.documents(s, d).select(col("text")))
  }

  /** CMS-estimated counts for the exact heavy-hitter set, with the
    * accuracy-contract flags — see [[qHeavyHittersCms]]. */
  def heavyHittersCms(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(explode(graft.functions.Portable.words(col("text"))).as("tok"))
    // the sketch: ≤ depth × width rows, map-side-combined sums
    val cms = toks
      .select(explode(cmsCoords(col("tok"))).as("ic"))
      .groupBy(col("ic.i").as("i"), col("ic.cell").as("cell"))
      .agg(count(lit(1)).as("c"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * 1000 > col("total"))
      .select(col("tok"), col("cnt"), col("total"),
        explode(cmsCoords(col("tok"))).as("ic"))
      .join(broadcast(cms),
        col("ic.i") === col("i") && col("ic.cell") === col("cell"))
      .groupBy("tok", "cnt", "total")
      .agg(min("c").as("est_cnt"))
      .select(col("tok"), col("cnt"), col("est_cnt"),
        (col("est_cnt") - col("cnt")).as("overcount"),
        when(col("est_cnt") >= col("cnt"), 1).otherwise(0).as("never_under"),
        when((col("est_cnt") - col("cnt")) * CmsWidth <= lit(8L) * col("total"), 1)
          .otherwise(0).as("within_bound"))
  }

  /** Per-source adaptive quality gate — keep every document whose quality
    * score (the stopword ratio of `q_quality_score`, rounded at 4) clears
    * its OWN source's 25th percentile: the per-domain threshold filter
    * every curation pipeline runs so one noisy crawl source cannot drag
    * the global cut-off. The threshold is RANK-selected (`row_number` =
    * `ceil(n/4)` under a total order), never interpolated — integer rank
    * logic has zero fp surface where `percentile_cont` interpolation can
    * diverge cross-engine in the last ulp and flip a boundary `>=`. The
    * thresholds table is one row per source → broadcast back. At 100 TB
    * the exact per-source sort swaps for `approx_percentile(score, 0.25)`
    * in a single agg; the gate pins the exact semantics that sketch
    * approximates. */
  val qQualityGate: Q = Q(
    "q_quality_gate",
    s"""WITH scored AS (SELECT doc_id, source,
       |  round(CAST(len(regexp_extract_all(lower(text), '\\b${TextAnalysis.Stop}\\b')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS score
       |  FROM documents),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n FROM scored),
       |thr AS (SELECT source, score AS thr FROM r
       |  WHERE rn = CAST(floor((n + 3) / 4.0) AS BIGINT))
       |SELECT s.doc_id, s.source, s.score FROM scored s
       |JOIN thr t USING (source) WHERE s.score >= t.thr""".stripMargin) { (s, d) =>
    qualityGate(Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")))
  }

  /** Docs at-or-above their source's rank-selected p25 stopword-ratio. */
  def qualityGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nWords = TextAnalysis.wordCountFloor1(col("text"))
    val nStop = TextAnalysis.stopCount(col("text"))
    val scored = docs.select(col("doc_id"), col("source"),
      round(nStop.cast("double") / nWords, 4).as("score"))
    val w = Window.partitionBy("source")
    val thr = scored
      .withColumn("rn", row_number().over(w.orderBy("score", "doc_id")))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") === floor((col("n") + 3) / 4.0).cast("long"))
      .select(col("source"), col("score").as("thr"))
    scored.join(broadcast(thr), "source")
      .filter(col("score") >= col("thr"))
      .select(col("doc_id"), col("source"), col("score"))
  }

  /** Equi-depth feature discretization — each event's value decile WITHIN
    * its event type (`ntile(10)` under the total order `(value, event_id)`
    * so tie placement is deterministic cross-engine), aggregated to the
    * per-(type, decile) count and value span: the quantile-binning pass
    * that turns a raw feature into a categorical one and doubles as a
    * distribution audit. One window sort per type, then a tiny agg. At
    * 100 TB the exact sort swaps for `approx_percentile` cut-points
    * broadcast back as bin edges ([[qQualityGate]]'s same swap); the gate
    * pins what those sketched edges approximate. */
  val qQuantileBins: Q = Q(
    "q_quantile_bins",
    """WITH d AS (SELECT event_type, value,
      |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
      |  FROM events)
      |SELECT event_type, decile, count(*) AS cnt,
      |  round(min(value), 4) AS lo, round(max(value), 4) AS hi
      |FROM d GROUP BY event_type, decile""".stripMargin) { (s, d) =>
    quantileBins(Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")))
  }

  /** The 100 TB path [[qQuantileBins]] documents, implemented: decile
    * bin EDGES from a fixed-size mergeable `approx_percentile` sketch
    * (map-side combined — no per-group value buffering, no per-type
    * window sort), broadcast back as cut-points, every row binned by a
    * 9-element edge scan, then per-bin counts. Two scans of the input,
    * zero sorts, state bounded by types × sketch size at any corpus
    * size.
    *
    * The sketch's edge VALUES are engine-specific, so the gate checks
    * the two invariants instead (the [[graft.operators.Analytic]]
    * `q_approx_percentiles` flag pattern): every sketched edge must lie
    * between the exact quantiles at q ± 0.01 (accuracy 10000 ⇒ rank
    * error n/10000, a 100× slack), and every bin count must be within
    * n/100 + 1 of the ideal n/10 (edge rank error + tie multiplicity —
    * measured max ties 2/4/12 at the three sfs, far under the slack).
    * The oracle emits literal 1 flags: a sketch out of bound
    * hash-mismatches. The exact percentiles computed ALONGSIDE for the
    * bounds give this gate the exact form's cost class — same
    * SCALE.md-documented caveat as `q_approx_percentiles`; the
    * production plan is the sketch + bin passes alone. */
  val qQuantileBinsApprox: Q = Q(
    "q_quantile_bins_approx",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  1 AS ok_edges, 1 AS ok_counts
      |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val qs = (1 to 9).map(_ / 10.0)
    val exQs = qs.flatMap(q => Seq(q - 0.01, q + 0.01))
    val edges = ev.groupBy("event_type").agg(
      percentile_approx(col("value"), array(qs.map(lit): _*), lit(10000)).as("edges"),
      expr(s"percentile(value, array(${exQs.mkString(",")}))").as("ex"),
      count(lit(1)).as("n"))
    val okEdges = (1 to 9).map(k =>
      element_at(col("edges"), k).between(
        element_at(col("ex"), 2 * k - 1), element_at(col("ex"), 2 * k)))
      .reduce(_ && _)
    val cuts = edges.select(col("event_type"), col("edges"), col("n"),
      okEdges.as("ok_edges"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("bin", expr(
        "aggregate(edges, 1, (acc, e) -> acc + CASE WHEN value > e THEN 1 ELSE 0 END)"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"), first("n").as("n"), first("ok_edges").as("oke"))
      .groupBy("event_type")
      .agg(first("n").as("nn"), first("oke").as("oke"),
        max(abs(col("cnt") - col("n") / lit(10.0))).as("max_dev"))
      .select(col("event_type"), col("nn").as("n"),
        when(col("oke"), 1).otherwise(0).as("ok_edges"),
        when(col("max_dev") <= col("nn") / lit(100.0) + 1.0, 1).otherwise(0)
          .as("ok_counts"))
  }

  /** Per-(event_type, value-decile) count and span — see [[qQuantileBins]]. */
  def quantileBins(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events
      .withColumn("decile", ntile(10).over(
        Window.partitionBy("event_type").orderBy("value", "event_id")))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("cnt"),
        round(min("value"), 4).as("lo"), round(max("value"), 4).as("hi"))
  }

  /** Token co-occurrence PMI — document-level pointwise mutual information
    * for every token pair co-occurring in ≥ 25% of the corpus
    * (`4·c_ab >= n`, integer math): the phrase/collocation miner behind
    * boilerplate-template discovery and tokenizer-merge candidates. Pairs
    * come from per-document DISTINCT tokens self-joined on `doc_id`
    * (shuffle on doc_id, pair space bounded by per-doc vocabulary, never
    * corpus vocabulary²); document frequencies and the corpus size join
    * back as broadcasts (vocabulary-sized). All counts are integers; the
    * single fp step is one `log2` of a double ratio built by the identical
    * operation sequence in both engines, rounded at 4 (the `q_lm_score`
    * precedent). Scale safety is an EXACT pushdown, not a cap: a pair
    * needs `c_ab·4 >= n` and `c_ab <= min(df_a, df_b)`, so any token with
    * `df·4 < n` can never reach the output — the frequency threshold is
    * applied per TOKEN before the self-join. The surviving vocabulary is
    * bounded by `sum(df)/(n/4)` = 4× the average per-doc distinct-token
    * count — a corpus constant, independent of corpus size — so per-doc
    * pair expansion is O(constant²) at any scale and results are
    * bit-identical to the unpushed plan. */
  val qPmiCooc: Q = Q(
    "q_pmi_cooc",
    """WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) WHERE length(tok) >= 3),
      |nd AS (SELECT count(*) AS n FROM documents),
      |df AS (SELECT tok, count(*) AS dfc FROM toks GROUP BY tok),
      |p AS (SELECT x.tok AS tok_a, y.tok AS tok_b, count(*) AS c_ab
      |  FROM toks x JOIN toks y ON x.doc_id = y.doc_id AND x.tok < y.tok
      |  GROUP BY 1, 2)
      |SELECT tok_a, tok_b, c_ab,
      |  round(log2(CAST(c_ab AS DOUBLE) * n / (da.dfc * db.dfc)), 4) AS pmi
      |FROM p CROSS JOIN nd
      |JOIN df da ON p.tok_a = da.tok JOIN df db ON p.tok_b = db.tok
      |WHERE c_ab * 4 >= n""".stripMargin) { (s, d) =>
    pmiCooc(Tables.documents(s, d).select(col("doc_id"), col("text")))
  }

  /** Document-level PMI over (doc_id, text) rows — see [[qPmiCooc]]. */
  def pmiCooc(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(graft.functions.Portable.words(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 3)
      .distinct()
    val nDocs = docs.select(count(lit(1)).as("n"))
    val df = toks.groupBy("tok").agg(count(lit(1)).as("dfc"))
    // Exact pushdown: c_ab <= min(df_a, df_b), so tokens below the n/4
    // document-frequency floor cannot appear in any output pair. The
    // survivor vocabulary (tiny by construction) broadcasts, and carries
    // dfc through the pair join so no lookup join-back is needed.
    val hot = df.crossJoin(broadcast(nDocs)).filter(col("dfc") * 4 >= col("n"))
      .select(col("tok"), col("dfc"))
    val toksHot = toks.join(broadcast(hot), "tok")
    val x = toksHot.select(col("doc_id"), col("tok").as("tok_a"), col("dfc").as("df_a"))
    val y = toksHot.select(col("doc_id"), col("tok").as("tok_b"), col("dfc").as("df_b"))
    x.join(y, Seq("doc_id")).filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "df_a", "tok_b", "df_b").agg(count(lit(1)).as("c_ab"))
      .crossJoin(broadcast(nDocs))
      .filter(col("c_ab") * 4 >= col("n"))
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        round(log2(col("c_ab").cast("double") * col("n") / (col("df_a") * col("df_b"))), 4)
          .as("pmi"))
  }

  /** Day-over-day distribution drift — per day, the KL divergence of the
    * event-type distribution against the PREVIOUS observed day's: the
    * ingest monitor that catches a source silently changing shape (a
    * crawler update, an upstream schema break) before it poisons a
    * training mix. Everything heavy is integer counting (one day×type
    * aggregate); the probabilities and `log2` ratio are doubles built by
    * the identical op sequence in both engines, each term quantized to
    * DECIMAL(24,12) before summing so the 5-term sum is exact and
    * order-independent (the `q_time_decay` precedent). Two shuffles on
    * tiny keyspaces (day, event_type); the per-day window runs over
    * #types rows. "Previous" is the previous OBSERVED day per type (lag
    * under day order) — gap-robust and identically defined cross-engine. */
  val qTypeDrift: Q = Q(
    "q_type_drift",
    """WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT day, event_type,
      |    CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY day) AS p FROM c),
      |l AS (SELECT day, p,
      |    lag(p) OVER (PARTITION BY event_type ORDER BY day) AS p_prev FROM p)
      |SELECT day,
      |  round(CAST(sum(CAST(round(p * log2(p / p_prev), 12) AS DECIMAL(24,12)))
      |    AS DOUBLE), 6) AS drift,
      |  count(*) AS n_types
      |FROM l WHERE p_prev IS NOT NULL GROUP BY day""".stripMargin) { (s, d) =>
    typeDrift(Tables.events(s, d).select(col("ts"), col("event_type")))
  }

  /** Per-day KL drift vs the previous day — see [[qTypeDrift]]. */
  def typeDrift(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val scored = counts
      .withColumn("p", col("cnt").cast("double") /
        sum("cnt").over(Window.partitionBy("day")))
      .withColumn("p_prev",
        lag("p", 1).over(Window.partitionBy("event_type").orderBy("day")))
      .filter(col("p_prev").isNotNull)
      .withColumn("term",
        round(col("p") * log2(col("p") / col("p_prev")), 12).cast("decimal(24,12)"))
    scored.groupBy("day")
      .agg(round(sum("term").cast("double"), 6).as("drift"),
        count(lit(1)).as("n_types"))
  }

  /** Arithmetic 4-way batch split for the CDC/time-travel gates:
    * `b = seq % 4 + 1` — a pure per-row expression, NO global sort (the
    * round-12 `ntile(4) OVER (ORDER BY seq)` shaping was a
    * single-partition Exchange+Sort that a 100×-scale replay of the
    * gate would serialize on). The batches are seq-INTERLEAVED rather
    * than seq-contiguous, which exercises the sequence-numbered
    * tombstones harder: most keys now see upserts in an EARLIER batch
    * superseded by ops in a later one, and delete-then-reingest
    * crossings are routine rather than rare. Asserted shuffle-free by
    * FeaturesSpec (PlanLint style). */
  private[graft] def seqBatches(log: DataFrame, seqCol: String, n: Int = 4): DataFrame =
    log.withColumn("b", (col(seqCol) % n + 1).cast("int"))

  /** The streamed sibling of [[qMergeUpsert]]: a CDC log applied
    * micro-batch by micro-batch through
    * [[graft.streaming.StreamCdcApply]] — merge-on-read over the
    * delta/tombstone tree instead of a per-batch snapshot rewrite. The
    * log derives from `orders`: seq = o_orderkey (the CDC sequence),
    * key = o_custkey (so most keys carry MANY versions — ~10 ops/key at
    * sf0.01), op = delete for every 11th seq else upsert, payload =
    * the rounded total price. Batches are the arithmetic interleave
    * [[seqBatches]] (gate plumbing — production batching IS the stream
    * order; the arithmetic split keeps the gate plan free of the global
    * sort ntile would need); each batch is resolved to last-op-per-key
    * (one batch-sized window), applied (tombstone priors at watermark
    * b−1, land upserts), and the table generation-folds MID-RUN after
    * batch 2. The oracle is the closed form the whole machinery must
    * equal: per key, the resolved op of the HIGHEST batch touching the
    * key wins (within a batch, the highest seq) — the exact semantics
    * the sequence-numbered tombstones implement; deletes leave no row.
    * Batch boundaries, fold timing, tombstone sequencing — none of it
    * may change a bit of the final table. */
  val qCdcStream: Q = Q(
    "q_cdc_stream",
    """WITH log AS (SELECT o_orderkey AS seq, o_custkey AS k,
      |    round(o_totalprice, 2) AS v,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
      |    CAST(o_orderkey % 4 + 1 AS INT) AS b
      |  FROM orders),
      |last AS (SELECT k, v, op,
      |    row_number() OVER (PARTITION BY k ORDER BY b DESC, seq DESC) AS rn
      |  FROM log)
      |SELECT k AS cust_key, v AS val FROM last
      |WHERE rn = 1 AND op = 'U'""".stripMargin) { (s, d) =>
    val dir = s"${TmpDirs.runDir("graft_cdcstream")}/table"
    val log = Tables.orders(s, d).select(
      col("o_orderkey").as("seq"), col("o_custkey").as("doc_id"),
      round(col("o_totalprice"), 2).as("v"),
      when(col("o_orderkey") % 11 === 0, "D").otherwise("U").as("op"))
    val byBatch = seqBatches(log, "seq").localCheckpoint()
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("seq").desc)
    (1 to 4).foreach { b =>
      val resolved = byBatch.filter(col("b") === b)
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("op"), col("v"))
      graft.streaming.StreamCdcApply.applyBatch(resolved, dir, b.toLong)
      if (b == 2) { graft.streaming.StreamCdcApply.compactTable(s, dir); () }
    }
    graft.streaming.StreamCdcApply.currentTable(s, dir)
      .select(col("doc_id").as("cust_key"), col("v").as("val"))
      .localCheckpoint()
  }

  /** Snapshot retention + time travel over the landed corpus — the
    * reproducibility primitive a training pipeline needs: "train on the
    * corpus EXACTLY as it was at snapshot g" long after ingestion moved
    * on. The gate lands 4 batches ([[seqBatches]] arithmetic interleave
    * — no global sort in the gate plan), folds after batch 2
    * (snapshot gen 0), lands two more, folds again with
    * `retainSnapshots = 1` (gen 1 current, gen 0 retained + readable),
    * and emits BOTH views labeled: the oracle's closed forms are "rows
    * of batches ≤ 2" for the snapshot and "all rows" for current —
    * so retention, the manifest's history field, and the as-of read are
    * all hash-checked. GC keeps exactly {current} ∪ retained (specced);
    * at 100 TB retention is the familiar storage-for-reproducibility
    * trade every table format makes. */
  val qTimeTravel: Q = Q(
    "q_time_travel",
    """WITH log AS (SELECT o_orderkey AS seq, o_custkey AS k,
      |    round(o_totalprice, 2) AS v,
      |    CAST(o_orderkey % 4 + 1 AS INT) AS b
      |  FROM orders)
      |SELECT 'snap0' AS snap, seq, k AS cust_key, v AS val FROM log WHERE b <= 2
      |UNION ALL
      |SELECT 'current' AS snap, seq, k AS cust_key, v AS val FROM log""".stripMargin) { (s, d) =>
    val dir = s"${TmpDirs.runDir("graft_timetravel")}/table"
    val log = Tables.orders(s, d).select(
      col("o_orderkey").as("doc_id"), col("o_custkey").as("k"),
      round(col("o_totalprice"), 2).as("v"))
    val byBatch = seqBatches(log, "doc_id").localCheckpoint()
    def land(b: Int): Unit = {
      graft.streaming.StreamShardRouter.landBatch(
        byBatch.filter(col("b") === b).drop("b"), dir, b.toLong)
      ()
    }
    // landings between folds are independent jobs over a checkpointed
    // source (distinct batch dirs) — overlap them (guide §2.6); the
    // folds stay barriers, exactly as the snapshot semantics require
    Par.units(() => land(1), () => land(2))
    graft.streaming.DeltaCompact.compact(s, dir) // gen 0, watermark 2
    Par.units(() => land(3), () => land(4))
    graft.streaming.DeltaCompact.compact(s, dir, retainSnapshots = 1) // gen 1
    def shape(df: org.apache.spark.sql.DataFrame, snap: String) =
      df.select(lit(snap).as("snap"), col("doc_id").as("seq"),
        col("k").as("cust_key"), col("v").as("val"))
    shape(graft.streaming.DeltaCompact.readCorpusAsOf(s, dir, 0L), "snap0")
      .unionByName(shape(graft.streaming.DeltaCompact.readCorpus(s, dir), "current"))
      .localCheckpoint()
  }

  val all: Seq[Q] =
    Seq(qMergeUpsert, qSnapshotDiff, qTimeDecay, qOutliers, qCharEntropy,
      qHeavyHitters, qHeavyHittersCms, qQualityGate, qQuantileBins, qQuantileBinsApprox,
      qPmiCooc, qTypeDrift, qCdcStream, qTimeTravel)
}
