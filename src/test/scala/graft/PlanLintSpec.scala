package graft

import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

/** Registry-wide physical-plan lint: the scale tripwire.
  *
  * Every `SparkEntry` query is planned (not executed) at sf0.001 and its
  * physical plan checked for the operators that do NOT survive 100 TB —
  * CartesianProduct and BroadcastNestedLoopJoin — except where a query is
  * WHITELISTED because its nested-loop side is broadcast-tiny by
  * construction. A new query (or a regression in an existing one) that
  * plans an unlisted nested loop fails this suite instead of surfacing as
  * a mystery 100× in the next benchmark round.
  *
  * A query whose build or plan throws is itself an offender, named with
  * its error, and the lint goes on to the next query. The RefLogs gates
  * read the reference's committed runs, which live outside the repository
  * ([[operators.RefLogs.Run006Pid]], [[operators.RefLogs.Run003Drop]]):
  * they are planned only where both run directories exist, and named as
  * not planned otherwise.
  */
class PlanLintSpec extends SparkSpec {

  /** Queries whose plans legitimately contain BroadcastNestedLoopJoin —
    * in every case the broadcast side is O(1) or O(√n) rows by
    * construction, so the "nested loop" is a constant-width probe:
    *  - q_time_shift: 1-row min-time anchor (W3);
    *  - q_range_join: small dimension side, non-equi by design;
    *  - q_range_join_binned: the outlier fallback branch (empty unless an
    *    interval exceeds maxBins; AQE elides it at runtime);
    *  - q_scalar_subquery: scalar (1-row) subquery anchor;
    *  - q_tfidf_top: broadcast 1-row corpus size;
    *  - q_knn_brute: broadcast query set (5 rows) — the baseline is a
    *    deliberate full scan;
    *  - q_knn_rerank: the same broadcast query set, twice — the truncated
    *    coarse scan and the exact rerank of the broadcast candidate list;
    *  - q_knn_ivf: broadcast √n codebook (assignment + probes);
    *  - q_embed_pq: broadcast 16-entry-per-subspace codebook;
    *  - q_knn_pq_adc: the same broadcast codebook (code assignment) plus
    *    the broadcast O(100)-row ADC lookup table;
    *  - q_source_divergence: broadcast 1-row corpus token total;
    *  - q_weighted_sample: broadcast 1-row min/max score normalizer;
    *  - q_vocab_coverage: broadcast 1-row corpus token total;
    *  - q_profile: cross join of the two 1-row aggregate passes (hash-agg
    *    profile × string-min/max fold) — both sides single-row by
    *    construction;
    *  - q_time_decay: broadcast 1-row max-timestamp anchor;
    *  - q_heavy_hitters: broadcast 1-row corpus token total;
    *  - q_heavy_hitters_cms: the same broadcast 1-row total (candidate
    *    threshold); the sketch join itself is a broadcast HASH join on
    *    (i, cell);
    *  - q_pmi_cooc: broadcast 1-row corpus doc count;
    *  - q_sparse_cosine: broadcast 1-row corpus doc count (idf);
    *  - q_nb_source_score: broadcast 1-row smoothing constants
    *    (n_pos/n_neg/vocab size);
    *  - q_knn_incr_assign: broadcast O(labels)-row frozen centroid index;
    *  - q_temperature_mix: broadcast 1-row mixing-denominator fold
    *    (total tokens + total √tokens);
    *  - q_nb_calibration: inherits q_nb_source_score's broadcast 1-row
    *    smoothing constants;
    *  - q_knn_ivf2: the level-1 routing pass broadcasts the O(n^¼)
    *    super-cell seed set (the whole point of the hierarchy — the
    *    broadcast is SMALLER than flat IVF's √n codebook).
    *
    * The PERSIST serve paths (q_knn_ivf_persist, q_knn_ivf2_persist) are
    * deliberately absent: their probe computation runs behind an eager
    * localCheckpoint at build time, so the served plan the lint sees is
    * checkpoint-scan → hash joins only — no nested loop to whitelist.
    * q_bpe_merges joined them in r16: the trainer loop checkpoints per
    * iteration (each step's broadcast 1-row argmax crossJoin runs at
    * build time), so the served union is checkpoint-fed too.
    */
  private val bnljByDesign = Set(
    "q_time_shift", "q_range_join", "q_range_join_binned",
    "q_scalar_subquery", "q_tfidf_top", "q_knn_brute", "q_knn_rerank", "q_knn_ivf",
    "q_embed_pq", "q_knn_pq_adc", "q_knn_ivf_pq", "q_sem_decontam",
    "q_source_divergence", "q_weighted_sample", "q_vocab_coverage", "q_profile",
    "q_time_decay", "q_heavy_hitters", "q_heavy_hitters_cms", "q_pmi_cooc",
    "q_sparse_cosine", "q_bm25_topk",
    "q_nb_source_score", "q_knn_incr_assign",
    "q_temperature_mix", "q_nb_calibration", "q_knn_ivf2", "q_knn_filtered",
    "q_hybrid_rrf", "q_hybrid_rrf_persist", "q_hard_negatives")

  /** SortAggregate appears where an aggregate's buffer is not
    * hash-agg-supported. Round 9 shrank this list from 10 to 2: every
    * struct-ordered max_by/min_by argmax in the IVF/PQ/semdedup paths
    * was replaced by the native hash-aggregable `graft_min_k` (plans as
    * ObjectHashAggregate), leaving only collect_list of the
    * q_string_funcs digest rows and q_profile's string-typed min/max
    * buffers (a GLOBAL aggregate with no grouping key — its "sort"
    * aggregate is a sortless fold). Both post-reduction or keyless —
    * acceptable; listed so a NEW sort aggregate in a hot path still
    * trips the lint. */
  private val sortAggByDesign = Set("q_string_funcs", "q_profile")

  private val refRunsPresent =
    Seq(operators.RefLogs.Run006Pid, operators.RefLogs.Run003Drop)
      .forall(d => Files.isDirectory(Paths.get(d)))

  test("no query plans an unlisted cartesian product or nested-loop join") {
    val refLogNames = operators.RefLogs.all.map(_.name).toSet
    val (linted, notPlanned) = SparkEntry.registry
      .partition(q => refRunsPresent || !refLogNames(q.name))
    if (notPlanned.nonEmpty)
      info(s"not planned, reference runs absent (${operators.RefLogs.Run006Pid}, " +
        s"${operators.RefLogs.Run003Drop}): ${notPlanned.map(_.name).mkString(", ")}")
    info(s"planned ${linted.size} of ${linted.size + notPlanned.size} registry queries")
    val offenders = linted.flatMap { q =>
      Try(q.build(spark, sf).queryExecution.executedPlan.toString) match {
        case Failure(e) => Some(s"${q.name}: build failed: ${e.getMessage}")
        case Success(plan) =>
          val bad = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" ->
              (plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(q.name)),
            "SortAggregate" ->
              (plan.contains("SortAggregate") && !sortAggByDesign(q.name))
          ).collect { case (flag, true) => flag }
          if (bad.isEmpty) None else Some(s"${q.name}: ${bad.mkString(", ")}")
      }
    }
    assert(offenders.isEmpty,
      s"plans regressed to non-scalable operators:\n${offenders.mkString("\n")}")
  }

  test("whitelists stay minimal: every whitelisted query still plans its nested loop") {
    // a query dropping off the whitelist should shrink the whitelist, not
    // silently keep a stale entry
    val stale = (bnljByDesign ++ sortAggByDesign).toSeq.sorted.flatMap { name =>
      val q = SparkEntry.registry.find(_.name == name)
        .getOrElse(fail(s"whitelisted query $name not in registry"))
      val plan = q.build(spark, sf).queryExecution.executedPlan.toString
      val used =
        (bnljByDesign(name) && plan.contains("BroadcastNestedLoopJoin")) ||
        (sortAggByDesign(name) && plan.contains("SortAggregate"))
      if (used) None else Some(name)
    }
    assert(stale.isEmpty, s"stale whitelist entries: ${stale.mkString(", ")}")
  }
}
