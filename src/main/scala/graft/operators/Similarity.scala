package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.{GraftFunctions, Portable}

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * Brute-force cosine top-k is the correctness baseline: a broadcast of the
  * (small) query set against a scan of the corpus — one pass, no shuffle of
  * the corpus, scales linearly in corpus size. The IVF variant is the scale
  * path: a deterministic coarse quantizer prunes the scan to the probed
  * cells, trading recall for a ~cells/nprobe scan reduction. The LSH
  * near-dup variant buckets by random-hyperplane sign bits so candidate
  * pairs shuffle on a 16-bit key instead of forming O(n²) pairs.
  */
object Similarity {

  private val K = 3
  private val NumQueries = 5

  // the native codegen'd cosine (functions/FloatCosine.scala): bit-identical
  // accumulation order to Portable.cosine and the DuckDB oracle, but a
  // single fused loop instead of zip_with+aggregate intermediate arrays
  private def cosExpr = GraftFunctions.cosine(col("q_embedding"), col("embedding"))

  /** Brute-force cosine top-k: broadcast queries × corpus scan. */
  val qKnnBrute: Q = Q(
    "q_knn_brute",
    s"""SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |(SELECT query_id, neighbor_id, sim, row_number() OVER
       |   (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       | FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |       CAST(c.embedding AS DOUBLE[])) AS sim
       |   FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |   WHERE q.vec_id < $NumQueries))
       |WHERE rank <= $K""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** Per-label centroid, dimension-wise — the vector aggregate that backs
    * IVF training. Explode-then-aggregate keeps it a plain shuffle on
    * (label, pos) rather than driver-side vector math. */
  val qCentroids: Q = Q(
    "q_embed_centroids",
    """SELECT label, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)),4) AS centroid
      |FROM embeddings, range(1, 65) t(i) GROUP BY label, i""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("v").cast("double")), 4).as("centroid"))
  }

  /** Shared oracle CTE chain (through `assigned`/`probes`) for the IVF
    * family: √n stride seeds → 2 Lloyd iterations (round+float-truncate
    * bit parity) → per-vector cell assignment and per-query probe cells.
    *
    * MEMORY SHAPE (the 100×-corpus feasibility fix, VERDICT r14 #2): each
    * per-vector argmax MATERIALIZES the scalar pair projection
    * (vec_id, cent_id, csim — ~20 B/row, ≈2 GB at 200 k × √n) and
    * resolves it with plain max + a min-on-tie equi-join (the
    * [[qSemDedup]] oracle's own `mx` pattern). The previous
    * `row_number() OVER (PARTITION BY vec_id ORDER BY csim …)` window
    * forced DuckDB to materialize the n×√n cross join WITH both
    * 64-double list columns inside the sort (the order key is computed
    * during the sort) — ≈100 GB at 200 k vectors, the observed 48 GB RAM
    * + 70 GB spill exhaustion; a `max(struct_pack(…))` aggregate was no
    * better (DuckDB's nested-type aggregate states arena-allocate per
    * UPDATE, ~130 B/pair measured). `max(csim)` + `min(cent_id)` on the
    * tie is value-identical to `ORDER BY csim DESC, cent_id … rn = 1`
    * over the same materialized doubles (cross-validated all three forms
    * at 30 k vectors: zero mismatches), so the gate semantics are
    * unchanged — same oracle, affordable at every scale (measured: one
    * argmax step 24 s / 7.8 GB peak at 200 k vectors). Per-query CTEs
    * (`qsims`/`probes`) keep the window form over the final pair table:
    * 5 queries × √n cells is trivially small. */
  private val DuckIvfCtes: String =
    s"""stride AS (SELECT GREATEST(1, CAST(floor(sqrt(count(*))) AS BIGINT)) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS c
       |    FROM embeddings WHERE vec_id % (SELECT v FROM stride) = 0),
       |p1 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c) AS csim
       |  FROM embeddings e CROSS JOIN c0 c),
       |a1 AS (SELECT s.vec_id, min(s.cent_id) AS cell FROM p1 s
       |  JOIN (SELECT vec_id, max(csim) AS m FROM p1 GROUP BY vec_id) mx1
       |    ON s.vec_id = mx1.vec_id AND s.csim = mx1.m
       |  GROUP BY s.vec_id),
       |c1 AS (SELECT cell AS cent_id, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS c FROM
       |  (SELECT a.cell, t.i AS pos, round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS m
       |   FROM a1 a JOIN embeddings e ON e.vec_id = a.vec_id, range(1, 65) t(i)
       |   GROUP BY a.cell, t.i) GROUP BY cell),
       |p2 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c) AS csim
       |  FROM embeddings e CROSS JOIN c1 c),
       |a2 AS (SELECT s.vec_id, min(s.cent_id) AS cell FROM p2 s
       |  JOIN (SELECT vec_id, max(csim) AS m FROM p2 GROUP BY vec_id) mx2
       |    ON s.vec_id = mx2.vec_id AND s.csim = mx2.m
       |  GROUP BY s.vec_id),
       |c2 AS (SELECT cell AS cent_id, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS c FROM
       |  (SELECT a.cell, t.i AS pos, round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS m
       |   FROM a2 a JOIN embeddings e ON e.vec_id = a.vec_id, range(1, 65) t(i)
       |   GROUP BY a.cell, t.i) GROUP BY cell),
       |p3 AS MATERIALIZED (SELECT e.vec_id, c.cent_id,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c) AS csim
       |  FROM embeddings e CROSS JOIN c2 c),
       |assigned AS (SELECT s.vec_id, min(s.cent_id) AS cell FROM p3 s
       |  JOIN (SELECT vec_id, max(csim) AS m FROM p3 GROUP BY vec_id) mx3
       |    ON s.vec_id = mx3.vec_id AND s.csim = mx3.m
       |  GROUP BY s.vec_id),
       |qsims AS (SELECT vec_id, cent_id, csim FROM p3
       |  WHERE vec_id < $NumQueries),
       |probes AS (SELECT vec_id AS query_id, cent_id AS cell FROM
       |  (SELECT vec_id, cent_id, row_number() OVER
       |     (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |   FROM qsims)
       |  WHERE rn <= 4)""".stripMargin

  /** The IVF probe-and-rank pipeline in DuckDB, shared verbatim by
    * [[qKnnIvf]] and [[qKnnIvfPersist]] — persistence must not change a
    * result bit, so the oracle is identical. */
  private val DuckIvfSql: String =
    s"""WITH $DuckIvfCtes,
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings n ON n.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM scored)
       |WHERE rank <= $K""".stripMargin

  /** IVF ANN, the scale path: ≈√n coarse cells (stride-seeded, then 2
    * deterministic Lloyd iterations train the codebook), assign every
    * vector to its nearest cell, probe the query's 4 nearest cells,
    * brute-force only within them — the standard inverted-file layout
    * where scan cost drops by ≈ cells/nprobe.
    *
    * Determinism for the oracle: a FIXED iteration count (no convergence
    * test), argmax tie-break by smallest cent_id, per-dimension means
    * rounded to 6 decimals then truncated to FLOAT before the next
    * assignment (both engines sum doubles in different orders — the
    * round+truncate re-synchronizes the codebooks bit-for-bit, the same
    * trick [[qEmbedNearDup]]'s hyperplanes use), and the bit-identical
    * fused float cosine. The whole pipeline mirrors in SQL; the spec
    * additionally asserts recall against [[qKnnBrute]].
    *
    * Scale shape: centroids are O(√n) — broadcast; assignment is a narrow
    * broadcast pass with a map-side-combined hash-aggregable argmax (`graft_min_k`), one
    * exchange row per vector; Lloyd means are hash aggregates on
    * (cell, dim). Nothing all-pairs, nothing driver-side but the √n
    * codebook. */
  val qKnnIvf: Q = Q("q_knn_ivf", DuckIvfSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cents = ivfCodebook(emb)
    val assigned = ivfAssign(emb, cents)
    val probes = ivfProbes(emb, cents)
    // brute force within probed cells only
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    assigned.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** Metadata-filtered ANN — "vector search WHERE label = x", the
    * filtered-search mode every production vector store serves (per-tenant
    * corpora, language-restricted retrieval, safety-tier filtering): each
    * query retrieves its top-[[K]] cosine neighbors among only the
    * candidates sharing the QUERY'S OWN label, through the same
    * Lloyd-trained IVF probe path as [[qKnnIvf]].
    *
    * The design point is WHERE the predicate lands: on the postings
    * between the probe join and the similarity ranking (filter-DURING-
    * search), never on the ranked output (post-filtering top-k under-
    * fills k whenever the filter is selective — filtering first keeps
    * the guarantee "k best among eligible"). At scale the label would be
    * stored IN the posting list (the [[qKnnIvfPersist]] layout gains a
    * metadata column, so the filter is pushed to the postings scan);
    * here the shared in-flight helper is label-free, so the gate joins
    * the corpus's (vec_id, label) sidecar on the co-keyed id — one
    * same-key join AQE resolves, no new shuffle structure.
    *
    * Second filtered-search lever: nprobe scales with the filter's
    * selectivity. A ~1-in-10 label filter leaves ~1/10 of each probed
    * cell eligible, so the unfiltered nprobe=4 under-covers the eligible
    * set (measured recall 0.27 on sf0.001); this gate probes
    * [[FilteredProbes]] = 8 cells — the production rule
    * nprobe_filtered ≈ nprobe / selectivity, capped by the cell count.
    * Cost stays bounded: candidates ≤ probes × cell-occupancy × 1/10.
    * The oracle replays the identical widened probe pipeline with the
    * label equality in the candidate join. */
  private val FilteredProbes = 8

  /** The full filtered-ANN pipeline in DuckDB, shared verbatim by
    * [[qKnnFiltered]] and [[qKnnFilteredPersist]] — persistence must not
    * change a result bit, so the oracle is identical. */
  private val DuckFilteredSql: String =
    s"""WITH $DuckIvfCtes,
       |probesf AS (SELECT vec_id AS query_id, cent_id AS cell FROM
       |  (SELECT vec_id, cent_id, row_number() OVER
       |     (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |   FROM qsims)
       |  WHERE rn <= $FilteredProbes),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim
       |  FROM probesf p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings n ON n.vec_id = a.vec_id
       |  WHERE n.label = q.label)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM scored)
       |WHERE rank <= $K""".stripMargin

  val qKnnFiltered: Q = Q("q_knn_filtered", DuckFilteredSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cents = ivfCodebook(emb)
    val assigned = ivfAssign(emb, cents)
    val probes = ivfProbes(emb, cents, FilteredProbes)
    val qLabels = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    // label rides IN the posting row (ivfAssign carries it) — no corpus
    // back-join for metadata, the same shape the persisted layout serves
    assigned.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(qLabels), Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id") && col("label") === col("q_label"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** Hard-negative mining — for each query, the top-[[K]] most-similar
    * candidates whose label DIFFERS from the query's: the contrastive-
    * training counterpart of [[qKnnFiltered]] (high-similarity,
    * wrong-class examples are the negatives that actually move an
    * embedding model; random negatives are too easy to carry gradient).
    * Same Lloyd-trained IVF probe path; the predicate flips to label
    * INEQUALITY and lands in the same place — on the postings between
    * probe join and ranking, never post-top-k.
    *
    * nprobe widens 4→8 like [[qKnnFiltered]], but for the OPPOSITE
    * reason: eligibility is ~90% (selectivity says base nprobe), yet in
    * a label-clustered embedding space the query's own nearest cells
    * are dominated by SAME-label vectors — the near different-label
    * candidates concentrate just across the class boundary, in cells
    * adjacent to the query's. Measured on sf0.001: recall 0.4 at
    * nprobe=4, above the 0.5 floor at 8 — the probe ring must cross
    * the boundary, not just cover the eligible fraction.
    * Scale shape is [[qKnnIvf]]'s: broadcast O(√n) codebook, one
    * exchange row per vector, candidates ≤ nprobe × cell-occupancy,
    * label carried by a co-keyed sidecar join AQE resolves (at scale it
    * is a postings-scan column, the [[qKnnIvfPersist]] layout).
    *
    * Oracle note: the candidate CTE is MATERIALIZED so the label
    * INEQUALITY stays a filter over the (tiny, equi-joined) candidate
    * set. Inlined, DuckDB's join-order search can pick `<>` as the
    * join driver — embeddings × embeddings ≈ n²·0.9 pairs, which at
    * the 10× corpus exhausted 100 GB RAM + 79 GB spill before the
    * fence was added ('=' in [[qKnnFiltered]] never tempts it: an
    * equality is a hash-join key). */
  /** [[qHardNegatives]]' oracle, shared with [[qHardNegativesPersist]]
    * (identical-oracle persistence discipline). */
  private val DuckHardNegSql: String =
    s"""WITH $DuckIvfCtes,
       |probesf AS (SELECT vec_id AS query_id, cent_id AS cell FROM
       |  (SELECT vec_id, cent_id, row_number() OVER
       |     (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
       |   FROM qsims)
       |  WHERE rn <= $FilteredProbes),
       |cand AS MATERIALIZED (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim,
       |    q.label AS q_label, n.label AS n_label
       |  FROM probesf p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings n ON n.vec_id = a.vec_id),
       |scored AS (SELECT query_id, neighbor_id, sim FROM cand
       |  WHERE n_label <> q_label)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM scored)
       |WHERE rank <= $K""".stripMargin

  val qHardNegatives: Q = Q("q_hard_negatives", DuckHardNegSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cents = ivfCodebook(emb)
    val assigned = ivfAssign(emb, cents)
    val probes = ivfProbes(emb, cents, FilteredProbes)
    val qLabels = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    // label in the posting row, same as qKnnFiltered — no sidecar join
    assigned.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(qLabels), Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** [[qKnnFiltered]] served off the PERSISTED index — the layout
    * completion the filtered gate's notes promised: the label is a
    * COLUMN OF THE LANDED POSTINGS ([[ivfAssign]] carries it through the
    * cell-partitioned write), so the filtered serve is a pure index read
    * with metadata needing NO corpus back-join, and the label predicate
    * is PUSHED INTO THE POSTINGS SCAN. The query batch's label set is a
    * bounded plan parameter (≤ queries distinct values, like the
    * probed-cell list) pushed as a static isin the scan's PushedFilters
    * carry into row-group skipping; the exact per-query equality rides
    * the broadcast join. Probes behind an eager localCheckpoint (the
    * [[qKnnIvfPersist]] discipline), so the served plan is
    * checkpoint-scan → pruned postings scan → hash joins only. Oracle
    * IDENTICAL to [[qKnnFiltered]] — persistence must not change a bit. */
  val qKnnFilteredPersist: Q = Q("q_knn_filtered_persist", DuckFilteredSql) { (s, d) =>
    val dir = ivfIndex.dir(s, d)
    val codebook = s.read.parquet(s"$dir/codebook")
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("cell", col("cell").cast("long"))
    val emb = Tables.embeddings(s, d)
    val probesCk = ivfProbes(emb, codebook, FilteredProbes).localCheckpoint()
    val probedCells = probesCk.select("cell").distinct().collect().map(_.getLong(0))
    val qLabels = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
      .localCheckpoint()
    val qLabelVals = qLabels.select("q_label").distinct().collect().map(_.getInt(0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    postings.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"), col("cell"))
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .filter(col("label").isin(qLabelVals.toSeq: _*))
      .join(broadcast(probesCk), Seq("cell"))
      .join(broadcast(qLabels), Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id") && col("label") === col("q_label"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** [[qHardNegatives]] served off the PERSISTED index. Same layout win
    * as [[qKnnFilteredPersist]] — the label is a postings column, no
    * sidecar join — but NO global label pushdown: with a multi-label
    * query batch the inequality-eligible set is (almost always) the full
    * label domain, so a static NOT-IN buys nothing; the per-query
    * inequality stays on the joined rows, between probe join and ranking
    * as always. Oracle identical to [[qHardNegatives]]. */
  val qHardNegativesPersist: Q = Q("q_hard_negatives_persist", DuckHardNegSql) { (s, d) =>
    val dir = ivfIndex.dir(s, d)
    val codebook = s.read.parquet(s"$dir/codebook")
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("cell", col("cell").cast("long"))
    val emb = Tables.embeddings(s, d)
    val probesCk = ivfProbes(emb, codebook, FilteredProbes).localCheckpoint()
    val probedCells = probesCk.select("cell").distinct().collect().map(_.getLong(0))
    val qLabels = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    postings.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"), col("cell"))
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .join(broadcast(probesCk), Seq("cell"))
      .join(broadcast(qLabels), Seq("query_id"))
      .filter(col("neighbor_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** Reciprocal-rank-fusion constant (Cormack et al., SIGIR'09): 60 is
    * the published default; RRF only reads RANKS, never raw scores, so
    * the lexical and semantic scales need no calibration. */
  private val RrfK = 60
  private val RrfTopK = 5

  /** Hybrid retrieval — BM25 ∪ ANN fused by reciprocal-rank fusion, the
    * standard hybrid-search mode of every production RAG stack (lexical
    * recall catches exact-term matches the embedding misses; semantic
    * recall catches paraphrases lexical misses; RRF needs only the two
    * RANKED LISTS, so the engines compose without score calibration):
    * `rrf(d) = Σ_lists 1/(60 + rank_list(d))`, fused top-[[RrfTopK]].
    *
    * Scale shape: pure composition — the [[graft.operators.TextAnalysis]]
    * impact-pruned BM25 plan and the [[qKnnIvf]] probe plan run as
    * branches (each already bounded: ≤ terms × 64 and
    * ≤ nprobe × occupancy candidates), and the fusion itself touches
    * only their top-k OUTPUTS: ≤ 13 rows per query, a UNION + one
    * 2-key hash aggregate + a top-5 window. Cross-engine exactness:
    * 1/(60+rank) is identical IEEE division on identical int ranks,
    * rounded at 9 into DECIMAL(12,9) and summed exactly; fused order
    * ties broken by doc_id. The doc↔vector identity (doc_id = vec_id,
    * the testdata's 1:1 correspondence) is the join key between the two
    * modalities. */
  /** The full hybrid pipeline in DuckDB, shared verbatim by [[qHybridRrf]]
    * and [[qHybridRrfPersist]] — persistence must not change a result bit,
    * so the oracle is identical (the [[DuckLshSql]] discipline). */
  private val DuckHybridSql: String =
    s"""WITH $DuckIvfCtes,
       |${graft.operators.TextAnalysis.DuckBm25Ctes},
       |ivfscored AS (SELECT p.query_id, a.vec_id AS doc_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings n ON n.vec_id = a.vec_id),
       |sem AS (SELECT query_id, doc_id, rank FROM
       |  (SELECT query_id, doc_id, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
       |   FROM ivfscored) WHERE rank <= $K),
       |lex AS (SELECT query_id, doc_id, rank FROM bm25ranked
       |  WHERE rank <= ${graft.operators.TextAnalysis.Bm25K} AND query_id < $NumQueries),
       |unioned AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
       |fused AS (SELECT query_id, doc_id,
       |    sum(CAST(round(CAST(1.0 AS DOUBLE) / ($RrfK + rank), 9)
       |      AS DECIMAL(12,9))) AS rrfsum
       |  FROM unioned GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, round(CAST(rrfsum AS DOUBLE), 6) AS rrf, rank
       |FROM (SELECT query_id, doc_id, rrfsum, row_number() OVER
       |    (PARTITION BY query_id ORDER BY rrfsum DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $RrfTopK""".stripMargin

  /** RRF fusion of two ranked lists — touches only the branches' top-k
    * OUTPUTS (≤ 13 rows per query): a union, one 2-key hash aggregate of
    * the exactly-summable DECIMAL rank reciprocals, and a top-[[RrfTopK]]
    * window. Shared by the in-flight and persisted hybrid gates. */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("rrfsum").desc, col("doc_id"))
    lex.unionByName(sem)
      .select(col("query_id"), col("doc_id"),
        round(lit(1.0) / (lit(RrfK) + col("rank")), 9).cast("decimal(12,9)").as("c"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("c")).as("rrfsum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RrfTopK)
      .select(col("query_id"), col("doc_id"),
        round(col("rrfsum").cast("double"), 6).as("rrf"), col("rank"))
  }

  val qHybridRrf: Q = Q("q_hybrid_rrf", DuckHybridSql) { (s, d) =>
    val lex = graft.operators.TextAnalysis.qBm25TopK.build(s, d)
      .filter(col("query_id") < NumQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = qKnnIvf.build(s, d)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(lex, sem)
  }

  /** Hybrid retrieval SERVED OFF PERSISTED INDEXES — the production
    * hybrid-search shape [[qHybridRrf]] builds toward: BOTH branches read
    * landed artifacts with zero in-flight index construction. The lexical
    * branch scores against the impact-capped BM25 partial on disk
    * ([[graft.operators.TextAnalysis]] `bm25Persisted` — the same
    * mergeable artifact the streaming ingest lands per batch); the
    * semantic branch is [[qKnnIvfPersist]]'s partition-pruned
    * cell-directory scan. Fusion is [[rrfFuse]], unchanged — it never
    * sees where the ranked lists came from, which is exactly why the
    * oracle is IDENTICAL to [[qHybridRrf]]'s: persistence must not change
    * a bit. At 100 TB this is the RAG serving tier: two index lookups
    * (each bounded — ≤ query-terms × cap lexical rows, ≤ nprobe ×
    * cell-occupancy semantic rows) and a ≤13-rows-per-query fusion. */
  val qHybridRrfPersist: Q = Q("q_hybrid_rrf_persist", DuckHybridSql) { (s, d) =>
    val lex = graft.operators.TextAnalysis.bm25ServePersisted(s, d)
      .filter(col("query_id") < NumQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = qKnnIvfPersist.build(s, d)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(lex, sem)
  }

  /** Build-once / serve-many: the IVF index PERSISTED as parquet and the
    * query path served purely OFF DISK. The codebook lands as one small
    * file; the postings land CELL-PARTITIONED (`cell=<id>/part-*.parquet`,
    * each cell's vectors in their own directory — the on-disk
    * inverted-file layout), so serving a query is: probe cells against
    * the read-back codebook, then scan ONLY the probed cells' partition
    * directories — Spark's partition pruning IS the inverted-file seek,
    * and `.explain` shows the scan's `PartitionFilters` carrying the
    * probed-cell predicate. Identical oracle to [[qKnnIvf]]: persistence
    * must not change a single result bit (float arrays round-trip parquet
    * losslessly).
    *
    * The index build is idempotent per (JVM, corpus) — built offline
    * once, served many times, which is what the serving path's bench
    * timing should measure (the production separation the whole IVF
    * design exists for). */
  private[graft] val ivfIndex = TmpDirs.BuildOnce("graft_ivf", "embeddings") {
    (s, d, dir) =>
      val emb = Tables.embeddings(s, d)
      val cents = ivfCodebook(emb)
      cents.write.mode("overwrite").parquet(s"$dir/codebook")
      ivfAssign(emb, cents).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$dir/postings")
  }

  val qKnnIvfPersist: Q = Q("q_knn_ivf_persist", DuckIvfSql) { (s, d) =>
    val dir = ivfIndex.dir(s, d)
    val codebook = s.read.parquet(s"$dir/codebook")
    // The cell id is a vec_id — a LONG. Directory-name inference types the
    // read-back partition column int while ids fit; casting the COLUMN
    // back to long (rather than the probes down to int) keeps the key
    // long end-to-end, so an id past 2^31 can never wrap silently and
    // drop matches. The cast references only the partition column, so it
    // still qualifies as a partition filter — pruning is unaffected
    // (pinned by IvfPersistPruningSpec's read-fewer-files assertion).
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("cell", col("cell").cast("long"))
    val probes = ivfProbes(Tables.embeddings(s, d), codebook)
    // The probed-cell list is a PLAN PARAMETER, resolved eagerly like the
    // codebook count: distinct cells number at most queries × nprobe and
    // never more than the √n cell count (≈31k ints even at 10^9 vectors),
    // so collecting them is O(√n) driver work by construction — NOT a
    // data-sized collect. Pushing them as a STATIC IN-filter makes the
    // scan's PartitionFilters carry the probed cells at PLANNING time —
    // the inverted-file seek this layout exists for. (The broadcast-join
    // route alone relies on dynamic partition pruning, which AQE declines
    // here: the probes build side contains its own shuffle, so the DPP
    // subquery's exchange never sameResult-matches the materialized
    // broadcast stage and the filter falls back to `true`.)
    // localCheckpoint: the probe set (≤ queries × nprobe rows) is needed
    // twice — once collected for the static filter, once as the join's
    // broadcast side — and the checkpoint computes it exactly once
    val probesCk = probes.localCheckpoint()
    val probedCells = probesCk.select("cell").distinct().collect().map(_.getLong(0))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    postings.select(col("vec_id").as("neighbor_id"), col("embedding"), col("cell"))
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .join(broadcast(probesCk), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** Two-level (hierarchical) IVF — the BUILD-COST fix for the flat
    * index: flat IVF assigns every vector against all √n cells
    * (O(n·√n) distances); here a first level of ⌊√⌊√n⌋⌋ ≈ n^¼ "super
    * cells" routes each vector, and leaf assignment only compares
    * against that super cell's ≈n^¼ sub-centroids — O(n·n^¼) total,
    * the standard coarse-quantizer hierarchy (IMI/2-level IVF). Leaf
    * count stays ≈√n, so SERVE cost is unchanged; only the build
    * cheapens (at n=10^9: ~3×10^13 distance ops flat vs ~3×10^11
    * two-level).
    *
    * Deterministic for the oracle, same discipline as [[qKnnIvf]]:
    * stride-seeded super cells, sub-seeds = the `subs` members with the
    * smallest `graft_hash60(vec_id)` per super cell (a deterministic
    * hash-ordered reservoir, mirrored in DuckDB by the same md5-prefix
    * ordering), ONE refinement pass (per-(leaf, dim) means
    * rounded to 6 decimals + float-truncated — re-synchronizing both
    * engines' codebooks bit-for-bit), every argmax tie-broken by
    * smallest id. All sizing integers derive from count(*) via nested
    * ⌊√·⌋ and integer division ONLY (no pow(), whose libm rounding
    * could diverge across engines).
    *
    * Scale shape: both assignment passes are broadcast map-side-combined
    * argmaxes (one exchange row per vector, nothing all-pairs); the
    * refinement is a hash aggregate on (leaf, dim); sub-seed selection
    * is the bounded [[graft.functions.MinKCollect]] reservoir — O(subs)
    * state per cell with map-side partials, so NO build stage sorts
    * O(cell) rows in one task and the whole build plan is
    * Window/Sort-free (pinned by Ivf2InvariantSpec).
    *
    * The SQL below is the full pipeline in DuckDB, shared verbatim by
    * [[qKnnIvf2]] and [[qKnnIvf2Persist]] (persistence must not change a
    * result bit, so the oracle is identical). */
  private val DuckIvf2Sql: String =
    s"""WITH par AS (SELECT n, leaves, k1, (leaves + k1 - 1) // k1 AS subs,
       |    GREATEST(1, n // k1) AS stride1 FROM
       |  (SELECT n, leaves,
       |     GREATEST(1, CAST(floor(sqrt(CAST(leaves AS DOUBLE))) AS BIGINT)) AS k1 FROM
       |   (SELECT n, GREATEST(1, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)) AS leaves
       |    FROM (SELECT count(*) AS n FROM embeddings)))),
       |tseed AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS c
       |  FROM embeddings WHERE vec_id % (SELECT stride1 FROM par) = 0),
       |tassign AS (SELECT vec_id, top FROM (
       |  SELECT e.vec_id, t.tid AS top, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.c) DESC, t.tid) AS rn
       |  FROM embeddings e CROSS JOIN tseed t) WHERE rn = 1),
       |sseed AS (SELECT a.vec_id AS leaf, a.top AS l_top, CAST(e.embedding AS DOUBLE[]) AS c
       |  FROM (SELECT vec_id, top, row_number() OVER (PARTITION BY top
       |          ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT),
       |                   vec_id) AS rn
       |        FROM tassign) a JOIN embeddings e ON e.vec_id = a.vec_id
       |  WHERE a.rn <= (SELECT subs FROM par)),
       |a0 AS (SELECT vec_id, top, leaf FROM (
       |  SELECT ta.vec_id, ta.top, s.leaf, row_number() OVER (PARTITION BY ta.vec_id
       |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.c) DESC, s.leaf) AS rn
       |  FROM tassign ta JOIN embeddings e ON e.vec_id = ta.vec_id
       |    JOIN sseed s ON s.l_top = ta.top) WHERE rn = 1),
       |lref AS (SELECT leaf, min(l_top) AS l_top,
       |    list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS c FROM
       |  (SELECT a.leaf, a.top AS l_top, t.i AS pos,
       |     round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS m
       |   FROM a0 a JOIN embeddings e ON e.vec_id = a.vec_id, range(1, 65) t(i)
       |   GROUP BY a.leaf, a.top, t.i) GROUP BY leaf),
       |afin AS (SELECT vec_id, leaf FROM (
       |  SELECT ta.vec_id, l.leaf, row_number() OVER (PARTITION BY ta.vec_id
       |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), l.c) DESC, l.leaf) AS rn
       |  FROM tassign ta JOIN embeddings e ON e.vec_id = ta.vec_id
       |    JOIN lref l ON l.l_top = ta.top) WHERE rn = 1),
       |qtops AS (SELECT query_id, top FROM (
       |  SELECT e.vec_id AS query_id, t.tid AS top, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), t.c) DESC, t.tid) AS rn
       |  FROM embeddings e CROSS JOIN tseed t WHERE e.vec_id < $NumQueries) WHERE rn <= 3),
       |probes2 AS (SELECT query_id, leaf FROM (
       |  SELECT q.query_id, l.leaf, row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), l.c) DESC, l.leaf) AS rn
       |  FROM qtops q JOIN embeddings e ON e.vec_id = q.query_id
       |    JOIN lref l ON l.l_top = q.top) WHERE rn <= 6),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(nb.embedding AS DOUBLE[])) AS sim
       |  FROM probes2 p JOIN afin a ON a.leaf = p.leaf AND a.vec_id <> p.query_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings nb ON nb.vec_id = a.vec_id)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM scored)
       |WHERE rank <= $K""".stripMargin

  /** Builds the two-level index: (topSeeds, refined leaf codebook, final
    * leaf assignment). See [[qKnnIvf2]] for the full design notes. */
  private[graft] def ivf2Index(s: SparkSession, d: String,
      checkpoint: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    // checkpoint=false: test hook — keeps the FULL build lineage visible
    // so Ivf2InvariantSpec can assert the plan is Window/Sort-free
    def ck(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint() else df
    val emb = Tables.embeddings(s, d)
    // sizing integers: nested integer-sqrt + integer division only —
    // bit-identical across engines (sqrt is IEEE-exact; pow is not)
    val n = emb.count()
    val leaves = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
    val k1 = math.max(1L, math.floor(math.sqrt(leaves.toDouble)).toLong)
    val subs = (leaves + k1 - 1) / k1
    val stride1 = math.max(1L, n / k1)

    val topSeeds = emb.filter(col("vec_id") % stride1 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_embedding"))
    // level-1 routing: O(n · k1) broadcast argmax — checkpointed so the
    // three downstream lineages (sub-seeds, refinement, final assign)
    // pay the routing pass ONCE, not once each; without this the bench's
    // build timing would measure ~3× the claimed level-1 cost (same
    // discipline as ivfCodebook's checkpoint)
    val topAssigned = ck(ivfAssign(emb, topSeeds).withColumnRenamed("cell", "top"))

    // sub-seeds: a deterministic per-super-cell RESERVOIR — the `subs`
    // members with the smallest graft_hash60(vec_id), picked by the
    // bounded MinKCollect aggregate (O(subs) state per cell, map-side
    // partial, no shuffle-every-row + per-cell sort like the previous
    // row_number formulation — the last O(cell)-rows-in-one-task sort in
    // the build). Hash ordering makes the seed set a uniform
    // pseudo-random sample instead of the `subs` smallest ids (which
    // biased seeds toward early insertion order); vec_id tie-break makes
    // the ordering total. Checkpointed — O(leaves) rows — so downstream
    // joins don't share scan lineage.
    val subSeeds = ck(topAssigned
      .select(col("top"), struct(
        Portable.hash60(col("vec_id").cast("string")).as("h"),
        col("vec_id"), col("embedding")).as("c"))
      .groupBy("top")
      .agg(GraftFunctions.minK(col("c"), subs.toInt).as("cs"))
      .select(col("top").as("l_top"), explode(col("cs")).as("c"))
      .select(col("c.vec_id").as("leaf"), col("l_top"),
        col("c.embedding").as("l_embedding")))

    // leaf assignment WITHIN the super cell: the broadcast side carries
    // l_top, so the equi-join on top routes each vector to only its own
    // cell's sub-centroids — O(n · subs) distances, map-side argmax
    def leafAssign(cents: DataFrame): DataFrame =
      topAssigned.join(broadcast(cents), col("top") === col("l_top"))
        .withColumn("lsim", GraftFunctions.cosine(col("l_embedding"), col("embedding")))
        .groupBy("vec_id")
        .agg(any_value(col("embedding")).as("embedding"),
          any_value(col("top")).as("top"),
          // hash-aggregable argmax (see ivfAssign): min over (-sim, leaf)
          GraftFunctions.minK(maskedCand(col("lsim"),
            struct((-col("lsim")).as("neg"), col("leaf"))), 1).as("am"))
        .select(col("vec_id"), col("embedding"), col("top"),
          col("am").getItem(0).getField("leaf").as("leaf"))

    // one refinement pass: per-(leaf, dim) means, round+float-truncate
    val refined = ck(leafAssign(subSeeds)
      .select(col("leaf"), col("top"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("leaf", "pos")
      .agg(any_value(col("top")).as("l_top"),
        round(avg(col("v").cast("double")), 6).as("m"))
      .groupBy("leaf")
      .agg(any_value(col("l_top")).as("l_top"),
        array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("leaf"), col("l_top"),
        transform(col("pm"), p => p.getField("m").cast("float")).as("l_embedding")))

    val finalAssign = leafAssign(refined)
    (topSeeds, refined, finalAssign)
  }

  /** Multi-probe query routing: the query ranks its TOP-3 super cells
    * (routing is greedy, and a near neighbor routed across the cell
    * boundary is the hierarchy's recall failure mode — measured at
    * sf0.1, probing only the assigned super cell costs 20 recall
    * points), then the 6 nearest leaves across them. QUERY-side cost
    * only (3 · n^¼ leaf comparisons per query); corpus-side assignment
    * stays single-cell; the candidate pool is ≈6·√n rows vs flat IVF's
    * 4·√n — recall parity with the flat index at 1.5× its probe width. */
  private def ivf2Probes(emb: DataFrame, topSeeds: DataFrame,
      refined: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("query_id").orderBy(col("tsim").desc, col("cent_id"))
    val qTops = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      .crossJoin(broadcast(topSeeds))
      .withColumn("tsim", GraftFunctions.cosine(col("c_embedding"), col("q_embedding")))
      .withColumn("tr", row_number().over(wTop))
      .filter(col("tr") <= 3)
      .select(col("query_id"), col("q_embedding"), col("cent_id").as("qtop"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("lsim").desc, col("leaf"))
    qTops
      .join(broadcast(refined), col("qtop") === col("l_top"))
      .withColumn("lsim", GraftFunctions.cosine(col("l_embedding"), col("q_embedding")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 6)
      .select(col("query_id"), col("q_embedding"), col("leaf"))
  }

  /** Brute-force scoring within the probed leaves, top-K per query. */
  private def ivf2Serve(postings: DataFrame, probes: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    postings
      .join(broadcast(probes), Seq("leaf"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  val qKnnIvf2: Q = Q("q_knn_ivf2", DuckIvf2Sql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (topSeeds, refined, finalAssign) = ivf2Index(s, d)
    val probes = ivf2Probes(emb, topSeeds, refined)
    ivf2Serve(
      finalAssign.select(col("vec_id").as("neighbor_id"), col("embedding"), col("leaf")),
      probes)
  }

  /** Build-once / serve-many for the TWO-LEVEL index: the cheap O(n·n^¼)
    * build lands on disk (top-seed codebook + refined leaf codebook as
    * small files, postings LEAF-PARTITIONED `leaf=<id>/part-*.parquet`),
    * and the serve path is pure read: multi-probe against the read-back
    * codebooks, probed-leaf list pushed as a STATIC partition IN-filter
    * (a plan parameter — at most queries × 6 leaves, never more than the
    * √n leaf count), scan only the probed leaves' directories. The
    * complete production ANN story in one operator: hierarchical build
    * cost AND partition-pruned serving. Oracle identical to [[qKnnIvf2]]
    * — persistence must not change a single result bit. */
  val qKnnIvf2Persist: Q = Q("q_knn_ivf2_persist", DuckIvf2Sql) { (s, d) =>
    val dir = ivf2Persisted.dir(s, d)
    val topSeeds = s.read.parquet(s"$dir/topcodebook")
    val refined = s.read.parquet(s"$dir/codebook")
    // leaf ids are vec_ids (LONG) — cast the inferred partition column
    // back to long instead of narrowing probes to int (see
    // qKnnIvfPersist's note: int narrowing would wrap past 2^31)
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("leaf", col("leaf").cast("long"))
    // single evaluation of the probe set (see qKnnIvfPersist's note)
    val probes = ivf2Probes(Tables.embeddings(s, d), topSeeds, refined)
      .localCheckpoint()
    val probedLeaves = probes.select("leaf").distinct().collect().map(_.getLong(0))
    ivf2Serve(
      postings.select(col("vec_id").as("neighbor_id"), col("embedding"), col("leaf"))
        .filter(col("leaf").isin(probedLeaves.toSeq: _*)),
      probes)
  }

  /** The persisted two-level index; `Bench` times its build apart from
    * the serve through `rebuild`. */
  private[graft] val ivf2Persisted = TmpDirs.BuildOnce("graft_ivf2", "embeddings") {
    (s, d, dir) =>
      val (topSeeds, refined, finalAssign) = ivf2Index(s, d)
      topSeeds.write.mode("overwrite").parquet(s"$dir/topcodebook")
      refined.write.mode("overwrite").parquet(s"$dir/codebook")
      finalAssign.write.mode("overwrite")
        .partitionBy("leaf").parquet(s"$dir/postings")
  }

  /** The persisted ivf2 LEAF codebook in [[graft.streaming.StreamAnn]]'s
    * (cent_id, c_embedding) shape — the frozen index the streaming
    * ingest→route→assign chain slots new vectors into (serve-path
    * artifact: built once on disk, read here). */
  private[graft] def ivf2LeafCentroids(s: SparkSession, d: String): DataFrame = {
    val dir = ivf2Persisted.dir(s, d)
    s.read.parquet(s"$dir/codebook")
      .select(col("leaf").as("cent_id"), col("l_embedding").as("c_embedding"))
  }

  /** Cell assignment against a broadcast codebook: an argmax AGGREGATE —
    * partial-aggregated map-side, so the exchange carries one row per
    * vector and nothing sorts (a window rank-1 formulation would shuffle
    * every candidate row and sort each partition).
    *
    * The argmax is `graft_min_k(struct(-sim, cent_id), 1)` — min over
    * (-sim, id) ≡ max over (sim desc, id asc), the same semantics as
    * `max_by(id, struct(sim, -id))` but HASH-aggregable: max_by's
    * struct-typed ordering buffer forces SortAggregate (each partial pass
    * sorting all n·k candidate rows by group key), while the native
    * [[graft.functions.MinKCollect]] plans as ObjectHashAggregate.
    * RUNTIME caveat: ObjectHashAggregate itself degrades to sort-based
    * merging past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * in-memory groups per partition (default 128 — far below any real
    * vec_id cardinality), so [[graft.SessionTuning]] raises it to 2^20 in
    * every graft entry point; a deployment budgets that knob with its
    * partition sizing. Sign flip on a double is IEEE-exact, so the
    * argmax winner is bit-identical. */
  /** Shared null/NaN candidate mask — see
    * [[graft.functions.GraftFunctions.minKCandidate]]. Never fires on
    * the generated corpora (no null/zero embeddings) but the kernel is
    * a library surface. */
  private def maskedCand(sim: Column, cand: Column): Column =
    GraftFunctions.minKCandidate(sim, cand)

  /** Carries `label` through to the assignment output: metadata rides IN
    * the posting row (and thus in the persisted postings layout), so
    * filtered serves never need a corpus back-join for it — the
    * label-in-postings design [[qKnnFiltered]]'s notes promise.
    *
    * Round 16: the assignment is a NARROW MAP, not a join+aggregate. The
    * codebook is a plan parameter — O(√n) rows collected, sorted by
    * cent_id (the global tie rule), embedded as expression literals —
    * and [[graft.functions.ArgmaxCosine]] resolves each vector's cell in
    * one fused codegen'd loop. The previous `crossJoin(broadcast)` +
    * `graft_min_k` formulation materialized n×√n candidate rows and
    * pushed all of them through an interpreted TypedImperativeAggregate
    * update — 2.8 G rows PER Lloyd pass at the 1000× corpus, the
    * measured dominant cost of every IVF build (SCALE.md Round 16). Now
    * the plan is scan → project: no exchange, no aggregate, no candidate
    * row explosion, and the per-pair arithmetic is bit-identical (the
    * [[qKnnIvf]] oracle gates pin it). */
  private def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val entries = cents
      .select(col("cent_id").cast("long"), col("c_embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    emb.select(col("vec_id"), col("embedding"), col("label"),
      GraftFunctions.argmaxCosine(col("embedding"),
        typedLit(entries.map(_._2).toSeq),
        typedLit(entries.map(_._1).toSeq)).as("cell"))
  }

  /** The Lloyd-trained IVF codebook: ≈√n stride seeds, 2 fixed iterations
    * (per-(cell, dim) means rounded+float-truncated for cross-engine bit
    * parity). The one driver-side count sizes the codebook — a plan
    * parameter, like AQE statistics; everything downstream is distributed. */
  private def ivfCodebook(emb: DataFrame): DataFrame = {
    val stride = math.max(1L, math.sqrt(emb.count().toDouble).toLong)
    // one Lloyd step: mean per (cell, dim), reassembled into an ordered
    // float vector; collect_list is bounded by construction (64/cell)
    def lloyd(cents: DataFrame): DataFrame =
      ivfAssign(emb, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(round(avg(col("v").cast("double")), 6).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cent_id"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("c_embedding"))
    val seeds = emb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_embedding"))
    lloyd(lloyd(seeds)).localCheckpoint()
  }

  /** Each query's 4 nearest cells (the probe set). */
  private def ivfProbes(emb: DataFrame, cents: DataFrame, nprobe: Int = 4): DataFrame = {
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cent_id"))
    queries.crossJoin(broadcast(cents))
      .withColumn("csim", GraftFunctions.cosine(col("c_embedding"), col("q_embedding")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_embedding"), col("cent_id").as("cell"))
  }

  /** Incremental index maintenance — the ANN twin of the incremental
    * dedup/rollup shape: a NEW ingest batch (vec_id % 5 = 0, ~20%) is
    * slotted into a FROZEN coarse index built from the historic corpus
    * only (per-label float-truncated centroids — the deterministic
    * stand-in for a trained coarse quantizer), with no retraining pass.
    * Output per new vector: its assigned cell, the assignment cosine, and
    * whether the cell agrees with the vector's own label — the
    * drift-audit column an ingest pipeline alerts on (sagging agreement
    * means the frozen codebook no longer fits the incoming distribution,
    * time to retrain).
    *
    * Scale shape: centroid build is one hash aggregate over the historic
    * slice (output O(labels × dims)); the batch assignment is a narrow
    * broadcast argmax (hash-aggregable `graft_min_k`, map-side combined) — the corpus is never
    * re-touched, which is the property that makes per-batch maintenance
    * viable at 100 TB ingest cadence. */
  private val IncrAssignOracle: String =
    """WITH hist AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
      |newb AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
      |cents AS (SELECT label AS cent_id,
      |    list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS c FROM
      |  (SELECT label, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
      |   FROM hist, range(1, 65) t(i) GROUP BY label, i) GROUP BY label),
      |scored AS (SELECT n.vec_id, n.label, c.cent_id,
      |    list_cosine_similarity(CAST(n.embedding AS DOUBLE[]), c.c) AS csim
      |  FROM newb n CROSS JOIN cents c)
      |SELECT vec_id, label, cent_id AS assigned_cell, round(csim, 4) AS cosine,
      |  CASE WHEN label = cent_id THEN 1 ELSE 0 END AS matches_label
      |FROM (SELECT *, row_number() OVER
      |    (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn FROM scored)
      |WHERE rn = 1""".stripMargin

  val qKnnIncrAssign: Q = Q(
    "q_knn_incr_assign", IncrAssignOracle) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    // frozen index from the HISTORIC slice only; the new batch assigned
    // by the shared streaming kernel (one implementation, two paths)
    val cents = graft.streaming.StreamAnn.labelCentroids(emb.filter(col("vec_id") % 5 =!= 0))
    graft.streaming.StreamAnn.assign(emb.filter(col("vec_id") % 5 === 0), cents)
  }

  /** The SAME frozen-index assignment applied through the STREAMING
    * path — the ANN twin of `q_nb_stream_score`'s batch-train →
    * stream-apply shape, made oracle-exact: the embeddings table is
    * replayed as a real file-source stream (`Trigger.AvailableNow`), each
    * micro-batch's new-ingest slice (vec_id % 5 = 0) assigned inside
    * `foreachBatch` by [[graft.streaming.StreamAnn.assign]] against the
    * ONE frozen centroid index, and the gate faces the IDENTICAL DuckDB
    * oracle as [[qKnnIncrAssign]] — pinning stream-apply
    * indistinguishable from batch-apply, hash-for-hash. Gate plumbing is
    * DECADE-SAFE (VERDICT r15 "what's wrong #1"): the output rides the
    * new-ingest slice of the corpus, so each assigned micro-batch LANDS
    * to parquet and the gate result is the read-back — the
    * `q_cdc_stream` pattern, the same postings-sink shape production
    * uses, never a corpus-proportional driver collect. */
  val qKnnStreamAssign: Q = Q(
    "q_knn_stream_assign", IncrAssignOracle) { (s, d) =>
    import org.apache.spark.sql.types._
    val emb = Tables.embeddings(s, d)
    // the frozen index is built ONCE from history, not once per batch
    val cents = graft.streaming.StreamAnn
      .labelCentroids(emb.filter(col("vec_id") % 5 =!= 0)).localCheckpoint()
    val landDir = s"${TmpDirs.runDir("graft_annstream")}/assigned"
    StreamGate.run(StreamGate.replay(
        Tables.readStream(s, d, "embeddings").filter(col("vec_id") % 5 === 0)) {
      (batch, _) =>
        graft.streaming.StreamAnn.assign(batch, cents)
          .write.mode("append").parquet(landDir)
    })(())
    // explicit schema: an all-empty replay leaves only _SUCCESS behind,
    // and schema inference over zero part files would fail the gate
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("label", IntegerType),
      StructField("assigned_cell", IntegerType), StructField("cosine", DoubleType),
      StructField("matches_label", IntegerType)))
    s.read.schema(outSchema).parquet(landDir)
  }

  /** The full delta-index lifecycle under ONE oracle: the new-ingest
    * slice is replayed as a multi-batch file stream (source split into 4
    * files, one per trigger), each micro-batch LANDED as its own
    * `batch=<id>` delta directory by [[graft.streaming.StreamShardRouter
    * .landBatch]], the landed deltas FOLDED into a single-file-per-shard
    * base by [[graft.streaming.DeltaCompact.compact]] (atomic manifest
    * commit + delta GC — the LSM step that kills the small-files
    * problem), and the assignment then runs over the COMPACTED corpus
    * read back from disk. Facing the IDENTICAL DuckDB oracle as
    * [[qKnnIncrAssign]] pins the whole land → compact → read-back →
    * assign chain lossless and duplicate-free, hash-for-hash. The
    * 4-file split is gate plumbing (one parquet file would replay as one
    * batch); production streams are multi-batch by nature. */
  val qStreamAnnCompact: Q = Q(
    "q_stream_ann_compact", IncrAssignOracle) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val root = TmpDirs.runDir("graft_compact")
    val srcDir = s"$root/src"
    val outDir = s"$root/landed"
    // the frozen-centroid build and the 4-way source split are
    // independent actions over disjoint slices (history vs new-ingest) —
    // overlap them (guide §2.6, r17; was two serial per-action floors)
    val cents = graft.operators.Par.run[DataFrame](
      () => graft.streaming.StreamAnn
        .labelCentroids(emb.filter(col("vec_id") % 5 =!= 0)).localCheckpoint(),
      () => {
        // 4 source files → 4 AvailableNow micro-batches → 4 delta dirs
        StreamGate.split(emb.filter(col("vec_id") % 5 === 0), srcDir)
        null
      }).head
    StreamGate.run(StreamGate.replay(StreamGate.splitSource(emb, srcDir)) {
      (batch, id) => graft.streaming.StreamShardRouter.landBatch(
        batch.withColumn("doc_id", col("vec_id")), outDir, id)
    })(())
    graft.streaming.DeltaCompact.compact(s, outDir)
    val corpus = graft.streaming.DeltaCompact.readCorpus(s, outDir)
    // decoupled from the run dir (reaped 3 builds later), like
    // q_stream_shard_route's audit
    graft.streaming.StreamAnn.assign(corpus, cents).localCheckpoint()
  }

  /** Per-dimension embedding health audit — the table an embedding-ingest
    * pipeline alerts on before any index build: dimension-wise mean/spread
    * plus the dead-dimension fraction (|v| < 0.01) and a low-variance
    * flag. Dead or collapsed dimensions waste index bits (PQ subspaces,
    * LSH hyperplanes) and usually mean an upstream encoder bug.
    *
    * Scale shape: posexplode → ONE (pos)-keyed hash aggregate, map-side
    * combined; output is O(dims) rows regardless of corpus size. */
  val qEmbedDimStats: Q = Q(
    "q_embed_dim_stats",
    """SELECT i AS pos,
      |  round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS mean_v,
      |  round(stddev_pop(CAST(embedding[i] AS DOUBLE)), 4) AS std_v,
      |  round(CAST(sum(CASE WHEN abs(CAST(embedding[i] AS DOUBLE)) < 0.01
      |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dead_frac,
      |  CASE WHEN round(stddev_pop(CAST(embedding[i] AS DOUBLE)), 4) < 0.05
      |    THEN 1 ELSE 0 END AS is_low_var
      |FROM embeddings, range(1, 65) t(i) GROUP BY i""".stripMargin) { (s, d) =>
    val v = col("v").cast("double")
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy((col("pos0") + 1).as("pos"))
      .agg(
        round(avg(v), 4).as("mean_v"),
        round(stddev_pop(v), 4).as("std_v"),
        round(sum(when(abs(v) < 0.01, 1).otherwise(0)).cast("double") / count(lit(1)), 4)
          .as("dead_frac"),
        when(round(stddev_pop(v), 4) < 0.05, 1).otherwise(0).as("is_low_var"))
  }

  /** Shared CTE chain (through `pairs`) for the LSH near-dup family:
    * hyperplanes → 16-bit sign buckets → capped buckets → same-bucket
    * candidate pairs with exact cosine. */
  private val DuckEmbedPairCtes =
    """planes AS (SELECT b,
      |    list(CAST(CAST(('0x' || substr(md5(b || ',' || k), 1, 15)) AS BIGINT)
      |      / pow(2, 59) - 1 AS FLOAT) ORDER BY k) AS p
      |  FROM range(16) t(b), range(64) u(k) GROUP BY b),
      |sigs AS (SELECT e.vec_id,
      |    CAST(sum(CASE WHEN list_cosine_similarity(
      |        CAST(e.embedding AS DOUBLE[]), CAST(pl.p AS DOUBLE[])) > 0
      |      THEN CAST(pow(2, pl.b) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
      |sigsc AS (SELECT vec_id, bucket FROM
      |  (SELECT *, count(*) OVER (PARTITION BY bucket) AS bsz FROM sigs)
      |  WHERE bsz <= 1024),
      |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |      CAST(eb.embedding AS DOUBLE[])) AS sim
      |  FROM sigsc a JOIN sigsc b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings eb ON eb.vec_id = b.vec_id)""".stripMargin

  /** Embedding near-dup via random-hyperplane LSH: 16 sign bits from
    * deterministic pseudo-random hyperplanes bucket the corpus; the top-20
    * most-similar bucket-mate pairs come out. The hyperplanes are md5
    * math, so the oracle re-derives them in SQL (same float truncation,
    * same sign rule); the spec additionally plants duplicates and checks
    * they surface. */
  val qEmbedNearDup: Q = Q(
    "q_embed_neardup",
    s"""WITH $DuckEmbedPairCtes
       |SELECT vec_a, vec_b, round(sim, 4) AS cosine
       |FROM pairs ORDER BY sim DESC, vec_a, vec_b LIMIT 20""".stripMargin) { (s, d) =>
    embedPairs(s, d)
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(20)
      .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("cosine"))
  }

  /** All same-bucket candidate pairs with their exact cosine — the shared
    * stage behind [[qEmbedNearDup]] (ranked top-k) and [[qEmbedClusters]]
    * (component labeling). */
  private def embedPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // Hyperplane components r(b, k) in [-1, 1) are CONSTANTS (the same
    // portable-hash derivation as before), so they are computed once on
    // the driver and shipped as float-array literals — the previous
    // column formulation re-ran 16 × 64 interpreted md5 hashes per ROW.
    // Bit b = sign of the dot product = sign of graft_cosine (norms are
    // positive), so each bit is one fused codegen'd loop.
    def plane(b: Int): Array[Float] =
      Array.tabulate(64)(k => (Portable.hash60Local(s"$b,$k").toDouble / math.pow(2, 59) - 1).toFloat)
    val sig = (0 until 16).map { b =>
      when(GraftFunctions.cosine(col("embedding"), lit(plane(b))) > 0,
        math.pow(2, b).toLong).otherwise(0L)
    }.reduce(_ + _)
    // group-then-expand, not a bucket self-join: the signature pipeline
    // (16 fused cosines per row) runs ONCE, and the shuffle carries one
    // row per vector instead of a join build side; buckets are tiny by
    // construction (16 sign bits over the corpus), so the nested explodes
    // emit only genuine candidate pairs. collectCapped bounds per-bucket
    // state (a degenerate corpus collapsing into one bucket would
    // otherwise build it as a single task-local array); size 1025 =
    // overflow → dropped, mirrored by the oracle's bsz filter.
    emb.withColumn("bucket", sig)
      .groupBy("bucket")
      .agg(GraftFunctions.collectCapped(struct(col("vec_id"), col("embedding")), 1024).as("vs"))
      .filter(size(col("vs")).between(2, 1024))
      .select(col("vs"), explode(col("vs")).as("a"))
      .select(col("a"), explode(col("vs")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", GraftFunctions.cosine(col("a.embedding"), col("b.embedding")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim"))
  }

  /** Embedding-level dedup clustering: connected components over the LSH
    * bucket-collision pair graph — every vector labeled with the smallest
    * vec_id reachable through candidate pairs, the semantic twin of
    * `q_dedup_clusters` (which clusters documents by MinHash pairs).
    * Reuses [[graft.operators.Dedup.connectedComponents]]: min-label
    * propagation over pair-graph nodes only, O(diameter) rounds,
    * localCheckpoint lineage cuts. The oracle runs the exact recursive-CTE
    * transitive closure over the same pair CTEs. */
  val qEmbedClusters: Q = Q(
    "q_embed_clusters",
    s"""WITH RECURSIVE $DuckEmbedPairCtes,
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(u, r) AS (SELECT u, v AS r FROM edges
       |  UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |mins AS (SELECT u, min(r) AS mn FROM reach GROUP BY u)
       |SELECT e.vec_id, least(e.vec_id, coalesce(m.mn, e.vec_id)) AS cluster_id
       |FROM embeddings e LEFT JOIN mins m ON m.u = e.vec_id""".stripMargin) { (s, d) =>
    val pairs = embedPairs(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .localCheckpoint()
    Dedup.connectedComponents(
      Tables.embeddings(s, d).select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
  }

  /** Semantic decontamination: flag corpus vectors whose embedding is too
    * close to a benchmark/eval set — the semantic complement of the
    * n-gram `q_contamination` gate (a paraphrased eval question shares no
    * 8-gram but sits next to it in embedding space). Benchmark = vec_id <
    * 50, standing in for a held-out eval set.
    *
    * Scale shape: an eval set is SMALL by nature (10³-10⁴ rows at any
    * corpus size), so the right plan is broadcast(benchmark) × one narrow
    * corpus pass — no corpus shuffle at all; the per-vector max/argmax is
    * a map-side-combined aggregate (one exchange row per flagged corpus
    * vector). LSH bucketing would be wrong here: cross-set collisions are
    * too rare for recall, and the broadcast side never grows. */
  val qSemDecontam: Q = Q(
    "q_sem_decontam",
    """WITH sims AS (SELECT c.vec_id, b.vec_id AS bm_id,
      |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |      CAST(b.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings c JOIN embeddings b ON b.vec_id < 50 AND c.vec_id >= 50),
      |mx AS (SELECT vec_id, max(sim) AS ms FROM sims GROUP BY vec_id)
      |SELECT s.vec_id,
      |  CAST(min(CASE WHEN s.sim = m.ms THEN s.bm_id END) AS BIGINT) AS bm_id,
      |  round(any_value(m.ms), 4) AS max_sim
      |FROM sims s JOIN mx m ON s.vec_id = m.vec_id
      |WHERE m.ms >= 0.35
      |GROUP BY s.vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val bench = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("bm_id"), col("embedding").as("q_embedding"))
    emb.filter(col("vec_id") >= 50)
      .crossJoin(broadcast(bench))
      .withColumn("sim", cosExpr)
      .groupBy("vec_id")
      // argmax with a smallest-bm_id tie-break, as a HASH-aggregable
      // AGGREGATE (graft_min_k over (-sim, bm_id) — see ivfAssign; the
      // max_by struct-ordering formulation planned SortAggregate),
      // mirrored by the oracle's min-over-argmax-candidates
      .agg(max(col("sim")).as("ms"),
        GraftFunctions.minK(maskedCand(col("sim"),
          struct((-col("sim")).as("neg"), col("bm_id"))), 1).as("am"))
      .filter(col("ms") >= 0.35)
      .select(col("vec_id"),
        col("am").getItem(0).getField("bm_id").as("bm_id"),
        round(col("ms"), 4).as("max_sim"))
  }

  /** Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then keep ONE representative per cluster
    * — the member closest to the cluster centroid — and drop the rest.
    * Complements [[qEmbedClusters]] (which only labels) and
    * `q_dedup_keep_best` (which picks by text quality): here the pick is
    * geometric, the way embedding-level curation actually chooses keepers.
    *
    * Determinism for the oracle: centroid components are per-(cluster, dim)
    * means rounded to 6 decimals then float-truncated (both engines sum
    * doubles in different orders — the round+truncate re-synchronizes them
    * bit-for-bit, the [[qKnnIvf]] Lloyd trick), and member→centroid squared
    * L2 is an ascending-index fold. Keeper = argmin over (dist, vec_id) —
    * a map-side-combined argmin aggregate, one exchange row per cluster.
    *
    * Scale shape: clustering is the CC min-label propagation (O(diameter)
    * rounds over pair-graph nodes only); the centroid is an
    * explode-aggregate on (cluster_id, dim) — a plain hash-agg shuffle,
    * never a driver-side vector op; the per-cluster collect_list is
    * bounded at 64 rows (one per dimension) by construction. */
  val qSemDedup: Q = Q(
    "q_semdedup",
    s"""WITH RECURSIVE $DuckEmbedPairCtes,
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(u, r) AS (SELECT u, v AS r FROM edges
       |  UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |mins AS (SELECT u, min(r) AS mn FROM reach GROUP BY u),
       |clusters AS (SELECT e.vec_id,
       |    least(e.vec_id, coalesce(m.mn, e.vec_id)) AS cluster_id
       |  FROM embeddings e LEFT JOIN mins m ON m.u = e.vec_id),
       |cent AS (SELECT cluster_id, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY pos) AS c FROM
       |  (SELECT cl.cluster_id, t.i AS pos,
       |      round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS m
       |   FROM clusters cl JOIN embeddings e ON e.vec_id = cl.vec_id, range(1, 65) t(i)
       |   GROUP BY cl.cluster_id, t.i) GROUP BY cluster_id),
       |dist AS (SELECT cl.cluster_id, cl.vec_id,
       |    list_sum([(v[i]-c[i])*(v[i]-c[i]) for i in range(1, 65)]) AS d2
       |  FROM clusters cl
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e
       |    ON e.vec_id = cl.vec_id
       |  JOIN cent ON cent.cluster_id = cl.cluster_id),
       |agg AS (SELECT cluster_id, min(d2) AS md, count(*) AS members
       |  FROM dist GROUP BY cluster_id)
       |SELECT d.cluster_id,
       |  min(CASE WHEN d.d2 = a.md THEN d.vec_id END) AS kept_vec,
       |  any_value(a.members) AS members
       |FROM dist d JOIN agg a ON d.cluster_id = a.cluster_id
       |GROUP BY d.cluster_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val pairs = embedPairs(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .localCheckpoint()
    val labels = Dedup.connectedComponents(
      emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val members = labels.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    val cent = members
      .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cluster_id", "pos")
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy("cluster_id")
      // bounded by construction: one element per dimension (64) per cluster
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster_id"),
        transform(col("pm"), p => p.getField("m").cast("float").cast("double")).as("c"))
    val d2 = aggregate(
      zip_with(transform(col("embedding"), _.cast("double")), col("c"),
        (a, b) => (a - b) * (a - b)),
      lit(0d), _ + _)
    members.join(cent, "cluster_id")
      .select(col("cluster_id"), col("vec_id"), d2.as("d2"))
      .groupBy("cluster_id")
      // hash-aggregable argmin (see ivfAssign): min over (d2, vec_id)
      .agg(GraftFunctions.minK(maskedCand(col("d2"),
          struct(col("d2"), col("vec_id"))), 1).as("am"),
        count(lit(1)).as("members"))
      .select(col("cluster_id"),
        col("am").getItem(0).getField("vec_id").as("kept_vec"),
        col("members"))
  }

  /** Embedding normalization audit — one dataset-card row asserting the
    * invariant ANN serving depends on: dot product ≡ cosine only when
    * vectors are unit-norm. Reports corpus size, how many vectors are
    * unit within 1e-6, and the worst absolute deviation (rounded to 9
    * decimals — the per-row norm fold is ascending-index, bit-identical
    * in both engines, so even 1e-7-scale values compare exactly). A
    * narrow per-row fold into one map-side-combined aggregate; zero
    * corpus shuffle. (A 3σ norm-outlier gate is the wrong op for this
    * corpus: the vectors ARE normalized, σ = 0, and the gate degenerates
    * — this audit is how you find that out before wiring one up.) */
  val qEmbedNormCheck: Q = Q(
    "q_embed_norm_check",
    """SELECT count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN abs(nrm - 1) <= 0.000001 THEN 1 ELSE 0 END) AS BIGINT) AS n_unit,
      |  round(max(abs(nrm - 1)), 9) AS max_dev
      |FROM (SELECT sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding])) AS nrm
      |  FROM embeddings)""".stripMargin) { (s, d) =>
    val nrm = sqrt(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0d), _ + _))
    Tables.embeddings(s, d).select(nrm.as("nrm"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(abs(col("nrm") - 1) <= 0.000001, 1).otherwise(0)).cast("long").as("n_unit"),
        round(max(abs(col("nrm") - 1)), 9).as("max_dev"))
  }

  /** Int8 scalar quantization of embeddings — the 4× compression pass a
    * 100 TB vector corpus runs before ANN serving. Per vector: symmetric
    * scale mx/127 from the max-abs component, code_i = floor(x_i/mx·127 +
    * 0.5). `floor(v + 0.5)` (not `round`) so both engines share one
    * explicit rounding rule. The gate emits scalar digests (code sum /
    * extrema / max reconstruction error) rather than the code array —
    * every per-element double op is written in the identical order in both
    * engines, so the digests are bit-stable. Narrow per-row map, zero
    * shuffle. */
  val qEmbedQuantize: Q = Q(
    "q_embed_quantize",
    """WITH e AS (SELECT vec_id,
      |    [CAST(x AS DOUBLE) for x in embedding] AS v,
      |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS mx
      |  FROM embeddings)
      |SELECT vec_id, round(mx / 127, 6) AS scale,
      |  CAST(list_sum([floor(x / mx * 127 + 0.5) for x in v]) AS BIGINT) AS code_sum,
      |  CAST(list_min([floor(x / mx * 127 + 0.5) for x in v]) AS INT) AS code_min,
      |  CAST(list_max([floor(x / mx * 127 + 0.5) for x in v]) AS INT) AS code_max,
      |  round(list_max([abs(x - (floor(x / mx * 127 + 0.5) * mx) / 127) for x in v]), 6) AS max_err
      |FROM e WHERE mx > 0""".stripMargin) { (s, d) =>
    val v = transform(col("embedding"), _.cast("double"))
    val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    def code(x: Column): Column = floor(x / col("mx") * 127 + 0.5)
    Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"), mx.as("mx"))
      .filter(col("mx") > 0)
      .select(
        col("vec_id"),
        round(col("mx") / 127, 6).as("scale"),
        aggregate(transform(col("v"), code(_)), lit(0d), _ + _).cast("long").as("code_sum"),
        array_min(transform(col("v"), code(_))).cast("int").as("code_min"),
        array_max(transform(col("v"), code(_))).cast("int").as("code_max"),
        round(array_max(transform(col("v"),
          x => abs(x - (code(x) * col("mx")) / 127))), 6).as("max_err"))
  }

  /** PQ codebook: FIXED 16 stride-seeded entries (the first 16 vectors with
    * vec_id % 97 == 0), ranked by vec_id. A PQ codebook must not grow with
    * the corpus — an uncapped stride sample made assignment O(n²/97) at
    * scale; capped, assignment is O(16·n) and the codebook is a constant
    * broadcast at any corpus size. The unpartitioned window is safe HERE
    * only: it ranks the 16-row codebook, never the corpus. */
  private val PqEntries = 16
  private def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 97 * PqEntries)
      .select(col("vec_id").as("cent_vid"),
        transform(col("embedding"), _.cast("double")).as("c"))
      .withColumn("cent_rank",
        row_number().over(Window.orderBy("cent_vid")) - 1)
      .drop("cent_vid")

  /** Squared L2 between 8-dim subspace `s0` of vectors `v` and `c` — an
    * ascending-index fold, the same op order as the oracle's list_sum
    * comprehension (bit-stable across engines). Query-side (LUT) call
    * sites only; the corpus-scale encode path uses the fused native
    * kernel [[graft.functions.PqSubDists]] (identical arithmetic order,
    * whole-stage-codegen'd — the zip_with/slice higher-order form here
    * never codegens and allocates two slices per eval, which at the
    * 1000× corpus made PQ encode the most expensive engine build stage). */
  private def pqSubDist(s0: Int, v: Column, c: Column): Column = aggregate(
    zip_with(slice(v, s0 * 8 + 1, 8), slice(c, s0 * 8 + 1, 8),
      (a, b) => (a - b) * (a - b)),
    lit(0d), _ + _)

  /** Per-vector PQ assignment: nearest codebook entry per subspace (ties to
    * the lowest rank) as `cc0..cc7`, plus the per-subspace min distances
    * `m0..m7`. Argmin is a HASH-aggregable graft_min_k AGGREGATE
    * (map-side combined, one exchange row per vector — the min_by
    * struct-ordering formulation planned SortAggregate; see ivfAssign).
    * The 8 subspace distances come from ONE fused native kernel eval per
    * (vector, entry) pair — see [[graft.functions.PqSubDists]]. */
  private[graft] def pqAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val vd = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val withD = vd.crossJoin(broadcast(cents))
      .withColumn("ds", GraftFunctions.pqSubDists(col("v"), col("c")))
      .select(col("vec_id") +: col("cent_rank") +:
        (0 until 8).map(s0 => col("ds").getItem(s0).as(s"d$s0")): _*)
    val aggs = (0 until 8).flatMap(s0 => Seq(
      GraftFunctions.minK(maskedCand(col(s"d$s0"),
        struct(col(s"d$s0"), col("cent_rank"))), 1).as(s"am$s0"),
      min(col(s"d$s0")).as(s"m$s0")))
    withD.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until 8).flatMap(s0 => Seq(
          col(s"am$s0").getItem(0).getField("cent_rank").as(s"cc$s0"),
          col(s"m$s0"))): _*)
  }

  /** Shared oracle CTE chain (through `codes`) for the PQ family: ranked
    * codebook → per-(vector, entry) subspace distances → per-subspace
    * argmin codes, with the smallest-rank tie-break (arg_min over a
    * composite ordering is not available in this DuckDB build). */
  private val DuckPqCodesCtes: String = {
    val dists = (0 until 8).map(s =>
      s"list_sum([(v[i]-c[i])*(v[i]-c[i]) for i in range(${s * 8 + 1}, ${s * 8 + 9})]) AS d$s")
      .mkString(",\n      |   ")
    val minsSel = (0 until 8).map(s => s"min(d$s) AS m$s").mkString(", ")
    val codesSel = (0 until 8).map(s =>
      s"CAST(min(CASE WHEN d.d$s = m.m$s THEN d.cent_rank END) AS INT) AS c$s")
      .mkString(",\n      |  ")
    s"""cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_rank,
      |    CAST(embedding AS DOUBLE[]) AS c
      |  FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < ${97 * 16}),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |d AS (SELECT vec_id, cent_rank,
      |   $dists
      |  FROM v CROSS JOIN cents),
      |mins AS (SELECT vec_id, $minsSel FROM d GROUP BY vec_id),
      |codes AS (SELECT d.vec_id,
      |  $codesSel
      | FROM d JOIN mins m ON d.vec_id = m.vec_id GROUP BY d.vec_id)""".stripMargin
  }

  /** Product quantization: 64-d vectors compressed to 8 one-byte codes —
    * the codebook trick that shrinks a 100 TB vector corpus ~32× for ANN
    * serving. Each of 8 subspaces (8 dims) is quantized to the nearest of
    * 16 deterministic codebook entries (the IVF coarse vectors, ranked by
    * vec_id) by squared L2, ties to the lowest code. Emits the 8 codes
    * plus the total reconstruction error. Deterministic end-to-end, so
    * the oracle mirrors the full computation; a real system would train
    * the codebook with k-means, which only changes the codebook rows. */
  // Codebook realism note: the coarse IVF quantizer ([[qKnnIvf]]) carries
  // the trained-codebook story (√n cells, Lloyd iterations); PQ keeps
  // static stride seeds because its oracle already mirrors 8 subspace
  // argmins — adding per-subspace k-means would triple an already large
  // SQL mirror for no new plan shape (the training pass would be the same
  // broadcast assign + hash-aggregate means qKnnIvf demonstrates).
  val qEmbedPq: Q = Q(
    "q_embed_pq", {
      val err = (0 until 8).map(s => s"any_value(m.m$s)").mkString(" + ")
      val codes = (0 until 8).map(s =>
        s"CAST(min(CASE WHEN d.d$s = m.m$s THEN d.cent_rank END) AS INT) AS c$s")
        .mkString(",\n       |  ")
      s"""WITH $DuckPqCodesCtes
         |SELECT d.vec_id AS vec_id,
         |  $codes,
         |  round($err, 6) AS pq_err
         |FROM d JOIN mins m ON d.vec_id = m.vec_id GROUP BY d.vec_id""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    pqAssign(emb, pqCodebook(emb))
      .select(col("vec_id") +:
        (0 until 8).map(s0 => col(s"cc$s0").cast("int").as(s"c$s0")) :+
        round((0 until 8).map(s0 => col(s"m$s0")).reduce(_ + _), 6).as("pq_err"): _*)
  }

  /** PQ ANN search by asymmetric distance computation (ADC) — how a
    * PQ-compressed corpus is actually served. The query stays full
    * precision; each corpus vector is read as its 8 one-byte codes; the
    * query's distance to every codebook entry per subspace is a tiny
    * lookup table (queries × entries × 8 = O(100) rows), and a vector's
    * approximate distance is the sum of 8 LUT lookups — no corpus-side
    * float math at all.
    *
    * Plan shape: the corpus side is a narrow scan of the code table
    * exploded to (vector, subspace, code) rows, one broadcast join against
    * the LUT, then a map-side-combined pivot aggregate back to one row per
    * (query, vector) with the 8 partials summed in fixed subspace order
    * (bit-stable across engines — each partial is the [[pqSubDist]] fold).
    * At 100 TB the code table is precomputed and persisted (32× smaller
    * than the vectors); here it is recomputed from the same deterministic
    * codebook so the DuckDB oracle can mirror the whole pipeline. The spec
    * additionally checks recall against exact full-precision L2. */
  val qKnnPqAdc: Q = Q(
    "q_knn_pq_adc", {
      val luts = (0 until 8).map(s =>
        s"list_sum([(qv[i]-c[i])*(qv[i]-c[i]) for i in range(${s * 8 + 1}, ${s * 8 + 9})]) AS l$s")
        .mkString(",\n       |   ")
      val codeCase = (0 until 8).map(s => s"WHEN $s THEN c$s").mkString(" ")
      val partCase = (0 until 8).map(s => s"WHEN $s THEN l$s").mkString(" ")
      val adcSum = (0 until 8).map(s => s"sum(CASE WHEN lx.s = $s THEN lx.part END)")
        .mkString(" + ")
      s"""WITH $DuckPqCodesCtes,
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < $NumQueries),
         |lut AS (SELECT q.query_id, c.cent_rank,
         |   $luts
         |  FROM q CROSS JOIN cents c),
         |cl AS (SELECT vec_id, t.s AS s, CASE t.s $codeCase END AS code
         |  FROM codes, range(0, 8) t(s)),
         |lx AS (SELECT query_id, cent_rank, t.s AS s, CASE t.s $partCase END AS part
         |  FROM lut, range(0, 8) t(s)),
         |summed AS (SELECT lx.query_id, cl.vec_id AS neighbor_id, $adcSum AS adc
         |  FROM cl JOIN lx ON lx.cent_rank = cl.code AND lx.s = cl.s
         |  GROUP BY lx.query_id, cl.vec_id)
         |SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist, rank FROM
         |  (SELECT query_id, neighbor_id, adc, row_number() OVER
         |     (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         |   FROM summed WHERE neighbor_id <> query_id)
         |WHERE rank <= $K""".stripMargin
    }) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cents = pqCodebook(emb)
    val codes = pqAssign(emb, cents).select(col("vec_id") +:
      (0 until 8).map(s0 => col(s"cc$s0").cast("int").as(s"c$s0")): _*)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("qv"))
    // LUT: queries × codebook entries × 8 subspaces — O(100) rows, broadcast
    val lut = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_rank"),
        posexplode(array((0 until 8).map(s0 =>
          pqSubDist(s0, col("qv"), col("c"))): _*)).as(Seq("ls", "part")))
    val codesLong = codes.select(col("vec_id"),
      posexplode(array((0 until 8).map(i => col(s"c$i")): _*)).as(Seq("cs", "code")))
    // pivot the 8 matched partials back into columns so the final sum runs
    // in fixed subspace order on both engines (each sum() sees exactly one
    // row per (query, vector, subspace))
    val pSums = (0 until 8).map(i => sum(when(col("ls") === i, col("part"))).as(s"p$i"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    codesLong.join(broadcast(lut),
        col("cs") === col("ls") && col("code") === col("cent_rank"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(pSums.head, pSums.tail: _*)
      .withColumn("adc", (0 until 8).map(i => col(s"p$i")).reduce(_ + _))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"), col("rank"))
  }

  /** IVF-PQ — the standard billion-scale ANN index layout (the FAISS
    * IVFPQ architecture): the Lloyd-trained IVF coarse quantizer prunes
    * the search to the query's 4 probed cells, and within them vectors
    * are scored by PQ asymmetric distance — codes only, no full-precision
    * corpus reads. Composes [[qKnnIvf]]'s codebook/assignment/probes with
    * [[qKnnPqAdc]]'s code table and LUT, both already oracle-proven.
    * (Simplification vs FAISS: PQ encodes raw vectors, not per-cell
    * residuals — residual encoding changes accuracy, not plan shape, and
    * would triple the oracle.)
    *
    * Scale shape: candidate set = probed cells only (≈ corpus ·
    * nprobe/cells rows), joined narrowly to the code table; the ADC
    * scoring is the same broadcast-LUT + pivot-aggregate as
    * [[qKnnPqAdc]]. Scan cost drops by the IVF pruning factor AND each
    * candidate costs 8 lookups instead of 64 float ops. */
  /** The full IVF-PQ pipeline in DuckDB, shared verbatim by
    * [[qKnnIvfPq]] and [[qKnnIvfPqPersist]] — persistence must not
    * change a result bit, so the oracle is identical. */
  private val DuckIvfPqSql: String = {
    val luts = (0 until 8).map(s =>
      s"list_sum([(qv[i]-c[i])*(qv[i]-c[i]) for i in range(${s * 8 + 1}, ${s * 8 + 9})]) AS l$s")
      .mkString(",\n       |   ")
    val codeCase = (0 until 8).map(s => s"WHEN $s THEN c$s").mkString(" ")
    val partCase = (0 until 8).map(s => s"WHEN $s THEN l$s").mkString(" ")
    val adcSum = (0 until 8).map(s => s"sum(CASE WHEN lx.s = $s THEN lx.part END)")
      .mkString(" + ")
    s"""WITH $DuckIvfCtes,
       |$DuckPqCodesCtes,
       |q2 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |lut AS (SELECT q2.query_id, c.cent_rank,
       |   $luts
       |  FROM q2 CROSS JOIN cents c),
       |cl AS (SELECT vec_id, t.s AS s, CASE t.s $codeCase END AS code
       |  FROM codes, range(0, 8) t(s)),
       |lx AS (SELECT query_id, cent_rank, t.s AS s, CASE t.s $partCase END AS part
       |  FROM lut, range(0, 8) t(s)),
       |summed AS (SELECT p.query_id, cl.vec_id AS neighbor_id, $adcSum AS adc
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN cl ON cl.vec_id = a.vec_id
       |  JOIN lx ON lx.cent_rank = cl.code AND lx.s = cl.s AND lx.query_id = p.query_id
       |  GROUP BY p.query_id, cl.vec_id)
       |SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist, rank FROM
       |  (SELECT query_id, neighbor_id, adc, row_number() OVER
       |     (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
       |   FROM summed)
       |WHERE rank <= $K""".stripMargin
  }

  val qKnnIvfPq: Q = Q("q_knn_ivf_pq", DuckIvfPqSql) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val icents = ivfCodebook(emb)
    val assigned = ivfAssign(emb, icents).select(col("vec_id"), col("cell"))
    val probes = ivfProbes(emb, icents).select(col("query_id"), col("cell"))
    val pcents = pqCodebook(emb)
    val codes = pqAssign(emb, pcents).select(col("vec_id") +:
      (0 until 8).map(s0 => col(s"cc$s0").cast("int").as(s"c$s0")): _*)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("lq"),
        transform(col("embedding"), _.cast("double")).as("qv"))
    val lut = queries.crossJoin(broadcast(pcents))
      .select(col("lq"), col("cent_rank"),
        posexplode(array((0 until 8).map(s0 =>
          pqSubDist(s0, col("qv"), col("c"))): _*)).as(Seq("ls", "part")))
    val codesLong = codes.select(col("vec_id"),
      posexplode(array((0 until 8).map(i => col(s"c$i")): _*)).as(Seq("cs", "code")))
    // candidates = vectors in the query's probed cells (each vector has
    // exactly one cell, so no per-query duplicates)
    val cand = probes.join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val pSums = (0 until 8).map(i => sum(when(col("ls") === i, col("part"))).as(s"p$i"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    cand.join(codesLong, "vec_id")
      .join(broadcast(lut),
        col("cs") === col("ls") && col("code") === col("cent_rank") &&
          col("lq") === col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(pSums.head, pSums.tail: _*)
      .withColumn("adc", (0 until 8).map(i => col(s"p$i")).reduce(_ + _))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"), col("rank"))
  }

  /** Build-once layout for the PQ serving tier, the memory-bounded 100 TB
    * shape: alongside [[ivfIndex]]'s full-vector postings, this
    * index stores per vector only its cell and its 8 one-byte PQ codes —
    * ~8× less index I/O per probed cell than the float postings (the
    * whole point of IVF-PQ: at 10^9 vectors the code postings are ~16 GB
    * where float postings are ~256 GB, so a probed-cell scan fits page
    * cache). Layout:
    * {{{
    *   ivf_codebook/   √n coarse centroids (the probe router)
    *   pq_codebook/    16 ranked sub-codebook entries (the ADC LUT base)
    *   postings/cell=<c>/  (vec_id, c0..c7) — codes ONLY, no vectors
    * }}} */
  private[graft] val ivfPqIndex = TmpDirs.BuildOnce("graft_ivfpq", "embeddings") {
    (s, d, dir) =>
      val emb = Tables.embeddings(s, d)
      val icents = ivfCodebook(emb)
      icents.write.mode("overwrite").parquet(s"$dir/ivf_codebook")
      val pcents = pqCodebook(emb)
      pcents.write.mode("overwrite").parquet(s"$dir/pq_codebook")
      val assigned = ivfAssign(emb, icents).select(col("vec_id"), col("cell"))
      val codes = pqAssign(emb, pcents).select(col("vec_id") +:
        (0 until 8).map(s0 => col(s"cc$s0").cast("int").as(s"c$s0")): _*)
      assigned.join(codes, "vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings")
  }

  /** Persisted IVF-PQ serve — [[qKnnIvfPq]]'s production shape: both
    * codebooks and the code-only cell-partitioned postings read back from
    * the landed index ([[ivfPqIndex]]), candidates generated by a
    * partition-pruned scan of the probed cells (static `isin` pushdown,
    * the [[qKnnIvfPersist]] discipline), and scored by PQ asymmetric
    * distance against the per-query LUT — full-precision vectors are
    * NEVER read at serve time, only 8 codes per candidate, which is the
    * ~8× index-I/O shrink vs [[qKnnIvfPersist]]'s float postings (the
    * bench emits both postings' on-disk bytes for the comparison).
    *
    * Served plan shape: checkpoint-scan (probes + LUT, both O(queries)
    * and computed once, eagerly — so the lint sees no nested loop) →
    * pruned postings scan → broadcast hash joins → one hash aggregate on
    * (query, candidate) → per-query top-k. Oracle IDENTICAL to the
    * in-flight gate: persistence and code-only serving change no bit. */
  val qKnnIvfPqPersist: Q = Q("q_knn_ivf_pq_persist", DuckIvfPqSql) { (s, d) =>
    val dir = ivfPqIndex.dir(s, d)
    val emb = Tables.embeddings(s, d)
    val icents = s.read.parquet(s"$dir/ivf_codebook")
    val pcents = s.read.parquet(s"$dir/pq_codebook")
    // probe set: O(queries × nprobe), computed once behind an eager
    // checkpoint — used collected (static partition filter) and as the
    // join's broadcast side, like qKnnIvfPersist
    val probesCk = ivfProbes(emb, icents).select("query_id", "cell").localCheckpoint()
    val probedCells = probesCk.select("cell").distinct().collect().map(_.getLong(0))
    // ADC lookup table: queries × 16 entries × 8 subspaces — O(queries)
    // rows from the read-back sub-codebook, checkpointed for the same
    // two-consumer reason (and so the serve plan is nested-loop-free)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("lq"),
        transform(col("embedding"), _.cast("double")).as("qv"))
    val lut = queries.crossJoin(broadcast(pcents))
      .select(col("lq"), col("cent_rank"),
        posexplode(array((0 until 8).map(s0 =>
          pqSubDist(s0, col("qv"), col("c"))): _*)).as(Seq("ls", "part")))
      .localCheckpoint()
    // read-back partition column types int while ids fit; cast back to
    // long so an id past 2^31 can never wrap (see qKnnIvfPersist)
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probedCells.toSeq: _*))
    val cand = postings.join(broadcast(probesCk), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    val codesLong = cand.select(col("query_id"), col("vec_id"),
      posexplode(array((0 until 8).map(i => col(s"c$i")): _*)).as(Seq("cs", "code")))
    val pSums = (0 until 8).map(i => sum(when(col("ls") === i, col("part"))).as(s"p$i"))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    codesLong.join(broadcast(lut),
        col("cs") === col("ls") && col("code") === col("cent_rank") &&
          col("lq") === col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(pSums.head, pSums.tail: _*)
      .withColumn("adc", (0 until 8).map(i => col(s"p$i")).reduce(_ + _))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"), col("rank"))
  }

  /** Coarse candidates per query for the two-stage rerank. */
  private val Coarse = 50

  /** Dimensions kept by the cheap first-stage scan. Half of 64: these
    * synthetic embeddings spread energy uniformly across dims (no PCA /
    * Matryoshka training concentrates it), so a 32-dim prefix is what
    * keeps coarse recall useful (0.87 at Coarse=50 vs 0.40 for 16 dims);
    * a trained prefix would allow a far more aggressive cut. */
  private val TruncDims = 32

  /** Two-stage retrieve-then-rerank ANN — the serving shape production
    * vector search actually ships (FAISS's `IndexRefine`, every
    * PQ/truncate-then-rerank stack): stage 1 scans a CHEAP representation
    * (here the first 32 of 64 dims — ½ the bytes, so ½ the scan IO at
    * 100 TB, where the truncated copy lives in its own column/file and the
    * full vectors are never touched by the scan) and keeps the top
    * [[Coarse]] candidates per query; stage 2 re-fetches full vectors for
    * only those ~Coarse×queries rows and reranks by exact cosine.
    *
    * The plan mirrors that split: stage 1 shuffles only (query_id,
    * neighbor_id, trunc-sim) triples into the per-query top-k window —
    * never the vectors — and stage 2 is a broadcast of the tiny candidate
    * set against the corpus (the "re-fetch" is a broadcast-hash semi-join,
    * i.e. an index lookup at scale), plus a broadcast of the query
    * vectors. Recall vs [[qKnnBrute]] is asserted in TrainingOpsSpec. */
  val qKnnRerank: Q = Q(
    "q_knn_rerank",
    s"""WITH coarse AS (
       |  SELECT query_id, neighbor_id FROM
       |    (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |       row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |         list_cosine_similarity(CAST(q.embedding[1:$TruncDims] AS DOUBLE[]),
       |           CAST(c.embedding[1:$TruncDims] AS DOUBLE[])) DESC, c.vec_id) AS crank
       |     FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |     WHERE q.vec_id < $NumQueries)
       |  WHERE crank <= $Coarse)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM (SELECT co.query_id, co.neighbor_id,
       |       list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |         CAST(n.embedding AS DOUBLE[])) AS sim
       |     FROM coarse co
       |     JOIN embeddings q ON q.vec_id = co.query_id
       |     JOIN embeddings n ON n.vec_id = co.neighbor_id))
       |WHERE rank <= $K""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val tq = queries.select(
      col("query_id"), slice(col("q_embedding"), 1, TruncDims).as("tq"))
    val coarseW = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("neighbor_id"))
    val coarse = emb
      .select(col("vec_id").as("neighbor_id"),
        slice(col("embedding"), 1, TruncDims).as("tc"))
      .crossJoin(broadcast(tq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("csim", GraftFunctions.cosine(col("tq"), col("tc")))
      .withColumn("crank", row_number().over(coarseW))
      .filter(col("crank") <= Coarse)
      .select("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(coarse)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  // ---- q_knn_lsh: multi-table multi-probe hyperplane LSH ANN ----

  /** LSH table count / sign bits per table / probes (exact bucket + all
    * Hamming-1 flips) for [[qKnnLsh]]. 8 tables × 8 bits trades one
    * 16-bit table's precision for union recall — the standard
    * multi-table layout (Indyk–Motwani; E2LSH). */
  private[graft] val LshTables = 8
  private[graft] val LshBits = 8

  /** Deterministic hyperplane `(t, b)`: 64 pseudo-random floats in
    * [-1, 1) derived from md5 — same derivation family as
    * [[qEmbedNearDup]]'s planes but namespaced by table so the two
    * gates' codebooks stay independent. Computed once on the driver,
    * shipped as array literals. */
  private def lshPlane(t: Int, b: Int): Array[Float] =
    Array.tabulate(64)(k =>
      (Portable.hash60Local(s"$t:$b,$k").toDouble / math.pow(2, 59) - 1).toFloat)

  /** The `t`-th table's sign-bucket of vector column `v`: bit b set iff
    * cosine(v, plane(t,b)) > 0 — each bit one fused codegen'd loop.
    *
    * NaN guard: a zero-norm embedding's cosine is NaN, and BOTH engines'
    * comparison order treats NaN as greater than any other value, so a
    * bare `NaN > 0` would SET the bit in Spark as well as DuckDB — do
    * not "simplify" the `nanvl` away on the belief Spark yields false.
    * `nanvl` pins the degenerate case to 0.0 (bit clear) on the Spark
    * side and the SQL twin spells the same pin as
    * `NOT isnan(…) AND … > 0`, so bucket parity can never hinge on a
    * zero vector. Never fires on the generated corpora; library surface. */
  private def lshBucket(t: Int, v: Column, bits: Int = LshBits): Column =
    (0 until bits).map { b =>
      when(nanvl(GraftFunctions.cosine(v, lit(lshPlane(t, b))), lit(0.0)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k via multi-table random-hyperplane LSH — the bucketed
    * alternative to the IVF family's trained quantizer: no codebook to
    * train (the planes are constants), so the index is ready at ingest
    * time; recall comes from table union + Hamming-1 multiprobe instead
    * of nprobe.
    *
    * Plan shape: the corpus side computes `LshTables` buckets in ONE
    * narrow pass (8×8 fused cosines per row) and explodes to (t, bucket)
    * posting rows — a per-row ×8 fan-out with NO shuffle; the query side
    * (tiny by nature) expands to (t, bucket) probe keys — exact bucket
    * plus every 1-bit flip, 72 keys per query — and BROADCASTS, so
    * candidate generation is a broadcast hash join riding the corpus
    * scan. The only exchanges are the candidate dedup (hash agg on
    * (query_id, neighbor_id), bounded by probed-bucket occupancy, NOT
    * corpus size) and the final per-query top-k. At 100 TB the posting
    * rows would persist bucket-partitioned exactly like
    * [[qKnnIvfPersist]]'s cell directories, making a query a pruned scan
    * of ≤ tables×probes partitions.
    *
    * Determinism for the oracle: md5-derived planes (re-derived in SQL
    * with the same float truncation), the sign rule on the bit-identical
    * fused cosine, rank ties broken by neighbor_id. */
  /** The full LSH pipeline in DuckDB, shared verbatim by [[qKnnLsh]] and
    * [[qKnnLshPersist]] — persistence must not change a result bit, so
    * the oracle is identical (same discipline as [[DuckIvf2Sql]]). */
  /** The LSH CTE chain through `sims` — composable, so the hybrid
    * stream gate can fuse the LSH branch against the BM25 CTEs the way
    * [[DuckHybridSql]] composes the IVF chain. `corpusCond` restricts
    * the POSTING side (which vectors are indexed) without touching the
    * query side — the delete gates pass the tombstone predicate's
    * complement; everything else takes the default full corpus. */
  private def duckLshCtes(corpusCond: String = "TRUE"): String =
    s"""planes AS (SELECT t, b,
       |    list(CAST(CAST(('0x' || substr(md5(t || ':' || b || ',' || k), 1, 15)) AS BIGINT)
       |      / pow(2, 59) - 1 AS FLOAT) ORDER BY k) AS p
       |  FROM range($LshTables) s(t), range($LshBits) v(b), range(64) u(k) GROUP BY t, b),
       |sigs AS (SELECT e.vec_id, pl.t,
       |    CAST(sum(CASE WHEN NOT isnan(list_cosine_similarity(
       |        CAST(e.embedding AS DOUBLE[]), CAST(pl.p AS DOUBLE[])))
       |      AND list_cosine_similarity(
       |        CAST(e.embedding AS DOUBLE[]), CAST(pl.p AS DOUBLE[])) > 0
       |      THEN CAST(pow(2, pl.b) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id, pl.t),
       |lprobes AS (SELECT s.vec_id AS query_id, s.t,
       |    CASE WHEN pr.p = 0 THEN s.bucket
       |         ELSE xor(s.bucket, CAST(pow(2, pr.p - 1) AS BIGINT)) END AS bucket
       |  FROM sigs s CROSS JOIN range(${LshBits + 1}) pr(p)
       |  WHERE s.vec_id < $NumQueries),
       |cands AS (SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
       |  FROM lprobes p JOIN sigs s ON s.t = p.t AND s.bucket = p.bucket
       |  WHERE s.vec_id <> p.query_id AND ($corpusCond)),
       |sims AS (SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim
       |  FROM cands c JOIN embeddings q ON q.vec_id = c.query_id
       |  JOIN embeddings n ON n.vec_id = c.neighbor_id)""".stripMargin

  private val DuckLshCtes: String = duckLshCtes()

  private val DuckLshSql: String =
    s"""WITH $DuckLshCtes
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM sims)
       |WHERE rank <= $K""".stripMargin

  val qKnnLsh: Q = Q("q_knn_lsh", DuckLshSql) { (s, d) =>
    // ONE posting/probe/serve implementation across the whole LSH
    // family: corpus expanded on the combined tb key ([[lshPostings]] —
    // a narrow ×tables pass, no shuffle), query probes = exact bucket +
    // every Hamming-1 flip on the same key ([[lshQueryProbes]], the
    // bit-flips touch only the low bits so the table prefix is preserved
    // by construction), candidates deduped + ranked by [[lshServeJoin]].
    // The in-flight gate, the persisted serve, the capped variant, and
    // the streaming delta fold all serve through the same three kernels.
    val emb = Tables.embeddings(s, d)
    lshServeJoin(lshPostings(emb), lshQueryProbes(emb))
  }

  // ---- q_knn_lsh_persist: the LSH postings persisted bucket-partitioned ----

  /** Max size of the full-tb literal IN-list pushed into the postings
    * scan for row-group skipping; larger probe batches rely on the
    * broadcast join alone (see the pushdown note in [[qKnnLshPersist]]). */
  private val MaxPushedTbs = 1024

  /** The combined posting key for one LSH table's bucket: table id in
    * the high bits, sign bucket in the low `bits`. Geometry defaults to
    * the registry constants; the recall smoke passes a WIDER `bits` to
    * demonstrate the bits ∝ log n scale adjustment. */
  private def lshTb(t: Int, v: Column, bits: Int = LshBits): Column =
    lit(t.toLong << bits) + lshBucket(t, v, bits)

  /** Directory granularity of the persisted layout: the partition column
    * is `tb_hi = tb >> 4` — table id ∥ top 4 bucket bits, ≤ 128
    * directories — with the FULL `tb` kept as a data column and each
    * file sorted by it. Partitioning on the full key (2048 dirs) was
    * measured at ~11 ms of constant writer/commit overhead PER DIRECTORY
    * (23 s vs 0.9 s flat at sf0.01) and is the small-files anti-pattern
    * at low occupancy; the coarse-partition + clustered-sort layout is
    * the standard lakehouse answer — partition pruning still skips
    * non-probed directories, and within a directory the sorted `tb`
    * gives parquet row-group min/max skipping for the residual
    * `tb IN (…)` pushed filter. Both dir count and the 16-buckets-per-dir
    * fan-in are properties of the index geometry, not the data. */
  private val LshDirShift = 4

  /** LSH posting rows for a vector batch — (tb, neighbor_id, embedding),
    * [[qKnnLsh]]'s corpus-side expansion as a standalone kernel. This is
    * a PURE per-row column function of constants (the md5-derived
    * planes): no trained state, which is what makes the LSH index
    * maintainable at INGEST time — the streaming path
    * ([[graft.streaming.StreamLshIngest]]) indexes each micro-batch with
    * zero training dependencies, where the ivf2 chain needs the frozen
    * leaf codebook first. */
  private[graft] def lshPostings(vectors: DataFrame, tables: Int = LshTables,
      bits: Int = LshBits): DataFrame =
    vectors.select(col("vec_id").as("neighbor_id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        lshTb(t, col("embedding"), bits)): _*)).as("tb"))

  /** Build-once half of the LSH build/serve split: [[qKnnLsh]]'s posting
    * rows written `tb`-partitioned, built once per (data fingerprint,
    * pid) exactly like [[ivfIndex]]. Because the planes are constants,
    * this "build" is a single narrow pass over the corpus — no training
    * stage at all, which is the operational argument for LSH over IVF at
    * ingest time. */
  private[graft] val lshIndex = TmpDirs.BuildOnce("graft_lsh", "embeddings") {
    (s, d, dir) =>
      lshPostings(Tables.embeddings(s, d))
        .withColumn("tb_hi", shiftright(col("tb"), LshDirShift).cast("long"))
        // co-locate each directory's rows in ONE task (one file per dir,
        // not one per dir per task) and cluster them by the full bucket
        // key so row-group stats carry the residual tb filter — see
        // [[LshDirShift]] for the layout rationale and measurements
        .repartition(col("tb_hi"))
        .sortWithinPartitions("tb")
        .write.mode("overwrite").partitionBy("tb_hi").parquet(s"$dir/postings")
  }

  /** [[qKnnLsh]] over the PERSISTED index — the serve half of the
    * build/serve split, identical oracle (persistence must not change a
    * result bit). The probed (table, bucket) keys — exact bucket plus
    * every Hamming-1 flip, ≤ queries × tables × (bits+1) keys, a bounded
    * plan parameter like [[qKnnIvfPersist]]'s probed cells — are pushed
    * TWICE, matching the two-level layout (see [[LshDirShift]]): their
    * distinct high bits as a STATIC partition IN-filter (the scan's
    * PartitionFilters prune non-probed `tb_hi=` directories at planning
    * time — pinned by IvfPersistPruningSpec's read-fewer-files
    * assertion), and the full key list as a data filter the parquet
    * scan's PushedFilters carry into row-group min/max skipping over the
    * tb-sorted files. Bit-flips on the combined key touch only the low
    * [[LshBits]], so the table prefix is preserved by construction. */
  /** Query-side probe keys on the combined `tb` key: the exact bucket
    * plus every Hamming-1 flip, per table — ≤ queries × tables ×
    * (bits+1) rows, a bounded plan parameter. Shared by
    * [[qKnnLshPersist]] and the streaming delta-fold serve path. */
  private[graft] def lshQueryProbes(emb: DataFrame, tables: Int = LshTables,
      bits: Int = LshBits): DataFrame = {
    emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
        explode(array((0 until tables).map(t =>
          lshTb(t, col("embedding"), bits)): _*)).as("base"))
      .select(col("query_id"), col("q_embedding"),
        explode(array(col("base") +: (0 until bits).map(b =>
          col("base").bitwiseXOR(lit(1L << b))): _*)).as("tb"))
  }

  /** Serve join over tb-keyed posting rows (tb, neighbor_id, embedding):
    * broadcast probe keys, candidate dedup by max(sim) (a pair colliding
    * in several tables/probes has identical sim), per-query top-[[K]].
    * ONE implementation for the persisted serve and the streaming
    * delta-fold serve, so the layouts cannot drift in semantics. */
  private[graft] def lshServeJoin(postings: DataFrame, qProbes: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    postings
      .join(broadcast(qProbes), Seq("tb"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosExpr)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("sim")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("cosine"), col("rank"))
  }

  /** The serve-layout directory key of a posting row (see [[LshDirShift]]). */
  private[graft] def lshDirKey(tb: Column): Column =
    shiftright(tb, LshDirShift).cast("long")

  val qKnnLshPersist: Q = Q("q_knn_lsh_persist", DuckLshSql) { (s, d) =>
    val dir = lshIndex.dir(s, d)
    // tb_hi is read back from directory names as int while values fit —
    // cast the COLUMN to long (same rationale as qKnnIvfPersist: the
    // cast references only the partition column, so pruning holds)
    val postings = s.read.parquet(s"$dir/postings")
      .withColumn("tb_hi", col("tb_hi").cast("long"))
    val qProbes = lshQueryProbes(Tables.embeddings(s, d))
    // probe set needed twice (static filter + broadcast side): compute once
    val probesCk = qProbes.localCheckpoint()
    val probedTbs = probesCk.select("tb").distinct().collect().map(_.getLong(0))
    val probedHis = probedTbs.map(_ >> LshDirShift).distinct
    // Two-level pushdown, each sized to stay a cheap literal predicate:
    // tb_hi is BOUNDED BY GEOMETRY (≤ tables × 2^(bits−shift) = 128
    // directory values regardless of query count) — always pushed as the
    // static partition filter. The full-tb list grows as queries ×
    // tables × (bits+1), so a production-sized query batch would turn it
    // into a huge literal IN; past [[MaxPushedTbs]] the residual tb
    // filtering is left to the broadcast hash join on tb itself (a
    // broadcast semi-filter — every non-probed posting row dies at the
    // join, only row-group min/max skipping inside probed directories is
    // forgone), keeping predicate size a plan constant (round-10 advice).
    val prunedDirs = postings.filter(col("tb_hi").isin(probedHis.toSeq: _*))
    val pruned =
      if (probedTbs.length <= MaxPushedTbs)
        prunedDirs.filter(col("tb").isin(probedTbs.toSeq: _*))
      else prunedDirs
    lshServeJoin(pruned.drop("tb_hi"), probesCk)
  }

  // ---- q_knn_lsh_capped: bounded posting lists — O(1) serve cost ----

  /** Max postings kept per (table, bucket). With the cap on, a query's
    * candidate set is ≤ [[LshTables]]×([[LshBits]]+1)×[[LshCap]] rows
    * (1152 here) REGARDLESS of corpus size — the knob that turns LSH
    * serve cost from O(occupancy) into O(1). 16 ≈ 8× the sf0.01 mean
    * bucket occupancy, so the cap is dormant at test geometry and bites
    * exactly where it is designed to: hot buckets at scale. */
  private[graft] val LshCap = 16

  /** [[DuckLshSql]] with the posting-cap CTE: per combined-key bucket
    * (`tb = t·2^bits + bucket`), only the [[LshCap]] entries with the
    * lowest portable id-hash survive — `row_number() OVER (ORDER BY
    * hash60(vec_id), vec_id)` is the exact SQL spelling of the
    * `graft_min_k` struct ordering the engine uses. */
  private val DuckLshCappedSql: String =
    s"""WITH planes AS (SELECT t, b,
       |    list(CAST(CAST(('0x' || substr(md5(t || ':' || b || ',' || k), 1, 15)) AS BIGINT)
       |      / pow(2, 59) - 1 AS FLOAT) ORDER BY k) AS p
       |  FROM range($LshTables) s(t), range($LshBits) v(b), range(64) u(k) GROUP BY t, b),
       |sigs AS (SELECT e.vec_id, pl.t,
       |    CAST(sum(CASE WHEN NOT isnan(list_cosine_similarity(
       |        CAST(e.embedding AS DOUBLE[]), CAST(pl.p AS DOUBLE[])))
       |      AND list_cosine_similarity(
       |        CAST(e.embedding AS DOUBLE[]), CAST(pl.p AS DOUBLE[])) > 0
       |      THEN CAST(pow(2, pl.b) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id, pl.t),
       |capped AS (SELECT tb, vec_id FROM (
       |    SELECT s.t * ${1L << LshBits} + s.bucket AS tb, s.vec_id,
       |      row_number() OVER (PARTITION BY s.t * ${1L << LshBits} + s.bucket
       |        ORDER BY CAST(('0x' || substr(md5(CAST(s.vec_id AS VARCHAR)),1,15)) AS BIGINT),
       |          s.vec_id) AS rn
       |    FROM sigs s) WHERE rn <= $LshCap),
       |probes AS (SELECT s.vec_id AS query_id,
       |    CASE WHEN pr.p = 0 THEN s.t * ${1L << LshBits} + s.bucket
       |         ELSE xor(s.t * ${1L << LshBits} + s.bucket,
       |                  CAST(pow(2, pr.p - 1) AS BIGINT)) END AS tb
       |  FROM sigs s CROSS JOIN range(${LshBits + 1}) pr(p)
       |  WHERE s.vec_id < $NumQueries),
       |cands AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN capped c ON c.tb = p.tb
       |  WHERE c.vec_id <> p.query_id),
       |sims AS (SELECT c.query_id, c.neighbor_id,
       |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |      CAST(n.embedding AS DOUBLE[])) AS sim
       |  FROM cands c JOIN embeddings q ON q.vec_id = c.query_id
       |  JOIN embeddings n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM sims)
       |WHERE rank <= $K""".stripMargin

  /** [[qKnnLsh]] with per-bucket posting lists hard-capped at [[LshCap]]
    * entries — the 100 TB fix for the one unbounded quantity in the LSH
    * serve path. Uncapped, a probed bucket's candidate count grows
    * linearly with corpus size at fixed geometry (measured 2.9×/decade,
    * SCALE.md); capped, the serve-side join fan-out is a fixed plan
    * parameter, the same bound discipline [[graft.operators.Dedup]]
    * applies to its MinHash band buckets.
    *
    * The survivor rule must be engine-portable so the oracle reproduces
    * it bit-for-bit: keep the [[LshCap]] postings with the LOWEST
    * portable 60-bit id-hash (ties by id) — a uniform pseudo-random but
    * deterministic subset, computed by the native `graft_min_k` reservoir
    * in ONE ObjectHashAggregate pass over the posting rows (O(cap) state
    * per bucket, no Window, no sort; exactly the ivf2 sub-seed shape,
    * BoundedCollect.scala). Embeddings ride the reservoir struct, so the
    * capped index needs no back-join to the corpus. The cap composes
    * with the [[qKnnLshPersist]] layout unchanged — capping happens
    * before the write, everything downstream is identical. */
  /** The capped-LSH pipeline with geometry as parameters: postings capped
    * per bucket by the `graft_min_k` id-hash reservoir, served through the
    * shared [[lshServeJoin]]. The registry gate runs the default geometry;
    * SCALE.md round 11's recall table passed a wider `bits` at larger
    * corpora to demonstrate the bits ∝ log n adjustment that holds recall
    * as occupancy-per-bucket grows. */
  /** The capped posting index alone — per (table, bucket), the `cap`
    * entries with the lowest portable id-hash, in serve schema
    * (tb, neighbor_id, embedding). This is the artifact that would land
    * on disk in the [[qKnnLshPersist]] layout (capping happens before
    * the write; everything downstream is identical). */
  private[graft] def knnLshCappedIndex(emb: DataFrame, tables: Int = LshTables,
      bits: Int = LshBits, cap: Int = LshCap): DataFrame = {
    lshPostings(emb, tables, bits)
      .withColumn("prio", Portable.hash60(col("neighbor_id").cast("string")))
      .groupBy("tb")
      .agg(GraftFunctions.minK(
        struct(col("prio"), col("neighbor_id"), col("embedding")), cap).as("kept"))
      .select(col("tb"), explode(col("kept")).as("kv"))
      .select(col("tb"), col("kv.neighbor_id").as("neighbor_id"),
        col("kv.embedding").as("embedding"))
  }

  private[graft] def knnLshCapped(emb: DataFrame, tables: Int = LshTables,
      bits: Int = LshBits, cap: Int = LshCap): DataFrame =
    lshServeJoin(knnLshCappedIndex(emb, tables, bits, cap),
      lshQueryProbes(emb, tables, bits))

  /** Auto-sized sign-bit count for a corpus of `corpusCount` vectors —
    * the bits ∝ log n rule SCALE.md's round-11 recall table measured,
    * as code instead of operator lore.
    *
    * Model (empirically exact on the measured table): each table spreads
    * its n postings over its own 2^bits buckets, so mean occupancy per
    * probed bucket is n / 2^bits PER TABLE — table count multiplies the
    * candidate union, not the per-bucket load, which is why `tables`
    * does not appear. The cap starts discarding (and recall starts
    * decaying) once occupancy crosses `cap`; sizing to half-cap
    * occupancy keeps the reservoir dormant with 2× headroom for skewed
    * buckets:
    *   bits = ⌈log₂(n / (cap/2))⌉.
    * Measured anchors (SCALE.md round 11): 2k vectors → 8 bits
    * (occupancy 7.8, recall 0.600 = the geometry's own collision
    * recall); 20k vectors → 12 bits (occupancy 4.9, recall 1.000, vs
    * 0.333 at stock 8 bits). One extra decade adds ⌈log₂10⌉ ≈ 3-4 bits;
    * directory count in the [[qKnnLshPersist]] layout grows with
    * 2^(bits−dirShift), i.e. linearly with n — the layout scales by
    * design. Floor of [[LshBits]]: never size BELOW the registry
    * geometry (tiny corpora don't need fewer buckets, and the floor
    * keeps the oracle-pinned default reachable). */
  private[graft] def lshGeometry(corpusCount: Long, cap: Int = LshCap): Int = {
    require(corpusCount > 0, s"corpusCount must be positive: $corpusCount")
    require(cap > 0, s"cap must be positive: $cap")
    val targetOccupancy = math.max(1.0, cap / 2.0)
    val needed = math.ceil(
      math.log(corpusCount / targetOccupancy) / math.log(2)).toInt
    math.max(LshBits, needed)
  }

  val qKnnLshCapped: Q = Q("q_knn_lsh_capped", DuckLshCappedSql) { (s, d) =>
    knnLshCapped(Tables.embeddings(s, d))
  }

  // ---- q_hybrid_stream_persist: the full streamed RAG lifecycle ----

  /** Oracle for the streamed-lifecycle hybrid gate: the [[DuckLshCtes]]
    * chain (the semantic branch is LSH here — the training-free index a
    * stream can build at ingest with zero codebook dependencies) fused
    * against [[graft.operators.TextAnalysis.DuckBm25Ctes]] by the same
    * RRF CTEs as [[DuckHybridSql]]. The oracle knows nothing about
    * streams, batches, deltas, or compaction — which is the point: the
    * stream-ingested, mid-run-compacted, persisted indexes must serve
    * results indistinguishable from a single-pass batch build. */
  /** The LSH⊕BM25 RRF fusion tail (from `sem` through the final select),
    * shared verbatim by the two streamed-lifecycle oracles — the fusion
    * never changes, only which corpus rows the branch CTEs see. */
  private val DuckLshBm25RrfTail: String =
    s"""sem AS (SELECT query_id, neighbor_id AS doc_id, rank FROM
       |  (SELECT query_id, neighbor_id, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM sims) WHERE rank <= $K),
       |lex AS (SELECT query_id, doc_id, rank FROM bm25ranked
       |  WHERE rank <= ${graft.operators.TextAnalysis.Bm25K} AND query_id < $NumQueries),
       |unioned AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
       |fused AS (SELECT query_id, doc_id,
       |    sum(CAST(round(CAST(1.0 AS DOUBLE) / ($RrfK + rank), 9)
       |      AS DECIMAL(12,9))) AS rrfsum
       |  FROM unioned GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, round(CAST(rrfsum AS DOUBLE), 6) AS rrf, rank
       |FROM (SELECT query_id, doc_id, rrfsum, row_number() OVER
       |    (PARTITION BY query_id ORDER BY rrfsum DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $RrfTopK""".stripMargin

  private val DuckHybridStreamSql: String =
    s"""WITH $DuckLshCtes,
       |${graft.operators.TextAnalysis.DuckBm25Ctes},
       |$DuckLshBm25RrfTail""".stripMargin

  /** The FULL streamed RAG lifecycle under one oracle — the composition
    * gate for everything the streaming retrieval tier provides: both
    * corpora replayed as real multi-batch file streams (4 files → 4
    * `AvailableNow` triggers each), BOTH retrieval indexes built AT
    * INGEST ([[graft.streaming.StreamBm25Ingest.ingestStep]] landing
    * capped lexical partials; [[graft.streaming.StreamLshIngest]]
    * landing serve-layout LSH posting deltas — the training-free index
    * that needs no codebook before a vector is searchable), both
    * COMPACTED MID-RUN from inside the ingest itself (the
    * single-maintainer cadence [[graft.streaming.DeltaCompact]]'s
    * contract prescribes: the generation fold commits at batch 1,
    * batches 2-3 land as post-fold deltas), and hybrid RRF served
    * purely OFF THE FOLDED ARTIFACTS through the exact serve kernels the
    * batch gates use ([[graft.operators.TextAnalysis.bm25Serve]] over
    * the manifest-read fold; [[lshServeJoin]] over
    * [[graft.streaming.StreamLshIngest.readPostings]]).
    *
    * Facing a batch-only oracle ([[DuckHybridStreamSql]] — BM25 CTEs +
    * LSH CTEs + RRF, no stream anywhere) pins the whole lifecycle:
    * ingest batching, delta landing, crash-safe generation folds, and
    * persisted serving compose to the bit-identical answer a single
    * batch pass computes. Scale shape: per-batch ingest cost tracks
    * batch size (history never re-touched), folds are bounded by
    * vocab/postings size, serve is two bounded index lookups + a
    * ≤13-rows-per-query fusion. */
  val qHybridStreamPersist: Q = Q(
    "q_hybrid_stream_persist", DuckHybridStreamSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val root = TmpDirs.runDir("graft_hybridstream")

    // lexical ingest: 4-batch replay, per-batch capped partials landed,
    // index generation-folded mid-run (batch 1), batches 2-3 post-fold
    val lexSrc = s"$root/lex_src"
    val lexOut = s"$root/lex"
    val semSrc = s"$root/sem_src"
    // both source splits written before either stream starts — two
    // independent jobs overlapped from driver threads (guide §2.6), so
    // the semantic stream isn't delayed by the lexical source write
    Par.units(() => StreamGate.split(docs, lexSrc), () => StreamGate.split(emb, semSrc))
    val lexLeg = StreamGate.replay(StreamGate.splitSource(docs, lexSrc)) { (b, id) =>
      graft.streaming.StreamBm25Ingest.ingestStep(b, lexOut, id)
      if (id == 1L) graft.streaming.StreamBm25Ingest.compactIndex(s, lexOut)
    }
    // semantic ingest, CONCURRENT with the lexical one (the two streams
    // share nothing but the session — the production shape: one firehose,
    // independent index maintainers, each on its own trigger cadence): LSH
    // posting deltas landed in SERVE layout per batch, postings
    // generation-folded mid-run (batch 1)
    val semDocs = s"$root/sem_docs"
    val semIdx = s"$root/sem_idx"
    val semLeg = StreamGate.replay(StreamGate.splitSource(emb, semSrc)) { (b, id) =>
      val batch = b.withColumn("doc_id", col("vec_id"))
        .select("doc_id", "vec_id", "label", "embedding")
      // corpus landing ∥ posting-delta landing (r17, guide §2.6 — the
      // StreamBm25Ingest.ingestStep pattern; see ingestAndLand)
      graft.streaming.StreamLshIngest.ingestAndLand(batch, semDocs, semIdx, id)
      if (id == 1L) graft.streaming.StreamLshIngest.compactPostings(s, semIdx)
    }
    // the query-probe checkpoint is a pure function of the BASE embeddings
    // table (no run-dir dependency, registry geometry — this gate never
    // refreshes it), so it runs while the two ingest streams drain,
    // backfilling executor gaps, instead of as a serial serve-phase action
    // after them (guide §2.6; contrast qHybridLifecycle, whose probes must
    // wait for the post-fold committed geometry)
    val probes = StreamGate.run(lexLeg, semLeg)(lshQueryProbes(emb).localCheckpoint())

    // serve BOTH branches off the folded artifacts, fuse, done —
    // checkpointed because the run dir is reaped 3 builds later
    val lex = graft.operators.TextAnalysis
      .bm25Serve(graft.streaming.StreamBm25Ingest.mergeIndexes(s, lexOut), docs)
      .filter(col("query_id") < NumQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = lshServeJoin(
        graft.streaming.StreamLshIngest.readPostings(s, semIdx).drop("tb_hi"),
        probes)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(lex, sem).localCheckpoint()
  }

  // ---- delete lifecycle: tombstoned vectors leave the index — logically
  // at serve time, physically at the next fold ----------------------------
  //
  // The missing verb of the persisted-index story: takedowns/opt-outs
  // arrive as key sets against a multi-TB landed index that can't be
  // rewritten per delete. The protocol ([[graft.streaming.DeltaCompact]]
  // tombstones) gives EXACT deletion in two phases with one oracle:
  //  1. logical — the tombstone delta lands, [[StreamLshIngest
  //     .readPostingsLive]] anti-joins it at serve (broadcast-sized by
  //     compaction cadence): the deleted vector is unfindable the moment
  //     the delete commits, no index rewrite;
  //  2. physical — the next generation fold excludes tombstoned rows and
  //     folds the tombstone away: storage actually forgets.
  // LSH is the index family where physical deletion is EXACT BY
  // CONSTRUCTION: postings are pure per-vector expansions, so dropping a
  // vector's rows is the same index a from-scratch build over the
  // surviving corpus would produce. (Contrast the BM25 partial, which is
  // a capped aggregate and NOT closed under deletion — its delete gate
  // rebuilds; see `q_bm25_delete`.) Both gates face ONE oracle — the
  // stock LSH chain with the delete set's complement as the posting-side
  // predicate — so logical and physical serves are pinned bit-identical.

  /** Delete-set rule for the delete gates — vec_id ≡ [[DeleteRem]]
    * (mod [[DeleteMod]]), ~1/7 of the corpus — interpolated into the
    * engine predicate and the oracle SQL from this ONE definition
    * (the [[graft.operators.TextAnalysis.Bm25Cap]] discipline). */
  private[operators] val DeleteMod = 7
  private[operators] val DeleteRem = 3

  private val DuckLshDeleteSql: String =
    s"""WITH ${duckLshCtes(s"NOT (s.vec_id % $DeleteMod = $DeleteRem)")}
       |SELECT query_id, neighbor_id, round(sim,4) AS cosine, rank FROM
       |  (SELECT query_id, neighbor_id, sim, row_number() OVER
       |     (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |   FROM sims)
       |WHERE rank <= $K""".stripMargin

  /** Shared setup for both delete gates, built once per (data
    * fingerprint, pid) like every persisted-index build — the gates test the SERVE
    * paths (logical anti-join / folded read), not the landing cost, and
    * the landing is three serve-layout partitioned writes whose
    * directory fan-out dominated the un-memoized gate (bench: ~9 s/run).
    * Layout: the posting index landed as three serve-layout deltas
    * (sliced by vec mod 3 — the posting expansion is per-row, so the
    * slice union is exactly the full build), then one tombstone delta
    * for the delete set. Queries stay the standard first-[[NumQueries]]
    * set — a deleted vector may still QUERY (query vectors are inputs,
    * not corpus members); it just can't be FOUND.
    *
    * Order-independence of the two gates sharing one tree: the compact
    * gate's fold applies the tombstones physically and folds them away,
    * after which `readPostingsLive` ≡ `readPostings` — both serves equal
    * the SAME oracle before and after the fold (pinned directly by
    * DeleteLifecycleSpec), so whichever gate runs first, both stay
    * exact. */
  private val lshDeleteIndex = TmpDirs.BuildOnce("graft_lshdelete", "embeddings") {
    (s, d, idx) =>
      val emb = Tables.embeddings(s, d)
      // expand ONCE, land three disjoint delta slices of the expansion —
      // independent jobs over the checkpointed expansion (distinct batch
      // dirs), overlapped from driver threads (guide §2.6)
      val postings = lshPostings(emb).localCheckpoint()
      // the tombstone landing overlaps the delta landings: its
      // watermark is pinned to the highest delta batch id the loop below
      // lands (slices - 1) — exactly what the post-landing computed value
      // would be — so the delete applies to every slice identically, which
      // removes the only ordering dependency and makes it one more
      // independent leg (guide §2.6)
      val slices = 3
      Par.units(((0 until slices).map(i => () => {
        graft.streaming.StreamLshIngest.landPostingsDelta(
          postings.filter(col("neighbor_id") % slices === i), idx, i.toLong)
        ()
      }) :+ (() => {
        graft.streaming.StreamLshIngest.landTombstones(
          emb.filter(col("vec_id") % DeleteMod === DeleteRem)
            .select(col("vec_id").as("neighbor_id")), idx, 0L,
          watermark = Some(slices - 1L))
        ()
      })): _*)
  }

  val qKnnDeleteServe: Q = Q("q_knn_delete_serve", DuckLshDeleteSql) { (s, d) =>
    val idx = lshDeleteIndex.dir(s, d)
    // localCheckpoint: the run dir is reaped 3 builds later, like the
    // other run-dir gates
    lshServeJoin(
      graft.streaming.StreamLshIngest.readPostingsLive(s, idx).drop("tb_hi"),
      lshQueryProbes(Tables.embeddings(s, d))).localCheckpoint()
  }

  val qKnnDeleteCompact: Q = Q("q_knn_delete_compact", DuckLshDeleteSql) { (s, d) =>
    val idx = lshDeleteIndex.dir(s, d)
    // fold only when something is unfolded — a repeat invocation over the
    // memoized (already-folded) tree skips the no-op base rewrite
    val conf = s.sparkContext.hadoopConfiguration
    if (graft.streaming.DeltaCompact.listDeltaBatches(idx, conf).nonEmpty ||
        graft.streaming.DeltaCompact.listTombstoneBatches(idx, conf).nonEmpty) {
      graft.streaming.StreamLshIngest.compactPostings(s, idx); ()
    }
    // PLAIN read, not Live: the fold applied the tombstones physically,
    // so the raw postings already lack the deleted vectors — same oracle
    // as the logical serve, bit for bit
    lshServeJoin(
      graft.streaming.StreamLshIngest.readPostings(s, idx).drop("tb_hi"),
      lshQueryProbes(Tables.embeddings(s, d))).localCheckpoint()
  }

  // ---- q_hybrid_lifecycle: lifecycle gate v2 — DELETE and REFRESH fired
  // INSIDE the streamed RAG build ------------------------------------------

  /** Batch-only oracle for the full-lifecycle gate: [[DuckHybridStreamSql]]
    * with ONE change — the delete set's complement as each branch's corpus
    * predicate (the [[DuckLshDeleteSql]] / `q_bm25_delete` patterns fused
    * by the same RRF tail). The oracle knows nothing about streams,
    * tombstones, refresh generations, or folds: the streamed build with a
    * mid-run takedown, policy-fired index maintenance, and generation
    * folds must serve the bit-identical answer a single batch pass over
    * the surviving corpus computes. */
  private val DuckHybridLifecycleSql: String =
    s"""WITH dlive AS (SELECT * FROM documents
       |  WHERE NOT (doc_id % $DeleteMod = $DeleteRem)),
       |${duckLshCtes(s"NOT (s.vec_id % $DeleteMod = $DeleteRem)")},
       |${graft.operators.TextAnalysis.duckBm25Ctes("dlive")},
       |$DuckLshBm25RrfTail""".stripMargin

  /** Lifecycle gate v2 — everything the streamed retrieval tier does,
    * composed IN one run and pinned BY one oracle. On top of
    * [[qHybridStreamPersist]] (concurrent 4-batch lexical + semantic
    * ingest streams, both indexes built at ingest, served off folded
    * artifacts), this gate adds the two remaining lifecycle verbs,
    * fired mid-run from inside the ingest itself:
    *
    *  - DELETE: the takedown batch arrives after batch 1 — the landed
    *    corpus is consulted for matching keys (takedown-list ∩ catalog,
    *    the production shape) and sequence-watermarked tombstones land on
    *    BOTH trees of each branch (corpus + index); batches after the
    *    takedown consult the list AT INGEST and never land matching rows
    *    (the bloom-consult-on-crawl shape);
    *  - REFRESH, policy-fired not hardcoded — and DETACHED: every batch
    *    runs the DECIDE steps on the ingest path (metadata-cheap,
    *    measured flat across two corpus decades), but a fired ACT runs
    *    on the [[graft.streaming.DetachedMaintainer]], off-path —
    *    [[graft.streaming.AnnMaintenance.lshStep]] submits the
    *    LSH reclaim rebuild when tombstone pressure crosses its floor
    *    (the ~1/7 takedown trips the 5% default exactly once, at batch
    *    1; the width stays pinned to the committed geometry because THIS
    *    gate's oracle fixes it — auto-sizing is LifecycleV2Spec's job),
    *    and [[graft.streaming.StreamBm25Ingest.maintainIndex]]
    *    submits the capped-index rebuild from the folded survivors (the
    *    only exact delete for a capped aggregate — `q_bm25_delete`
    *    rationale), also exactly once (the at-most-one-in-flight guard
    *    absorbs the DECIDE re-firing while the ACT runs). Ingest keeps
    *    landing above the ACT's captured watermark; the result is
    *    bit-identical wherever the capture falls (watermark semantics,
    *    DetachedMaintainerSpec), so the oracle still pins the gate.
    *
    * Post-refresh batches keep landing as deltas above the refresh
    * watermark; the end-of-run maintenance tick folds them (postings
    * fold carries the geometry sidecar; the vector corpus folds its
    * tombstones away physically), and the hybrid RRF serve runs purely
    * off the folded artifacts through the registry serve kernels.
    * Hash-equality against [[DuckHybridLifecycleSql]] then pins the whole
    * composition: deletes, policy-fired refresh generations, and folds
    * commute with the streamed build — bit-identically.
    *
    * Scale shape: the DECIDE steps are metadata reads + one parquet
    * count per batch; each ACT is paid exactly once, at the fold
    * cadence's own cost class (LSH reclaim = one live-corpus posting
    * expansion; BM25 rebuild = one tokenize + capped-aggregate pass);
    * serves stay two bounded index lookups + a ≤13-rows-per-query
    * fusion. */
  val qHybridLifecycle: Q = Q(
    "q_hybrid_lifecycle", DuckHybridLifecycleSql) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(s, d)
    val root = TmpDirs.runDir("graft_hybridlife")

    val takedownDoc = col("doc_id") % DeleteMod === DeleteRem
    val takedownVec = col("vec_id") % DeleteMod === DeleteRem

    // the DETACHED maintainer: a fired ACT (LSH reclaim, BM25 rebuild)
    // stages OFF the ingest path and swaps by atomic generation claim —
    // the 100×-scale shape (SCALE.md: the ACT rides the corpus to 190 s
    // at 100×; inline it would stall both streams' trigger cadence for
    // exactly that long). Ingest keeps landing deltas above the ACT's
    // captured watermark; serves stay on the committed generation until
    // the swap; the end-of-run fold quiesces via awaitAll first. The
    // final artifacts are bit-identical to the synchronous composition
    // regardless of where the ACT's capture falls (watermark semantics —
    // DetachedMaintainerSpec pins this), which is why ONE oracle still
    // pins the whole gate.
    val lexSrc = s"$root/lex_src"
    val lexOut = s"$root/lex"
    val semSrc = s"$root/sem_src"
    val semDocs = s"$root/sem_docs"
    val semIdx = s"$root/sem_idx"
    scala.util.Using.resource(new graft.streaming.DetachedMaintainer("hybridlife")) { maint =>
      // both source splits written before either stream starts — two
      // independent jobs overlapped from driver threads (guide §2.6)
      Par.units(() => StreamGate.split(docs, lexSrc), () => StreamGate.split(emb, semSrc))
      // lexical ingest: per-batch capped partials; takedown at batch 1;
      // the maintenance DECIDE runs every batch and rebuilds exactly once
      val lexLeg = StreamGate.replay(StreamGate.splitSource(docs, lexSrc)) { (b, id) =>
        val incoming = if (id >= 2L) b.filter(!takedownDoc) else b
        graft.streaming.StreamBm25Ingest.ingestStep(incoming, lexOut, id)
        if (id == 1L) {
          val doomed = graft.streaming.DeltaCompact
            .readCorpus(s, s"$lexOut/docs")
            .filter(takedownDoc).select(col("doc_id"))
          graft.streaming.DeltaCompact.landTombstones(
            doomed, s"$lexOut/docs", 0L, watermark = Some(id))
        }
        graft.streaming.StreamBm25Ingest.maintainIndex(s, lexOut, maint)
      }

      // semantic ingest (CONCURRENT with the lexical stream, as in
      // q_hybrid_stream_persist): LSH posting deltas at the COMMITTED
      // geometry; takedown at batch 1 tombstones corpus AND index;
      // AnnMaintenance.lshStep decides every batch, its ACT detached
      val semLeg = StreamGate.replay(StreamGate.splitSource(emb, semSrc)) { (b, id) =>
        val shaped = b.withColumn("doc_id", col("vec_id"))
          .select("doc_id", "vec_id", "label", "embedding")
        val incoming = if (id >= 2L) shaped.filter(!takedownVec) else shaped
        val geomNow = graft.streaming.StreamLshIngest.readGeometry(s, semIdx)
        // corpus landing ∥ posting-delta landing (r17, guide §2.6)
        graft.streaming.StreamLshIngest.ingestAndLand(incoming, semDocs, semIdx,
          id, geometry = geomNow)
        if (id == 1L) {
          val doomed = graft.streaming.DeltaCompact.readCorpus(s, semDocs)
            .filter(takedownVec).select(col("vec_id")).localCheckpoint()
          // two independent tombstone trees (corpus + index), one
          // checkpointed key set — overlap the landings (guide §2.6)
          Par.units(
            () => { graft.streaming.DeltaCompact.landTombstones(
              doomed, semDocs, 0L, watermark = Some(id)); () },
            () => { graft.streaming.StreamLshIngest.landTombstones(
              doomed.select(col("vec_id").as("neighbor_id")), semIdx, 0L,
              watermark = Some(id)); () })
        }
        graft.streaming.AnnMaintenance.lshStep(s, semDocs, semIdx,
          maint, autoSize = false)
      }
      StreamGate.run(lexLeg, semLeg)(())
      // quiesce: both detached ACTs must have committed (or surfaced their
      // failure HERE) before the end-of-run folds touch the same trees
      maint.awaitAll()

      // end-of-run maintenance tick: fold the post-refresh deltas, forget
      // the vector corpus's tombstones physically, carry the geometry —
      // THREE independent trees (semDocs, semIdx, lexOut), so the three
      // folds overlap from driver threads (guide §2.6) instead of paying
      // three per-action floors back to back. The lexical rebuild is a
      // no-op unless deletes pend; no serve is live, so it GCs at the
      // commit and keeps the tree's retention, and the tick awaits it.
      Par.units(
        () => { graft.streaming.DeltaCompact.compact(s, semDocs,
          tombstoneKey = Some("vec_id")); () },
        () => { graft.streaming.StreamLshIngest.compactPostings(s, semIdx); () },
        () => {
          graft.streaming.StreamBm25Ingest.maintainIndex(s, lexOut, maint,
            gcGraceMs = 0L,
            retainSnapshots = graft.streaming.DeltaCompact.PreserveRetention)
          maint.await(lexOut)
        })
    }

    // serve purely off the folded artifacts, through the registry
    // kernels; the two branch checkpoints are independent (lex docs tree
    // vs sem geometry + query probes) and overlap the same way
    val Seq(liveDocs, probes) = Par.run[DataFrame](
      () => graft.streaming.DeltaCompact
        .readCorpus(s, s"$lexOut/docs").select(col("doc_id"), col("text"))
        .localCheckpoint(),
      () => {
        val geom = graft.streaming.StreamLshIngest.readGeometry(s, semIdx)
        lshQueryProbes(emb, geom.tables, geom.bits).localCheckpoint()
      })
    val lex = graft.operators.TextAnalysis
      .bm25Serve(graft.streaming.StreamBm25Ingest.mergeIndexes(s, lexOut), liveDocs)
      .filter(col("query_id") < NumQueries)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = lshServeJoin(
        graft.streaming.StreamLshIngest.readPostings(s, semIdx).drop("tb_hi"),
        probes)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(lex, sem).localCheckpoint()
  }

  val all: Seq[Q] = Seq(
    qKnnBrute, qCentroids, qKnnIvf, qEmbedNearDup, qEmbedQuantize, qEmbedPq,
    qKnnPqAdc, qKnnIvfPq, qEmbedClusters, qSemDedup, qSemDecontam,
    qEmbedNormCheck, qKnnRerank, qKnnIncrAssign, qKnnStreamAssign,
    qStreamAnnCompact, qEmbedDimStats, qKnnIvfPersist, qKnnIvfPqPersist, qKnnIvf2,
    qKnnIvf2Persist, qKnnLsh, qKnnLshPersist, qKnnLshCapped, qKnnFiltered,
    qKnnFilteredPersist, qHybridRrf, qHybridRrfPersist, qHybridStreamPersist,
    qKnnDeleteServe, qKnnDeleteCompact, qHybridLifecycle,
    qHardNegatives, qHardNegativesPersist)
}
