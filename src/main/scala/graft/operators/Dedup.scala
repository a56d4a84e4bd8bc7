package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.{GraftFunctions, Portable}

/** Approximate-dedup operators: MinHash+LSH banding, n-gram Jaccard, and
  * SimHash, built entirely from native Catalyst functions over the
  * engine-portable hash ([[graft.functions.Portable]]) so MinHash/SimHash
  * signatures are bit-identical to the DuckDB oracle.
  *
  * Scale shape: signature computation is a narrow per-row map (no shuffle);
  * candidate generation shuffles once on the LSH band key (or shingle),
  * whose buckets stay tiny by construction — this is the standard way
  * near-dedup survives 100 TB, versus the O(n²) all-pairs join that
  * doesn't.
  *
  * Skew safety: every bucket is collected with the bounded
  * [[graft.functions.CollectCapped]] aggregate and oversized buckets are
  * DROPPED before pair expansion — a hot key (a stopword-ish shingle, a
  * degenerate all-identical corpus collapsing into one band bucket) costs
  * O(cap) memory and O(cap²) pairs instead of OOMing one task. Identical
  * documents are the exact-dedup pass's job ([[TextAnalysis]] fingerprint
  * groupBy), so LSH skipping a mega-bucket of exact copies loses nothing.
  * Every oracle mirrors the cap with a COUNT() OVER (PARTITION BY bucket)
  * filter, so the gates stay value-exact with the cap on.
  */
object Dedup {

  private val NumHashes = 8
  private val Bands = 4 // 2 minhashes per band

  /** Max docs per LSH band bucket before the bucket is skipped. */
  private[operators] val MaxBucket = 1024

  /** Max document frequency for a shingle to join the inverted index —
    * shingles in more docs than this are too common to signal
    * near-duplication and would expand quadratically. */
  private[operators] val MaxShingleDf = 256

  /** Per-(session, sfDir) memo of the LSH candidate-pair set and the
    * connected-component labels — the shared prefix of the dedup family.
    * `q_dedup_near`, `q_dedup_clusters`, `q_dedup_cluster_sizes`,
    * `q_dedup_keep_best`, and `q_minhash_jaccard_est` all start from the
    * same shingle→minhash→band→pair pipeline (and three of them from the
    * same label propagation on top of it); without the memo each gate
    * re-ran the whole prefix. This models the production shape: the dedup
    * graph is built ONCE per corpus snapshot and every downstream audit
    * reads it — at 100 TB the `localCheckpoint` would be a parquet
    * write of the pair list / label table, same idea. Keyed by session so
    * checkpointed blocks never leak across SparkSessions; `q_minhash_pairs`
    * itself stays un-memoized so its gate still times the real pipeline. */
  private val pairsMemo = scala.collection.mutable.Map.empty[String, DataFrame]
  private val labelsMemo = scala.collection.mutable.Map.empty[String, DataFrame]
  private def memoKey(s: SparkSession, d: String): String =
    s"${System.identityHashCode(s)}|$d"
  private def sharedPairs(s: SparkSession, d: String): DataFrame = synchronized {
    pairsMemo.getOrElseUpdate(memoKey(s, d), qMinhashPairs.build(s, d).localCheckpoint())
  }
  private def sharedLabels(s: SparkSession, d: String): DataFrame = synchronized {
    labelsMemo.getOrElseUpdate(memoKey(s, d),
      connectedComponents(
        Tables.documents(s, d).select(col("doc_id")),
        sharedPairs(s, d)).localCheckpoint())
  }

  /** doc_id + source + shingle array (3-word shingles, lowercased). */
  private def withShingles(s: SparkSession, d: String): DataFrame = {
    val ws = Portable.words(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        Portable.shingles(ws, col("text"), 3).as("sh"))
  }

  /** The shingle CTE body over an arbitrary document relation — the
    * persisted-index gate passes split CTEs; everything else takes the
    * full table via [[duckShingles]]. */
  private def duckShinglesOf(rel: String): String =
    s"""SELECT doc_id, source,
      |    CASE WHEN len(words) >= 3
      |      THEN [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
      |            for i in range(1, len(words)-1)]
      |      ELSE [lower(trim(text))] END AS sh
      |  FROM (SELECT doc_id, source, text,
      |      string_split_regex(lower(trim(text)), '\\s+') AS words
      |    FROM $rel)""".stripMargin

  private def duckShingles: String = duckShinglesOf("documents")

  private def duckHash60(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,15)) AS BIGINT)"

  private def duckMinhash(i: Int): String =
    s"list_min([CAST(('0x' || substr(md5(s),${1 + 2 * i},14)) AS BIGINT) for s in sh])"

  /** MinHash LSH band signatures, one row per document. Docs agreeing on
    * any band column are near-duplicate candidates.
    *
    * Shape: explode shingles → ONE codegen'd md5 per shingle row → groupBy
    * doc_id with 8 slice-mins. An array-lambda formulation
    * (`array_min(transform(sh, md5…))` × 8 columns) re-evaluates the whole
    * shingle pipeline per signature column and walks interpreted
    * higher-order lambdas — measured 80+ s at sf0.1 vs ~2 s for this plan.
    * The doc_id shuffle carries one partial-min row per (doc × partition),
    * map-side combined, so it scales like any hash aggregate. */
  val qMinhashBands: Q = Q(
    "q_minhash_bands", {
      val mh = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")
      val bands = (0 until Bands).map { b =>
        s"md5(CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR)) AS band$b"
      }.mkString(", ")
      s"""SELECT doc_id, $bands FROM
         |(SELECT doc_id, $mh FROM ($duckShingles))""".stripMargin
    }) { (s, d) =>
    minhashSigs(s, d).select(
      col("doc_id") +: (0 until Bands).map { b =>
        md5(concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).cast("binary"))
          .as(s"band$b")
      }: _*)
  }

  /** The 8 minhash signature components per document (the stage
    * [[qMinhashBands]] bands up and [[qMinhashJaccardEst]] audits). */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    sigsOf(withShingles(s, d))

  /** [[minhashSigs]] over an arbitrary pre-shingled frame (doc_id, sh) —
    * shared with the persisted-index build and its incoming-batch serve,
    * which sign DIFFERENT document subsets through one definition. */
  private def sigsOf(shingled: DataFrame): DataFrame = {
    // ONE fused native digest+slice call per shingle (Md5Slices) instead
    // of md5-to-hex plus 8 substring+conv base-16 parses; identical
    // values (Md5HashSpec pins parity with the conv formulation the
    // DuckDB oracle mirrors).
    val hashed = shingled
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"),
        Portable.minhashSlices(col("shingle"), NumHashes).as("sl"))
    val mins = (0 until NumHashes).map(i =>
      min(element_at(col("sl"), i + 1)).as(s"mh$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, sh) for an arbitrary documents frame (doc_id, text). */
  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Portable.shingles(Portable.words(col("text")), col("text"), 3).as("sh"))

  /** LSH candidate pairs: the bucket join on band keys. Empty when the
    * corpus has no near-duplicates (the oracle agrees on empty). */
  val qMinhashPairs: Q = Q(
    "q_minhash_pairs", {
      val unpivot = (0 until Bands)
        .map(b => s"SELECT doc_id, $b AS band_id, band$b AS bhash FROM bands")
        .mkString(" UNION ALL ")
      s"""WITH sh AS ($duckShingles),
         |mh AS (SELECT doc_id, ${(0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")} FROM sh),
         |bands AS (SELECT doc_id, ${(0 until Bands).map(b => s"md5(CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR)) AS band$b").mkString(", ")} FROM mh),
         |long AS ($unpivot),
         |longc AS (SELECT doc_id, band_id, bhash FROM
         |  (SELECT *, count(*) OVER (PARTITION BY band_id, bhash) AS bsz FROM long)
         |  WHERE bsz <= $MaxBucket)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM longc a JOIN longc b
         |  ON a.band_id = b.band_id AND a.bhash = b.bhash AND a.doc_id < b.doc_id""".stripMargin
    }) { (s, d) =>
    val bands = qMinhashBands.build(s, d)
    val long = bands.selectExpr(
      "doc_id",
      s"stack($Bands, ${(0 until Bands).map(b => s"$b, band$b").mkString(", ")}) AS (band_id, bhash)")
    // group-then-expand instead of a self-join: the signature pipeline runs
    // ONCE (a self-join recomputes it per side — measured 69 s vs ~12 s at
    // sf0.1), and the shuffle carries one row per (band, doc) instead of a
    // join build side. Pairs come from two nested explodes (codegen'd
    // Generate) — the array-lambda formulation (flatten∘transform∘slice)
    // walks interpreted HigherOrderFunctions and allocates per element.
    // collectCapped bounds per-bucket state at MaxBucket+1 elements;
    // size MaxBucket+1 = overflow → the between() drops the bucket.
    long.groupBy("band_id", "bhash")
      .agg(GraftFunctions.collectCapped(col("doc_id"), MaxBucket).as("docs"))
      .filter(size(col("docs")).between(2, MaxBucket))
      .select(col("docs"), explode(col("docs")).as("doc_a"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard of the 20 most-similar pairs, via the scalable
    * shingle-inverted-index join (never all-pairs). */
  val qNgramJaccard: Q = Q(
    "q_ngram_jaccard",
    s"""WITH sh AS ($duckShingles),
       |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh),
       |sizes AS (SELECT doc_id, len(sh) AS sz FROM ds),
       |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM ds),
       |invc AS (SELECT doc_id, shingle FROM
       |  (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM inv)
       |  WHERE df <= $MaxShingleDf),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM invc a JOIN invc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
    val ds = withShingles(s, d).select(col("doc_id"), array_distinct(col("sh")).as("sh"))
    // Carry each doc's shingle-set size INTO the inverted index, so the
    // bucket expansion emits (doc_a, sa, doc_b, sb) directly — no size
    // lookup joins, and the shingle pipeline runs exactly once. Two
    // shuffles total (shingle, pair). Shingles with document frequency
    // above MaxShingleDf are dropped BEFORE expansion (collectCapped keeps
    // the bucket O(cap); the between() filter drops the overflow) — the
    // jaccard denominator still uses the FULL per-doc shingle-set size, so
    // surviving pairs score exactly as uncapped. Note this makes reported
    // jaccard a lower bound for docs sharing ultra-common shingles — the
    // standard trade (common shingles carry no near-dup signal).
    val inv = ds.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
    inv.groupBy("shingle")
      .agg(GraftFunctions.collectCapped(struct(col("doc_id"), col("sz")), MaxShingleDf).as("docs"))
      .filter(size(col("docs")).between(2, MaxShingleDf))
      // two nested explodes (codegen'd Generate) + a < filter — faster than
      // the interpreted flatten∘transform∘slice pair expansion
      .select(col("docs"), explode(col("docs")).as("a"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"), first(col("a.sz")).as("sa"), first(col("b.sz")).as("sb"))
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / (col("sa") + col("sb") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Sketch-accuracy audit: every LSH candidate pair scored BOTH ways —
    * the signature-estimated Jaccard (agreeing minhash components out of
    * 8) next to the exact distinct-shingle Jaccard. This is the
    * measurement a production dedup pipeline runs before trusting a
    * banding threshold: it tells you the sketch's actual error on YOUR
    * corpus, not the textbook expectation.
    *
    * Scale shape: exact verification runs ONLY on LSH survivors — the
    * candidate pair list (tiny by construction) is broadcast against two
    * narrow probes of the signature and shingle-set tables; the standard
    * candidate-verify pattern, never all-pairs. */
  val qMinhashJaccardEst: Q = Q(
    "q_minhash_jaccard_est", {
      val mh = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")
      val estSum = (0 until NumHashes).map(i =>
        s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH cand AS (${qMinhashPairs.oracle.get}),
         |sh2 AS ($duckShingles),
         |mhs AS (SELECT doc_id, $mh FROM sh2),
         |ds AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh2)
         |SELECT c.doc_a, c.doc_b,
         |  round(($estSum) / 8.0, 4) AS est_jaccard,
         |  round(CAST(len(list_intersect(da.shd, db.shd)) AS DOUBLE) /
         |    (len(da.shd) + len(db.shd) - len(list_intersect(da.shd, db.shd))), 4) AS jaccard
         |FROM cand c
         |JOIN mhs ma ON ma.doc_id = c.doc_a JOIN mhs mb ON mb.doc_id = c.doc_b
         |JOIN ds da ON da.doc_id = c.doc_a JOIN ds db ON db.doc_id = c.doc_b""".stripMargin
    }) { (s, d) =>
    val pairs = sharedPairs(s, d)
    val sigs = minhashSigs(s, d)
    val ds = withShingles(s, d)
      .select(col("doc_id"), array_distinct(col("sh")).as("shd"))
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"b$i")): _*)
    val est = (0 until NumHashes).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
      .cast("double") / NumHashes
    val withSig = broadcast(pairs).join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), round(est, 4).as("est_jaccard"))
    val inter = size(array_intersect(col("a_shd"), col("b_shd")))
    broadcast(withSig)
      .join(ds.select(col("doc_id").as("doc_a"), col("shd").as("a_shd")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("shd").as("b_shd")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(inter.cast("double") /
          (size(col("a_shd")) + size(col("b_shd")) - inter), 4).as("jaccard"))
  }

  /** 32-bit SimHash per document over distinct word tokens. */
  val qSimhash: Q = Q(
    "q_simhash",
    s"""SELECT doc_id,
       |  CAST(list_sum([CASE WHEN 2*len(list_filter(hs, h -> (h // CAST(pow(2,b) AS BIGINT)) % 2 = 1)) > len(hs)
       |    THEN CAST(pow(2,b) AS BIGINT) ELSE 0 END for b in range(0, 32)]) AS BIGINT) AS simhash
       |FROM (SELECT doc_id,
       |    [${duckHash60("t")} for t in list_distinct(string_split_regex(lower(trim(text)), '\\s+'))] AS hs
       |  FROM documents)""".stripMargin) { (s, d) =>
    // Explode → ONE md5 per token row → 32 codegen'd bit-count aggregates
    // ([[simhashSig]]). The array formulation ([[Portable.simhash32]] over
    // transform(toks, hash60)) inlines the md5 transform into each of the
    // 32 per-bit filter lambdas → 32× the hashing, interpreted — measured
    // 272 s at sf0.1 vs ~3 s for this plan. Same scale shape as a hash
    // aggregate: map-side partial bit-counts, one shuffle on doc_id.
    simhashSig(Tables.documents(s, d), 32)
  }

  /** SimHash banding candidate pairs, parameterized by signature width:
    * band the `bits`-bit signature into four `bandBits`-bit bands — any
    * pair within Hamming distance 3 agrees on at least one band
    * (pigeonhole), so banding finds all near-dups without an all-pairs
    * scan. Same group-then-expand bucket shape as [[qMinhashPairs]] (one
    * shuffle on (band_id, band value), signature pipeline runs once); the
    * final Hamming distance is one codegen'd `bit_count(a XOR b)`.
    *
    * Scale: band-bucket density is corpus_size / 2^bandBits, so the
    * within-bucket pair expansion — the only super-linear term — is a
    * direct function of bandBits. SCALE.md measured 4.4x at 10x corpus for
    * the 4x8 parameterization (2^8 band space densifies) vs 2.3x for
    * 4x15; the 60-bit/4x15 form is therefore the DEFAULT pair gate and
    * the 32-bit/4x8 form is kept as the compact-signature compat variant.
    * The pigeonhole guarantee is identical in both. Buckets are hard-capped
    * by `graft_collect_capped` either way. */
  /** The `bits`-bit SimHash signature per document, as SQL over an
    * arbitrary relation — shared by the pair gates and the persisted
    * serve's split CTEs. */
  private def duckSimhashSig(bits: Int, rel: String = "documents"): String =
    s"""SELECT doc_id,
       |  CAST(list_sum([CASE WHEN 2*len(list_filter(hs, h -> (h // CAST(pow(2,b) AS BIGINT)) % 2 = 1)) > len(hs)
       |    THEN CAST(pow(2,b) AS BIGINT) ELSE 0 END for b in range(0, $bits)]) AS BIGINT) AS simhash
       |FROM (SELECT doc_id,
       |    [${duckHash60("t")} for t in list_distinct(string_split_regex(lower(trim(text)), '\\s+'))] AS hs
       |  FROM $rel)""".stripMargin

  /** The `bits`-bit SimHash signature per document — one md5 per
    * distinct-token row, `bits` codegen'd bit-count aggregates (see
    * [[qSimhash]] for why the array formulation loses). Shared by the
    * pair gates and the persisted serve. */
  private def simhashSig(docs: DataFrame, bits: Int): DataFrame = {
    val hashed = docs
      .select(col("doc_id"),
        explode(array_distinct(Portable.words(col("text")))).as("t"))
      .select(col("doc_id"), Portable.hash60(col("t")).as("h"))
    val bitCounts = (0 until bits).map(b =>
      sum(shiftright(col("h"), b) % 2).as(s"b$b")) :+ count(lit(1)).as("n")
    hashed.groupBy("doc_id").agg(bitCounts.head, bitCounts.tail: _*)
      .select(
        col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private def simhashPairsQ(name: String, bits: Int, bandBits: Int): Q = {
    val nBands = bits / bandBits
    require(nBands * bandBits == bits && nBands == 4, s"$bits != 4 x $bandBits")
    val bandSpace = 1L << bandBits
    val sigSql = duckSimhashSig(bits)
    val unpivot = (0 until nBands)
      .map(b => s"SELECT doc_id, simhash, $b AS band_id, (simhash // ${1L << (bandBits * b)}) % $bandSpace AS band FROM sh")
      .mkString(" UNION ALL ")
    Q(name,
      s"""WITH sh AS ($sigSql), long AS ($unpivot),
         |longc AS (SELECT doc_id, simhash, band_id, band FROM
         |  (SELECT *, count(*) OVER (PARTITION BY band_id, band) AS bsz FROM long)
         |  WHERE bsz <= $MaxBucket)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM longc a JOIN longc b
         |  ON a.band_id = b.band_id AND a.band = b.band AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin) { (s, d) =>
      val sig = simhashSig(Tables.documents(s, d), bits)
      val long = sig.selectExpr(
        "doc_id", "simhash",
        s"stack($nBands, ${(0 until nBands).map(b => s"$b, shiftright(simhash, ${bandBits * b}) % $bandSpace").mkString(", ")}) AS (band_id, band)")
      long.groupBy("band_id", "band")
        .agg(GraftFunctions.collectCapped(struct(col("doc_id"), col("simhash")), MaxBucket).as("docs"))
        .filter(size(col("docs")).between(2, MaxBucket))
        .select(col("docs"), explode(col("docs")).as("a"))
        .select(col("a"), explode(col("docs")).as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(20)
    }
  }

  /** Default SimHash pair gate: 60-bit signature, 4x15-bit bands (the
    * scale-safe parameterization — see [[simhashPairsQ]]). */
  val qSimhashPairs: Q = simhashPairsQ("q_simhash_pairs", 60, 15)

  /** Compat variant: 32-bit signature, 4x8-bit bands — matches the
    * classic compact-SimHash layout; densifies past ~10x corpus
    * (SCALE.md), so it is NOT the default pair path. */
  val qSimhashPairs32: Q = simhashPairsQ("q_simhash_pairs_32", 32, 8)

  /** Near-dedup applied: the surviving corpus after dropping the higher
    * doc_id of every MinHash candidate pair — the "keep one representative"
    * step, expressed as a left-anti join against the pair losers (pair
    * generation shuffles on band keys; the final prune is one anti join). */
  val qDedupNear: Q = Q(
    "q_dedup_near", {
      val pairsSql = qMinhashPairs.oracle.get
      s"""SELECT doc_id FROM documents WHERE doc_id NOT IN
         |(SELECT doc_b FROM ($pairsSql))""".stripMargin
    }) { (s, d) =>
    val losers = sharedPairs(s, d).select(col("doc_b"))
    Tables.documents(s, d)
      .join(losers, col("doc_id") === col("doc_b"), "left_anti")
      .select("doc_id")
  }

  /** Cross-source duplication matrix: every LSH candidate pair attributed
    * to its (source, source) cell — the provenance audit that tells a
    * corpus curator WHERE near-duplication comes from (a mirror site
    * duplicating another crawl, a source duplicating itself) and which
    * source pairs to prioritize for dedup or exclusion. Source pairs are
    * emitted order-normalized (least/greatest) so A~B and B~A land in one
    * cell.
    *
    * Scale shape: starts from the shared candidate-pair prefix (built
    * once per corpus snapshot — [[sharedPairs]]), then two keyed joins of
    * the pair list against the narrow (doc_id, source) projection and one
    * #sources²-bounded aggregate. Never doc×doc; cost is O(pairs), which
    * LSH already bounded. */
  val qCrossSourceDups: Q = Q(
    "q_cross_source_dups", {
      val pairsSql = qMinhashPairs.oracle.get
      s"""WITH pairs AS ($pairsSql)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    sharedPairs(s, d)
      .join(docs.withColumnRenamed("source", "sa"), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(docs.withColumnRenamed("source", "sb"), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Candidate-graph degree histogram: how many documents have 0, 1, 2, …
    * LSH candidate partners — the dedup-run health check that surfaces
    * hub documents (boilerplate templates, navigation chrome) whose high
    * degree means pair expansion, cluster growth, and keep-one decisions
    * all concentrate on them. Degree-0 docs are included (the corpus mass
    * dedup never touches), so the histogram partitions the corpus.
    *
    * Scale shape: the shared pair prefix, one doc_id-keyed count over the
    * unioned endpoints, a left join against the narrow id projection, and
    * a #distinct-degrees-sized aggregate — O(pairs + docs). */
  val qDedupDegree: Q = Q(
    "q_dedup_degree", {
      val pairsSql = qMinhashPairs.oracle.get
      s"""WITH pairs AS ($pairsSql),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT doc_a AS doc_id FROM pairs
         |   UNION ALL SELECT doc_b AS doc_id FROM pairs) GROUP BY doc_id)
         |SELECT coalesce(deg.degree, 0) AS degree,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
         |GROUP BY 1""".stripMargin
    }) { (s, d) =>
    val p = sharedPairs(s, d)
    val deg = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
  }

  /** Connected-component dedup clustering: every document labeled with the
    * smallest doc_id reachable through the LSH candidate-pair graph — the
    * step [[qDedupNear]]'s pair-loser prune approximates. Pair losers
    * under-merge transitive chains (A~B, B~C but never A~C leaves C's fate
    * depending on which pairs LSH surfaced); components merge the whole
    * chain to one representative.
    *
    * Implementation: iterative min-label propagation on the edge list —
    * per round, one equi-join of edges against current labels and one
    * min-aggregate, both shuffling on doc_id. Rounds = component diameter;
    * near-dup components are small cliques (diameter 1-2), so this
    * converges in 2-3 rounds on real corpora — the O(log n) large-star /
    * small-star variant only pays off on adversarial long chains.
    * Convergence is detected via sum(label): labels only ever decrease, so
    * an unchanged sum is a fixpoint. Each round is cut from the lineage
    * with an eager localCheckpoint — without it round N re-executes the
    * whole LSH pipeline N times over.
    *
    * Oracle: DuckDB recursive-CTE transitive closure (exact, viable at
    * oracle scale only). */
  val qDedupClusters: Q = Q(
    "q_dedup_clusters", {
      val pairsSql = qMinhashPairs.oracle.get
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (SELECT u, v AS r FROM edges
         |  UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         |mins AS (SELECT u, min(r) AS mn FROM reach GROUP BY u)
         |SELECT d.doc_id, least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
         |FROM documents d LEFT JOIN mins m ON m.u = d.doc_id""".stripMargin
    }) { (s, d) =>
    sharedLabels(s, d)
  }

  /** Min-label propagation: label every node with the smallest `doc_id`
    * reachable through `pairs` (columns doc_a, doc_b; undirected). Output:
    * (doc_id, cluster_id), one row per node. See [[qDedupClusters]] for the
    * scale shape and convergence argument. */
  private[operators] def connectedComponents(
      nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    // propagate only over nodes that appear in the pair graph — in a
    // dedup workload that is the (small) duplicate population, so each
    // round's join touches |graph| rows, not |corpus|; isolated docs get
    // their identity label in one final left join
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")).localCheckpoint()
    // convergence metric: labels only ever decrease, so an unchanged sum
    // is a fixpoint. Sum in decimal(38,0) — summing LongType would
    // overflow for hash-derived 2^60-ish ids long before 38 digits do
    def labelSum(): BigDecimal = BigDecimal(
      labels.agg(
        coalesce(sum(col("cluster_id").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0))
    var prevSum: Option[BigDecimal] = None
    var curSum = labelSum()
    while (prevSum.forall(curSum < _)) {
      val nbrMin = edges.join(labels, edges("v") === labels("doc_id"))
        .groupBy(col("u")).agg(min(col("cluster_id")).as("nbr_min"))
      labels = labels.join(nbrMin, labels("doc_id") === nbrMin("u"), "left")
        .select(labels("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      prevSum = Some(curSum)
      curSum = labelSum()
    }
    nodes.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "g_id"),
        col("doc_id") === col("g_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Dedup-run audit: the cluster-SIZE histogram — how many duplicate
    * clusters of each size the LSH graph produced. This is the first
    * table an operator reads after a dedup run: a fat tail of giant
    * clusters means boilerplate/template contamination (or a banding
    * threshold set too loose), a histogram dominated by size 1 means the
    * corpus is mostly unique. Two cheap aggregates on top of
    * [[qDedupClusters]]'s labels; output is O(max cluster size) rows. */
  val qDedupClusterSizes: Q = Q(
    "q_dedup_cluster_sizes", {
      val clustersSql = qDedupClusters.oracle.get
      s"""WITH clusters AS ($clustersSql),
         |sizes AS (SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY sz""".stripMargin
    }) { (s, d) =>
    sharedLabels(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
  }

  /** Benchmark-contamination check — the decontamination pass every
    * training corpus runs before evaluation: treating one source
    * (`src0`) as the held-out benchmark, score each of its documents by
    * the fraction of its distinct 3-word shingles that appear ANYWHERE
    * in the training split (all other sources).
    *
    * Shape: the training side collapses to a distinct-shingle set (one
    * shuffle), the eval side semi-joins against it on the shingle key
    * (second shuffle) — never a doc×doc comparison, so it scales with
    * corpus size like the LSH queries do. */
  val qContamination: Q = Q(
    "q_contamination",
    s"""WITH sh AS ($duckShingles),
       |ds AS (SELECT doc_id, source, list_distinct(sh) AS sh FROM sh),
       |eval AS (SELECT doc_id, unnest(sh) AS shingle FROM ds WHERE source = 'src0'),
       |train AS (SELECT DISTINCT shingle FROM
       |  (SELECT unnest(sh) AS shingle FROM ds WHERE source <> 'src0')),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM eval GROUP BY doc_id),
       |hit AS (SELECT e.doc_id, count(*) AS n_hit
       |  FROM eval e JOIN train t ON e.shingle = t.shingle GROUP BY e.doc_id)
       |SELECT tot.doc_id AS doc_id, n_shingles,
       |  coalesce(n_hit, 0) AS n_hit,
       |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_shingles, 4) AS contaminated_frac
       |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin) { (s, d) =>
    val ds = withShingles(s, d)
      .select(col("doc_id"), col("source"), array_distinct(col("sh")).as("sh"))
    val eval = ds.filter(col("source") === "src0")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val train = ds.filter(col("source") =!= "src0")
      .select(explode(col("sh")).as("shingle")).distinct()
    val tot = eval.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hit = eval.join(train, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"), 4)
          .as("contaminated_frac"))
  }

  /** Curation keep-best: each near-dup cluster keeps its HIGHEST-quality
    * member (quality = stopword ratio, the cheap naturalness heuristic;
    * ties break to the smaller doc_id) — the policy real curation uses in
    * place of [[qDedupNear]]'s keep-smallest-id. One row per cluster with
    * the survivor and the member count.
    *
    * Shape: cluster labels come from [[connectedComponents]] (bucketed LSH
    * pairs + min-label propagation — no all-pairs anywhere); the quality
    * score is a narrow per-row map; the argmax is a window over
    * cluster_id, which shuffles once and whose partitions are near-dup
    * clusters — small by construction at any corpus size. Quality is
    * rounded to 6 decimals on BOTH engines before ordering so the argmax
    * never hinges on a fp ulp. */
  val qDedupKeepBest: Q = Q(
    "q_dedup_keep_best", {
      val pairsSql = qMinhashPairs.oracle.get
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, r) AS (SELECT u, v AS r FROM edges
         |  UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         |mins AS (SELECT u, min(r) AS mn FROM reach GROUP BY u),
         |labels AS (SELECT d.doc_id,
         |    least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN mins m ON m.u = d.doc_id),
         |qual AS (SELECT doc_id,
         |    round(CAST(len(regexp_extract_all(lower(text), '\\b${TextAnalysis.Stop}\\b')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS q
         |  FROM documents)
         |SELECT cluster_id, doc_id AS kept_doc, members FROM
         |  (SELECT l.cluster_id, l.doc_id, q,
         |    count(*) OVER (PARTITION BY cluster_id) AS members,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, l.doc_id) AS rn
         |  FROM labels l JOIN qual USING (doc_id))
         |WHERE rn = 1""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val labels = sharedLabels(s, d)
    val nWords = TextAnalysis.wordCountFloor1(col("text"))
    val nStop = TextAnalysis.stopCount(col("text"))
    val qual = Tables.documents(s, d).select(
      col("doc_id"), round(nStop.cast("double") / nWords, 6).as("q"))
    labels.join(qual, "doc_id")
      .withColumn("members", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"), col("members"))
  }

  /** K-word windows for the duplicated-span signal. */
  private[operators] val SpanK = 8

  /** Duplicated-span coverage — the exact-substring dedup signal (reference
    * has nothing like it; the technique is Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): per
    * document, the fraction of its K-word windows whose exact text also
    * occurs in at least one OTHER document. Near 0 = original prose; near 1
    * = the document is assembled from corpus boilerplate. Complements
    * [[qNgramJaccard]]: that one scores document PAIRS by set overlap, this
    * one is a per-document filter column and never forms pairs at all.
    *
    * Shape: explode K-grams → hash to 60-bit longs ([[Portable.hash60]], so
    * the shuffle carries fixed-width keys, not strings) → ONE window pass
    * over the gram hash ("occurs in ≥2 distinct docs" is just
    * `min(doc_id) != max(doc_id)` per gram — no distinct, no document-
    * frequency table, no join back) → one per-doc aggregate, whose
    * count(*) IS the span count (every doc with ≥ K words contributes
    * exactly len-K+1 gram rows), so the result needs no second scan of
    * the corpus. Two full-data shuffles total (gram hash, then doc id) —
    * down from four in the aggregate+join formulation this replaced
    * (measured 2.5 s → 1.9 s at sf0.1; same result bit-for-bit). Every
    * shuffle bucket holds rows of one gram, never cross-doc expansions —
    * a stopword-ish hot gram costs one sort run, keeping this skew-robust
    * without a [[MaxBucket]] cap. */
  val qDupSpanCoverage: Q = Q(
    "q_dup_span_coverage", {
      val gram = (0 until SpanK).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
         |    FROM documents),
         |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= $SpanK),
         |sh AS (SELECT doc_id, CAST(len(ws) - ${SpanK - 1} AS BIGINT) AS n_spans,
         |    [$gram for i in range(1, len(ws) - ${SpanK - 2})] AS sh FROM f),
         |g AS (SELECT doc_id, ${duckHash60("s")} AS gh
         |    FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
         |pd AS (SELECT doc_id, gh, count(*) AS cnt FROM g GROUP BY 1, 2),
         |gdf AS (SELECT gh FROM pd GROUP BY gh HAVING count(*) >= 2),
         |dup AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup
         |    FROM pd JOIN gdf USING (gh) GROUP BY 1)
         |SELECT s.doc_id, s.n_spans, coalesce(d.n_dup, 0) AS n_dup_spans,
         |  round(coalesce(d.n_dup, 0) / s.n_spans, 4) AS dup_ratio
         |FROM sh s LEFT JOIN dup d USING (doc_id)""".stripMargin
    }) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= SpanK)
    val grams = base
      .select(col("doc_id"),
        explode(Portable.shingles(col("ws"), lit(""), SpanK)).as("g"))
      .select(col("doc_id"), Portable.hash60(col("g")).as("gh"))
    val w = Window.partitionBy("gh")
    val flagged = grams.select(col("doc_id"),
      (min("doc_id").over(w) =!= max("doc_id").over(w)).as("dup"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans") / col("n_spans"), 4).as("dup_ratio"))
  }

  /** Exact-substring dedup APPLIED — the rewrite step of the Lee et al.
    * recipe that [[qDupSpanCoverage]] only measures: every word covered
    * by any duplicated [[SpanK]]-word window is excised and the document
    * re-assembled from the surviving words. Output per doc: original and
    * removed word counts plus the md5 fingerprint of the rewritten text
    * (fingerprint, not full text, keeps the gate output compact and the
    * hash compare robust).
    *
    * Scale shape: duplicated occurrences are flagged by the same
    * single-window-pass `min(doc_id) != max(doc_id)` test as the coverage
    * gate (no distinct-doc table, no join back); covered positions expand
    * each duplicated WINDOW to [[SpanK]] (doc, position) rows — linear in
    * dup volume, never pairwise; the rebuild is one groupBy(doc_id) with a
    * sorted collect bounded by document length (the same per-doc bound
    * every narrow text op here already carries). */
  val qDupSpanRemoval: Q = Q(
    "q_dup_span_removal", {
      val gram = (0 until SpanK).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
        .mkString(" || ' ' || ")
      s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
         |    FROM documents),
         |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= $SpanK),
         |sh AS (SELECT doc_id, [$gram for i in range(1, len(ws) - ${SpanK - 2})] AS sh FROM f),
         |g AS (SELECT doc_id, unnest(range(1, len(sh) + 1)) AS i,
         |    unnest([${duckHash60("s")} for s in sh]) AS gh FROM sh),
         |gdf AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
         |    GROUP BY gh HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + $SpanK)) AS p
         |    FROM g JOIN gdf USING (gh)),
         |wp AS (SELECT doc_id, len(ws) AS n_words,
         |    unnest(range(1, len(ws) + 1)) AS p, unnest(ws) AS w FROM f),
         |kept AS (SELECT wp.doc_id, wp.n_words, wp.p, wp.w FROM wp
         |    LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.p = cov.p
         |    WHERE cov.p IS NULL),
         |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
         |    md5(string_agg(w, ' ' ORDER BY p)) AS new_fp
         |    FROM kept GROUP BY doc_id)
         |SELECT f.doc_id, CAST(len(f.ws) AS BIGINT) AS n_words,
         |  CAST(len(f.ws) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(r.new_fp, md5('')) AS new_fp
         |FROM f LEFT JOIN rebuilt r USING (doc_id)""".stripMargin
    }) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= SpanK)
    val grams = base
      .select(col("doc_id"),
        posexplode(Portable.shingles(col("ws"), lit(""), SpanK)).as(Seq("i0", "g")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), Portable.hash60(col("g")).as("gh"))
    val w = Window.partitionBy("gh")
    val covered = grams
      .select(col("doc_id"), col("i"),
        (min("doc_id").over(w) =!= max("doc_id").over(w)).as("dup"))
      .filter(col("dup"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (SpanK - 1))).as("p"))
      .distinct()
    val wordsPos = base
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        posexplode(col("ws")).as(Seq("p0", "w")))
      .select(col("doc_id"), col("n_words"), (col("p0") + 1).as("p"), col("w"))
    val rebuilt = wordsPos.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("p"), col("w")))),
            s => s.getField("w")),
          " ").cast("binary")).as("new_fp"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("new_fp"), md5(lit("").cast("binary"))).as("new_fp"))
  }

  /** Incremental dedup — a NEW ingest batch (here: doc_id % 10 = 0, the
    * deterministic stand-in for "today's crawl") checked against the
    * HISTORICAL corpus's MinHash band index. This is the shape dedup
    * actually takes at 100 TB: the historical band index is a materialized
    * table maintained across ingests (bucketed by band hash for a
    * shuffle-free probe), and each new batch only computes signatures for
    * ITS documents and joins them against the index — nothing re-scans or
    * re-clusters the accumulated corpus.
    *
    * In this single-table gate both sides derive from one scan, so instead
    * of a self-join (which would run the signature pipeline once per side)
    * the historical presence count is a window over the band bucket:
    * signatures compute ONCE, one shuffle on (band_id, bhash), and a
    * per-bucket counter — no pair expansion, so no [[MaxBucket]] cap is
    * needed and a degenerate all-identical corpus costs O(bucket) counters.
    * Output: every new-batch document with its dup-of-corpus verdict. */
  val qIncrDedup: Q = Q(
    "q_incr_dedup", {
      val mh = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")
      val bands = (0 until Bands).map { b =>
        s"md5(CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR)) AS band$b"
      }.mkString(", ")
      val unpivot = (0 until Bands)
        .map(b => s"SELECT doc_id, $b AS band_id, band$b AS bhash FROM bands")
        .mkString(" UNION ALL ")
      s"""WITH sh AS ($duckShingles),
         |mh AS (SELECT doc_id, $mh FROM sh),
         |bands AS (SELECT doc_id, $bands FROM mh),
         |long AS ($unpivot),
         |flag AS (SELECT doc_id, band_id, bhash, (doc_id % 10 = 0) AS is_new FROM long),
         |wh AS (SELECT doc_id, is_new,
         |    sum(CASE WHEN is_new THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY band_id, bhash) AS n_hist FROM flag)
         |SELECT doc_id, max(n_hist) > 0 AS is_dup
         |FROM wh WHERE is_new GROUP BY doc_id""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val long = qMinhashBands.build(s, d)
      .selectExpr(
        "doc_id",
        s"stack($Bands, ${(0 until Bands).map(b => s"$b, band$b").mkString(", ")}) AS (band_id, bhash)")
      .withColumn("is_new", col("doc_id") % 10 === 0)
    long
      .withColumn("n_hist",
        sum(when(col("is_new"), 0L).otherwise(1L))
          .over(Window.partitionBy("band_id", "bhash")))
      .filter(col("is_new"))
      .groupBy("doc_id")
      .agg((max(col("n_hist")) > 0).as("is_dup"))
  }

  // ---- persisted near-dup index: build-once / serve-many dedup -----------
  //
  // The production shape of "dedup the new crawl": the landed corpus is
  // signed ONCE — its LSH band index persists as (band_id, bhash, doc_id,
  // mh0..mh7) — and every incoming batch thereafter is checked against
  // that artifact with zero corpus re-reads. The stored row is bucket
  // membership (candidate generation) PLUS the full 8-component signature
  // (index-only verification): at 100 TB the corpus TEXT never moves
  // again — the index is ~100 bytes/doc regardless of document size, and
  // serve cost is batch-sized signing + a bucket join + a signature
  // compare. Est-Jaccard (agreeing components / 8) is the standard sketch
  // verdict a pipeline acts on before any exact-verify fetch of the few
  // survivor pairs ([[qMinhashJaccardEst]] is the audit that calibrates
  // the threshold on this corpus).

  /** Incoming-batch split rule for the persisted-dedup gate: doc_id ≡ 7
    * (mod 10) plays the NEW CRAWL; the rest is the landed corpus. ONE
    * definition interpolated into engine predicate and oracle SQL. */
  private val IncomingMod = 10
  private val IncomingRem = 7

  /** Duplicate verdict threshold: ≥ 4 of 8 agreeing signature
    * components ≈ Jaccard ≥ 0.5 (k/8 is binary-exact in both engines). */
  private val NeardupMinEst = 0.5

  private def mhNames: Seq[String] = (0 until NumHashes).map(i => s"mh$i")

  /** Wide band columns from a signature frame — the [[qMinhashBands]]
    * band rule (md5 of the band's two minhash components), shared by the
    * index build and the incoming-batch serve. */
  private def withBandCols(sigs: DataFrame): DataFrame =
    sigs.select(
      (col("doc_id") +: mhNames.map(col)) ++
        (0 until Bands).map { b =>
          md5(concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).cast("binary"))
            .as(s"band$b")
        }: _*)

  /** Unpivot wide bands to (doc_id, mh*, band_id, bhash) posting rows. */
  private def bandsLong(wide: DataFrame): DataFrame =
    wide.selectExpr(
      (Seq("doc_id") ++ mhNames) :+
        s"stack($Bands, ${(0 until Bands).map(b => s"$b, band$b").mkString(", ")}) AS (band_id, bhash)": _*)

  /** Build-once half: sign the corpus, band it, cap each (band_id, bhash)
    * bucket at [[MaxBucket]] (the [[qMinhashPairs]] skew rule — oversized
    * buckets carry no near-dup signal and would expand quadratically),
    * and land the posting rows range-partitioned + sorted on (band_id,
    * bhash) so probe-side row-group min/max skipping works. Memoized per
    * (data fingerprint, pid) like `TextAnalysis.bm25Persisted`. */
  private[graft] val neardupIndex = TmpDirs.BuildOnce("graft_neardup", "documents") {
    (s, d, dir) =>
      buildNeardupIndex(
        Tables.documents(s, d)
          .filter(col("doc_id") % IncomingMod =!= IncomingRem)
          .select(col("doc_id"), col("text")),
        dir)
  }

  /** The build kernel over an ARBITRARY corpus frame (doc_id, text) —
    * shared by the memoized gate build and the scale smoke, so the
    * measured artifact is the served artifact. */
  private[graft] def buildNeardupIndex(corpus: DataFrame, dir: String): Unit = {
    bandsLong(withBandCols(sigsOf(shingled(corpus))))
      .groupBy("band_id", "bhash")
      .agg(GraftFunctions.collectCapped(
        struct(col("doc_id") +: mhNames.map(col): _*), MaxBucket).as("docs"))
      .filter(size(col("docs")).between(1, MaxBucket))
      .select(col("band_id"), col("bhash"), explode(col("docs")).as("m"))
      .select(col("band_id") +: col("bhash") +:
        col("m.doc_id").as("doc_id") +: mhNames.map(n => col(s"m.$n").as(n)): _*)
      .repartitionByRange(col("band_id"), col("bhash"))
      .sortWithinPartitions("band_id", "bhash")
      .write.mode("overwrite").parquet(s"$dir/bands")
  }

  /** One document frame's signature posting rows — (doc_id, mh0..mh7,
    * band_id, bhash), the near-dup index's row format. Shared by the
    * batch build, the serve probes, and the streaming ingest's per-batch
    * delta landing. */
  private[graft] def signatureRows(docs: DataFrame): DataFrame =
    bandsLong(withBandCols(sigsOf(shingled(docs))))

  /** Shard count for the streamed signature index's delta/fold layout
    * (= band count: the serve join's leading key). */
  private[graft] val NeardupShards = Bands

  /** The serve kernel over an ARBITRARY incoming batch (doc_id, text)
    * against a landed index — "serve-many" made literal: the gate passes
    * the split's incoming docs; production passes each crawl batch. */
  private[graft] def neardupServe(s: SparkSession, indexDir: String,
      incoming: DataFrame): DataFrame =
    neardupServeIndex(s.read.parquet(s"$indexDir/bands"), incoming)

  /** [[neardupServe]] with the index supplied as a frame — the streamed
    * variant serves off a [[graft.streaming.DeltaCompact]] tree (base +
    * unfolded deltas, tombstones anti-joined) through this same kernel. */
  private[graft] def neardupServeIndex(idx: DataFrame,
      incoming: DataFrame): DataFrame = {
    val s = incoming.sparkSession
    val probes = signatureRows(incoming)
      .select(col("doc_id").as("in_doc") +:
        mhNames.map(n => col(n).as(s"i$n")) :+ col("band_id") :+ col("bhash"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"imh$i") === col(s"mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val w = Window.partitionBy("in_doc")
      .orderBy(col("est").desc, col("dup_of"))
    idx.join(broadcast(probes), Seq("band_id", "bhash"))
      .select(col("in_doc"), col("doc_id").as("dup_of"), (agree / lit(8.0)).as("est"))
      .distinct()
      .filter(col("est") >= NeardupMinEst)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("in_doc").as("doc_id"), col("dup_of"),
        round(col("est"), 4).as("est_jaccard"))
  }

  /** Serve-many half as a gate: the incoming batch signs ITSELF (inherent
    * batch-sized work), bucket-joins the landed index for candidates, and
    * verdicts each incoming doc by its best est-Jaccard — never touching
    * corpus text. The incoming side broadcasts here (a crawl batch is
    * small next to the landed index); a corpus-sized backfill would drop
    * the hint and let the (band_id, bhash) shuffle join ride the same
    * bucket-capped bound. Oracle: the full pipeline over the split CTEs —
    * corpus-side bucket cap included — so the persisted artifact is pinned
    * to produce exactly what a single-pass build would. */
  val qNeardupPersist: Q = Q(
    "q_neardup_persist", {
      val mh = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")
      val bands = (0 until Bands).map(b =>
        s"md5(CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR)) AS band$b").mkString(", ")
      def unpivot(src: String) = (0 until Bands)
        .map(b => s"SELECT doc_id, $b AS band_id, band$b AS bhash FROM $src")
        .mkString(" UNION ALL ")
      val estSum = (0 until NumHashes).map(i =>
        s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH corpus AS (SELECT * FROM documents WHERE NOT (doc_id % $IncomingMod = $IncomingRem)),
         |incoming AS (SELECT * FROM documents WHERE doc_id % $IncomingMod = $IncomingRem),
         |csh AS (${duckShinglesOf("corpus")}),
         |cmh AS (SELECT doc_id, $mh FROM csh),
         |cbands AS (SELECT doc_id, $bands FROM cmh),
         |clong AS (${unpivot("cbands")}),
         |clongc AS (SELECT doc_id, band_id, bhash FROM
         |  (SELECT *, count(*) OVER (PARTITION BY band_id, bhash) AS bsz FROM clong)
         |  WHERE bsz <= $MaxBucket),
         |ish AS (${duckShinglesOf("incoming")}),
         |imh AS (SELECT doc_id, $mh FROM ish),
         |ibands AS (SELECT doc_id, $bands FROM imh),
         |ilong AS (${unpivot("ibands")}),
         |cand AS (SELECT DISTINCT i.doc_id AS in_doc, c.doc_id AS dup_of
         |  FROM ilong i JOIN clongc c ON i.band_id = c.band_id AND i.bhash = c.bhash),
         |est AS (SELECT cd.in_doc, cd.dup_of, ($estSum) / 8.0 AS est
         |  FROM cand cd JOIN imh ma ON ma.doc_id = cd.in_doc
         |  JOIN cmh mb ON mb.doc_id = cd.dup_of)
         |SELECT doc_id, dup_of, est_jaccard FROM
         |  (SELECT in_doc AS doc_id, dup_of, round(est, 4) AS est_jaccard,
         |     row_number() OVER (PARTITION BY in_doc ORDER BY est DESC, dup_of) AS rn
         |   FROM est WHERE est >= $NeardupMinEst)
         |WHERE rn = 1""".stripMargin
    }) { (s, d) =>
    neardupServe(s, neardupIndex.dir(s, d),
      Tables.documents(s, d)
        .filter(col("doc_id") % IncomingMod === IncomingRem)
        .select(col("doc_id"), col("text")))
  }

  // ---- persisted SimHash index: the Hamming-distance twin of
  // q_neardup_persist --------------------------------------------------
  //
  // Same build-once/serve-many contract, different sketch: MinHash serves
  // Jaccard (shingle-set overlap — long-form near-dups); SimHash serves
  // Hamming on a 60-bit token-set fingerprint — the compact signature
  // production systems keep when per-doc index bytes matter most (8 bytes
  // + 4 band rows per doc). The index row is (band_id, band, doc_id,
  // simhash): band membership generates candidates (pigeonhole: any pair
  // within Hamming 3 agrees on ≥ 1 of the 4×15-bit bands), the stored
  // signature verdicts them INDEX-ONLY (one bit_count(xor)), corpus text
  // never read at serve.

  /** 60-bit / 4×15 geometry — the scale-safe parameterization
    * ([[simhashPairsQ]]); Hamming ≤ 3 is the pigeonhole-covered radius. */
  private val ShBits = 60
  private val ShBandBits = 15
  private val ShMaxHamming = 3

  private def simhashLong(sig: DataFrame): DataFrame =
    sig.selectExpr(
      "doc_id", "simhash",
      s"stack(4, ${(0 until 4).map(b =>
        s"$b, shiftright(simhash, ${ShBandBits * b}) % ${1L << ShBandBits}").mkString(", ")}) AS (band_id, band)")

  private[graft] val simhashIndex = TmpDirs.BuildOnce("graft_simhashidx", "documents") {
    (s, d, dir) =>
      val corpus = Tables.documents(s, d)
        .filter(col("doc_id") % IncomingMod =!= IncomingRem)
        .select(col("doc_id"), col("text"))
      simhashLong(simhashSig(corpus, ShBits))
        .groupBy("band_id", "band")
        .agg(GraftFunctions.collectCapped(
          struct(col("doc_id"), col("simhash")), MaxBucket).as("docs"))
        .filter(size(col("docs")).between(1, MaxBucket))
        .select(col("band_id"), col("band"), explode(col("docs")).as("m"))
        .select(col("band_id"), col("band"),
          col("m.doc_id").as("doc_id"), col("m.simhash").as("simhash"))
        .repartitionByRange(col("band_id"), col("band"))
        .sortWithinPartitions("band_id", "band")
        .write.mode("overwrite").parquet(s"$dir/bands")
  }

  /** Serve gate: the incoming batch fingerprints itself, band-joins the
    * landed index, and verdicts each doc by its closest (Hamming) corpus
    * match within radius [[ShMaxHamming]] — ties to the smallest corpus
    * id. Index-only verification; singleton buckets retained at build
    * (an incoming doc may be the bucket's second member). */
  val qSimhashPersist: Q = Q(
    "q_simhash_persist", {
      def unpivot(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, simhash, $b AS band_id, (simhash // ${1L << (ShBandBits * b)}) % ${1L << ShBandBits} AS band FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH corpus AS (SELECT * FROM documents WHERE NOT (doc_id % $IncomingMod = $IncomingRem)),
         |incoming AS (SELECT * FROM documents WHERE doc_id % $IncomingMod = $IncomingRem),
         |csh AS (${duckSimhashSig(ShBits, "corpus")}),
         |clong AS (${unpivot("csh")}),
         |clongc AS (SELECT doc_id, simhash, band_id, band FROM
         |  (SELECT *, count(*) OVER (PARTITION BY band_id, band) AS bsz FROM clong)
         |  WHERE bsz <= $MaxBucket),
         |ish AS (${duckSimhashSig(ShBits, "incoming")}),
         |ilong AS (${unpivot("ish")}),
         |cand AS (SELECT DISTINCT i.doc_id AS in_doc, c.doc_id AS dup_of,
         |    CAST(bit_count(xor(i.simhash, c.simhash)) AS INT) AS hamming
         |  FROM ilong i JOIN clongc c ON i.band_id = c.band_id AND i.band = c.band)
         |SELECT doc_id, dup_of, hamming FROM
         |  (SELECT in_doc AS doc_id, dup_of, hamming,
         |     row_number() OVER (PARTITION BY in_doc ORDER BY hamming, dup_of) AS rn
         |   FROM cand WHERE hamming <= $ShMaxHamming)
         |WHERE rn = 1""".stripMargin
    }) { (s, d) =>
    val dir = simhashIndex.dir(s, d)
    val idx = s.read.parquet(s"$dir/bands")
    val incoming = Tables.documents(s, d)
      .filter(col("doc_id") % IncomingMod === IncomingRem)
      .select(col("doc_id"), col("text"))
    val probes = simhashLong(simhashSig(incoming, ShBits))
      .select(col("doc_id").as("in_doc"), col("simhash").as("isimhash"),
        col("band_id"), col("band"))
    val w = Window.partitionBy("in_doc").orderBy(col("hamming"), col("dup_of"))
    idx.join(broadcast(probes), Seq("band_id", "band"))
      .select(col("in_doc"), col("doc_id").as("dup_of"),
        bit_count(col("isimhash").bitwiseXOR(col("simhash"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= ShMaxHamming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("in_doc").as("doc_id"), col("dup_of"), col("hamming"))
  }

  /** Crawl batches in the streamed-dedup gate (batch of doc = doc_id
    * mod this — deterministic membership AND order, interpolated into
    * the oracle's earlier-batch predicate). */
  private val StreamBatches = 4

  /** The streamed crawl-dedup loop as ONE oracle gate: the corpus
    * replayed as [[StreamBatches]] ordered batches through
    * [[graft.streaming.StreamNeardupIngest.ingestStep]] — each batch
    * verdicted against everything crawled BEFORE it (dedup-before-index),
    * then indexed itself; the signature index generation-folded MID-RUN
    * (after batch 1) to pin fold-transparency inside the gate. The
    * oracle is the whole history in one closed form: a doc's best
    * earlier-batch match with est ≥ threshold — exactly what the
    * sequential replay accumulates, because the index-as-of-batch-k IS
    * the earlier-batch predicate. The serve joins the raw signature
    * index (no bucket cap): at gate scales no band bucket approaches
    * [[MaxBucket]], so the oracle stays closed-form; a skew-prone corpus
    * would apply the batch build's bucket-drop rule as an AGGREGATING
    * fold in `compactIndex` (the `StreamBm25Ingest.compactIndex`
    * precedent). */
  val qNeardupStream: Q = Q(
    "q_neardup_stream", {
      val mh = (0 until NumHashes).map(i => s"${duckMinhash(i)} AS mh$i").mkString(", ")
      val bands = (0 until Bands).map(b =>
        s"md5(CAST(mh${2 * b} AS VARCHAR) || '_' || CAST(mh${2 * b + 1} AS VARCHAR)) AS band$b").mkString(", ")
      val unpivot = (0 until Bands)
        .map(b => s"SELECT doc_id, $b AS band_id, band$b AS bhash FROM bandsw")
        .mkString(" UNION ALL ")
      val estSum = (0 until NumHashes).map(i =>
        s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS ($duckShingles),
         |mh AS (SELECT doc_id, $mh FROM sh),
         |bandsw AS (SELECT doc_id, $bands FROM mh),
         |long AS ($unpivot),
         |cand AS (SELECT DISTINCT a.doc_id AS in_doc, b.doc_id AS dup_of
         |  FROM long a JOIN long b ON a.band_id = b.band_id AND a.bhash = b.bhash
         |    AND (b.doc_id % $StreamBatches) < (a.doc_id % $StreamBatches)),
         |est AS (SELECT cd.in_doc, cd.dup_of, ($estSum) / 8.0 AS est
         |  FROM cand cd JOIN mh ma ON ma.doc_id = cd.in_doc
         |  JOIN mh mb ON mb.doc_id = cd.dup_of)
         |SELECT doc_id, dup_of, est_jaccard FROM
         |  (SELECT in_doc AS doc_id, dup_of, round(est, 4) AS est_jaccard,
         |     row_number() OVER (PARTITION BY in_doc ORDER BY est DESC, dup_of) AS rn
         |   FROM est WHERE est >= $NeardupMinEst)
         |WHERE rn = 1""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val root = TmpDirs.runDir("graft_neardupstream")
    val idx = s"$root/idx"
    val verdicts = (0 until StreamBatches).map { k =>
      val v = graft.streaming.StreamNeardupIngest.ingestStep(
        docs.filter(col("doc_id") % StreamBatches === k), idx, k.toLong)
      if (k == 1) { graft.streaming.StreamNeardupIngest.compactIndex(s, idx); () }
      v // already eagerly checkpointed by ingestStep
    }
    verdicts.reduce(_ unionByName _)
  }

  val all: Seq[Q] = Seq(
    qMinhashBands, qMinhashPairs, qMinhashJaccardEst, qNgramJaccard,
    qSimhash, qSimhashPairs, qSimhashPairs32,
    qDedupNear, qDedupClusters, qDedupClusterSizes, qCrossSourceDups,
    qDedupDegree, qContamination, qDedupKeepBest,
    qDupSpanCoverage, qDupSpanRemoval, qIncrDedup, qNeardupPersist,
    qNeardupStream, qSimhashPersist)
}
