package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Portable

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, language ID, fingerprinting, exact
  * dedup. All are per-row narrow transforms (embarrassingly parallel at
  * 100 TB — no shuffle except the final aggregate) built from native
  * Catalyst functions, each with a DuckDB oracle.
  */
object TextAnalysis {

  /** Corpus stats per (lang, source): doc counts, char/token averages. */
  val qTextStats: Q = Q(
    "q_text_stats",
    """SELECT lang, source, count(*) AS docs,
      |  round(avg(n_chars),4) AS avg_chars,
      |  round(avg(len(string_split_regex(trim(text),'\s+'))),4) AS avg_tokens,
      |  max(length(text)) AS max_len
      |FROM documents GROUP BY lang, source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("docs"),
        round(avg("n_chars"), 4).as("avg_chars"),
        round(avg(Portable.wordsOf(Portable.tokenStats(col("text")))), 4).as("avg_tokens"),
        max(length(col("text"))).as("max_len"))
  }

  // BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
  private[graft] val TokenPat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  private val TokenPatSql = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting with a BPE-ish regex, per doc. */
  val qTokenCount: Q = Q(
    "q_token_count",
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$TokenPatSql')) AS n_tokens,
       |  len(string_split_regex(trim(text), '\\s+')) AS n_words
       |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Portable.tokenStats(col("text")).as("ts"))
      .select(
        col("doc_id"),
        Portable.tokensOf(col("ts")).as("n_tokens"),
        Portable.wordsOf(col("ts")).as("n_words"))
  }

  /** Tokenizer fertility per language — tokens-per-word and
    * chars-per-token under the BPE-ish regex tokenizer. The standard
    * tokenizer-evaluation table: a language whose fertility is far above
    * the corpus norm is being shredded into sub-word confetti (its
    * documents cost disproportionate sequence length per unit of text),
    * the signal that drives vocabulary rebalancing before a big
    * pretraining run.
    *
    * Scale shape: one narrow corpus scan (both counts are per-row regexp
    * work fused in the same projection) into a lang-keyed hash aggregate,
    * map-side combined; output is O(languages). */
  val qTokFertility: Q = Q(
    "q_tok_fertility",
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS docs,
       |  CAST(sum(len(regexp_extract_all(text, '$TokenPatSql'))) AS BIGINT) AS n_tokens,
       |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_words,
       |  round(CAST(sum(len(regexp_extract_all(text, '$TokenPatSql'))) AS DOUBLE)
       |    / sum(len(string_split_regex(trim(text), '\\s+'))), 4) AS fertility,
       |  round(CAST(sum(length(text)) AS DOUBLE)
       |    / greatest(sum(len(regexp_extract_all(text, '$TokenPatSql'))), 1),
       |    4) AS chars_per_token
       |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
    // ONE regex-free scan per document (native TokenStats kernel) yields
    // both counts; the bit unpacks are free column ops. The oracle keeps
    // the regex formulation — value parity pinned by TokenStatsSpec.
    Tables.documents(s, d)
      .select(col("lang"), Portable.tokenStats(col("text")).as("ts"),
        length(col("text")).as("c"))
      .select(col("lang"), Portable.tokensOf(col("ts")).as("t"),
        Portable.wordsOf(col("ts")).as("w"), col("c"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum("t").as("n_tokens"),
        sum("w").as("n_words"),
        round(sum("t").cast("double") / sum("w"), 4).as("fertility"),
        // n_words >= 1 always (split of a trimmed string yields >= 1
        // element), but n_tokens CAN be 0 on an all-whitespace corpus —
        // and Spark's Divide returns NULL where DuckDB returns inf, a
        // cross-engine hash divergence. greatest(..., 1) on BOTH engines.
        round(sum("c").cast("double") / greatest(sum("t"), lit(1)), 4)
          .as("chars_per_token"))
  }

  private[graft] val Stop = "(?:the|a|an|and|or|of|to|in|is|it|for|on|with|as|at|by)"

  /** Shared quality-heuristic columns — ONE definition of the stopword
    * count and the floor-1 word count for every quality gate (batch
    * scoring, dedup keep-best, per-source sampling, stream curation), so
    * a pattern or guard change lands everywhere at once instead of five
    * copies silently disagreeing. */
  private[graft] def stopCount(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Portable.regexpCount(lower(text), "\\b" + Stop + "\\b")
  private[graft] def wordCountFloor1(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // native scan kernel, not split-array materialization (TokenStats;
    // value parity with size(split(trim,\s+)) pinned by TokenStatsSpec)
    greatest(Portable.wordsOf(Portable.tokenStats(text)), lit(1))

  /** Quality scoring: stopword ratio, punctuation ratio, length gate —
    * the usual cheap pre-training heuristics. */
  val qQuality: Q = Q(
    "q_quality_score",
    s"""SELECT doc_id,
       |  round(CAST(len(regexp_extract_all(lower(text), '\\b$Stop\\b')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stopword_ratio,
       |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |    / greatest(length(text), 1), 4) AS punct_ratio,
       |  CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1 ELSE 0 END AS length_ok
       |FROM documents""".stripMargin) { (s, d) =>
    val nWords = wordCountFloor1(col("text"))
    val nStop = stopCount(col("text"))
    val nPunct = Portable.regexpCount(col("text"), "[^A-Za-z0-9\\s]")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        round(nStop.cast("double") / nWords, 4).as("stopword_ratio"),
        round(nPunct.cast("double") / greatest(length(col("text")), lit(1)), 4).as("punct_ratio"),
        when(length(col("text")).between(50, 10000), 1).otherwise(0).as("length_ok"))
  }

  /** The Gopher "must contain ≥2 of" stopword list (Rae et al. 2021). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule battery (Rae et al. 2021, arXiv:2112.11446
    * §A1.1.2): per-document boolean flags for the five repetition-free
    * rules — word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (# and …) ≤ 0.1, ≥ 80% of words containing an
    * alphabetic character, and ≥ 2 distinct required stopwords — plus the
    * composite verdict. Emitting per-rule flags (not just the verdict) is
    * how curation runs are audited: you tune thresholds from the marginal
    * kill-counts of each rule.
    *
    * All rules are per-row regex counts (codegen'd, zero shuffle at any
    * scale). Mean word length counts `\S` characters rather than using
    * regexp_replace — DuckDB's regexp_replace is first-match-only without
    * the 'g' flag, a silent cross-engine trap. */
  val qGopherRules: Q = Q(
    "q_gopher_rules", {
      val stopHits = GopherStops.map(w =>
        s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""SELECT doc_id, n_words, round(mean_wl, 4) AS mean_word_len,
         |  word_count_ok, mean_wl_ok, symbol_ok, alpha_ok, stop_ok,
         |  word_count_ok * mean_wl_ok * symbol_ok * alpha_ok * stop_ok AS passes
         |FROM (SELECT doc_id, n_words, mean_wl,
         |  CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS word_count_ok,
         |  CASE WHEN mean_wl BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS mean_wl_ok,
         |  CASE WHEN CAST(n_sym AS DOUBLE) / n_words <= 0.1 THEN 1 ELSE 0 END AS symbol_ok,
         |  CASE WHEN CAST(n_alpha AS DOUBLE) / n_words >= 0.8 THEN 1 ELSE 0 END AS alpha_ok,
         |  CASE WHEN $stopHits >= 2 THEN 1 ELSE 0 END AS stop_ok
         | FROM (SELECT doc_id, text,
         |    greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS n_words,
         |    CAST(len(regexp_extract_all(text, '\\S')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS mean_wl,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS n_alpha
         |   FROM documents))""".stripMargin
    }) { (s, d) =>
    val nWords = wordCountFloor1(col("text"))
    val meanWl = Portable.regexpCount(col("text"), "\\S")
      .cast("double") / nWords
    val nSym = Portable.regexpCount(col("text"), "#|\\.\\.\\.")
    val nAlpha = Portable.regexpCount(col("text"), "\\S*[A-Za-z]\\S*")
    val stopHits = GopherStops.map(w =>
      when(lower(col("text")).rlike(s"\\b$w\\b"), 1).otherwise(0)).reduce(_ + _)
    val flags = Seq(
      when(col("n_words").between(50, 100000), 1).otherwise(0).as("word_count_ok"),
      when(col("mean_wl").between(3, 10), 1).otherwise(0).as("mean_wl_ok"),
      when(col("n_sym").cast("double") / col("n_words") <= 0.1, 1).otherwise(0).as("symbol_ok"),
      when(col("n_alpha").cast("double") / col("n_words") >= 0.8, 1).otherwise(0).as("alpha_ok"),
      when(col("stop_hits") >= 2, 1).otherwise(0).as("stop_ok"))
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.as("n_words"), meanWl.as("mean_wl"),
        nSym.as("n_sym"), nAlpha.as("n_alpha"), stopHits.as("stop_hits"))
      .select(col("doc_id") +: col("n_words") +: round(col("mean_wl"), 4).as("mean_word_len") +: flags: _*)
      .withColumn("passes",
        col("word_count_ok") * col("mean_wl_ok") * col("symbol_ok") *
          col("alpha_ok") * col("stop_ok"))
  }

  // Tiny stopword profiles per language; zh scored by CJK codepoints. The
  // argmax tie-break is the fixed evaluation order en,de,es,fr,zh.
  private val Profiles = Seq(
    "en" -> "(?:the|and|of|to|in|is|that|it|was|for)",
    "de" -> "(?:der|die|das|und|ist|nicht|ein|mit|auf|den)",
    "es" -> "(?:el|la|los|las|de|que|y|es|en|un)",
    "fr" -> "(?:le|la|les|des|et|est|que|une|dans|pour)")

  /** N-gram-heuristic language ID: count stopword hits per profile, argmax
    * with deterministic tie-break. */
  val qLangId: Q = Q(
    "q_langid", {
      val scores = Profiles.map { case (l, p) =>
        s"len(regexp_extract_all(lower(text), '\\b$p\\b')) AS s_$l"
      }.mkString(",\n    ")
      s"""SELECT doc_id, lang AS labeled_lang,
         |  CASE WHEN s_zh > 0 THEN 'zh'
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |    WHEN s_es >= s_fr THEN 'es'
         |    ELSE 'fr' END AS predicted_lang
         |FROM (SELECT doc_id, lang,
         |    $scores,
         |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
         |  FROM documents)""".stripMargin
    }) { (s, d) =>
    val lowered = lower(col("text"))
    val withScores = Tables.documents(s, d)
      .withColumns(Profiles.map { case (l, p) =>
        s"s_$l" -> Portable.regexpCount(lowered, "\\b" + p + "\\b")
      }.toMap)
      .withColumn("s_zh", Portable.regexpCount(col("text"), "[\\x{4e00}-\\x{9fff}]"))
    withScores.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(col("s_zh") > 0, "zh")
        .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr").as("predicted_lang"))
  }

  /** Language-ID accuracy audit — the eval table behind [[qLangId]]: the
    * labeled×predicted confusion counts plus per-label accuracy. This is
    * how a curation run decides whether the cheap n-gram classifier is
    * good enough for a source, or which label pairs it confuses (the
    * actionable signal: es↔fr confusions say "add stopwords", zh misses
    * say "codepoint range too narrow"). One hash aggregate over the
    * classifier's per-row output — same zero-extra-shuffle cost as any
    * corpus-level metric. */
  val qLangIdEval: Q = Q(
    "q_langid_eval", {
      val langidSql = qLangId.oracle.get
      s"""WITH pred AS ($langidSql)
         |SELECT labeled_lang, predicted_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(count(*) AS DOUBLE) /
         |    sum(count(*)) OVER (PARTITION BY labeled_lang), 4) AS frac_of_label
         |FROM pred GROUP BY labeled_lang, predicted_lang""".stripMargin
    }) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window.partitionBy("labeled_lang")
    qLangId.build(s, d)
      .groupBy("labeled_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("labeled_lang"), col("predicted_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / sum("n_docs").over(w), 4)
          .as("frac_of_label"))
  }

  /** Document fingerprinting: raw and whitespace-normalized content hashes
    * (the canonical-form key used for exact dedup at scale). */
  val qFingerprint: Q = Q(
    "q_fingerprint",
    """SELECT doc_id, md5(text) AS fingerprint,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ')))) AS norm_fingerprint
      |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fingerprint"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"))
          .as("norm_fingerprint"))
  }

  /** Exact dedup by normalized content hash: group size and canonical
    * (minimum) doc id per distinct content — the hash-groupBy dedup that
    * scales to any corpus size (shuffle on a 128-bit key only). */
  val qDedupExact: Q = Q(
    "q_dedup_exact",
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ')))) AS content_hash,
      |  count(*) AS copies, min(doc_id) AS canonical_doc
      |FROM documents GROUP BY content_hash""".stripMargin) { (s, d) =>
    // plain scan: measured faster for this single-aggregate shape (r17
    // 15-rep A/B, see Tables.documentsPlain)
    Tables.documentsPlain(s, d)
      .groupBy(md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"))
        .as("content_hash"))
      .agg(count(lit(1)).as("copies"), min("doc_id").as("canonical_doc"))
  }

  /** Deterministic hash-based sampling: keep docs whose portable 60-bit id
    * hash lands in 1-of-20 residue class — the reproducible corpus-sample
    * idiom (stable under reruns/re-partitioning, unlike `sample()`). */
  val qHashSample: Q = Q(
    "q_hash_sample",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 20 = 0""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(Portable.hash60(col("doc_id").cast("string")) % 20 === 0)
      .select("doc_id", "lang")
  }

  /** Top TF-IDF term per document: token explode → (doc, term) counts →
    * document frequencies → idf join → windowed top-1. The corpus size is
    * a 1-row broadcast; ordering uses the 6-decimal-rounded score so both
    * engines agree under fp ulp differences. */
  val qTfidfTop: Q = Q(
    "q_tfidf_top",
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (SELECT doc_id, tok,
      |    round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf6
      |  FROM tf JOIN df USING (tok) CROSS JOIN n)
      |SELECT doc_id, tok AS top_term, round(tfidf6, 4) AS tfidf
      |FROM (SELECT doc_id, tok, tfidf6, row_number() OVER
      |    (PARTITION BY doc_id ORDER BY tfidf6 DESC, tok) AS rn FROM scored)
      |WHERE rn = 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // REVERTED to the r15 formulation (r17): the r16 df-from-tf rewrite
    // (df = tf.groupBy(tok).count(), sharing tf's exchange via runtime
    // ReuseExchange) regressed in the driver's ground-truth bench
    // (1.01 → 1.28 s) and a 7-rep same-JVM interleaved A/B confirmed it:
    // countDistinct over the plain scan 0.83 s vs df-from-tf 1.01 s vs
    // the shipped df-from-tf + repartition 1.26 s. The second tokenize
    // pass overlaps across cores at this shape, while the shared-exchange
    // plan serializes the window behind one reused exchange. Plain scan
    // (documentsPlain) for the same reason — the A/B measured the
    // allowlist repartition a pure tax on this aggregate-shaped plan.
    val toks = Tables.documentsPlain(s, d)
      .select(col("doc_id"), explode(Portable.words(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documentsPlain(s, d).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf6").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf6", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("tok").as("top_term"), round(col("tfidf6"), 4).as("tfidf"))
  }

  /** Vocabulary coverage — the dataset-card tokenizer question: how much
    * of the corpus token stream do the top-100 token types cover? Top
    * types by frequency with a running cumulative coverage fraction. The
    * unpartitioned window is safe HERE only: it runs on the top-100 rows
    * AFTER the TakeOrdered, never on the corpus; the frequency table
    * itself is a plain map-side-combined hash aggregate and the grand
    * total a 1-row broadcast. */
  val qVocabCoverage: Q = Q(
    "q_vocab_coverage",
    """WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |total AS (SELECT sum(cnt) AS total FROM freq),
      |top AS (SELECT tok, cnt FROM freq ORDER BY cnt DESC, tok LIMIT 100)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank,
      |  tok AS token, cnt,
      |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / CAST(total AS DOUBLE), 6) AS coverage
      |FROM top CROSS JOIN total""".stripMargin) { (s, d) =>
    // plain scan: r17 15-rep A/B measured the allowlist repartition a
    // tax on this aggregate shape (0.37 vs 0.48 s min)
    val freq = Tables.documentsPlain(s, d)
      .select(explode(Portable.words(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("total"))
    val ord = Window.orderBy(col("cnt").desc, col("tok"))
    freq.orderBy(col("cnt").desc, col("tok")).limit(100)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum",
        sum("cnt").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("tok").as("token"), col("cnt"),
        round(col("cum").cast("double") / col("total").cast("double"), 6).as("coverage"))
  }

  // PII patterns, kept to the Java∩RE2 common regex subset (no
  // backreferences / lookarounds) so Spark and the DuckDB oracle compile
  // the identical pattern text
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val PhonePat = "\\+?[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{4}"

  /** PII scrubbing: emails, IPv4 addresses, and phone-shaped numbers
    * redacted to typed placeholders, with per-doc redaction counts — the
    * compliance pass every training corpus runs. Narrow per-row codegen'd
    * regexes, zero shuffle. The synthetic corpus contains no PII, so the
    * test plants some: each doc is suffixed with a contact line derived
    * from its doc_id IDENTICALLY in both engines, and the oracle checks
    * the scrub output end-to-end. */
  val qPiiScrub: Q = Q(
    "q_pii_scrub",
    s"""WITH seeded AS (SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or +1 555 ' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |      ' at 10.0.' || (doc_id % 256) || '.1' AS text
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailPat', '<EMAIL>', 'g'),
       |    '$PhonePat', '<PHONE>', 'g'),
       |    '$Ipv4Pat', '<IP>', 'g') AS scrubbed,
       |  len(regexp_extract_all(text, '$EmailPat')) AS n_email,
       |  len(regexp_extract_all(text, '$Ipv4Pat')) AS n_ip,
       |  len(regexp_extract_all(text, '$PhonePat')) AS n_phone
       |FROM seeded""".stripMargin) { (s, d) =>
    val seeded = Tables.documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")).as("text"))
    seeded.select(
      col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(EmailPat), lit("<EMAIL>")),
        lit(PhonePat), lit("<PHONE>")),
        lit(Ipv4Pat), lit("<IP>")).as("scrubbed"),
      Portable.regexpCount(col("text"), EmailPat).as("n_email"),
      Portable.regexpCount(col("text"), Ipv4Pat).as("n_ip"),
      Portable.regexpCount(col("text"), PhonePat).as("n_phone"))
  }

  /** Text normalization: the canonical pre-dedup cleanup — lowercase,
    * strip non-alphanumerics to spaces, collapse whitespace runs, trim —
    * plus the resulting length delta. Narrow per-row map, zero shuffle. */
  val qTextNormalize: Q = Q(
    "q_text_normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm,
      |  length(text) - length(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS delta
      |FROM documents""".stripMargin) { (s, d) =>
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9\\s]", " "), "\\s+", " "))
    Tables.documents(s, d).select(
      col("doc_id"), norm.as("norm"),
      (length(col("text")) - length(norm)).as("delta"))
  }

  /** Repetition-based quality filter (the Gopher-rules shape): per doc,
    * the fraction of tokens taken by the single most frequent token, and
    * the fraction of duplicate bigrams. Highly repetitive docs are
    * boilerplate/spam candidates a training corpus drops.
    *
    * Shape: zero shuffles — both signals are functions of one document, so
    * the whole query is scan → project (top-token count = longest run in
    * the sorted token array via one aggregate-lambda pass; bigram dup
    * fraction via array_distinct on the zip_with bigram array). An earlier
    * explode + lag-window + two-agg + join formulation spent 3 exchanges
    * on per-row math. */
  val qRepetition: Q = Q(
    "q_repetition",
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(w) >= 2
      |    THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
      |    ELSE [] END AS bg FROM t),
      |tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
      |cnt AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk),
      |topc AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok
      |  FROM cnt GROUP BY doc_id)
      |SELECT g.doc_id,
      |  round(CAST(top_c AS DOUBLE) / n_tok, 4) AS top_token_frac,
      |  CASE WHEN len(bg) = 0 THEN 0.0
      |    ELSE round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
      |  END AS dup_bigram_frac
      |FROM g JOIN topc ON g.doc_id = topc.doc_id""".stripMargin) { (s, d) =>
    // ZERO-shuffle form: both signals are per-document, so they never need
    // an exchange. Top-token count = longest run in the SORTED token array
    // (one aggregate-lambda pass, codegen-friendly, no per-doc hash map);
    // dup-bigram fraction = array_distinct over the zip_with bigram array
    // (built at ARRAY level — see [[graft.functions.Portable.shingles]]
    // for the per-element re-evaluation trap this construction avoids).
    // Replaces a 3-exchange window+agg+join plan: at 100 TB this is scan
    // → project → project, embarrassingly parallel.
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"),
        expr("""aggregate(array_sort(w),
                named_struct('prev', '', 'cur', 0L, 'mx', 0L),
                (acc, x) -> named_struct(
                  'prev', x,
                  'cur', IF(x = acc.prev, acc.cur + 1L, 1L),
                  'mx', GREATEST(acc.mx, IF(x = acc.prev, acc.cur + 1L, 1L))),
                acc -> acc.mx)""").as("top_c"),
        size(col("w")).as("n_tok"),
        expr("""CASE WHEN size(w) >= 2
                THEN zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),
                              (a, b) -> concat(a, ' ', b))
                ELSE CAST(array() AS ARRAY<STRING>) END""").as("bg"))
      .select(col("doc_id"),
        round(col("top_c").cast("double") / col("n_tok"), 4).as("top_token_frac"),
        when(size(col("bg")) === 0, lit(0.0))
          .otherwise(round(
            lit(1) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 4))
          .as("dup_bigram_frac"))
  }

  /** Document chunking: split each document into fixed-size character
    * chunks with overlap (size 200, stride 150) — the context-window
    * packing step of a training pipeline. One `posexplode` of a computed
    * start-offset sequence per row: narrow, shuffle-free, and the output
    * row count scales with corpus bytes / stride regardless of document
    * count. 1-indexed substring in both engines. */
  val qChunkDocs: Q = Q(
    "q_chunk_docs",
    """SELECT doc_id, CAST((start - 1) // 150 AS INT) AS chunk_idx,
      |  substring(text, start, 200) AS chunk,
      |  length(substring(text, start, 200)) AS chunk_len
      |FROM (SELECT doc_id, text,
      |    unnest(generate_series(1, greatest(length(text), 1), 150)) AS start
      |  FROM documents)""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), greatest(length(col("text")), lit(1)), lit(150)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        expr("substring(text, start, 200)").as("chunk"),
        length(expr("substring(text, start, 200)")).as("chunk_len"))
  }

  /** Boilerplate detection — the paragraph-level cross-document dedup
    * stage (CCNet/RefinedWeb-style): chunks whose text recurs in multiple
    * DISTINCT documents are headers/footers/templates, not content, and
    * get stripped before training. Reuses [[qChunkDocs]]'s chunk
    * arithmetic, then one hash aggregate.
    *
    * Scale shape: the groupBy key is md5(chunk) — the shuffle carries a
    * 32-byte hash instead of 200 chars of text, and the aggregate is a
    * plain hash groupBy (count-distinct expands to the standard two-phase
    * plan). Output scales with the number of REPEATED chunks, never the
    * corpus. */
  val qBoilerplate: Q = Q(
    "q_boilerplate",
    """WITH chunks AS (SELECT doc_id, substring(text, start, 200) AS chunk
      |  FROM (SELECT doc_id, text,
      |      unnest(generate_series(1, greatest(length(text), 1), 150)) AS start
      |    FROM documents))
      |SELECT md5(chunk) AS chunk_hash, count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_occurrences, min(doc_id) AS first_doc
      |FROM chunks WHERE length(chunk) >= 50
      |GROUP BY md5(chunk) HAVING count(DISTINCT doc_id) >= 2""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), greatest(length(col("text")), lit(1)), lit(150)))
          .as(Seq("ci", "start")))
      .select(col("doc_id"), expr("substring(text, start, 200)").as("chunk"))
      .filter(length(col("chunk")) >= 50)
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_hash"))
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Corpus mixing: deterministic per-source sampling rates (the
    * "2× this source, 0.1× that one" recipe of a training mix),
    * reproducible under reruns and repartitioning because membership is
    * a pure function of doc_id. Zero shuffle. */
  val qSourceSample: Q = Q(
    "q_source_sample",
    """SELECT doc_id, source FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
      |  % (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 5
      |      WHEN 'src2' THEN 10 ELSE 20 END) = 0""".stripMargin) { (s, d) =>
    val rate = when(col("source") === "src0", 2)
      .when(col("source") === "src1", 5)
      .when(col("source") === "src2", 10)
      .otherwise(20)
    Tables.documents(s, d)
      .filter(Portable.hash60(col("doc_id").cast("string")) % rate === 0)
      .select("doc_id", "source")
  }

  /** The curation pipeline END-TO-END — the composition a real corpus run
    * executes, as ONE plan: quality gate (length window + stopword-ratio
    * floor, [[qQuality]]'s formulas) → exact dedup keep-first on the
    * normalized fingerprint ([[qDedupExact]]'s key) → deterministic
    * 1-in-2 hash sample ([[qHashSample]]'s idiom). Proves the operators
    * compose without materialization barriers: Catalyst fuses the quality
    * predicates into the scan, the dedup is the only shuffle, and the
    * sample is a residue filter on the dedup output. */
  val qCorpusPipeline: Q = Q(
    "q_corpus_pipeline",
    s"""WITH kept AS (SELECT doc_id, source, text,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ')))) AS h
       |  FROM documents
       |  WHERE length(text) BETWEEN 50 AND 10000
       |    AND CAST(len(regexp_extract_all(lower(text), '\\b$Stop\\b')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) >= 0.05),
       |dedup AS (SELECT doc_id, source, text FROM
       |  (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM kept)
       |  WHERE rn = 1)
       |SELECT doc_id, source,
       |  len(regexp_extract_all(text, '$TokenPatSql')) AS n_tokens
       |FROM dedup
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 2 = 0""".stripMargin) { (s, d) =>
    val nWords = wordCountFloor1(col("text"))
    val nStop = stopCount(col("text"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    // plain scan: the filters fuse into the scan and the dedup window is
    // the only shuffle — the repartition exchange only adds a stage
    // (r17 A/B: 0.43 vs 0.48 s min; the driver's r16 bench regressed
    // this row 0.84x under the allowlist)
    Tables.documentsPlain(s, d)
      .filter(length(col("text")).between(50, 10000) &&
        nStop.cast("double") / nWords >= 0.05)
      .withColumn("h",
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(Portable.hash60(col("doc_id").cast("string")) % 2 === 0)
      .select(col("doc_id"), col("source"),
        Portable.regexpCount(col("text"), TokenPat).as("n_tokens"))
  }

  /** Stratified (per-language) hash sampling: each language stratum keeps
    * a different deterministic fraction of its documents — the training-mix
    * rebalancing step (downsample the over-represented language, keep more
    * of the rare ones). Same reproducible residue-class idiom as
    * [[qHashSample]]; a narrow filter, zero shuffles at any scale. */
  val qStratifiedSample: Q = Q(
    "q_stratified_sample",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 <
      |  CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 80 ELSE 50 END""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(Portable.hash60(col("doc_id").cast("string")) % 100 <
        when(col("lang") === "en", 25).when(col("lang") === "zh", 80).otherwise(50))
      .select("doc_id", "lang")
  }

  /** Consecutive word bigrams as `"w1 w2"` strings; empty array below two
    * words. Built at ARRAY level (zip_with over shifted slices, the
    * [[Portable.shingles]] idiom) — an index-sequence + element_at
    * formulation re-resolves the captured array per lambda element and
    * measured ~4× slower at sf0.1. The list is byte-identical to DuckDB's
    * comprehension enumeration. */
  private def bigramsCol(ws: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(ws) >= 2,
      zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  private val DuckBigrams =
    """SELECT doc_id,
      |    CASE WHEN len(words) >= 2
      |      THEN [words[i] || ' ' || words[i+1] for i in range(1, len(words))]
      |      ELSE CAST([] AS VARCHAR[]) END AS bgs
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
      |    FROM documents)""".stripMargin

  /** Corpus bigram language-model table (top 50 by frequency): the n-gram
    * count step of a KenLM-style quality filter. Explode is narrow; the
    * count is ONE shuffle with map-side partial aggregation — the same
    * shape as a word count, linear at any corpus size. */
  val qBigramLm: Q = Q(
    "q_bigram_lm",
    s"""WITH bg AS (SELECT doc_id, unnest(bgs) AS bigram FROM ($DuckBigrams))
       |SELECT bigram, count(*) AS freq FROM bg GROUP BY bigram
       |ORDER BY freq DESC, bigram LIMIT 50""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(bigramsCol(Portable.words(col("text")))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("bigram"))
      .limit(50)
  }

  /** Per-document LM quality score: mean conditional bigram log-probability
    * ln(c(w1 w2) / c(w1·)) under the corpus's own bigram counts — the
    * self-trained perplexity filter (CCNet-style, simplified to 2-grams).
    *
    * Scale shape: the LM table is corpus-derived and corpus-sized, so the
    * count joins are plain equi-joins on the bigram / context keys with
    * nothing forcing a broadcast — Catalyst broadcasts the count tables at
    * toy scale and shuffles them at corpus scale, both correct — followed
    * by one per-doc aggregate; every shuffle key is high-cardinality. */
  val qLmScore: Q = Q(
    "q_lm_score",
    s"""WITH bg AS (SELECT doc_id, unnest(bgs) AS bigram FROM ($DuckBigrams)),
       |occ AS (SELECT doc_id, bigram, count(*) AS occ FROM bg GROUP BY doc_id, bigram),
       |bc AS (SELECT bigram, sum(occ) AS c2 FROM occ GROUP BY bigram),
       |uc AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c2) AS c1
       |  FROM bc GROUP BY w1)
       |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       |  round(sum(occ * ln(CAST(c2 AS DOUBLE) / c1)) / sum(occ), 4) AS lm_score
       |FROM occ JOIN bc USING (bigram)
       |JOIN uc ON string_split(occ.bigram, ' ')[1] = uc.w1
       |GROUP BY doc_id""".stripMargin) { (s, d) =>
    // Join (doc, bigram, occ) COUNTS, not raw occurrences: within-doc
    // repetition is collapsed before the two LM joins, which cuts their
    // probe sides ~n_words/n_distinct-fold (measured 12.3 s → 7.5 s at
    // sf0.1); the per-doc mean is then the occ-weighted sum — the oracle
    // mirrors the exact same weighted expression so the gate stays
    // value-exact.
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(bigramsCol(Portable.words(col("text")))).as("bigram"))
    val occ = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("occ"))
    val bc = occ.groupBy("bigram").agg(sum("occ").as("c2"))
    val uc = bc.groupBy(split(col("bigram"), " ").getItem(0).as("w1"))
      .agg(sum("c2").as("c1"))
    occ.join(bc, "bigram")
      .join(uc, split(col("bigram"), " ").getItem(0) === uc("w1"))
      .groupBy("doc_id")
      .agg(
        sum("occ").as("n_bigrams"),
        round(sum(col("occ") * log(col("c2").cast("double") / col("c1"))) / sum("occ"), 4)
          .as("lm_score"))
  }

  /** Trained Naive-Bayes source classifier — the CCNet/fastText-style
    * MODEL-BASED quality filter next to the generative [[qLmScore]]: treat
    * one source (`src0`) as the positive class, train per-token
    * log-likelihood ratios with Laplace smoothing in ONE aggregate over
    * the corpus, then score every document as the sum of its tokens'
    * ratios. Positive score ⇒ the classifier thinks the doc came from the
    * target distribution — exactly how production pipelines score "looks
    * like Wikipedia/reference text" without labels beyond provenance.
    *
    * Scale shape: the model is one vocabulary-sized aggregate (map-side
    * combined token counts; the smoothing constants ride in via a 1-row
    * broadcast); scoring is an equi-join of exploded tokens against the
    * vocab table (big-big, stays partitioned on the token key) and a
    * per-doc sum — the [[qLmScore]] plan shape exactly. Train and apply
    * touch the corpus once each; nothing is quadratic in anything. */
  /** Shared by [[qNbSourceScore]] and [[qNbStreamScore]]: the stream-apply
    * path must be indistinguishable from the batch apply, so both gates
    * face the identical oracle. */
  private val NbScoreOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |cnt AS (SELECT tok,
      |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_pos,
      |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS c_neg
      |  FROM t GROUP BY tok),
      |tot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg,
      |    count(*) AS v FROM cnt),
      |model AS (SELECT tok,
      |    ln((c_pos + 1.0) / (n_pos + v)) - ln((c_neg + 1.0) / (n_neg + v)) AS llr
      |  FROM cnt CROSS JOIN tot)
      |SELECT t.doc_id, t.source,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(sum(m.llr), 4) AS nb_score,
      |  CASE WHEN round(sum(m.llr), 4) > 0 THEN 1 ELSE 0 END AS predicted_pos
      |FROM t JOIN model m ON t.tok = m.tok
      |GROUP BY t.doc_id, t.source""".stripMargin

  /** Per-token LLR model of [[qNbSourceScore]] — ONE vocabulary-sized
    * aggregate over the corpus (map-side combined), smoothing constants
    * via a 1-row broadcast. */
  private def nbModel(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // plain scan (and in the apply below): r17 15-rep A/B, 0.75 vs
    // 0.86 s min for q_nb_source_score — one vocab aggregate + equi-join,
    // the exchange is a pure stage tax
    val toks = Tables.documentsPlain(s, d)
      .select(col("doc_id"), col("source"),
        explode(Portable.words(col("text"))).as("tok"))
    val cnt = toks.groupBy("tok").agg(
      sum(when(col("source") === "src0", 1).otherwise(0)).as("c_pos"),
      sum(when(col("source") =!= "src0", 1).otherwise(0)).as("c_neg"))
    val tot = cnt.agg(
      sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"), count(lit(1)).as("v"))
    cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        (log((col("c_pos") + 1.0) / (col("n_pos") + col("v"))) -
          log((col("c_neg") + 1.0) / (col("n_neg") + col("v")))).as("llr"))
  }

  val qNbSourceScore: Q = Q(
    "q_nb_source_score", NbScoreOracle) { (s, d) =>
    val toks = Tables.documentsPlain(s, d)
      .select(col("doc_id"), col("source"),
        explode(Portable.words(col("text"))).as("tok"))
    // group on (doc_id, source) — source is functionally dependent on
    // doc_id, and keeping it a KEY (not a string min() aggregate) keeps
    // the final aggregate hash-based (string-min buffers plan SortAggregate)
    toks.join(nbModel(s, d), "tok")
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum("llr"), 4).as("nb_score"),
        when(round(sum("llr"), 4) > 0, 1).otherwise(0).as("predicted_pos"))
  }

  /** The SAME trained model applied through the STREAMING path — the
    * batch-train → stream-apply production shape made oracle-exact: the
    * documents table is replayed as a real file-source stream
    * (`Trigger.AvailableNow`), each micro-batch scored inside
    * `foreachBatch` by [[graft.streaming.StreamCuration.scoreWithModel]]
    * (broadcast model join, per-batch doc aggregate), and the gate faces
    * the IDENTICAL DuckDB oracle as [[qNbSourceScore]] — so
    * train-batch → apply-stream is pinned indistinguishable from
    * train-batch → apply-batch, hash-for-hash.
    *
    * Gate plumbing is DECADE-SAFE (VERDICT r15 "what's wrong #1"): the
    * output is one row per document, so a driver-side collect would ride
    * the corpus (5 M rows through the driver heap at 1000×). Each scored
    * micro-batch instead LANDS to parquet and the gate result is the
    * read-back — the `q_cdc_stream` pattern, the same sink shape
    * production uses, so the harness stays the operator's cost class at
    * every scale. Docs with zero in-vocabulary tokens are filtered
    * to mirror the batch gate's inner join (scoreWithModel itself keeps
    * them, flagged `is_oov` — none exist on the training corpus). */
  val qNbStreamScore: Q = Q(
    "q_nb_stream_score", NbScoreOracle) { (s, d) =>
    import org.apache.spark.sql.types._
    // localCheckpoint: train ONCE, not once per micro-batch re-plan
    val model = nbModel(s, d).localCheckpoint()
    val pid = ProcessHandle.current().pid()
    val run = nbStreamRunCounter.incrementAndGet()
    TmpDirs.reap("/tmp/graft_nbstream", pid, TmpDirs.runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    val landDir = s"/tmp/graft_nbstream/run_${pid}_$run/scored"
    // The file-stream source wants a DIRECTORY. A Spark-written table at
    // $d/documents.parquet IS one — stream it directly. The driver
    // testdata ships it as a single FILE, which the source rejects as a
    // basePath — stream the sf dir filtered down to that one leaf file
    // instead. (A bare pathGlobFilter on a directory-layout table matches
    // NO leaf file and silently streams zero rows — caught by the 10×
    // smoke, whose synthesized corpus is directory-layout.)
    val tablePath = s"$d/documents.parquet"
    val reader = s.readStream.schema(Tables.documents(s, d).schema)
    val src =
      if (new java.io.File(tablePath).isDirectory) reader.parquet(tablePath)
      else reader.option("pathGlobFilter", "documents.parquet").parquet(d)
    val q = src
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.streaming.StreamCuration.scoreWithModel(batch, model)
          .filter(col("n_scored_tokens") > 0)
          .select(col("doc_id"), col("source"),
            col("n_scored_tokens").as("n_tokens"),
            round(col("nb_score"), 4).as("nb_score"),
            when(round(col("nb_score"), 4) > 0, 1).otherwise(0).as("predicted_pos"))
          .write.mode("append").parquet(landDir)
        ()
      }
      .start()
    // a failed or interrupted await leaves no stream running
    try q.awaitTermination() finally if (q.isActive) q.stop()
    // explicit schema: an all-empty replay leaves only _SUCCESS behind,
    // and schema inference over zero part files would fail the gate
    // instead of returning the (correctly) empty result
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_tokens", LongType), StructField("nb_score", DoubleType),
      StructField("predicted_pos", IntegerType)))
    s.read.schema(outSchema).parquet(landDir)
  }

  private val nbStreamRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Calibration table for the trained NB source classifier: documents
    * bucketed by fixed-width score bin (LLR/20), each bin reporting how
    * many docs actually carry the positive label — the reliability
    * diagram a curator reads before picking a filter threshold (unit-LLR
    * bins: the corpus scores span roughly [-5, 3], so integer bins give
    * a ~8-row table). A
    * well-ordered classifier shows pos_frac rising monotonically with the
    * bin; a flat or folded curve means the score is not separating and
    * any threshold is arbitrary. Fixed-width bins (not quantiles) keep
    * the gate tie-free and bit-portable: the bin key is floor of the
    * already-4-decimal-rounded score, identical in both engines.
    *
    * Scale shape: [[qNbSourceScore]]'s scoring pass (corpus touched once,
    * vocabulary-keyed join) plus one #bins-sized aggregate. */
  val qNbCalibration: Q = Q(
    "q_nb_calibration",
    s"""WITH scored AS ($NbScoreOracle)
       |SELECT CAST(floor(nb_score) AS BIGINT) AS score_bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS pos_frac
       |FROM scored GROUP BY 1""".stripMargin) { (s, d) =>
    qNbSourceScore.build(s, d)
      .groupBy(floor(col("nb_score")).cast("long").as("score_bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("source") === "src0", 1).otherwise(0)).cast("long").as("n_pos"),
        round(sum(when(col("source") === "src0", 1).otherwise(0)).cast("double")
          / count(lit(1)), 4).as("pos_frac"))
  }

  /** Quality-weighted sampling — the DSIR pattern (Xie et al. 2023,
    * arXiv:2302.03169): keep each document with probability proportional
    * to an importance weight, here the self-trained bigram-LM quality
    * score ([[qLmScore]]) min-max normalized to [0,1]. DSIR's exp-weight
    * is replaced by the linear normalizer on the 4-decimal-rounded score:
    * exp() is libm-dependent and would break cross-engine bit parity,
    * while (score−min)/(max−min) over already-gate-exact inputs is IEEE
    * division both engines compute identically. Acceptance is the
    * reproducible residue idiom: hash(doc_id) % 10000 < round(p·10000) —
    * re-running the sample on the same corpus keeps the same documents.
    *
    * Scale shape: the normalizer is a 1-row broadcast; everything else is
    * the [[qLmScore]] plan plus a narrow filter — no extra shuffle. */
  /** Deterministic k-row corpus RESERVOIR sample — the canonical use of
    * the native `graft_min_k` aggregate: order every document by its
    * engine-portable hash (a uniform pseudo-random permutation,
    * reproducible on any engine) and keep the k smallest, WITHOUT a
    * global sort. One keyless ObjectHashAggregate: each partition folds
    * its rows into an O(k) buffer map-side, partials merge in O(k) — at
    * 100 TB this is one narrow scan plus a k-row reduce, where the
    * `orderBy(hash).limit(k)` formulation would global-sort the corpus
    * (and `TABLESAMPLE`/rand() would not be reproducible across reruns
    * or engines). `sample_rank` pins the ordering inside the sample,
    * not just membership. */
  val qReservoirSample: Q = Q(
    "q_reservoir_sample",
    """SELECT doc_id, source, CAST(rn AS INT) AS sample_rank FROM (
      |  SELECT doc_id, source, row_number() OVER (
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT),
      |             doc_id) AS rn
      |  FROM documents WHERE doc_id IS NOT NULL) WHERE rn <= 100""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      // minKCandidate convention: an unidentifiable (null-id) document
      // cannot be sampled — masked out on BOTH engines, not sorted first
      .select(graft.functions.GraftFunctions.minKCandidate(
        Portable.hash60(col("doc_id").cast("string")),
        struct(
          Portable.hash60(col("doc_id").cast("string")).as("h"),
          col("doc_id"), col("source"))).as("c"))
      .groupBy()
      .agg(graft.functions.GraftFunctions.minK(col("c"), 100).as("cs"))
      .select(posexplode(col("cs")).as(Seq("pos", "c")))
      .select(col("c.doc_id").as("doc_id"), col("c.source").as("source"),
        (col("pos") + 1).cast("int").as("sample_rank"))
  }

  /** Per-KEY deterministic reservoir — [[qReservoirSample]] stratified:
    * the k hash-smallest documents of EVERY source, with in-group rank.
    * This is the bounded-quota sampler a mixing pipeline actually runs
    * (N exemplar docs per source for eyeballing/eval, not a fraction),
    * complementing `q_stratified_sample`'s fraction-per-stratum.
    *
    * Scale shape: ONE ObjectHashAggregate keyed by source — per-key O(k)
    * `graft_min_k` buffers with map-side partials, so state is
    * #keys × k rows regardless of corpus size and there is NO window
    * sort (the `row_number() OVER (PARTITION BY source ORDER BY hash)`
    * formulation would shuffle and sort every row of the corpus; this
    * shuffles #keys × k candidate partials). Same portable-hash
    * permutation as the global reservoir, so membership is reproducible
    * across engines and reruns. */
  val qReservoirPerKey: Q = Q(
    "q_reservoir_per_key",
    """SELECT source, doc_id, CAST(rn AS INT) AS sample_rank FROM (
      |  SELECT source, doc_id, row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT),
      |             doc_id) AS rn
      |  FROM documents WHERE doc_id IS NOT NULL) WHERE rn <= 20""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("source"), graft.functions.GraftFunctions.minKCandidate(
        Portable.hash60(col("doc_id").cast("string")),
        struct(
          Portable.hash60(col("doc_id").cast("string")).as("h"),
          col("doc_id"))).as("c"))
      .groupBy("source")
      .agg(graft.functions.GraftFunctions.minK(col("c"), 20).as("cs"))
      .select(col("source"), posexplode(col("cs")).as(Seq("pos", "c")))
      .select(col("source"), col("c.doc_id").as("doc_id"),
        (col("pos") + 1).cast("int").as("sample_rank"))
  }

  val qWeightedSample: Q = Q(
    "q_weighted_sample",
    s"""WITH scores AS (${qLmScore.oracle.get}),
       |norm AS (SELECT min(lm_score) AS mn, max(lm_score) AS mx FROM scores),
       |probs AS (SELECT doc_id,
       |    CASE WHEN mx > mn THEN (lm_score - mn) / (mx - mn) ELSE 1.0 END AS p
       |  FROM scores CROSS JOIN norm)
       |SELECT doc_id, round(p, 4) AS keep_prob FROM probs
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000
       |  < CAST(round(p * 10000) AS BIGINT)""".stripMargin) { (s, d) =>
    val scores = qLmScore.build(s, d).select(col("doc_id"), col("lm_score"))
    val norm = scores.agg(min("lm_score").as("mn"), max("lm_score").as("mx"))
    scores.crossJoin(broadcast(norm))
      .withColumn("p", when(col("mx") > col("mn"),
        (col("lm_score") - col("mn")) / (col("mx") - col("mn"))).otherwise(lit(1.0)))
      .filter(Portable.hash60(col("doc_id").cast("string")) % 10000 <
        round(col("p") * 10000, 0).cast("long"))
      .select(col("doc_id"), round(col("p"), 4).as("keep_prob"))
  }

  /** Token budget per source for [[qTokenBudgetMix]] — sized so that at
    * sf0.01 some sources are capped and some pass whole (non-trivial gate
    * at the driver's verification scale). */
  private val MixBudget = 1200.0

  /** Token-budgeted corpus mixing: each source contributes at most ~B
    * tokens, enforced as a deterministic per-source keep-fraction
    * f = min(1, B / source_tokens) applied through the portable doc-id
    * hash — the curriculum-mix step that caps over-represented sources by
    * TOKEN volume, not doc count. Output is the per-source audit row
    * (source total, kept docs, kept tokens).
    *
    * Scale shape: one token-count aggregate per source (map-side
    * combined), a broadcast join of the per-source totals (#sources rows)
    * back onto docs, a narrow hash filter, one final aggregate. The
    * fraction threshold is computed as `cast(f * 10000 as long)` in BOTH
    * engines — double division of the same integers, so the truncation is
    * bit-identical. */
  val qTokenBudgetMix: Q = Q(
    "q_token_budget_mix",
    s"""WITH toks AS (SELECT doc_id, source,
       |    len(regexp_extract_all(text, '$TokenPatSql')) AS n_tokens
       |  FROM documents),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |  FROM toks GROUP BY source),
       |kept AS (SELECT t.source, t.n_tokens, tot.src_tokens
       |  FROM toks t JOIN tot USING (source)
       |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000
       |    < CAST(least(1.0, $MixBudget / src_tokens) * 10000 AS BIGINT))
       |SELECT source, any_value(src_tokens) AS src_tokens,
       |  count(*) AS docs_kept, CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
       |FROM kept GROUP BY source""".stripMargin) { (s, d) =>
    // plain scan: r17 15-rep A/B, 0.38 vs 0.46 s min (broadcast-join
    // probe shape — the exchange buys nothing the join's own scan lacks)
    val toks = Tables.documentsPlain(s, d).select(
      col("doc_id"), col("source"),
      Portable.regexpCount(col("text"), TokenPat).as("n_tokens"))
    val totals = toks.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    toks.join(broadcast(totals), "source")
      .filter(Portable.hash60(col("doc_id").cast("string")) % 10000 <
        (least(lit(1.0), lit(MixBudget) / col("src_tokens")) * 10000).cast("long"))
      .groupBy("source")
      .agg(
        first("src_tokens").as("src_tokens"),
        count(lit(1)).as("docs_kept"),
        sum("n_tokens").as("tokens_kept"))
  }

  /** Dataset-card statistics: the one-row corpus summary every training
    * dataset publishes — volume, token count, language/source breadth,
    * quality-gate pass rate, exact-duplicate rate. One pass over the
    * corpus (all aggregates map-side combined), plus a distinct-count on
    * the 128-bit content hash. */
  val qCorpusStats: Q = Q(
    "q_corpus_stats",
    s"""SELECT count(*) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(text, '$TokenPatSql'))) AS BIGINT) AS n_tokens,
       |  count(DISTINCT lang) AS n_langs,
       |  count(DISTINCT source) AS n_sources,
       |  round(CAST(sum(CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS pct_length_ok,
       |  round(1.0 - CAST(count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' '))))) AS DOUBLE)
       |    / count(*), 4) AS exact_dup_rate
       |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum(Portable.regexpCount(col("text"), TokenPat)).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      round(sum(when(length(col("text")).between(50, 10000), 1).otherwise(0)).cast("double")
        / count(lit(1)), 4).as("pct_length_ok"),
      round(lit(1.0) - countDistinct(
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary"))).cast("double")
        / count(lit(1)), 4).as("exact_dup_rate"))
  }

  /** Deterministic training-shard assignment — the pipeline's final
    * "write the shards" step: every document routed to one of 16 shards
    * by the engine-portable content hash of its id, audited as per-shard
    * doc/token/char totals. Hash routing (not round-robin or ranges)
    * makes the assignment reproducible across reruns, engines, and
    * partitionings, and statistically balanced without a shuffle-heavy
    * balance pass; the audit row IS the balance evidence, and the oracle
    * reproduces every count exactly (the [[qHashSample]] md5-prefix
    * idiom). At production the write is
    * `.repartition(n, col("shard_id")).write.partitionBy("shard_id")` —
    * one narrow scan plus one 16-group map-side-combined aggregate here,
    * no extra pass. */
  val qShardAssign: Q = Q(
    "q_shard_assign",
    """SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))
      |    AS BIGINT) % 16 AS INT) AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard_id",
        (Portable.hash60(col("doc_id").cast("string")) % 16).cast("int"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(Portable.wordsOf(Portable.tokenStats(col("text")))).as("n_tokens"),
        sum("n_chars").as("n_chars"))
  }

  /** The SAME shard routing applied through the STREAMING path and read
    * back OFF DISK — the pipeline's landing step made oracle-exact: the
    * documents table is replayed as a file-source stream, each
    * micro-batch written by [[graft.streaming.StreamShardRouter]] into
    * `batch=<id>/shard_id=<k>/` parquet (idempotent per batch,
    * partition-pruned per shard), and the gate aggregates the LANDED
    * files back into exactly [[qShardAssign]]'s per-shard audit — facing
    * the identical DuckDB oracle, so stream-route → disk → read-back is
    * pinned indistinguishable from the batch routing, hash-for-hash. */
  private val shardRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val qStreamShardRoute: Q = Q(
    "q_stream_shard_route", {
      // same oracle as q_shard_assign (registered below); duplicated via
      // reference at registration time
      """SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))
        |    AS BIGINT) % 16 AS INT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin
    }) { (s, d) =>
    // per-JVM + per-build unique dir: two concurrent JVMs (bench + test)
    // over the same dataset must not race on delete/write, and the
    // sanitized-path collision (/data/x vs /data_x) can't alias runs
    val pid = ProcessHandle.current().pid()
    val run = shardRunCounter.incrementAndGet()
    val outDir = s"/tmp/graft_shards/run_${pid}_$run"
    // reap dirs of dead pids, plus this pid's dirs at least THREE builds
    // old (their consumers have read back; keeping two prior generations
    // covers a concurrently-building suite's or caller's still-lazy
    // DataFrame) — bounds the per-JVM footprint at 3 routed-corpus copies
    TmpDirs.reap("/tmp/graft_shards", pid,
      TmpDirs.runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    val schema = Tables.documents(s, d).schema
    val tablePath = s"$d/documents.parquet"
    val reader = s.readStream.schema(schema)
    val src =
      if (new java.io.File(tablePath).isDirectory) reader.parquet(tablePath)
      else reader.option("pathGlobFilter", "documents.parquet").parquet(d)
    val q = graft.streaming.StreamShardRouter.route(src, outDir)
    // a failed or interrupted await leaves no stream running
    try q.awaitTermination() finally if (q.isActive) q.stop()
    s.read.parquet(outDir)
      .groupBy(col("shard_id").cast("int").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Portable.wordsOf(Portable.tokenStats(col("text")))).as("n_tokens"),
        sum("n_chars").as("n_chars"))
      // localCheckpoint decouples the returned result from the run dir:
      // the 16-row aggregate is materialized HERE, so a caller that
      // retains this DataFrame and re-collects it after 3+ more builds in
      // this JVM (when the reaper may have deleted the dir) still reads
      // the checkpointed rows, not a vanished directory
      .localCheckpoint()
  }

  /** Shard ELASTICITY under the full driver gate: the corpus is landed
    * NARROW (two batches at 4 shards — the width a table gets while it
    * is small), widened to 16 on an ordinary generation fold
    * ([[graft.streaming.StreamShardRouter.reshardOnFold]] — the fold
    * rewrites the base anyway, so re-assignment rides the exchange it
    * already pays), and the per-shard audit is read back OFF the folded
    * base. The oracle is [[qShardAssign]]'s day-one-at-16 audit,
    * verbatim: a widened tree must be hash-for-hash indistinguishable
    * from one landed at the final width from the start — the property
    * that lets a 100 TB table grow its fan-out with the corpus without
    * ever invalidating downstream shard-addressed readers
    * (DeltaCompactReshardSpec covers stragglers, idempotence, and
    * delete composition; this gate pins the VALUES). */
  private val reshardRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val qReshard: Q = Q(
    "q_reshard",
    """SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))
      |    AS BIGINT) % 16 AS INT) AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
    val pid = ProcessHandle.current().pid()
    val run = reshardRunCounter.incrementAndGet()
    val outDir = s"/tmp/graft_reshard/run_${pid}_$run"
    TmpDirs.reap("/tmp/graft_reshard", pid, TmpDirs.runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
      col("n_chars")).localCheckpoint()
    // two independent landings over a checkpointed source (distinct
    // batch dirs) — overlap them (guide §2.6, r17; the q_time_travel
    // pattern); the reshard fold below stays a barrier
    Par.units(
      () => { graft.streaming.StreamShardRouter.landBatch(
        docs.filter(col("doc_id") % 2 === 0), outDir, 0L, numShards = 4); () },
      () => { graft.streaming.StreamShardRouter.landBatch(
        docs.filter(col("doc_id") % 2 === 1), outDir, 1L, numShards = 4); () })
    graft.streaming.StreamShardRouter.reshardOnFold(s, outDir, newShards = 16)
    graft.streaming.DeltaCompact.readCorpus(s, outDir)
      .groupBy(col("shard_id").cast("int").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Portable.wordsOf(Portable.tokenStats(col("text")))).as("n_tokens"),
        sum("n_chars").as("n_chars"))
      // materialize before the reaper can collect the run dir (the
      // qStreamShardRoute discipline)
      .localCheckpoint()
  }

  /** Deterministic global shuffle — the training-order manifest: every
    * document gets a (shard, position) slot, position being its rank
    * within the shard under a salted engine-portable hash order. Together
    * with [[qShardAssign]]'s routing this materializes the exact order a
    * trainer reads the corpus in — reproducible across reruns, engines,
    * and cluster layouts, the property an RNG-based `orderBy(rand())`
    * shuffle loses the moment partitioning changes. The position salt (7)
    * is independent of the shard hash, so within-shard order is
    * uncorrelated with shard routing.
    *
    * Scale shape: one hash shuffle on the shard key, then a per-shard
    * sort — parallelism = shard count, the knob a production run sizes to
    * O(output files) (thousands); 16 here, sized to the test corpus.
    * No global sort, no driver-side state, and a re-run over a grown
    * corpus only perturbs order within shards (stable assignment). */
  val qGlobalShuffle: Q = Q(
    "q_global_shuffle",
    """SELECT doc_id,
      |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS INT)
      |    AS shard_id,
      |  row_number() OVER (
      |    PARTITION BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16
      |    ORDER BY CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT),
      |      doc_id) AS position
      |FROM documents""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("shard_id").orderBy("ord", "doc_id")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        (Portable.hash60(col("doc_id").cast("string")) % 16).cast("int").as("shard_id"),
        Portable.hash60(7, col("doc_id").cast("string")).as("ord"))
      .withColumn("position", row_number().over(w).cast("long"))
      .drop("ord")
  }

  /** Token budget for [[qTemperatureMix]]'s epoch math: how many tokens
    * one training pass draws across all sources. */
  private val TempBudget = 20000.0

  /** Temperature-scaled source mixing (α = 0.5): the multilingual-corpus
    * sampling rule p_i ∝ n_i^α that upweights small sources without
    * letting any source dominate — α=1 is proportional (big sources
    * drown small ones), α=0 is uniform (tiny sources overfit); √n is the
    * standard middle ground. Emits, per source, the natural share, the
    * temperature share, and the epochs-per-pass each source runs at a
    * fixed token budget — epochs > 1 means that source repeats within
    * one pass, the overfitting signal a mixture designer watches.
    *
    * Scale shape: one map-side-combined token aggregate per source, a
    * 1-row denominator fold broadcast back over the #sources-row table —
    * corpus touched once, everything after is O(#sources). α is fixed at
    * 0.5 so both engines compute the weight as sqrt (bit-identical IEEE),
    * not pow; the 4-decimal round absorbs the denominator's float
    * summation-order difference (the [[qSourceDivergence]] precedent). */
  val qTemperatureMix: Q = Q(
    "q_temperature_mix",
    s"""WITH tot AS (SELECT source,
       |    CAST(sum(len(regexp_extract_all(text, '$TokenPatSql'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |den AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |    sum(sqrt(CAST(n_tokens AS DOUBLE))) AS tot_sqrt FROM tot)
       |SELECT source, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 4) AS nat_share,
       |  round(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt, 4) AS temp_share,
       |  round(sqrt(CAST(n_tokens AS DOUBLE)) / tot_sqrt * $TempBudget / n_tokens, 4) AS epochs
       |FROM tot, den""".stripMargin) { (s, d) =>
    val tot = Tables.documents(s, d)
      .select(col("source"),
        Portable.regexpCount(col("text"), TokenPat).as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
    val den = tot.agg(
      sum("n_tokens").as("tot_tokens"),
      sum(sqrt(col("n_tokens").cast("double"))).as("tot_sqrt"))
    tot.crossJoin(broadcast(den))
      .select(
        col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 4).as("nat_share"),
        round(sqrt(col("n_tokens").cast("double")) / col("tot_sqrt"), 4).as("temp_share"),
        round(sqrt(col("n_tokens").cast("double")) / col("tot_sqrt")
          * lit(TempBudget) / col("n_tokens"), 4).as("epochs"))
  }

  /** Sequence packing: assign documents to fixed 2048-token training
    * windows — the pretraining batcher's packing step, made deterministic
    * (and oracle-able) by hash-sharding docs and packing each shard in
    * doc_id order: a document lands in the window its cumulative token
    * START falls in, so windows fill greedily and only a doc straddling
    * the boundary overflows its window. Output is the per-window audit
    * (docs, tokens).
    *
    * Scale shape: the running cumsum is a window over the SHARD key, so
    * parallelism = shard count — the knob a real deployment sets to
    * ~cores×k (16 here, sized to the test corpus). Everything else is one
    * narrow token count + one aggregate. */
  val qPackSequences: Q = Q(
    "q_pack_sequences",
    s"""WITH toks AS (SELECT doc_id,
       |    len(regexp_extract_all(text, '$TokenPatSql')) AS n_tokens,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 16 AS shard
       |  FROM documents),
       |packed AS (SELECT shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
       |  FROM toks)
       |SELECT shard, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS window_id,
       |  count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
       |FROM packed GROUP BY shard, window_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("shard").orderBy("doc_id")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        Portable.regexpCount(col("text"), TokenPat).as("n_tokens"),
        (Portable.hash60(col("doc_id").cast("string")) % 16).as("shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("window_id", floor((col("cum") - col("n_tokens")) / lit(2048)))
      .groupBy("shard", "window_id")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * distributions — the mixture-tuning diagnostic that flags a source
    * whose vocabulary diverges from the corpus (spam pockets, format
    * shifts). KL is computed over the source's own support (p > 0; q > 0
    * on that support by construction since the corpus includes the
    * source), so no smoothing is needed.
    *
    * Scale shape: one (source, token) count (map-side combined), two
    * roll-ups of that count, one token-key join of counts with corpus
    * counts, one scalar total joined as a literal-sized side — every
    * shuffle on high-cardinality or tiny keys; nothing all-pairs. The sum
    * of p·ln(p/q) terms is rounded to 4 decimals on both engines (order
    * differences are ~1e-14 relative). */
  val qSourceDivergence: Q = Q(
    "q_source_divergence",
    """WITH toks AS (SELECT source,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |st AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok),
      |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM st GROUP BY source),
      |ct AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS ccnt FROM st GROUP BY tok),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM st)
      |SELECT st.source, any_value(n_s) AS n_tokens,
      |  round(sum((CAST(cnt AS DOUBLE) / n_s)
      |    * ln((CAST(cnt AS DOUBLE) / n_s) / (CAST(ccnt AS DOUBLE) / total))), 4) AS kl
      |FROM st JOIN stot USING (source) JOIN ct USING (tok) CROSS JOIN n
      |GROUP BY st.source""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(Portable.words(col("text"))).as("tok"))
    val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val stot = st.groupBy("source").agg(sum("cnt").as("n_s"))
    val ct = st.groupBy("tok").agg(sum("cnt").as("ccnt"))
    val n = st.agg(sum("cnt").as("total"))
    val p = col("cnt").cast("double") / col("n_s")
    val q = col("ccnt").cast("double") / col("total")
    st.join(broadcast(stot), "source")
      .join(ct, "tok")
      .crossJoin(broadcast(n))
      .groupBy("source")
      .agg(
        first("n_s").as("n_tokens"),
        round(sum(p * log(p / q)), 4).as("kl"))
  }

  /** Sparse TF-IDF cosine similarity pairs — the lexical twin of the
    * embedding near-dup family: document pairs whose TF-IDF vectors'
    * cosine clears a threshold, generated through the inverted index
    * (pairs exist only where a token is SHARED — never doc×doc). Scale
    * levers, both mirrored in the oracle: tokens with document frequency
    * > 64 are dropped before pairing (a stopword-ish token's posting
    * list is the quadratic bucket; informative tokens have short lists —
    * the `q_ngram_jaccard` DF-cap precedent), and all dot/norm arithmetic
    * is DECIMAL-exact (weights quantized at 6 decimals, products and sums
    * exact and associative, so partial aggregates merge identically in
    * any order on any engine — the `q_time_decay` precedent). The single
    * fp step is the final `dot/sqrt(n2_a·n2_b)` from exact decimal
    * inputs, identical IEEE ops in both engines, rounded at 4. Shape:
    * token-key shuffle for the index, pair-key shuffle for the dots,
    * doc-sized norm table joined back (AQE broadcasts it when small). */
  val qSparseCosine: Q = Q(
    "q_sparse_cosine",
    """WITH toks AS (SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) WHERE length(tok) >= 3),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY tok
      |  HAVING count(*) <= 64),
      |n AS (SELECT count(*) AS n FROM documents),
      |w AS (SELECT doc_id, tf.tok,
      |    CAST(round(tf * ln(CAST(n AS DOUBLE) / dfc), 6) AS DECIMAL(18,6)) AS w
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
      |norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
      |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT doc_a, doc_b, round(CAST(dot AS DOUBLE)
      |      / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos_sim
      |  FROM dots JOIN norms na ON doc_a = na.doc_id
      |  JOIN norms nb ON doc_b = nb.doc_id)
      |WHERE cos_sim >= 0.3""".stripMargin) { (s, d) =>
    sparseCosine(Tables.documents(s, d).select(col("doc_id"), col("text")), 0.3)
  }

  /** TF-IDF cosine pairs over (doc_id, text) at threshold `tau` —
    * see [[qSparseCosine]]. */
  def sparseCosine(docs: DataFrame, tau: Double): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(Portable.words(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 3)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= 64)
    val n = docs.agg(count(lit(1)).as("n"))
    val w = tf.join(df, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("n").cast("double") / col("dfc")), 6)
          .cast("decimal(18,6)").as("w"))
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val a = w.select(col("doc_id").as("doc_a"), col("tok"), col("w").as("w_a"))
    val b = w.select(col("doc_id").as("doc_b"), col("tok"), col("w").as("w_b"))
    a.join(b, Seq("tok")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("w_a") * col("w_b")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot").cast("double") /
          sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** BM25 Okapi parameters (Robertson et al., TREC-3): the standard
    * k1/b and the +1-smoothed idf that keeps high-df terms non-negative.
    * `private[graft]`: the hybrid-fusion gate and the streaming ingest
    * fold interpolate the SAME constants into their oracle SQL / cap
    * logic — one definition, so changing a plan constant can never
    * silently break engine/oracle parity (round-10 advice). */
  private[graft] val Bm25Queries = 8
  private[graft] val Bm25K = 10

  /** Impact-pruning cap: postings kept per term (Carmel-style static
    * index pruning — see [[qBm25TopK]]). Shared by the batch build, the
    * streaming fold's re-cap, and both oracles' row_number cut. */
  private[graft] val Bm25Cap = 64

  /** BM25 top-k retrieval — the query→document ranking that powers
    * retrieval-based curation (dataset search, hard-negative mining,
    * retrieval-augmented decontamination): each of the first
    * [[Bm25Queries]] documents acts as a "more-like-this" query (its
    * distinct tokens are the query terms) and retrieves the corpus's
    * [[Bm25K]] best-scoring OTHER documents under Okapi BM25
    * (k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½))).
    *
    * Scale shape — impact-ordered static index pruning (Carmel et al.,
    * SIGIR'01; the discipline behind every WAND-style engine): each
    * term's posting list keeps only its 64 highest-impact entries
    * (tf desc, doc_id tiebreak), cut by the native `graft_min_k`
    * reservoir in ONE ObjectHashAggregate pass that ALSO computes the
    * TRUE document frequency for idf — so a query's candidate set is
    * ≤ query-terms × 64 rows regardless of corpus size (the
    * [[graft.operators.Similarity]] `q_knn_lsh_capped` bound
    * discipline applied to lexical retrieval; a df-threshold stopword
    * cut is useless on a corpus where every term is common — this one
    * was measured degenerate on the testdata's 31-token vocabulary).
    * The query term set is a broadcast that prunes the capped index
    * BEFORE the doc-length join (the pruned side is small, AQE
    * broadcasts it). Cross-engine exactness: the survivor rule replays
    * in SQL as a row_number window; per-term scores are rounded at 6
    * decimals into DECIMAL(18,6) and summed exactly (order-independent
    * partial merges — the [[qSparseCosine]] precedent); avgdl is exact
    * in both engines because integer sums below 2^53 are associative
    * in doubles. */
  /** Shared oracle CTE chain for BM25 (through `bm25ranked`), reused by
    * the hybrid-fusion gate in [[graft.operators.Similarity]]. `corpus`
    * names the document relation — the delete gate passes a
    * tombstone-filtered CTE; everything else takes the full table. */
  private[operators] def duckBm25Ctes(corpus: String = "documents"): String =
    raw"""toks AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM $corpus),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      |idx AS (SELECT tok, doc_id, tf, dfc FROM (
      |    SELECT tok, doc_id, tf, count(*) OVER (PARTITION BY tok) AS dfc,
      |      row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn
      |    FROM tf) WHERE rn <= $Bm25Cap),
      |dl AS (SELECT doc_id,
      |    greatest(len(string_split_regex(trim(text), '\s+')), 1) AS dl
      |  FROM $corpus),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      |qt AS (SELECT doc_id AS query_id, tok FROM tf WHERE doc_id < $Bm25Queries),
      |terms AS (SELECT q.query_id, t.doc_id,
      |    CAST(round(ln(1 + (CAST(s.n - t.dfc AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |        / (CAST(t.dfc AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |      * (t.tf * CAST(2.2 AS DOUBLE))
      |      / (t.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
      |          + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)), 6)
      |      AS DECIMAL(18,6)) AS term_w
      |  FROM idx t JOIN qt q ON t.tok = q.tok
      |  JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s
      |  WHERE t.doc_id <> q.query_id),
      |bm25scored AS (SELECT query_id, doc_id, sum(term_w) AS score
      |  FROM terms GROUP BY query_id, doc_id),
      |bm25ranked AS (SELECT query_id, doc_id, score, row_number() OVER
      |    (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      |  FROM bm25scored)""".stripMargin

  private[operators] val DuckBm25Ctes: String = duckBm25Ctes()

  val qBm25TopK: Q = Q(
    "q_bm25_topk",
    s"""WITH $DuckBm25Ctes
       |SELECT query_id, doc_id, round(CAST(score AS DOUBLE), 4) AS bm25, rank
       |FROM bm25ranked WHERE rank <= $Bm25K""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    // plain scan: r17 15-rep A/B, 0.90 vs 1.04 s min — the build is one
    // tok-keyed aggregate whose shuffle already spreads the work
    val docs = Tables.documentsPlain(s, d)
    bm25Serve(bm25Index(bm25Partial(bm25Postings(docs))), docs)
  }

  /** Per-document tf posting rows — a per-batch-safe narrow stage (each
    * document is whole within its row, so the (doc, tok) aggregate never
    * crosses batch boundaries in the streaming ingest). */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Portable.words(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** The impact-capped partial index: per term, the 64 highest-impact
    * postings (`graft_min_k` on (-tf, doc_id)) AND the true df, one
    * ObjectHashAggregate pass. PARTIALs are mergeable: min-k is
    * associative (min-k of a union = min-k of concatenated min-ks) and
    * df is additive — the property [[graft.streaming.StreamBm25Ingest]]
    * exploits to fold per-batch indexes into the exact batch-built
    * index. */
  private[graft] def bm25Partial(postings: DataFrame): DataFrame =
    postings.groupBy("tok")
      .agg(
        graft.functions.GraftFunctions.minK(
          struct((-col("tf")).as("negtf"), col("doc_id"), col("tf")), Bm25Cap).as("kept"),
        count(lit(1)).as("dfc"))

  /** Explode a (merged) partial index into serving rows. */
  private[graft] def bm25Index(partial: DataFrame): DataFrame =
    partial
      .select(col("tok"), col("dfc"), explode(col("kept")).as("kv"))
      .select(col("tok"), col("kv.doc_id").as("doc_id"), col("kv.tf").as("tf"), col("dfc"))

  /** BM25 scoring of the first [[Bm25Queries]] docs against a capped
    * index — only needs (index, corpus): query terms come straight off
    * the query docs' text. */
  private[graft] def bm25Serve(idx: DataFrame, docs: DataFrame): DataFrame =
    bm25ServeWith(idx,
      docs.select(col("doc_id"), wordCountFloor1(col("text")).as("dl")), docs)

  /** The serve join with the doc-length sidecar supplied EXPLICITLY —
    * the persisted path passes the landed `dl` artifact so the corpus is
    * never touched for scoring; `queryDocs` supplies only the query
    * batch's text (queries are inputs by definition). */
  private[graft] def bm25ServeWith(idx: DataFrame, dl: DataFrame,
      queryDocs: DataFrame): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val qt = queryDocs.filter(col("doc_id") < Bm25Queries)
      .select(col("doc_id").as("query_id"), explode(Portable.words(col("text"))).as("tok"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    idx.join(broadcast(qt), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(
          log(lit(1) + (col("n").cast("double") - col("dfc") + 0.5) / (col("dfc") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(18,6)").as("term_w"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_w")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25K)
      .select(col("query_id"), col("doc_id"),
        round(col("score").cast("double"), 4).as("bm25"), col("rank"))
  }

  // ---- persisted BM25 index: build-once / serve-many for lexical retrieval ----

  private val bm25PersistDone = scala.collection.mutable.Set.empty[String]

  /** Build-once half of the lexical build/serve split: the impact-capped
    * PARTIAL index (tok, kept min-k postings, true df) landed as parquet,
    * memoized per (data fingerprint, pid) exactly like
    * [[graft.operators.Similarity]]'s `ensureIvfIndex`/`ensureLshIndex`.
    * The landed artifact is the SAME mergeable partial
    * [[graft.streaming.StreamBm25Ingest]] writes per batch — batch build
    * and streaming ingest land one format, so a serve path reads either
    * interchangeably. Layout: range-partitioned + sorted by `tok`, so
    * each file carries a token range and parquet row-group min/max stats
    * can skip files/row-groups for a query's term set. The index is
    * vocab × [[Bm25Cap]] postings — already corpus-size-INDEPENDENT in
    * row count (the impact cap), so serve cost is index-bound, never
    * corpus-bound. */
  private[graft] def ensureBm25Index(s: SparkSession, d: String): String = synchronized {
    val pid = ProcessHandle.current().pid()
    val dir = s"/tmp/graft_bm25/${Similarity.dataFingerprint(s"$d/documents.parquet")}_$pid"
    if (!bm25PersistDone(dir)) {
      TmpDirs.reap("/tmp/graft_bm25", pid, TmpDirs.pidSuffix)
      val docs = Tables.documents(s, d)
      bm25Partial(bm25Postings(docs))
        .repartitionByRange(col("tok"))
        .sortWithinPartitions("tok")
        .write.mode("overwrite").parquet(s"$dir/partial")
      // the doc-length sidecar lands WITH the index, so serving never
      // touches the corpus: scoring needs (index, dl, query text) only
      docs.select(col("doc_id"), wordCountFloor1(col("text")).as("dl"))
        .write.mode("overwrite").parquet(s"$dir/dl")
      bm25PersistDone += dir
    }
    dir
  }

  /** Bench hook: drop the memoized index for `d` and rebuild from
    * scratch — isolates the lexical BUILD cost (tokenize + capped
    * partial + write) from the SERVE cost, mirroring `rebuildLshIndex`. */
  private[graft] def rebuildBm25Index(s: SparkSession, d: String): String = {
    val dir = synchronized {
      val dd = s"/tmp/graft_bm25/${Similarity.dataFingerprint(s"$d/documents.parquet")}" +
        s"_${ProcessHandle.current().pid()}"
      bm25PersistDone -= dd
      val p = new org.apache.hadoop.fs.Path(dd)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      dd
    }
    ensureBm25Index(s, d)
    dir
  }

  /** The lexical serve path with ZERO in-flight index construction AND
    * zero corpus access for scoring: the capped partial and the
    * doc-length sidecar both read back from the landed index; the corpus
    * table supplies only the query batch's text (queries are inputs by
    * definition — production would receive them over the wire). */
  private[graft] def bm25ServePersisted(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dir = ensureBm25Index(s, d)
    bm25ServeWith(bm25Index(s.read.parquet(s"$dir/partial")),
      s.read.parquet(s"$dir/dl"), Tables.documents(s, d))
  }

  /** The ingest-to-serve lexical lifecycle under ONE oracle: the corpus
    * is replayed as a real multi-batch file stream (source split into 4
    * files, one per `AvailableNow` trigger), each micro-batch landed and
    * indexed by [[graft.streaming.StreamBm25Ingest.ingestStep]] (docs
    * shard-partitioned + the batch's impact-capped partial), the landed
    * partials FOLDED by `mergeIndexes` (min-k re-cap — associative — +
    * additive df, behind the batch-disjointness guard), and BM25 served
    * off the folded index. Facing the IDENTICAL DuckDB oracle as
    * [[qBm25TopK]] pins stream-ingest indistinguishable from the
    * single-pass batch build, hash-for-hash — the mergeable-sketch
    * property promoted from spec evidence to a registry gate (the
    * `q_nb_stream_score` discipline). The 4-file split is gate plumbing;
    * production streams are multi-batch by nature. */
  private val bm25StreamRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val qBm25StreamTopK: Q = Q(
    "q_bm25_stream_topk",
    s"""WITH $DuckBm25Ctes
       |SELECT query_id, doc_id, round(CAST(score AS DOUBLE), 4) AS bm25, rank
       |FROM bm25ranked WHERE rank <= $Bm25K""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val pid = ProcessHandle.current().pid()
    val run = bm25StreamRunCounter.incrementAndGet()
    val root = s"/tmp/graft_bm25stream/run_${pid}_$run"
    TmpDirs.reap("/tmp/graft_bm25stream", pid, TmpDirs.runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    val srcDir = s"$root/src"
    val outDir = s"$root/ingested"
    // 4 source files → 4 AvailableNow micro-batches → 4 landed partials
    docs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val q = s.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.streaming.StreamBm25Ingest.ingestStep(batch, outDir, id)
        ()
      }
      .start()
    // a failed or interrupted await leaves no stream running
    try q.awaitTermination() finally if (q.isActive) q.stop()
    val merged = graft.streaming.StreamBm25Ingest.mergeIndexes(s, outDir)
    // decoupled from the run dir (reaped 3 builds later), like
    // q_stream_ann_compact's read-back
    bm25Serve(merged, docs).localCheckpoint()
  }

  /** BM25 deletion — the lexical half of the delete lifecycle, and the
    * index family where deletion CANNOT be a posting filter: the
    * impact-capped partial is not closed under deletion (dropping a
    * top-[[Bm25Cap]] posting must promote a discarded one, which the cap
    * already forgot) and the global stats (N, avgdl, every term's df)
    * all shrink when documents leave — a filtered serve would score the
    * survivors against a corpus that no longer exists. So the
    * stats-correct delete is: tombstone the corpus tree (exact logical
    * delete for any DOCUMENT read via `readCorpusLive`), apply
    * physically at the next generation fold, and REBUILD the capped
    * index from the surviving corpus at that same maintenance cadence —
    * the rebuild is the cost class compaction already pays, and the
    * index build is one tokenize + capped-partial pass (`q_bm25_topk`'s
    * build leg). Gate: land the corpus as three deltas, tombstone
    * doc_id ≡ [[graft.operators.Similarity.DeleteRem]]
    * (mod [[graft.operators.Similarity.DeleteMod]]) — the SAME delete
    * rule as the ANN delete gates — fold, rebuild, serve; the oracle is
    * the stock BM25 chain over the tombstone-filtered corpus, so
    * stats correctness (df/avgdl/N all recomputed over survivors) is
    * hash-checked, not asserted. Queries are the live corpus's first
    * [[Bm25Queries]] docs on both sides. */
  private val bm25DeleteRunCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val qBm25Delete: Q = Q(
    "q_bm25_delete",
    s"""WITH dlive AS (SELECT * FROM documents WHERE NOT (doc_id % ${Similarity.DeleteMod} = ${Similarity.DeleteRem})),
       |${duckBm25Ctes("dlive")}
       |SELECT query_id, doc_id, round(CAST(score AS DOUBLE), 4) AS bm25, rank
       |FROM bm25ranked WHERE rank <= $Bm25K""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val pid = ProcessHandle.current().pid()
    val run = bm25DeleteRunCounter.incrementAndGet()
    val root = s"/tmp/graft_bm25delete/run_${pid}_$run"
    TmpDirs.reap("/tmp/graft_bm25delete", pid, TmpDirs.runPrefixPid,
      reapSamePid = n =>
        n.split('_').lastOption.flatMap(_.toLongOption).exists(_ <= run - 3))
    val corpusDir = s"$root/docs"
    // independent delta landings (distinct batch dirs) PLUS the
    // tombstone landing, all overlapped from driver threads (guide
    // §2.6). The tombstone's watermark is pinned to the highest delta
    // batch id the loop lands (slices - 1) — exactly what the
    // post-landing computed value would be — so the delete covers every
    // slice identically and the only ordering dependency disappears.
    val slices = 3
    Par.units(((0 until slices).map(i => () => {
      graft.streaming.StreamShardRouter.landBatch(
        docs.filter(col("doc_id") % slices === i), corpusDir, i.toLong)
      ()
    }) :+ (() => {
      graft.streaming.DeltaCompact.landTombstones(
        docs.filter(col("doc_id") % Similarity.DeleteMod === Similarity.DeleteRem)
          .select(col("doc_id")), corpusDir, 0L, watermark = Some(slices - 1L))
      ()
    })): _*)
    // maintenance fold: tombstones applied physically, then folded away
    graft.streaming.DeltaCompact.compact(s, corpusDir,
      tombstoneKey = Some("doc_id"))
    val live = graft.streaming.DeltaCompact.readCorpus(s, corpusDir)
      .select(col("doc_id"), col("text"))
    // rebuild-from-survivors: the one deletion rule that keeps the capped
    // index and its global stats exact (see the scaladoc)
    bm25Serve(bm25Index(bm25Partial(bm25Postings(live))), live).localCheckpoint()
  }

  /** BPE tokenizer-merge training as a Spark plan — the first `steps`
    * byte-pair-encoding merges learned from the corpus, the actual
    * algorithm behind GPT/Llama tokenizer vocabularies: count adjacent
    * symbol pairs weighted by word frequency, merge the argmax pair
    * everywhere (greedy left-to-right), repeat. Scale structure: the
    * corpus is touched ONCE (the word-frequency aggregate); every
    * iteration after that runs on the VOCABULARY (words × their symbol
    * count), orders of magnitude smaller — exactly how production BPE
    * trainers work. Each word is represented as `(h)(e)(l)(l)(o)`:
    * per-symbol delimiters make the merge a plain non-overlapping
    * left-to-right string `replace` with identical semantics in Spark
    * and DuckDB (no regex, no lookbehind, no boundary sharing between
    * adjacent matches — `(a)(a)(a)` + merge `a·a` → `(aa)(a)`, the
    * greedy BPE rule). The argmax is rank-deterministic (weight desc,
    * then pair lexicographic) and each best-pair row broadcasts into the
    * next iteration's rewrite. Fixed `steps` keeps the DuckDB oracle an
    * unrolled CTE chain; a production trainer loops with a checkpoint
    * per iteration, same per-step plan. */
  val qBpeMerges: Q = Q(
    "q_bpe_merges",
    """WITH w0 AS (SELECT regexp_replace(word, '(.)', '(\1)', 'g') AS rep,
      |    count(*) AS freq
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |        FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$') AND length(word) BETWEEN 2 AND 20
      |  GROUP BY 1),
      |p1 AS (SELECT syms[i] AS tok_a, syms[i+1] AS tok_b, sum(freq) AS w
      |  FROM (SELECT string_split(substring(rep, 2, length(rep) - 2), ')(') AS syms, freq FROM w0) s,
      |       unnest(range(1, len(syms))) AS r(i) GROUP BY 1, 2),
      |b1 AS (SELECT tok_a, tok_b, w FROM p1 ORDER BY w DESC, tok_a, tok_b LIMIT 1),
      |w1 AS (SELECT replace(rep, '(' || b.tok_a || ')(' || b.tok_b || ')',
      |    '(' || b.tok_a || b.tok_b || ')') AS rep, freq FROM w0, b1 b),
      |p2 AS (SELECT syms[i] AS tok_a, syms[i+1] AS tok_b, sum(freq) AS w
      |  FROM (SELECT string_split(substring(rep, 2, length(rep) - 2), ')(') AS syms, freq FROM w1) s,
      |       unnest(range(1, len(syms))) AS r(i) GROUP BY 1, 2),
      |b2 AS (SELECT tok_a, tok_b, w FROM p2 ORDER BY w DESC, tok_a, tok_b LIMIT 1),
      |w2 AS (SELECT replace(rep, '(' || b.tok_a || ')(' || b.tok_b || ')',
      |    '(' || b.tok_a || b.tok_b || ')') AS rep, freq FROM w1, b2 b),
      |p3 AS (SELECT syms[i] AS tok_a, syms[i+1] AS tok_b, sum(freq) AS w
      |  FROM (SELECT string_split(substring(rep, 2, length(rep) - 2), ')(') AS syms, freq FROM w2) s,
      |       unnest(range(1, len(syms))) AS r(i) GROUP BY 1, 2),
      |b3 AS (SELECT tok_a, tok_b, w FROM p3 ORDER BY w DESC, tok_a, tok_b LIMIT 1)
      |SELECT CAST(1 AS INT) AS step, tok_a, tok_b, CAST(w AS BIGINT) AS freq FROM b1
      |UNION ALL SELECT CAST(2 AS INT), tok_a, tok_b, CAST(w AS BIGINT) FROM b2
      |UNION ALL SELECT CAST(3 AS INT), tok_a, tok_b, CAST(w AS BIGINT) FROM b3""".stripMargin) { (s, d) =>
    bpeMerges(Tables.documents(s, d).select(col("text")), 3)
  }

  /** BPE ENCODE — the apply side of [[qBpeMerges]]'s train side, closing
    * the tokenizer loop: learn the 3 merges from the corpus, then encode
    * every training-eligible word by replaying the merge chain in learned
    * order, and report per-document token accounting (words, BPE tokens,
    * mean tokens/word — the compression the learned vocabulary buys).
    *
    * The learned merge table is a 3-row MODEL: collected to the driver
    * and folded into the encode expression as literals — the same
    * broadcast seat as IVF centroids or a bloom filter, not a data-plane
    * collect. The encode itself is a narrow per-row replace chain (no
    * shuffle until the per-doc aggregate); token count is the `(`
    * delimiter count, avoiding a split→array materialization. At 100 TB
    * the encode pass is scan-bound and the model is O(vocab), exactly how
    * production tokenizers apply. */
  val qBpeEncode: Q = Q(
    "q_bpe_encode", {
      // reuse the training CTE chain (w0..b3), then replay the merges in
      // order over each eligible word and aggregate per document
      val trainSql = qBpeMerges.oracle.get
      val upToB3 = trainSql.substring(0, trainSql.indexOf("SELECT CAST(1 AS INT)")).trim
      s"""$upToB3,
         |ew AS (SELECT doc_id, regexp_replace(word, '(.)', '(\\1)', 'g') AS rep
         |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |        FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]+${"$"}') AND length(word) BETWEEN 2 AND 20),
         |enc AS (SELECT doc_id,
         |    replace(replace(replace(rep,
         |      '(' || b1.tok_a || ')(' || b1.tok_b || ')', '(' || b1.tok_a || b1.tok_b || ')'),
         |      '(' || b2.tok_a || ')(' || b2.tok_b || ')', '(' || b2.tok_a || b2.tok_b || ')'),
         |      '(' || b3.tok_a || ')(' || b3.tok_b || ')', '(' || b3.tok_a || b3.tok_b || ')') AS rep
         |  FROM ew, b1, b2, b3),
         |tok AS (SELECT doc_id,
         |    length(rep) - length(replace(rep, '(', '')) AS n_tok FROM enc)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS avg_tokens_per_word
         |FROM tok GROUP BY doc_id""".stripMargin
    }) { (s, d) =>
    val merges = bpeMerges(Tables.documents(s, d).select(col("text")), 3)
      .orderBy("step").collect()
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(Portable.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")).between(2, 20))
    val encoded = merges.foldLeft(regexp_replace(col("word"), "(.)", "($1)")) {
      (acc, m) =>
        val a = m.getAs[String]("tok_a"); val b = m.getAs[String]("tok_b")
        replace(acc, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    words
      .select(col("doc_id"),
        (length(encoded) - length(replace(encoded, lit("("), lit("")))).as("n_tok"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("n_tok").as("n_tokens"),
        round(sum("n_tok").cast("double") / count(lit(1)), 4).as("avg_tokens_per_word"))
  }

  /** Adjacent-pair weights over `(rep, freq)` words — see [[qBpeMerges]]. */
  private def bpePairs(words: DataFrame): DataFrame =
    words
      .select(col("freq"),
        expr("split(substring(rep, 2, length(rep) - 2), '\\\\)\\\\(')").as("syms"))
      .select(col("freq"), explode(expr(
        "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), (a, b) -> struct(a, b))")).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(sum("freq").as("w"))

  /** First `steps` BPE merges over the corpus — see [[qBpeMerges]]. */
  def bpeMerges(docs: DataFrame, steps: Int): DataFrame = {
    // checkpoint per iteration (r16): the corpus word-frequency aggregate
    // and each step's rewrite used to stay LAZY, so step k's plan
    // re-derived every earlier step from the raw corpus and the final
    // 3-step union held 7 corpus scans; production BPE trainers
    // checkpoint per iteration for exactly this reason (the scaladoc
    // already said so — now the gate does it). The corpus is touched
    // once; each iteration is vocab-sized. Values unchanged (the merge
    // argmax is fully tie-broken), same oracle.
    var words = docs
      .select(explode(Portable.words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")).between(2, 20))
      .groupBy(regexp_replace(col("word"), "(.)", "($1)").as("rep"))
      .agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val out = (1 to steps).map { k =>
      val best = bpePairs(words)
        .orderBy(col("w").desc, col("tok_a"), col("tok_b")).limit(1)
        .localCheckpoint()
      words = words.crossJoin(broadcast(best))
        .select(
          replace(col("rep"),
            concat(lit("("), col("tok_a"), lit(")("), col("tok_b"), lit(")")),
            concat(lit("("), col("tok_a"), col("tok_b"), lit(")"))).as("rep"),
          col("freq"))
        .localCheckpoint()
      best.select(lit(k).as("step"), col("tok_a"), col("tok_b"), col("w").as("freq"))
    }
    out.reduce(_ unionByName _)
  }

  val all: Seq[Q] = Seq(
    qTextStats, qTokenCount, qTokFertility, qQuality, qGopherRules, qLangId, qLangIdEval,
    qFingerprint,
    qDedupExact,
    qHashSample, qTfidfTop, qBm25TopK, qBm25StreamTopK, qBm25Delete, qPiiScrub,
    qTextNormalize, qRepetition,
    qChunkDocs, qBoilerplate, qSourceSample, qCorpusPipeline,
    qStratifiedSample, qBigramLm, qLmScore, qNbSourceScore, qNbStreamScore,
    qNbCalibration,
    qReservoirSample, qReservoirPerKey, qWeightedSample, qTokenBudgetMix, qTemperatureMix,
    qCorpusStats, qPackSequences, qShardAssign, qStreamShardRoute, qReshard,
    qGlobalShuffle,
    qSourceDivergence, qVocabCoverage,
    qSparseCosine, qBpeMerges, qBpeEncode)
}
