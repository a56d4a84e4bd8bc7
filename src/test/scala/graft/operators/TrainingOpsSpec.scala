package graft.operators

import graft.SparkSpec

/** End-to-end checks of the training-data operators over sf0.001, including
  * the properties the DuckDB oracle can't express (IVF recall, LSH near-dup
  * surfacing planted duplicates).
  */
class TrainingOpsSpec extends SparkSpec {

  test("q_knn_ivf recall vs brute force is reasonable on sf0.001") {
    val brute = Similarity.qKnnBrute.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.qKnnIvf.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // 0.67 with the √n-cell Lloyd-trained codebook (0.47 with the round-3
    // fixed stride seeds) — floor at 0.5 to lock the training gain in
    assert(recall >= 0.5, s"IVF recall $recall too low (ivf=${ivf.size}, brute=${brute.size})")
  }

  test("q_knn_lsh recall vs brute force is reasonable on sf0.001") {
    val brute = Similarity.qKnnBrute.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.qKnnLsh.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // 0.67 measured with 8 tables × 8 bits + Hamming-1 multiprobe —
    // parity with the trained IVF codebook, with zero training; same
    // 0.5 floor as the IVF family
    assert(recall >= 0.5, s"LSH recall $recall too low (lsh=${lsh.size}, brute=${brute.size})")
  }

  test("q_knn_ivf2 recall vs brute force is reasonable on sf0.001") {
    val brute = Similarity.qKnnBrute.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Similarity.qKnnIvf2.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = (brute intersect ivf2).size.toDouble / brute.size
    // multi-probe (top-3 super cells, 6 leaves) buys back the recall the
    // greedy hierarchy loses: measured 0.67 here and parity with flat
    // IVF (0.47 vs 0.47) at sf0.1 — same floor as the flat index
    assert(recall >= 0.5, s"IVF2 recall $recall too low (ivf2=${ivf2.size}, brute=${brute.size})")
  }

  test("q_embed_neardup returns pairs sorted by cosine desc") {
    val rows = Similarity.qEmbedNearDup.build(spark, sf).collect()
    assert(rows.nonEmpty, "LSH bucketing produced no candidate pairs")
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("minhash LSH surfaces a planted near-duplicate pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Portable
    // Two near-identical docs (one word changed) + two unrelated ones.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (3L, "totally different content about streaming backpressure and rates"),
      (4L, "yet another unrelated document mentioning parquet and shuffles"))
      .toDF("doc_id", "text")
    val ws = Portable.words(col("text"))
    val sh = docs.select(col("doc_id"), Portable.shingles(ws, col("text"), 3).as("sh"))
    val mh = sh.select(
      col("doc_id") +: (0 until 8).map(i => Portable.minhash(i, col("sh")).as(s"mh$i")): _*)
    val bands = mh.select(
      col("doc_id") +: (0 until 4).map(b =>
        md5(concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).cast("binary"))
          .as(s"band$b")): _*)
    val long = bands.selectExpr(
      "doc_id", "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_id, bhash)")
    val pairs = long.as("a").join(long.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.bhash" === $"b.bhash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted pair not found, got $pairs")
    assert(!pairs.contains((3L, 4L)), s"unrelated docs collided: $pairs")
  }

  test("langid predicts the language of clearly-marked text") {
    import spark.implicits._
    // Build a one-row documents table per language through the real query by
    // pointing at a temp dir — instead, exercise the argmax logic inline.
    val df = Seq(
      (1L, "the cat and the dog of the house is that it was for", "en"),
      (2L, "el la los de que y es en un la los", "es"),
      (3L, "le la les des et est que une dans pour", "fr"),
      (4L, "der die das und ist nicht ein mit auf den", "de"))
      .toDF("doc_id", "text", "lang")
    df.createOrReplaceTempView("unit_docs")
    val out = spark.sql(
      """SELECT doc_id, CASE WHEN s_zh > 0 THEN 'zh'
        |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |  WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS p
        |FROM (SELECT doc_id,
        |  size(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|in|is|that|it|was|for)\\b', 0)) AS s_en,
        |  size(regexp_extract_all(lower(text), '\\b(?:der|die|das|und|ist|nicht|ein|mit|auf|den)\\b', 0)) AS s_de,
        |  size(regexp_extract_all(lower(text), '\\b(?:el|la|los|las|de|que|y|es|en|un)\\b', 0)) AS s_es,
        |  size(regexp_extract_all(lower(text), '\\b(?:le|la|les|des|et|est|que|une|dans|pour)\\b', 0)) AS s_fr,
        |  size(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS s_zh
        |FROM unit_docs)""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "fr", 4L -> "de"))
  }

  test("q_semdedup keeps the centroid-closest member, not the smallest id") {
    // Three colinear vectors b·1.0, b·1.1, b·1.4 — positive scaling never
    // flips a hyperplane sign bit, so all three share one LSH bucket and
    // cluster together. Centroid scale = 1.1667; member 2 (scale 1.1) is
    // closest, so the keeper must be 2 even though the cluster label is 1.
    // Vector 10 points the other way (all sign bits flip) → singleton.
    val b = Array.tabulate(64)(k => math.sin(k + 1).toFloat)
    def scaled(f: Float) = b.map(_ * f)
    withEmbeddings(Seq(
      1L -> scaled(1.0f), 2L -> scaled(1.1f), 3L -> scaled(1.4f),
      10L -> b.map(-_))) { dir =>
      val rows = Similarity.qSemDedup.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows == Map(1L -> ((2L, 3L)), 10L -> ((10L, 1L))), s"got $rows")
    }
  }

  test("q_gopher_rules trips each rule independently") {
    val pass = "the and that have with " + ("word " * 55).trim     // all rules ok
    val short = "the and word"                                     // word count < 50
    val symb = ("# " * 10) + "the and " + ("word " * 48).trim      // 10/60 symbols > 0.1
    val nums = ("123 " * 58) + "the and"                           // 2/60 alpha words < 0.8
    val nostop = ("word " * 60).trim                               // 0 required stopwords
    withDocs(Seq(1L -> pass, 2L -> short, 3L -> symb, 4L -> nums, 5L -> nostop)) { dir =>
      val got = TextAnalysis.qGopherRules.build(spark, dir).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8)))).toMap
      // (word_count_ok, mean_wl_ok, symbol_ok, alpha_ok, stop_ok, passes)
      assert(got(1L) == ((1, 1, 1, 1, 1, 1)), s"pass doc: ${got(1L)}")
      assert(got(2L)._1 == 0 && got(2L)._6 == 0, s"short doc: ${got(2L)}")
      assert(got(3L)._3 == 0 && got(3L)._6 == 0, s"symbol doc: ${got(3L)}")
      assert(got(4L)._4 == 0 && got(4L)._6 == 0, s"numeric doc: ${got(4L)}")
      assert(got(5L)._5 == 0 && got(5L)._6 == 0, s"no-stop doc: ${got(5L)}")
    }
  }

  test("q_vocab_coverage ranks types and accumulates to 1.0") {
    withDocs(Seq((1L, "a a a b b c"))) { dir =>
      val rows = TextAnalysis.qVocabCoverage.build(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        (1, "a", 3L, 0.5), (2, "b", 2L, 0.833333), (3, "c", 1L, 1.0)),
        s"got ${rows.toSeq}")
    }
  }

  test("q_weighted_sample keeps exactly the normalized-quality residue set") {
    import graft.functions.Portable
    // Independent recomputation: min-max normalize the lm scores, apply
    // the residue rule, and require the op's kept set (ids AND keep_prob)
    // to match exactly.
    val scores = TextAnalysis.qLmScore.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    val (mn, mx) = (scores.values.min, scores.values.max)
    val want = scores.flatMap { case (id, sc) =>
      val p = if (mx > mn) (sc - mn) / (mx - mn) else 1.0
      if (Portable.hash60Local(id.toString) % 10000 < math.round(p * 10000))
        Some(id -> BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    val got = TextAnalysis.qWeightedSample.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"got ${got.size} kept, want ${want.size}")
    assert(want.nonEmpty && want.size < scores.size) // a real sample, not all/none
  }

  test("q_minhash_jaccard_est scores the planted pair both ways") {
    // Docs 1/2 share 9 of their 10 3-shingles (intersection 9, union 11),
    // so exact jaccard is round(9/11, 4); the sketch estimate is k-agree/8
    // — not pinned to a value (it is the hash luck the op measures), but
    // it must be positive for a pair that survived banding, and a valid
    // multiple of 1/8.
    withDocs(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (3L, "totally different content about streaming backpressure and rates"),
      (4L, "yet another unrelated document mentioning parquet and shuffles"))) { dir =>
      val rows = Dedup.qMinhashJaccardEst.build(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(rows.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)), s"got ${rows.toSeq}")
      val (_, _, est, exact) = rows.head
      assert(exact == BigDecimal(9.0 / 11).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(est > 0 && est <= 1 && (est * 8).round == est * 8)
    }
  }

  test("q_knn_ivf_pq is consistent with full-corpus ADC on shared pairs") {
    // IVF-PQ scores the SAME asymmetric distance as q_knn_pq_adc, only
    // over a pruned candidate set — so for any (query, neighbor) pair both
    // return, the distance must agree exactly, and pruning 4/√n cells must
    // still retain some of the global ADC top-3.
    def pairs(q: graft.Q) = q.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = pairs(Similarity.qKnnPqAdc)
    val ivfpq = pairs(Similarity.qKnnIvfPq)
    assert(ivfpq.size == full.size && ivfpq.nonEmpty)
    val shared = full.keySet intersect ivfpq.keySet
    assert(shared.nonEmpty, "probed cells retained none of the global ADC top-3")
    shared.foreach { k =>
      assert(full(k) == ivfpq(k), s"adc mismatch at $k: ${full(k)} vs ${ivfpq(k)}")
    }
    // structural: 3 ranked rows per query, distances ascending
    val byQ = Similarity.qKnnIvfPq.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    byQ.values.foreach(ds => assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }))
  }

  test("q_embed_norm_check counts unit vectors and reports the worst deviation") {
    val e1 = Array.tabulate(64)(k => if (k == 0) 1f else 0f)
    withEmbeddings(Seq(1L -> e1, 2L -> e1.map(_ * 2f))) { dir =>
      val r = Similarity.qEmbedNormCheck.build(spark, dir).collect().head
      assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 1L, 1.0)),
        s"got $r")
    }
  }

  test("q_sem_decontam flags a planted paraphrase and ignores orthogonal vectors") {
    // Benchmark vec 1; corpus vec 100 is a scaled copy (cosine 1.0, the
    // planted semantic leak), corpus vec 101 is orthogonal (cosine ~0).
    val b = Array.tabulate(64)(k => math.cos(k + 1).toFloat)
    val orth = Array.tabulate(64)(k => if (k % 2 == 0) b(k + 1) else -b(k - 1))
    withEmbeddings(Seq(
      1L -> b, 100L -> b.map(_ * 0.5f), 101L -> orth)) { dir =>
      val rows = Similarity.qSemDecontam.build(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((100L, 1L, 1.0)), s"got ${rows.toSeq}")
    }
  }

  /** Run `f` on a temp scale-factor dir holding a synthetic embeddings
    * table, so the registered embedding queries run on controlled
    * vectors. */
  private def withEmbeddings[A](rows: Seq[(Long, Array[Float])])(f: String => A): A = {
    import spark.implicits._
    withTempDir("graft-emb") { dir =>
      rows.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      f(dir)
    }
  }

  /** Run `f` on a temp scale-factor dir holding a synthetic documents
    * table, so the real registered queries (which read
    * `dir/documents.parquet`) run on controlled content. */
  private def withDocs[A](rows: Seq[(Long, String)])(f: String => A): A = {
    import spark.implicits._
    withTempDir("graft-docs") { dir =>
      rows.map { case (id, text) => (id, text, "en", "srcA", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      f(dir)
    }
  }

  test("bigram LM table counts hand-checkable bigrams") {
    withDocs(Seq(
      (1L, "a b a b"), // bigrams: "a b" ×2, "b a"
      (2L, "a c"),     // "a c"
      (3L, "x"))) { dir => // "x" is below two words: contributes nothing
      val top = TextAnalysis.qBigramLm.build(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(top.head == (("a b", 2L)), s"got ${top.toSeq}")
      assert(top.toSet == Set(("a b", 2L), ("a c", 1L), ("b a", 1L)))
    }
  }

  test("per-doc LM score matches the closed-form bigram log-probs") {
    withDocs(Seq((1L, "a b a b"), (2L, "a c"), (3L, "x"))) { dir =>
      // counts: "a b"=2, "b a"=1, "a c"=1; contexts: a·=3, b·=1
      val out = TextAnalysis.qLmScore.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val d1 = BigDecimal((2 * math.log(2.0 / 3) + math.log(1.0)) / 3)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(1L) == ((3L, d1)), s"got $out")
      val d2 = BigDecimal(math.log(1.0 / 3))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(2L) == ((1L, d2)), s"got $out")
      assert(!out.contains(3L)) // no bigrams → no score row
    }
  }

  test("q_shard_assign: hash-routed shards are complete, exact, and deterministic") {
    import graft.functions.Portable
    val docs = (1L to 40L).map(id => (id, s"tok$id two three"))
    withDocs(docs) { dir =>
      val rows = TextAnalysis.qShardAssign.build(spark, dir).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // complete: every doc lands in exactly one shard, token/char sums exact
      assert(rows.values.map(_._1).sum === 40L)
      assert(rows.values.map(_._2).sum === 40L * 3)
      assert(rows.values.map(_._3).sum === docs.map(_._2.length.toLong).sum)
      // deterministic: shard counts reproduce the portable hash exactly
      val expected = docs.groupBy(d => (Portable.hash60Local(d._1.toString) % 16).toInt)
        .view.mapValues(_.size.toLong).toMap
      rows.foreach { case (shard, (n, _, _)) =>
        assert(expected(shard) === n, s"shard $shard: got $n want ${expected(shard)}")
      }
    }
  }

  test("q_pack_sequences rolls to a new window when a shard's cumsum crosses 2048") {
    import graft.functions.Portable
    // Three docs of ~1100 tokens each, all in the SAME shard (ids picked by
    // the same portable hash the query shards with): cumulative starts are
    // 0, 1100, 2200 → windows 0, 0, 1.
    val sameShard = Iterator.from(1).map(_.toLong)
      .filter(id => Portable.hash60Local(id.toString) % 16 == 0)
      .take(3).toSeq
    val text = Array.fill(1100)("tok").mkString(" ")
    withDocs(sameShard.map(id => (id, text))) { dir =>
      val rows = TextAnalysis.qPackSequences.build(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(rows == Map(
        (0L, 0L) -> ((2L, 2200L)),  // docs 1+2: starts 0 and 1100, both window 0
        (0L, 1L) -> ((1L, 1100L))), // doc 3: start 2200 → window 1
        s"got $rows (ids=$sameShard)")
    }
  }

  test("q_knn_pq_adc matches a naive ADC reimplementation and tracks exact L2") {
    // Independent oracle: recompute the whole PQ+ADC pipeline naively in
    // Scala (same stride-97 codebook, same min-rank tie-break, same
    // ascending-index subspace folds) and require the Spark plan's top-3
    // per query to match it EXACTLY. Then sanity-check the approximation
    // itself: ADC distance must positively correlate with exact L2 across
    // the corpus. (The sf0.001 embeddings are random gaussian — distances
    // concentrate, so top-3 recall is not a meaningful metric here; the
    // correlation floor pins that ADC orders the space, and the serving
    // pattern is shortlist-then-rerank anyway.)
    val got = Similarity.qKnnPqAdc.build(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getInt(3), r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def sub(v: Array[Double], s: Int) = v.slice(s * 8, s * 8 + 8)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cb = vecs.filter(v => v._1 % 97 == 0 && v._1 < 97 * 16)
      .sortBy(_._1).map(_._2).zipWithIndex
    val codes = vecs.map { case (vid, v) =>
      vid -> (0 until 8).map(s =>
        cb.minBy { case (c, r) => (d2(sub(v, s), sub(c, s)), r) }._2).toArray
    }.toMap
    val queries = vecs.filter(_._1 < 5)
    assert(queries.nonEmpty && got.size == queries.length)
    for ((qid, qv) <- queries) {
      val lut = (0 until 8).map(s => cb.map { case (c, _) => d2(sub(qv, s), sub(c, s)) })
      val adcAll = vecs.filter(_._1 != qid).map { case (vid, v) =>
        (vid, (0 until 8).map(s => lut(s)(codes(vid)(s))).sum, d2(qv, v))
      }
      val want = adcAll.sortBy { case (v, a, _) => (a, v) }.take(3)
        .zipWithIndex.map { case ((v, a, _), i) =>
          (i + 1, v, BigDecimal(a).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSeq
      assert(got(qid) == want, s"query $qid: got ${got(qid)}, want $want")
      val n = adcAll.length
      val (mx, my) = (adcAll.map(_._2).sum / n, adcAll.map(_._3).sum / n)
      val corr = adcAll.map { case (_, a, e) => (a - mx) * (e - my) }.sum /
        (math.sqrt(adcAll.map(t => (t._2 - mx) * (t._2 - mx)).sum) *
          math.sqrt(adcAll.map(t => (t._3 - my) * (t._3 - my)).sum))
      // measured 0.30-0.58 across the 5 queries at sf0.001
      assert(corr >= 0.2, s"query $qid: ADC/exact correlation $corr too low")
    }
  }

  test("q_dedup_keep_best keeps the higher-quality member of a near-dup cluster") {
    // docs 1/2: planted near-dup pair (one word differs — same corpus shape
    // that surfaces via minhash LSH above); doc 2's variant word is a
    // stopword, so its quality (stopword ratio) is strictly higher and
    // keep-best must pick it over the smaller id.
    withDocs(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda the"),
      (3L, "totally different content streaming backpressure rates quantiles"),
      (4L, "yet more unrelated words mentioning parquet shuffles broadcast"))) { dir =>
      val rows = Dedup.qDedupKeepBest.build(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byCluster = rows.map(t => t._1 -> t).toMap
      assert(byCluster(1L) == ((1L, 2L, 2L)),
        s"cluster {1,2} should keep doc 2 (higher quality); got ${rows.toSeq}")
      assert(byCluster(3L) == ((3L, 3L, 1L)))
      assert(byCluster(4L) == ((4L, 4L, 1L)))
      assert(rows.length == 3)
    }
  }

  test("q_dup_span_coverage counts planted shared 8-word spans exactly") {
    // docs 1/2 share exactly their first 8-word window; doc 3 is disjoint;
    // doc 4 is below the window size and must not appear at all.
    withDocs(Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 xx yy"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),
      (4L, "short doc under eight words total"))) { dir =>
      val rows = Dedup.qDupSpanCoverage.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      // doc 1: 3 windows, only [w1..w8] duplicated; doc 2 likewise; doc 3 clean
      assert(rows == Map(
        1L -> ((3L, 1L, 0.3333)),
        2L -> ((3L, 1L, 0.3333)),
        3L -> ((2L, 0L, 0.0))), s"got $rows")
    }
  }

  test("q_dup_span_removal excises exactly the covered words") {
    // same planted corpus as the coverage spec: docs 1/2 share their first
    // 8-word window, so words 1-8 of each are excised and the tails survive
    withDocs(Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 xx yy"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),
      (4L, "short doc under eight words total"))) { dir =>
      val rows = Dedup.qDupSpanRemoval.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      def fp(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
      assert(rows == Map(
        1L -> ((10L, 8L, fp("w9 w10"))),
        2L -> ((10L, 8L, fp("xx yy"))),
        3L -> ((9L, 0L, fp("q1 q2 q3 q4 q5 q6 q7 q8 q9")))), s"got $rows")
    }
  }

  test("q_dup_span_removal empties a fully-duplicated document") {
    val ten = (1 to 10).map("w" + _).mkString(" ")
    withDocs(Seq((1L, ten), (2L, ten))) { dir =>
      val rows = Dedup.qDupSpanRemoval.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
      val emptyFp = org.apache.commons.codec.digest.DigestUtils.md5Hex("")
      assert(rows == Map(1L -> ((10L, emptyFp)), 2L -> ((10L, emptyFp))),
        s"got $rows")
    }
  }

  test("q_incr_dedup agrees with the pair graph restricted to new-vs-historical") {
    // independent definition: a new-batch doc is dup-of-corpus iff the LSH
    // pair generator surfaces a pair linking it to a historical doc
    val pairs = Dedup.qMinhashPairs.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 10 == 0)
      .map(n => n -> pairs.exists { case (a, b) =>
        (a == n && b % 10 != 0) || (b == n && a % 10 != 0)
      }).toMap
    val got = Dedup.qIncrDedup.build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == expected,
      s"mismatch: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    assert(got.valuesIterator.count(identity) > 0,
      "no dup-of-corpus docs at all — planted near-dups should cross the split")
  }

  test("q_knn_rerank recalls most brute-force neighbors and never fakes a cosine") {
    val brute = Similarity.qKnnBrute.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rr = Similarity.qKnnRerank.build(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2), r.getInt(3)))
    val recall = rr.count(t => brute.contains(t._1)).toDouble / brute.size
    // 0.87 with the 32-dim coarse stage at Coarse=50 (0.40 at 16 dims)
    assert(recall >= 0.7, s"two-stage recall $recall too low")
    // exact-rerank cosines must match brute force on every shared pair
    rr.filter(t => brute.contains(t._1)).foreach { case (k, cos, _) =>
      assert(cos == brute(k), s"pair $k: rerank cosine $cos != brute ${brute(k)}")
    }
    val ranks = rr.groupBy(_._1._1).values.map(_.map(_._3).sorted.toSeq)
    assert(ranks.forall(_ == Seq(1, 2, 3)))
  }

  test("sparse cosine: identical docs score 1, disjoint docs never pair") {
    import spark.implicits._
    val docs = Seq((1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "zzz yyy"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosine(docs, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("cos_sim")))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("sparse cosine: partial overlap lands at the hand-computed value") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana cherry"), (2L, "apple banana durian"),
      (3L, "xxx yyy zzz")).toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosine(docs, 0.1).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("cos_sim")))
    // dot = 2·ln(3/2)², norms = 2·ln(3/2)² + ln(3)² → cos ≈ 0.2141
    assert(got.length === 1)
    val (a, b, cos) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(cos > 0.21 && cos < 0.22, s"cos $cos outside hand-computed window")
  }

  test("bpe merges: frequency argmax then merged-symbol pairs, by hand") {
    import spark.implicits._
    // words: abc ×2, abd ×1 → (a,b)=3 wins, then (ab,c)=2, then (ab,d)=1
    val docs = Seq("abc abc abd").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, 3).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("tok_a"),
        r.getAs[String]("tok_b"), r.getAs[Long]("freq"))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1, "a", "b", 3L), (2, "ab", "c", 2L), (3, "ab", "d", 1L)))
  }

  test("bpe merges: greedy left-to-right within a repeated symbol run") {
    import spark.implicits._
    // "aaa": (a,a) counted twice, merged GREEDILY → (aa)(a), so step 2
    // merges (aa, a) — never (a, aa)
    val docs = Seq("aaa").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, 2).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("tok_a"),
        r.getAs[String]("tok_b"), r.getAs[Long]("freq"))).sortBy(_._1)
    assert(got.toSeq === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bpe encode: learned merges compress exactly the trained pairs, by hand") {
    // training corpus "abc abc abd" learns (a,b), (ab,c), (ab,d) — so every
    // word encodes to ONE token (abc -> (ab)(c) -> (abc); abd likewise):
    // 3 words, 3 tokens, 1.0 tokens/word. An untouched word ("xyz" shares
    // no learned pair) stays at one token per character.
    val enc = TextAnalysis.qBpeEncode
    import spark.implicits._
    withTempDir("bpe-enc") { dir =>
      Seq((1L, "abc abc abd"), (2L, "xyz"))
        .toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = enc.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got(1L) === ((3L, 3L, 1.0)), s"trained words must fully merge: ${got(1L)}")
      assert(got(2L) === ((1L, 3L, 3.0)), s"untrained word stays char-split: ${got(2L)}")
    }
  }

  test("incremental index assign: covers exactly the new batch, cells from the frozen index") {
    val rows = Similarity.qKnnIncrAssign.build(spark, sf).collect()
    val emb = graft.Tables.embeddings(spark, sf)
    val batchIds = emb.filter(org.apache.spark.sql.functions.expr("vec_id % 5 = 0"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val labels = emb.select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(rows.map(_.getLong(0)).toSet === batchIds,
      "every new-batch vector assigned exactly once, corpus untouched")
    rows.foreach { r =>
      assert(labels.contains(r.getInt(2)), s"cell outside frozen index: $r")
      val cos = r.getDouble(3)
      assert(cos >= -1.0001 && cos <= 1.0001, s"cosine out of range: $r")
    }
    // the audit flag is exactly (assigned_cell == label) — the synthetic
    // labels are not cosine-coherent, so assert the flag's definition, not
    // a coherence bar
    rows.foreach { r =>
      assert(r.getInt(4) === (if (r.getInt(2) == r.getInt(1)) 1 else 0), s"flag wrong: $r")
    }
  }

  test("naive-bayes source classifier separates disjoint vocabularies perfectly") {
    import spark.implicits._
    withTempDir("nb-src") { dir =>
      // src0 speaks only {alpha beta}, src1 only {gamma delta} — with
      // disjoint vocabularies every llr is decisive and the classifier must
      // get every doc right
      (Seq((1L, "alpha beta alpha", "src0"), (2L, "beta alpha", "src0"),
        (3L, "gamma delta gamma", "src1"), (4L, "delta delta", "src1"))
        .toDF("doc_id", "text", "source"))
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextAnalysis.qNbSourceScore.build(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(3), r.getInt(4)))).toMap
      assert(got.size === 4)
      got.foreach { case (id, (src, score, pred)) =>
        if (src == "src0") assert(score > 0 && pred === 1, s"doc $id: $score")
        else assert(score < 0 && pred === 0, s"doc $id: $score")
      }
    }
  }

  test("dedup cluster-size histogram partitions the corpus exactly") {
    val hist = Dedup.qDedupClusterSizes.build(spark, sf).collect()
    val corpus = graft.Tables.documents(spark, sf).count()
    // every doc is in exactly one cluster: sum(size * n_clusters) == corpus
    assert(hist.map(_.getLong(2)).sum === corpus)
    hist.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1),
        s"n_docs must equal cluster_size * n_clusters: $r")
    }
  }

  test("langid eval: per-label fractions sum to 1 and cover every doc") {
    val rows = TextAnalysis.qLangIdEval.build(spark, sf).collect()
    val corpus = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === corpus)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 0.01, s"$lang fractions sum to $total")
    }
  }

  test("q_global_shuffle: contiguous per-shard positions covering the corpus, deterministic") {
    val rows = TextAnalysis.qGlobalShuffle.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val corpus = graft.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === corpus)
    assert(rows.map(_._1).distinct.length === rows.length, "a doc appears twice")
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val pos = rs.map(_._3).sorted
      assert(pos.head == 1L && pos.last == rs.length.toLong,
        s"shard $shard positions not contiguous 1..${rs.length}")
    }
    val again = TextAnalysis.qGlobalShuffle.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSet === again.toSet, "shuffle order is not deterministic")
  }

  test("q_temperature_mix: shares sum to 1 and the temperature flattens the mix") {
    val rows = TextAnalysis.qTemperatureMix.build(spark, sf).collect()
    assert(rows.length >= 2, "needs at least two sources to mix")
    val nat = rows.map(_.getDouble(2))
    val temp = rows.map(_.getDouble(3))
    assert(math.abs(nat.sum - 1.0) < 0.01, s"nat shares sum to ${nat.sum}")
    assert(math.abs(temp.sum - 1.0) < 0.01, s"temp shares sum to ${temp.sum}")
    // α=0.5 compresses the distribution toward uniform: the biggest source
    // loses share, the smallest gains
    assert(temp.max <= nat.max + 1e-9, "temperature should shrink the max share")
    assert(temp.min >= nat.min - 1e-9, "temperature should grow the min share")
  }

  test("q_cross_source_dups accounts for every LSH candidate pair, order-normalized") {
    val pairs = Dedup.qMinhashPairs.build(spark, sf).count()
    val cells = Dedup.qCrossSourceDups.build(spark, sf).collect()
    assert(cells.map(_.getLong(2)).sum === pairs,
      "matrix cell counts must partition the candidate-pair set")
    cells.foreach(r => assert(r.getString(0) <= r.getString(1),
      s"cell (${r.getString(0)}, ${r.getString(1)}) not order-normalized"))
  }

  test("q_dedup_degree histogram partitions the corpus and counts every pair endpoint twice") {
    val pairs = Dedup.qMinhashPairs.build(spark, sf).count()
    val hist = Dedup.qDedupDegree.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val corpus = graft.Tables.documents(spark, sf).count()
    assert(hist.map(_._2).sum === corpus, "degree histogram must partition the corpus")
    assert(hist.map { case (deg, n) => deg * n }.sum === 2 * pairs,
      "sum of degrees must be twice the pair count")
  }

  test("q_nb_calibration bins cover every scored doc and pos_frac is a fraction") {
    val scored = TextAnalysis.qNbSourceScore.build(spark, sf).count()
    val rows = TextAnalysis.qNbCalibration.build(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === scored, "bins must partition the scored set")
    rows.foreach { r =>
      val frac = r.getDouble(3)
      assert(frac >= 0.0 && frac <= 1.0, s"pos_frac $frac out of range")
      assert(r.getLong(2) <= r.getLong(1), "n_pos cannot exceed n_docs")
    }
  }

  test("q_knn_lsh_capped: recall holds and the cap bounds every posting list") {
    val brute = Similarity.qKnnBrute.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.qKnnLshCapped.build(spark, sf).collect()
    val pairs = capped.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    // 16 ≈ 8× the sf0.001 mean bucket occupancy, so the cap is dormant
    // at this geometry and recall matches the uncapped gate's floor
    val recall = (brute intersect pairs).size.toDouble / brute.size
    assert(recall >= 0.5, s"capped-LSH recall $recall too low")
    // determinism: the min-k survivor rule is a pure function of the data
    val again = Similarity.qKnnLshCapped.build(spark, sf).collect()
    assert(capped.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("lsh posting cap: an overflowing bucket is cut to exactly cap entries") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 64 identical vectors land in the SAME bucket of every table —
    // 8 tables × 64 postings, every bucket 4× over the 16-entry cap
    val vecs = (0L until 64L).map(i => (i, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val capSize = 16
    val cappedCounts = Similarity.lshPostings(vecs)
      .withColumn("prio",
        graft.functions.Portable.hash60(col("neighbor_id").cast("string")))
      .groupBy("tb")
      .agg(graft.functions.GraftFunctions.minK(
        struct(col("prio"), col("neighbor_id")), capSize).as("kept"))
      .select(size(col("kept")).as("n")).collect().map(_.getInt(0))
    assert(cappedCounts.length === 8, "one bucket per table")
    assert(cappedCounts.forall(_ === capSize),
      s"every overflowing bucket must hold exactly $capSize survivors")
  }

  test("q_bm25_topk: ranked lists are well-formed and self-free") {
    val rows = TextAnalysis.qBm25TopK.build(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (qid, rs) =>
      // no self-retrieval, ranks contiguous from 1, scores non-increasing
      assert(rs.forall(_.getLong(1) != qid), s"query $qid retrieved itself")
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to rs.length),
        s"query $qid ranks not contiguous")
      val scores = sorted.map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $qid scores not non-increasing")
    }
    // the near-duplicate planted for the dedup family should dominate
    // somewhere: at least one query's top hit scores well above zero
    assert(rows.filter(_.getInt(3) == 1).exists(_.getDouble(2) > 1.0))
  }

  test("q_knn_filtered: every neighbor shares the query's label, recall holds") {
    import spark.implicits._
    val labels = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.qKnnFiltered.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(labels(nid) == labels(qid),
        s"neighbor $nid label ${labels(nid)} != query $qid label ${labels(qid)}")
    }
    // recall vs exact same-label brute force (500 vectors: cheap here)
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val exact = (0L until 5L).flatMap { qid =>
      emb.keys.filter(n => n != qid && labels(n) == labels(qid)).toSeq
        .map(n => (n, cos(emb(qid), emb(n))))
        .sortBy { case (n, s) => (-s, n) }.take(3).map { case (n, _) => (qid, n) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"filtered-ANN recall $recall below floor")
  }

  test("q_hard_negatives: every neighbor differs in label, recall holds") {
    import spark.implicits._
    val labels = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.qHardNegatives.build(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(labels(nid) != labels(qid),
        s"negative $nid shares query $qid's label ${labels(qid)}")
    }
    // recall vs exact different-label brute force (500 vectors: cheap)
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val exactBest = (0L until 5L).map { qid =>
      qid -> emb.keys.filter(n => n != qid && labels(n) != labels(qid)).toSeq
        .map(n => (n, cos(emb(qid), emb(n))))
        .sortBy { case (n, s) => (-s, n) }.take(3)
    }.toMap
    val exact = exactBest.flatMap { case (qid, best) =>
      best.map { case (n, _) => (qid, n) } }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"hard-negative recall $recall below floor")
    // hardness: each query's mined rank-1 negative scores well above the
    // corpus-wide mean negative similarity — these are HARD negatives
    rows.filter(_.getInt(3) == 1).foreach { r =>
      val qid = r.getLong(0)
      val negs = emb.keys.filter(n => n != qid && labels(n) != labels(qid))
      val mean = negs.map(n => cos(emb(qid), emb(n))).sum / negs.size
      assert(r.getDouble(2) > mean,
        s"query $qid rank-1 negative ${r.getDouble(2)} not above mean $mean")
    }
  }

  test("q_hybrid_rrf: fusion is exactly the RRF of the two input lists") {
    val lex = TextAnalysis.qBm25TopK.build(spark, sf).collect()
      .filter(_.getLong(0) < 5)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val sem = Similarity.qKnnIvf.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    // recompute RRF from the two ranked lists the gate composes
    val expected = (lex.keySet ++ sem.keySet).groupBy(_._1).flatMap {
      case (qid, keys) =>
        keys.toSeq
          .map { k =>
            // per-component round-at-9 BEFORE the sum, as the gate does
            def c(rank: Option[Int]): BigDecimal = rank
              .map(r => BigDecimal(1.0 / (60 + r))
                .setScale(9, BigDecimal.RoundingMode.HALF_UP))
              .getOrElse(BigDecimal(0))
            (k._2, c(lex.get(k)) + c(sem.get(k)))
          }
          .sortBy { case (doc, s) => (-s, doc) }.take(5).zipWithIndex
          .map { case ((doc, _), i) => (qid, doc) -> (i + 1) }
      }
    val got = Similarity.qHybridRrf.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(got === expected)
  }

  test("sparse cosine: df cap drops stopword-ish tokens before pairing") {
    import spark.implicits._
    // "common" appears in 70 docs (df > 64) → dropped; the per-doc unique
    // token is unshared → zero pairs at any threshold
    val docs = (1 to 70).map(i => (i.toLong, s"common uniq$i"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.sparseCosine(docs, 0.0).isEmpty)
  }
}
