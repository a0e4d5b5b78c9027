package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.Inventory

/** Behavior specs for the non-SQL-expressible (rows-only) operators:
  * known-duplicate recovery, ANN sanity, multimodal schema/determinism,
  * and upsert idempotence. */
class OperatorsSpec extends SparkSpec {

  test("minhash LSH recovers all injected exact and near duplicates") {
    // augmented() injects doc_id+100000 as exact copies (0-9) and
    // near-copies (10-19); every such pair must be a candidate.
    val pairs = Dedup.queries("dedup_minhash_lsh")(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 20L).foreach { id =>
      assert(pairs.contains((id, id + 100000)),
        s"doc $id / ${id + 100000} not recovered")
    }
  }

  test("simhash: banded join ≡ brute-force Hamming<=k; exact copies at 0") {
    val out = Dedup.queries("dedup_simhash")(spark, sf0001).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { id =>
      assert(pairs.contains((id, id + 100000)),
        s"exact copy $id not recovered")
    }
    assert(out.forall(_.getAs[Int]("hamming") <= Dedup.SimhashK))
    // Differential vs an exact all-pairs Hamming scan: the banding may
    // lose ONLY pairs whose every shared band landed in a hot
    // (> MaxBucket) bucket — the deliberate skew guard — and must find
    // everything else. The lost-pair audit recomputes shared bands and
    // hotness driver-side from the raw signatures, independent of the
    // query's own banding join.
    val sig = Dedup.simhashSignatures(spark, sf0001)
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= Dedup.SimhashK)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(brute), "banding invented a pair")
    val sigMap = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hot = Dedup.simhashBandRowsOf(sig)
      .groupBy("band_idx", "band_hash").count()
      .filter(col("count") > Dedup.MaxBucket).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    def bandsOf(s: Long): Seq[(Int, Long)] =
      (0 until 4).map(b => (b, (s >>> (b * 16)) & 0xFFFFL))
    val lost = brute -- pairs
    lost.foreach { case (a, b) =>
      val shared = bandsOf(sigMap(a)).intersect(bandsOf(sigMap(b)))
      assert(shared.nonEmpty && shared.forall(hot.contains),
        s"pair ($a,$b) lost without a hot-bucket reason (shared=$shared)")
    }
  }

  test("simhash: 95%-similar near-copies sit beyond k=3 — minhash territory") {
    // Adding 3 suffix tokens to a ~56-token doc gives cosine sim ≈ 0.95,
    // i.e. expected Hamming ≈ arccos(.95)/π · 64 ≈ 6.5 — outside the
    // Manku k=3 envelope by design. Pin the measured distances so a
    // signature regression (e.g. the old 16-bit degenerate version,
    // which collided everything to Hamming 0) is caught.
    val sig = Dedup.simhashSignatures(spark, sf0001)
    val near = sig.as("a").join(sig.as("b"),
        col("b.doc_id") === col("a.doc_id") + 100000 &&
        col("a.doc_id").between(10, 19))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .collect().map(_.getInt(0))
    assert(near.length == 10)
    assert(near.forall(h => h > Dedup.SimhashK && h <= 20),
      s"near-copy Hamming out of expected band: ${near.mkString(",")}")
  }

  test("embedding-cosine near-dup recovers injected exact and perturbed pairs") {
    val out = Dedup.queries("dedup_embedding_cosine")(spark, sf0001).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 20L).foreach { id =>
      assert(pairs.contains((id, id + 100000)),
        s"embedding pair $id / ${id + 100000} not recovered")
    }
    // every reported pair passed the exact verify — no false positives
    assert(out.forall(_.getAs[Double]("cosine") >= Dedup.SrpTau))
    // random (non-injected) pairs at cos<0.5 must not appear
    assert(out.length == 20,
      s"only the 20 injected pairs are >= tau in this corpus, got ${out.length}")
  }

  test("semantic dedup drops exactly the planted copies, with witnesses") {
    val out = Dedup.queries("dedup_semantic")(spark, sf0001).collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(2), r.getDouble(3))).toMap
    // Exact copies (0-9) MUST be pruned: identical vectors assign to
    // identical clusters, so co-location is guaranteed and the witness
    // is the original at cosine 1.0.
    (0L until 10L).foreach { id =>
      val (dupOf, cos) = byId.getOrElse(id + 100000,
        fail(s"planted exact copy ${id + 100000} not pruned"))
      assert(dupOf == id, s"copy ${id + 100000} witnessed by $dupOf, not $id")
      assert(cos == 1.0, s"exact copy cosine $cos != 1.0")
    }
    // Perturbed copies (10-19, cosine ~0.9999) are SemDeDup's
    // documented recall trade: pruning only sees same-cluster pairs,
    // and at 70 vectors / K=32 the tiny clusters can split a
    // near-dup pair across a centroid boundary. Characterize rather
    // than overclaim: most are recovered, and every recovered one is
    // correctly witnessed. (At sf0.01's ~16-vector clusters all 20
    // planted pairs recover — the oracle pins that corpus exactly.)
    val perturbed = (10L until 20L).flatMap(id => byId.get(id + 100000)
      .map(w => (id, w)))
    assert(perturbed.size >= 8,
      s"only ${perturbed.size}/10 perturbed copies recovered")
    perturbed.foreach { case (id, (dupOf, cos)) =>
      assert(dupOf == id, s"copy of $id witnessed by $dupOf")
      assert(cos >= Dedup.SrpTau, s"witness cosine $cos below tau")
    }
    // No original is pruned: random 64-dim vectors never clear tau, so
    // survivors must be exactly the base corpus.
    val falsePos = byId.keySet.filter(_ < 100000L)
    assert(falsePos.isEmpty, s"base docs wrongly pruned: $falsePos")
  }

  test("semantic hot-cluster cap: degenerate cluster dropped, observable") {
    import spark.implicits._
    // 70 identical vectors (one degenerate cluster over the 64 cap
    // used here) plus an identical twin pair in a second cluster —
    // the healthy pair keeps the result non-empty so observe metrics
    // stay reachable (the Dedup.observeCap AQE caveat).
    val a = Seq.fill(64)(1.0f) // family A
    val b = 0.5f +: Seq.fill(63)(0.0f) // family B, far from A
    val vecs = ((0L until 70L).map(i => (i, a)) ++
      Seq((100L, b), (101L, b))).toDF("vec_id", "emb")
    // hand-built centroids: cluster membership must be deterministic
    // for the counts below, so skip k-means entirely
    val cents = Seq((0L, a), (1L, b)).toDF("centroid_id", "cent")
    val out = Dedup.semanticDupes(vecs, cents, Dedup.SrpTau,
      maxCluster = 64, observeName = Some("semcap"))
    val rows = out.collect()
    val m = graft.plans.ObservedMetrics.of(out, "semcap").get
    assert(m.getAs[Long]("dropped_buckets") == 1, m.toString)
    assert(m.getAs[Long]("dropped_band_rows") == 70L, m.toString)
    // capped family emitted nothing; the healthy twin pair survived
    assert(rows.map(_.getLong(0)).toSet == Set(101L),
      s"unexpected rows: ${rows.mkString(",")}")
  }

  test("span stats: whole-doc copies fully duplicated, ratios bounded") {
    val out = Dedup.queries("dedup_span_stats")(spark, sf0001).collect()
    val ratio = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // Exact copies duplicate every shingle of their original (both
    // directions), so both sides sit at ratio 1.0.
    (0L until 10L).foreach { id =>
      assert(ratio(id) == 1.0, s"original $id ratio ${ratio(id)} != 1.0")
      assert(ratio(id + 100000) == 1.0, s"copy ratio != 1.0")
    }
    // Near-copies (suffix appended) share all but the tail shingles.
    (10L until 20L).foreach { id =>
      assert(ratio(id) == 1.0, s"near-copy original $id fully covered")
      assert(ratio(id + 100000) > 0.8 && ratio(id + 100000) < 1.0,
        s"near-copy ratio ${ratio(id + 100000)} out of (0.8, 1.0)")
    }
    out.foreach { r =>
      assert(r.getLong(2) <= r.getInt(1), "dup_grams exceeds n_grams")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("bm25: ranked, descending, and every hit contains a query term") {
    val rows = TextAnalysis.queries("search_bm25_topk")(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.nonEmpty, "bm25 returned no hits on the marker corpus")
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length),
      "ranks not consecutive from 1")
    val scores = rows.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores not non-increasing in rank order")
    val hitIds = rows.map(_.getLong(1)).toSet
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id").isin(hitIds.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase).toMap
    hitIds.foreach { id =>
      assert(Seq("order", "customer", "scan").exists(texts(id).contains),
        s"doc $id scored positive without any query term")
    }
  }

  test("span removal is consistent with contamination flags") {
    import graft.operators.Decontaminate
    val flags = Decontaminate.queries("decontam_ngram")(spark, sf0001)
      .select("doc_id", "contaminated").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rem = Decontaminate.queries("decontam_span_removal")(spark, sf0001)
      .collect()
    rem.foreach { r =>
      val (id, nTok, nRem, clean) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))
      assert(nRem >= 0 && nRem <= nTok, s"doc $id removed $nRem of $nTok")
      // clean-token arithmetic: survivors reassemble exactly
      val cleanTok = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(cleanTok == nTok - nRem,
        s"doc $id clean has $cleanTok tokens, expected ${nTok - nRem}")
      // a doc the flag pass calls clean must lose nothing, and every
      // benchmark doc with >= 8 tokens strips (at least) its own grams
      if (flags(id) == 0) assert(nRem == 0, s"unflagged doc $id lost spans")
      if (id % 17 == 3 && nTok >= 8)
        assert(nRem > 0, s"benchmark doc $id lost nothing")
    }
  }

  test("self span removal: first doc wins, copies strip, suffixes survive") {
    val rows = Dedup.queries("dedup_span_removal")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    rows.foreach { r =>
      val (id, nTok, nRem, clean) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))
      assert(nRem >= 0 && nRem <= nTok, s"doc $id removed $nRem of $nTok")
      val cleanTok = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(cleanTok == nTok - nRem,
        s"doc $id clean has $cleanTok tokens, expected ${nTok - nRem}")
    }
    // The globally smallest doc_id is first-occurrence for every gram
    // it holds — it can never lose a span.
    assert(byId(0L)._2 == 0, "doc 0 lost spans despite being minimal id")
    // Exact copies: every 8-gram first occurs in the base doc, so the
    // whole copy is covered and strips to nothing.
    (0L until 10L).map(_ + 100000).foreach { id =>
      val (nTok, nRem, clean) = byId(id)
      if (nTok >= 8)
        assert(clean.isEmpty && nRem == nTok, s"exact copy $id kept '$clean'")
    }
    // Near-copies: only the grams reaching into the appended suffix are
    // novel, so exactly the three suffix tokens survive.
    (10L until 20L).map(_ + 100000).foreach { id =>
      val (nTok, _, clean) = byId(id)
      if (nTok >= 11)
        assert(clean == "extra suffix tokens",
          s"near copy $id kept '$clean'")
    }
  }

  test("nfc normalize: composes decomposed sequences, identity on ASCII") {
    val rows = TextAnalysis.queries("text_normalize")(spark, sf0001)
      .filter(col("doc_id") >= 1000000L).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(rows.length == 5)
    // decomposed e+acute composes to é: one char shorter, changed
    assert(rows(0) == ((1000001L, "café deco", 1, 9)), s"${rows(0)}")
    // precomposed input is already NFC: unchanged
    assert(rows(1) == ((1000002L, "café deco", 0, 9)), s"${rows(1)}")
    // ring + diaeresis compose; jamo pair composes to one syllable
    assert(rows(2) == ((1000003L, "Ångström", 1, 8)), s"${rows(2)}")
    assert(rows(3) == ((1000004L, "가 jamo", 1, 6)), s"${rows(3)}")
    // NFC (unlike NFKC) preserves the fi ligature
    assert(rows(4) == ((1000005L, "ﬁdelity", 0, 7)), s"${rows(4)}")
    // the ASCII bulk of the corpus is untouched
    val corpus = TextAnalysis.queries("text_normalize")(spark, sf0001)
      .filter(col("doc_id") < 1000000L && col("changed") === 1).count()
    assert(corpus == 0, s"$corpus ASCII docs reported changed")
  }

  test("classifier score: mean-pooled margin, sign-consistent keep flag") {
    val rows = TextAnalysis.queries("text_classifier_score")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, nTok, score, keep) =
        (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))
      // a mean of weights in [-1, 1] stays in [-1, 1]
      assert(score >= -1.0 && score <= 1.0, s"doc $id score $score")
      // keep is the sign of the unrounded margin; the rounded score
      // can only disagree at exactly 0
      if (score > 0) assert(keep == 1, s"doc $id positive score, keep=0")
      if (score < 0) assert(keep == 0, s"doc $id negative score, keep=1")
      if (nTok == 0) assert(score == 0.0 && keep == 1, s"empty doc $id")
    }
    // both classes occur on the real corpus — weights are zero-mean-ish
    assert(rows.exists(_.getInt(3) == 1) && rows.exists(_.getInt(3) == 0),
      "degenerate classifier: single class on the whole corpus")
  }

  test("datacard: one-pass cube covers all four grouping sets exactly") {
    import graft.operators.Curation
    val rows = Curation.queries("corpus_datacard")(spark, sf0001).collect()
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    // columns: source, lang, n_docs, n_chars, avg_chars, gid
    val gid = rows.groupBy(_.getLong(5))
    assert(gid(3L).length == 1 && gid(3L).head.getLong(2) == total,
      "global line wrong")
    assert(gid(0L).map(_.getLong(2)).sum == total, "(source,lang) cells")
    assert(gid(1L).map(_.getLong(2)).sum == total, "per-source lines")
    assert(gid(2L).map(_.getLong(2)).sum == total, "per-lang lines")
    // per-source lines agree with a direct groupBy
    val direct = spark.read.parquet(s"$sf0001/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    gid(1L).foreach { r =>
      assert(r.getLong(2) == direct(r.getString(0)),
        s"source ${r.getString(0)} drifted from direct groupBy")
    }
  }

  test("tfidf keywords: per-doc top-3, ranked and positive") {
    val rows = TextAnalysis.queries("text_tfidf_keywords")(spark, sf0001)
      .collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"doc $id ranks not 1..${sorted.length}")
      assert(sorted.length <= 3)
      val vals = sorted.map(_.getDouble(3))
      assert(vals.forall(_ > 0), s"doc $id non-positive tfidf")
      assert(vals.zip(vals.tail).forall { case (a, b) => a >= b },
        s"doc $id tfidf not descending")
    }
  }

  test("lm logprob: positive, bounded, and rare-token docs score higher") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.queries("text_lm_logprob")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // every nll is positive and below the Laplace floor ln(T+V)
    // (the cost of an unseen token) — anything outside is a math bug
    val docs = Tables.load(spark, sf0001, "documents")
    val t = docs.select(explode(split(lower(col("text")), "\\s+")))
      .count().toDouble
    rows.foreach { case (id, n, nll) =>
      assert(n > 0 && nll > 0 && nll < math.log(t + 1000.0),
        s"doc $id nll=$nll out of range")
    }
    // docs whose tokens skew rare must score above the corpus median:
    // take the doc with the rarest average token frequency vs the
    // most common one — order must agree with nll
    val nllById = rows.map(r => r._1 -> r._3).toMap
    val meanFreq = docs
      .select(col("doc_id"), explode(
        split(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          "\\s+")).as("tk"))
      .filter(length(col("tk")) > 0)
      .groupBy("doc_id", "tk").count()
      .groupBy("tk").agg(sum("count").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // correlation proxy: the 10 docs with highest nll should have a
    // lower mean corpus-frequency of their tokens than the 10 lowest
    def avgFreq(id: Long): Double = {
      val toks = docs.filter(col("doc_id") === id)
        .select(explode(split(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), "\\s+")).as("tk"))
        .filter(length(col("tk")) > 0)
        .collect().map(_.getString(0))
      if (toks.isEmpty) 0.0
      else toks.map(t0 => meanFreq.getOrElse(t0, 0L).toDouble).sum / toks.length
    }
    val sorted = rows.sortBy(_._3)
    val lowNll = sorted.take(5).map(r => avgFreq(r._1))
    val highNll = sorted.takeRight(5).map(r => avgFreq(r._1))
    assert(lowNll.sum / 5 > highNll.sum / 5,
      s"nll does not track token rarity: low=${lowNll.sum / 5} high=${highNll.sum / 5}")
    assert(nllById.size == rows.length)
  }

  test("bpe training: monotone merge counts and boundary-guarded replace") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = TextAnalysis.queries("bpe_train_merges")(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // each round's winning count can never exceed the previous
    // round's (the previous max dominates all surviving pairs, and
    // new pairs are bounded by the merged symbol's occurrence count)
    val cnts = rows.map(_.getLong(3))
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y }, cnts.toSeq)
    rows.foreach { r =>
      assert(r.getString(2) == r.getString(1).replace(" ", ""),
        "merged symbol != concatenated pair")
    }
    // the space-encoding semantics the query relies on, pinned directly:
    def applyMerge(sym: String, a: String, b: String): String =
      Seq(sym).toDF("sym").select(trim(replace(
        concat(lit(" "), col("sym"), lit(" ")),
        lit(s" $a  $b "), lit(s" $a$b "))).as("m"))
        .collect().head.getString(0)
    // consecutive occurrences each merge (the greedy fold semantics)
    assert(applyMerge("a  b  a  b", "a", "b") == "ab  ab")
    // tripled symbol: leftmost pair wins, remainder survives
    assert(applyMerge("a  a  a", "a", "a") == "aa  a")
    // the guard space must keep a pattern from matching INSIDE a
    // larger symbol ('xa' ends in 'a' but is not the symbol 'a')
    assert(applyMerge("xa  b", "a", "b") == "xa  b")
  }

  test("bpe encode: reversible, applies trained merges, shrinks symbol counts") {
    val merges = TextAnalysis.queries("bpe_train_merges")(spark, sf0001)
      .collect().map(_.getString(2)).toSet
    val rows = TextAnalysis.queries("text_bpe_encode")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (w, n, syms) =>
      val parts = syms.split('|')
      assert(parts.length == n)
      assert(parts.mkString == w, s"'$w' not reconstructible from '$syms'")
    }
    // at least one word actually uses a trained merge (multi-char symbol)
    val merged = rows.flatMap(_._3.split('|')).filter(_.length > 1).toSet
    assert(merged.nonEmpty && merged.subsetOf(
      // multi-char symbols can only be (possibly stacked) merges
      merges ++ merges.flatMap(m => merges.map(m + _)) ++
        merges.flatMap(m => merges.map(_ + m))),
      s"unexpected multi-char symbols: ${merged -- merges}")
  }

  test("bpe pair counts: word bigrams, descending, ranked") {
    val rows = TextAnalysis.queries("bpe_pair_counts")(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getString(1).split(" ").length == 2,
      s"'${r.getString(1)}' is not a bigram"))
  }

  test("exact dedup groups each injected copy with its original") {
    val dups = Dedup.queries("dedup_exact")(spark, sf0001)
      .filter(col("n_copies") >= 2)
    assert(dups.count() == 10) // exactly the 10 injected exact copies
    assert(dups.filter(col("keep_doc_id") < 10).count() == 10)
  }

  test("ngram jaccard: exact copies = 1.0, near copies < 1.0 but high") {
    val rows = Dedup.queries("dedup_ngram_jaccard")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Double]("jaccard")))
    val (exact, near) = rows.partition(_._1 < 10)
    assert(exact.forall(_._2 == 1.0))
    assert(near.forall { case (_, j) => j > 0.5 && j < 1.0 })
  }

  test("ivf top-k: self-bucket probing finds high-similarity neighbors") {
    val ivf = Similarity.queries("sim_ivf_topk")(spark, sf0001)
    val exact = Similarity.queries("sim_ann_topk")(spark, sf0001)
    assert(ivf.groupBy("qid").count().count() == 10)
    // rank-1 of IVF must be in the exact top-5 (nprobe=2 of 8 buckets)
    val ivfTop = ivf.filter(col("rank") === 1)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop = exact.select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfTop.intersect(exactTop).size >= 8,
      s"IVF rank-1 should usually appear in the exact top-5: $ivfTop")
  }

  test("ivf recall@5 curve: monotone in nprobe, exact at nprobe=K") {
    // The quality knob characterized, not just smoke-bounded: sweep
    // nprobe over the nested probe sets and assert the whole curve.
    // Monotonicity is a THEOREM here (probe sets are nested; a
    // global-top-5 member in the probed set always survives — see
    // Similarity.ivfTopK scaladoc), so any dip is a routing bug, and
    // nprobe=K probes the whole corpus so recall must be exactly 1.
    val exact = Similarity.queries("sim_ann_topk")(spark, sf0001)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.centroids(e).persist()
    try {
      val curve = Seq(1, 2, 4, 8).map { p =>
        val got = Similarity.ivfTopK(e, cents, nprobe = p, topK = 5)
          .select("qid", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        p -> got.intersect(exact).size.toDouble / exact.size
      }
      info(curve.map { case (p, r) => f"nprobe=$p recall@5=$r%.2f" }
        .mkString(", "))
      curve.sliding(2).foreach {
        case Seq((pa, ra), (pb, rb)) =>
          assert(rb >= ra,
            f"recall dipped $ra%.2f@$pa -> $rb%.2f@$pb (non-nested probes?)")
        case _ =>
      }
      assert(curve.last._2 == 1.0,
        f"nprobe=K probes every bucket; recall ${curve.last._2}%.2f != 1")
      // the declared operating point (nprobe=2, what sim_ivf_topk runs):
      // measured 0.52 on the sf0.001 corpus — roughly 2x the nprobe/K
      // chance floor (0.25), which is what IVF buys on near-uniform
      // synthetic vectors; real clustered embeddings sit far higher.
      // Bound kept below the measurement so testdata drift can't flake.
      val r2 = curve.find(_._1 == 2).get._2
      assert(r2 >= 0.4, f"operating-point recall@5 $r2%.2f under bound 0.4")
    } finally cents.unpersist()
  }

  test("pq: codes well-formed and deterministic, ADC recall clears bound") {
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cb = Similarity.pqCodebook(e)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.flatten.forall(_.length == 8))
    // deterministic codebook + encoding: a rebuild is bit-identical
    val cb2 = Similarity.pqCodebook(e)
    assert(cb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
    val codes = Similarity.pqEncode(e, cb)
    val codeRows = codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codeRows.values.forall(cs =>
      cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
    assert(Similarity.pqEncode(e, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap == codeRows)
    // ADC recall@5 against exact squared-L2 ground truth, computed
    // here in plain Scala (500 vectors, 10 queries)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val exact = (0L until 10L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, l2(vecs(q), v)) }
        .sortBy { case (id, dd) => (dd, id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet
    val pq = Similarity.pqTopK(e, codes, cb, topK = 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    info(f"PQ shortlist+rerank recall@5 (M=8, K=16, shortlist=50): $recall%.2f")
    // Bounds below the measurements so testdata drift can't flake; a
    // real regression (scrambled codes / LUT indexing) lands near the
    // random floor (50/499 for the shortlist stage). The re-ranked
    // recall IS the shortlist-stage recall: re-ranking is exact, so a
    // true top-5 member survives iff ADC put it in the top-50 — which
    // is also why the final recall is much higher than raw ADC top-5
    // (0.12 measured): the shortlist only needs ADC to be roughly
    // right, not rank-exact.
    assert(recall >= 0.5, f"recall@5 $recall%.2f under bound 0.5")
    // and re-ranked distances are exact: rank-1 of a query whose true
    // nearest survived the shortlist must BE the true nearest
    val pqTop1 = Similarity.pqTopK(e, codes, cb, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactTop1 = (0L until 10L).map { q =>
      val (id, _) = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, l2(vecs(q), v)) }
        .minBy { case (id, dd) => (dd, id) }
      (q, id)
    }.toSet
    val top1Hits = pqTop1.intersect(exactTop1).size
    info(s"PQ rank-1 exact hits: $top1Hits/10")
    assert(top1Hits >= 5, s"only $top1Hits/10 rank-1 hits")
  }

  test("ivfpq: composed probe + ADC + rerank recall clears bound") {
    graft.functions.CosineSimF32.register(spark) // assignBuckets' kernel
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.centroids(e)
    val cb = Similarity.pqCodebook(e)
    val codes = Similarity.pqEncode(e, cb)
    val got = Similarity.ivfPqTopK(e, cents, cb, codes, nprobe = 2, topK = 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.groupBy(_._1).size == 10 && got.size == 50)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val exact = (0L until 10L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, l2(vecs(q), v)) }
        .sortBy { case (id, dd) => (dd, id) }.take(5)
        .map { case (id, _) => (q, id) }
    }.toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(f"IVFPQ recall@5 (nprobe=2/8, shortlist=50): $recall%.2f")
    // compounded stages (IVF probe miss x PQ shortlist miss) sit below
    // either stage alone by construction; the bound is above the
    // random floor (~0.02 for 125-candidate pools) and below the
    // measurement so testdata drift can't flake
    assert(recall >= 0.25, f"recall@5 $recall%.2f under bound 0.25")
  }

  test("ivf materialized index: probe prunes partitions, results match inline") {
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.writeIvfIndex(spark, sf0001, idx)
    val probed = Similarity.probeIvfIndex(spark, sf0001, idx)
    // The index scan must carry a non-empty PartitionFilters on bucket
    // (AQE wraps the plan, so assert on the rendered scan node).
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"no partition filter on bucket in:\n$plan")
    // same answer as the inline (non-materialized) IVF path
    val inline = Similarity.queries("sim_ivf_topk")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(probed.collect().map(_.toSeq).toSet == inline)
  }

  test("filtered probe on the materialized index equals the inline filtered path") {
    val idx = java.nio.file.Files.createTempDirectory("ivf_fidx").toString
    Similarity.writeIvfIndex(spark, sf0001, idx)
    val probed = Similarity.probeIvfIndexWhere(spark, sf0001, idx,
      col("label") === 1)
    // bucket pruning still engages under the semi join
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"no partition filter on bucket in:\n$plan")
    // same answer as the inline filtered path under the index's own
    // sidecar centroids
    val cents = spark.read.parquet(Similarity.centroidsPathOf(idx))
    val e = Tables.load(spark, sf0001, "embeddings")
    val inline = Similarity.ivfTopKWhere(e, cents, col("label") === 1,
      nprobe = 2, topK = 5).collect().map(_.toSeq).toSet
    assert(probed.collect().map(_.toSeq).toSet == inline)
  }

  test("ivf append: delta under sidecar centroids, probe equals one-shot; crash + fold safe") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ivfapp")
      .toString
    val idxA = s"$work/idxA"
    val idxB = s"$work/idxB"
    Similarity.writeIvfIndex(spark, sf0001, idxA) // one shot, centroids C
    // idxB: the SAME centroids, corpus arriving in three waves under
    // the GenStore marker protocol
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = spark.read.parquet(Similarity.centroidsPathOf(idxA))
    cents.write.mode("overwrite")
      .parquet(Similarity.centroidsPathOf(idxB))
    graft.operators.GenStore.ingest(spark, idxB,
      Similarity.gensPathOf(idxB), 0L,
      Similarity.assignBuckets(
        e.filter(col("vec_id") < 300)
          .select(col("vec_id").as("cid"), col("embedding").as("ce")),
        "cid", "ce", cents),
      Seq("bucket"), Seq((300L, 0L)).toDF("n_vecs", "ingest_batch"))
    Similarity.appendIvfIndex(spark, idxB,
      e.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    Similarity.appendIvfIndex(spark, idxB,
      e.filter(col("vec_id") >= 400), "vec_id", "embedding")

    def probe(p: String) = Similarity.probeIvfIndex(spark, sf0001, p)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val oneShot = probe(idxA)
    assert(probe(idxB) == oneShot,
      "probe results differ between appended and one-shot index")
    // a crashed append (vectors landed, no marker) is invisible
    Similarity.assignBuckets(
        e.filter(col("vec_id") < 50) // junk re-ingest of existing ids
          .select(col("vec_id").as("cid"), col("embedding").as("ce")),
        "cid", "ce", cents)
      .withColumn("ingest_batch", lit(99L))
      .write.mode("append").partitionBy("ingest_batch", "bucket")
      .parquet(idxB)
    assert(probe(idxB) == oneShot,
      "probe scored an append with no commit marker")
    // compaction folds generations and changes nothing a probe sees
    assert(Similarity.compactIvfIndex(spark, idxB, maxPartials = 1))
    assert(probe(idxB) == oneShot, "fold changed probe results")
    val gens = spark.read.parquet(Similarity.gensPathOf(idxB))
      .select(col("ingest_batch").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(gens == Set(-1L), s"generations not folded: $gens")
  }

  test("ivf as-of probe reproduces past snapshots; folds bound history") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ivfasof")
      .toString
    val idx = s"$work/idx"
    val tmp = s"$work/seed"
    Similarity.writeIvfIndex(spark, sf0001, tmp) // borrow its centroids
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = spark.read.parquet(Similarity.centroidsPathOf(tmp))
    cents.write.mode("overwrite")
      .parquet(Similarity.centroidsPathOf(idx))
    graft.operators.GenStore.ingest(spark, idx,
      Similarity.gensPathOf(idx), 0L,
      Similarity.assignBuckets(
        e.filter(col("vec_id") < 300)
          .select(col("vec_id").as("cid"), col("embedding").as("ce")),
        "cid", "ce", cents),
      Seq("bucket"), Seq((300L, 0L)).toDF("n_vecs", "ingest_batch"))
    def probe() = Similarity.probeIvfIndex(spark, sf0001, idx)
      .collect().map(_.toSeq).toSet
    def probeAsOf(g: Long) =
      Similarity.probeIvfIndexAsOf(spark, sf0001, idx, g)
        .collect().map(_.toSeq).toSet
    val snap0 = probe()
    Similarity.appendIvfIndex(spark, idx,
      e.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    val snap1 = probe()
    Similarity.appendIvfIndex(spark, idx,
      e.filter(col("vec_id") >= 400), "vec_id", "embedding")
    val head = probe()
    assert(probeAsOf(0) == snap0, "asOf(0) diverged from the gen-0 head")
    assert(probeAsOf(1) == snap1, "asOf(1) diverged from the gen-1 head")
    assert(probeAsOf(2) == head, "asOf(head) diverged from the live probe")
    assert(snap0 != head, "fixture too weak: appends did not change top-k")
    // fold: head survives, base snapshot == folded head, history gone
    assert(Similarity.compactIvfIndex(spark, idx, maxPartials = 1))
    assert(probe() == head, "fold changed the served index")
    assert(probeAsOf(-1L) == head,
      "the post-fold base snapshot IS the folded head")
    intercept[IllegalArgumentException](probeAsOf(-2L))
  }

  test("ivfpq materialized index: probe prunes partitions, matches inline") {
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.writeIvfPqIndex(spark, sf0001, s"$idx/pq")
    val probed = Similarity.probeIvfPqIndex(spark, sf0001, s"$idx/pq")
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findFirstIn(plan).isDefined,
      s"no partition filter on bucket in:\n$plan")
    // deterministic derivations → the materialized probe must equal the
    // inline composed query exactly
    val inline = Similarity.queries("sim_ivfpq_topk")(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(probed.collect().map(_.toSeq).toSet == inline)
  }

  test("multimodal pipeline: schema, byte-level plumbing, determinism") {
    val out = Multimodal.queries("multimodal_pipeline")(spark, sf0001)
    assert(out.columns.toSeq == Seq("media_id", "byte_len", "content_hash",
      "origin", "mean_luma", "width", "height", "frame_hashes"))
    val r1 = out.orderBy("media_id").limit(5).collect()
    val r2 = Multimodal.queries("multimodal_pipeline")(spark, sf0001)
      .orderBy("media_id").limit(5).collect()
    assert(r1.sameElements(r2), "stub decode must be deterministic")
    assert(r1.forall(_.getAs[Int]("byte_len") > 0))
  }

  test("mapPartitions decode seam == expression-path features") {
    import spark.implicits._
    val media = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "utf-8").as("payload"))
      .as[Multimodal.MediaIn]
    val seam = Multimodal.decodePartitions(media)
      .collect().map(f => f.media_id ->
        (f.byte_len, f.mean_luma, f.width, f.height)).toMap
    val exprPath = Multimodal.queries("multimodal_pipeline")(spark, sf0001)
      .select("media_id", "byte_len", "mean_luma", "width", "height")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getInt(4))).toMap
    assert(seam == exprPath,
      "batch seam must produce the expression path's exact features")
  }

  test("png payloads decode to true dimensions and mean luma") {
    import spark.implicits._
    // 8×6: top three rows pure white (luma 1.0), bottom three pure
    // black (luma 0.0) → mean luma exactly 0.5
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 6).foreach(y => (0 until 8).foreach(x =>
      img.setRGB(x, y, if (y < 3) 0xFFFFFF else 0x000000)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    // mixed-modality batch: one real PNG next to a text payload
    val media = Seq(
      Multimodal.MediaIn(1L, png),
      Multimodal.MediaIn(2L, "just text bytes".getBytes("UTF-8")))
      .toDS()
    val out = Multimodal.decodePartitions(media).collect()
      .map(f => f.media_id -> f).toMap
    val p = out(1L)
    assert((p.width, p.height) == (8, 6), s"decoded ${p.width}x${p.height}")
    assert(math.abs(p.mean_luma - 0.5) < 1e-9, s"mean_luma ${p.mean_luma}")
    assert(p.byte_len == png.length)
    // the text payload stays on the deterministic stub path
    val t = out(2L)
    assert((t.width, t.height) ==
      (t.byte_len % 640, t.byte_len % 480))
    // a corrupt PNG (magic intact, body truncated) falls back to the
    // stub instead of failing the partition
    val corrupt = Multimodal.decodePartitions(
      Seq(Multimodal.MediaIn(3L, png.take(12))).toDS()).collect().head
    assert(corrupt.byte_len == 12)
  }

  test("jpeg/gif/bmp payloads decode through the same seam") {
    import spark.implicits._
    // 10×4 mid-gray: a flat field survives JPEG's lossy round-trip
    // with only quantization error, so luma stays assertable
    val img = new java.awt.image.BufferedImage(10, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(y => (0 until 10).foreach(x =>
      img.setRGB(x, y, 0x808080)))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val media = Seq("jpg", "gif", "bmp").zipWithIndex.map { case (f, i) =>
      Multimodal.MediaIn(i.toLong, enc(f))
    }.toDS()
    val out = Multimodal.decodePartitions(media).collect()
    assert(out.length == 3)
    out.foreach { f =>
      assert((f.width, f.height) == (10, 4),
        s"media ${f.media_id} decoded ${f.width}x${f.height}")
      // 0x80/255 ≈ 0.5020; JPEG quantization moves a flat field by
      // well under 2% — and GIF/BMP are lossless
      assert(math.abs(f.mean_luma - 128.0 / 255.0) < 0.02,
        s"media ${f.media_id} mean_luma ${f.mean_luma}")
    }
  }

  test("resize seam: ≤ target bytes, deterministic, identity when small") {
    import spark.implicits._
    val media = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "utf-8").as("payload"))
      .as[Multimodal.MediaIn]
    val target = 64
    val r1 = Multimodal.resizePartitions(media, target).collect()
      .map(m => m.media_id -> m.payload.toSeq).toMap
    // bounded output, binary stays binary
    assert(r1.values.forall(_.length <= target))
    // deterministic across runs
    val r2 = Multimodal.resizePartitions(media, target).collect()
      .map(m => m.media_id -> m.payload.toSeq).toMap
    assert(r1 == r2)
    // identity when the payload is already within target
    val lens = media.collect().map(m => m.media_id -> m.payload.length).toMap
    val small = lens.filter(_._2 <= target).keySet
    val origs = media.collect().map(m => m.media_id -> m.payload.toSeq).toMap
    assert(small.forall(id => r1(id) == origs(id)),
      "payloads already within target must pass through unchanged")
    // larger payloads hit the target exactly (stride resample)
    assert(lens.filter(_._2 > target).keySet
      .forall(id => r1(id).length == target))
  }

  test("image resize: real rescale, true dims, decode round-trip") {
    import spark.implicits._
    // 100×40 horizontal white→black gradient (mean luma ≈ 0.5):
    // asymmetric so the aspect-preserving scale is observable
    val img = new java.awt.image.BufferedImage(100, 40,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 40).foreach { y =>
      (0 until 100).foreach { x =>
        val v = 255 - (x * 255 / 99)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    // small PNG already inside the box: must pass through byte-identical
    val tiny = {
      val t = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(t, "png", b)
      b.toByteArray
    }
    val media = Seq(
      Multimodal.MediaIn(1L, png),
      Multimodal.MediaIn(2L, tiny),
      Multimodal.MediaIn(3L, "text payload stays on the stub".getBytes("UTF-8")))
      .toDS()
    val out = Multimodal.resizePartitions(media, targetBytes = 16, maxDim = 32)
      .collect().map(m => m.media_id -> m).toMap
    // real rescale: longest side = 32, aspect preserved (40*32/100 → 13)
    val r = out(1L)
    assert((r.width, r.height) == (32, 13), s"resized ${r.width}x${r.height}")
    // the output is a REAL PNG: decode it back and get the same dims
    val round = Multimodal.decodeOne(Multimodal.MediaIn(1L, r.payload))
    assert((round.width, round.height) == (32, 13),
      s"round-trip decoded ${round.width}x${round.height}")
    // bilinear resample of a linear gradient keeps the mean ≈ 0.5
    assert(math.abs(round.mean_luma - 0.5) < 0.05,
      s"round-trip mean_luma ${round.mean_luma}")
    // already-small image: byte-identical pass-through with true dims
    assert(out(2L).payload.sameElements(tiny))
    assert((out(2L).width, out(2L).height) == (8, 6))
    // non-image payload keeps the stride stub contract (≤ targetBytes)
    assert(out(3L).payload.length <= 16)
    // deterministic across runs (PNG encoder + bilinear are stable)
    val again = Multimodal.resizePartitions(media, 16, 32).collect()
      .map(m => m.media_id -> m.payload.toSeq).toMap
    assert(again == out.view.mapValues(_.payload.toSeq).toMap)
  }

  test("hot-bucket cap telemetry: dropped buckets/rows observable") {
    import spark.implicits._
    // 70 byte-identical docs: one signature, so each of the 4 bands has
    // a 70-member bucket — over the 64 cap → all 4 buckets dropped. The
    // twins keep the result NON-empty: with an all-empty result AQE
    // collapses the plan and observe metrics are unreachable (the
    // caveat on Dedup.observeCap; the unconditional path is asserted
    // below).
    val clones = (0 until 70).map(i =>
      (i.toLong, "the same degenerate text shared by every clone document"))
    val twins = Seq(
      (100L, "twin text that appears exactly twice in this corpus"),
      (101L, "twin text that appears exactly twice in this corpus"))
    val distinct = (200 until 203).map(i =>
      (i.toLong, s"unique document number $i with its own vocabulary"))
    val docsDf = (clones ++ twins ++ distinct).toDF("doc_id", "text")
    val sig = Dedup.minhashSignaturesFor(docsDf, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sig, observeName = Some("cap_probe"))
    val rows = pairs.collect()
    // the metrics ride the plan's own bucket-count aggregation
    // (Dataset.observe), populated by the collect() above; read via
    // the AQE-robust collector
    val m = graft.plans.ObservedMetrics.of(pairs, "cap_probe").get
    assert(m.getAs[Long]("dropped_buckets") == 4, m.toString)
    assert(m.getAs[Long]("dropped_band_rows") == 4L * 70, m.toString)
    // the capped family's pairs were NOT emitted; the healthy twins were
    assert(!rows.exists(r => r.getLong(0) < 70 && r.getLong(1) < 70))
    assert(rows.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L))
    // unconditional diagnostic: exact dropped buckets even when the
    // candidate run's own result would be empty (all-clones corpus)
    val dropped = Dedup.lshDroppedBuckets(
      Dedup.minhashSignaturesFor(clones.toDF("doc_id", "text"),
        "doc_id", "text")).collect()
    assert(dropped.length == 4)
    assert(dropped.forall(_.getAs[Long]("bucket_n") == 70L))
  }

  test("upsert is idempotent: applying the stage twice changes nothing") {
    val once = Inventory.queries("j12_upsert")(spark, sf0001)
    // re-apply: treat `once` as existing, same stage rows anti-joined in
    val stage = once.filter(col("src") === "stage")
    val again = once.unionByName(
      stage.join(once.select("fact_uid"), Seq("fact_uid"), "left_anti"))
    assert(again.count() == once.count())
    assert(once.select("fact_uid").distinct().count() == once.count(),
      "fact_uid unique after upsert")
  }

  test("filtered ANN: exact top-k over the predicate subset at nprobe=K") {
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val cents = Similarity.centroids(
      e.select(col("vec_id"), col("embedding"))).persist()
    try {
      // nprobe = K probes every bucket, so the filtered IVF result
      // must EQUAL brute-force top-5 over the label=1 subset
      val got = Similarity.ivfTopKWhere(e, cents, col("label") === 1,
          nprobe = 8, topK = 5)
        .select("qid", "cid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val labelSet = e.filter(col("label") === 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got.forall { case (_, cid, _) => labelSet(cid) },
        "a candidate escaped the predicate")
      // the strong property, directly: for each query, the returned
      // candidates are exactly the top-5 highest-cosine label-1
      // vectors (ground truth computed driver-side on this bounded
      // fixture — a post-filtering implementation would return the
      // label-1 SUBSET of the unfiltered top-5 instead and fail here)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.filter(col("label") === 1)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val qv = q.collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
      val cv = c.collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        dp / (math.sqrt(na) * math.sqrt(nb))
      }
      qv.foreach { case (qid, qe) =>
        val want = cv.toSeq.filter(_._1 != qid)
          .map { case (cid, ce) => (cid, cos(qe, ce)) }
          .sortBy { case (cid, s) => (-s, cid) }.take(5).map(_._1).toSet
        val gotQ = got.filter(_._1 == qid).map(_._2)
        assert(gotQ == want, s"query $qid: $gotQ != $want")
      }
    } finally cents.unpersist()
  }

  /** Driver-side exact kNN over the sf0.001 embeddings: cosine in
    * index-order double math (the kernel/oracle parenthesization),
    * ties to the lowest candidate id — an implementation fully
    * independent of the Spark plans it checks. */
  private def bruteKnn(k: Int): Map[Long, Seq[Long]] = {
    val rows = Tables.load(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.map { case (vid, v) =>
      vid -> rows.filter(_._1 != vid)
        .map { case (cid, c) => (cid, cos(v, c)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(k).map(_._1).toSeq
    }.toMap
  }

  test("knn graph: exact 3-NN at nprobe=K, bounded + self-free at the operating point") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val cents = Similarity.centroids(e).persist()
    try {
      val exact = bruteKnn(3)
      // nprobe = K probes every bucket -> the candidate set is the
      // whole corpus and the graph must EQUAL the brute-force 3-NN
      // graph, rank for rank
      val full = Similarity.knnGraph(e, cents, nprobe = 8, k = 3)
        .select("vec_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
      val want = exact.flatMap { case (v, ns) =>
        ns.zipWithIndex.map { case (n, i) => (v, i + 1) -> n }
      }
      assert(full == want,
        s"nprobe=K graph != brute force (${full.size} vs ${want.size} edges)")
      // operating point: per-vector caps hold, no self-edges, recall
      // comfortably above the nprobe/K chance floor (0.25)
      val op = Similarity.knnGraph(e, cents, nprobe = 2, k = 3)
        .select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(op.forall { case (v, n) => v != n }, "self-edge in knn graph")
      assert(op.groupBy(_._1).forall(_._2.length <= 3), "k cap violated")
      val edgeSet = op.toSet
      val recall = exact.toSeq.flatMap { case (v, ns) => ns.map((v, _)) }
        .count(edgeSet).toDouble / (exact.size * 3)
      info(f"knn graph recall@3 at nprobe=2: $recall%.2f")
      assert(recall >= 0.4, f"recall@3 $recall%.2f under bound 0.4")
    } finally cents.unpersist()
  }

  test("knn classify replays the brute-force majority vote at nprobe=K") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val cents = Similarity.centroids(e).persist()
    try {
      val labels = e.select("vec_id", "label").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val want = bruteKnn(3).map { case (v, ns) =>
        val byLabel = ns.groupBy(labels).map { case (l, g) => (l, g.size) }
        val (pred, votes) = byLabel.toSeq.sortBy { case (l, c) => (-c, l) }.head
        v -> ((labels(v), pred, votes.toLong, pred == labels(v)))
      }
      val got = Similarity.knnClassify(e, cents, nprobe = 8, k = 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))).toMap
      assert(got == want)
      val acc = got.values.count(_._4).toDouble / got.size
      info(f"leave-one-out 3-NN label agreement: $acc%.2f")
    } finally cents.unpersist()
  }

  test("knn graph from the materialized IVF index == inline derivation") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_knn_idx").toString + "/ivf"
    Similarity.writeIvfIndex(spark, sf0001, idx)
    val fromIndex = Similarity.knnGraphFromIndex(spark, idx,
        nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    // both derivations are deterministic over the same corpus +
    // sidecar centroids, so the graphs must be identical
    val cents = spark.read.parquet(Similarity.centroidsPathOf(idx))
    val inline = Similarity.knnGraph(e, cents, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(fromIndex == inline,
      s"index-built graph ${fromIndex.size} edges != inline ${inline.size}")
    assert(fromIndex.nonEmpty)
  }

  test("PQ-composed knn graph == raw-vector graph at nprobe=K, " +
      "full shortlist") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_knn_pq_idx").toString + "/ivfpq"
    Similarity.writeIvfPqIndex(spark, sf0001, idx)
    // nprobe=K probes every bucket and a corpus-sized shortlist keeps
    // every candidate, so the exact cosine re-rank must reproduce the
    // raw-vector graph bit-for-bit regardless of quantization error
    val fromPq = Similarity.knnGraphFromPqIndex(spark, idx,
        nprobe = 8, k = 3, shortlist = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    val cents = spark.read.parquet(Similarity.centroidsPathOf(idx))
    val raw = Similarity.knnGraph(e, cents, nprobe = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(fromPq == raw,
      s"PQ graph ${fromPq.size} edges != raw ${raw.size}")
    assert(fromPq.nonEmpty)
    // at the operating point the approximation still finds most true
    // neighbors (the recall claim of the ADC shortlist)
    val approx = Similarity.knnGraphFromPqIndex(spark, idx,
        nprobe = 2, k = 3, shortlist = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = raw.map(t => (t._1, t._2))
    val recall = approx.count(truePairs).toDouble / truePairs.size
    info(f"PQ graph recall@3 at nprobe=2, shortlist=16: $recall%.2f")
    assert(recall >= 0.3, f"recall $recall%.2f under bound")
  }

  test("ivfpq append: encoded under stored codebook, probe+graph equal " +
      "one-shot; crash + fold safe") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpqapp")
      .toString
    val idxA = s"$work/idxA" // one shot over the full corpus
    val idxB = s"$work/idxB" // same sidecars, corpus arriving in waves
    Similarity.writeIvfPqIndex(spark, sf0001, idxA)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = spark.read.parquet(Similarity.centroidsPathOf(idxA))
    cents.write.mode("overwrite")
      .parquet(Similarity.centroidsPathOf(idxB))
    spark.read.parquet(Similarity.codebookPathOf(idxA))
      .write.mode("overwrite").parquet(Similarity.codebookPathOf(idxB))
    val cb = Similarity.readCodebook(spark, Similarity.codebookPathOf(idxB))
    // base generation: first 300 vectors under the shared sidecars
    val base = e.filter(col("vec_id") < 300)
    graft.operators.GenStore.ingest(spark, idxB,
      Similarity.gensPathOf(idxB), 0L,
      Similarity.pqEncode(base, cb)
        .select(col("vec_id").as("cid"), col("codes"))
        .join(Similarity.assignBuckets(
            base.select(col("vec_id").as("cid"), col("embedding").as("ce")),
            "cid", "ce", cents)
          .select("cid", "ce", "bucket"), Seq("cid")),
      Seq("bucket"), Seq((300L, 0L)).toDF("n_vecs", "ingest_batch"))
    Similarity.appendIvfPqIndex(spark, idxB,
      e.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    Similarity.appendIvfPqIndex(spark, idxB,
      e.filter(col("vec_id") >= 400), "vec_id", "embedding")
    def probe(p: String) = Similarity.probeIvfPqIndex(spark, sf0001, p)
      .collect().map(_.toSeq).toSet
    def graph(p: String) = Similarity
      .knnGraphFromPqIndex(spark, p, nprobe = 2, k = 3, shortlist = 16)
      .collect().map(_.toSeq).toSet
    val oneShotProbe = probe(idxA)
    val oneShotGraph = graph(idxA)
    assert(probe(idxB) == oneShotProbe,
      "probe results differ between appended and one-shot IVFPQ index")
    assert(graph(idxB) == oneShotGraph,
      "graph differs between appended and one-shot IVFPQ index — the " +
        "committed union must be the graph's whole universe")
    // a crashed append (codes landed, no marker) is invisible
    Similarity.pqEncode(e.filter(col("vec_id") < 50), cb)
      .select(col("vec_id").as("cid"), col("codes"))
      .join(Similarity.assignBuckets(
          e.filter(col("vec_id") < 50)
            .select(col("vec_id").as("cid"), col("embedding").as("ce")),
          "cid", "ce", cents).select("cid", "ce", "bucket"), Seq("cid"))
      .withColumn("ingest_batch", lit(99L))
      .write.mode("append").partitionBy("ingest_batch", "bucket")
      .parquet(idxB)
    assert(probe(idxB) == oneShotProbe,
      "probe scored an append with no commit marker")
    // compaction folds generations and changes nothing probes/graphs see
    assert(Similarity.compactIvfPqIndex(spark, idxB, maxPartials = 1))
    assert(probe(idxB) == oneShotProbe, "fold changed probe results")
    assert(graph(idxB) == oneShotGraph, "fold changed the graph")
    val gens = spark.read.parquet(Similarity.gensPathOf(idxB))
      .select(col("ingest_batch").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(gens == Set(-1L), s"generations not folded: $gens")
  }

  test("ivfpq probe re-ranks from the index's own committed vectors: " +
      "appended index-only ids survive the exact re-rank (r15 ADVICE — " +
      "they used to consume ADC shortlist slots, then silently drop at " +
      "a corpus-table re-rank join)") {
    val work = java.nio.file.Files.createTempDirectory("graft_ivfpqonly")
      .toString
    val idx = s"$work/idx"
    Similarity.writeIvfPqIndex(spark, sf0001, idx)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // index-only delta: exact copies of the query vectors under fresh
    // ids — present in the INDEX after the append, absent from the
    // corpus table the probe's queries/LUT read
    val delta = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfPqIndex(spark, idx, delta, "vec_id", "embedding")
    val res = Similarity.probeIvfPqIndex(spark, sf0001, idx).collect()
    // each query's zero-distance copy assigns to the query's own top
    // bucket (always probed) and tops the ADC shortlist, so it MUST
    // surface as the exact-re-rank rank-1 at distance 0
    val top1 = res.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    (0L until 10L).foreach { q =>
      assert(top1.get(q).contains((q + 10000L, 0.0)),
        s"query $q: index-only copy ${q + 10000} missing from the " +
          s"re-rank (got ${top1.get(q)})")
    }
    // append-only id enforcement: re-appending committed ids is a
    // skip, not a duplicate — a dup cid would square its rows in the
    // index-sourced re-rank and claim several topK ranks
    Similarity.appendIvfPqIndex(spark, idx, delta, "vec_id", "embedding")
    val res2 = Similarity.probeIvfPqIndex(spark, sf0001, idx).collect()
    assert(res2.map(_.toSeq).toSet == res.map(_.toSeq).toSet,
      "re-appending existing ids changed probe results")
    assert(res2.length == res.length,
      "re-appending existing ids duplicated ranked rows")
  }
}
