package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NormExprs.pround
import graft.Tables
import graft.queries.QueryPack

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: quality scoring, heuristic language-ID, and
  * document fingerprinting.
  *
  * All pure built-in column expressions — single narrow scan, no
  * shuffle, whole-stage codegen end to end, so each runs at full scan
  * speed on any input size.
  */
object TextAnalysis extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** lang → marker word; score = occurrence count of the marker.
    * Shared by the Spark and oracle sides so they cannot drift. */
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "order", "zh" -> "join", "es" -> "slow",
    "de" -> "customer", "fr" -> "scan")

  /** Cleaned word tokens of a text column — the ONE tokenizer shared
    * by the retrieval ops (tfidf / bm25 / bpe pairs), same
    * normalization as [[Dedup]]/[[Curation]]. Factored because oracle
    * hash-match depends on every Spark site and every SQL site staying
    * byte-identical. */
  private[operators] def tokCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(regexp_replace(lower(t), "[^a-z0-9 ]", " "), "\\s+"),
      v => length(v) > 0)

  /** One BPE training round as DuckDB CTEs (`p$n` pair counts,
    * `t$n` top pair, `w$n` merged words) — ONE generator shared by
    * the `bpe_train_merges` and `text_bpe_encode` oracles, so the
    * merge SQL cannot drift between them. */
  private def bpeRoundSql(n: Int): String = {
    val wPrev = s"w${n - 1}"
    s"""
        p$n AS (
          SELECT arr[CAST(i AS INTEGER)] || ' ' ||
                   arr[CAST(i AS INTEGER) + 1] AS pair,
                 arr[CAST(i AS INTEGER)] AS a,
                 arr[CAST(i AS INTEGER) + 1] AS b,
                 CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (SELECT arr, freq, unnest(range(1, len(arr))) AS i
                FROM (SELECT string_split(sym, '  ') AS arr, freq
                      FROM $wPrev)
                WHERE len(arr) >= 2)
          GROUP BY 1, 2, 3),
        t$n AS (SELECT * FROM p$n ORDER BY cnt DESC, pair ASC LIMIT 1),
        w$n AS (
          SELECT trim(replace(' ' || sym || ' ',
                   ' ' || (SELECT a FROM t$n) || '  ' ||
                     (SELECT b FROM t$n) || ' ',
                   ' ' || (SELECT a FROM t$n) ||
                     (SELECT b FROM t$n) || ' ')) AS sym, freq
          FROM $wPrev)"""
  }

  /** The DuckDB twin of [[tokCol]] over `documents`, as a CTE body
    * (raw string — the `\s+` must reach DuckDB as-is). */
  private[operators] val tokCteSql: String = """
          SELECT doc_id, list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
            x -> x <> '') AS tk
          FROM documents"""

  def queries: Map[String, QFn] = Map(
    // Quality scoring: length / punctuation / alpha-ratio heuristics
    "text_quality" -> ((s, d) => {
      val t = col("text")
      val tokenCnt = size(split(trim(t), "\\s+"))
      val alphaRatio = pround(
        length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") / length(t), 4)
      docs(s, d).filter(length(t) > 0).select(
        col("doc_id"), col("n_chars"),
        tokenCnt.as("token_cnt"),
        (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).as("punct_cnt"),
        pround(length(regexp_replace(t, "\\s", "")).cast("double") / tokenCnt, 2)
          .as("avg_token_len"),
        alphaRatio.as("alpha_ratio"),
        when(tokenCnt.between(5, 2000) && alphaRatio >= 0.5, 1).otherwise(0)
          .as("quality_flag"))
    }),

    // Heuristic language-ID: argmax of marker-word occurrence counts
    "text_langid" -> ((s, d) => {
      val scored = docs(s, d).select(col("doc_id") +: col("lang") +:
        markers.map { case (lg, m) =>
          ((length(col("text")) - length(regexp_replace(col("text"),
            java.util.regex.Pattern.quote(m), ""))) / lit(m.length))
            .as(s"s_$lg")
        }: _*)
      val pred = markers.init.zipWithIndex.foldRight(
        lit(markers.last._1): org.apache.spark.sql.Column) {
        case (((lg, _), i), rest) =>
          val ge = markers.drop(i + 1)
            .map { case (o, _) => col(s"s_$lg") >= col(s"s_$o") }
            .reduce(_ && _)
          when(ge, lg).otherwise(rest)
      }
      scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
    }),

    // Document fingerprint: md5 of the first 64 whitespace-normalized chars
    "text_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        md5(substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 64))
          .as("fingerprint"))),

    // Token counting: whitespace tokens, a BPE-ish lexer count (word
    // runs + single digits + punctuation chars — the GPT-2 pre-tokenizer
    // shape), and the chars/4 budget estimate
    "text_token_count" -> ((s, d) => {
      val t = col("text")
      docs(s, d).select(col("doc_id"),
        size(split(trim(t), "\\s+")).as("ws_tokens"),
        regexp_count(t, lit(BpePattern)).cast("int").as("bpe_tokens"),
        ceil(length(t) / lit(4.0)).cast("int").as("est_tokens"))
    }),

    // Vocabulary build: top-k token frequencies with cumulative
    // corpus coverage — the profiling step before tokenizer training
    // (how much of the token stream the next vocab entry buys).
    // Scale shape: the count aggregation is map-side-combined on
    // (token), top-k is TakeOrdered, and the ranking window runs over
    // only the k surviving rows; the corpus total rides the same
    // counts frame as a broadcast scalar.
    "vocab_topk" -> ((s, d) => {
      val k = 100
      // positions-explode per the house rule (a computed array in the
      // generator re-evaluates per element); all occurrences, not
      // distinct — vocab wants frequencies
      // explode_outer + post-Generate null filter, per the
      // InferFiltersFromGenerate trap (SURVEY §4): an inner explode
      // would infer a scan-side filter that inlines the tokenizer
      // chain per row
      val tok = docs(s, d)
        .select(col("doc_id"),
          tokCol(col("text")).as("tk"))
        .select(col("tk"),
          explode_outer(when(size(col("tk")) < 1, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk"))))).as("i"))
        .filter(col("i").isNotNull)
        .select(element_at(col("tk"), col("i")).as("token"))
      val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))
      counts.orderBy(col("cnt").desc, col("token")).limit(k)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_share",
          pround(sum(col("cnt")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)).cast("double") /
            col("total_tokens"), 6))
        .select("rank", "token", "cnt", "cum_share")
    }),

    // Zipf-law fit of the corpus frequency distribution — the one-row
    // corpus health check of tokenizer/dedup pipelines (natural text
    // fits ln(freq) ≈ intercept + slope·ln(rank) with slope ≈ −1;
    // boilerplate-heavy or template-duplicated corpora bend the curve,
    // so a drifting slope after an ingest is an early data-quality
    // alarm). The full-vocab total order comes from
    // [[Ranking.globalRank]] (two-pass bucketed ranking — no
    // single-partition window over the vocabulary), and the
    // least-squares fit is ONE map-side-combinable aggregate over
    // (ln rank, ln cnt) points; the closed-form slope follows one
    // parenthesization mirrored by the oracle.
    "text_zipf_fit" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("doc_id"), tokCol(col("text")).as("tk"))
        .select(col("tk"),
          explode_outer(when(size(col("tk")) < 1, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk"))))).as("i"))
        .filter(col("i").isNotNull)
        .select(element_at(col("tk"), col("i")).as("token"))
      val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      val ranked = Ranking.globalRank(
        counts.withColumn("negc", -col("cnt")), "negc", "token")
      val pts = ranked.select(
        log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      val sums = pts.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val slope = (col("sxy") * col("n") - col("sx") * col("sy")) /
        (col("sxx") * col("n") - col("sx") * col("sx"))
      sums.select(col("n").as("n_vocab"),
        pround(slope, 4).as("zipf_slope"),
        pround((col("sy") - slope * col("sx")) / col("n"), 4)
          .as("intercept"))
    }),

    // Per-document keyword extraction: top-3 tokens by smoothed
    // TF-IDF (tf · (ln((1+N)/(1+df)) + 1), the sklearn-style smooth
    // idf) — the standard curation primitive for topic tagging and
    // per-doc summarization. Scale shape: term counts aggregate
    // map-side on (doc, token); document frequency is a second
    // aggregation of THOSE distinct rows (never the raw token
    // stream); the stats join shuffles on token; the per-doc top-3
    // window runs over each doc's own vocabulary — bounded groups,
    // no global sort.
    "text_tfidf_keywords" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("doc_id"),
          tokCol(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"),
          explode_outer(when(size(col("tk")) < 1, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk"))))).as("i"))
        .filter(col("i").isNotNull)
        .select(col("doc_id"), element_at(col("tk"), col("i")).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "token").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          (col("tf") * (log((lit(1.0) + col("n_docs")) /
            (lit(1.0) + col("df"))) + lit(1.0))).as("tfidf_raw"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("tfidf_raw").desc, col("token"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"),
          pround(col("tfidf_raw"), 4).as("tfidf"))
    }),

    // Adjacent-token-pair frequencies — the inner counting loop of BPE
    // tokenizer training (which pair to merge next) over the corpus's
    // word stream. Same shape as vocab_topk: map-side-combined count
    // on the pair, TakeOrdered top-k, ranking window over only the k
    // survivors.
    "bpe_pair_counts" -> ((s, d) => {
      val k = 100
      val pair = tokPairs(s, d)
      val counts = pair.groupBy("pair").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("pair"))
      counts.orderBy(col("cnt").desc, col("pair")).limit(k)
        .withColumn("rank", row_number().over(w))
        .select("rank", "pair", "cnt")
    }),

    // Iterative BPE TRAINING (3 unrolled merge rounds, the
    // graph_pagerank chaining pattern): each round counts adjacent
    // symbol pairs over the freq-weighted word universe, picks the
    // top pair (count desc, pair asc), and applies the merge to every
    // word before the next round — the actual tokenizer-training
    // loop, of which `bpe_pair_counts` is one round's first half.
    // Words are SPACE-ENCODED symbol strings (symbols joined by two
    // spaces, single-space boundary guards on the merge pattern), so
    // the merge is a plain string `replace` with identical
    // left-to-right non-overlap semantics in Spark and DuckDB — the
    // guard spaces prevent a pattern from matching inside a larger
    // symbol, while consecutive occurrences still each keep a
    // boundary space to match on (see the spec's 'aaa' case).
    "bpe_train_merges" -> ((s, d) => {
      // word-grain (vocab-sized) frame, checkpointed per round like
      // graph_pagerank: without truncation round N's plan embeds
      // ~fib(N) rescans of the corpus (each top-pair AND each merge
      // re-derives its whole input lineage)
      val words = docs(s, d)
        .select(explode(tokCol(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(trim(regexp_replace(col("word"), "(.)", "$1  ")).as("sym"),
          col("freq"))
        .localCheckpoint()
      def pairsOf(w: DataFrame) = w
        .select(col("freq"), split(col("sym"), "  ").as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("freq"), col("arr"),
          explode(sequence(lit(1), size(col("arr")) - 1)).as("i"))
        .select(element_at(col("arr"), col("i")).as("a"),
          element_at(col("arr"), col("i") + 1).as("b"), col("freq"))
        .groupBy("a", "b")
        .agg(sum(col("freq")).as("cnt"))
        .select(concat(col("a"), lit(" "), col("b")).as("pair"),
          col("a"), col("b"), col("cnt"))
      def topOf(p: DataFrame) =
        p.orderBy(col("cnt").desc, col("pair").asc).limit(1)
      def mergeRound(w: DataFrame, top: DataFrame) = w
        .crossJoin(broadcast(top.select(col("a").as("ma"),
          col("b").as("mb"))))
        .select(trim(replace(
          concat(lit(" "), col("sym"), lit(" ")),
          concat(lit(" "), col("ma"), lit("  "), col("mb"), lit(" ")),
          concat(lit(" "), col("ma"), col("mb"), lit(" ")))).as("sym"),
          col("freq"))
      val rounds = (1 to 3).foldLeft(
        (words, Seq.empty[DataFrame])) { case ((w, acc), r) =>
        val t = topOf(pairsOf(w))
        (mergeRound(w, t).localCheckpoint(),
          acc :+ t.select(lit(r).as("rank"), col("pair"),
            concat(col("a"), col("b")).as("merged"), col("cnt")))
      }
      rounds._2.reduce(_ unionByName _)
    }),

    // True BPE APPLY: encode every distinct word by replaying the 3
    // trained merges IN RANK ORDER (the actual BPE encode algorithm —
    // rank-priority merge application — vs `text_subword_encode`'s
    // greedy longest-match against a vocabulary). Each merge is one
    // boundary-guarded replace over the space encoding, so apply =
    // three chained string ops, fully scan-local once the 3-row merge
    // table broadcasts.
    "text_bpe_encode" -> ((s, d) => {
      val merges = queries("bpe_train_merges")(s, d)
        .orderBy("rank").limit(3)
        .select(col("rank"),
          split(col("pair"), " ").getItem(0).as("ma"),
          split(col("pair"), " ").getItem(1).as("mb"))
      val words = docs(s, d)
        .select(explode(tokCol(col("text"))).as("word")).distinct()
        .select(col("word"),
          trim(regexp_replace(col("word"), "(.)", "$1  ")).as("sym"))
      // LEFT join on a constant key, not a crossJoin: training can
      // yield FEWER than 3 merges on a degenerate corpus (all words
      // single-char, or the pair space exhausted), and a crossJoin
      // with an empty merge frame would annihilate every word — the
      // missing-merge round must be the identity instead
      def applyOne(w: DataFrame, r: Int): DataFrame = w
        .join(broadcast(merges.filter(col("rank") === r)
          .select(lit(1).as("jk"), col("ma"), col("mb"))),
          lit(1) === col("jk"), "left")
        .select(col("word"), when(col("ma").isNull, col("sym"))
          .otherwise(trim(replace(
            concat(lit(" "), col("sym"), lit(" ")),
            concat(lit(" "), col("ma"), lit("  "), col("mb"), lit(" ")),
            concat(lit(" "), col("ma"), col("mb"), lit(" "))))).as("sym"))
      (1 to 3).foldLeft(words)(applyOne)
        .select(col("word"),
          size(split(col("sym"), "  ")).as("n_symbols"),
          array_join(split(col("sym"), "  "), "|").as("symbols"))
    }),

    // CCNet-style LM quality signal: average per-token negative
    // log-likelihood of each document under the corpus's OWN
    // Laplace-smoothed unigram model — the classic
    // perplexity-filtering recipe (high nll = unusual token mix =
    // boilerplate/noise candidate). Determinism: each ln runs on a
    // per-(token) scalar; the per-doc sum folds tf·ln(p) terms in
    // token-sorted order (the DSIR/BM25 fixed-order-fold convention),
    // so fp addition order cannot diverge from the oracle. One
    // shuffle on doc_id; the vocab model is an Aggregate-derived
    // broadcast.
    "text_lm_logprob" -> ((s, d) => {
      val tf = docs(s, d)
        .select(col("doc_id"), explode(tokCol(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val counts = tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
      val totals = counts.agg(
        sum(col("cnt")).cast("double").as("t_tokens"),
        count(lit(1)).cast("double").as("v_size"))
      val terms = tf.join(broadcast(counts), "token")
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("token"), col("tf"),
          (col("tf").cast("double") *
            log((col("cnt").cast("double") + lit(1.0)) /
              (col("t_tokens") + col("v_size")))).as("term"))
      terms.groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sort_array(collect_list(struct(col("token"), col("term"))))
            .as("ts"))
        .select(col("doc_id"), col("n_tokens"),
          pround((lit(0.0) - aggregate(
              transform(col("ts"), x => x.getField("term")),
              lit(0.0), (acc, x) => acc + x)) /
            col("n_tokens").cast("double"), 4).as("nll_per_token"))
    }),

    // Subword tokenization: greedy longest-match (WordPiece-style)
    // against the corpus's own top-20 words via the native
    // `subword_encode` kernel. The synthetic corpus's 31-word
    // vocabulary would make every word a single token, so the
    // oracle-facing word universe is augmented with adjacent-pair
    // COMPOUNDS ("joinsmall") — the encoder must split them back into
    // vocab words with single-char fallback for the residue, which
    // exercises every kernel path (multi-match, mid-word match, char
    // fallback). Scale shape: encode DISTINCT words only (a corpus's
    // word universe is millions, not billions); the vocab is a
    // bounded driver collect like the repo's code lists.
    "text_subword_encode" -> ((s, d) => {
      graft.GraftExtensions.registerAll(s)
      val counts = docs(s, d)
        .select(explode(tokCol(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val vocab: Array[String] = counts
        .orderBy(col("cnt").desc, col("word").asc).limit(20)
        .select("word").collect().map(_.getString(0))
      val compounds = docs(s, d)
        .select(tokCol(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(sequence(lit(1), size(col("tk")) - 1)).as("i"),
          col("tk"))
        .select(concat(element_at(col("tk"), col("i")),
          element_at(col("tk"), col("i") + 1)).as("word"))
      // word universe from the already-reduced counts aggregate — not
      // the raw occurrence stream, whose re-dedup would shuffle every
      // token occurrence a second time (the SQL twin is word-grain too)
      val universe = counts.select("word").union(compounds).distinct()
      val toks = call_function("subword_encode", col("word"), lit(vocab))
      universe.select(col("word"),
        size(toks).as("n_tokens"),
        concat_ws("|", toks).as("subwords"))
    }),

    // BM25 keyword search: score every document against a fixed term
    // set and return the top-k — the retrieval primitive behind
    // corpus-curation keyword audits ("which docs dominate for this
    // query") and quality-weighted subset selection. Two passes over
    // one narrow scan: pass 1 folds the corpus statistics BM25 needs
    // (N, avgdl, per-term df) to a single broadcast row; pass 2 scores
    // per doc with pure column arithmetic. Per-term tf comes from
    // `size(filter(tokens, = term))` on the staged token array — no
    // explode, no shuffle wider than the one-row stats frame; top-k is
    // a TakeOrdered with the ranking window over only the k survivors
    // (the vocab_topk shape). The score sums terms in fixed query
    // order (a left fold), which the oracle mirrors so fp addition
    // order cannot diverge.
    "search_bm25_topk" -> ((s, d) => {
      val tf = docs(s, d)
        .select(col("doc_id"),
          tokCol(col("text")).as("tk"))
        .select(col("doc_id") +: size(col("tk")).as("dl") +:
          Bm25Terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("tk"), x => x === lit(t))).as(s"tf_$i")
          }: _*)
      val stats = tf.agg(
        count(lit(1)).as("n_docs"),
        avg(col("dl")).as("avgdl") +:
          Bm25Terms.indices.map(i =>
            sum(when(col(s"tf_$i") > 0, 1).otherwise(0)).as(s"df_$i")): _*)
      val scored = tf.crossJoin(broadcast(stats))
        .select(col("doc_id"), bm25ScoreCol(Bm25Terms.size).as("score_raw"))
        .filter(col("score_raw") > 0)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_raw").desc, col("doc_id"))
      scored.orderBy(col("score_raw").desc, col("doc_id")).limit(Bm25TopK)
        .withColumn("rank", row_number().over(w))
        .select(col("rank"), col("doc_id"),
          pround(col("score_raw"), 4).as("score"))
    }),

    // Rolling-hash fingerprint: hash every k-char gram of the
    // normalized text, keep the bottom-B values — a bottom-k sketch of
    // the gram set (the winnowing/MOSS family's sampling step). Robust
    // to local edits in a way the prefix-md5 fingerprint is not:
    // changing one sentence disturbs only the grams that overlap it,
    // so ≥ (B - touched) of the bottom-B survive. Runs through the
    // native `rolling_fp` kernel (one imperative pass; the HOF chain
    // re-walks every gram through four interpreted lambdas —
    // RollingFpNativeSpec pins value parity, the oracle pins DuckDB).
    "text_fingerprint_rolling" -> ((s, d) => {
      graft.GraftExtensions.registerAll(s)
      docs(s, d)
        .select(col("doc_id"),
          regexp_replace(lower(col("text")), "\\s+", " ").as("norm"))
        .select(col("doc_id"),
          call_function("rolling_fp", col("norm")).as("fingerprint"))
    }),

    // Linear text-classifier scoring (the fastText-shaped quality/
    // domain filter every web-scale curation pipeline runs, CCNet/
    // RefinedWeb style): hash each token into one of B weight buckets,
    // mean-pool the bucket weights, keep iff the margin is
    // non-negative. The weights stand in for a pretrained model and
    // are DATA (a deterministic md5-derived table; the oracle derives
    // the identical values in SQL), not logic. Scan-local and
    // shuffle-free: the fold runs
    // inside the row over the staged token array, with the weight
    // vector staged once as a column so the interpreted HOF indexes an
    // attribute instead of re-building a 64-literal array per token.
    // The margin (not a sigmoid) is the output: pure +,/ arithmetic in
    // a FIXED fold order on both engines → bit-identical, while exp()
    // would be libm-vs-JVM ulp roulette. keep = sign of the UNROUNDED
    // margin, so the flag can never disagree with the score's sign.
    "text_classifier_score" -> ((s, d) =>
      classifierScore(docs(s, d), "doc_id", "text", ClsWeights)),

    // Unicode NFC normalization via the native kernel — byte-canonical
    // text is the precondition for every digest-keyed operator (exact
    // dedup, shingles, span removal): e+◌́ and é must hash alike. The
    // fixture injects classic composition cases (combining acute/ring/
    // diaeresis, Hangul jamo, an fi ligature NFC leaves alone) since
    // the synthetic corpus is mostly ASCII where NFC is the identity;
    // the oracle rebuilds the identical codepoint sequences with chr()
    // and replays DuckDB's own nfc_normalize.
    "text_normalize" -> ((s, d) => {
      graft.GraftExtensions.registerAll(s)
      // explicit escapes: 1000001/1000003/1000004 are DECOMPOSED (the
      // whole point -- NFC must change them); 1000002 is precomposed
      val inj = s.createDataFrame(Seq(
        (1000001L, "cafe\u0301 deco"),
        (1000002L, "caf\u00E9 deco"),
        (1000003L, "A\u030Angstro\u0308m"),
        (1000004L, "\u1100\u1161 jamo"),
        (1000005L, "\uFB01delity")
      )).toDF("doc_id", "text")
      docs(s, d).select(col("doc_id"), col("text")).unionByName(inj)
        .select(col("doc_id"), col("text"),
          call_function("nfc_normalize", col("text")).as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          when(col("text") =!= col("norm_text"), 1).otherwise(0)
            .as("changed"),
          length(col("norm_text")).as("n_chars_norm"))
    }),

    // PMI co-occurrence mining — the word-association table behind
    // embedding-prep pipelines (phrase detection, seed lexicons,
    // collocation features): every unordered token pair co-occurring
    // within a ±W-token window, scored by pointwise mutual information
    // against the unigram model. The pair stream is generated
    // SCAN-SIDE (per offset o ≤ W, zip the token array with itself
    // shifted by o — no positional self-join, no shuffle until the
    // pair counts), so the only exchanges are the two
    // map-side-combinable groupBys (pairs, unigrams). The unigram
    // frame is a broadcast dimension; totals ride one-row broadcasts
    // (the BM25/DSIR stats pattern). PMI divisions follow ONE
    // parenthesization mirrored in the oracle, and the rank order is
    // (rounded pmi, w1, w2) so ties cannot reshuffle across engines.
    //
    // SCALE GOVERNOR — the unigram support floor: the pair-grain
    // aggregate is the one exchange whose CARDINALITY grows super-
    // linearly with corpus size (vocab growth is long-tailed, and
    // distinct pairs grow roughly with the square of the tail), which
    // is exactly what the slope_10x probe measured (4.96, the suite's
    // steepest). PMI estimates for rare words are statistical noise
    // anyway, so tokens with unigram count < PmiSupportFloor are
    // dropped from the PAIR STREAM before the pair aggregate — a
    // broadcast semi-join on each side of the pair, applied SCAN-SIDE
    // so the long tail of singleton pairs never enters the shuffle.
    // Window adjacency is computed on the UNFILTERED token stream (the
    // floor removes pairs, it never splices distant tokens together),
    // and the unigram model/t_tokens stay full-vocab; the oracle
    // mirrors the floor with the same semi-joins.
    "text_pmi_pairs" -> ((s, d) => {
      val tk = tokCol(col("text"))
      // both aggregates are consumed 2-3 times (join sides + totals);
      // without the checkpoint each consumer re-scans and re-tokenizes
      // the CORPUS (no common-subtree reuse across joins) — with it,
      // the corpus is read once per aggregate and every reuse is a
      // vocab-sized in-memory read
      val uc = docs(s, d).select(explode(tk).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val supported = uc.filter(col("c") >= PmiSupportFloor).select("token")
      // pair stream via two chained Generates (r17, guide §"per-task
      // work"): the old shape materialized per doc a concat of
      // PmiWindow zip_with arrays — every window offset allocating a
      // full struct array through the INTERPRETED HOF path before one
      // explode. posexplode + slice + explode emit the identical
      // multiset ((tk[i], tk[j]) for 0 < j−i ≤ PmiWindow, each pair
      // ordered least/greatest) through codegen'd Generate operators
      // with no per-doc intermediate arrays. Window adjacency is still
      // computed on the UNFILTERED token stream; the support floor
      // still prunes pairs scan-side via the broadcast semi-joins.
      val pairs = docs(s, d)
        .select(tk.as("tk"))
        .select(col("tk"), posexplode(col("tk")).as(Seq("i", "a")))
        .select(col("a"),
          explode(slice(col("tk"), col("i") + 2, lit(PmiWindow))).as("b"))
        .select(least(col("a"), col("b")).as("w1"),
          greatest(col("a"), col("b")).as("w2"))
        .join(broadcast(supported.withColumnRenamed("token", "w1")),
          Seq("w1"), "left_semi")
        .join(broadcast(supported.withColumnRenamed("token", "w2")),
          Seq("w2"), "left_semi")
      val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        .localCheckpoint()
      val tTok = uc.agg(sum(col("c")).cast("double").as("t_tokens"))
      val tPair = pc.agg(sum(col("c_ab")).cast("double").as("t_pairs"))
      pc.filter(col("c_ab") >= PmiMinCount)
        .join(broadcast(uc.select(col("token").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uc.select(col("token").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(tTok)).crossJoin(broadcast(tPair))
        .select(col("w1"), col("w2"), col("c_ab"),
          pround(log((col("c_ab") / col("t_pairs")) /
            ((col("c_a") / col("t_tokens")) *
              (col("c_b") / col("t_tokens")))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(PmiTopK)
    }),

    // Interpolated bigram LM scoring — one rung up the CCNet ladder
    // from `text_lm_logprob`'s unigram model: per-doc NLL under
    // p(w|prev) = 0.7·ML-bigram + 0.3·Laplace-unigram, first token
    // scored by the unigram alone. Every observed (prev, w) pair has a
    // positive bigram count by construction, so the mixture never
    // takes ln(0). Shapes: position rows come from exploding the index
    // sequence (house rule) with prev via element_at; the bigram count
    // table joins back on its own (prev, w) key — the one
    // corpus-sized exchange — while unigram/left-context tables are
    // vocab-sized broadcasts; both derived count frames are
    // checkpointed so consumers reuse instead of re-scanning. Per-doc
    // sums fold ln-terms in POSITION order on both engines.
    "text_bigram_lm" -> ((s, d) => {
      val posed = docs(s, d)
        .select(col("doc_id"), tokCol(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"),
          explode_outer(when(size(col("tk")) < 1, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk"))))).as("pos"))
        .filter(col("pos").isNotNull)
        .select(col("doc_id"), col("pos"),
          element_at(col("tk"), col("pos")).as("w"),
          when(col("pos") > 1, element_at(col("tk"), col("pos") - 1))
            .as("w_prev"))
      // posed is CORPUS-sized and consumed three times — but it stays
      // un-checkpointed on purpose: re-tokenizing at scan speed is the
      // right trade at 100 TB, where materializing the position stream
      // would pin corpus-scale blocks in executor memory. Only the
      // VOCAB-sized count frames below checkpoint.
      val bc = posed.filter(col("w_prev").isNotNull)
        .groupBy("w_prev", "w").agg(count(lit(1)).as("c_pp"))
        .localCheckpoint()
      val lc = bc.groupBy("w_prev").agg(sum(col("c_pp")).as("c_left"))
      val uc = posed.groupBy("w").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val tot = uc.agg(sum(col("cnt")).cast("double").as("t"),
        count(lit(1)).cast("double").as("v"))
      val pU = (col("cnt").cast("double") + lit(1.0)) / (col("t") + col("v"))
      val pB = col("c_pp").cast("double") / col("c_left").cast("double")
      val term = when(col("pos") === 1, log(pU))
        .otherwise(log(lit(0.7) * pB + lit(0.3) * pU))
      posed
        .join(broadcast(uc), "w")
        .join(bc, Seq("w_prev", "w"), "left")
        .join(broadcast(lc), Seq("w_prev"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("pos"), term.as("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sort_array(collect_list(struct(col("pos"), col("term"))))
            .as("ts"))
        .select(col("doc_id"), col("n_tokens"),
          pround((lit(0.0) - aggregate(
              transform(col("ts"), x => x.getField("term")),
              lit(0.0), (acc, x) => acc + x)) /
            col("n_tokens").cast("double"), 4).as("nll_bigram"))
    })
  )

  /** Corpus-generic linear scorer: any (idCol, textCol) frame, any
    * weight vector (bucket count = weights.length). See the query
    * comment above for the determinism contract. */
  def classifierScore(documents: DataFrame, idCol: String, textCol: String,
                      weights: Array[Double]): DataFrame = {
    val b = weights.length
    val tok = documents
      .select(col(idCol), tokCol(col(textCol)).as("tk"))
      .withColumn("w", array(weights.map(lit): _*))
    tok
      .select(col(idCol), col("tk"),
        aggregate(col("tk"), lit(0.0), (acc, t) =>
          acc + element_at(col("w"),
            (conv(substring(md5(t), 1, 8), 16, 10).cast("long")
              % b).cast("int") + 1)).as("zsum"))
      .select(col(idCol), size(col("tk")).as("n_tokens"),
        when(size(col("tk")) === 0, lit(0.0))
          .otherwise(col("zsum") / size(col("tk"))).as("z"))
      .select(col(idCol), col("n_tokens"),
        pround(col("z"), 4).as("score"),
        when(col("z") >= 0, 1).otherwise(0).as("keep"))
  }

  /** Hashed-feature bucket count and the deterministic stand-in
    * weights: w(i) = ((h32("w:i") mod 2001) − 1000)/1000 ∈ [−1, 1],
    * h32 = first 8 md5 hex chars — reproducible anywhere; the oracle
    * derives the identical doubles from the same formula in SQL. */
  private val ClsBuckets = 64
  private[operators] val ClsWeights: Array[Double] =
    Array.tabulate(ClsBuckets) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$i".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16)
      ((h % 2001) - 1000) / 1000.0
    }

  /** (doc, adjacent token pair) rows: staged tokens, positions
    * exploded (house rule: explode the cheap index array, compute the
    * pair as a projection above the Generate; explode_outer + null
    * filter per the InferFiltersFromGenerate trap). */
  private def tokPairs(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), tokCol(col("text")).as("tk"))
      .select(col("tk"),
        explode_outer(when(size(col("tk")) < 2, array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("tk")) - 1))).as("i"))
      .filter(col("i").isNotNull)
      .select(concat_ws(" ", element_at(col("tk"), col("i")),
        element_at(col("tk"), col("i") + 1)).as("pair"))

  /** Word runs, single digits, single punctuation marks — the shape of
    * a byte-level BPE pre-tokenizer's coarse splits. Shared verbatim
    * with the oracle. */
  private val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** BM25 query terms (drawn from the corpus's marker vocabulary so
    * matches exist) and the standard Robertson parameters. Terms are
    * scored in THIS order on both engines — fp addition order is part
    * of the contract. */
  private[operators] val Bm25Terms = Seq("order", "customer", "scan")
  private[operators] val Bm25K1 = 1.2
  private[operators] val Bm25B = 0.75
  private[operators] val Bm25TopK = 25

  /** PMI co-occurrence window (±tokens), floors, and result cap. W
    * bounds the pair-stream width (≤ W·n_tokens slim rows);
    * PmiSupportFloor drops rare-token pairs BEFORE the pair aggregate
    * (the cardinality governor — see the query comment); PmiMinCount
    * filters the aggregated pair counts before any join. */
  private val PmiWindow = 3
  private val PmiMinCount = 5
  private val PmiSupportFloor = 5
  private val PmiTopK = 100

  /** The classifier-score DuckDB twin, shared verbatim with
    * [[Evaluation]]'s AUC/calibration oracles so the evaluated scores
    * are exactly the published ones. */
  private[operators] lazy val classifierOracleSql: String = s"""
        WITH tok AS ($tokCteSql),
        wt AS (
          SELECT list_transform(range(0, $ClsBuckets), i ->
            (CAST(('0x' || substr(md5('w:' || CAST(i AS VARCHAR)), 1, 8))
               AS BIGINT) % 2001 - 1000) / 1000.0) AS w),
        sc AS (
          SELECT doc_id, len(tk) AS n_tokens,
                 CASE WHEN len(tk) = 0 THEN 0.0 ELSE
                   list_reduce(list_transform(tk, t ->
                     w[CAST((CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                       % $ClsBuckets) + 1 AS INTEGER)]),
                     (acc, x) -> acc + x) / len(tk) END AS z
          FROM tok CROSS JOIN wt)
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
               floor(z * 10000.0 + 0.5) / 10000.0 AS score,
               CASE WHEN z >= 0 THEN 1 ELSE 0 END AS keep
        FROM sc"""

  /** The BM25 score fold over columns (tf_0.., df_0.., n_docs, dl,
    * avgdl) in FIXED term-position order — ONE expression shared by
    * the corpus-scan query and [[Retrieval]]'s index probe, so the two
    * physical plans cannot drift numerically. `nTerms` is the query's
    * term count (r14: the fold was hard-wired to Bm25Terms' three
    * positions, so the REST route 500'd on any 1/2/4+-term query). */
  private[operators] def bm25ScoreCol(
      nTerms: Int): org.apache.spark.sql.Column =
    (0 until nTerms).map { i =>
      val tfc = col(s"tf_$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) /
          (col(s"df_$i") + lit(0.5)))
      idf * (tfc * lit(Bm25K1 + 1.0)) /
        (tfc + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)

  /** The BM25 top-k DuckDB twin, from first principles over the base
    * table — shared verbatim by `search_bm25_topk` (corpus-scan
    * formulation) and [[Retrieval]]'s `search_index_topk`
    * (inverted-index formulation): ONE oracle for two physical plans
    * is exactly the index-integrity assertion. */
  private[operators] val bm25OracleSql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf_$i"
    }.mkString(",\n                 ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
      .mkString(", ")
    val scoreSql = Bm25Terms.indices.map { i =>
      s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) *
               (tf_$i * ${Bm25K1 + 1.0}) /
               (tf_$i + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))"""
    }.mkString("\n             + ")
    s"""WITH tok AS ($tokCteSql),
        tf AS (
          SELECT doc_id, len(tk) AS dl,
                 $tfCols
          FROM tok),
        stats AS (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, $dfCols FROM tf),
        scored AS (
          SELECT doc_id,
             $scoreSql
             AS score_raw
          FROM tf CROSS JOIN stats),
        top AS (
          SELECT doc_id, score_raw FROM scored WHERE score_raw > 0
          ORDER BY score_raw DESC, doc_id LIMIT $Bm25TopK)
        SELECT CAST(row_number() OVER (ORDER BY score_raw DESC, doc_id)
                 AS INTEGER) AS rank,
               doc_id,
               floor(score_raw * 10000.0 + 0.5) / 10000.0 AS score
        FROM top"""
  }

  def oracles: Map[String, String] = {
    val scoreSql = markers.map { case (lg, m) =>
      s"(length(text) - length(replace(text, '$m', ''))) / ${m.length} AS s_$lg"
    }.mkString(", ")
    val predSql = markers.init.zipWithIndex.map { case ((lg, _), i) =>
      val ge = markers.drop(i + 1)
        .map { case (o, _) => s"s_$lg >= s_$o" }.mkString(" AND ")
      s"WHEN $ge THEN '$lg'"
    }.mkString("CASE ", " ", s" ELSE '${markers.last._1}' END")
    Map(
      "text_quality" -> """
        SELECT doc_id, n_chars,
          CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS token_cnt,
          CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
               AS INTEGER) AS punct_cnt,
          floor((length(regexp_replace(text, '\s', '', 'g')) * 1.0 /
                len(string_split_regex(trim(text), '\s+'))) * 100.0 + 0.5) / 100.0
            AS avg_token_len,
          floor((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 /
                length(text)) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
          CASE WHEN len(string_split_regex(trim(text), '\s+')) BETWEEN 5 AND 2000
                AND floor((length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 /
                          length(text)) * 10000.0 + 0.5) / 10000.0 >= 0.5
               THEN 1 ELSE 0 END AS quality_flag
        FROM documents WHERE length(text) > 0""",

      "text_langid" -> s"""
        SELECT doc_id, lang, $predSql AS pred_lang
        FROM (SELECT doc_id, lang, $scoreSql FROM documents)""",

      "text_fingerprint" -> """
        SELECT doc_id,
               md5(substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 64))
          AS fingerprint
        FROM documents""",

      "text_token_count" -> s"""
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
                 AS ws_tokens,
               CAST(len(regexp_extract_all(text, '$BpePattern')) AS INTEGER)
                 AS bpe_tokens,
               CAST(ceil(length(text) / 4.0) AS INTEGER) AS est_tokens
        FROM documents""",

      "vocab_topk" -> """
        WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
            x -> x <> '')) AS token
          FROM documents),
        counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        total AS (SELECT SUM(cnt) AS total_tokens FROM counts),
        top AS (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT 100)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER)
                 AS rank,
               token, cnt,
               floor((CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / total_tokens) * 1000000.0 + 0.5)
                 / 1000000.0 AS cum_share
        FROM top CROSS JOIN total""",

      // Same tokenizer and count grain as vocab_topk; rank replayed as
      // the plain window the two-pass globalRank is provably equal to,
      // and the closed-form slope follows the identical
      // parenthesization.
      "text_zipf_fit" -> """
        WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
            x -> x <> '')) AS token
          FROM documents),
        counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        ranked AS (SELECT cnt,
                     row_number() OVER (ORDER BY cnt DESC, token) AS rank
                   FROM counts),
        pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
                       ln(CAST(cnt AS DOUBLE)) AS y
                FROM ranked),
        sums AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                        SUM(x * y) AS sxy, SUM(x * x) AS sxx
                 FROM pts)
        SELECT n AS n_vocab,
               floor(((sxy * n - sx * sy) / (sxx * n - sx * sx))
                 * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
               floor(((sy - ((sxy * n - sx * sy) / (sxx * n - sx * sx))
                 * sx) / n) * 10000.0 + 0.5) / 10000.0 AS intercept
        FROM sums""",

      // Same tokenizer, same smoothed-idf formula text as the Spark
      // expression (tf · (ln((1.0+N)/(1.0+df)) + 1.0)), per-doc top-3
      // with the (tfidf DESC, token) tie-break.
      "text_tfidf_keywords" -> s"""
        WITH tokarr AS ($tokCteSql),
        tok AS (SELECT doc_id, unnest(tk) AS token FROM tokarr),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM tok GROUP BY 1, 2),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 tf.tf * (ln((1.0 + n_docs) / (1.0 + df.df)) + 1.0)
                   AS tfidf_raw
          FROM tf JOIN df USING (token) CROSS JOIN n),
        ranked AS (
          SELECT doc_id, token, tfidf_raw,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf_raw DESC, token) AS rank
          FROM scored)
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, token,
               floor(tfidf_raw * 10000.0 + 0.5) / 10000.0 AS tfidf
        FROM ranked WHERE rank <= 3""",

      // Adjacent pairs via list slicing; the (cnt DESC, pair)
      // order/tie-break matches the Spark TakeOrdered + window.
      // The 3 training rounds unrolled as chained CTEs (the
      // graph_pagerank oracle pattern); the space-encoded merge is
      // the same boundary-guarded `replace` as the Spark side.
      "bpe_train_merges" -> {
        s"""
        WITH tok AS ($tokCteSql),
        toks AS (SELECT unnest(tk) AS word FROM tok),
        wf AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY 1),
        w0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym,
                      freq
               FROM wf),
        ${bpeRoundSql(1)},
        ${bpeRoundSql(2)},
        ${bpeRoundSql(3)}
        SELECT 1 AS rank, pair, a || b AS merged, cnt FROM t1
        UNION ALL
        SELECT 2 AS rank, pair, a || b AS merged, cnt FROM t2
        UNION ALL
        SELECT 3 AS rank, pair, a || b AS merged, cnt FROM t3"""
      },

      // The same 3 trained rounds, then each distinct word re-encoded
      // by the three rank-ordered guarded replaces.
      "text_bpe_encode" -> {
        def applied(n: Int): String = {
          val prev = s"e${n - 1}"
          // missing merge round (empty t$n) → identity, mirroring the
          // Spark side's null-guarded left join
          s"""
        e$n AS (
          SELECT word,
                 CASE WHEN (SELECT a FROM t$n) IS NULL THEN sym
                 ELSE trim(replace(' ' || sym || ' ',
                   ' ' || (SELECT a FROM t$n) || '  ' ||
                     (SELECT b FROM t$n) || ' ',
                   ' ' || (SELECT a FROM t$n) ||
                     (SELECT b FROM t$n) || ' ')) END AS sym
          FROM $prev)"""
        }
        s"""
        WITH tok AS ($tokCteSql),
        toks AS (SELECT unnest(tk) AS word FROM tok),
        wf AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY 1),
        w0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym,
                      freq
               FROM wf),
        ${bpeRoundSql(1)},
        ${bpeRoundSql(2)},
        ${bpeRoundSql(3)},
        e0 AS (SELECT word,
                      trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym
               FROM wf),
        ${applied(1)},
        ${applied(2)},
        ${applied(3)}
        SELECT word, CAST(len(string_split(sym, '  ')) AS INTEGER)
                 AS n_symbols,
               array_to_string(string_split(sym, '  '), '|') AS symbols
        FROM e3"""
      },

      // Same tokenizer, same Laplace smoothing, and the per-doc fold
      // runs over `list(term ORDER BY token)` with a 0.0 prepend —
      // byte-identical addition order to the Spark sort_array fold.
      "text_lm_logprob" -> s"""
        WITH tok AS ($tokCteSql),
        toks AS (SELECT doc_id, unnest(tk) AS token FROM tok),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        counts AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt
                   FROM tf GROUP BY 1),
        totals AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t_tokens,
                          CAST(COUNT(*) AS DOUBLE) AS v_size FROM counts),
        terms AS (
          SELECT tf.doc_id, tf.token, tf.tf,
                 CAST(tf.tf AS DOUBLE) *
                   ln((CAST(c.cnt AS DOUBLE) + 1.0) /
                      (t.t_tokens + t.v_size)) AS term
          FROM tf JOIN counts c USING (token) CROSS JOIN totals t)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               floor(((0.0 - list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY token)),
                   (acc, x) -> acc + x)) / CAST(SUM(tf) AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS nll_per_token
        FROM terms GROUP BY doc_id""",

      // The DuckDB twin of the greedy longest-match kernel is a
      // recursive CTE: one recursion step per emitted token, the
      // longest-match probe as a correlated argmax over the vocab
      // (same-length matches are the same string, so `ORDER BY tlen
      // DESC LIMIT 1` is deterministic), single-char fallback via
      // COALESCE — the exact kernel loop, replayed in SQL.
      "text_subword_encode" -> s"""
        WITH RECURSIVE
        tok AS ($tokCteSql),
        toks AS (SELECT unnest(tk) AS word FROM tok),
        counts AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY 1),
        vocab AS (
          SELECT word AS token, length(word) AS tlen
          FROM counts ORDER BY cnt DESC, word ASC LIMIT 20),
        compounds AS (
          SELECT DISTINCT tk[CAST(i AS INTEGER)] ||
                   tk[CAST(i AS INTEGER) + 1] AS word
          FROM (SELECT tk, unnest(range(1, len(tk))) AS i
                FROM tok WHERE len(tk) >= 2)),
        words AS (SELECT word FROM counts UNION SELECT word FROM compounds),
        steps AS (
          SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS toks FROM words
          UNION ALL
          SELECT s.word, s.pos + length(m), list_append(s.toks, m)
          FROM (
            SELECT word, pos, toks,
              COALESCE(
                (SELECT v.token FROM vocab v
                 WHERE v.tlen <= length(word) - pos
                   AND substr(word, pos + 1, v.tlen) = v.token
                 ORDER BY v.tlen DESC LIMIT 1),
                substr(word, pos + 1, 1)) AS m
            FROM steps WHERE pos < length(word)) s)
        SELECT word, CAST(len(toks) AS INTEGER) AS n_tokens,
               array_to_string(toks, '|') AS subwords
        FROM steps WHERE pos = length(word)""",

      "bpe_pair_counts" -> s"""
        WITH tok AS ($tokCteSql),
        pairs AS (
          SELECT tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1]
                   AS pair
          FROM (SELECT tk, unnest(range(1, len(tk))) AS i
                FROM tok WHERE len(tk) >= 2)),
        counts AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY 1),
        top AS (SELECT * FROM counts ORDER BY cnt DESC, pair LIMIT 100)
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER)
                 AS rank,
               pair, cnt
        FROM top""",

      // Same tokenizer, same stats fold, and the score terms added in
      // the same fixed order as the Spark fold — see Bm25Terms.
      "search_bm25_topk" -> bm25OracleSql,

      // The pair multiset is the same enumeration as the Spark
      // shifted-zip — (i, i + o) for every o ≤ W with i + o inside the
      // doc — normalized least/greatest, then floored by the SAME
      // unigram support semi-joins (adjacency from the unfiltered
      // stream; unigram model stays full-vocab); PMI mirrors the one
      // parenthesization and rounds before the rank sort.
      "text_pmi_pairs" -> s"""
        WITH tok AS ($tokCteSql),
        uc AS MATERIALIZED (
          SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT unnest(tk) AS t FROM tok) GROUP BY 1),
        sup AS MATERIALIZED (
          SELECT token FROM uc WHERE c >= $PmiSupportFloor),
        pr AS (
          SELECT least(tk[i], tk[i + o]) AS w1,
                 greatest(tk[i], tk[i + o]) AS w2
          FROM (SELECT tk, CAST(i AS INTEGER) AS i, CAST(o AS INTEGER) AS o
                FROM (SELECT tk, unnest(range(1, len(tk) + 1)) AS i FROM tok)
                CROSS JOIN (SELECT unnest(range(1, $PmiWindow + 1)) AS o))
          WHERE i + o <= len(tk)
            AND least(tk[i], tk[i + o]) IN (SELECT token FROM sup)
            AND greatest(tk[i], tk[i + o]) IN (SELECT token FROM sup)),
        pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
               FROM pr GROUP BY 1, 2),
        tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t_tokens FROM uc),
        tp AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS t_pairs FROM pc)
        SELECT w1, w2, c_ab,
               floor(ln((c_ab / t_pairs) /
                 ((a.c / t_tokens) * (b.c / t_tokens))) * 10000.0 + 0.5)
                 / 10000.0 AS pmi
        FROM pc
        JOIN uc a ON a.token = pc.w1
        JOIN uc b ON b.token = pc.w2
        CROSS JOIN tt CROSS JOIN tp
        WHERE c_ab >= $PmiMinCount
        ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""",

      // Same mixture, same parenthesization, same position-ordered
      // fold as the Spark side; the LEFT joins go NULL exactly where
      // pos = 1 takes the unigram branch.
      "text_bigram_lm" -> s"""
        WITH tok AS ($tokCteSql),
        posed AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
                 tk[CAST(i AS INTEGER)] AS w,
                 CASE WHEN i > 1 THEN tk[CAST(i AS INTEGER) - 1] END
                   AS w_prev
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                FROM tok)),
        bc AS (SELECT w_prev, w, CAST(COUNT(*) AS BIGINT) AS c_pp
               FROM posed WHERE w_prev IS NOT NULL GROUP BY 1, 2),
        lc AS (SELECT w_prev, CAST(SUM(c_pp) AS BIGINT) AS c_left
               FROM bc GROUP BY 1),
        uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM posed GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS t,
                       CAST(COUNT(*) AS DOUBLE) AS v FROM uc),
        terms AS (
          SELECT p.doc_id, p.pos,
                 CASE WHEN p.pos = 1
                   THEN ln((CAST(u.cnt AS DOUBLE) + 1.0) / (t.t + t.v))
                   ELSE ln(0.7 * (CAST(b.c_pp AS DOUBLE) /
                       CAST(l.c_left AS DOUBLE)) +
                     0.3 * ((CAST(u.cnt AS DOUBLE) + 1.0) / (t.t + t.v)))
                 END AS term
          FROM posed p
          JOIN uc u ON u.w = p.w
          LEFT JOIN bc b ON b.w_prev = p.w_prev AND b.w = p.w
          LEFT JOIN lc l ON l.w_prev = p.w_prev
          CROSS JOIN tot t)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               floor(((0.0 - list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY pos)),
                   (acc, x) -> acc + x)) / CAST(COUNT(*) AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS nll_bigram
        FROM terms GROUP BY doc_id""",

      // The weight vector is DERIVED in SQL by the same md5 formula as
      // [[ClsWeights]] (not pasted as a literal, so a decimal-parsing
      // type quirk can never creep in); the per-doc fold adds bucket
      // weights in token order exactly like the Spark `aggregate`, and
      // `keep` tests the unrounded margin on both engines.
      "text_classifier_score" -> classifierOracleSql,

      // Identical codepoint sequences rebuilt via chr(); both engines
      // run their own UAX #15 NFC implementation on them.
      "text_normalize" -> """
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (1000001, 'cafe' || chr(769) || ' deco'),
            (1000002, 'caf' || chr(233) || ' deco'),
            (1000003, 'A' || chr(778) || 'ngstro' || chr(776) || 'm'),
            (1000004, chr(4352) || chr(4449) || ' jamo'),
            (1000005, chr(64257) || 'delity')) v(doc_id, text))
        SELECT doc_id, nfc_normalize(text) AS norm_text,
               CASE WHEN text <> nfc_normalize(text) THEN 1 ELSE 0 END
                 AS changed,
               CAST(length(nfc_normalize(text)) AS INTEGER) AS n_chars_norm
        FROM aug""",

      // k=8 char grams over normalized text, 32-bit md5-prefix hashes,
      // bottom-4 joined — identical gram/hash definitions to the Spark
      // side (conv(substr(md5,1,8)) == from_hex of the first 4 bytes)
      "text_fingerprint_rolling" -> """
        WITH norm AS (
          SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS n
          FROM documents),
        grams AS (
          SELECT doc_id, substr(n, CAST(i AS INTEGER), 8) AS g
          FROM (SELECT doc_id, n,
                       unnest(range(1, greatest(length(n) - 7, 1) + 1)) AS i
                FROM norm)),
        hashed AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) AS h,
                 row_number() OVER (PARTITION BY doc_id ORDER BY
                   CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT), g) AS rn
          FROM grams)
        SELECT doc_id,
               string_agg(CAST(h AS VARCHAR), '-' ORDER BY h) AS fingerprint
        FROM hashed WHERE rn <= 4
        GROUP BY doc_id"""
    )
  }
}
