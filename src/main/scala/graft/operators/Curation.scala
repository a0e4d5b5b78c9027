package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.functions.NormExprs.pround
import graft.queries.QueryPack

/** Corpus-curation operators for a training-data pipeline over the
  * `documents` table: dedup clustering/canonicalization, quality-rule
  * filtering (the Gopher/C4 rule family), intra-document repetition
  * metrics, PII scrubbing, and deterministic sampling / mixture
  * weighting.
  *
  * The corpus-generic entry points are [[connectedComponents]],
  * [[clusterAndCanonicalize]], [[scrubPii]], [[hashUniform]],
  * [[sampleStratified]] and [[mixtureWeighted]]; the `queries` map
  * wraps them in the deterministic oracle fixture (injected duplicate
  * copies, injected PII footer, synthetic per-source rates) so DuckDB
  * can pin exact values.
  *
  * Scale design:
  *  - `connectedComponents` is min-label propagation (the hash-to-min
  *    family): per iteration one shuffle of (id, label) pairs on the
  *    edge key plus a min-aggregate — converges in O(graph diameter)
  *    rounds, and dedup graphs are near-star-shaped (diameter ≤ small
  *    constant), so 2–4 rounds in practice. Lineage is truncated each
  *    round so the plan does not grow with the iteration count.
  *  - every other operator is a pure scan-side projection or a single
  *    hash aggregation — no window sorts, no driver-side loops over
  *    rows.
  *  - sampling is content-hash deterministic (md5-derived uniforms),
  *    so a sample is reproducible across runs, engines, and partition
  *    layouts — the property a training-data pipeline needs for
  *    dataset versioning (unlike `rand()`-based sampling).
  */
object Curation extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Negative-sampling bucket count for `contrastive_pairs`: sized so
    * E[bucket] ≈ 2 over the ~520-doc fixture; at corpus scale B grows
    * with N (B ≈ N/2) and the shape is unchanged. */
  private val NegBuckets = 256L

  /** k-anonymity threshold: QI groups smaller than this are flagged. */
  private val KAnonymityK = 5

  /** Hashed-feature bucket count for `sample_importance_dsir`. 64 keeps
    * the per-doc fold bounded (a doc touches ≤ 64 distinct buckets, so
    * the clamped product stays inside double range without logs);
    * production DSIR uses 10k+ buckets WITH log-domain weights — at
    * that point both engines share libm on one host, but the 64-bucket
    * product form keeps the cross-engine contract libm-free. */
  private val DsirBuckets = 64L

  /** Oracle-fixture augmentation (test/fixture layer, used only by the
    * `queries` below — NOT by the generic operators): exact copies of
    * doc_id 0-9 and suffixed near-copies of 10-19, at doc_id+100000,
    * same construction as [[Dedup]]. */
  private def augmented(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select("doc_id", "text")
    val copies = base.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000).as("doc_id"),
      when(col("doc_id") < 10, col("text"))
        .otherwise(concat(col("text"), lit(" extra suffix tokens"))).as("text"))
    base.unionByName(copies)
  }

  private val augmentedSql = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           CASE WHEN doc_id < 10 THEN text
                ELSE text || ' extra suffix tokens' END AS text
    FROM documents WHERE doc_id < 20"""

  /** Cleaned word tokens (same normalization as [[Dedup]]). */
  private def tokens(t: Column): Column =
    filter(split(regexp_replace(lower(t), "[^a-z0-9 ]", " "), "\\s+"),
      v => length(v) > 0)

  /** 3-word shingles over a staged token-array column (HOFs run
    * interpreted — the array must be a plain attribute, see Dedup). */
  private def shinglesOf(tk: Column): Column =
    when(size(tk) < 3, array(concat_ws(" ", tk)))
      .otherwise(transform(sequence(lit(1), size(tk) - 2), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))

  // --------------------------------------------- connected components

  /** Connected components by min-label propagation. `nodes` carries
    * `id`; `edges` carries `src`/`dst` (treated as undirected). Each
    * round every node adopts the smallest label among itself and its
    * neighbors; a fixpoint means every node holds its component's
    * minimum id. Rounds = graph diameter; dedup graphs (near-cliques
    * around a canonical doc) converge in 2-4. At cluster scale each
    * round is one shuffle of slim (id, label) pairs — the vertex data
    * never carries text — and per-round checkpointing keeps the plan
    * from growing linearly with rounds (lineage blowup is the classic
    * iterative-Spark failure mode).
    *
    * Throws `IllegalStateException` if the labels have not reached a
    * fixpoint within `maxIter` rounds (graph diameter > maxIter) —
    * partial labels silently returned as converged would be a
    * correctness bug, not a performance one.
    *
    * `checkpoint` defaults to `localCheckpoint()`, which stores blocks
    * only on executor block managers: fine locally and for tests, but a
    * single executor loss mid-iteration kills the job unrecoverably.
    * For production-scale runs set a checkpoint dir and pass a reliable
    * variant, e.g. `spark.sparkContext.setCheckpointDir(dir)` then
    * `checkpoint = _.checkpoint()`.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          checkpoint: DataFrame => DataFrame =
                            _.localCheckpoint()): DataFrame = {
    val und = checkpoint(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = checkpoint(nodes.select(col("id"), col("id").as("comp")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"),
          lit(null).cast(nodes.schema("id").dataType).as("old"))
      // The node's own label rides the same aggregation tagged as
      // `old` (exactly one per id; min ignores the prop rows' nulls),
      // so convergence is a filter-count over the NEXT frame — already
      // materialized by the checkpoint — instead of a second
      // labels-vs-next join that would shuffle the vertex set twice
      // per round. comp ≤ old always (old is in the min set), so
      // changed ⟺ comp < old.
      val next = checkpoint(labels
        .select(col("id"), col("comp"), col("comp").as("old"))
        .unionByName(prop)
        .groupBy("id").agg(min("comp").as("comp"), min("old").as("old")))
      changed = next.filter(col("comp") < col("old")).count()
      labels = next.select("id", "comp")
      i += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(graph diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Corpus dedup clustering: the step AFTER candidate generation
    * (minhash/simhash banding) that actually dedups — pairs alone
    * remove nothing until they are clustered and one survivor is
    * chosen per cluster.
    *
    * `documents` carries (`idCol`, `textCol`); `candidatePairs`
    * carries (`src`, `dst`) id pairs from any candidate generator
    * (e.g. [[Dedup]]'s minhash-LSH buckets). Exact duplicates are
    * always edges (md5 group → star to the group min — never a
    * quadratic clique). Candidate pairs become edges only if their
    * shingle-set Jaccard ≥ `jaccardThreshold`; shingles are computed
    * ONLY for ids appearing in some candidate pair (semi-join), so the
    * verification cost scales with the candidate set, not the corpus.
    * Returns (`idCol`, `component`, `is_canonical`) where the
    * component label is the minimum member id and the label holder is
    * the canonical survivor. */
  def clusterAndCanonicalize(documents: DataFrame, idCol: String,
                             textCol: String, candidatePairs: DataFrame,
                             jaccardThreshold: Double = 0.5,
                             checkpoint: DataFrame => DataFrame =
                               _.localCheckpoint()): DataFrame = {
    // checkpointed (r16): the digest frame feeds the root pick AND the
    // exact-edge join — un-checkpointed each consumer re-scanned and
    // re-md5'd the corpus text. Doc-grain (id, 16-byte digest): the
    // "shuffle digests, never text" class, safe to materialize at any
    // corpus size.
    val hashed = checkpoint(
      documents.select(col(idCol), md5(col(textCol)).as("hh")))
    val roots = hashed.groupBy("hh").agg(min(idCol).as("src"))
    val exactE = hashed.join(roots, "hh")
      .filter(col(idCol) =!= col("src"))
      .select(col("src"), col(idCol).as("dst"))
    val candIds = candidatePairs.select(col("src").as("cid"))
      .unionByName(candidatePairs.select(col("dst").as("cid"))).distinct()
    val sh = documents
      .join(candIds, documents(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("cid"), tokens(col(textCol)).as("tk"))
      .select(col("cid"), array_distinct(shinglesOf(col("tk"))).as("sh"))
    val nearE = candidatePairs
      .join(sh.select(col("cid").as("src"), col("sh").as("sh_a")), "src")
      .join(sh.select(col("cid").as("dst"), col("sh").as("sh_b")), "dst")
      .filter(size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= jaccardThreshold)
      .select(col("src"), col("dst"))
    connectedComponents(documents.select(col(idCol).as("id")),
        exactE.unionByName(nearE), checkpoint = checkpoint)
      .select(col("id").as(idCol), col("comp").as("component"),
        when(col("id") === col("comp"), 1).otherwise(0).as("is_canonical"))
  }

  // ----------------------------------------------- PII / regex corpus

  /** Shared regex literals (Java regex ≡ RE2 for this subset, so the
    * DuckDB oracle uses the same strings verbatim). */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[operators] val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[operators] val PiiFooter = " Contact jane.doe@example.com or 555-123-4567 via 10.0.0.42."

  /** PII scrubbing over any text column: counts each class on the raw
    * text, then redacts email → phone → IPv4 in that order. Adds
    * `n_email` / `n_phone` / `n_ip` and replaces `textCol` with the
    * redacted text. Pure scan-side projection — full codegen, no
    * shuffle. */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_email", regexp_count(t, lit(EmailRe)).cast("int"))
      .withColumn("n_phone", regexp_count(t, lit(PhoneRe)).cast("int"))
      .withColumn("n_ip", regexp_count(t, lit(IpRe)).cast("int"))
      .withColumn(textCol,
        regexp_replace(regexp_replace(regexp_replace(
          t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"))
  }

  // ------------------------------------------- deterministic sampling

  /** Content-hash uniform in [0, 1): md5 of (salt, key) → first 32
    * bits. Deterministic across runs/engines/partition layouts —
    * everything `rand()` is not. */
  def hashUniform(key: Column, salt: String): Column =
    conv(substring(md5(concat_ws(":", lit(salt), key.cast("string"))),
      1, 8), 16, 10).cast("long").cast("double") / 4294967296.0

  /** Deterministic stratified sampling: keep a row iff its content-hash
    * uniform is below `rate` (any per-row expression, e.g. a per-source
    * rate map). */
  def sampleStratified(df: DataFrame, rate: Column, key: Column,
                       salt: String = "sample"): DataFrame =
    df.filter(hashUniform(key, salt) < rate)

  /** Weighted sampling WITHOUT replacement via priority sampling
    * (Duffield–Lund–Thorup, JACM 2007): each row gets priority
    * w / u with u a content-hash uniform in (0, 1], and the k
    * largest priorities are the sample — heavier rows enter with
    * proportionally higher probability, no row twice, and the
    * estimator max(w, τ) (τ = the (k+1)-th priority) is unbiased for
    * subset sums. Two properties make it THE weighted subsetter for
    * this engine: (a) it is one scan plus a top-k reduce
    * (TakeOrdered — no global sort, no shuffle of the corpus), and
    * (b) the arithmetic is hash + ONE IEEE division — no
    * transcendentals, so priorities are bit-identical across engines
    * and the DuckDB oracle can pin the selected SET, not just its
    * size (the exponential-keys formulation u^(1/w) would rank by
    * libm pow, whose last-ulp behavior no two engines share).
    * `u = (hash32 + 1) / 2^32` is never zero, so the division is
    * total. */
  def samplePriorityWeighted(df: DataFrame, weight: Column, key: Column,
                             k: Int,
                             salt: String = "priority"): DataFrame =
    df.withColumn("priority", priorityOf(weight, key, salt))
      .orderBy(col("priority").desc, key)
      .limit(k)

  /** The DLT priority: w / u with u = (hash32 + 1) / 2^32 ∈ (0, 1] —
    * never zero, so the division is total. */
  def priorityOf(weight: Column, key: Column,
                 salt: String = "priority"): Column = {
    val u = (conv(substring(md5(concat_ws(":", lit(salt),
        key.cast("string"))), 1, 8), 16, 10).cast("long") + lit(1L))
      .cast("double") / 4294967296.0
    weight.cast("double") / u
  }

  /** Per-stratum priority sampling: the k highest-priority rows WITHIN
    * each group — the quota-per-source picker of a mixture pipeline
    * (global top-k lets one heavy source crowd out the rest; this
    * variant guarantees every stratum its k). A keyed window over
    * per-group rows, so no single task ever holds more than one
    * stratum — the [[samplePriorityWeighted]] scale contract, grouped. */
  def samplePriorityPerGroup(df: DataFrame, group: Column, weight: Column,
                             key: Column, k: Int,
                             salt: String = "priority"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("priority", priorityOf(weight, key, salt))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(group).orderBy(col("priority").desc, key)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Mixture weighting: per-row weight `w` (possibly > 1 — up-sampling).
    * Each row appears in ceil(w) epochs; epoch e keeps the row iff
    * u(key, e) < w − e, so full epochs always keep and the last epoch
    * keeps the fractional remainder — the standard source-mixture
    * construction for training corpora. Adds an `epoch` column. */
  def mixtureWeighted(df: DataFrame, w: Column, key: Column,
                      salt: String = "mix"): DataFrame =
    df.withColumn("epoch",
        explode(sequence(lit(0), ceil(w).cast("int") - 1)))
      .filter(hashUniform(concat_ws(":", key.cast("string"),
        col("epoch").cast("string")), salt) < w - col("epoch"))

  /** Temperature-scaled language rebalancing (the multilingual-corpus
    * recipe from the mT5/XLM-R line): sample language l at a rate
    * ∝ (n_l)^α / n_l = n_l^(α−1), normalized so the RAREST language
    * keeps everything — α=1 reproduces the corpus, α→0 approaches
    * uniform-over-languages. Closed form: keep_rate(l) =
    * n_l^(α−1) / max_m n_m^(α−1) — the normalizer cancels, so no
    * per-language target count needs tuning. Selection is the
    * content-hash uniform ([[hashUniform]]) — deterministic across
    * runs, engines and layouts; the one `pow` rides through `pround`
    * so a last-ulp libm disagreement cannot flip a row. Rates come
    * from one tiny aggregate (|languages| rows) broadcast back onto
    * the corpus: scan-local selection, no shuffle of document data. */
  def temperatureResample(df: DataFrame, langCol: Column, key: Column,
                          alpha: Double, salt: String = "temp"): DataFrame = {
    import graft.functions.NormExprs.pround
    val rates = df.groupBy(langCol.as("lang_key"))
      .agg(count(lit(1)).as("n_lang"))
      .select(col("lang_key"),
        pow(col("n_lang").cast("double"), lit(alpha - 1.0)).as("g"))
    val gmax = rates.agg(max(col("g")).as("g_max"))
    df.join(broadcast(rates.crossJoin(broadcast(gmax))
        .select(col("lang_key"),
          pround(col("g") / col("g_max"), 6).as("keep_rate"))),
        langCol === col("lang_key"))
      .filter(hashUniform(key, salt) < col("keep_rate"))
      .drop("lang_key")
  }

  /** Gopher-style stopword set (presence, not frequency). */
  private val Stopwords = Seq("the", "be", "to", "of", "and", "that",
    "have", "with")

  /** Query-private centroid sidecar for `sample_cluster_balanced` —
    * the dedup_semantic convention: the query persists the centroids
    * it assigned under, the oracle re-derives the assignment from the
    * same frame. */
  private val oracleClusterCentroidSidecar: String =
    Scratch.path("graft_cluster_balance_centroids")

  def queries: Map[String, QFn] = Map(
    // k-anonymity audit — the release gate next to PII scrubbing: can
    // an individual be singled out by quasi-identifiers alone? Each
    // user reduces to a QI profile (activity band, spend band,
    // dominant event type); profiles shared by fewer than K users are
    // re-identification risks. Three aggregates, all
    // map-side-combinable: (user, type) counts → per-user argmax via
    // max(struct) (no window sort), per-user bands with the
    // DECIMAL-exact spend sum (fp accumulation order must not move a
    // user across a band boundary), then QI-grain group sizes.
    "privacy_k_anonymity" -> ((s, d) => {
      val ev = graft.Tables.load(s, d, "events")
      val topType = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(max(struct(col("cnt"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("top_type"))
      val bands = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
        .select(col("user_id"),
          floor(col("n_events") / lit(5.0)).cast("int").as("band_events"),
          floor(col("sv").cast("double") / col("n_events") / lit(10.0))
            .cast("int").as("band_value"))
      bands.join(topType, "user_id")
        .groupBy("band_events", "band_value", "top_type")
        .agg(count(lit(1)).as("n_users"))
        .select(col("band_events"), col("band_value"), col("top_type"),
          col("n_users"),
          when(col("n_users") < KAnonymityK, 1).otherwise(0).as("at_risk"))
    }),

    // Dedup clustering via the generic operator: the fixture supplies
    // the injected candidate pairs (src, src+100000) so the oracle
    // stays deterministic; at corpus scale the pairs come from
    // MinHash-LSH banding (dedup_minhash_lsh).
    "dedup_cluster_canonical" -> ((s, d) => {
      val aug = augmented(s, d)
      val pairs = aug.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("src"), col("doc_id").as("dst"))
      clusterAndCanonicalize(aug, "doc_id", "text", pairs)
    }),

    // Gopher-rule quality gate (Rae et al. 2021 §A1.1 thresholds):
    // word count, mean word length, symbol-to-word ratio, stopword
    // presence — each reported, plus the combined pass flag. Pure
    // scan-side projection: full codegen, no shuffle.
    "text_gopher_filter" -> ((s, d) => {
      val t = col("text")
      val wordCnt = size(split(trim(t), "\\s+"))
      val meanLen = pround(
        length(regexp_replace(t, "\\s", "")).cast("double") / wordCnt, 2)
      val symRatio = pround(
        regexp_count(t, lit("#|\\.\\.\\.")).cast("double") / wordCnt, 4)
      val stopHits = Stopwords.map(w =>
        when(lower(t).rlike(s"\\b$w\\b"), 1).otherwise(0))
        .reduce(_ + _)
      docs(s, d).filter(length(t) > 0)
        .select(col("doc_id"), wordCnt.as("word_cnt"),
          meanLen.as("mean_word_len"), symRatio.as("symbol_ratio"),
          stopHits.as("stop_hits"))
        .withColumn("gopher_pass",
          when(col("word_cnt").between(50, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") < 0.1 &&
            col("stop_hits") >= 2, 1).otherwise(0))
    }),

    // Intra-document repetition (the Gopher repetition family):
    // duplicate-2-gram fraction from the staged gram array, plus the
    // top-unigram share via one explode + two-level aggregation
    // (partial combine on (doc_id, tok) first, so the shuffle carries
    // counts, not tokens-per-occurrence).
    "text_repetition" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      val g2 = tok.select(col("doc_id"),
        when(size(col("tk")) < 2, array())
          .otherwise(transform(sequence(lit(1), size(col("tk")) - 1), i =>
            concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1)))).as("g2"))
        .select(col("doc_id"),
          when(size(col("g2")) === 0, lit(0.0))
            .otherwise(pround(lit(1.0) -
              size(array_distinct(col("g2"))).cast("double") /
                size(col("g2")), 4)).as("dup_2gram_frac"))
      // positions-explode (the Decontaminate trap: a computed array in
      // the generator is re-evaluated per emitted element); outer +
      // null filter so no scan-side size() filter is inferred
      // (InferFiltersFromGenerate, SURVEY §4)
      val uni = tok
        .select(col("doc_id"), col("tk"),
          explode_outer(when(size(col("tk")) < 1, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk"))))).as("i"))
        .filter(col("i").isNotNull)
        .select(col("doc_id"), element_at(col("tk"), col("i")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          pround(max(col("c")).cast("double") / sum(col("c")), 4)
            .as("top_token_share"))
      g2.join(uni, "doc_id")
    }),

    // PII scrubbing via the generic operator. The fixture injects a
    // PII footer on every 7th doc (the synthetic corpus carries none) —
    // both sides build the identical augmentation.
    "text_pii_scrub" -> ((s, d) => {
      val withPii = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(PiiFooter)))
          .otherwise(col("text")).as("text"))
      scrubPii(withPii, "text")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
          md5(col("text")).as("scrubbed_hash"))
    }),

    // Stratified sampling via the generic kernel, with a fixture rate
    // derived from the numeric source-id suffix ("src<N>" — the whole
    // suffix, matching the oracle's substr(source, 4); non-numeric
    // suffixes would yield a null rate here and a CAST error in
    // DuckDB, so the fixture assumption is explicit on both sides).
    // Priority sampling: the 50 highest-priority docs under
    // length-proportional weights — the quality-weighted subset
    // selector of a mixture pipeline. Set-exact cross-engine (hash +
    // one IEEE division, no libm).
    "sample_priority_weighted" -> ((s, d) =>
      samplePriorityWeighted(docs(s, d), col("n_chars"), col("doc_id"),
          k = 50)
        .select(col("doc_id"), col("source"), col("n_chars"),
          graft.functions.NormExprs.pround(col("priority"), 4)
            .as("priority"))),

    // Per-source quota: the 5 highest-priority docs WITHIN each
    // source — no source crowds out another.
    "sample_priority_per_source" -> ((s, d) =>
      samplePriorityPerGroup(docs(s, d), col("source"), col("n_chars"),
          col("doc_id"), k = 5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          graft.functions.NormExprs.pround(col("priority"), 4)
            .as("priority"))),

    // Cluster-balanced sampling — the embedding-space twin of the
    // per-source quota: k-means buckets (the deterministic sampled
    // Lloyd of [[Similarity.kmeansCentroids]], centroids persisted so
    // the oracle assigns under the SAME definition), every vector
    // assigned scan-side against the broadcast centroids, then the
    // 10 highest-priority vectors WITHIN each cluster. The standard
    // remedy when a training mixture over-represents one dense region
    // of embedding space: no cluster can crowd out another, selection
    // within a cluster is the unbiased DLT priority draw. One corpus
    // scan + one keyed window — no all-pairs, no global sort.
    "sample_cluster_balanced" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 8)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(oracleClusterCentroidSidecar)
      val assigned = Similarity.assignBuckets(e, "vec_id", "embedding",
        cents)
      samplePriorityPerGroup(
          assigned.select(col("vec_id"), col("bucket")),
          col("bucket"), lit(1.0), col("vec_id"), k = 10,
          salt = "cluster")
        .select(col("bucket"), col("vec_id"),
          pround(col("priority"), 4).as("priority"))
    }),

    "sample_hash_stratified" -> ((s, d) => {
      val rate = (substring(col("source"), 4, Int.MaxValue).cast("int")
        % 4 + 1).cast("double") * 0.2
      val u = hashUniform(col("doc_id"), "sample")
      docs(s, d).select(col("doc_id"), col("source"),
          rate.as("rate"), u.as("u"))
        .filter(col("u") < col("rate"))
        .select(col("doc_id"), col("source"), pround(col("u"), 6).as("u"))
    }),

    // Mixture weighting via the generic operator; per-source fixture
    // weights in [0.3, 2.7] exercise both up- and down-sampling.
    "sample_mixture_weighted" -> ((s, d) => {
      val w = (substring(col("source"), 4, Int.MaxValue).cast("int") % 5)
        .cast("double") * 0.6 + 0.3
      mixtureWeighted(docs(s, d).select(col("doc_id"), col("source"),
          w.as("w")), col("w"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // Language rebalancing at α=0.5: en (218 docs at sf0.01) is
    // downsampled to ~sqrt(64/218)≈0.54 while fr (64) keeps 1.0.
    "sample_lang_temperature" -> ((s, d) =>
      temperatureResample(docs(s, d).select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("keep_rate"))),

    // T5-style span-corruption example generation: deterministic
    // denoising spans for a masked-span training objective. Span
    // starts are content-hash coins per (doc, pos) (~8% of positions),
    // each start masks itself + the next 2 tokens; overlapping or
    // adjacent masks merge into maximal spans, numbered per doc in
    // position order — the sentinel ids a seq2seq target needs.
    // 100 TB shape (r13, replacing the exploded-token windows that
    // PlanLint's window-sort-expanded rule now flags): the coin md5s
    // run CODEGEN'd on the exploded (pos, flag, tok) rows, ONE hash
    // aggregate gathers each doc's rows back into a position-sorted
    // array (bounded by doc length — the same exchange volume the old
    // windows paid, minus their full-stream sort), and every piece of
    // span math above it — the 2-PRECEDING mask dilation, the
    // gaps-and-islands merge, the per-span token join — runs in ONE
    // projection whose lambdas reference only the AGGREGATE's output
    // attribute. That last constraint is load-bearing: a lambda that
    // references a sibling projection's array alias gets that alias
    // INLINED by CollapseProject (structurally it is "referenced
    // once"), so each element access rebuilds the whole upstream
    // array — the first cut of this rewrite staged flags/masked as
    // chained withColumns and went O(tokens²), 15 s vs 1.5 s at
    // sf0.1. An Aggregate is a collapse barrier; an attribute
    // reference cannot be inlined. The gaps-and-islands merge itself
    // is fold-free: a span START is a masked position whose
    // predecessor is unmasked, an END one whose successor is, and
    // runs are ordered so the i-th start pairs the i-th end — one
    // zip_with, O(tokens) per doc. span_id is the explode ordinal
    // (spans emerge in position order).
    "augment_span_corruption" -> ((s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), TextAnalysis.tokCol(col("text")).as("tk"))
      val rows = base
        .select(col("doc_id"), posexplode_outer(col("tk"))
          .as(Seq("p0", "tok")))
        .filter(col("tok").isNotNull)
        .select(col("doc_id"),
          (col("p0") + 1).cast("int").as("pos"), col("tok"),
          (hashUniform(concat_ws(":", col("doc_id"), col("p0") + 1),
            "t5span") < 0.08).cast("int").as("flag"))
      val perDoc = rows.groupBy("doc_id")
        .agg(array_sort(collect_list(
          struct(col("pos"), col("flag"), col("tok")))).as("tfs"))
      val n = size(col("tfs"))
      // masked(p) = any start flag in [p-2, p] — O(3) element reads of
      // the tfs ATTRIBUTE per call, never a rebuilt array
      def maskedAt(p: Column): Column = {
        val s0 = greatest(p - 2, lit(1))
        exists(slice(col("tfs"), s0, p - s0 + 1), x => x("flag") === 1)
      }
      val positions = when(n < 1, array().cast("array<int>"))
        .otherwise(sequence(lit(1), n))
      val spans = perDoc.withColumn("spans", zip_with(
        filter(positions, p =>
          maskedAt(p) && (p === 1 || !maskedAt(p - 1))),
        filter(positions, p =>
          maskedAt(p) && (p === n || !maskedAt(p + 1))),
        // the per-span token join happens HERE, at doc grain, so the
        // explode below never carries the doc-sized tfs array per row
        (st, en) => struct(st.cast("int").as("s"), en.cast("int").as("e"),
          array_join(transform(sequence(st, en),
            i => element_at(col("tfs"), i)("tok")), "|").as("mt"))))
      spans
        // explode_outer + null filter per the InferFiltersFromGenerate
        // trap (SURVEY §4)
        .select(col("doc_id"), posexplode_outer(col("spans"))
          .as(Seq("i", "sp")))
        .filter(col("sp").isNotNull)
        .select(col("doc_id"),
          (col("i") + 1).as("span_id"),
          col("sp")("s").as("start_pos"),
          (col("sp")("e") - col("sp")("s") + 1).cast("long").as("span_len"),
          col("sp")("mt").as("masked_tokens"))
    }),

    // Snapshot diff via the generic operator; the fixture's "next
    // version" drops doc_id%31==7, revises doc_id%23==5, and adds the
    // familiar +100000 injected docs — all four statuses populated.
    "corpus_snapshot_diff" -> ((s, d) => {
      val cur = docs(s, d).select(col("doc_id"), col("text"))
      val next = cur.filter(col("doc_id") % 31 =!= 7)
        .select(col("doc_id"),
          when(col("doc_id") % 23 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(cur.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000).as("doc_id"),
          when(col("doc_id") < 10, col("text"))
            .otherwise(concat(col("text"), lit(" extra suffix tokens")))
            .as("text")))
      snapshotDiff(cur, next, "doc_id", "text")
    }),

    // Contrastive pair mining — the training-set constructor for
    // embedding/retrieval models: positive pairs from duplicate
    // content, negative pairs sampled deterministically. Positives =
    // same content hash (the exact-dup clusters; cluster size bounds
    // the pair fan-out exactly as in dedup_exact). Negatives avoid the
    // global-sort trap (a corpus-wide row_number would funnel 100 TB
    // through one partition): every doc hashes into one of B seeded
    // buckets (E[size] ≈ 2), and each bucket emits its (min, max) id
    // pair when the contents differ — one groupBy, fully map-side
    // combinable, deterministic from (seed, id) alone.
    "contrastive_pairs" -> ((s, d) => {
      val h = augmented(s, d)
        .select(col("doc_id"), md5(col("text")).as("hh"))
      val pos = h.select(col("doc_id").as("doc_a"), col("hh"))
        .join(h.select(col("doc_id").as("doc_b"), col("hh")), "hh")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), lit(1).as("label"))
      val neg = h
        .withColumn("bk",
          conv(substring(md5(concat(lit("neg:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
            % NegBuckets)
        .groupBy("bk")
        .agg(min(col("doc_id")).as("doc_a"), max(col("doc_id")).as("doc_b"),
          min_by(col("hh"), col("doc_id")).as("ha"),
          max_by(col("hh"), col("doc_id")).as("hb"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 2 && col("ha") =!= col("hb"))
        .select(col("doc_a"), col("doc_b"), lit(0).as("label"))
      pos.unionByName(neg)
    }),

    // Corpus datacard: the release-notes table every dataset ships
    // with — volumes by source, by language, by (source, language),
    // and the global line — in ONE pass. Spark-first shape: `cube`
    // compiles to a single Expand + hash aggregate with map-side
    // partial combine, so the corpus is scanned once and shuffled once
    // (as already-partial per-group sums) no matter how many grouping
    // sets ship; four separate GROUP BYs would scan it four times.
    // grouping_id disambiguates rollup NULLs from genuine NULL values
    // — both engines encode it with the leftmost column as the high
    // bit.
    "corpus_datacard" -> ((s, d) =>
      docs(s, d)
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          pround(sum(col("n_chars")).cast("double") / count(lit(1)), 2)
            .as("avg_chars"),
          grouping_id().as("gid"))),

    // Group-aware (leakage-safe) train/val/test split: near-duplicate
    // documents must land in the SAME split, or eval examples leak
    // into training through their near-copies — the classic benchmark
    // inflation bug. Split at CLUSTER granularity: components over
    // the dedup edge list (here the injected-pair fixture; in
    // production the pairs come from any dedup family upstream), then
    // an md5-uniform on the component id buckets 80/10/10. Content-
    // hash determinism means the split is stable across runs, engines
    // and partition layouts — a versioned-dataset property, not a
    // rand() draw. Scale: CC is the min-label loop (diameter-bounded
    // rounds, see [[connectedComponents]]); the assignment itself is
    // one scan-side projection, no extra shuffle.
    // Importance resampling toward a target distribution (the DSIR
    // recipe — Xie et al. 2023, "Data Selection via Importance
    // Resampling": hashed n-gram features, importance weight =
    // target/raw likelihood ratio, then a weighted coin per doc).
    // Features are md5-hashed unigram buckets (B=64,
    // presence-Bernoulli with Laplace smoothing). The weight is a
    // PRODUCT of per-bucket ratios clamped to [0.25, 4] (the variance
    // clip), folded in ascending-bucket order — a fixed fold the
    // oracle replays exactly, so no libm log/exp enters the contract.
    // FIXTURE: the synthetic corpus draws every doc's tokens from ONE
    // shared vocabulary (no lang/source signal to select on), so the
    // oracle-facing wrapper injects the signal — marker tokens on the
    // doc_id%3 family, with the %21 subfamily declared the target.
    // DSIR must then pull the marked NON-target docs into the kept
    // set: exactly the "looks like the target" selection the
    // operator exists for, and the CurationSpec enrichment assert.
    // Scale shape: the 64-row ratio table broadcasts; per-doc work is
    // one map-side-combined gather of its distinct buckets + a
    // scan-local fold; the only corpus-wide exchanges are the
    // bucket-count aggregate and the scalar max — no global sort.
    "sample_importance_dsir" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" dsir target marker corpus slice")))
          .otherwise(col("text")).as("text"),
        (col("doc_id") % 21 === 0).as("is_target"))
      val present = base
        .select(col("doc_id"), col("is_target"),
          explode(tokens(col("text"))).as("token"))
        .select(col("doc_id"), col("is_target"),
          (conv(substring(md5(col("token")), 1, 4), 16, 10)
            .cast("long") % DsirBuckets).as("b"))
        .distinct()
      val totals = base.agg(
        sum(when(col("is_target"), 1).otherwise(0))
          .cast("double").as("nt"),
        count(lit(1)).cast("double").as("nr"))
      val ratios = present.groupBy("b").agg(
        sum(when(col("is_target"), 1).otherwise(0))
          .cast("double").as("t"),
        count(lit(1)).cast("double").as("r"))
        .crossJoin(broadcast(totals))
        .select(col("b"), least(greatest(
          ((col("t") + 1.0) / (col("nt") + 2.0)) /
            ((col("r") + 1.0) / (col("nr") + 2.0)),
          lit(0.25)), lit(4.0)).as("ratio"))
      // gather each doc's ratios SORTED by bucket, then fold — the
      // array must be a plain attribute before the HOF runs (the
      // staged-array convention; see the §4 HOF notes)
      val gathered = present.join(broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("b"), col("ratio"))))
          .as("rs"))
      val weighted = gathered.select(col("doc_id"),
        aggregate(transform(col("rs"), x => x.getField("ratio")),
          lit(1.0), (acc, x) => acc * x).as("w"))
      val wmax = weighted.agg(max(col("w")).as("wmax"))
      weighted.crossJoin(broadcast(wmax))
        .select(col("doc_id"), (col("w") / col("wmax")).as("wn"))
        .filter(hashUniform(col("doc_id"), "dsir") < col("wn"))
        .select(col("doc_id"), pround(col("wn"), 6).as("importance"))
    }),

    "split_group_aware" -> ((s, d) => {
      val aug = augmented(s, d)
      val pairs = aug.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("src"), col("doc_id").as("dst"))
      val comp = connectedComponents(
        aug.select(col("doc_id").as("id")), pairs)
      val u = hashUniform(col("comp"), "split")
      comp.select(col("id").as("doc_id"), col("comp").as("component"),
        when(u < 0.8, "train").when(u < 0.9, "val")
          .otherwise("test").as("split"))
    })
  )

  /** Dataset-versioning diff between two corpus snapshots: per id,
    * `added` / `removed` / `changed` / `unchanged` by content hash.
    * The primitive behind incremental reprocessing (feed `added` ∪
    * `changed` to the ingest delta paths) and release auditing.
    *
    * Scale shape: texts never shuffle — each side reduces scan-side to
    * (id, md5) and the full-outer join moves 16-byte digests only;
    * with both snapshots bucketed on the id the join is exchange-free
    * ([[graft.sources.BucketedTables]]). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), md5(col(textCol)).as("h_old"))
    val n = newSnap.select(col(idCol), md5(col(textCol)).as("h_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") === col("h_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Jaccard CTEs shared with the cluster oracle (mirrors the Spark
    * shingle construction exactly, incl. the <3-token fallback). */
  private val jaccardCtes = """
      tok AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
          x -> x <> '') AS tk
        FROM aug WHERE doc_id < 20 OR doc_id >= 100000),
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(range(1, len(tk) - 1), i ->
                   tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1] ||
                   ' ' || tk[CAST(i AS INTEGER) + 2]) END) AS s
          FROM tok)),
      cpairs AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id < 20) a
        JOIN (SELECT DISTINCT doc_id FROM sh WHERE doc_id >= 100000) b
          ON b.doc_id = a.doc_id + 100000),
      inter AS (
        SELECT p.src, p.dst, COUNT(*) AS n_shared
        FROM cpairs p
        JOIN sh x ON x.doc_id = p.src
        JOIN sh y ON y.doc_id = p.dst AND y.s = x.s
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      near_e AS (
        SELECT p.src, p.dst
        FROM cpairs p
        LEFT JOIN inter i ON i.src = p.src AND i.dst = p.dst
        JOIN sizes sa ON sa.doc_id = p.src
        JOIN sizes sb ON sb.doc_id = p.dst
        WHERE coalesce(i.n_shared, 0) * 1.0 /
              (sa.n + sb.n - coalesce(i.n_shared, 0)) >= 0.5)"""

  def oracles: Map[String, String] = {
    val stopSql = Stopwords.map(w =>
      s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
      .mkString(" + ")
    Map(
      // per-user argmax mirrored as (cnt DESC, event_type DESC) — the
      // max(struct) total order; the spend sum is DECIMAL on both
      // engines before the one double divide
      "privacy_k_anonymity" -> s"""
        WITH tt AS (
          SELECT user_id, event_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY COUNT(*) DESC, event_type DESC) AS rn
            FROM events GROUP BY user_id, event_type)
          WHERE rn = 1),
        bands AS (
          SELECT user_id,
                 CAST(floor(COUNT(*) / 5.0) AS INTEGER) AS band_events,
                 CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                     AS DOUBLE) / COUNT(*) / 10.0) AS INTEGER)
                   AS band_value
          FROM events GROUP BY user_id)
        SELECT b.band_events, b.band_value, t.event_type AS top_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CASE WHEN COUNT(*) < $KAnonymityK THEN 1 ELSE 0 END
                 AS at_risk
        FROM bands b JOIN tt t USING (user_id)
        GROUP BY 1, 2, 3""",

      "dedup_cluster_canonical" -> s"""WITH RECURSIVE aug AS ($augmentedSql),
        h AS (SELECT doc_id, md5(text) AS hh FROM aug),
        roots AS (SELECT hh, min(doc_id) AS src FROM h GROUP BY 1),
        exact_e AS (
          SELECT r.src, h.doc_id AS dst FROM h
          JOIN roots r ON r.hh = h.hh WHERE h.doc_id <> r.src),
        $jaccardCtes,
        edges AS (
          SELECT src, dst FROM exact_e
          UNION SELECT dst, src FROM exact_e
          UNION SELECT src, dst FROM near_e
          UNION SELECT dst, src FROM near_e),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM aug
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
        SELECT id AS doc_id, min(comp) AS component,
               CASE WHEN id = min(comp) THEN 1 ELSE 0 END AS is_canonical
        FROM reach GROUP BY id""",

      "text_gopher_filter" -> s"""
        WITH m AS (
          SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
              AS word_cnt,
            floor((length(regexp_replace(text, '\\s', '', 'g')) * 1.0 /
                  len(string_split_regex(trim(text), '\\s+'))) * 100.0 + 0.5)
              / 100.0 AS mean_word_len,
            floor((len(regexp_extract_all(text, '#|\\.\\.\\.')) * 1.0 /
                  len(string_split_regex(trim(text), '\\s+'))) * 10000.0 + 0.5)
              / 10000.0 AS symbol_ratio,
            CAST($stopSql AS INTEGER) AS stop_hits
          FROM documents WHERE length(text) > 0)
        SELECT doc_id, word_cnt, mean_word_len, symbol_ratio, stop_hits,
               CASE WHEN word_cnt BETWEEN 50 AND 100000
                     AND mean_word_len BETWEEN 3.0 AND 10.0
                     AND symbol_ratio < 0.1
                     AND stop_hits >= 2 THEN 1 ELSE 0 END AS gopher_pass
        FROM m""",

      "text_repetition" -> """
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
            x -> x <> '') AS tk
          FROM documents),
        g2 AS (
          SELECT doc_id,
            CASE WHEN len(tk) < 2 THEN []
                 ELSE list_transform(range(1, len(tk)), i ->
                   tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])
            END AS g2
          FROM tok),
        dup AS (
          SELECT doc_id,
            CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE floor((1.0 - len(list_distinct(g2)) * 1.0 / len(g2))
                      * 10000.0 + 0.5) / 10000.0 END AS dup_2gram_frac
          FROM g2),
        uc AS (
          SELECT doc_id, t AS tok, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(tk) AS t FROM tok)
          GROUP BY 1, 2),
        uni AS (
          SELECT doc_id,
            floor((max(c) * 1.0 / sum(c)) * 10000.0 + 0.5) / 10000.0
              AS top_token_share
          FROM uc GROUP BY 1)
        SELECT d.doc_id, d.dup_2gram_frac, u.top_token_share
        FROM dup d JOIN uni u ON u.doc_id = d.doc_id""",

      "text_pii_scrub" -> s"""
        WITH p AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN text || '$PiiFooter'
                 ELSE text END AS text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_email,
          CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INTEGER) AS n_phone,
          CAST(len(regexp_extract_all(text, '$IpRe')) AS INTEGER) AS n_ip,
          md5(regexp_replace(regexp_replace(regexp_replace(text,
            '$EmailRe', '<EMAIL>', 'g'),
            '$PhoneRe', '<PHONE>', 'g'),
            '$IpRe', '<IP>', 'g')) AS scrubbed_hash
        FROM p""",

      "sample_priority_weighted" -> """
        WITH p AS (
          SELECT doc_id, source, n_chars,
            CAST(n_chars AS DOUBLE) /
              ((CAST(('0x' || substr(md5('priority:' ||
                  CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                / 4294967296.0) AS priority
          FROM documents),
        r AS (SELECT *, row_number() OVER (
                ORDER BY priority DESC, doc_id) AS rn FROM p)
        SELECT doc_id, source, n_chars,
               floor(priority * 10000.0 + 0.5) / 10000.0 AS priority
        FROM r WHERE rn <= 50""",

      "sample_priority_per_source" -> """
        WITH p AS (
          SELECT doc_id, source, n_chars,
            CAST(n_chars AS DOUBLE) /
              ((CAST(('0x' || substr(md5('priority:' ||
                  CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                / 4294967296.0) AS priority
          FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY priority DESC, doc_id) AS rn FROM p)
        SELECT doc_id, source, n_chars,
               floor(priority * 10000.0 + 0.5) / 10000.0 AS priority
        FROM r WHERE rn <= 5""",

      // assignment re-derived in SQL from the persisted centroids
      // (argmax cosine, ties to the lowest centroid_id — the
      // assignBuckets tie-break), then the same DLT priority per
      // cluster
      "sample_cluster_balanced" -> s"""
        WITH cents AS (
          SELECT centroid_id, cent
          FROM read_parquet('$oracleClusterCentroidSidecar/*.parquet')),
        adots AS (
          SELECT e.vec_id, c.centroid_id,
                 SUM(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) *
                     CAST(cent[CAST(i AS INTEGER)] AS DOUBLE)) AS dp,
                 SUM(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) *
                     CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS na,
                 SUM(CAST(cent[CAST(i AS INTEGER)] AS DOUBLE) *
                     CAST(cent[CAST(i AS INTEGER)] AS DOUBLE)) AS nb
          FROM embeddings e, cents c, range(1, 65) r(i)
          GROUP BY 1, 2),
        assigned AS (
          SELECT vec_id, bucket FROM (
            SELECT vec_id, centroid_id AS bucket,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC,
                              centroid_id) AS rn
            FROM adots) WHERE rn = 1),
        p AS (
          SELECT bucket, vec_id,
            CAST(1.0 AS DOUBLE) /
              ((CAST(('0x' || substr(md5('cluster:' ||
                  CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                / 4294967296.0) AS priority
          FROM assigned),
        r AS (SELECT *, row_number() OVER (PARTITION BY bucket
                ORDER BY priority DESC, vec_id) AS rn FROM p)
        SELECT bucket, vec_id,
               floor(priority * 10000.0 + 0.5) / 10000.0 AS priority
        FROM r WHERE rn <= 10""",

      "sample_hash_stratified" -> """
        WITH s AS (
          SELECT doc_id, source,
            (CAST(substr(source, 4) AS INTEGER) % 4 + 1) *
              CAST(0.2 AS DOUBLE) AS rate,
            CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)),
              1, 8)) AS BIGINT) / 4294967296.0 AS u
          FROM documents)
        SELECT doc_id, source,
               floor(u * 1000000.0 + 0.5) / 1000000.0 AS u
        FROM s WHERE u < rate""",

      "sample_mixture_weighted" -> """
        WITH w AS (
          SELECT doc_id, source,
            (CAST(substr(source, 4) AS INTEGER) % 5) * CAST(0.6 AS DOUBLE)
              + CAST(0.3 AS DOUBLE) AS w
          FROM documents),
        e AS (
          SELECT doc_id, source, w,
            unnest(range(0, CAST(ceil(w) AS BIGINT))) AS epoch
          FROM w)
        SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch
        FROM e
        WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)
              || ':' || CAST(epoch AS VARCHAR)), 1, 8)) AS BIGINT)
              / 4294967296.0 < w - epoch""",

      // Same coin, same 2-PRECEDING mask window, same islands trick.
      "augment_span_corruption" -> s"""
        WITH tok AS (${TextAnalysis.tokCteSql}),
        toks AS (SELECT doc_id, unnest(tk) AS token,
                        generate_subscripts(tk, 1) AS pos
                 FROM tok),
        flagged AS (
          SELECT doc_id, pos, token,
            CASE WHEN CAST(('0x' || substr(md5('t5span:' ||
                   CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 < 0.08
                 THEN 1 ELSE 0 END AS start_flag
          FROM toks),
        masked AS (
          SELECT doc_id, pos, token,
                 MAX(start_flag) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS is_masked
          FROM flagged),
        isl AS (
          SELECT doc_id, pos, token,
                 pos - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS grp
          FROM masked WHERE is_masked = 1),
        spans AS (
          SELECT doc_id, grp, CAST(MIN(pos) AS INTEGER) AS start_pos,
                 COUNT(*) AS span_len,
                 array_to_string(list(token ORDER BY pos), '|')
                   AS masked_tokens
          FROM isl GROUP BY 1, 2)
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY start_pos) AS INTEGER) AS span_id,
               start_pos, CAST(span_len AS BIGINT) AS span_len,
               masked_tokens
        FROM spans""",

      "sample_lang_temperature" -> """
        WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        g AS (SELECT lang, pow(CAST(n AS DOUBLE), -0.5) AS g FROM c),
        r AS (SELECT lang,
                floor(g / (SELECT MAX(g) FROM g) * 1000000.0 + 0.5)
                  / 1000000.0 AS keep_rate
              FROM g)
        SELECT d.doc_id, d.lang, r.keep_rate
        FROM documents d JOIN r ON d.lang = r.lang
        WHERE CAST(('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)),
              1, 8)) AS BIGINT) / 4294967296.0 < r.keep_rate""",

      // Same fixture construction, same content-hash diff semantics;
      // FULL OUTER join nullity drives the status exactly like the
      // Spark when-chain.
      "corpus_snapshot_diff" -> """
        WITH oldv AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        newv AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 23 = 5 THEN text || ' rev2'
                          ELSE text END) AS h_new
          FROM documents WHERE doc_id % 31 <> 7
          UNION ALL
          SELECT doc_id + 100000,
                 md5(CASE WHEN doc_id < 10 THEN text
                          ELSE text || ' extra suffix tokens' END)
          FROM documents WHERE doc_id < 20)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.h_old IS NULL THEN 'added'
                    WHEN n.h_new IS NULL THEN 'removed'
                    WHEN o.h_old = n.h_new THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM oldv o FULL OUTER JOIN newv n ON n.doc_id = o.doc_id""",

      // Positives via the content-hash self-join, negatives via the
      // same seeded bucket (min, max, min_by/max_by content check).
      "contrastive_pairs" -> s"""WITH aug AS ($augmentedSql),
        h AS (SELECT doc_id, md5(text) AS hh FROM aug),
        pos AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS label
          FROM h a JOIN h b ON b.hh = a.hh AND a.doc_id < b.doc_id),
        nb AS (
          SELECT doc_id, hh,
                 CAST(('0x' || substr(md5('neg:' ||
                   CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % $NegBuckets AS bk
          FROM h),
        neg AS (
          SELECT MIN(doc_id) AS doc_a, MAX(doc_id) AS doc_b,
                 min_by(hh, doc_id) AS ha, max_by(hh, doc_id) AS hb,
                 COUNT(*) AS n
          FROM nb GROUP BY bk)
        SELECT doc_a, doc_b, label FROM pos
        UNION ALL
        SELECT doc_a, doc_b, 0 AS label FROM neg
        WHERE n >= 2 AND ha <> hb""",

      // CUBE twin: same four grouping sets, GROUPING() bit order
      // matches Spark's grouping_id (leftmost = high bit), and the
      // mean is spelled as the same exact-int division on both sides.
      "corpus_datacard" -> """
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               floor((CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) * 100.0
                 + 0.5) / 100.0 AS avg_chars,
               CAST(GROUPING(source, lang) AS BIGINT) AS gid
        FROM documents GROUP BY CUBE (source, lang)""",

      // The ratio table, sorted-bucket fold, max-normalization and
      // md5-uniform coin all replay the Spark arithmetic verbatim —
      // list_prepend(1.0) makes list_reduce's fold order identical to
      // Spark's aggregate(arr, 1.0, *).
      "sample_importance_dsir" -> """
        WITH base AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0
                 THEN text || ' dsir target marker corpus slice'
                 ELSE text END AS text,
            (doc_id % 21 = 0) AS is_target
          FROM documents),
        tok AS (
          SELECT doc_id, is_target, unnest(list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\s+'),
            x -> x <> '')) AS token
          FROM base),
        present AS (
          SELECT DISTINCT doc_id, is_target,
            CAST(('0x' || substr(md5(token), 1, 4)) AS BIGINT) % 64 AS b
          FROM tok),
        totals AS (
          SELECT CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END)
                   AS DOUBLE) AS nt,
                 CAST(COUNT(*) AS DOUBLE) AS nr
          FROM base),
        ratio AS (
          SELECT b, least(greatest(
            ((CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END)
                AS DOUBLE) + 1.0) / ((SELECT nt FROM totals) + 2.0)) /
            ((CAST(COUNT(*) AS DOUBLE) + 1.0) /
              ((SELECT nr FROM totals) + 2.0)),
            CAST(0.25 AS DOUBLE)), CAST(4.0 AS DOUBLE)) AS ratio
          FROM present GROUP BY b),
        w AS (
          SELECT p.doc_id,
            list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
              list(r.ratio ORDER BY p.b)), (acc, x) -> acc * x) AS w
          FROM present p JOIN ratio r USING (b)
          GROUP BY p.doc_id),
        norm AS (
          SELECT doc_id, w / (SELECT max(w) FROM w) AS wn FROM w)
        SELECT doc_id,
               floor(wn * 1000000.0 + 0.5) / 1000000.0 AS importance
        FROM norm
        WHERE CAST(('0x' || substr(md5('dsir:' ||
            CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0 < wn""",

      // Same reach-CTE component construction as the cluster oracle,
      // but over the injected-pair edge list the Spark side is given;
      // the md5-uniform replays hashUniform bit-for-bit (the integer
      // division yields the identical double in both engines).
      "split_group_aware" -> s"""WITH RECURSIVE aug AS ($augmentedSql),
        pairs AS (
          SELECT doc_id - 100000 AS src, doc_id AS dst
          FROM aug WHERE doc_id >= 100000),
        edges AS (
          SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM aug
          UNION
          SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
        u AS (
          SELECT id, component,
            CAST(('0x' || substr(md5('split:' ||
              CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
              / 4294967296.0 AS uu
          FROM lab)
        SELECT id AS doc_id, component,
               CASE WHEN uu < 0.8 THEN 'train'
                    WHEN uu < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM u"""
    )
  }
}
