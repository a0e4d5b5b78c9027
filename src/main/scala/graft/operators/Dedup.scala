package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.functions.NormExprs.pround
import graft.queries.QueryPack

/** Deduplication operators over the `documents` table: exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup is a single hash aggregation (map-side partial
  *    combine, one shuffle on the 16-byte digest — never on the text);
  *  - MinHash signatures are computed scan-side with built-in
  *    expressions (codegen, no UDF); the LSH candidate join shuffles
  *    only (band_idx, band_hash, doc_id) tuples, so the join input is
  *    tiny compared to the corpus — this is the 100 TB path, since
  *    candidate pairs (not all pairs) are materialized;
  *  - SimHash reduces each doc to one 64-bit signature; near-dup
  *    candidates come from equi-joins on 4×16-bit bands (any candidate
  *    within Hamming ≤ 3 shares at least one intact band, by pigeonhole)
  *    and are then verified with an exact `bit_count(xor)` check — no
  *    full pairwise comparison ever happens;
  *  - full Jaccard is only ever computed on candidate pairs.
  *
  * Hashes are md5-derived (not `hash`/`xxhash64`) so results are
  * engine-independent and oracle-checkable.
  */
object Dedup extends QueryPack {

  /** documents plus injected duplicates: exact copies of doc_id 0-9 and
    * near-copies (suffix appended) of 10-19, at doc_id+100000. Gives the
    * dedup operators known-positive pairs in the synthetic corpus. The
    * DuckDB oracles build the identical augmentation. */
  private def augmented(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents").select("doc_id", "text")
    val copies = docs.filter(col("doc_id") < 20).select(
      (col("doc_id") + 100000).as("doc_id"),
      when(col("doc_id") < 10, col("text"))
        .otherwise(concat(col("text"), lit(" extra suffix tokens"))).as("text"))
    docs.unionByName(copies)
  }

  private val augmentedSql = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           CASE WHEN doc_id < 10 THEN text
                ELSE text || ' extra suffix tokens' END AS text
    FROM documents WHERE doc_id < 20"""

  /** Cleaned word tokens of a text column. */
  private def tokens(t: Column): Column =
    filter(split(regexp_replace(lower(t), "[^a-z0-9 ]", " "), "\\s+"),
      v => length(v) > 0)

  /** 3-word shingles over an already-materialized token-array COLUMN.
    * Higher-order functions run interpreted (no common-subexpression
    * elimination), so the token array must be a plain attribute here —
    * inlining `tokens(text)` would re-tokenize the document once per
    * shingle position. Callers stage `tokens` in a prior projection. */
  private def shinglesOf(tk: Column): Column =
    when(size(tk) < 3, array(concat_ws(" ", tk)))
      .otherwise(transform(sequence(lit(1), size(tk) - 2), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))

  /** doc_id + distinct 3-shingle array, staged projection per step. */
  private[graft] def shingled(s: SparkSession, d: String): DataFrame =
    augmented(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(shinglesOf(col("tk"))).as("sh"))

  /** Portable 32-bit hash: first 8 hex chars of md5, as a long in [0, 2^32). */
  private[graft] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private val NumHashes = graft.functions.MinHashSig.DefaultK // 16
  private val BandSize = 4 // → 4 bands of 4 rows
  val MaxBucket = 64 // LSH hot-bucket cap (skew guard)

  /** MinHash signature frame (doc_id, h0..h15) via the native
    * `minhash_sig` kernel — one imperative pass per row instead of the
    * interpreted HOF chain (shingles → distinct → md5 → k permutation
    * mins). MinHashNativeSpec proves value-parity with the HOF form. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesFor(augmented(s, d), "doc_id", "text")

  /** SimHash Hamming verify threshold. 4 bands of 16 bits guarantee every
    * pair within Hamming ≤ 3 shares an intact band (pigeonhole). */
  val SimhashK = 3

  // -------------------------------------------- embedding near-dup (SRP)

  /** 32 SRP bits in 4 bands of 8: a random pair (θ≈90°, bit-match 0.5)
    * passes a band with p=2⁻⁸, so only ~1.6% of non-dup pairs become
    * candidates; a cos≥0.98 pair (bit-flip p≈0.04) keeps a band intact
    * with p≈0.72 per band → >98% recovery, and the verify step is exact
    * so survivors are never false positives. */
  val SrpBits = 32
  val SrpBandBits = 8 // 4 bands of 8 bits
  val SrpTau = 0.98 // exact-cosine verify threshold

  /** Fixed pseudo-random hyperplanes (LCG-derived, 64-dim, in [-1, 1]);
    * constants like the minhash permutations — identical across runs
    * and executors. */
  private val srpPlanes: IndexedSeq[Seq[Double]] = {
    var x = 88172645463325252L
    def next(): Double = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      (x >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
    IndexedSeq.fill(SrpBits)(Seq.fill(64)(next()))
  }

  /** embeddings plus injected duplicates at vec_id+100000: exact copies
    * of 0-9, perturbed near-copies of 10-19 (one coordinate shifted, so
    * cosine ≈ 0.99 — inside the SRP near-dup envelope). */
  private def augmentedEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimF32.register(s) // native verify kernel
    val e = Tables.load(s, d, "embeddings").select(col("vec_id"),
      col("embedding").as("emb"))
    val copies = e.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      when(col("vec_id") < 10, col("emb"))
        .otherwise( // bump coordinate 0 by 20% → cosine ≈ 0.999
          transform(col("emb"),
            (v, i) => when(i === 0, v * lit(1.2f)).otherwise(v))).as("emb"))
    e.unionByName(copies)
  }

  /** 64-bit SimHash signatures per doc_id via the native `simhash_sig`
    * kernel — one imperative pass over the distinct-token array, so
    * the signature is a pure scan-side projection: the corpus is never
    * exploded token-per-row and nothing shuffles until the band join.
    * Each md5 bit of a token is an independent ±1 hyperplane
    * projection; the signature bit is the sign of the sum.
    * SimHashNativeSpec proves value parity with the SWAR aggregation
    * form below. Empty-token docs get a NULL signature (the kernel
    * sentinel) and therefore never join in the band step — the same
    * no-pairs outcome as the SWAR form's explode, which drops them. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    // Notes on the generic body (see simhashSignaturesFor): the rlike
    // prefilter is a cheap scan-side prune, NOT the correctness guard
    // (that is the kernel's NULL-for-empty sentinel) — rlike on the
    // RAW text rather than size(td) > 0 because a filter on the
    // computed array would be pushed through the projection, inlining
    // (and re-running) the tokenizer chain per row in the filter.
    // (?iu): UNICODE_CASE, because lower() folds the full Unicode
    // range (e.g. U+212A KELVIN → 'k') while plain (?i) folds ASCII
    // only. The fold sets are not exactly identical (e.g. U+017F 'ſ'
    // matches (?iu) but survives lower() untokenized) — docs in the
    // gap reach the kernel with zero tokens and get the NULL signature.
    simhashSignaturesFor(augmented(s, d), "doc_id", "text")

  /** The original composable (SWAR) formulation, kept as the parity
    * reference for SimHashNativeSpec: positions-explode, 4 sixteen-bit
    * count lanes per long (16 packed sums — a 64-buffer aggregate
    * costs ~25 s of janino compilation), then sign recovery
    * Σ±1 = 2·count − n ≥ 0 ⟺ 2·count ≥ n. */
  def simhashSignaturesSwar(s: SparkSession, d: String): DataFrame = {
    // Explode cheap positions, not the computed token array: a complex
    // array in the generator is re-evaluated per emitted element (the
    // Decontaminate trap — 240× measured there), so the distinct-token
    // array is kept a child attribute and indexed above the Generate.
    val tok = augmented(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("td"))
      .select(col("doc_id"), col("td"),
        explode(when(size(col("td")) < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("td"))))).as("i"))
      .select(col("doc_id"), element_at(col("td"), col("i")).as("tok"))
    // 64-bit token hash from two md5 halves (portable; sign bit is fine —
    // bit ops treat the long as a raw 64-bit word).
    val th = tok.select(col("doc_id"),
      shiftleft(h32(col("tok")), 32)
        .bitwiseOR(conv(substring(md5(col("tok")), 9, 8), 16, 10)
          .cast("long")).as("th"))
    // pack bits (4g, 4g+1, 4g+2, 4g+3) into 4 lanes of long p_g
    val packed = th.select(col("doc_id") +: (0 until 16).map { g =>
      (0 until 4).map { l =>
        shiftright(col("th"), g * 4 + l).bitwiseAND(lit(1L)) *
          lit(1L << (16 * l))
      }.reduce(_ + _).as(s"p$g")
    }: _*)
    val sums = packed.groupBy("doc_id").agg(count(lit(1)).as("n"),
      (0 until 16).map(g => sum(col(s"p$g")).as(s"s$g")): _*)
    sums.select(col("doc_id"),
      (0 until 64).map { i =>
        val (g, l) = (i / 4, i % 4)
        val c = shiftright(col(s"s$g"), 16 * l).bitwiseAND(lit(0xFFFFL))
        when(c * 2 >= col("n"), shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** MinHash permutation constants live with the kernel
    * ([[graft.functions.MinHashSig.defaultAB]]) so the extensions-
    * injected SQL function and this pack compute identical
    * signatures. */
  private val MinhashP = graft.functions.MinHashSig.DefaultP
  private val minhashAB: Seq[(Long, Long)] =
    graft.functions.MinHashSig.defaultAB

  /** Corpus-generic MinHash-LSH candidate generation: signature frame →
    * banded bucket self-join → (doc_a, doc_b, n_bands) candidate pairs.
    * `sig` carries `doc_id` + `h0..h{k-1}` (from [[minhashSignatures]]
    * or any equivalent). Feed the pairs to
    * [[Curation.clusterAndCanonicalize]] for verification + clustering.
    *
    * Hot-bucket cap: a degenerate band value (e.g. the shared signature
    * of near-empty docs) would make its bucket quadratic at corpus
    * scale. Drop buckets over the cap — docs that pathological are not
    * meaningful near-dup candidates anyway. The count and the self-join
    * shuffle on the same (band_idx, band_hash) keys, so the extra agg
    * reuses the exchange partitioning. */
  /** (doc_id, extra…, band_idx, band_hash) rows of a signature frame. */
  private def bandRows(sig: DataFrame,
                       extra: Seq[String] = Nil): DataFrame =
    sig.select((col("doc_id") +: extra.map(col)) :+ posexplode(array(
      (0 until NumHashes / BandSize).map(b =>
        md5(concat_ws("-", (0 until BandSize).map(r =>
          col(s"h${b * BandSize + r}")): _*))): _*)).as(Seq("band_idx", "band_hash")): _*)

  /** Hot-bucket-cap telemetry: attach dropped-bucket / dropped-band-row
    * counts to a bucket-count frame via `Dataset.observe`
    * (CollectMetrics). Zero extra jobs or passes — the metrics ride the
    * existing count aggregation, observed BEFORE the cap filter prunes
    * the hot buckets, and surface in
    * `df.queryExecution.observedMetrics(name)` after a batch action
    * (or via QueryExecutionListener / StreamingQueryProgress). This is
    * the repo's no-silent-caps principle applied to the cap itself: at
    * corpus scale a family whose buckets are quietly degenerate — and
    * therefore quietly unprobed — must be visible without a second
    * pass over the corpus. Opt-in by name because CollectMetrics names
    * must be unique within one query: a pipeline composing two capped
    * operators picks two names.
    *
    * Two sharp edges, both pinned by OperatorsSpec: (1) read the
    * metrics with [[graft.plans.ObservedMetrics]] — the built-in
    * `observedMetrics` traversal can miss nodes buried in materialized
    * AQE stages; (2) if the query's RESULT is empty, AQE's
    * empty-relation propagation collapses the executed plan to an
    * `EmptyRelationExec` and the metrics node is unreachable even
    * though its stage ran — i.e. the all-capped worst case is exactly
    * when observe goes blind. Use [[lshDroppedBuckets]] (batch) or
    * [[lshCapDropped]] (banded/streaming) when the answer must be
    * unconditional. */
  private def observeCap(counts: DataFrame, bucketN: Column,
                         maxBucket: Int, name: Option[String]): DataFrame =
    name.fold(counts) { n =>
      counts.observe(n,
        sum(when(bucketN > maxBucket, lit(1L)).otherwise(lit(0L)))
          .as("dropped_buckets"),
        coalesce(sum(when(bucketN > maxBucket, bucketN)), lit(0L))
          .as("dropped_band_rows"))
    }

  def lshCandidatePairs(sig: DataFrame,
                        maxBucket: Int = MaxBucket,
                        observeName: Option[String] = None): DataFrame = {
    val bands = bandRows(sig)
    val keepBuckets = observeCap(
      bands.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("bucket_n")),
      col("bucket_n"), maxBucket, observeName)
      .filter(col("bucket_n") <= maxBucket).drop("bucket_n")
    val capped = bands.join(keepBuckets, Seq("band_idx", "band_hash"))
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("int").as("n_bands"))
  }

  /** Corpus-generic MinHash signature frame for any (idCol, textCol)
    * document frame — the [[minhashSignatures]] fixture query wraps
    * this. Signatures are deterministic across runs and sessions
    * (fixed permutation constants), which is what makes the
    * incremental path below possible: today's signatures join against
    * a store written months ago. */
  def minhashSignaturesFor(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    graft.GraftExtensions.registerAll(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), call_function("minhash_sig", col("tk")).as("sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(j =>
        element_at(col("sig"), j + 1).as(s"h$j")): _*)
  }

  /** Incremental LSH: candidate pairs for an ingest DELTA against an
    * existing signature store — the reason a 100 TB corpus is
    * re-minhashed never and re-paired only where the delta lands.
    * Only the delta's bands probe; the store's bands are join targets,
    * so cost scales with |delta| × bucket occupancy, not |corpus|².
    * Old–old pairs (both sides in the store) are never produced — they
    * were emitted when their younger member arrived. Pair values match
    * [[lshCandidatePairs]] run on the full corpus, restricted to pairs
    * touching a delta doc (IncrementalDedupSpec pins the equivalence).
    * Cap caveat: the equivalence is per ingest state — pairs emitted
    * by earlier batches persist even if their bucket later grows past
    * `maxBucket` (a full re-run would drop that whole bucket). For
    * dedup that is the conservative direction: candidates found while
    * the bucket was healthy are kept, only new probing of the
    * now-degenerate bucket stops.
    *
    * The store itself is plain parquet of the signature frame,
    * maintained with the J11 anti-join append
    * (`StarSchemaBuilder.appendUnique(…, keys = Seq("doc_id"))`);
    * the hot-bucket cap is computed over store ∪ delta so a bucket
    * that turns pathological after the merge is capped exactly as a
    * full re-run would cap it. */
  def lshCandidatePairsIncremental(storeSig: DataFrame, newSig: DataFrame,
                                   maxBucket: Int = MaxBucket,
                                   observeName: Option[String] = None)
      : DataFrame = {
    // A doc present on both sides (re-delivered delta) is a STORE doc:
    // the anti-join keeps the merged corpus free of duplicate band
    // rows, which would otherwise inflate bucket counts past the cap
    // and silently drop a bucket a full re-run keeps.
    val newClean = newSig.join(storeSig.select("doc_id"),
      Seq("doc_id"), "left_anti")
    // One banding pass over the tagged union — the delta side is a
    // filter on the same frame, not a second evaluation of the (often
    // unpersisted) delta signature chain.
    val allB = bandRows(
      storeSig.withColumn("is_new", lit(false))
        .unionByName(newClean.withColumn("is_new", lit(true))),
      extra = Seq("is_new"))
    val keepBuckets = observeCap(
      allB.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("bucket_n")),
      col("bucket_n"), maxBucket, observeName)
      .filter(col("bucket_n") <= maxBucket).drop("bucket_n")
    val capped = allB.join(keepBuckets, Seq("band_idx", "band_hash"))
    // delta probes store ∪ delta; normalize pair order, then distinct
    // bands (a delta–delta pair arrives from both directions)
    capped.filter(col("is_new")).as("a").join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.band_idx").as("band_idx"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct("band_idx").cast("int").as("n_bands"))
  }

  /** Public banding projection — (doc_id, band_idx, band_hash) rows of
    * a signature frame — for callers that persist bands next to the
    * signature store ([[graft.streaming.DedupStream.processBatchBanded]]). */
  def bandRowsOf(sig: DataFrame): DataFrame = bandRows(sig)

  /** Corpus-generic SimHash signature frame — the [[simhashSignatures]]
    * fixture wraps this. No post-hoc null filter on the computed
    * signature: that would push the filter through the projection and
    * re-run the kernel per row (the documented trap above); tokenless
    * docs keep their NULL sentinel, which never equi-joins in banding. */
  def simhashSignaturesFor(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    graft.GraftExtensions.registerAll(docs.sparkSession)
    docs.filter(col(textCol).rlike("(?iu)[a-z0-9]"))
      .select(col(idCol).as("doc_id"),
        array_distinct(tokens(col(textCol))).as("td"))
      .select(col("doc_id"), call_function("simhash_sig", col("td")).as("simhash"))
  }

  /** (doc_id, band_idx, band_hash) rows of a SimHash signature frame:
    * the 4×16-bit pigeonhole slices. NULL signatures band as NULL rows,
    * which never match an equi-join — the sentinel stays inert. */
  def simhashBandRowsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array(
      (0 until 4).map(bn =>
        shiftright(col("simhash"), bn * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band_idx", "band_hash")))

  /** Corpus-generic SRP signature frame over an embedding column:
    * (doc_id, emb, sig) with the 32 hyperplane sign bits packed into
    * one long. The embedding rides along because the verify step needs
    * it — the signature store doubles as the vector lookup. */
  def srpSignaturesFor(vecs: DataFrame, idCol: String,
                       embCol: String): DataFrame = {
    graft.GraftExtensions.registerAll(vecs.sparkSession)
    vecs.select(col(idCol).as("doc_id") +: col(embCol).as("emb") +:
        (0 until SrpBits).map { j =>
          val h = array(srpPlanes(j).map(v => lit(v.toFloat)): _*)
          when(call_function("cosine_f32", col("emb"), h) >= 0,
            lit(1L << j)).otherwise(lit(0L)).as(s"b$j")
        }: _*)
      .select(col("doc_id"), col("emb"),
        (0 until SrpBits).map(j => col(s"b$j")).reduce(_ + _).as("sig"))
  }

  /** (doc_id, extra…, band_idx, band_hash) rows of an SRP signature
    * frame: 4×8-bit slices of the sign-bit long. `extra` carries
    * payload columns through the banding (the fixture query rides the
    * embedding along so its verify step needs no join-back) — same
    * shape as the minhash `bandRows`. */
  def srpBandRowsOf(sig: DataFrame, extra: Seq[String] = Nil): DataFrame =
    sig.select((col("doc_id") +: extra.map(col)) :+ posexplode(array(
      (0 until SrpBits / SrpBandBits).map(b =>
        shiftright(col("sig"), b * SrpBandBits)
          .bitwiseAND(lit((1L << SrpBandBits) - 1))): _*))
      .as(Seq("band_idx", "band_hash")): _*)

  /** Banded-store incremental LSH: the O(batch)-shuffle answer to
    * [[lshCandidatePairsIncremental]]'s per-batch O(|store|) banding
    * pass. The caller persists two datasets alongside the signature
    * store — `storeBands`: the corpus's (doc_id, band_idx, band_hash)
    * rows, and `storeCounts`: per-batch bucket-count PARTIALS
    * (band_idx, band_hash, n), log-structured so maintenance can fold
    * them without rewriting history. Then a delta batch costs:
    *
    *  - banding + bucket counts of the DELTA only (the md5 work the
    *    recompute path re-pays for the whole corpus every batch);
    *  - a broadcast semi-probe of `storeCounts` by the delta's bucket
    *    keys — the store is SCANNED (slim 3-column parquet) but never
    *    shuffled, and only rows of touched buckets survive the probe;
    *  - the same broadcast probe of `storeBands` for candidate rows,
    *    bounded by cap × touched-buckets;
    *  - the pair join between two small frames.
    *
    * No corpus-sized shuffle, no corpus md5 work. The remaining
    * O(|store|) term is the columnar scan behind the broadcast joins —
    * at 100 TB that too can prune if the band store is laid out
    * bucketed by band_hash, but the scan-not-shuffle shape is already
    * the one that survives scale (it is the exact shape of J11's
    * append-unique key probe).
    *
    * Cap semantics match [[lshCandidatePairsIncremental]] exactly: a
    * bucket is kept iff its post-merge total (persisted partial sums +
    * delta count) is ≤ `maxBucket`, computed only for delta-touched
    * buckets — untouched buckets cannot produce pairs. The same
    * already-emitted-pairs caveat applies when a bucket later outgrows
    * the cap.
    *
    * `deltaBands` must be the [[bandRowsOf]] projection of a delta
    * already anti-joined against the signature store (re-delivered
    * docs would otherwise double-count their own bands). The broadcast
    * side is O(delta bands) — right for the micro-batch regime this
    * serves; a corpus-sized backfill "delta" should use
    * [[lshCandidatePairsIncremental]] (or a fresh full run), whose
    * shuffles don't assume a small side. */
  def lshCandidatePairsFromBands(storeBands: DataFrame,
                                 storeCounts: DataFrame,
                                 deltaBands: DataFrame,
                                 maxBucket: Int = MaxBucket,
                                 observeName: Option[String] = None)
      : DataFrame = {
    val keep = observeCap(
      mergedTouchedCounts(storeCounts, deltaBands),
      col("bucket_n"), maxBucket, observeName)
      .filter(col("bucket_n") <= maxBucket)
      .select("band_idx", "band_hash")
    val keptDelta = deltaBands
      .join(broadcast(keep), Seq("band_idx", "band_hash"))
    val storeMatches = storeBands
      .join(broadcast(keep), Seq("band_idx", "band_hash"))
    val probeSide = storeMatches.unionByName(keptDelta)
    // The delta side is the explicit broadcast: Catalyst can't know the
    // probe side is cap-bounded (its size estimate is the band-store
    // file size), and a SortMergeJoin here would shuffle exactly what
    // this operator exists to avoid shuffling.
    broadcast(keptDelta.as("a")).join(probeSide.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.band_idx").as("band_idx"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct("band_idx").cast("int").as("n_bands"))
  }

  /** Post-merge bucket totals for every DELTA-TOUCHED bucket:
    * persisted partial sums (`storeCounts`, (band_idx, band_hash, n)
    * rows) plus the delta's own band counts. The shared input of
    * [[lshCandidatePairsFromBands]]'s keep-filter and
    * [[lshCapDropped]] — both sides of the cap decision come from one
    * definition, so the telemetry can never disagree with the filter.
    * Only delta-touched buckets appear (the broadcast join keys on the
    * delta's buckets): untouched buckets can't produce pairs this
    * batch, so they are neither kept nor "dropped". */
  private def mergedTouchedCounts(storeCounts: DataFrame,
                                  deltaBands: DataFrame): DataFrame = {
    val deltaCounts = deltaBands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("delta_n"))
    val priorTouched = storeCounts
      .join(broadcast(deltaCounts.select("band_idx", "band_hash")),
        Seq("band_idx", "band_hash"))
      .groupBy("band_idx", "band_hash").agg(sum("n").as("prior_n"))
    deltaCounts.join(priorTouched, Seq("band_idx", "band_hash"), "left")
      .select(col("band_idx"), col("band_hash"),
        (coalesce(col("prior_n"), lit(0L)) + col("delta_n")).as("bucket_n"))
  }

  /** The buckets [[lshCandidatePairsFromBands]] will DROP for this
    * delta under the hot-bucket cap — (band_idx, band_hash, bucket_n)
    * with post-merge totals over the cap. O(delta) work (the store
    * side is a broadcast-probed partial-sum read), so a micro-batch
    * can afford to surface it every batch;
    * [[graft.streaming.DedupStream]] persists the aggregate next to
    * its pairs sink and logs it. */
  def lshCapDropped(storeCounts: DataFrame, deltaBands: DataFrame,
                    maxBucket: Int = MaxBucket): DataFrame =
    mergedTouchedCounts(storeCounts, deltaBands)
      .filter(col("bucket_n") > maxBucket)

  /** Full-corpus cap diagnostic: the buckets [[lshCandidatePairs]]
    * drops for this signature frame — (band_idx, band_hash, bucket_n)
    * rows over the cap. A second banding pass, so it costs what the
    * candidate run's banding costs; use the zero-cost `observeName`
    * metrics when the run's result is non-empty, and this when the
    * answer must be unconditional (see [[observeCap]]'s empty-result
    * caveat). */
  def lshDroppedBuckets(sig: DataFrame,
                        maxBucket: Int = MaxBucket): DataFrame =
    bandRows(sig).groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Hot-bucket cap over any banded frame: drop buckets whose member
    * count exceeds `maxBucket` before the quadratic self-join. The
    * count and the join shuffle on the same key columns, so the extra
    * aggregation reuses the exchange partitioning. Shared by all three
    * fixture families — a degenerate bucket (near-empty docs sharing a
    * signature, an embedding cluster in one octant) is quadratic at
    * corpus scale whichever signature produced it. */
  private def capBuckets(bands: DataFrame, keyCols: Seq[String],
                         maxBucket: Int = MaxBucket,
                         observeName: Option[String] = None): DataFrame = {
    val keep = observeCap(
      bands.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("bucket_n")),
      col("bucket_n"), maxBucket, observeName)
      .filter(col("bucket_n") <= maxBucket).drop("bucket_n")
    bands.join(keep, keyCols)
  }

  def queries: Map[String, QFn] = Map(
    // Exact dedup: group by content hash, keep lowest doc_id
    "dedup_exact" -> ((s, d) =>
      augmented(s, d).groupBy(md5(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))),

    // Bloom-prefiltered incremental exact dedup — Catalyst's own
    // runtime-filter machinery (bloom_build / bloom_might_contain,
    // surfaced by GraftExtensions) used the way a 100 TB ingest
    // pipeline uses it: the KNOWN corpus's content digests fold into
    // one mergeable bloom bitset (a bounded driver collect, the
    // codebook convention), and the incoming scan probes it
    // codegen-side. might-contain = false proves NOT-a-member (no
    // false negatives), so those rows pass WITHOUT any join; only the
    // bloom-positive sliver reaches the exact anti-join that settles
    // false positives. The result is therefore EXACTLY the plain
    // anti-join's — the oracle states it as one — while the shuffle
    // the anti-join pays shrinks from O(incoming) to O(candidates).
    // Routing volume is observed, never silent.
    "dedup_bloom_prefilter" -> ((s, d) => {
      graft.GraftExtensions.registerAll(s)
      val aug = augmented(s, d)
      val known = aug.filter(col("doc_id") < 200)
        .select(md5(col("text")).as("digest"))
      val incoming = aug.filter(col("doc_id") >= 200)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      val bfRow = known.agg(call_function("bloom_build",
        col("digest"), lit(4096L), lit(65536L)).as("bf")).head()
      if (bfRow.isNullAt(0)) incoming // empty known set: all docs are new
      else {
        val mc = call_function("bloom_might_contain",
          lit(bfRow.getAs[Array[Byte]](0)), col("digest"))
        val fast = incoming.filter(!mc)
        val survivors = incoming.filter(mc)
          .observe("dedup_bloom_candidates",
            count(lit(1)).as("n_candidates"))
          .join(known, Seq("digest"), "left_anti")
        fast.unionByName(survivors.select(fast.columns.map(col): _*))
      }
    }),

    // MinHash + LSH banding: candidate near-dup pairs via band-bucket join
    "dedup_minhash_lsh" -> ((s, d) =>
      lshCandidatePairs(minhashSignatures(s, d))),

    // The INCREMENTAL path as an oracle-checked query: the injected
    // copies arrive as an ingest delta against a store of the base
    // corpus. By the delta-restriction property (pinned cross-run by
    // IncrementalDedupSpec, and here cross-ENGINE), its pairs are
    // exactly the full run's pairs touching a delta doc — the
    // hot-bucket cap sees store ∪ delta = the full corpus either way.
    "dedup_minhash_incremental" -> ((s, d) => {
      val aug = augmented(s, d)
      lshCandidatePairsIncremental(
        minhashSignaturesFor(aug.filter(col("doc_id") < 100000),
          "doc_id", "text"),
        minhashSignaturesFor(aug.filter(col("doc_id") >= 100000),
          "doc_id", "text"))
    }),

    // SimHash: 64-bit signature; candidates from 4×16-bit band equi-joins
    // (pigeonhole: Hamming ≤ 3 ⇒ ≥1 of the 4 bands is identical), then
    // exact Hamming verification on the candidate pairs only — the
    // Manku et al. WWW'07 web-dedup scheme. k=3/64 targets ~99% cosine
    // similarity; the injected 95%-similar near-copies measure Hamming
    // 6-11 (≈ arccos(0.95)/π · 64) and are MinHash-LSH's job, which
    // recovers them (OperatorsSpec).
    "dedup_simhash" -> ((s, d) => {
      val sig = simhashSignatures(s, d)
      val bands = capBuckets(
        sig.select(col("doc_id"), col("simhash"), posexplode(array(
          (0 until 4).map(bn =>
            shiftright(col("simhash"), bn * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band_idx", "band_val"))),
        Seq("band_idx", "band_val"))
      val a = bands.as("a")
      val b = bands.as("b")
      a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
        .dropDuplicates("doc_a", "doc_b") // a pair may collide in >1 band
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .filter(col("hamming") <= SimhashK)
    }),

    // Embedding-cosine near-dup: random-hyperplane (SRP) LSH over the
    // embedding column — signature scan-side, banded candidate join,
    // exact cosine verify on candidates only. The 100 TB shape matches
    // minhash: only (band, doc_id) tuples shuffle, never the vectors
    // of non-candidates.
    "dedup_embedding_cosine" -> ((s, d) => {
      // Signature bits: sign of the projection onto each fixed
      // hyperplane. sign(dot) == sign(cosine) (norms are positive), so
      // the native cosine_f32 kernel computes the bit in one fused
      // primitive loop — the interpreted aggregate∘zip_with form costs
      // 32 lambda-boxed dot products per vector, measured ~2× slower
      // end-to-end on this query at sf0.1. Planes are truncated to
      // float to fit the kernel's array<float> contract (a ~1e-7
      // rotation — band-collision probabilities are unchanged).
      val sig = srpSignaturesFor(augmentedEmbeddings(s, d), "vec_id", "emb")
      // Decide with slim rows, attach payloads once (r16, guide §8):
      // the old band rows carried the 64-float embedding through the
      // band self-join's exchange (4 band rows per doc, payload ×4)
      // and the pair dedup then SortAggregated first(array) buffers
      // over TWO embeddings per candidate row. Now only (doc_id,
      // band_idx, band_hash) tuples shuffle; the pair dedup is a
      // HashAggregate on two longs; and the embeddings are attached to
      // the surviving capped candidate set by two joins back to the
      // signature frame (column-pruned to (doc_id, emb) — the 32
      // hyperplane projections are not recomputed on those legs).
      val bands = capBuckets(srpBandRowsOf(sig),
        Seq("band_idx", "band_hash"))
      val a = bands.as("a")
      val b = bands.as("b")
      val pairs = a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("emb").as("ea")),
          "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("emb").as("eb")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          call_function("cosine_f32", col("ea"), col("eb")).as("cos"))
        .filter(col("cos") >= SrpTau)
        .select(col("doc_a"), col("doc_b"), pround(col("cos"), 4).as("cosine"))
    }),

    // n-gram Jaccard on known candidate pairs (original, injected copy)
    "dedup_ngram_jaccard" -> ((s, d) => {
      val aug = shingled(s, d)
      val a = aug.filter(col("doc_id") < 20)
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = aug.filter(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("doc_a"),
          col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      a.join(b, "doc_a").select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("n_shared"),
        pround(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    // embedding space, then prune near-duplicates WITHIN each cluster
    // only — the clustering bounds the pairwise work to O(Σ cluster²)
    // instead of O(corpus²). LSH (dedup_embedding_cosine) and SemDeDup
    // are complementary surfaces of the same family: LSH finds
    // near-identical vectors with per-pair guarantees; SemDeDup's
    // cluster scope is how production curation pipelines trade recall
    // for a hard per-cluster cost bound (K scales with the corpus so
    // cluster sizes stay fixed). Centroids persist to a sidecar so the
    // DuckDB twin replays assignment over the SAME fp32 centroids (the
    // sim_ivf_topk oracle pattern).
    "dedup_semantic" -> ((s, d) => {
      val e = augmentedEmbeddings(s, d)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "emb", k = SemK)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(oracleSemanticCentroidSidecar)
      semanticDupes(e, cents, SrpTau)
    }),

    // The INCREMENTAL semantic path as an oracle-checked query: the
    // injected copies arrive as a delta against the base corpus under
    // the same pinned centroids. Delta ids are minted above every
    // store id, so by the monotone-id delta restriction (see
    // [[semanticDupesIncremental]]) its rows are exactly the full
    // run's rows with a delta-side vec_id — which is literally the
    // oracle: the dedup_semantic twin filtered to the delta. Same
    // treatment as dedup_minhash_incremental.
    "dedup_semantic_incremental" -> ((s, d) => {
      val e = augmentedEmbeddings(s, d)
      val cents = Similarity.kmeansCentroids(e, "vec_id", "emb", k = SemK)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(oracleSemanticIncCentroidSidecar)
      semanticDupesIncremental(
        e.filter(col("vec_id") < 100000),
        e.filter(col("vec_id") >= 100000), cents, SrpTau)
    }),

    // Duplicated-span analysis (the exact-substring-dedup family, Lee
    // et al. 2022, at shingle granularity): a 3-word shingle is
    // "duplicated" if it occurs in >= 2 distinct documents; report per
    // doc how much of it is corpus-duplicated material. Upstream of
    // span REMOVAL, this is the measurement pass that decides which
    // documents are worth span-level surgery (ratio ~1.0 = drop whole
    // doc; mid ratios = boilerplate/quotation candidates).
    // Scale shape: shingles shuffle as fixed-width md5 digests (never
    // the text), the distinct-doc count is one hash aggregation with
    // map-side combine, and the dup-gram set flows back through a
    // LEFT SEMI join on the same digest key — two shuffles total, both
    // on 32-byte keys.
    "dedup_span_stats" -> ((s, d) => {
      val sh = shingled(s, d)
      // explode_outer + null filter per the InferFiltersFromGenerate
      // trap (SURVEY §4): an inner explode would infer a scan-side
      // size(sh)>0 filter that re-inlines the shingle chain per row.
      val pos = sh
        .select(col("doc_id"), explode_outer(col("sh")).as("g"))
        .filter(col("g").isNotNull)
        .select(col("doc_id"), md5(col("g")).as("gh"))
      // r17 MEASURED: localCheckpoint()ing this digest stream (one
      // tokenize pass instead of two) read 2.26-2.45 s vs 2.32-2.44 s
      // cold-solo at sf0.1 — zero measurable win — while the
      // checkpoint is corpus-sized (one row per shingle occurrence),
      // the materialization class this module's 100 TB contract
      // forbids. The two-pass shape stands.
      val dupg = pos.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("gh")
      val perDoc = pos.join(dupg, Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
      sh.select(col("doc_id"), size(col("sh")).as("n_grams"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          pround(coalesce(col("dup_grams"), lit(0L)).cast("double") /
            col("n_grams"), 4).as("dup_ratio"))
    }),

    // The REMOVAL half of the exact-substring family over the same
    // augmented fixture: injected exact copies strip to nothing (every
    // 8-gram's first occurrence is in the base doc), near-copies keep
    // only their novel suffix, and organic cross-doc boilerplate is
    // trimmed wherever it genuinely repeats.
    "dedup_span_removal" -> ((s, d) =>
      removeDuplicatedSpans(augmented(s, d), "doc_id", "text"))
  )

  /** Corpus-wide exact-substring span REMOVAL (Lee et al. 2022's
    * dedup-the-span recommendation, at word-8-gram granularity): a gram
    * occurring in two or more distinct documents keeps its FIRST
    * occurrence (smallest `idCol`) and is spliced out of every later
    * document — `covered iff doc_id > min(doc_id) over the gram`, which
    * needs no separate ≥2-distinct-docs test (a single-doc gram's min
    * is its own doc). Downstream of [[queries dedup_span_stats]]'s
    * measurement pass; the splice tail is shared with benchmark
    * decontamination ([[Decontaminate.spliceCovered]]).
    *
    * 100 TB shape — this is SELF-dedup, so unlike decontamination there
    * is no small broadcastable side: the corpus gram stream must meet
    * itself. Decisive at scale: NOTHING ever sorts that stream. The
    * first-occurrence table is a map-side-COMBINED hash aggregate
    * (`min(id)` per digest — partial mins collapse to one slim row per
    * distinct gram per task before the exchange, constant state per
    * gram so it never falls back to sort-based), and the join-back is
    * a SHUFFLE_HASH join that builds on that distinct-gram min table
    * and STREAMS the (16-hex-digest, id, pos) occurrence rows. The
    * previous window-min formulation shuffled the stream once but
    * SORTED every shingle in the corpus inside the exchange; at the
    * synthetic-100× probe that sort spilled and drove slope_100x to
    * 18.4 (10 = linear) — the hash-agg + hash-join shape has no
    * corpus-wide sort to spill. The price is that tokenize+md5 run
    * twice (once per consumer): scan-local, embarrassingly parallel
    * CPU with zero memory pressure — the safe side of the trade at
    * 100 TB, and unavoidable here because the two consumers prune and
    * infer different columns/filters, so no single exchange
    * canonicalizes for reuse (a forced common `repartition(gram)` was
    * tried: pruning still split it into two full-stream exchanges). A
    * hot boilerplate gram is one build-side entry and a linear probe
    * stream (never pairwise), so there is no quadratic term to cap;
    * only the rare covered positions reach the per-doc collect_list,
    * which is bounded by document length. */
  def removeDuplicatedSpans(documents: DataFrame, idCol: String,
                            textCol: String, n: Int = 8): DataFrame = {
    val tok = documents.select(col(idCol),
      Decontaminate.tokens(col(textCol)).as("tk"))
    val gp = Decontaminate.gramRows(tok, n, Seq(col(idCol)), keepPos = true)
    // Map-side-combined first occurrence: the exchange carries one
    // (digest, partial-min) row per distinct gram per task, not the
    // occurrence stream.
    val firsts = gp.groupBy("gram").agg(min(col(idCol)).as("first_doc"))
    // Build on the distinct-gram side, stream the occurrences: the
    // hint forbids the sort-merge fallback that would re-sort the full
    // gram stream on the probe side.
    val starts = gp.join(firsts.hint("SHUFFLE_HASH"), Seq("gram"))
      .filter(col(idCol) > col("first_doc"))
      .groupBy(idCol).agg(sort_array(collect_list(col("i"))).as("starts"))
    Decontaminate.spliceCovered(tok, starts, idCol, n)
  }

  /** Semantic-dedup cluster count for the declared query. 32 over the
    * 520-vector augmented corpus gives ~16-vector clusters; at real
    * scale K grows with the corpus (K ≈ N / target_cluster_size) so
    * the per-cluster pairwise work — the only quadratic term — stays
    * constant per cluster and the bucket join stays skew-free. */
  val SemK = 32

  /** Hot-cluster cap for the batch semantic paths: K-scaling keeps
    * EXPECTED cluster sizes bounded, but a degenerate vector family
    * collapses into one cluster regardless of K — the cap bounds that
    * cluster's gathered row and its quadratic pair count, mirrored in
    * the DuckDB oracles so capped runs stay hash-checkable. 16× the
    * ~16-member design point, so it never binds on healthy data. The
    * banded/streaming semantic path uses the same bound (cluster
    * populations, unlike hash-band collisions, grow with the corpus —
    * see processBatchBandedSemantic's service-life contract). */
  val MaxSemCluster = 256

  /** SemDeDup pruning: assign every vector to its nearest centroid
    * SCAN-LOCALLY (see [[assignBucketsLocal]] — zero shuffle; the
    * aggregation-shaped [[Similarity.assignBuckets]] would shuffle the
    * whole corpus once per consumer), gather each cluster's members
    * with one groupBy(bucket), and keep within-cluster pairs with
    * cosine >= tau. A doc is a duplicate if a SMALLER-id cluster-mate
    * clears tau; emitted with its minimal witness (`dup_of` = the
    * smallest such id, plus that pair's cosine), so survivors =
    * corpus ∖ result. The gather on `bucket` brings each cluster to
    * one place — exactly the locality SemDeDup's clustering exists to
    * create — and is the plan's ONLY corpus-wide exchange. */
  def semanticDupes(e: DataFrame, cents: DataFrame, tau: Double,
                    maxCluster: Int = MaxSemCluster,
                    observeName: Option[String] = None): DataFrame = {
    graft.functions.CosineSimF32.register(e.sparkSession)
    val assigned = assignBucketsLocal(
      e.select(col("vec_id"), col("emb")), "vec_id", "emb", cents)
    // Cluster members gathered once (THE one corpus-wide shuffle) and
    // sorted by id, so pair generation is deterministic and needs no
    // self-join. (A bucket-keyed self-join would both shuffle the
    // corpus twice — once per side — and trip Spark's constraint
    // rewrite on self-join-deduplicated lambda outer-references.)
    // The hot-CLUSTER cap is the family skew guard: a cluster is one
    // gathered row, so a degenerate family (every vector identical)
    // would otherwise build an O(corpus)-wide row and O(corpus²)
    // pairs. Dropped clusters are observable, never silent — same
    // telemetry contract as the LSH hot-bucket cap.
    val members = observeCap(
      assigned.groupBy(col("bucket"))
        .agg(sort_array(collect_list(struct(col("vec_id"), col("emb"))))
          .as("ms")),
      size(col("ms")), maxCluster, observeName)
      .filter(size(col("ms")) <= maxCluster)
    // Ordered pairs stream out of two chained generators — member ×
    // its id-successors — so no c²-sized array ever materializes; the
    // widest intermediate row is one cluster (c·dim floats), bounded
    // because K scales with the corpus. explode_outer + null filter
    // per the InferFiltersFromGenerate trap (SURVEY §4).
    val pairs = members
      .select(col("bucket"), col("ms"),
        posexplode_outer(col("ms")).as(Seq("i", "x")))
      .filter(col("x").isNotNull)
      .select(col("bucket"),
        col("x.vec_id").as("doc_a"), col("x.emb").as("ea"),
        explode_outer(slice(col("ms"), col("i") + 2, size(col("ms"))))
          .as("y"))
      .filter(col("y").isNotNull)
      .select(col("bucket"), col("doc_a"), col("ea"),
        col("y.vec_id").as("doc_b"), col("y.emb").as("eb"))
    pairs
      .select(col("bucket"), col("doc_a"), col("doc_b"),
        call_function("cosine_f32", col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("doc_b"))
      .agg(first(col("bucket")).as("bucket"), // constant within the group
        min(col("doc_a")).as("dup_of"),
        min_by(col("cos"), col("doc_a")).as("cos"))
      .select(col("doc_b").as("vec_id"), col("bucket"), col("dup_of"),
        pround(col("cos"), 4).as("cosine"))
  }

  /** Incremental SemDeDup: witness rows for DELTA docs only, computed
    * without re-pairing the store against itself — store and delta
    * assign scan-locally under the SAME centroids, clusters gather
    * once, and the pair enumeration keeps only pairs whose larger side
    * is a delta doc. Equals the full run restricted to delta rows
    * (pinned by IncrementalDedupSpec) PROVIDED ingest ids are
    * monotone — a delta doc with a smaller id than a store doc could
    * otherwise turn the STORE doc into a dup, a row this path by
    * definition does not emit. Ingest streams mint monotone ids, and
    * the batched-store twin ([[graft.streaming.DedupStream
    * .processBatchBandedSemantic]]) emits pairs symmetrically so no
    * such row is lost there either.
    *
    * Cost honesty: what this saves over a full run is the PAIRWISE
    * term (untouched clusters never gather or enumerate) — the store
    * still pays one scan-local assignment pass per call, because the
    * bucket filter is on a computed column over a plain layout. The
    * true O(delta)-per-batch form is the persisted-store streaming
    * path (processBatchBandedSemantic), whose band store materializes
    * assignments once at ingest; with a bucket-PARTITIONED store
    * layout the IN-literal filter here would also prune at file
    * listing. */
  def semanticDupesIncremental(store: DataFrame, delta: DataFrame,
                               cents: DataFrame, tau: Double,
                               maxCluster: Int = MaxSemCluster,
                               observeName: Option[String] = None): DataFrame = {
    graft.functions.CosineSimF32.register(store.sparkSession)
    val storeA = assignBucketsLocal(
      store.select(col("vec_id"), col("emb")), "vec_id", "emb", cents)
      .withColumn("is_delta", lit(0))
    val deltaA = assignBucketsLocal(
      delta.select(col("vec_id"), col("emb")), "vec_id", "emb", cents)
      .withColumn("is_delta", lit(1))
    // Only clusters the delta TOUCHES gather — untouched clusters
    // cannot produce a delta-sided pair, so the store is probed with
    // the delta's bucket ids as IN-literals (the probeIvfIndex
    // pattern; bounded driver collect, <= K values), never re-paired:
    // per-batch work scales with the delta's cluster population, not
    // the corpus. Literals rather than a broadcast semi-join both for
    // partition pruning against a bucket-partitioned store layout and
    // because a cross-branch join over the scan-local fold trips
    // Catalyst's lambda outer-reference binding (same bug family the
    // gather shape dodges — see semanticDupes).
    val deltaBuckets = deltaA.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val assigned = storeA
      .filter(col("bucket").isin(deltaBuckets: _*))
      .unionByName(deltaA)
    // Touched clusters gather WHOLE (store + delta members), so the
    // cap sees the same cluster size as a full batch run — the delta
    // restriction property survives capping.
    val members = observeCap(
      assigned.groupBy(col("bucket"))
        .agg(sort_array(collect_list(
          struct(col("vec_id"), col("emb"), col("is_delta")))).as("ms")),
      size(col("ms")), maxCluster, observeName)
      .filter(size(col("ms")) <= maxCluster)
    val pairs = members
      .select(col("bucket"), col("ms"),
        posexplode_outer(col("ms")).as(Seq("i", "x")))
      .filter(col("x").isNotNull)
      .select(col("bucket"),
        col("x.vec_id").as("doc_a"), col("x.emb").as("ea"),
        explode_outer(slice(col("ms"), col("i") + 2, size(col("ms"))))
          .as("y"))
      .filter(col("y").isNotNull && col("y.is_delta") === 1)
      .select(col("bucket"), col("doc_a"), col("ea"),
        col("y.vec_id").as("doc_b"), col("y.emb").as("eb"))
    pairs
      .select(col("bucket"), col("doc_a"), col("doc_b"),
        call_function("cosine_f32", col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("doc_b"))
      .agg(first(col("bucket")).as("bucket"),
        min(col("doc_a")).as("dup_of"),
        min_by(col("cos"), col("doc_a")).as("cos"))
      .select(col("doc_b").as("vec_id"), col("bucket"), col("dup_of"),
        pround(col("cos"), 4).as("cosine"))
  }

  /** Nearest-centroid assignment as a pure per-row fold — the
    * [[Similarity.pqEncode]] shape: the K centroids ride the plan as
    * an array-of-structs literal (K·dim floats, shipped once per
    * executor with the task binary) and each row argmaxes over them
    * inside its own task. ZERO shuffle — the alternative
    * ([[Similarity.assignBuckets]]: crossJoin + groupBy(id) max_by)
    * re-shuffles the whole corpus, which a self-joining consumer pays
    * twice. The cosine per candidate runs through the same native
    * `cosine_f32` kernel, and the strict `>` keeps the LOWEST
    * centroid_id on fp-equal ties — value-identical to assignBuckets'
    * `max_by(struct(csim, -centroid_id))` and to the oracle's
    * `(csim DESC, centroid_id)` row_number. Bounded driver collect: K
    * centroid rows, same class as the IVF probed-bucket literals. */
  def assignBucketsLocal(vecs: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame): DataFrame = {
    graft.functions.CosineSimF32.register(vecs.sparkSession)
    val cl = cents.orderBy("centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val centArr = array(cl.map { case (cid, v) =>
      struct(lit(cid).as("cid"),
        array(v.map(x => lit(x)): _*).as("cent"))
    }: _*)
    vecs.select(col(idCol), col(vecCol),
      aggregate(centArr,
        struct(lit(Double.NegativeInfinity).as("sim"), lit(-1L).as("cid")),
        (acc, c) => {
          val s = call_function("cosine_f32", col(vecCol), c.getField("cent"))
          when(s > acc.getField("sim"),
            struct(s.as("sim"), c.getField("cid").as("cid"))).otherwise(acc)
        },
        acc => acc.getField("cid")).as("bucket"))
  }

  /** Centroid sidecar for the `dedup_semantic` oracle — same contract
    * as [[Similarity.oracleCentroidSidecar]]: the declared query
    * overwrites it with the centroids it scored, the DuckDB twin reads
    * it back, so both engines assign under identical fp32 centroids. */
  val oracleSemanticCentroidSidecar: String =
    Scratch.path("graft_semantic_oracle_centroids")

  /** Query-private sidecar for `dedup_semantic_incremental` — contents
    * coincide with [[oracleSemanticCentroidSidecar]] today (same
    * deterministic derivation over the same corpus), but no declared
    * query's oracle may depend on another query's overwrite schedule. */
  val oracleSemanticIncCentroidSidecar: String =
    Scratch.path("graft_semantic_inc_oracle_centroids")

  /** Shared DuckDB CTE: cleaned word tokens of the augmented corpus —
    * the SQL twin of [[tokens]] over [[augmentedSql]]. */
  private val tokSql = s"""aug AS ($augmentedSql),
      tok AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'),
          x -> x <> '') AS tk
        FROM aug)"""

  /** `tk[i] .. tk[i+7]` space-joined — the SQL twin of
    * [[Decontaminate.gramRows]]'s 8-gram at 1-based position `i`. */
  private val gram8Sql = (0 until 8).map {
    case 0 => "tk[CAST(i AS INTEGER)]"
    case j => s"tk[CAST(i AS INTEGER) + $j]"
  }.mkString(" || ' ' || ")

  /** DuckDB twin of the full MinHash-LSH pipeline, generated from the
    * SAME permutation constants as the Spark kernel
    * ([[graft.functions.MinHashSig.defaultAB]]/[[MinhashP]]) so the two
    * engines cannot drift: shingles → 32-bit md5-prefix hash → k
    * permutation minima → 4-row band md5 → hot-bucket cap → bucket
    * self-join. The kernel's distinct-by-h32 (vs distinct-by-text
    * here) is value-equivalent: colliding shingles contribute the same
    * h to every permutation minimum. */
  private def minhashLshOracle: String = {
    val sigCols = minhashAB.zipWithIndex.map { case ((a, b), j) =>
      s"min(($a * h + $b) % $MinhashP) AS h$j"
    }.mkString(",\n               ")
    val bandSelects = (0 until NumHashes / BandSize).map { bi =>
      val joined = (0 until BandSize)
        .map(r => s"CAST(h${bi * BandSize + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $bi AS band_idx, md5($joined) AS band_hash FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""WITH $tokSql,
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(range(1, len(tk) - 1), i ->
                   tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1] ||
                   ' ' || tk[CAST(i AS INTEGER) + 2]) END) AS s
          FROM tok)),
      hs AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
        FROM sh),
      sig AS (
        SELECT doc_id,
               $sigCols
        FROM hs GROUP BY doc_id),
      bands AS (
        $bandSelects),
      keep AS (
        SELECT band_idx, band_hash FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucket),
      capped AS (
        SELECT b.* FROM bands b JOIN keep USING (band_idx, band_hash))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS INTEGER) AS n_bands
      FROM capped a
      JOIN capped b ON a.band_idx = b.band_idx
                   AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id
      GROUP BY 1, 2"""
  }

  /** DuckDB twin of SimHash band dedup. The 64-bit signature is carried
    * as two unsigned 32-bit halves (DuckDB BIGINT overflow is checked,
    * so the signed long is never materialized): token hash = first 8
    * md5 bytes big-endian, bit i counted across the doc's DISTINCT
    * tokens, signature bit set iff 2·count ≥ n — exactly
    * [[graft.functions.SimHashKernel.sign]]. Bands are 16-bit slices
    * (lo%2^16, lo/2^16, hi%2^16, hi/2^16 == the masked shiftrights);
    * Hamming = popcount(hi⊕hi') + popcount(lo⊕lo'). Tokenless docs are
    * excluded, matching the kernel's NULL sentinel (NULL never joins). */
  private def simhashOracle: String = {
    val cDefs = (0 until 64).map { i =>
      val (half, sh) = (if (i < 32) "lo" else "hi", i % 32)
      s"SUM(($half >> $sh) & 1) AS c$i"
    }.mkString(",\n               ")
    def sigHalf(lo: Int): String = (0 until 32).map { b =>
      s"CASE WHEN 2 * c${lo + b} >= n THEN ${1L << b} ELSE 0 END"
    }.mkString(" +\n               ")
    s"""WITH $tokSql,
      tokd AS (
        SELECT DISTINCT doc_id, t FROM (
          SELECT doc_id, unnest(tk) AS t FROM tok WHERE len(tk) > 0)),
      th AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hi,
               CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS lo
        FROM tokd),
      cnt AS (
        SELECT doc_id, COUNT(*) AS n,
               $cDefs
        FROM th GROUP BY doc_id),
      sig AS (
        SELECT doc_id,
               ${sigHalf(0)} AS sig_lo,
               ${sigHalf(32)} AS sig_hi
        FROM cnt),
      bands AS (
        SELECT doc_id, sig_hi, sig_lo, 0 AS band_idx, sig_lo % 65536 AS band_val FROM sig
        UNION ALL SELECT doc_id, sig_hi, sig_lo, 1, sig_lo // 65536 FROM sig
        UNION ALL SELECT doc_id, sig_hi, sig_lo, 2, sig_hi % 65536 FROM sig
        UNION ALL SELECT doc_id, sig_hi, sig_lo, 3, sig_hi // 65536 FROM sig),
      keep AS (
        SELECT band_idx, band_val FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucket),
      capped AS (
        SELECT b.* FROM bands b JOIN keep USING (band_idx, band_val)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig_hi AS ha, a.sig_lo AS la, b.sig_hi AS hb, b.sig_lo AS lb
        FROM capped a
        JOIN capped b ON a.band_idx = b.band_idx
                     AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
                    AS INTEGER) AS hamming
        FROM pairs)
      WHERE hamming <= $SimhashK"""
  }

  /** DuckDB twin of the SRP-LSH embedding near-dup. Feasible because
    * nothing in the pipeline actually accumulates in fp32: the
    * `cosine_f32` kernel widens every element to double and sums in
    * fp64 (the same `SUM(CAST(x AS DOUBLE) * …)` DuckDB runs here —
    * proven to hash-match on `sim_ann_topk`/`sim_cosine_native`). The
    * two genuinely-fp32 steps are exact, not approximate: the plane
    * literals are float-truncated constants (every float is exactly
    * representable as the double DuckDB parses), and the `* 1.2f`
    * perturbation multiplies two floats whose exact product fits in a
    * double before rounding back to float — so `CAST(a * L AS FLOAT)`
    * lands on the identical bit pattern PROVIDED `L` is the exact
    * double value of float 1.2f (interpolated below as
    * `1.2f.toDouble`); the decimal literal `1.2` parses to a
    * DIFFERENT double (≈1 ulp low) whose product can round to the
    * neighboring float and shift a cosine across the τ/rounding
    * boundary. Sign
    * bits compare `dp >= 0` (kernel divides by positive norms, which
    * cannot flip sign); summation-order ulp drift could only matter
    * for a dot product within ~1e-16 of zero or of the 0.98/rounding
    * boundaries — not a case the synthetic corpus can hit. */
  /** DuckDB twin of [[augmentedEmbeddings]] — the shared embedding
    * corpus CTE body for the SRP and semantic-dedup oracles. The fp32
    * `* 1.2f` bump is reproduced via an explicit FLOAT cast so both
    * engines verify the SAME perturbed vector (the `1.2f` ulp trap). */
  private val augEmbSql = s"""
        SELECT vec_id, embedding AS emb FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               CASE WHEN vec_id < 10 THEN embedding
                    ELSE list_concat(
                      [CAST(embedding[1] * ${1.2f.toDouble} AS FLOAT)],
                      embedding[2:]) END AS emb
        FROM embeddings WHERE vec_id < 20"""

  /** DuckDB twin of the whole SemDeDup pipeline over a given centroid
    * sidecar: fp64 nearest-centroid assignment with the same
    * (csim desc, centroid_id) argmax tie-break as the scan-local fold,
    * the within-cluster self-join, fp64 cosine on the pairs, and the
    * per-doc minimal witness via rn=1 (== the Spark min/min_by pair).
    * Parameterized so the batch and incremental queries each replay
    * against their own query-private sidecar. */
  private def semanticOracleSql(sidecar: String): String = s"""WITH aug AS ($augEmbSql),
      cents AS (SELECT centroid_id, cent
                FROM read_parquet('$sidecar/*.parquet')),
      adots AS (
        SELECT a.vec_id, c.centroid_id,
               SUM(CAST(emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(cent[CAST(i AS INTEGER)] AS DOUBLE)) AS dp,
               SUM(CAST(emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(emb[CAST(i AS INTEGER)] AS DOUBLE)) AS na,
               SUM(CAST(cent[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(cent[CAST(i AS INTEGER)] AS DOUBLE)) AS nb
        FROM aug a, cents c, range(1, 65) r(i)
        GROUP BY 1, 2),
      assigned AS (
        SELECT vec_id, bucket FROM (
          SELECT vec_id, centroid_id AS bucket,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, centroid_id)
                   AS rn
          FROM adots) WHERE rn = 1),
      kept AS (
        SELECT bucket FROM assigned
        GROUP BY bucket HAVING COUNT(*) <= $MaxSemCluster),
      pairs AS (
        SELECT x.vec_id AS doc_a, y.vec_id AS doc_b, x.bucket
        FROM assigned x
        JOIN kept k ON k.bucket = x.bucket
        JOIN assigned y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
      pdots AS (
        SELECT p.doc_a, p.doc_b, p.bucket,
               SUM(CAST(ea.emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(eb.emb[CAST(i AS INTEGER)] AS DOUBLE)) AS dp,
               SUM(CAST(ea.emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(ea.emb[CAST(i AS INTEGER)] AS DOUBLE)) AS na,
               SUM(CAST(eb.emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(eb.emb[CAST(i AS INTEGER)] AS DOUBLE)) AS nb
        FROM pairs p
        JOIN aug ea ON ea.vec_id = p.doc_a
        JOIN aug eb ON eb.vec_id = p.doc_b,
             range(1, 65) r(i)
        GROUP BY 1, 2, 3),
      qual AS (
        SELECT doc_a, doc_b, bucket,
               dp / (sqrt(na) * sqrt(nb)) AS cos
        FROM pdots WHERE dp / (sqrt(na) * sqrt(nb)) >= $SrpTau),
      ranked AS (
        SELECT doc_b, bucket, doc_a, cos,
               row_number() OVER (PARTITION BY doc_b ORDER BY doc_a) AS rn
        FROM qual)
      SELECT doc_b AS vec_id, bucket, doc_a AS dup_of,
             floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine
      FROM ranked WHERE rn = 1"""

  private def embeddingSrpOracle: String = {
    val planeRows = (0 until SrpBits).map { j =>
      val lst = srpPlanes(j).map(_.toFloat.toDouble.toString).mkString(", ")
      s"($j, [$lst])"
    }.mkString(",\n          ")
    val bandSelects = (0 until SrpBits / SrpBandBits).map { b =>
      s"SELECT vec_id, $b AS band_idx, (sig >> ${b * SrpBandBits}) & ${(1L << SrpBandBits) - 1} AS band_val FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""WITH aug AS ($augEmbSql),
      planes AS (
        FROM (VALUES
          $planeRows) p(j, pl)),
      dots AS (
        SELECT a.vec_id, p.j,
               SUM(CAST(emb[CAST(i AS INTEGER)] AS DOUBLE) *
                   pl[CAST(i AS INTEGER)]) AS dp
        FROM aug a, planes p, range(1, 65) r(i)
        GROUP BY 1, 2),
      sig AS (
        SELECT vec_id,
               SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << j)
                        ELSE 0 END) AS sig
        FROM dots GROUP BY 1),
      bands AS (
        $bandSelects),
      keep AS (
        SELECT band_idx, band_val FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucket),
      capped AS (
        SELECT b.* FROM bands b JOIN keep USING (band_idx, band_val)),
      cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM capped a
        JOIN capped b ON a.band_idx = b.band_idx
                     AND a.band_val = b.band_val
                     AND a.vec_id < b.vec_id),
      pdots AS (
        SELECT doc_a, doc_b,
               SUM(CAST(ea[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(eb[CAST(i AS INTEGER)] AS DOUBLE)) AS dp,
               SUM(CAST(ea[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(ea[CAST(i AS INTEGER)] AS DOUBLE)) AS na,
               SUM(CAST(eb[CAST(i AS INTEGER)] AS DOUBLE) *
                   CAST(eb[CAST(i AS INTEGER)] AS DOUBLE)) AS nb
        FROM (SELECT c.doc_a, c.doc_b, x.emb AS ea, y.emb AS eb
              FROM cand c
              JOIN aug x ON x.vec_id = c.doc_a
              JOIN aug y ON y.vec_id = c.doc_b),
             range(1, 65) r(i)
        GROUP BY 1, 2),
      cos AS (
        SELECT doc_a, doc_b, dp / (sqrt(na) * sqrt(nb)) AS cos
        FROM pdots)
      SELECT doc_a, doc_b,
             floor(cos * 10000.0 + 0.5) / 10000.0 AS cosine
      FROM cos WHERE cos >= $SrpTau"""
  }

  def oracles: Map[String, String] = Map(
    "dedup_minhash_lsh" -> minhashLshOracle,

    // Delta restriction of the full-run oracle (see the query's note).
    "dedup_minhash_incremental" -> s"""SELECT * FROM (
      $minhashLshOracle
      ) WHERE doc_a >= 100000 OR doc_b >= 100000""",
    "dedup_simhash" -> simhashOracle,
    "dedup_embedding_cosine" -> embeddingSrpOracle,

    "dedup_semantic" -> semanticOracleSql(oracleSemanticCentroidSidecar),

    // Delta restriction of the full-run oracle under the query-private
    // sidecar (delta ids are the vec_id >= 100000 band) — the same
    // shape as dedup_minhash_incremental's oracle.
    "dedup_semantic_incremental" -> s"""SELECT * FROM (
      ${semanticOracleSql(oracleSemanticIncCentroidSidecar)}
      ) WHERE vec_id >= 100000""",

    // Shingle CTE identical to the jaccard oracle's (mirrors
    // shinglesOf incl. the <3-token fallback); duplication is counted
    // over md5 digests exactly like the Spark side.
    "dedup_span_stats" -> s"""WITH $tokSql,
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(range(1, len(tk) - 1), i ->
                   tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1] ||
                   ' ' || tk[CAST(i AS INTEGER) + 2]) END) AS s
          FROM tok)),
      pos AS (SELECT doc_id, md5(s) AS gh FROM sh),
      dupg AS (SELECT gh FROM pos GROUP BY gh
               HAVING COUNT(DISTINCT doc_id) >= 2),
      per AS (SELECT doc_id, COUNT(*) AS dup_grams
              FROM pos JOIN dupg USING (gh) GROUP BY doc_id),
      tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh GROUP BY doc_id)
      SELECT t.doc_id, CAST(t.n_grams AS INTEGER) AS n_grams,
             CAST(coalesce(p.dup_grams, 0) AS BIGINT) AS dup_grams,
             floor((coalesce(p.dup_grams, 0) * 1.0 / t.n_grams)
               * 10000.0 + 0.5) / 10000.0 AS dup_ratio
      FROM tot t LEFT JOIN per p USING (doc_id)""",

    // Twin of removeDuplicatedSpans over the same augmented corpus:
    // first-doc-wins via doc_id > MIN(doc_id) per gram (single-doc
    // grams drop out of the inequality for free), covered positions
    // DISTINCT-ed before the splice join (a position covered by two
    // overlapping dup grams must remove its token once), text rebuilt
    // in position order — the decontam_span_removal tail.
    "dedup_span_removal" -> s"""WITH $tokSql,
      gp AS (
        SELECT doc_id, CAST(i AS INTEGER) AS i,
               substr(md5($gram8Sql), 1, 16) AS gram
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
              FROM tok WHERE len(tk) >= 8)),
      fd AS (SELECT gram, MIN(doc_id) AS first_doc FROM gp GROUP BY 1),
      covered AS (
        SELECT DISTINCT doc_id, CAST(p AS INTEGER) AS p
        FROM (SELECT gp.doc_id, unnest(range(gp.i, gp.i + 8)) AS p
              FROM gp JOIN fd USING (gram) WHERE gp.doc_id > fd.first_doc)),
      posx AS (
        SELECT doc_id, CAST(i AS INTEGER) AS p, tk[CAST(i AS INTEGER)] AS t
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
              FROM tok)),
      clean AS (
        SELECT px.doc_id,
               COUNT(*) FILTER (WHERE cv.p IS NOT NULL) AS n_removed,
               coalesce(string_agg(px.t, ' ' ORDER BY px.p)
                 FILTER (WHERE cv.p IS NULL), '') AS clean_text
        FROM posx px LEFT JOIN covered cv
          ON cv.doc_id = px.doc_id AND cv.p = px.p
        GROUP BY px.doc_id)
      SELECT t.doc_id, CAST(len(t.tk) AS INTEGER) AS n_tokens,
             CAST(coalesce(c.n_removed, 0) AS INTEGER) AS n_removed,
             coalesce(c.clean_text, '') AS clean_text
      FROM tok t LEFT JOIN clean c ON c.doc_id = t.doc_id""",

    "dedup_exact" -> s"""WITH aug AS ($augmentedSql)
      SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies
      FROM aug GROUP BY 1""",

    // the bloom prefilter is semantics-preserving, so its twin is the
    // PLAIN anti-join it accelerates — the strongest possible pin on
    // "no false negatives leaked, every false positive settled"
    "dedup_bloom_prefilter" -> s"""WITH aug AS ($augmentedSql),
      known AS (SELECT md5(text) AS digest FROM aug WHERE doc_id < 200)
      SELECT doc_id, md5(text) AS digest
      FROM aug
      WHERE doc_id >= 200
        AND md5(text) NOT IN (SELECT digest FROM known)""",

    // Shingle construction in SQL mirrors `shinglesOf` exactly,
    // including the <3-token single-shingle fallback.
    "dedup_ngram_jaccard" -> s"""WITH aug AS ($augmentedSql),
      tok AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'),
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
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id < 20) a
        JOIN (SELECT DISTINCT doc_id FROM sh WHERE doc_id >= 100000) b
          ON b.doc_id = a.doc_id + 100000),
      inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_shared
        FROM pairs p
        JOIN sh x ON x.doc_id = p.doc_a
        JOIN sh y ON y.doc_id = p.doc_b AND y.s = x.s
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
      SELECT p.doc_a, p.doc_b,
             CAST(coalesce(i.n_shared, 0) AS INTEGER) AS n_shared,
             floor((coalesce(i.n_shared, 0) * 1.0 /
                   (sa.n + sb.n - coalesce(i.n_shared, 0))) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b"""
  )
}
