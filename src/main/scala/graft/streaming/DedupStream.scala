package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup

/** Streaming incremental content-dedup: each micro-batch of documents
  * is the ingest delta of [[Dedup.lshCandidatePairsIncremental]] —
  * signatures are computed for the batch only, candidate pairs against
  * the persisted signature store are emitted, and the batch's
  * signatures join the store. The corpus is re-minhashed never.
  *
  * Per-batch cost, honestly: O(batch) signature work (the expensive
  * md5-per-shingle part), PLUS an O(|store|) banding pass — the
  * incremental path re-derives the store's band rows and re-aggregates
  * bucket counts over store ∪ delta every batch, because the exact
  * hot-bucket cap must see post-merge totals. At 100 TB that term
  * dominates small deltas: banding is 4 md5s per stored signature and
  * the bucket count is a corpus-sized (but slim, ~40-byte-row) shuffle.
  * The scale escape is [[processBatchBanded]]: it persists the banded
  * rows and log-structured bucket-count partials next to the signature
  * store (same exactly-once discipline) so a batch pays O(batch) bands
  * plus broadcast probes of the stores — scanned, never shuffled, no
  * corpus md5 work ([[graft.operators.Dedup.lshCandidatePairsFromBands]]).
  * This recompute path remains the right call for corpus-sized
  * backfill batches, where the banded path's O(batch) broadcast
  * assumption breaks.
  *
  * Exactly-once across foreachBatch replays (a batch re-runs whenever
  * the checkpoint commit didn't land):
  *  - store rows carry `ingest_batch`; the delta is computed against
  *    the store EXCLUDING the current batch id, so a replay whose
  *    previous attempt already appended sees the identical pre-batch
  *    store and recomputes the identical delta — not an empty one;
  *  - the pairs sink is hive-partitioned by `ingest_batch` and written
  *    with dynamic partition overwrite, so a replay overwrites its own
  *    partition with identical content instead of appending twice;
  *  - the store append is the J11 anti-join on doc_id — idempotent by
  *    construction.
  * Write order (pairs before store) makes the intermediate crash
  * states recoverable: pairs-written/store-missing replays to the same
  * pairs; both-written replays to the same both.
  *
  * The accumulated pairs sink equals a full-corpus run per ingest
  * state — see the cap caveat on [[Dedup.lshCandidatePairsIncremental]]:
  * pairs emitted before a bucket grew past the hot-bucket cap persist,
  * where a from-scratch run would drop that bucket entirely.
  */
object DedupStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The per-batch hot-bucket-cap telemetry sidecar of a banded pairs
    * sink: one (dropped_buckets, dropped_band_rows) row per
    * ingest_batch partition, written by [[processBatchBandedGeneric]]
    * with the same dynamic-overwrite replay discipline as the pairs
    * themselves. */
  def capStatsPathOf(pairsPath: String): String = pairsPath + "_capstats"

  /** One micro-batch (exposed directly so replay semantics are
    * testable without a streaming harness). `maxStoreFiles` bounds the
    * signature store's small-file growth: each append adds ~one part
    * file per shuffle partition, so after the store write the batch
    * runs [[compactStore]] when the committed file count exceeds the
    * bound — otherwise a long-lived stream makes every later probe pay
    * thousands of file opens. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   textCol: String, storePath: String,
                   pairsPath: String, maxStoreFiles: Int = 256): Unit = {
    val spark = batch.sparkSession
    recoverCompaction(spark, storePath) // heal a compaction crash first
    val sig = Dedup.minhashSignaturesFor(batch, idCol, textCol)
    // Committed-data check, not bare path existence: a crash inside
    // the very first store append can leave storePath holding only an
    // uncommitted _temporary dir, and reading that throws "unable to
    // infer schema" on every replay — the batch would be permanently
    // stuck instead of recovering to the empty-store branch.
    val storePrev =
      if (!graft.FsUtils.committedExists(spark, storePath)) sig.limit(0)
      else spark.read.parquet(storePath)
        .filter(col("ingest_batch") =!= batchId).drop("ingest_batch")
    // anti-join also collapses same-batch re-deliveries of a doc the
    // store already holds (at-least-once ingest)
    val delta = sig
      .join(storePrev.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist()
    try {
      // Cap telemetry rides the pairs write via Dataset.observe —
      // dropped_buckets / dropped_band_rows reach any registered
      // QueryExecutionListener with zero extra passes (the banded path
      // below additionally persists a durable per-batch record).
      Dedup.lshCandidatePairsIncremental(storePrev, delta,
          observeName = Some("graft_hot_bucket_cap"))
        .withColumn("ingest_batch", lit(batchId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(pairsPath)
      graft.etl.StarSchemaBuilder.appendUnique(spark,
        delta.withColumn("ingest_batch", lit(batchId)),
        storePath, Seq("doc_id"))
    } finally delta.unpersist()
    compactStore(spark, storePath, maxStoreFiles)
  }

  private[graft] def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path) =
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Signature-store small-file maintenance. When the committed data
    * file count exceeds `maxFiles`, rewrite the store coalesced to
    * ~`targetFileBytes` per file and swap the fresh copy in (write to
    * a side dir, then two renames — in-place overwrite of a dataset
    * being read is unsafe, same rationale as
    * [[graft.etl.StarSchemaBuilder.compactPartitions]]). Content is
    * byte-for-byte the same rows, so replay idempotence is untouched.
    * Crash safety: the store is only ever absent between the two
    * renames, and [[recoverCompaction]] (run at every batch start)
    * restores whichever complete copy exists — the fresh one if its
    * write committed, the original otherwise. The rename pair is not
    * atomic on object stores; a concurrent reader can hit the gap —
    * acceptable for the store's single-writer micro-batch discipline,
    * where the only reader is the next batch. Returns true if a
    * compaction ran. */
  def compactStore(spark: SparkSession, storePath: String,
                   maxFiles: Int = 256,
                   targetFileBytes: Long = 128L << 20): Boolean = {
    if (!graft.FsUtils.committedExists(spark, storePath)) return false
    val (fs, p) = fsOf(spark, storePath)
    val files = dataFiles(fs, p)
    if (files.length <= maxFiles) return false
    val totalBytes = files.map(_.getLen).sum
    val target = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    publishSwapped(spark, storePath)(tmp =>
      spark.read.parquet(storePath).repartition(target)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(tmp))
    true
  }

  /** Rewrite the dir at `path` atomically: `write` fills the
    * `.compacting` side dir (cleared first), then [[swapDirs]]
    * publishes it — or, when nothing lives at `path` yet, one rename
    * promotes it. Readers never see a half-written dir; a crash
    * between the renames is healed by [[recoverCompaction]]. The
    * publish of every store rewrite: compactions, folds, dim
    * migrations, index stats commits and layout rebuilds. */
  private[graft] def publishSwapped(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val (fs, p) = fsOf(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + CompactTmpSuffix)
    fs.delete(tmp, true)
    write(tmp.toString)
    if (!fs.exists(p)) fs.rename(tmp, p) else swapDirs(fs, p, tmp)
  }

  /** The two-rename publish behind [[publishSwapped]]: displace the
    * live dir, promote the fresh copy, drop the displaced original.
    * Uses the suffixes [[recoverCompaction]] heals, so a crash at any
    * point between the renames is recovered at the next batch
    * start. */
  private def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path,
                       tmp: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(p.toString + CompactOldSuffix)
    fs.delete(old, true)
    if (!fs.rename(p, old))
      sys.error(s"swapDirs: rename $p -> $old failed")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // restore the original before failing
      sys.error(s"swapDirs: rename $tmp -> $p failed")
    }
    fs.delete(old, true)
  }

  private[graft] val CompactTmpSuffix = ".compacting"
  private[graft] val CompactOldSuffix = ".old"

  /** Heal a crashed [[compactStore]]: if the store dir is missing,
    * promote the committed fresh copy (crash between the renames) or
    * restore the displaced original (rename-back also lost); if the
    * store exists, drop any leftover side dirs from an earlier crash
    * (an uncommitted `.compacting` from a mid-write crash is residue,
    * not data). */
  def recoverCompaction(spark: SparkSession, storePath: String): Unit = {
    val (fs, p) = fsOf(spark, storePath)
    val tmp = new org.apache.hadoop.fs.Path(storePath + CompactTmpSuffix)
    val old = new org.apache.hadoop.fs.Path(storePath + CompactOldSuffix)
    if (!fs.exists(p)) {
      if (graft.FsUtils.committedExists(spark, tmp.toString)) fs.rename(tmp, p)
      else if (fs.exists(old)) fs.rename(old, p)
    }
    if (fs.exists(p)) { fs.delete(tmp, true); fs.delete(old, true) }
  }

  /** Attach the incremental dedup to a document stream. */
  def run(docsStream: DataFrame, idCol: String, textCol: String,
          storePath: String, pairsPath: String,
          checkpoint: String): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, storePath, pairsPath)
      }
      .start()

  /** Banded-store micro-batch: the O(batch)-shuffle variant of
    * [[processBatch]]. Persists two datasets next to the signature
    * store — `bandsPath` ((doc_id, band_idx, band_hash), hive-
    * partitioned by ingest_batch) and `countsPath` (per-batch bucket
    * count partials, same layout) — so
    * [[Dedup.lshCandidatePairsFromBands]] probes them by broadcast
    * instead of re-banding and re-aggregating the corpus every batch.
    *
    * Exactly-once follows [[processBatch]]'s discipline extended to
    * the two new stores: every read excludes the CURRENT batch id (a
    * partition-pruned filter — replays see the identical pre-batch
    * state), and every write is dynamic-partition-overwrite of the
    * batch's own `ingest_batch=` partition (replays overwrite their
    * own output, never append beside it). Write order — pairs, bands,
    * counts, signature store — keeps every crash prefix replayable:
    * whatever landed is overwritten with identical content on retry.
    *
    * Maintenance, run at batch start (so a replay of the current
    * batch can never have been folded into history): [[foldCounts]]
    * collapses the count partials once their partition count passes
    * `foldAfter`, and [[recoverCompaction]] heals interrupted swaps
    * on all three maintained dirs. Band-store small files are bounded
    * the same way the pairs sink's are — per-partition appends — and
    * compact via
    * [[graft.etl.StarSchemaBuilder.compactPartitions]] offline. */
  def processBatchBanded(batch: DataFrame, batchId: Long, idCol: String,
                         textCol: String, storePath: String,
                         bandsPath: String, countsPath: String,
                         pairsPath: String, maxStoreFiles: Int = 256,
                         foldAfter: Int = 16): Unit =
    processBatchBandedGeneric(batch, batchId,
      b => Dedup.minhashSignaturesFor(b, idCol, textCol),
      Dedup.bandRowsOf,
      (cand, _) => cand, // minhash emits band-count candidates directly
      storePath, bandsPath, countsPath, pairsPath, maxStoreFiles, foldAfter)

  /** SimHash family of [[processBatchBanded]]: 4×16-bit pigeonhole
    * bands, then exact Hamming verify against the signature store —
    * candidates are broadcast so the store-side signature lookups are
    * scans, never shuffles. */
  def processBatchBandedSimhash(batch: DataFrame, batchId: Long,
                                idCol: String, textCol: String,
                                storePath: String, bandsPath: String,
                                countsPath: String, pairsPath: String,
                                maxHamming: Int = Dedup.SimhashK,
                                maxStoreFiles: Int = 256,
                                foldAfter: Int = 16): Unit =
    processBatchBandedGeneric(batch, batchId,
      b => Dedup.simhashSignaturesFor(b, idCol, textCol),
      Dedup.simhashBandRowsOf,
      (cand, sigs) => {
        val sa = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
        val sb = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
        broadcast(broadcast(cand.select("doc_a", "doc_b"))
            .join(sa, Seq("doc_a")))
          .join(sb, Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
          .filter(col("hamming") <= maxHamming)
      },
      storePath, bandsPath, countsPath, pairsPath, maxStoreFiles, foldAfter)

  /** SRP-embedding family of [[processBatchBanded]]: 4×8-bit sign-bit
    * bands over an `array<float>` embedding column, then exact cosine
    * verify (native kernel) against the store — which carries the
    * vectors, so no separate vector lookup exists to fall out of sync. */
  def processBatchBandedSrp(batch: DataFrame, batchId: Long,
                            idCol: String, embCol: String,
                            storePath: String, bandsPath: String,
                            countsPath: String, pairsPath: String,
                            minCosine: Double = Dedup.SrpTau,
                            maxStoreFiles: Int = 256,
                            foldAfter: Int = 16): Unit =
    processBatchBandedGeneric(batch, batchId,
      b => Dedup.srpSignaturesFor(b, idCol, embCol),
      sig => Dedup.srpBandRowsOf(sig),
      cosineVerify(minCosine),
      storePath, bandsPath, countsPath, pairsPath, maxStoreFiles, foldAfter)

  /** Shared exact-cosine verify step for the vector-carrying families
    * (SRP and semantic): broadcast the (small, cap-bounded) candidate
    * set through two vector lookups against the merged store∪delta
    * signature frame, score with the native kernel, keep >= minCosine. */
  private def cosineVerify(minCosine: Double)
      : (DataFrame, DataFrame) => DataFrame =
    (cand, sigs) => {
      val ea = sigs.select(col("doc_id").as("doc_a"), col("emb").as("ea"))
      val eb = sigs.select(col("doc_id").as("doc_b"), col("emb").as("eb"))
      broadcast(broadcast(cand.select("doc_a", "doc_b"))
          .join(ea, Seq("doc_a")))
        .join(eb, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          call_function("cosine_f32", col("ea"), col("eb")).as("cos"))
        .filter(col("cos") >= minCosine)
        .select(col("doc_a"), col("doc_b"),
          graft.functions.NormExprs.pround(col("cos"), 4).as("cosine"))
    }

  /** Semantic (SemDeDup) family of [[processBatchBanded]]: the "band"
    * is the vector's nearest-centroid cluster — one band row
    * (band_idx 0, band_hash = bucket) per doc, assigned SCAN-LOCALLY
    * against the store's pinned centroids
    * ([[graft.operators.Dedup.assignBucketsLocal]]); verify is exact
    * cosine (native kernel) against the store, which carries the
    * vectors. The hot-bucket cap becomes a hot-CLUSTER guard for
    * free: a cluster whose merged population outgrows the cap stops
    * being probed, with the same telemetry sidecar.
    *
    * Centroids are the store's IDENTITY, exactly like a materialized
    * IVF index's sidecar: bucket membership is only meaningful under
    * the centroids that assigned it, so the FIRST non-empty batch
    * derives and persists them at
    * [[graft.operators.Similarity.centroidsPathOf]] (storePath) and
    * every later batch loads that sidecar. Batch splits compose ≡ a
    * single shot GIVEN the same sidecar (pinned by DedupStreamSpec,
    * which seeds both runs' sidecars identically); re-deriving
    * centroids mid-stream would silently re-shape every cluster, which
    * is why the sidecar, once written, is never recomputed.
    *
    * SERVICE LIFE: unlike the hash families (whose band_hash space is
    * large and collision-bounded), a cluster's lifetime population
    * grows with the corpus under pinned centroids — so the cap (sized
    * [[graft.operators.Dedup.MaxSemCluster]] here, not the band-store
    * default) WILL eventually saturate hot clusters, visibly (warn
    * log + capstats sidecar, dropped clusters stop being probed).
    * That saturation is the operational signal that the pinned space
    * has outlived the corpus it was sized for: re-derive centroids
    * with a larger K and rebuild the store, exactly as a production
    * SemDeDup re-clusters between corpus generations. Bootstrapping
    * from a 1-doc (or otherwise tiny) first batch pins a degenerate
    * space with the same visible failure mode — production streams
    * should pre-seed the sidecar from a representative sample (write
    * [[graft.operators.Similarity.kmeansCentroids]] output to the
    * sidecar path before starting the stream). */
  def processBatchBandedSemantic(batch: DataFrame, batchId: Long,
                                 idCol: String, embCol: String,
                                 storePath: String, bandsPath: String,
                                 countsPath: String, pairsPath: String,
                                 minCosine: Double = Dedup.SrpTau,
                                 k: Int = Dedup.SemK,
                                 maxStoreFiles: Int = 256,
                                 foldAfter: Int = 16): Unit = {
    val spark = batch.sparkSession
    val centsPath = graft.operators.Similarity.centroidsPathOf(storePath)
    if (!graft.FsUtils.committedExists(spark, centsPath)) {
      // An empty first batch cannot bootstrap the space (k-means over
      // nothing) — skip the batch entirely and defer to the first
      // non-empty one. Correct because an empty batch contributes no
      // delta, no bands, and no pairs anyway.
      if (batch.isEmpty) {
        log.warn(s"batch=$batchId is empty and no centroid sidecar " +
          s"exists at $centsPath — deferring bootstrap")
        return
      }
      graft.operators.Similarity
        .kmeansCentroids(batch, idCol, embCol, k = k)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(centsPath)
    }
    val cents = spark.read.parquet(centsPath)
    processBatchBandedGeneric(batch, batchId,
      b => Dedup.assignBucketsLocal(
        b.select(col(idCol).as("doc_id"), col(embCol).as("emb")),
        "doc_id", "emb", cents),
      sig => sig.select(col("doc_id"), lit(0).as("band_idx"),
        col("bucket").as("band_hash")),
      cosineVerify(minCosine),
      storePath, bandsPath, countsPath, pairsPath, maxStoreFiles,
      foldAfter, maxBucket = Dedup.MaxSemCluster)
  }

  /** The family-agnostic banded micro-batch: `sigOf` builds the
    * batch's signature frame (must expose `doc_id`; any payload
    * columns ride into the store for `verify` to use), `bandsOf`
    * projects (doc_id, band_idx, band_hash) rows, and `verify` turns
    * broadcast-probed candidates plus the merged signature frame
    * (store ∪ delta — a pair's far side may be either) into the
    * batch's emitted pairs. All replay/maintenance discipline is
    * shared — see [[processBatchBanded]]'s scaladoc. */
  def processBatchBandedGeneric(batch: DataFrame, batchId: Long,
                                sigOf: DataFrame => DataFrame,
                                bandsOf: DataFrame => DataFrame,
                                verify: (DataFrame, DataFrame) => DataFrame,
                                storePath: String, bandsPath: String,
                                countsPath: String, pairsPath: String,
                                maxStoreFiles: Int = 256,
                                foldAfter: Int = 16,
                                maxBucket: Int = Dedup.MaxBucket): Unit = {
    val spark = batch.sparkSession
    recoverCompaction(spark, storePath)
    recoverCompaction(spark, countsPath)
    foldCounts(spark, countsPath, batchId, foldAfter)
    val sig = sigOf(batch)
    val storePrev =
      if (!graft.FsUtils.committedExists(spark, storePath)) sig.limit(0)
      else spark.read.parquet(storePath)
        .filter(col("ingest_batch") =!= batchId).drop("ingest_batch")
    val delta = sig
      .join(storePrev.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist()
    val deltaBands = bandsOf(delta).persist()
    try {
      def partitioned(path: String, empty: => DataFrame): DataFrame =
        if (!graft.FsUtils.committedExists(spark, path)) empty
        else spark.read.parquet(path)
          .filter(col("ingest_batch") =!= batchId).drop("ingest_batch")
      val storeBands = partitioned(bandsPath, deltaBands.limit(0))
      val storeCounts = partitioned(countsPath,
        deltaBands.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("n")).limit(0))
      def writePartition(df: DataFrame, path: String): Unit =
        df.withColumn("ingest_batch", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .option("compression", "zstd").parquet(path)
      val cand = Dedup.lshCandidatePairsFromBands(
        storeBands, storeCounts, deltaBands, maxBucket = maxBucket)
      writePartition(verify(cand, storePrev.unionByName(delta)), pairsPath)
      // Hot-bucket-cap telemetry: what this batch did NOT probe. One
      // O(delta)-sized job (broadcast probe of the persisted partial
      // sums — same shape as the keep-filter it mirrors), persisted
      // durably next to the pairs sink under the batch's own partition
      // (identical replay discipline) and logged — a silently-capped
      // family at 100 TB is otherwise invisible until its dup rate
      // drifts.
      val droppedRow = Dedup.lshCapDropped(storeCounts, deltaBands,
          maxBucket = maxBucket)
        .agg(count(lit(1)).as("dropped_buckets"),
          coalesce(sum("bucket_n"), lit(0L)).as("dropped_band_rows"))
        .collect().head
      val (nDropped, nRows) = (droppedRow.getLong(0), droppedRow.getLong(1))
      writePartition(
        spark.createDataFrame(Seq((nDropped, nRows)))
          .toDF("dropped_buckets", "dropped_band_rows"),
        capStatsPathOf(pairsPath))
      if (nDropped > 0)
        log.warn(s"batch=$batchId hot-bucket cap dropped $nDropped " +
          s"bucket(s) / $nRows band row(s) (cap=$maxBucket) — " +
          "pairs inside them were not probed")
      else log.info(s"batch=$batchId hot-bucket cap dropped 0 buckets")
      writePartition(deltaBands, bandsPath)
      writePartition(deltaBands.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("n")), countsPath)
      graft.etl.StarSchemaBuilder.appendUnique(spark,
        delta.withColumn("ingest_batch", lit(batchId)),
        storePath, Seq("doc_id"))
    } finally { deltaBands.unpersist(); delta.unpersist() }
    compactStore(spark, storePath, maxStoreFiles)
  }

  /** Fold the log-structured bucket-count partials: collapse every
    * partition EXCEPT the current batch's into one summed row per
    * bucket, published under the sentinel partition `ingest_batch=-1`.
    * The sentinel can never collide with a replayed batch (real ids
    * are ≥ 0, and dynamic overwrite only ever targets the writing
    * batch's own id), so folded history stays visible to every later
    * batch's `=!= batchId` read while the fold itself is idempotent —
    * re-folding folded rows re-sums to the same totals. Runs only when
    * the store has more than `maxPartials` partition dirs; publishes
    * via the same two-rename swap [[recoverCompaction]] heals. */
  def foldCounts(spark: SparkSession, countsPath: String,
                 currentBatchId: Long, maxPartials: Int = 16): Boolean = {
    if (!graft.FsUtils.committedExists(spark, countsPath)) return false
    val (fs, p) = fsOf(spark, countsPath)
    val partitions = fs.listStatus(p).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("ingest_batch=")
    }
    if (partitions.length <= maxPartials) return false
    val current = spark.read.parquet(countsPath)
      .filter(col("ingest_batch") === currentBatchId)
    val folded = spark.read.parquet(countsPath)
      .filter(col("ingest_batch") =!= currentBatchId)
      .groupBy("band_idx", "band_hash").agg(sum("n").as("n"))
      .withColumn("ingest_batch", lit(-1L))
    publishSwapped(spark, countsPath)(tmp =>
      folded.unionByName(current)
        .write.mode(SaveMode.Overwrite).partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(tmp))
    true
  }

  /** Lay the band store out BUCKETED by band_hash — the last pruning
    * step of the banded path's scale story. The plain parquet store is
    * probed by broadcast join: no shuffle, but every batch still SCANS
    * all of it, and min/max skipping can't help (md5 values are
    * uniform, every row group spans the space). Hashing rows into
    * buckets makes the probe key the layout key, so a probe by
    * bucket-prunable predicate reads only the matching files:
    * per-batch I/O drops from O(|corpus|) to
    * O(touched buckets / total buckets × |corpus|).
    *
    * Offline maintenance, not per batch (a bucketed table can't take
    * the per-partition dynamic-overwrite appends the live store
    * needs): periodically fold the appended store into the bucketed
    * table and let [[probeBandsBucketed]] serve reads between folds by
    * unioning the bucketed bulk with the small still-unfolded tail. */
  def bucketizeBandStore(spark: SparkSession, bandsPath: String,
                         db: String, table: String, tablePath: String,
                         buckets: Int = 64): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db " +
      s"LOCATION '$tablePath/_db'")
    spark.read.parquet(bandsPath).drop("ingest_batch")
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "band_hash")
      .option("path", s"$tablePath/$table")
      .saveAsTable(s"$db.$table")
  }

  /** LOAN-pattern bucket-pruned probe of a [[bucketizeBandStore]]
    * table: builds the probe frame (the delta's distinct band keys —
    * driver-bounded, O(4 × batch) values, same discipline as the IVF
    * probed-bucket literals — as a literal IN-set, which is what lets
    * the planner compute the bucket subset at optimization time; a
    * join could not prune) and hands it to `use`, which must both
    * DERIVE and EXECUTE the consuming query (e.g. compose it into
    * [[graft.operators.Dedup.lshCandidatePairsFromBands]] and run the
    * batch's sink write) before returning.
    *
    * Why a loan: `DisableUnnecessaryBucketedScan` sees no
    * join/aggregate requiring the bucketed distribution and turns the
    * bucketed scan off — which also forfeits bucket PRUNING, the whole
    * point here. That auto-disable exists to spare full scans the
    * bucketed-read penalty, and OTHER bucketed reads in the session
    * (e.g. the BucketedTables full-scan joins) genuinely want it — so
    * the conf is scoped to the loan, not sticky. Spark physical-plans
    * each derived frame lazily at its first action, so the disable
    * must still be in force when the CONSUMING query plans — returning
    * a frame and restoring the conf first (the old shape of this API)
    * silently re-enabled the auto-disable for everything derived from
    * the probe. Scan plans are fixed in AQE's initial plan (AQE
    * re-plans exchanges, never scans), so plans forced inside the loan
    * keep their pruned scans even if execution continues after it. */
  def withProbedBands[T](spark: SparkSession, db: String, table: String,
                         deltaBands: DataFrame)(use: DataFrame => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      val keys = deltaBands.select("band_hash").distinct()
        .collect().map(_.get(0))
      val t = spark.table(s"$db.$table")
      val probe =
        if (keys.isEmpty) t.limit(0)
        else t.filter(col("band_hash").isin(keys.toIndexedSeq: _*))
      use(probe)
    } finally spark.conf.set(key, prev)
  }

  /** One-shot form of [[withProbedBands]] for callers that only read
    * the probe itself: the returned frame's OWN plan is pinned (planned
    * inside the loan) — but frames DERIVED from it after return
    * re-plan under the restored conf and lose the pruned scan. Compose
    * inside [[withProbedBands]] instead. */
  def probeBandsBucketed(spark: SparkSession, db: String, table: String,
                         deltaBands: DataFrame): DataFrame =
    withProbedBands(spark, db, table, deltaBands) { probe =>
      probe.queryExecution.executedPlan // pin the pruned bucketed scan
      probe
    }

}
