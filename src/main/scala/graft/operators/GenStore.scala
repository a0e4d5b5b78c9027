package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.DedupStream

/** The shared GENERATIONAL-STORE protocol behind every incrementally
  * maintained index in this library (text postings, IVF vectors):
  * data lives under `dataPath/ingest_batch=<g>/…`, and a slim
  * per-generation stats row under `statsPath/ingest_batch=<g>` is the
  * COMMIT MARKER — maintenance writes data first and the marker LAST,
  * readers admit exactly the marked generations. That one rule makes
  * every intermediate state of an append, a retry, or a fold
  * consistent without a transaction log:
  *
  *  - crashed append → unmarked orphan partition, invisible; the
  *    retry re-derives the same id from the COMMITTED set and clears
  *    the orphan before writing;
  *  - fold (two-level LSM): the collapsed generations land as ONE
  *    fresh sentinel run's partition (negative ids, allocated
  *    downward; unmarked, invisible), the stats swap is the atomic
  *    commit point, and unmarked partitions are then garbage
  *    collected. Minor folds collapse batch generations at
  *    O(recently-appended) cost; sentinel runs themselves collapse
  *    only in the rare major fold, so the store-grain rewrite
  *    amortizes over maxPartials·maxSentinels appends.
  *
  * Single-writer maintenance assumed (one append/fold job at a time);
  * readers are unrestricted. The stats swap uses
  * [[DedupStream.publishSwapped]]'s two-rename publish and is healed by
  * [[DedupStream.recoverCompaction]] at the next maintenance call.
  */
object GenStore {

  /** Ceiling of the sentinel id space: folds allocate downward from
    * here; appends count up from 0 (see [[nextGen]]). */
  val SentinelCeiling: Long = -1L

  /** Committed generation ids — the marker rows. Slim: one row per
    * live generation, bounded by compaction. */
  def committedIds(spark: SparkSession, statsPath: String): Array[Long] =
    spark.read.parquet(statsPath)
      .select(col("ingest_batch").cast("long")) // partition col infers int
      .collect().map(_.getLong(0))

  /** The next append generation, derived from the COMMITTED set only
    * — a crashed append's orphan never advances the id, so the retry
    * overwrites it. ≥ 0 always (sentinels are negative). A store with
    * no committed marker yet (fresh dir, or a first ingest that died
    * before its marker) starts at 0 rather than failing the read. */
  def nextGen(spark: SparkSession, statsPath: String): Long =
    if (!graft.FsUtils.committedExists(spark, statsPath)) 0L
    else committedIds(spark, statsPath).foldLeft(SentinelCeiling)(math.max) + 1

  /** The generation ids visible "as of" append generation `asOf` of
    * the CURRENT epoch: every sentinel (the folded base snapshot) plus
    * the appends with id ≤ asOf. Time travel in an LSM store is exact
    * only back to the last fold — compaction trades history for read
    * cost, so pre-fold snapshots are gone (their partitions are GC'd)
    * and asking for one throws rather than serving a silently wrong
    * mixture. Pass `minAppend - 1` (or -1 when no appends are live)
    * for the post-fold base snapshot itself.
    *
    * Sound because folds collapse the FULL append prefix (see
    * [[compact]]: foldable = every non-protected append), so the
    * sentinels together are exactly "everything before the current
    * epoch's appends" and base + appends ≤ g reproduces the store as
    * append g's marker landed. */
  def committedIdsAsOf(spark: SparkSession, statsPath: String,
                       asOf: Long): Array[Long] = {
    val ids = committedIds(spark, statsPath)
    val appends = ids.filter(_ >= 0)
    val floor = if (appends.isEmpty) -1L else appends.min - 1
    require(asOf >= floor,
      s"generation $asOf predates the last fold (oldest addressable " +
        s"snapshot is $floor); compaction reclaimed that history")
    ids.filter(g => g < 0 || g <= asOf)
  }

  /** [[committedData]] restricted to the as-of-visible generations. */
  def committedDataAsOf(spark: SparkSession, dataPath: String,
                        statsPath: String, asOf: Long): DataFrame = {
    val ids = committedIdsAsOf(spark, statsPath, asOf).map(lit(_))
    spark.read.option("ignoreMissingFiles", "true").parquet(dataPath)
      .filter(col("ingest_batch").isin(ids: _*))
  }

  /** Resolved committed-view cache (r15): building the committed view
    * costs a marker collect (one Spark job) plus a full data-tree
    * listing PER CALL — on a point-serving path (REST kNN / BM25
    * probes) that resolution dominated the request. Keyed by
    * (session, dataPath); every writer in this object ([[ingest]],
    * [[compact]]) and every full-rebuild entry point
    * (writeIvfIndex/writeIvfPqIndex/writeTextIndex) invalidates by
    * dataPath, so a cached view can never miss a committed generation.
    * GC'd files are tolerated by the view's own ignoreMissingFiles. */
  private val committedCache =
    new graft.ResolvedCache[(SparkSession, String), DataFrame](64, _._2, _._1)

  /** Drop cached committed views under `dataPath`. Writers inside
    * this object call it automatically; external rebuilds that bypass
    * the GenStore writers (full `mode("overwrite")` index builds)
    * must call it after committing. */
  def invalidateResolved(dataPath: String): Unit =
    committedCache.invalidate(dataPath)

  /** Marked-generations filter for a data read. ignoreMissingFiles:
    * the GC sweep deletes unmarked partitions a concurrent reader may
    * have already file-listed — those partitions are invisible to the
    * marker filter anyway, so skipping their vanished files changes
    * nothing about the rows served, it only keeps the scan from
    * failing mid-flight (readers are unrestricted; only maintenance
    * is single-writer). The resolved view is served from
    * [[committedCache]]; executions stay fresh reads of the listed
    * files. */
  def committedData(spark: SparkSession, dataPath: String,
                    statsPath: String): DataFrame =
    committedCache.get((spark, dataPath)) {
      val ids = committedIds(spark, statsPath).map(lit(_))
      spark.read.option("ignoreMissingFiles", "true").parquet(dataPath)
        .filter(col("ingest_batch").isin(ids: _*))
    }

  /** Land one generation: clear any orphan at this id, write the data
    * partition, then the marker row LAST. `statsRow` must carry
    * `ingest_batch` plus the store's mergeable stat columns. */
  def ingest(spark: SparkSession, dataPath: String, statsPath: String,
             gen: Long, data: DataFrame, partCols: Seq[String],
             statsRow: DataFrame): Unit = {
    val (fs, _) = DedupStream.fsOf(spark, dataPath)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dataPath/ingest_batch=$gen"), true)
    data.withColumn("ingest_batch", lit(gen))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch" +: partCols: _*)
      .option("compression", "zstd")
      .parquet(dataPath)
    statsRow.coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(statsPath)
    // the marker is committed — cached pre-append views are now stale
    invalidateResolved(dataPath)
  }

  /** Drop data partitions that carry no marker — folded sources a
    * crashed fold never got to GC, and crashed-append orphans whose
    * id has since been passed over. They are invisible to every
    * reader already (the marker filter), so this sweep costs disk
    * reclamation only, never correctness. `protectGen` (an in-flight
    * ingest that has not committed its marker yet) is kept. */
  private[graft] def gcUnmarked(spark: SparkSession, dataPath: String,
                                statsPath: String,
                                protectGen: Long = Long.MinValue): Unit = {
    val (fs, dataRoot) = DedupStream.fsOf(spark, dataPath)
    if (!fs.exists(dataRoot)) return
    val live = (committedIds(spark, statsPath).toSet + protectGen)
      .map(g => s"ingest_batch=$g")
    fs.listStatus(dataRoot)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("ingest_batch=") &&
        !live.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** The two-level LSM fold (see object doc). `layout` arranges the
    * folded rows before the partitioned write (repartition/sort —
    * store-specific); `foldStats` merges the folded generations'
    * marker rows into ONE row (without `ingest_batch` — it is
    * attached here). Returns true if a fold ran. The orphan sweep
    * runs UNCONDITIONALLY (before the fold-threshold early returns):
    * a crash between a previous fold's stats swap and its GC must not
    * strand the folded sources until the NEXT fold happens to
    * trigger — any maintenance call reclaims them. */
  def compact(spark: SparkSession, dataPath: String, statsPath: String,
              partCols: Seq[String], layout: DataFrame => DataFrame,
              foldStats: DataFrame => DataFrame,
              protectGen: Long = Long.MinValue,
              maxPartials: Int = 16, maxSentinels: Int = 8): Boolean = {
    DedupStream.recoverCompaction(spark, dataPath)
    DedupStream.recoverCompaction(spark, statsPath)
    if (!graft.FsUtils.committedExists(spark, statsPath)) return false
    gcUnmarked(spark, dataPath, statsPath, protectGen)
    val ids = committedIds(spark, statsPath)
    if (ids.length <= maxPartials) return false
    val major = ids.count(_ < 0) >= maxSentinels
    val foldable = ids.filter(g => g != protectGen && (g >= 0 || major))
    if (foldable.length < 2) return false // relocating one gen buys nothing
    val newGen = math.min(ids.min, 0L) - 1
    val foldLits = foldable.map(lit(_))
    val (fs, _) = DedupStream.fsOf(spark, dataPath)
    // 1. the sentinel's data partition — no marker yet, invisible
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dataPath/ingest_batch=$newGen"), true)
    layout(spark.read.parquet(dataPath)
        .filter(col("ingest_batch").isin(foldLits: _*))
        .withColumn("ingest_batch", lit(newGen)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch" +: partCols: _*)
      .option("compression", "zstd")
      .parquet(dataPath)
    // 2. the commit point: swap stats to (kept rows + sentinel row)
    val stats = spark.read.parquet(statsPath)
    val statCols = stats.columns.filter(_ != "ingest_batch").map(col)
    val normalized = stats.select(
      statCols :+ col("ingest_batch").cast("long").as("ingest_batch"): _*)
    val fresh = foldStats(
        normalized.filter(col("ingest_batch").isin(foldLits: _*))
          .drop("ingest_batch"))
      .withColumn("ingest_batch", lit(newGen))
      .unionByName(normalized.filter(!col("ingest_batch").isin(foldLits: _*)))
      .coalesce(1)
    DedupStream.publishSwapped(spark, statsPath)(tmp =>
      fresh.write.mode(SaveMode.Overwrite).partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(tmp))
    // 3. GC: drop data partitions with no marker (folded sources and
    // crashed-append orphans alike) — already invisible. A crash
    // before this step costs disk, never correctness, and the
    // unconditional sweep at the next maintenance call reclaims it.
    gcUnmarked(spark, dataPath, statsPath, protectGen)
    // the stats swap re-mapped generation ids — drop cached views
    invalidateResolved(dataPath)
    true
  }
}
