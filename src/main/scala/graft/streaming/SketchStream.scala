package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Sketches

/** Streaming fold of sketch stores — the serving-layer answer to
  * "distinct users / token frequencies / rate quantiles per slice,
  * updated per micro-batch, without ever rescanning the corpus". One
  * discipline, three sketch families:
  *
  *   - HLL registers (per-cell MAX merge)      → distinct counts
  *   - count-min counters (per-cell SUM merge) → item frequencies
  *   - HDR histograms (per-bucket SUM merge)   → quantiles
  *
  * Store layout mirrors [[DedupStream]]'s log-structured bucket-count
  * partials: each micro-batch writes its OWN cell-grain partial under
  * `ingest_batch=<id>` with dynamic partition overwrite, so an
  * at-least-once replay of a batch rewrites exactly its own partition
  * — exactly-once content without a transaction log. When partials
  * pile up, the fold collapses all non-current partitions into an
  * `ingest_batch=-1` sentinel via the same two-rename publish as
  * [[DedupStream.compactStore]] (crash at any point leaves a
  * recoverable copy; [[DedupStream.recoverCompaction]] heals it at
  * the next batch start).
  *
  * On top of that shared protocol the families differ in one honest
  * way: HLL's MAX merge is ALGEBRAICALLY idempotent — even a double
  * ingestion of the same rows (replay races, log duplication,
  * re-folding) cannot move an estimate — while the SUM merges are
  * replay-safe only through the partition-overwrite protocol, exactly
  * like DedupStream's counts. SketchStreamSpec pins both layers
  * separately per family.
  *
  * Scale: a batch's partial is cell-grain (|keys|·m / d·w / ≤350·|keys|
  * rows) regardless of batch width, estimates read only the
  * geometry-bounded store, and folds shuffle the store, never corpus
  * data.
  */
object SketchStream {

  /** The shared micro-batch protocol: publish the batch's cell-grain
    * partial under its batch id, then fold old partials when they
    * pile up. `cellCols` is the sketch's cell grain; `foldAgg` its
    * merge aggregate over `valueCol`. */
  private def processPartial(partial: DataFrame, batchId: Long,
                             storePath: String, cellCols: Seq[String],
                             valueCol: String, foldAgg: Column => Column,
                             maxPartials: Int): Unit = {
    val spark = partial.sparkSession
    DedupStream.recoverCompaction(spark, storePath)
    partial.withColumn("ingest_batch", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .option("compression", "zstd")
      .parquet(storePath)
    foldStore(spark, storePath, batchId, cellCols, valueCol, foldAgg,
      maxPartials)
  }

  /** Collapse accumulated per-batch partials into the `-1` sentinel
    * partition once more than `maxPartials` partitions exist. The
    * current batch's partition is kept unfolded so its replay can
    * still dynamic-overwrite itself; the fold is content-neutral
    * because every family's merge is associative. */
  def foldStore(spark: SparkSession, storePath: String,
                currentBatchId: Long, cellCols: Seq[String],
                valueCol: String, foldAgg: Column => Column,
                maxPartials: Int = 16): Boolean = {
    if (!graft.FsUtils.committedExists(spark, storePath)) return false
    val (fs, p) = DedupStream.fsOf(spark, storePath)
    val partitions = fs.listStatus(p).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("ingest_batch=")
    }
    if (partitions.length <= maxPartials) return false
    val current = spark.read.parquet(storePath)
      .filter(col("ingest_batch") === currentBatchId)
    val folded = spark.read.parquet(storePath)
      .filter(col("ingest_batch") =!= currentBatchId)
      .groupBy(cellCols.head, cellCols.tail: _*)
      .agg(foldAgg(col(valueCol)).as(valueCol))
      .withColumn("ingest_batch", lit(-1L))
    DedupStream.publishSwapped(spark, storePath)(tmp =>
      folded.unionByName(current.select(folded.columns.map(col): _*))
        .write.mode(SaveMode.Overwrite).partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(tmp))
    true
  }

  /** The live cell table of any store: all partials merged. Cheap —
    * the store is cell-grain, not corpus-grain. */
  def readStore(spark: SparkSession, storePath: String,
                cellCols: Seq[String], valueCol: String,
                foldAgg: Column => Column): DataFrame =
    spark.read.parquet(storePath).drop("ingest_batch")
      .groupBy(cellCols.head, cellCols.tail: _*)
      .agg(foldAgg(col(valueCol)).as(valueCol))

  // ---------------------------------------------------------------- HLL

  /** One HLL micro-batch: register partial from the batch's raw
    * (key, value) rows. Exposed directly (like
    * [[DedupStream.processBatch]]) so replay semantics are testable
    * without a streaming harness. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
                   valueCol: String, registersPath: String,
                   maxPartials: Int = 16): Unit =
    processPartial(Sketches.hllRegisters(batch, keyCols, valueCol),
      batchId, registersPath, keyCols :+ "reg_idx", "reg_rank", max,
      maxPartials)

  def readRegisters(spark: SparkSession, registersPath: String,
                    keyCols: Seq[String]): DataFrame =
    readStore(spark, registersPath, keyCols :+ "reg_idx", "reg_rank", max)

  /** Serving-side distinct estimates from the store as of now. */
  def estimate(spark: SparkSession, registersPath: String,
               keyCols: Seq[String]): DataFrame =
    Sketches.hllEstimate(readRegisters(spark, registersPath, keyCols),
      keyCols)

  /** Attach the register fold to a stream of (key, value) rows. */
  def run(stream: DataFrame, keyCols: Seq[String], valueCol: String,
          registersPath: String, checkpoint: String,
          maxPartials: Int = 16): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, keyCols, valueCol, registersPath,
          maxPartials)
      }
      .start()

  // ---------------------------------------------------------- count-min

  /** One CMS micro-batch from raw item occurrences (one row per
    * occurrence): count within the batch, hash only distinct items,
    * publish the d×w counter partial. */
  def processCmsBatch(items: DataFrame, batchId: Long, itemCol: String,
                      countersPath: String, maxPartials: Int = 16): Unit =
    processPartial(
      Sketches.cmsCounters(
        items.groupBy(itemCol).agg(count(lit(1)).as("cnt")),
        itemCol, "cnt"),
      batchId, countersPath, Seq("cms_row", "cms_idx"), "cnt", sum,
      maxPartials)

  def readCounters(spark: SparkSession, countersPath: String): DataFrame =
    readStore(spark, countersPath, Seq("cms_row", "cms_idx"), "cnt", sum)

  // ---------------------------------------------------------------- KMV

  /** One bottom-k micro-batch: the batch's own per-key bottom-k
    * partial under the shared protocol. The KMV fold is not a
    * cell-grain aggregate (it re-SELECTS the k smallest per key), so
    * it gets its own fold below — but min-selection is idempotent
    * like HLL's max-merge: double ingestion cannot move a sketch. */
  def processKmvBatch(batch: DataFrame, batchId: Long,
                      keyCols: Seq[String], valueCol: String,
                      sketchPath: String, k: Int = Sketches.KmvK,
                      maxPartials: Int = 16): Unit = {
    val spark = batch.sparkSession
    DedupStream.recoverCompaction(spark, sketchPath)
    Sketches.kmvSketch(batch, keyCols, valueCol, k)
      .withColumn("ingest_batch", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .option("compression", "zstd")
      .parquet(sketchPath)
    foldKmv(spark, sketchPath, batchId, keyCols, k, maxPartials)
  }

  /** Sentinel fold for the bottom-k store: re-select the k smallest
    * hashes per key over all non-current partials. Same two-rename
    * publish and crash recovery as [[foldStore]]. */
  def foldKmv(spark: SparkSession, sketchPath: String,
              currentBatchId: Long, keyCols: Seq[String],
              k: Int = Sketches.KmvK, maxPartials: Int = 16): Boolean = {
    if (!graft.FsUtils.committedExists(spark, sketchPath)) return false
    val (fs, p) = DedupStream.fsOf(spark, sketchPath)
    val partitions = fs.listStatus(p).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("ingest_batch=")
    }
    if (partitions.length <= maxPartials) return false
    val current = spark.read.parquet(sketchPath)
      .filter(col("ingest_batch") === currentBatchId)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("kmv_h"))
    val folded = spark.read.parquet(sketchPath)
      .filter(col("ingest_batch") =!= currentBatchId)
      .select((keyCols.map(col) :+ col("kmv_h")): _*).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .withColumn("ingest_batch", lit(-1L))
    DedupStream.publishSwapped(spark, sketchPath)(tmp =>
      folded.unionByName(current.select(folded.columns.map(col): _*))
        .write.mode(SaveMode.Overwrite).partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(tmp))
    true
  }

  /** The live bottom-k sketch per key: union all partials, re-select.
    * Correct because each partial holds its batch's k smallest — the
    * global k smallest are each the k smallest of their batch, so no
    * information is lost (the KMV merge guarantee). */
  def readKmv(spark: SparkSession, sketchPath: String,
              keyCols: Seq[String], k: Int = Sketches.KmvK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("kmv_h"))
    spark.read.parquet(sketchPath).drop("ingest_batch")
      .select((keyCols.map(col) :+ col("kmv_h")): _*).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Serving-side distinct estimates from the bottom-k store. */
  def kmvEstimate(spark: SparkSession, sketchPath: String,
                  keyCols: Seq[String],
                  k: Int = Sketches.KmvK): DataFrame =
    Sketches.kmvEstimate(readKmv(spark, sketchPath, keyCols, k),
      keyCols, k)

  // ---------------------------------------------------------- histogram

  /** One histogram micro-batch from raw (key, value) rows. */
  def processHistBatch(batch: DataFrame, batchId: Long,
                       keyCols: Seq[String], valueCol: String,
                       histPath: String, maxPartials: Int = 16): Unit =
    processPartial(Sketches.histBuckets(batch, keyCols, valueCol),
      batchId, histPath, keyCols :+ "bucket", "cnt", sum, maxPartials)

  def readHist(spark: SparkSession, histPath: String,
               keyCols: Seq[String]): DataFrame =
    readStore(spark, histPath, keyCols :+ "bucket", "cnt", sum)

  /** Serving-side quantile estimates from the store as of now. */
  def histEstimate(spark: SparkSession, histPath: String,
                   keyCols: Seq[String]): DataFrame =
    Sketches.histQuantiles(readHist(spark, histPath, keyCols), keyCols)
}
