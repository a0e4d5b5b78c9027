package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Curation

/** Streaming weighted reservoir — [[Curation.samplePriorityWeighted]]
  * maintained over an unbounded stream: after any prefix of batches,
  * the store holds EXACTLY the k highest-priority rows seen so far,
  * identical to running the batch sampler over the union corpus
  * (SampleStreamSpec pins it). The fixed-size always-current sample
  * every monitoring/eval loop wants over a firehose.
  *
  * Why this is exactly-once WITHOUT a generation protocol: priorities
  * are a pure function of row content (w / content-hash uniform — no
  * randomness, no clock), and the per-batch fold is
  * `top-k(store ∪ batch)` with a keyed dedup — an idempotent,
  * commutative-over-prefixes set operation. A replayed batch re-unions
  * the same rows with the same priorities and the fold lands on the
  * same store; batch order cannot change the result either. The store
  * publish still uses [[DedupStream.publishSwapped]]'s tmp+swap (a crash
  * mid-write must not leave a torn store), but no batch id enters the
  * state at all.
  *
  * Scale: per batch, one scan of the BATCH for priorities, a top-k
  * (TakeOrdered) over store ∪ batch where the store side is k rows —
  * cost independent of stream history. State is exactly k rows. */
object SampleStream {

  /** One micro-batch: fold the batch into the k-row reservoir. The
    * reservoir keys on `keyCol` (rows are sampled at most once; the
    * upstream owns identity, as with every ingest path here). */
  def processBatch(batch: DataFrame, storePath: String, weightCol: String,
                   keyCol: String, k: Int,
                   salt: String = "priority"): Unit = {
    val spark = batch.sparkSession
    DedupStream.recoverCompaction(spark, storePath)
    val scored = Curation.samplePriorityWeighted(
      batch, col(weightCol), col(keyCol), k, salt)
    // schema sidecar (sibling path — the store dir itself is replaced
    // by the swap): written BEFORE the first store commit so
    // [[snapshot]] can return a TYPED empty frame even in the window
    // where this batch's fold crashed before publishing
    val sp = schemaPath(storePath)
    if (graft.FsUtils.readString(spark, sp).isEmpty)
      graft.FsUtils.writeString(spark, sp, scored.schema.json)
    val unioned =
      if (graft.FsUtils.committedExists(spark, storePath))
        spark.read.parquet(storePath).unionByName(scored)
      else scored
    val folded = unioned
      // keyed dedup: a replayed batch re-offers rows already in the
      // store; priorities are content-deterministic so max(struct)
      // keeps one copy bit-identically
      .groupBy(col(keyCol))
      .agg(max(struct(col("priority"), struct(unioned.columns
        .filterNot(_ == keyCol).map(col): _*).as("rest"))).as("m"))
      .select(col(keyCol) +: unioned.columns.filterNot(_ == keyCol)
        .map(c => col(s"m.rest.$c").as(c)): _*)
      .orderBy(col("priority").desc, col(keyCol))
      .limit(k)
    DedupStream.publishSwapped(spark, storePath)(tmp =>
      folded.coalesce(1).write.mode("overwrite").parquet(tmp))
  }

  private def schemaPath(storePath: String): String =
    storePath.stripSuffix("/") + "_schema"

  /** The current reservoir. Before the first commit: a TYPED empty
    * frame from the schema sidecar [[processBatch]] persists (the
    * CdcStream.snapshot convention — callers can select reservoir
    * columns on the pre-commit snapshot); before the first BATCH has
    * even run, no schema exists anywhere, so the zero-column
    * `spark.emptyDataFrame` is returned. */
  def snapshot(spark: SparkSession, storePath: String): DataFrame =
    if (graft.FsUtils.committedExists(spark, storePath))
      spark.read.parquet(storePath)
    else graft.FsUtils.readString(spark, schemaPath(storePath)) match {
      case Some(js) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.DataType.fromJson(js)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      case None => spark.emptyDataFrame
    }

  /** Attach the reservoir maintenance to a stream of rows. */
  def run(rowsStream: DataFrame, storePath: String, weightCol: String,
          keyCol: String, k: Int, checkpoint: String): StreamingQuery =
    rowsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, storePath, weightCol, keyCol, k)
      }
      .start()
}
