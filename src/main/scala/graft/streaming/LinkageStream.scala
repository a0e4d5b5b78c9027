package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Linkage

/** Streaming fuzzy record linkage: dirty records arrive as
  * micro-batches and link against a master catalog that is itself
  * maintained OUT-OF-BAND (upserts land in the master's parquet
  * between batches — the dim-maintenance topology of
  * [[StreamingUpsert]]). Linkage is stateless across batches (each
  * dirty record resolves independently against the catalog), which
  * buys two properties for free that the dedup stream has to work
  * for: batches compose ≡ one-shot trivially, and replay only needs
  * the sink discipline, not store reconciliation.
  *
  * Per batch:
  *  - the master is read FRESH from its path (stream-static: a batch
  *    always links against the catalog as of its own start, so master
  *    upserts are picked up at the next trigger without restarting
  *    the stream);
  *  - linked rows land in `linksPath` partitioned by `ingest_batch`
  *    with dynamic overwrite — replaying a batch rewrites exactly its
  *    own partition (the [[DedupStream]] exactly-once discipline);
  *  - the UNLINKED residue (no candidate within the distance budget)
  *    lands beside them in `<linksPath>_unlinked` under the same
  *    replay discipline — the manual-review queue every production
  *    ER pipeline needs; dropping it silently would violate the
  *    repo's no-silent-drops principle at the record level.
  *
  * Scale: the master token table broadcasts per batch (catalog-sized,
  * not stream-sized); per-batch cost is O(batch) banding + the one
  * per-dirty-id resolve shuffle inside [[Linkage.fuzzyLink]].
  */
object LinkageStream {

  /** One micro-batch (exposed directly so replay semantics are
    * testable without a streaming harness — the [[DedupStream]]
    * convention). `batch` must expose (dirty_id, dirty_name); the
    * master parquet at `masterPath` (master_id, master_name). */
  def processBatch(batch: DataFrame, batchId: Long, masterPath: String,
                   linksPath: String, maxDist: Int = 2): Unit = {
    val spark = batch.sparkSession
    val master = spark.read.parquet(masterPath)
      .select("master_id", "master_name")
    // same-batch re-deliveries collapse before linking (at-least-once
    // ingest): keep-first by dirty_id is deterministic because
    // re-deliveries carry identical payloads
    val dirty = batch.select("dirty_id", "dirty_name")
      .dropDuplicates("dirty_id")
    val links = Linkage.fuzzyLink(master, dirty, maxDist = maxDist)
      .persist()
    try {
      links.withColumn("ingest_batch", lit(batchId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(linksPath)
      dirty.join(links.select("dirty_id"), Seq("dirty_id"), "left_anti")
        .withColumn("ingest_batch", lit(batchId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .option("compression", "zstd").parquet(unlinkedPathOf(linksPath))
    } finally links.unpersist()
  }

  def unlinkedPathOf(linksPath: String): String = linksPath + "_unlinked"
}
