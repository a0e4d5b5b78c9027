package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.queries.QueryPack

/** Deterministic sharded training export — the step that turns a
  * curated corpus into what a trainer actually consumes: a reproducible
  * global shuffle of the documents into N fixed-membership shards, one
  * hive directory per shard, with a stable within-shard order.
  *
  * Determinism is the point: shard membership and order derive ONLY
  * from (seed, id) through a portable md5-prefix hash, never from
  * partition layout, task scheduling, or row arrival order — so two
  * runs of the same corpus produce byte-identical shards, a re-export
  * after an upstream fix changes exactly the rows that changed, and
  * any engine (the DuckDB oracle included) can recompute who belongs
  * where. This is the dataset-versioning property
  * [[Curation.snapshotDiff]] measures, applied to the training layout.
  *
  * 100 TB shape: assignment is scan-local (a hash of the id); the
  * export is ONE shuffle on the shard key plus a within-partition sort
  * — no global sort, no driver-side anything. Shard count is chosen so
  * a shard fits a trainer's reader; `maxRecordsPerFile` bounds file
  * sizes inside a shard without changing order (Spark splits
  * sequentially). The order-fingerprint QUERY gathers per-shard id
  * lists and is the verification harness, sized for audits of shard
  * samples, not a per-build corpus pass.
  */
object Export extends QueryPack {

  /** Shard count / seed for the declared query and its oracle. */
  val NShards = 16
  val Seed = "graft-export-v1"

  /** Portable 32-bit shuffle hash of (seed, id): first 8 md5 hex chars
    * as a long in [0, 2^32) — the same md5-prefix pattern as the
    * minhash kernel, so DuckDB replays it bit-for-bit. */
  private def shuffleHash(id: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed + ":"), id.cast("string"))), 1, 8),
      16, 10).cast("long")

  /** Adds (`shuffle_h`, `shard`) to the frame: shard = h mod nShards.
    * Scan-local — no exchange; the hash doubles as the within-shard
    * sort key, which is exactly a seeded uniform shuffle of the corpus
    * (ties broken by id). */
  def assignShards(df: DataFrame, idCol: String, nShards: Int,
                   seed: String): DataFrame =
    df.withColumn("shuffle_h", shuffleHash(col(idCol), seed))
      .withColumn("shard", pmod(col("shuffle_h"), lit(nShards.toLong)))

  /** Write the corpus as training shards: `shard=K/` hive dirs, rows
    * ordered by (shuffle_h, id) within each shard. One shuffle
    * (repartition on shard) + a task-local sort; the sort leads with
    * `shard` because nShards can exceed the task count, putting two
    * shards in one task — the writer then splits them into their dirs
    * with each dir's order intact. */
  def exportShards(df: DataFrame, idCol: String, outPath: String,
                   nShards: Int = NShards, seed: String = Seed,
                   maxRecordsPerFile: Long = 0L): Unit =
    assignShards(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_h"), col(idCol))
      // the order key is recomputable from (seed, id) — writing it
      // would add dead payload to every training shard (a Project
      // above the sort preserves the written row order)
      .drop("shuffle_h")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .option("compression", "zstd")
      .parquet(outPath)

  /** Incremental re-export: rewrite ONLY the shards whose membership
    * changed between two corpus snapshots — at scale the whole point
    * of deterministic sharding (a 0.1% ingest delta touches ~every
    * shard only if deltas are uniform; a sourced batch touches few,
    * and either way untouched shard FILES stay byte-identical for
    * downstream caching/resume). Returns the rewritten shard ids.
    *
    * Shape: the snapshot-diff primitive ([[Curation.snapshotDiff]]'s
    * full-outer-join-of-digests), but the digest covers EVERY column
    * the export writes — a text-only hash would miss a changed
    * metadata column and leave its shard file stale, silently breaking
    * incremental ≡ full. Both snapshots reduce to (id, digest)
    * scan-side; the changed ids map to shards scan-locally
    * and only that bounded id set reaches the driver (≤ nShards
    * values). The rewrite keeps only rows hashing into touched shards
    * and dynamic-partition-overwrites exactly those dirs: one full
    * pass over the current corpus, plus a column-pruned id-only pass
    * for the emptiness probe below. A touched shard left with NO
    * surviving rows is invisible to dynamic overwrite (nothing to
    * write), so its stale dir is deleted explicitly — driver-side,
    * bounded by nShards. */
  def exportShardsIncremental(prev: DataFrame, cur: DataFrame,
                              idCol: String, outPath: String,
                              nShards: Int = NShards,
                              seed: String = Seed): Seq[Long] = {
    def digest(df: DataFrame, as: String) = {
      val others = df.columns.filterNot(_ == idCol).sorted.map(col)
      df.select(col(idCol), xxhash64(struct(others: _*)).as(as))
    }
    // null-safe inequality: added (old null), removed (new null), and
    // changed rows all satisfy NOT(old <=> new)
    val changed = digest(prev, "__dg_old")
      .join(digest(cur, "__dg_new"), Seq(idCol), "full_outer")
      .filter(!(col("__dg_old") <=> col("__dg_new")))
    val touched = assignShards(changed.select(col(idCol)), idCol,
        nShards, seed)
      .select("shard").distinct().collect().map(_.getLong(0)).toSeq.sorted
    if (touched.isEmpty) return Seq.empty
    val rows = assignShards(cur, idCol, nShards, seed)
      .filter(col("shard").isin(touched: _*))
    val nonEmpty = rows.groupBy("shard").count()
      .collect().map(_.getLong(0)).toSet
    rows.repartition(touched.size, col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_h"), col(idCol))
      .drop("shuffle_h") // recomputable from (seed, id); see exportShards
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .option("compression", "zstd")
      .parquet(outPath)
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(cur.sparkSession.sessionState.newHadoopConf())
    touched.filterNot(nonEmpty).foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/shard=$s"), true)
    }
    touched
  }

  /** Streaming shard export — the sink half of a streaming curation
    * pipeline: each micro-batch's rows land in their deterministic
    * shards as an append, under the SAME membership/order law as the
    * batch writer (shard and in-file order depend on (seed, id) only,
    * so batch boundaries never change where a row lives — only when it
    * arrives). Layout is `shard=K/ingest_batch=B/`: a trainer reads
    * `shard=K` recursively; lexicographic file order within a shard is
    * (batch, in-batch hash order) — deterministic given the ingest
    * split.
    *
    * Exactly-once across foreachBatch replays, the
    * [[graft.streaming.DedupStream]] discipline: the sink is
    * hive-partitioned by (shard, ingest_batch) and written with
    * dynamic partition overwrite, so a replayed batch overwrites its
    * own `ingest_batch=B` leaves and nothing else.
    *
    * Small-file growth (one dir per shard per batch) needs no bespoke
    * compactor: because membership and order are pure functions of
    * (seed, id), a periodic [[exportShards]] over the corpus snapshot
    * IS the compaction — it produces the byte-identical consolidated
    * layout a from-scratch export would, one file per shard, and the
    * stream resumes appending on top. Determinism is what makes that
    * rebuild semantics-preserving; a nondeterministic shuffle would
    * have to keep the fragmented history forever. */
  def processBatchExport(batch: DataFrame, batchId: Long, idCol: String,
                         outPath: String, nShards: Int = NShards,
                         seed: String = Seed): Unit =
    assignShards(batch, idCol, nShards, seed)
      .withColumn("ingest_batch", lit(batchId))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_h"), col(idCol))
      .drop("shuffle_h") // recomputable from (seed, id); see exportShards
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "ingest_batch")
      .option("compression", "zstd")
      .parquet(outPath)

  /** `lineage_shard_audit`'s export dir for source dir `d`: one per
    * source dir, so audits of two SF dirs in one JVM never share it. */
  def lineageDir(d: String): String = Scratch.path("graft_lineage_" +
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))

  def queries: Map[String, QFn] = Map(
    // Per-shard membership, volume, and an order fingerprint: md5 over
    // the shard's ids concatenated in (shuffle_h, id) order — the
    // cross-engine proof that membership AND order are functions of
    // (seed, id) alone.
    "export_shard_stats" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      assignShards(docs, "doc_id", NShards, Seed)
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(struct(col("shuffle_h"), col("doc_id")))),
            t => t.getField("doc_id").cast("string")))).as("order_fp"))
    }),

    // File-grain provenance / export audit: export the corpus to hive
    // shards, read the PHYSICAL files back, re-derive each row's shard
    // from `input_file_name()` (the path string, not the inferred hive
    // column — the mechanism that traces a bad training doc back to
    // its source shard file at 100 TB), and verify per-file contents
    // against the deterministic membership function, which the oracle
    // replays from the source table alone. Detects layout corruption
    // the membership query can't see: a file moved into the wrong
    // shard dir, a dropped/duplicated file, a partial write — any of
    // them breaks n_docs / id_sum / content_fp for its shard.
    // Scale: the audit is one scan of the export with a groupBy on the
    // shard key (map-side combined); input_file_name is evaluated
    // scan-side per row, no driver involvement.
    "lineage_shard_audit" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("lang"),
          col("n_chars"))
      val out = lineageDir(d)
      exportShards(docs, "doc_id", out)
      s.read.parquet(out)
        .withColumn("__file", input_file_name())
        .withColumn("shard_from_path",
          regexp_extract(col("__file"), "shard=([0-9]+)", 1).cast("long"))
        .groupBy(col("shard_from_path").as("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          // fixed-point content fingerprint: md5-prefix of the text as
          // a bigint, summed — order-free, overflow-free at this width
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("content_fp"),
          // the inferred hive column must agree with the path-derived
          // shard on every row (they come from the same dir, so this
          // pins the regexp derivation, not the layout)
          bool_and(col("shard_from_path") === col("shard"))
            .as("path_matches_partition"),
          countDistinct(col("__file")).cast("long").as("n_files"))
    })
  )

  def oracles: Map[String, String] = Map(
    "export_shard_stats" -> s"""
      WITH a AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5('$Seed:' || CAST(doc_id AS VARCHAR)),
                 1, 8)) AS BIGINT) AS h
        FROM documents)
      SELECT h % $NShards AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY h, doc_id)) AS order_fp
      FROM a GROUP BY 1""",

    // Replays the membership function and the content fingerprint from
    // the SOURCE table; the Spark side must recover identical per-shard
    // stats from the physical files via input_file_name. The layout
    // invariants (path agrees with the hive column; exactly one file
    // per shard — each shard value hashes to one writer task) are
    // constants of a healthy export, so the oracle states them.
    "lineage_shard_audit" -> s"""
      WITH a AS (
        SELECT doc_id, text,
               CAST(('0x' || substr(md5('$Seed:' || CAST(doc_id AS VARCHAR)),
                 1, 8)) AS BIGINT) % $NShards AS shard
        FROM documents)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum,
             CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
               AS BIGINT) AS content_fp,
             TRUE AS path_matches_partition,
             CAST(1 AS BIGINT) AS n_files
      FROM a GROUP BY 1"""
  )
}
