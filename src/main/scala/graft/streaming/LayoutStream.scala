package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Layout

/** Streaming maintenance of a z-ordered layout — continuous ingestion
  * into a file-skippable table, the [[IndexStream]] discipline applied
  * to [[Layout]]'s generational zone-map manifest: each micro-batch is
  * one [[Layout.appendZorder]] at generation `streamBase + batchId`,
  * clustered under the layout's persisted boundaries, with the
  * `gen=<g>` manifest partition as the commit marker. An
  * at-least-once replay first uncommits and sweeps its own previous
  * attempt, so a batch lands exactly once; a crash mid-batch leaves
  * every committed generation intact and probes never see a partial
  * batch.
  *
  * Contract: batches carry NEW rows only (the snapshot-diff `added`
  * stream — upstream dedup owns identity); one logical stream per
  * layout (same checkpoint across restarts), the single-writer
  * contract every maintenance path here assumes — and since r12 the
  * contract is ENFORCED, not trusted: a persisted `_stream_base` makes
  * [[Layout.appendZorder]] refuse manual appends (whose generations
  * would land inside the stream's band and be destroyed by the next
  * batch's replay-uncommit).
  *
  * Scale: per batch, cost is one clustering shuffle of the BATCH and
  * one manifest partition write — independent of layout size. The
  * manifest grows one bounded partition per batch; when probe-planning
  * cost matters, [[Layout.compactLayout]] folds every generation back
  * to a freshly-clustered gen 0 (re-derived boundaries — the cure for
  * append-era drift) under the DedupStream swap protocol. Compact only
  * while the stream is STOPPED with its checkpoint durable — and if
  * that rule is violated, the fold guard below fails the replay loudly
  * instead of duplicating rows.
  */
object LayoutStream {

  /** The stream's generation band starts above every generation
    * committed when the stream FIRST touched the layout (the build's
    * 0, any batch appends since) AND above any fold — so a stream
    * rebased after a compaction (marker deleted, fresh checkpoint)
    * can never re-enter the folded id range. Derived once, persisted
    * beside the layout, re-read forever after — replays map to the
    * SAME generation while never colliding with pre-stream ones (the
    * [[IndexStream.streamBase]] discipline). */
  private def streamBase(spark: SparkSession, dir: String): Long = {
    val marker = s"$dir/_stream_base"
    graft.FsUtils.readString(spark, marker) match {
      case Some(v) => v.trim.toLong
      case None =>
        val base = math.max(
          Layout.committedGens(spark, dir).lastOption.getOrElse(-1L),
          Layout.foldHigh(spark, dir)) + 1L
        graft.FsUtils.writeString(spark, marker, base.toString)
        base
    }
  }

  /** One micro-batch: append under the generational manifest protocol.
    *
    * Fold guard: a generation at or below [[Layout.foldHigh]] was
    * already absorbed into the base by [[Layout.compactLayout]] — the
    * only way a batch maps there is a REPLAY from a pre-fold
    * checkpoint (batch ids are monotone per checkpoint and
    * `_stream_base` is carried through folds, so genuinely new batches
    * always map above the fold). Re-appending would duplicate rows the
    * fold already carries, so the batch fails LOUDLY with the rebase
    * recipe instead (the r11 ADVICE: crash-proof protocol over
    * contractual trust). */
  def processBatch(batch: DataFrame, batchId: Long, dir: String,
                   nFiles: Int = 4): Unit = {
    val spark = batch.sparkSession
    val gen = streamBase(spark, dir) + batchId
    val fh = Layout.foldHigh(spark, dir)
    if (gen <= fh)
      throw new IllegalStateException(
        s"layout stream batch $batchId maps to generation $gen, which " +
          s"compactLayout already folded into the base (folded through " +
          s"$fh); its rows are already in the layout and re-appending " +
          "would duplicate them. This is a replay from a pre-fold " +
          s"checkpoint — rebase the stream: delete $dir/_stream_base " +
          "and restart from a FRESH checkpoint (the new base is derived " +
          "above the fold)")
    Layout.appendZorder(spark, batch, dir, nFiles = nFiles,
      gen = Some(gen), viaStream = true)
  }

  /** Attach the layout maintenance to a stream of table rows. The
    * layout must exist ([[Layout.zorderWrite]]) — boundaries are the
    * build's, by contract. */
  def run(rowsStream: DataFrame, dir: String,
          checkpoint: String, nFiles: Int = 4): StreamingQuery =
    rowsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, dir, nFiles)
      }
      .start()

  // ------------------------------------------------- hive-routed stream

  /** The stream base for a hive TREE: above every generation and fold
    * of every existing leaf, persisted once at the root — so one
    * monotone generation id per batch serves all leaves, whatever mix
    * of builds/appends/folds each leaf saw before the stream. */
  private def treeStreamBase(spark: SparkSession, root: String): Long = {
    val marker = s"$root/_stream_base"
    graft.FsUtils.readString(spark, marker) match {
      case Some(v) => v.trim.toLong
      case None =>
        val high = Layout.hiveLeaves(spark, root).flatMap { leaf =>
          Layout.committedGens(spark, leaf).lastOption.toSeq :+
            Layout.foldHigh(spark, leaf)
        }
        val base = (high :+ -1L).max + 1L
        graft.FsUtils.writeString(spark, marker, base.toString)
        base
    }
  }

  /** One micro-batch into a HIVE-partitioned z-ordered fact — the
    * production composition maintained continuously: rows route to
    * their partition leaf (the distinct-tuple collect is bounded by
    * the partition scheme's cardinality, never by rows), each touched
    * leaf takes one [[Layout.appendZorder]] at the batch's generation
    * under the leaf's own manifest protocol, and a leaf that doesn't
    * exist yet is CREATED (one [[Layout.zorderWrite]], boundaries
    * derived from its first rows — later appends reuse them).
    *
    * Exactly-once per leaf: appends replay via the leaf's own
    * gen-partition uncommit; a CREATING batch builds the leaf at the
    * batch's generation itself ([[Layout.zorderWrite]]'s `gen`), so
    * "this leaf was created by this batch" is readable from the
    * manifest alone — committedGens == Seq(gen) — and the replay
    * recreates idempotently (stream generations sit above every
    * pre-stream id, so no pre-stream leaf can collide). A crash
    * between the data write and the manifest commit leaves an
    * uncommitted leaf the replay rebuilds from scratch. The
    * replay-only-the-last-batch discipline of foreachBatch is what
    * makes creation-recreate safe — no later batch can have appended
    * to a leaf whose creating batch never committed the checkpoint.
    * Each touched leaf also receives the root `_stream_base` marker so
    * MANUAL appendZorder calls refuse ([[Layout.appendZorder]]'s
    * stream guard); one stream per tree, like every single-writer path
    * here. A leaf folded by [[Layout.compactLayout]] keeps the fold
    * guard: a replayed pre-fold batch fails loudly instead of
    * duplicating rows. */
  def processBatchHive(batch: DataFrame, batchId: Long, root: String,
                       partitionCols: Seq[String], zCols: Seq[String],
                       nFiles: Int = 4): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.col
    val gen = treeStreamBase(spark, root) + batchId
    val parts = batch.select(partitionCols.map(col): _*)
      .distinct().collect()
    parts.foreach { r =>
      // Null-safe routing (r12 ADVICE): `===` returns null for a null
      // partition value, silently dropping those rows AND building a
      // bogus "c=null" leaf. `<=>` routes them, and the leaf name uses
      // hive's own null token + %xx escaping, so the tree stays
      // readable by both [[Layout.zonePrunedReadLeaves]] and a native
      // partition-aware read.
      val leaf = root + "/" + partitionCols.zipWithIndex
        .map { case (c, i) =>
          val v = r.get(i)
          val dir = if (v == null) Layout.HiveDefaultPartition
                    else Layout.escapeHive(v.toString)
          s"$c=$dir"
        }.mkString("/")
      val rows = partitionCols.zipWithIndex.foldLeft(batch) {
        case (df, (c, i)) => df.filter(col(c) <=> r.get(i))
      }.drop(partitionCols: _*)
      val committed =
        graft.FsUtils.committedExists(spark, s"$leaf/_manifest_mm")
      val createdByThisBatch =
        committed && Layout.committedGens(spark, leaf) == Seq(gen)
      if (committed && !createdByThisBatch) {
        val fh = Layout.foldHigh(spark, leaf)
        if (gen <= fh)
          throw new IllegalStateException(
            s"hive layout stream batch $batchId maps to generation " +
              s"$gen at leaf $leaf, already folded (through $fh) — " +
              s"rebase: delete $root/_stream_base and restart from a " +
              "fresh checkpoint")
        Layout.appendZorder(spark, rows, leaf, nFiles = nFiles,
          gen = Some(gen), viaStream = true)
      } else {
        // fresh leaf, crashed-creation residue (uncommitted), or a
        // replayed creation (the leaf's one generation IS this gen):
        // (re)build idempotently at the batch's generation
        Layout.zorderWrite(spark, rows, zCols, leaf, nFiles, gen = gen)
      }
      graft.FsUtils.writeString(spark, s"$leaf/_stream_base",
        treeStreamBase(spark, root).toString)
    }
  }
}
