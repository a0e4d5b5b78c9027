package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{FsUtils, Scratch, Tables}
import graft.queries.QueryPack

/** Data-layout operators for scan-side IO elimination — the knobs a
  * 100 TB deployment turns before touching any query plan:
  *
  *  - **Z-order clustering** ([[zorderWrite]]): multi-column locality
  *    via a Morton (bit-interleaved) sort key over quantile-bucketed
  *    columns, so a file's min/max envelope is tight on EVERY layout
  *    column at once — a predicate on any one of them (not just a
  *    lexicographic sort's leading column) skips most files. The
  *    technique lakehouse formats expose as `OPTIMIZE ... ZORDER BY`;
  *    here it is a plain parquet write plus a zone-map manifest, no
  *    table format required.
  *  - **Zone-map manifest** (`_manifest_mm`): per-file min/max of the
  *    layout columns, collected once at write time. Probes prune the
  *    FILE LIST driver-side (the manifest is `nFiles` rows — bounded)
  *    before Spark ever lists the data dir, so skipped files cost
  *    zero footer reads — the same listing-time pruning contract as
  *    the IVF/text index buckets in [[Similarity]]/[[Retrieval]].
  *  - **Bloom manifest** ([[writeBloomManifest]]): per-file bloom
  *    bitsets over a point-lookup key, built with Catalyst's own
  *    runtime-filter aggregate (`bloom_build`, surfaced by
  *    [[graft.GraftExtensions]]). No false negatives, so pruning is
  *    semantics-preserving: bloom-negative files provably hold no
  *    matching row; only bloom-positive files are read and the exact
  *    predicate settles false positives. Needle-in-100TB lookups
  *    become O(files-that-might-match) instead of O(corpus).
  *  - **Salted skew join** (`j15_salted_skew`, via
  *    [[graft.sources.SkewTools.saltedJoin]]): the standard remedy
  *    when a shuffled join key is hot AND the dim side is too big to
  *    broadcast. Result is EXACTLY the plain join's (every fact row
  *    meets precisely the one replica carrying its salt), which is
  *    what lets a DuckDB oracle pin it with an ordinary join.
  *
  * Note on logs: manifests live under `_`-prefixed dirs ON PURPOSE —
  * that's what keeps them invisible to plain `spark.read.parquet(dir)`
  * scans. Reading one explicitly makes Spark's DataSource log
  * "All paths were ignored" (it keeps explicitly-specified hidden
  * paths and warns); the warning is expected and harmless — every
  * manifest read here is oracle-verified.
  *
  * Reference anchors: the reference partitions its fact by 5 hive
  * levels and leans on DuckDB zone maps for everything else
  * (webapp/DASHBOARD_OPTIMIZATION_GUIDE.md's "row-group skipping"
  * notes); these operators are the Spark-native generalization —
  * multi-dimensional clustering and file-grain skipping for the
  * predicates hive levels don't cover.
  */
object Layout extends QueryPack {

  /** Per-column bucket bits: 2^5 = 32 quantile buckets per column —
    * with 2 columns a 10-bit z-space, plenty of resolution for any
    * realistic file count (files ≪ 1024 z-cells). */
  val ZBits = 5

  /** Morton interleave — [[graft.sources.ZOrder.interleave]], the one
    * shared bit cascade (ZOrder ranks by linear scaling against fixed
    * bounds; this module ranks by EQUI-DEPTH quantile buckets, the
    * skew-robust choice for a maintained layout: a heavy-tailed column
    * still spreads rows evenly across cells instead of cramming the
    * head into one). Inputs are 0-based bucket ids < 2^bits. */
  def zValue(buckets: Seq[Column], bits: Int = ZBits): Column =
    graft.sources.ZOrder.interleave(buckets, bits)

  /** Approximate per-column quantile boundaries (as doubles — exact
    * for integral keys below 2^53) — ONE aggregate job for all
    * columns, collected as literals (bounded by 2^bits per column,
    * never by data; the [[Ranking.globalRank]] convention). */
  def quantileBoundaries(df: DataFrame, cols: Seq[String],
                         bits: Int = ZBits): Seq[(String, Seq[Double])] = {
    val nB = 1 << bits
    val probs = (1 until nB).map(_.toDouble / nB).toArray
    val aggs = cols.map(c =>
      percentile_approx(col(c).cast("double"), lit(probs), lit(10000))
        .as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val bs: Seq[Double] =
        if (row.isNullAt(i)) Seq.empty
        else row.getSeq[Double](i).distinct
      c -> bs
    }
  }

  /** Bucket ids (0-based longs) from persisted boundaries. Equal
    * values always share a bucket, nulls bucket to 0. The SAME
    * function serves the initial build and every append — bucketing
    * is a pure function of the persisted boundaries, so delta rows
    * cluster consistently with the base layout. */
  def bucketsFromBoundaries(bMap: Seq[(String, Seq[Double])]): Seq[Column] =
    bMap.map { case (c, bs) =>
      if (bs.isEmpty) lit(0L)
      else size(filter(array(bs.map(lit(_)): _*),
        b => col(c).cast("double") >= b)).cast("long")
    }

  /** Cluster `df` by the Morton order of the boundary map and write
    * into `dir` (one shuffle on the z-value, a task-local sort to
    * tighten per-row-group stats, the z-column dropped before the
    * write). Returns nothing; the caller owns manifest publication.
    *
    * The file cut points are EXACT equi-depth z-values from one
    * per-cell count (≤ 2^(cols·bits) rows collected), not
    * `repartitionByRange`'s sampled bounds, which are seeded by the
    * RDD id: with those, the file split (and so the zone map) would
    * depend on how many RDDs the JVM had made before. */
  private def writeClustered(df: DataFrame, bMap: Seq[(String, Seq[Double])],
                             dir: String, nFiles: Int, bits: Int,
                             mode: String): Unit = {
    val zdf = df.withColumn("__z", zValue(bucketsFromBoundaries(bMap), bits))
    val cells = zdf.groupBy("__z").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = cells.map(_._2).sum
    val before = cells.map(_._2).scanLeft(0L)(_ + _)
    // cut i opens at the first cell with >= i/nFiles of the rows before it
    val cuts = (1 until nFiles).flatMap { i =>
      cells.indices.find(j => before(j) * nFiles >= total * i)
        .map(j => cells(j)._1)
    }.distinct
    val fileId = size(filter(array(cuts.map(lit(_)): _*),
      c => col("__z") >= c))
    zdf.repartitionById(nFiles, fileId)
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(dir)
  }

  /** Zone-map rows (per-file min/max of each layout column) for the
    * given data files. */
  private def manifestRows(spark: SparkSession, cols: Seq[String],
                           files: Seq[String]): DataFrame = {
    val mmAggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("file"))
      .agg(mmAggs.head, mmAggs.tail: _*)
  }

  /** Top-level committed-or-not data files of a layout dir (the
    * manifest and other `_`/`.`-prefixed sidecars excluded). */
  private def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toUri.toString)
  }

  private def baseName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  /** Write `df` to `outDir` clustered by the Morton order of `cols`,
    * plus two sidecars: `_boundaries` (the bucket function — appends
    * MUST reuse it so delta rows cluster consistently) and
    * `_manifest_mm` (the zone map; `nFiles` rows per generation —
    * probes collect it driver-side). The manifest is GENERATIONAL:
    * each build/append commits its zone-map rows as one
    * `gen=<g>` partition, and the partition is the COMMIT —
    * [[zonePrunedRead]] serves only manifested files, so a crash
    * between the data write and the manifest publish leaves invisible
    * orphans (swept by the next [[appendZorder]]), never a partial
    * read, and a replayed generation overwrites exactly its own
    * partition — the [[GenStore]] discipline. */
  /** `gen` is the generation the build commits as (0 for ordinary
    * builds; the hive-routed stream creates leaves at its batch
    * generation so a creating batch is recognizable — and replayable —
    * from the manifest alone). */
  def zorderWrite(spark: SparkSession, df: DataFrame, cols: Seq[String],
                  outDir: String, nFiles: Int = 16,
                  bits: Int = ZBits, gen: Long = 0L): Unit = {
    import spark.implicits._
    val bMap = quantileBoundaries(df, cols, bits)
    writeClustered(df, bMap, outDir, nFiles, bits, "overwrite")
    bMap.toDF("col", "boundaries").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_boundaries")
    manifestRows(spark, cols, dataFiles(spark, outDir))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_manifest_mm/gen=$gen")
  }

  /** Committed generation ids of a layout's manifest (bounded: one
    * per build/append/batch, and compaction is a rebuild). */
  def committedGens(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifest_mm")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
      .filter(g =>
        FsUtils.committedExists(spark, s"$dir/_manifest_mm/gen=$g"))
      .sorted
  }

  /** Highest generation ever folded into the base by [[compactLayout]]
    * (-1 when the layout has never been folded). Cumulative across
    * folds; generations at or below it no longer exist as appendable
    * ids — their rows live in the folded gen 0. */
  def foldHigh(spark: SparkSession, dir: String): Long =
    FsUtils.readString(spark, s"$dir/_fold_high")
      .map(_.trim.toLong).getOrElse(-1L)

  /** Append `delta` into an existing z-ordered layout as generation
    * `gen` (default: one past the highest committed generation AND
    * past any fold — see below):
    *
    *  1. drop generation `gen`'s manifest partition — zone map AND
    *     bloom sidecars — if present: a REPLAY first uncommits its
    *     previous attempt, orphaning that attempt's data files;
    *  2. sweep data files no committed generation references
    *     (uncommitted by contract — delete, don't adopt: adopting
    *     would double rows on the retry that re-appends the same
    *     delta);
    *  3. cluster the delta under the layout's PERSISTED boundaries
    *     (drift in the delta's distribution degrades clustering
    *     tightness, never correctness — the [[Similarity]]
    *     appendIvfIndex contract) and write its files;
    *  4. publish their zone-map rows as the `gen=<g>` manifest
    *     partition — the commit point;
    *  5. publish the delta's bloom rows to every existing bloom
    *     sidecar as the same `gen=<g>` partition (post-commit: a
    *     crash here leaves a committed-but-unbloomed generation,
    *     which [[bloomPrunedRead]] admits unconditionally — cost,
    *     never loss).
    *
    * A crash at any step leaves every committed generation intact and
    * at worst invisible orphans for the next call's sweep; re-running
    * the same (delta, gen) lands the delta exactly once. Single-writer
    * per layout, like every generational store here — and two guards
    * make the single-writer contract LOUD instead of trusting it:
    *
    *  - a layout with a persisted `_stream_base` is stream-managed
    *    ([[graft.streaming.LayoutStream]]); a manual append would land
    *    inside the stream's generation band and the next batch's
    *    replay-uncommit would silently DELETE it, so manual calls are
    *    refused (write via the stream, or stop it, fold, and remove
    *    the marker to hand the layout back to batch writers);
    *  - a generation at or below [[foldHigh]] was already folded into
    *    the base — re-appending it would duplicate its rows — so it is
    *    refused as well. */
  def appendZorder(spark: SparkSession, delta: DataFrame, dir: String,
                   nFiles: Int = 4, bits: Int = ZBits,
                   gen: Option[Long] = None,
                   viaStream: Boolean = false): Long = {
    val mmPath = s"$dir/_manifest_mm"
    val gens = committedGens(spark, dir)
    require(gens.nonEmpty,
      s"no committed layout at $dir — build one with zorderWrite first")
    if (!viaStream)
      require(FsUtils.readString(spark, s"$dir/_stream_base").isEmpty,
        s"layout $dir is stream-managed (_stream_base present): a " +
          "manual appendZorder would land inside the stream's " +
          "generation band and be destroyed by the next batch's " +
          "replay-uncommit. Write via LayoutStream, or stop the " +
          "stream and delete _stream_base to hand the layout back " +
          "to batch writers")
    val fh = foldHigh(spark, dir)
    val g = gen.getOrElse(math.max(gens.max, fh) + 1)
    require(g > fh,
      s"generation $g was folded into the base by compactLayout " +
        s"(folded through $fh) — its rows are already in the layout; " +
        "appending it again would duplicate them")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // survivors read BEFORE the partition delete (an all-deleted
    // manifest dir would fail schema inference)
    val committed = spark.read.parquet(mmPath)
      .filter(col("gen") =!= g)
      .select("file").collect().map(r => baseName(r.getString(0))).toSet
    val genPath = new org.apache.hadoop.fs.Path(s"$mmPath/gen=$g")
    if (fs.exists(genPath)) fs.delete(genPath, true)
    bloomSidecars(spark, dir).foreach { case (_, bdir) =>
      val bp = new org.apache.hadoop.fs.Path(s"$bdir/gen=$g")
      if (fs.exists(bp)) fs.delete(bp, true)
    }
    dataFiles(spark, dir).filterNot(f => committed(baseName(f)))
      .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    val bMap = spark.read.parquet(s"$dir/_boundaries")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq)
      .toSeq
    val cols = bMap.map(_._1)
    val before = dataFiles(spark, dir).map(baseName).toSet
    writeClustered(delta, bMap, dir, nFiles, bits, "append")
    val newFiles = dataFiles(spark, dir)
      .filterNot(f => before(baseName(f)))
    if (newFiles.nonEmpty) {
      manifestRows(spark, cols, newFiles)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$mmPath/gen=$g")
      val newGens = newFiles.map(f => baseName(f) -> g)
      bloomSidecars(spark, dir).foreach { case (key, bdir) =>
        val (est, bits2) = bloomParams(spark, bdir)
        bloomRows(spark, key, newGens, dir, est, bits2)
          .drop("gen").coalesce(1)
          .write.mode("overwrite").parquet(s"$bdir/gen=$g")
      }
    }
    g
  }

  /** Read `dir` under conjunctive closed-interval predicates
    * `(col, lo, hi)`, pruning the file list through the zone-map
    * manifest first: only files whose [min, max] envelope overlaps
    * EVERY interval are handed to the reader. The exact predicates
    * still apply on top (envelope overlap admits false positives,
    * never false negatives), so the result is precisely the plain
    * filter's. */
  def zonePrunedRead(spark: SparkSession, dir: String,
                     box: Seq[(String, Long, Long)]): DataFrame =
    zonePruned(spark, dir, box, asOf = None)

  /** [[zonePrunedRead]] against a historical snapshot: serves exactly
    * the files committed by generations ≤ `asOf`. Addressable
    * snapshots are the committed generation ids — time travel is exact
    * back to the last [[compactLayout]] (a fold collapses history into
    * gen 0 and reclaims the old partitions), and asking for a reclaimed
    * snapshot throws rather than serving a silently wrong mixture —
    * the [[GenStore.committedIdsAsOf]] contract. */
  def zonePrunedReadAsOf(spark: SparkSession, dir: String,
                         box: Seq[(String, Long, Long)],
                         asOf: Long): DataFrame = {
    val gens = committedGens(spark, dir)
    require(gens.contains(asOf),
      s"generation $asOf is not an addressable snapshot of $dir " +
        s"(committed: ${gens.mkString(", ")}); compactLayout folds " +
        "history, so snapshots are exact only back to the last fold")
    zonePruned(spark, dir, box, asOf = Some(asOf))
  }

  private def zonePruned(spark: SparkSession, dir: String,
                         box: Seq[(String, Long, Long)],
                         asOf: Option[Long]): DataFrame = {
    val mmAll = spark.read.parquet(s"$dir/_manifest_mm")
    val mm = asOf.fold(mmAll)(g => mmAll.filter(col("gen") <= g))
    val overlapping = box.foldLeft(mm) { case (m, (c, lo, hi)) =>
      m.filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
    }
    // resolve against the CURRENT dir, not the recorded URI — file
    // names are write-unique, and re-anchoring keeps the manifest
    // valid across dir swaps ([[compactLayout]]) and relocations
    val files = overlapping.select("file").collect()
      .map(r => s"$dir/${baseName(r.getString(0))}")
    val base =
      if (files.isEmpty) spark.read.parquet(dir).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    box.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Key-type discipline shared by the bloom build and probe: Spark's
    * XxHash64 hashes each TYPE differently (IntegerType ≠ LongType ≠
    * StringType for the "same" value), so the build canonicalizes —
    * integral columns cast to long, string columns hash as-is — and
    * each probe variant checks the column class it hashes literals
    * for. A silent mismatch would bloom-negative every file and drop
    * every matching row; the guard throws instead. */
  private def bloomKeyClass(spark: SparkSession, dir: String,
                            keyCol: String): String = {
    import org.apache.spark.sql.types._
    spark.read.parquet(dir).schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case StringType => "string"
      case other => throw new IllegalArgumentException(
        s"bloom manifest key '$keyCol' must be an integral or string " +
          s"column; found $other")
    }
  }

  private def requireKeyClass(spark: SparkSession, dir: String,
                              keyCol: String, want: String): Unit = {
    val got = bloomKeyClass(spark, dir, keyCol)
    require(got == want,
      s"bloom probe hashes $want keys but '$keyCol' is a $got column " +
        "— XxHash64 would disagree with the build and every file " +
        "would test bloom-negative (silent row loss); use the " +
        s"matching probe variant")
  }

  /** Committed (file base name → generation) pairs from the zone-map
    * manifest — THE file-set of record. Bounded: nFiles rows. */
  private def committedFileGens(spark: SparkSession,
                                dir: String): Seq[(String, Long)] =
    spark.read.parquet(s"$dir/_manifest_mm")
      .select(col("file"), col("gen").cast("long").as("gen"))
      .collect()
      .map(r => baseName(r.getString(0)) -> r.getLong(1)).toIndexedSeq

  /** Bloom sidecar dirs of a layout, as (keyCol, path). */
  private def bloomSidecars(spark: SparkSession,
                            dir: String): Seq[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_manifest_bloom_"))
      .map(st => st.getPath.getName.stripPrefix("_manifest_bloom_") ->
        st.getPath.toUri.toString)
  }

  /** Persisted (estItems, numBits) of a bloom sidecar, so appends size
    * their delta partitions like the original build. Sizing only —
    * each file's bitset is self-describing on read, so a lost params
    * file (crash window) degrades fp rate, never correctness. */
  private def bloomParams(spark: SparkSession,
                          bloomDir: String): (Long, Long) =
    FsUtils.readString(spark, s"$bloomDir/_params")
      .map(_.trim.split(",") match {
        case Array(a, b) => (a.toLong, b.toLong)
      })
      .getOrElse((100000L, 1L << 20))

  /** Bloom rows (file, bloom, gen) for the given committed files. */
  private def bloomRows(spark: SparkSession, keyCol: String,
                        fileGens: Seq[(String, Long)], dir: String,
                        estItems: Long, numBits: Long): DataFrame = {
    graft.GraftExtensions.registerAll(spark)
    import spark.implicits._
    val paths = fileGens.map { case (b, _) => s"$dir/$b" }
    val genDf = fileGens.toDF("base", "gen")
    // canonical key: integral → long (probe hashes Literal(k: Long)),
    // string as-is (probe hashes a string literal) — [[bloomKeyClass]]
    val keyExpr =
      if (bloomKeyClass(spark, dir, keyCol) == "long")
        col(keyCol).cast("long")
      else col(keyCol)
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("file"))
      .agg(call_function("bloom_build", keyExpr,
        lit(estItems), lit(numBits)).as("bloom"))
      .withColumn("base", substring_index(col("file"), "/", -1))
      .join(broadcast(genDf), Seq("base"))
      .select("file", "bloom", "gen")
  }

  /** Build (or fully rebuild) the `_manifest_bloom_<keyCol>` sidecar:
    * one bloom bitset per COMMITTED data file over `keyCol`, stored as
    * one `gen=<g>` partition per committed generation so the sidecar
    * shares the zone map's commit granularity — [[appendZorder]]
    * publishes each delta's bloom partition alongside its zone-map
    * partition, and [[bloomPrunedRead]] unions committed generations.
    * Files are sourced from `_manifest_mm`'s committed set, never the
    * raw dir listing, so a crashed append's orphans can never become
    * servable through the bloom path. Sized for ~100k keys/file at
    * ~1% fp by default; the whole manifest is nFiles × numBits/8
    * bytes — driver-collectable by construction. Key contract:
    * `keyCol` must be integral (probe with [[bloomPrunedRead]]) or
    * string (probe with [[bloomPrunedReadString]] — the fact_uid
    * point-lookup case); see [[bloomKeyClass]]. */
  def writeBloomManifest(spark: SparkSession, dir: String, keyCol: String,
                         estItems: Long = 100000L,
                         numBits: Long = 1L << 20): Unit = {
    require(FsUtils.committedExists(spark, s"$dir/_manifest_mm"),
      s"no committed layout at $dir — build one with zorderWrite first")
    bloomKeyClass(spark, dir, keyCol) // validates the column class
    val out = s"$dir/_manifest_bloom_$keyCol"
    bloomRows(spark, keyCol, committedFileGens(spark, dir), dir,
        estItems, numBits)
      .coalesce(1)
      .write.mode("overwrite").partitionBy("gen").parquet(out)
    FsUtils.writeString(spark, s"$out/_params", s"$estItems,$numBits")
  }

  /** Point-lookup read: keep only the COMMITTED files whose bloom
    * might contain at least one of `keys` (tested driver-side against
    * the bounded manifest — XxHash64 over the long key, the exact hash
    * `bloom_build` inserted), then apply the exact IN filter. The
    * committed file set comes from `_manifest_mm` — the same commit
    * point every other probe honors — and staleness degrades to cost,
    * never to loss: a committed file WITHOUT a bloom row (a generation
    * appended after the manifest was built, or the crash window
    * between an append's zone-map commit and its bloom publish) is
    * admitted unconditionally, and a bloom row for a non-committed
    * file (a swept orphan) is ignored. So a bloom-negative file
    * provably holds none of the keys — no false negatives ever — and
    * false positives are settled by the filter. */
  def bloomPrunedRead(spark: SparkSession, dir: String, keyCol: String,
                      keys: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    requireKeyClass(spark, dir, keyCol, "long")
    val hashes = keys.map(k =>
      new XxHash64(Seq(Literal(k))).eval(null).asInstanceOf[Long])
    bloomPruned(spark, dir, keyCol, hashes, keys.map(k => k: Any))
  }

  /** [[bloomPrunedRead]] for STRING keys — the fact_uid / digest
    * point-lookup case. Same committed-set discipline; literals hash
    * as strings, matching the build's as-is string inserts. */
  def bloomPrunedReadString(spark: SparkSession, dir: String,
                            keyCol: String,
                            keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    requireKeyClass(spark, dir, keyCol, "string")
    val hashes = keys.map(k =>
      new XxHash64(Seq(Literal.create(k,
        org.apache.spark.sql.types.StringType)))
        .eval(null).asInstanceOf[Long])
    bloomPruned(spark, dir, keyCol, hashes, keys.map(k => k: Any))
  }

  private def bloomPruned(spark: SparkSession, dir: String, keyCol: String,
                          hashes: Seq[Long], keys: Seq[Any]): DataFrame = {
    val committed = committedFileGens(spark, dir).map(_._1)
    val bloomDir = s"$dir/_manifest_bloom_$keyCol"
    val bloomByBase: Map[String, Array[Byte]] =
      if (!FsUtils.committedExists(spark, bloomDir)) Map.empty
      else spark.read.parquet(bloomDir).select("file", "bloom")
        .collect()
        .map(r => baseName(r.getString(0)) ->
          r.getAs[Array[Byte]]("bloom")).toMap
    val files = committed.filter { b =>
      bloomByBase.get(b) match {
        case Some(bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          hashes.exists(bf.mightContainLong)
        case None => true // committed but unbloomed: must admit
      }
    }.map(b => s"$dir/$b")
    val base =
      if (files.isEmpty) spark.read.parquet(dir).limit(0)
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Compaction: fold every committed generation back into a single
    * freshly-clustered gen-0 build. Rebuilds via a STAGING dir + an
    * atomic-ish publish (copy-free dir swap), so probes against the
    * old layout stay valid until the swap and a crash mid-compaction
    * leaves the old layout untouched. Re-derives boundaries against
    * the accumulated distribution — the cure for append-era drift.
    * Returns the folded row count. Single-writer, and (as with
    * [[GenStore]] folds) concurrent probes should tolerate listed-
    * then-deleted files via `spark.sql.files.ignoreMissingFiles` or
    * the single-reader contract.
    *
    * Fold bookkeeping, all staged in the tmp dir BEFORE the swap so
    * the publish stays one atomic-ish step:
    *  - `_fold_high` records the highest generation the fold absorbed
    *    (cumulative across folds) — [[appendZorder]] and
    *    [[graft.streaming.LayoutStream]] refuse to re-append a folded
    *    generation, turning the replay-after-fold duplicate hazard
    *    into a loud error;
    *  - a persisted `_stream_base` is carried through the swap (the
    *    layout stays stream-managed across folds — r11 ADVICE: the
    *    old swap silently dropped the marker);
    *  - every bloom sidecar is REBUILT against the folded files with
    *    its persisted sizing params (the old files the blooms
    *    described no longer exist after the fold). */
  def compactLayout(spark: SparkSession, dir: String,
                    nFiles: Int = 16, bits: Int = ZBits): Long = {
    graft.streaming.DedupStream.recoverCompaction(spark, dir)
    val mmPath = s"$dir/_manifest_mm"
    require(FsUtils.committedExists(spark, mmPath),
      s"no committed layout at $dir — nothing to compact")
    val committed = spark.read.parquet(mmPath)
      .select("file").collect()
      .map(r => s"$dir/${baseName(r.getString(0))}")
    val cols = spark.read.parquet(s"$dir/_boundaries")
      .collect().map(_.getString(0)).toSeq
    val newFoldHigh = math.max(foldHigh(spark, dir),
      committedGens(spark, dir).max)
    val streamBase = FsUtils.readString(spark, s"$dir/_stream_base")
    val blooms = bloomSidecars(spark, dir)
      .map { case (key, bdir) => (key, bloomParams(spark, bdir)) }
    val rows = spark.read.parquet(committed.toIndexedSeq: _*)
    val n = rows.count()
    // the DedupStream compaction suffix conventions, so
    // recoverCompaction heals a crash at any point of the swap
    graft.streaming.DedupStream.publishSwapped(spark, dir) { tmp =>
      zorderWrite(spark, rows, cols, tmp, nFiles, bits)
      blooms.foreach { case (key, (est, nb)) =>
        writeBloomManifest(spark, tmp, key, est, nb)
      }
      FsUtils.writeString(spark, s"$tmp/_fold_high", newFoldHigh.toString)
      streamBase.foreach(b =>
        FsUtils.writeString(spark, s"$tmp/_stream_base", b))
    }
    n
  }

  /** Z-order every LEAF of a hive-partitioned dataset in place — the
    * composition a production star fact wants: the partition scheme
    * prunes the mandatory filter columns at the directory level, and
    * within each leaf a Morton clustering + zone-map manifest skips
    * files for the range probes the hive levels CANNOT cover (the
    * reference dashboard's code/rate drill-downs,
    * webapp/staged_dashboard.py:95-310). Each leaf is rebuilt through
    * its own staging dir + swap ([[compactLayout]]'s publish), so a
    * crash leaves every other leaf untouched and the crashed leaf
    * recoverable. The driver loop is over the BOUNDED leaf-dir count
    * (never rows); each leaf rewrite is one range shuffle of that
    * leaf's rows, and leaves are independent — a deployment fans them
    * out as concurrent jobs. Returns the number of leaves rebuilt. */
  /** List a directory for leaf discovery, first HEALING any crashed
    * per-leaf swap: residue from [[compactLayout]]'s publish is named
    * `<leaf>.compacting` / `<leaf>.old` (suffix, not prefix — the
    * `_`/`.`-prefix skip never matched it, r12 ADVICE), so without
    * healing a crash between swapDirs' renames would enumerate the
    * residue as a data leaf (duplicated rows under a mangled partition
    * value) or lose the leaf entirely. recoverCompaction on the base
    * name finishes or rolls back the swap; the re-list then sees only
    * real leaves, and residue names are excluded from the result. */
  private def listHealed(spark: SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    import graft.streaming.DedupStream.{CompactTmpSuffix, CompactOldSuffix}
    def residueBase(n: String): Option[String] =
      if (n.endsWith(CompactTmpSuffix))
        Some(n.dropRight(CompactTmpSuffix.length))
      else if (n.endsWith(CompactOldSuffix))
        Some(n.dropRight(CompactOldSuffix.length))
      else None
    val raw = fs.listStatus(p).toIndexedSeq
    val bases = raw.flatMap(st => residueBase(st.getPath.getName)).distinct
    val listed = if (bases.isEmpty) raw else {
      bases.foreach { b =>
        graft.streaming.DedupStream.recoverCompaction(spark,
          new org.apache.hadoop.fs.Path(p, b).toString)
      }
      fs.listStatus(p).toIndexedSeq
    }
    listed.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && residueBase(n).isEmpty
    }
  }

  /** Leaf dirs of a hive tree: the dirs holding data files directly
    * (hidden/`_` entries skipped, crashed-swap residue healed at every
    * level — see [[listHealed]]). Bounded by the partition scheme's
    * cardinality. */
  private[graft] def hiveLeaves(spark: SparkSession,
                                root: String): Seq[String] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val entries = listHealed(spark, fs, p)
      if (entries.exists(_.isFile)) Seq(p)
      else entries.filter(_.isDirectory).flatMap(st => leaves(st.getPath))
    }
    if (fs.exists(rp)) leaves(rp).map(_.toUri.toString) else Seq.empty
  }

  def zorderLeaves(spark: SparkSession, root: String, cols: Seq[String],
                   nFiles: Int = 8, bits: Int = ZBits): Int = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val leafDirs = hiveLeaves(spark, root)
      .map(new org.apache.hadoop.fs.Path(_))
    leafDirs.foreach { leaf =>
      if (FsUtils.committedExists(spark, s"$leaf/_manifest_mm")) {
        // A leaf ALREADY under manifest management (a prior
        // zorderLeaves conversion, possibly since appended to by
        // [[appendZorder]]/[[graft.streaming.LayoutStream]]): rebuild
        // through [[compactLayout]], which reads only the
        // manifest-COMMITTED files (a raw directory read would adopt
        // the uncommitted orphans of a crashed append — r12 ADVICE),
        // advances `_fold_high` past every absorbed generation (so a
        // retried pre-rebuild append fails loudly instead of
        // duplicating rows), carries `_stream_base` through the swap,
        // and rebuilds the bloom sidecars the plain rebuild dropped.
        // Clustering columns come from the leaf's persisted
        // `_boundaries` (they were fixed at conversion; `cols` applies
        // to first conversions only).
        compactLayout(spark, leaf.toString, nFiles, bits)
      } else {
        // First conversion of a plain hive leaf (no manifest yet).
        graft.streaming.DedupStream.recoverCompaction(spark, leaf.toString)
        val rows = spark.read.parquet(leaf.toString)
        graft.streaming.DedupStream.publishSwapped(spark, leaf.toString)(
          tmp => zorderWrite(spark, rows, cols, tmp, nFiles, bits))
      }
    }
    leafDirs.size
  }

  /** Hive's null-partition directory token (what Spark's own
    * dynamic-partition writer emits for a null key). */
  private[graft] val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Hive-style %xx escaping for partition-path values — the same
    * character set Spark's `escapePathName` protects, so leaf names
    * built by [[graft.streaming.LayoutStream.processBatchHive]] match
    * what a native partitioned write would produce. */
  private[graft] def escapeHive(v: String): String = {
    val needs = "\"#%'*/:=?\\{[]^"
    val sb = new StringBuilder
    v.foreach { c =>
      if (c < ' ' || c == '\u007F' || needs.indexOf(c.toInt) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** Inverse of [[escapeHive]] (decodes any %xx byte). */
  private[graft] def unescapeHive(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Probe a hive-partitioned dataset whose leaves were z-ordered by
    * [[zorderLeaves]]: union the zone-pruned reads of the leaves
    * `leafPred` selects (a predicate over the leaf's hive key→value
    * map — the directory-listing prune, exactly what the partition
    * scheme is for), re-attaching each leaf's partition values as
    * literal columns. Partition values are hive-UNESCAPED (%xx decoded)
    * before both the predicate and the re-attachment, the
    * `__HIVE_DEFAULT_PARTITION__` token comes back as a null value
    * (and is presented to `leafPred` as an absent key's null), and a
    * partition column whose every leaf value parses as an integer is
    * typed long; one whose every value is a strict yyyy-MM-dd calendar
    * date is typed date (r13 stretch: `ship_date`-style keys now match
    * a native partitioned read; `year_month` keys stay string — "2024-
    * 03" is not a date under native inference either). Decimal
    * partition inference is intentionally not applied. Crashed-swap residue is
    * healed during the walk ([[listHealed]]). The driver loop is over
    * the BOUNDED selected-leaf count; per leaf, the zone map then
    * prunes at file grain — the two-level skipping a multi-select
    * dashboard query (state IN (...) + a code/rate box) wants. */
  def zonePrunedReadLeaves(spark: SparkSession, root: String,
                           box: Seq[(String, Long, Long)],
                           leafPred: Map[String, String] => Boolean)
      : DataFrame = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: org.apache.hadoop.fs.Path, kv: Seq[(String, String)])
        : Seq[(String, Seq[(String, String)])] = {
      val entries = listHealed(spark, fs, p)
      if (entries.exists(_.isFile)) Seq((p.toUri.toString, kv))
      else entries.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        val i = n.indexOf('=')
        val pair = if (i > 0) {
          val raw = n.drop(i + 1)
          val v = if (raw == HiveDefaultPartition) null
                  else unescapeHive(raw)
          Seq(n.take(i) -> v)
        } else Nil
        walk(st.getPath, kv ++ pair)
      }
    }
    val selected = (if (fs.exists(rp)) walk(rp, Nil) else Nil)
      .filter { case (_, kv) => leafPred(kv.toMap) }
    require(selected.nonEmpty,
      s"no hive leaf of $root matches the partition predicate")
    // Per-column type inference over the SELECTED leaves (the same
    // all-or-nothing rule native partition discovery uses, restricted
    // to integers): every non-null value parses as long -> LongType.
    val byKey = selected.flatMap(_._2).groupBy(_._1)
    val longTyped: Set[String] = byKey
      .collect { case (k, vs)
        if vs.map(_._2).forall(v =>
          v != null && scala.util.Try(v.toLong).isSuccess) => k }
      .toSet
    // date inference is all-or-nothing too, and strict: the value must
    // be shaped yyyy-MM-dd AND be a real calendar date (2024-13-40 AND
    // 2023-02-29 stay strings), so a mixed or sloppy key never
    // half-types. LocalDate.parse, NOT java.sql.Date.valueOf — valueOf
    // silently rolls impossible days forward (2023-02-29 → 2023-03-01),
    // and a lenient gate would let Spark's non-ANSI cast('date') read
    // that leaf's partition value as NULL: silent value loss.
    val dateTyped: Set[String] = byKey
      .collect { case (k, vs)
        if !longTyped(k) && vs.map(_._2).forall(v =>
          v != null && v.matches("\\d{4}-\\d{2}-\\d{2}") &&
            scala.util.Try(java.time.LocalDate.parse(v)).isSuccess) => k }
      .toSet
    selected.map { case (leaf, kv) =>
      kv.foldLeft(zonePrunedRead(spark, leaf, box)) {
        case (df, (k, v)) =>
          val base = if (v == null) lit(null) else lit(v)
          df.withColumn(k,
            if (longTyped(k)) base.cast("long")
            else if (dateTyped(k)) base.cast("date")
            else base.cast("string"))
      }
    }.reduce(_.unionByName(_))
  }

  // ----------------------------------------------------------- fixtures

  /** Query-private z-ordered lineitem layout, built once per JVM per
    * lineitem listing ([[Scratch.once]]). */
  val zorderSidecar: String = Scratch.path("graft_zorder_lineitem")

  val ZCols = Seq("l_suppkey", "l_partkey")

  /** Build the layout + both manifests. */
  private def ensureZorderSidecar(s: SparkSession, d: String): Unit =
    Scratch.once(s, "graft_zorder_lineitem", Seq(s"$d/lineitem.parquet")) {
      zorderWrite(s, Tables.load(s, d, "lineitem"), ZCols, zorderSidecar)
      writeBloomManifest(s, zorderSidecar, "l_orderkey")
    }

  /** Query-private layout for the APPEND path — base rows clustered
    * first, the rest arriving as a delta under the persisted
    * boundaries. Separate dir from [[zorderSidecar]] so neither
    * query's cache schedule can disturb the other. */
  val zorderAppendSidecar: String = Scratch.path("graft_zorder_append")

  /** Base/delta split: l_orderkey is dense from 0 at every SF, so
    * both sides are non-empty at sf0.001 and up. */
  private val AppendSplit = 700L

  private def ensureAppendSidecar(s: SparkSession, d: String): Unit =
    Scratch.once(s, "graft_zorder_append", Seq(s"$d/lineitem.parquet")) {
      val li = Tables.load(s, d, "lineitem")
      zorderWrite(s, li.filter(col("l_orderkey") < AppendSplit), ZCols,
        zorderAppendSidecar)
      appendZorder(s, li.filter(col("l_orderkey") >= AppendSplit),
        zorderAppendSidecar)
    }

  private val ProbeCols =
    Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
      "l_extendedprice")

  /** Bounds chosen non-empty at every SF dir (suppkey is dense from 0
    * at all scales; partkey spans 0..199 even at sf0.001). */
  private val BoxSupp = (2L, 4L)
  private val BoxPart = (40L, 120L)
  private val SecondaryPart = (40L, 80L)
  private val LookupKeys = Seq(1L, 7L, 42L, 123L, 999L)

  // ------------------------------------------------------------- queries

  def queries: Map[String, QFn] = Map(
    // 2-D box probe through the zone-map manifest: both layout
    // columns carry range predicates, the manifest prunes the file
    // list driver-side, the exact filter settles envelope false
    // positives. Values are the raw table's — the layout is a pure
    // re-clustering — so the oracle filters lineitem directly.
    "layout_zorder_box" -> ((s, d) => {
      ensureZorderSidecar(s, d)
      zonePrunedRead(s, zorderSidecar,
          Seq(("l_suppkey", BoxSupp._1, BoxSupp._2),
            ("l_partkey", BoxPart._1, BoxPart._2)))
        .select(ProbeCols.map(col): _*)
    }),

    // Secondary-column probe — the case a lexicographic sort cannot
    // skip for: no predicate on the leading dimension at all, yet the
    // Morton envelopes stay tight on l_partkey, so most files still
    // prune (LayoutSpec pins the file counts).
    "layout_zorder_secondary" -> ((s, d) => {
      ensureZorderSidecar(s, d)
      zonePrunedRead(s, zorderSidecar,
          Seq(("l_partkey", SecondaryPart._1, SecondaryPart._2)))
        .select(ProbeCols.map(col): _*)
    }),

    // The append path end-to-end: base build + delta append under the
    // persisted boundaries, probed through the zone map exactly like
    // the one-shot layout. The result is the full corpus's box — an
    // append can neither lose rows (manifest-last commit) nor double
    // them (orphan sweep before re-append) — so the oracle is the
    // same plain filter over lineitem.
    "layout_zorder_append" -> ((s, d) => {
      ensureAppendSidecar(s, d)
      zonePrunedRead(s, zorderAppendSidecar,
          Seq(("l_suppkey", BoxSupp._1, BoxSupp._2),
            ("l_partkey", BoxPart._1, BoxPart._2)))
        .select(ProbeCols.map(col): _*)
    }),

    // Needle-in-corpus point lookup through the per-file bloom
    // manifest: only bloom-positive COMMITTED files are read (no
    // false negatives ⇒ no lost matches), the IN filter settles the
    // rest.
    "layout_bloom_lookup" -> ((s, d) => {
      ensureZorderSidecar(s, d)
      bloomPrunedRead(s, zorderSidecar, "l_orderkey", LookupKeys)
        .select(ProbeCols.map(col): _*)
    }),

    // As-of snapshot probe: generation 0 of the append layout is the
    // base build (l_orderkey < AppendSplit), so the as-of read must
    // serve exactly the base's box — the delta's rows, committed as
    // generation 1, stay invisible. Exact back to the last fold, the
    // GenStore time-travel contract carried to the layout family.
    "layout_zorder_asof" -> ((s, d) => {
      ensureAppendSidecar(s, d)
      zonePrunedReadAsOf(s, zorderAppendSidecar,
          Seq(("l_partkey", SecondaryPart._1, SecondaryPart._2)),
          asOf = 0L)
        .select(ProbeCols.map(col): _*)
    }),

    // Layout observability — the numbers an operator reads before
    // deciding to compact: per-generation file counts and envelope
    // spans straight off the bounded zone-map manifest (nFiles rows;
    // the data files are never touched). Growing per-gen span sums =
    // append-era drift accumulating = time to fold.
    "layout_manifest_stats" -> ((s, d) => {
      ensureAppendSidecar(s, d)
      s.read.parquet(s"$zorderAppendSidecar/_manifest_mm")
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("max_l_suppkey") - col("min_l_suppkey"))
            .as("supp_span_sum"),
          sum(col("max_l_partkey") - col("min_l_partkey"))
            .as("part_span_sum"))
        .orderBy("gen")
    }),

    // J15 (beyond the reference's J1-J14): the salted fact ⋈ dim
    // join ([[graft.sources.SkewTools.saltedJoin]] — the manual
    // remedy when the dim outgrows broadcast and AQE's skew split
    // can't engage), result ≡ the plain join — the oracle states it
    // as one.
    "j15_salted_skew" -> ((s, d) => {
      val big = graft.Roles.rates(s, d)
        .withColumnRenamed("provider_reference_id", "provider_group_id")
        .select("l_orderkey", "l_linenumber", "provider_group_id",
          "negotiated_rate")
      val dim = graft.Roles.providers(s, d)
        .select("provider_group_id", "provider_name", "state")
      graft.sources.SkewTools.saltedJoin(big, dim, "provider_group_id",
          nSalts = 8, joinType = "inner")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("provider_group_id"),
          graft.functions.NormExprs.pround(col("negotiated_rate"), 2)
            .as("negotiated_rate"),
          col("provider_name"), col("state"))
    })
  )

  def oracles: Map[String, String] = {
    val probeSql = ProbeCols.mkString(", ")
    Map(
      "layout_zorder_box" -> s"""
        SELECT $probeSql FROM lineitem
        WHERE l_suppkey BETWEEN ${BoxSupp._1} AND ${BoxSupp._2}
          AND l_partkey BETWEEN ${BoxPart._1} AND ${BoxPart._2}""",

      "layout_zorder_secondary" -> s"""
        SELECT $probeSql FROM lineitem
        WHERE l_partkey BETWEEN ${SecondaryPart._1} AND ${SecondaryPart._2}""",

      "layout_zorder_append" -> s"""
        SELECT $probeSql FROM lineitem
        WHERE l_suppkey BETWEEN ${BoxSupp._1} AND ${BoxSupp._2}
          AND l_partkey BETWEEN ${BoxPart._1} AND ${BoxPart._2}""",

      // the manifest IS parquet — the oracle reads the same sidecar
      // files back (hive gen partition cast to BIGINT on both sides)
      "layout_manifest_stats" -> s"""
        WITH mm AS (
          SELECT * FROM read_parquet(
            '$zorderAppendSidecar/_manifest_mm/*/*.parquet',
            hive_partitioning = true))
        SELECT CAST(gen AS BIGINT) AS gen, COUNT(*) AS n_files,
               CAST(SUM(max_l_suppkey - min_l_suppkey) AS BIGINT)
                 AS supp_span_sum,
               CAST(SUM(max_l_partkey - min_l_partkey) AS BIGINT)
                 AS part_span_sum
        FROM mm GROUP BY 1 ORDER BY 1""",

      // as-of gen 0 = the base build's slice of the corpus
      "layout_zorder_asof" -> s"""
        SELECT $probeSql FROM lineitem
        WHERE l_orderkey < $AppendSplit
          AND l_partkey BETWEEN ${SecondaryPart._1}
                            AND ${SecondaryPart._2}""",

      "layout_bloom_lookup" -> s"""
        SELECT $probeSql FROM lineitem
        WHERE l_orderkey IN (${LookupKeys.mkString(", ")})""",

      "j15_salted_skew" -> s"""
        WITH rates AS (${graft.RolesSql.rates}),
             providers AS (${graft.RolesSql.providers})
        SELECT l_orderkey, l_linenumber,
               r.provider_reference_id AS provider_group_id,
               floor(negotiated_rate * 100.0 + 0.5) / 100.0
                 AS negotiated_rate,
               provider_name, state
        FROM rates r JOIN providers p
          ON r.provider_reference_id = p.provider_group_id"""
    )
  }
}
