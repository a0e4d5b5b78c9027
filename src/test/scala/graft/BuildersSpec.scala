package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.{EnrichmentDims, GoldAggregates, WideTableBuilder}

/** Round-2 builder specs: gold pre-agg materialize/refresh, the legacy
  * wide-table composition, the keep-latest dim upsert, and S2
  * corrupt-file salvage. */
class BuildersSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_builders").toString

  test("agg_market_rates: materialized table equals inline aggregate") {
    val out = tmp() + "/agg"
    GoldAggregates.materialize(spark, sf0001, out)
    // don't leak a temp-dir routing registration to later suites; the
    // shared session would route the reference aggregate to `out`
    // itself, so build it with routing off (a real re-aggregation)
    try graft.plans.GoldCatalog.withRoutingDisabled(spark)(testBody(out))
    finally graft.plans.GoldCatalog.invalidate(out)
  }

  private def testBody(out: String): Unit = {
    val inline = GoldAggregates.aggMarketRates(spark, sf0001)
    assert(hasAggregate(inline), "the reference must re-aggregate")
    val matzd = spark.read.parquet(out)
    assert(matzd.count() == inline.count())
    assert(matzd.columns.sorted.sameElements(inline.columns.sorted))
    // value parity on a sample slice
    val r = inline.select("state", "year_month").head
    val key = Seq("state", "year_month", "payer_slug", "billing_class",
      "code_type", "code")
    val a = inline.filter(col("state") === r.getString(0))
      .orderBy(key.map(col): _*).collect().map(_.toSeq.toSet)
    val b = matzd.filter(col("state") === r.getString(0))
      .select(inline.columns.map(col): _*)
      .orderBy(key.map(col): _*).collect().map(_.toSeq.toSet)
    assert(a.sameElements(b))
  }

  test("agg_market_rates: slice refresh rewrites only its partitions") {
    val out = tmp() + "/agg"
    // finally: a failed assert must not leak a temp-dir registration
    try refreshBody(out)
    finally graft.plans.GoldCatalog.invalidate(out)
  }

  private def refreshBody(out: String): Unit = {
    GoldAggregates.materialize(spark, sf0001, out)
    val before = spark.read.parquet(out).count()
    val slice = {
      val r = spark.read.parquet(out).select("state", "year_month").head
      (r.getString(0), r.getString(1))
    }
    // refresh one slice from the same input → byte-for-byte same rowset
    GoldAggregates.refreshSlices(spark, sf0001, out, Seq(slice))
    assert(spark.read.parquet(out).count() == before,
      "refresh from identical input must be a no-op row-count-wise")
    // serving read addresses exactly one leaf dir (no full-tree listing)
    val served = GoldAggregates.readSlice(spark, out, slice._1, slice._2)
    // (read from the scan's file index: the rendered Location truncates
    // long paths, so whether it shows state= depends on the temp dir)
    val roots = served.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.toString.endsWith(
      s"/state=${slice._1}/year_month=${slice._2}")), roots)
    assert(served.count() > 0)
    // partition columns survive the direct-path read via basePath
    assert(served.columns.contains("state") &&
      served.columns.contains("year_month"))
  }

  test("gold writers fan slices out over the shuffle partitions, one file per leaf") {
    val out = tmp()
    try fanOutBody(out)
    finally graft.plans.GoldCatalog.invalidate(out + "/agg")
  }

  /** Every leaf dir `depth` levels of `k=v` below `root` holds exactly
    * one parquet file. */
  private def assertOneFilePerLeaf(root: String, depth: Int): Unit = {
    def leaves(d: java.io.File, k: Int): Seq[java.io.File] =
      if (k == 0) Seq(d)
      else d.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.contains("="))
        .flatMap(leaves(_, k - 1))
    val files = leaves(new java.io.File(root), depth).map { l =>
      l.getPath -> l.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(files.size > 1, s"$root: ${files.size} leaves")
    val bad = files.filter(_._2 != 1)
    assert(bad.isEmpty, s"$root: ${bad.size} of ${files.size} leaves " +
      s"do not hold exactly one parquet file, e.g. ${bad.headOption}")
  }

  private def fanOutBody(out: String): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val gold = out + "/agg"
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(n > 1)
    // Stages of this test's jobs, those whose tasks wrote rows, and the
    // task count of every finished stage.
    val group = "gold_fan_out"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val wrote = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val numTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageIds.foreach(ours.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          wrote.add(e.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        numTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    def writeStages = wrote.asScala.filter(ours.contains).toSeq
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "gold materialize")
      try GoldAggregates.materialize(spark, sf0001, gold)
      finally spark.sparkContext.clearJobGroup()
      // Listener events arrive asynchronously; a stage's task ends are
      // delivered before its completion.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!writeStages.exists(numTasks.containsKey) &&
             System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(writeStages.size == 1, s"write stages: $writeStages")
    assert(numTasks.get(writeStages.head) == n,
      s"the gold write ran ${numTasks.get(writeStages.head)} tasks, not " +
        s"spark.sql.shuffle.partitions = $n")
    assertOneFilePerLeaf(gold, 2)

    // Refresh slices from several states: still one file per leaf.
    val slices = spark.read.parquet(gold).select("state", "year_month")
      .distinct().orderBy("state", "year_month").collect()
      .groupBy(_.getString(0)).values.map(_.head).take(3)
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(slices.size > 1)
    GoldAggregates.refreshSlices(spark, sf0001, gold, slices)
    assertOneFilePerLeaf(gold, 2)

    val sketch = out + "/hll"
    GoldAggregates.materializeDistinctSketch(spark, sf0001, sketch)
    assertOneFilePerLeaf(sketch, 1)
  }

  test("wide table pipeline: schema + rows end-to-end at sf0.001") {
    val codes = Seq("17", "42", "100", "417", "998", "1500", "2000")
    val wide = WideTableBuilder.build(spark, sf0001, codes, "NATION_18")
    assert(wide.columns.toSeq == Seq("l_orderkey", "l_linenumber", "code",
      "rate", "billing_class", "state", "provider_name",
      "primary_taxonomy_code", "primary_taxonomy_desc", "zip5", "final_rate",
      "proc_set", "proc_class", "proc_group", "benchmark_rate",
      "pct_of_medicare"))
    val rows = wide.collect()
    assert(rows.nonEmpty, "NATION_18 slice must have rows at sf0.001")
    assert(rows.forall(_.getAs[String]("state") == "NATION_18"))
    assert(rows.forall(r => codes.contains(r.getAs[String]("code"))))
    // zip5 always 5 digits from the LOCATION address
    assert(rows.forall(_.getAs[String]("zip5").matches("\\d{5}")))
    // sink runs
    val out = tmp() + "/wide"
    WideTableBuilder.run(spark, sf0001, codes, "NATION_18", out)
    assert(spark.read.parquet(out).count() == rows.length)
  }

  test("keep-latest dim upsert prefers the newest last_updated per key") {
    import spark.implicits._
    val existing = Seq(("1", "A", "2024-01-15"), ("2", "A", "2024-02-15"))
      .toDF("npi", "status", "last_updated")
    val delta = Seq(("2", "I", "2025-01-15"), ("3", "A", "2024-03-15"))
      .toDF("npi", "status", "last_updated")
    val merged = EnrichmentDims
      .upsertKeepLatest(existing, delta, Seq("npi"), Seq("last_updated"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(merged == Map(
      "1" -> ("A", "2024-01-15"),
      "2" -> ("I", "2025-01-15"), // delta wins: newer last_updated
      "3" -> ("A", "2024-03-15")))
  }

  test("S2 per-rowgroup salvage recovers later groups of a corrupt file") {
    // The reference's salvage is per-rowgroup
    // (src/utils/chunk_processor.py:34-50): a file with one bad row
    // group still yields the other groups' rows. Spark's
    // ignoreCorruptFiles is per-FILE (pinned below) — the finer
    // granularity is Tables.readSalvageRowGroups, which must recover
    // every row outside the corrupted group.
    import spark.implicits._
    val dir = tmp() + "/rowgroups"
    // small block size forces several row groups in one file
    spark.range(20000)
      .select(col("id"), concat(lit("payload_"), col("id")).as("v"))
      .coalesce(1).write
      .option("parquet.block.size", 8192)
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // prove the fixture really is multi-rowgroup, via the footer
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf())).getFooter
    val blocks = footer.getBlocks
    assert(blocks.size > 1, s"fixture must have >1 row group, got ${blocks.size}")
    val laterGroupRows =
      (1 until blocks.size).map(blocks.get(_).getRowCount).sum
    assert(laterGroupRows > 0)
    // corrupt ONLY the first row group's data pages; footer + all later
    // groups stay byte-identical
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      raf.seek(blocks.get(0).getStartingPos)
      raf.write(Array.fill[Byte](64)(-1))
    } finally raf.close()
    // Spark's per-file tolerance yields ZERO rows from this file. NB:
    // must project a real column — a bare count() reads only footer row
    // counts (empty read schema) and never touches the corrupt pages.
    val salvaged = Tables.readSalvage(spark, dir).select("id").collect()
    assert(salvaged.isEmpty,
      s"expected whole-file drop, got ${salvaged.length} rows")
    // and the strict read fails loudly
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).select("id", "v").collect()
    }
    // the per-ROWGROUP salvage recovers every row outside the bad group
    val recovered = Tables.readSalvageRowGroups(spark, dir)
    val rows = recovered.select("id", "v").collect()
    assert(rows.length == laterGroupRows,
      s"recovered ${rows.length} rows, expected $laterGroupRows")
    // recovered content is the original bytes (raw row-group copy):
    // ids are exactly the fixture's tail range, payloads intact
    val firstGroupRows = blocks.get(0).getRowCount
    assert(rows.map(_.getLong(0)).sorted.sameElements(
      (firstGroupRows until 20000L)))
    assert(rows.forall(r => r.getString(1) == s"payload_${r.getLong(0)}"))
    // schema survives the raw copy byte-for-byte
    assert(recovered.schema == spark.read.parquet(dir).schema)
    // a healthy directory passes through on its original files
    val okDir = tmp() + "/rowgroups_ok"
    spark.range(100).select(col("id"), lit("x").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(okDir)
    assert(Tables.readSalvageRowGroups(spark, okDir).count() == 100)
  }

  test("S2: corrupt parquet files are skipped, valid rows survive") {
    import spark.implicits._
    val dir = tmp() + "/mixed"
    Seq((1L, "ok"), (2L, "ok")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    // drop a garbage .parquet file into the dataset directory
    Files.write(java.nio.file.Paths.get(s"$dir/part-corrupt.parquet"),
      "this is not a parquet file".getBytes)
    // salvage reader skips the corrupt sibling, keeps valid row-groups
    val rows = Tables.readSalvage(spark, dir).count()
    assert(rows == 2, "valid row-groups must survive a corrupt sibling")
    // an ordinary strict read of the same dir fails — the salvage
    // tolerance is scoped to the reader, not session-global
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
  }
}
