package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.GoldAggregates
import graft.streaming.ServingRefresh

/** Streaming serving-layer refresh: feeding a fact delta for one
  * (state, year_month) slice must rewrite exactly that slice's leaf
  * dir of the gold table (fresh part files), leave every other slice's
  * files untouched, and keep the refreshed slice equal to the inline
  * recompute. */
class ServingRefreshSpec extends SparkSpec {

  /** Leaf dir → part-file names. Rewritten leaves get new random
    * part-uuid names, so file-set equality detects untouched slices
    * robustly (mtime granularity does not). */
  private def leafFiles(gold: String): Map[String, Set[String]] = {
    val root = new java.io.File(gold)
    val leaves = for {
      st <- root.listFiles().toSeq if st.getName.startsWith("state=")
      ym <- st.listFiles().toSeq if ym.getName.startsWith("year_month=")
    } yield s"${st.getName}/${ym.getName}" ->
      ym.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    leaves.toMap
  }

  test("streaming refresh rewrites only the slices the delta touches") {
    val work = Files.createTempDirectory("graft_srefresh").toString
    val gold = s"$work/gold"
    try {
      runScenario(work, gold)
    } finally {
      // materialize registered a temp-dir table in the JVM-global
      // catalog — leaking it would let a later extensions-session
      // suite route aggMarketRates(sf0001) to this deleted dir.
      graft.plans.GoldCatalog.invalidate(gold)
    }
  }

  private def runScenario(work: String, gold: String): Unit = {
    GoldAggregates.materialize(spark, sf0001, gold)
    val before = leafFiles(gold)

    // target slice = first populated (state, year_month) of the gold
    val head = spark.read.parquet(gold).select("state", "year_month").head
    val (s0, ym0) = (head.getString(0), head.getString(1))
    val targetLeaf = s"state=$s0/year_month=$ym0"
    assert(before.contains(targetLeaf))

    // delta: the base fact rows of exactly that slice (provider state
    // and shipdate month reproduce the slice keys through the roles)
    val pg = Roles.providers(spark, sf0001)
      .filter(col("state") === s0).select("provider_group_id")
    val delta = Tables.load(spark, sf0001, "lineitem")
      .filter(graft.functions.NormExprs.yearMonth(col("l_shipdate")) === ym0)
      .join(pg, col("l_suppkey").cast("string") === col("provider_group_id"),
        "left_semi")
    assert(delta.count() > 0, s"no base rows for slice ($s0, $ym0)")
    val deltaDir = s"$work/delta"
    delta.coalesce(1).write.parquet(deltaDir)

    val q = ServingRefresh.run(spark, deltaDir, sf0001, gold,
      s"$work/ckpt")
    q.processAllAvailable()
    q.stop()

    val after = leafFiles(gold)
    assert(after(targetLeaf) != before(targetLeaf),
      "touched slice must have been rewritten with fresh part files")
    val untouched = before.keySet - targetLeaf
    val changed = untouched.filter(k => before(k) != after.getOrElse(k, Set()))
    assert(changed.isEmpty,
      s"slices not in the delta were rewritten: ${changed.take(5)}")

    // refreshed slice still equals the inline aggregate's slice; the
    // refresh re-registered `gold`, so the reference is built with
    // routing off (else it would read the refreshed table back)
    val inline = graft.plans.GoldCatalog.withRoutingDisabled(spark) {
      val agg = GoldAggregates.aggMarketRates(spark, sf0001)
      assert(hasAggregate(agg), "the reference must re-aggregate")
      agg.filter(col("state") === s0 && col("year_month") === ym0)
        .drop("state", "year_month")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    }
    val servedRows = GoldAggregates.readSlice(spark, gold, s0, ym0)
      .drop("state", "year_month")
      .select(GoldAggregates.aggMarketRates(spark, sf0001)
        .drop("state", "year_month").columns.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(servedRows.toSeq == inline.toSeq)
  }

  test("streaming refresh keeps the sketch sidecars in step with the gold slices") {
    val work = Files.createTempDirectory("graft_srefresh_sk").toString
    val gold = s"$work/gold"
    val sketch = s"$work/gold_sketch"
    val hist = s"$work/gold_hist"
    try {
      GoldAggregates.materialize(spark, sf0001, gold)
      GoldAggregates.materializeDistinctSketch(spark, sf0001, sketch)
      GoldAggregates.materializeRateHistogram(spark, sf0001, hist)
      // the KMV sidecar refreshes at its conventional goldPath-derived
      // location (ServingRefresh.run wires it without a parameter)
      val kmv = s"${gold}_kmv"
      GoldAggregates.materializeKmvSketch(spark, sf0001, kmv)
      val head = spark.read.parquet(gold).select("state", "year_month")
        .filter(col("state").isNotNull).head
      val (s0, ym0) = (head.getString(0), head.getString(1))
      // sidecars partition by STATE only (file-size economics — see
      // materializeDistinctSketch), so the rewrite unit is the state dir
      def stateFiles(dir: String): Map[String, Set[String]] =
        new java.io.File(dir).listFiles().toSeq
          .filter(_.getName.startsWith("state="))
          .map(st => st.getName ->
            st.listFiles().map(_.getName)
              .filter(_.endsWith(".parquet")).toSet)
          .toMap
      val targetLeaf = s"state=$s0"
      val (skBefore, hBefore, kBefore) =
        (stateFiles(sketch), stateFiles(hist), stateFiles(kmv))
      val pg = Roles.providers(spark, sf0001)
        .filter(col("state") === s0).select("provider_group_id")
      val delta = Tables.load(spark, sf0001, "lineitem")
        .filter(graft.functions.NormExprs.yearMonth(col("l_shipdate")) === ym0)
        .join(pg, col("l_suppkey").cast("string") === col("provider_group_id"),
          "left_semi")
      delta.coalesce(1).write.parquet(s"$work/delta")
      val q = ServingRefresh.run(spark, s"$work/delta", sf0001, gold,
        s"$work/ckpt", sketch, hist)
      try q.processAllAvailable() finally q.stop()
      // touched sidecar partitions rewritten, others untouched
      for ((name, before) <- Seq("sketch" -> skBefore, "hist" -> hBefore,
        "kmv" -> kBefore)) {
        val after = stateFiles(name match {
          case "sketch" => sketch
          case "hist" => hist
          case _ => kmv
        })
        assert(after(targetLeaf) != before(targetLeaf),
          s"$name sidecar slice not refreshed")
        val changed = (before.keySet - targetLeaf)
          .filter(k => before(k) != after.getOrElse(k, Set[String]()))
        assert(changed.isEmpty, s"$name sidecar slices rewritten: $changed")
      }
      // refreshed registers equal a from-base recompute of that slice
      val sliceRegisters = spark.read.parquet(sketch)
        .filter(col("state") === s0 && col("year_month") === ym0)
        .select("reg_idx", "reg_rank")
        .collect().map(_.toSeq).toSet
      val recomputed = graft.operators.Sketches.hllRegisters(
          GoldAggregates.ratesWithState(spark, sf0001)
            .filter(col("state") === s0 && col("year_month") === ym0),
          Seq("state", "year_month"), "v")
        .select("reg_idx", "reg_rank")
        .collect().map(_.toSeq).toSet
      assert(sliceRegisters == recomputed,
        "refreshed sidecar slice != from-base registers")
    } finally {
      graft.plans.GoldCatalog.invalidate(gold)
    }
  }

  test("bootstrapRouting: a fresh JVM routes from the sidecar alone") {
    val work = Files.createTempDirectory("graft_bootstrap").toString
    val gold = s"$work/gold"
    try {
      GoldAggregates.materialize(spark, sf0001, gold)
      // the sidecar landed at the table root, underscore-ignored by reads
      assert(new java.io.File(gold, "_graft_gold.json").isFile)
      // simulate JVM death: every in-process registration is gone
      graft.plans.GoldCatalog.clear()
      assert(!graft.plans.GoldCatalog.isRegistered(gold))
      // startup call with ONLY the table path — no source-dir knowledge
      assert(GoldAggregates.bootstrapRouting(spark, gold))
      assert(graft.plans.GoldCatalog.isRegistered(gold))
      // and the registration actually routes: the inline aggregate's
      // optimized plan must be aggregate-free (swapped for the scan)
      val routed = GoldAggregates.aggMarketRates(spark, sf0001)
      assert(!hasAggregate(routed), "bootstrap registration did not route")
      // a sidecar-less path refuses quietly
      assert(!GoldAggregates.bootstrapRouting(spark, s"$work/nothere"))
      // a fingerprint mismatch (defining query changed since the
      // build) refuses rather than registering a dead key
      graft.plans.GoldCatalog.clear()
      val metaFile = new java.io.File(gold, "_graft_gold.json")
      val tampered = new String(java.nio.file.Files.readAllBytes(
        metaFile.toPath), "UTF-8")
        .replaceAll("\"fingerprint\":-?\\d+", "\"fingerprint\":12345")
      java.nio.file.Files.write(metaFile.toPath, tampered.getBytes("UTF-8"))
      // drop Hadoop's local-fs checksum sidecar so the read reaches the
      // fingerprint check (a raw rewrite invalidates the .crc)
      new java.io.File(gold, "._graft_gold.json.crc").delete()
      assert(!GoldAggregates.bootstrapRouting(spark, gold))
      assert(!graft.plans.GoldCatalog.isRegistered(gold))
    } finally graft.plans.GoldCatalog.clear()
  }

  test("slice-read cache: repeats reuse the resolved frame, refresh drops it") {
    val work = Files.createTempDirectory("graft_slicecache").toString
    val gold = s"$work/gold"
    try {
      GoldAggregates.materialize(spark, sf0001, gold)
      val head = spark.read.parquet(gold).select("state", "year_month").head
      val (s0, ym0) = (head.getString(0), head.getString(1))
      val first = GoldAggregates.readSlice(spark, gold, s0, ym0)
      val n = first.count()
      assert(n > 0)
      // steady state: the resolved frame itself is reused — no
      // re-listing, no footer re-read, plan-identical by construction
      assert(GoldAggregates.readSlice(spark, gold, s0, ym0) eq first)
      // a slice rewrite replaces the leaf's part files; the cached
      // frame pins the OLD file list, so refresh must evict it — the
      // post-refresh read resolves fresh and still serves the slice
      GoldAggregates.refreshSlices(spark, sf0001, gold, Seq((s0, ym0)))
      val after = GoldAggregates.readSlice(spark, gold, s0, ym0)
      assert(!(after eq first), "refresh left a stale frame cached")
      assert(after.count() == n)
    } finally graft.plans.GoldCatalog.invalidate(gold)
  }
}
