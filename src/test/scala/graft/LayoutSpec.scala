package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** The layout operators' contracts: correctness (probe ≡ plain
  * filter / salted join ≡ plain join) AND the scale property the
  * operators exist for — file-grain skipping, pinned by counting the
  * files a probe actually hands to the reader. */
class LayoutSpec extends SparkSpec {

  private def li = Tables.load(spark, sf0001, "lineitem")

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_layout_spec")
      .toString + "/zl"
    Layout.zorderWrite(spark, li, Seq("l_suppkey", "l_partkey"), d)
    Layout.writeBloomManifest(spark, d, "l_orderkey",
      estItems = 1000L, numBits = 1L << 16)
    d
  }

  private def totalFiles: Long =
    spark.read.parquet(dir).select(input_file_name())
      .distinct().count()

  /** Files the zone-map manifest admits for `box`. */
  private def admitted(box: Seq[(String, Long, Long)]): Long = {
    val mm = spark.read.parquet(s"$dir/_manifest_mm")
    box.foldLeft(mm) { case (m, (c, lo, hi)) =>
      m.filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
    }.count()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))

  test("z-value interleaves bits: bit b of col i lands at b*n+i") {
    val df = spark.range(1).select(
      Layout.zValue(Seq(lit(1L), lit(0L)), bits = 2).as("a"), // col0=0b01
      Layout.zValue(Seq(lit(0L), lit(1L)), bits = 2).as("b"), // col1=0b01
      Layout.zValue(Seq(lit(3L), lit(3L)), bits = 2).as("c"))
    val r = df.head()
    assert(r.getLong(0) == 1L) // col0 bit0 → z-bit 0
    assert(r.getLong(1) == 2L) // col1 bit0 → z-bit 1
    assert(r.getLong(2) == 15L) // all four low z-bits
  }

  test("clustered write is a function of the data, not of JVM history") {
    // two builds of one input in one JVM run under different RDD ids;
    // the file split (hence every zone-map envelope) must not move
    def envelopes(): Seq[String] = {
      val d = Scratch.fresh("layout_spec_det") + "/zl"
      Layout.zorderWrite(spark, li, Seq("l_suppkey", "l_partkey"), d,
        nFiles = 4)
      spark.read.parquet(s"$d/_manifest_mm").drop("file", "gen")
        .collect().map(_.mkString(",")).toSeq.sorted
    }
    val first = envelopes()
    assert(first.size > 1)
    assert(envelopes() == first)
  }

  test("zone-pruned box probe: exact result, most files skipped") {
    val box = Seq(("l_suppkey", 2L, 4L), ("l_partkey", 40L, 120L))
    val got = Layout.zonePrunedRead(spark, dir, box)
    val want = li.filter(col("l_suppkey").between(2, 4) &&
      col("l_partkey").between(40, 120))
    assert(got.count() > 0)
    assert(sortedRows(got).sameElements(sortedRows(want)))
    // the scale property: a ~30% x ~40% box must not admit the whole
    // file set — Morton clustering keeps both envelopes tight
    assert(admitted(box) < totalFiles,
      s"box admitted all $totalFiles files — no skipping")
  }

  test("secondary-column probe skips files a lexicographic sort cannot") {
    val box = Seq(("l_partkey", 40L, 80L))
    val got = Layout.zonePrunedRead(spark, dir, box)
    val want = li.filter(col("l_partkey").between(40, 80))
    assert(got.count() > 0)
    assert(sortedRows(got).sameElements(sortedRows(want)))
    // z-order: a 20%-selective predicate on the SECOND column admits
    // well under the full file set…
    assert(admitted(box) <= totalFiles / 2,
      s"partkey probe admitted ${admitted(box)} of $totalFiles files")
    // …whereas the same data sorted by l_suppkey alone leaves every
    // file's partkey envelope ~full-range: no file is skippable.
    val lex = java.nio.file.Files.createTempDirectory("graft_lex")
      .toString + "/lex"
    li.repartitionByRange(16, col("l_suppkey"))
      .sortWithinPartitions("l_suppkey")
      .write.mode("overwrite").parquet(lex)
    val lexAdmitted = spark.read.parquet(lex)
      .groupBy(input_file_name().as("file"))
      .agg(min("l_partkey").as("mn"), max("l_partkey").as("mx"))
      .filter(col("mn") <= 80 && col("mx") >= 40).count()
    val lexTotal = spark.read.parquet(lex)
      .select(input_file_name()).distinct().count()
    assert(lexAdmitted == lexTotal,
      "expected the suppkey-sorted layout to admit every file")
  }

  test("empty box prunes every file and returns an empty exact frame") {
    val got = Layout.zonePrunedRead(spark, dir,
      Seq(("l_suppkey", 5000L, 6000L)))
    assert(got.count() == 0)
    assert(got.columns.contains("l_partkey")) // schema preserved
  }

  test("bloom probe: no false negatives, absent keys read zero files") {
    val keys = Seq(1L, 7L, 42L)
    val got = Layout.bloomPrunedRead(spark, dir, "l_orderkey", keys)
    val want = li.filter(col("l_orderkey").isin(keys.map(k => k: Any): _*))
    assert(sortedRows(got).sameElements(sortedRows(want)))
    assert(got.count() == want.count() && got.count() > 0)
    // a key far outside the corpus: every bloom answers
    // definitely-absent, the probe reads nothing
    val absent = Layout.bloomPrunedRead(spark, dir, "l_orderkey",
      Seq(987654321L))
    assert(absent.count() == 0)
  }

  test("append: delta clusters under persisted boundaries, probes exact") {
    val d = java.nio.file.Files.createTempDirectory("graft_layout_app")
      .toString + "/zl"
    Layout.zorderWrite(spark, li.filter(col("l_orderkey") < 700),
      Seq("l_suppkey", "l_partkey"), d)
    Layout.appendZorder(spark, li.filter(col("l_orderkey") >= 700), d)
    val box = Seq(("l_suppkey", 2L, 4L), ("l_partkey", 40L, 120L))
    val got = Layout.zonePrunedRead(spark, d, box)
    val want = li.filter(col("l_suppkey").between(2, 4) &&
      col("l_partkey").between(40, 120))
    assert(sortedRows(got).sameElements(sortedRows(want)))
    // the delta bucketed under the BASE boundaries: its files still
    // carry tight envelopes, so the box must not admit everything
    val mm = spark.read.parquet(s"$d/_manifest_mm")
    val admitted = mm.filter(col("min_l_suppkey") <= 4 &&
      col("max_l_suppkey") >= 2 && col("min_l_partkey") <= 120 &&
      col("max_l_partkey") >= 40).count()
    assert(admitted < mm.count(),
      s"append probe admitted all ${mm.count()} files")
  }

  test("append crash-safety: unmanifested files invisible, sweep heals") {
    val d = java.nio.file.Files.createTempDirectory("graft_layout_crash")
      .toString + "/zl"
    val base = li.filter(col("l_orderkey") < 700)
    val delta = li.filter(col("l_orderkey") >= 700)
    Layout.zorderWrite(spark, base, Seq("l_suppkey", "l_partkey"), d)
    val box = Seq(("l_partkey", 40L, 80L))
    val preAppend = sortedRows(Layout.zonePrunedRead(spark, d, box))
    // simulate a crash between the data write and the manifest
    // publish: delta files land, manifest rows do not
    delta.write.mode("append").parquet(d)
    // probes serve exactly the committed (pre-append) layout — no
    // partial read, no phantom rows
    assert(sortedRows(Layout.zonePrunedRead(spark, d, box))
      .sameElements(preAppend))
    // the retry: appendZorder sweeps the orphans FIRST, so the
    // re-appended delta lands exactly once
    Layout.appendZorder(spark, delta, d)
    val got = Layout.zonePrunedRead(spark, d, box)
    val want = li.filter(col("l_partkey").between(40, 80))
    assert(got.count() == want.count(), "orphan sweep failed: row drift")
    assert(sortedRows(got).sameElements(sortedRows(want)))
  }

  test("bloom survives appends: delta-resident keys are served (r11 #1)") {
    val d = java.nio.file.Files.createTempDirectory("graft_bloom_app")
      .toString + "/zl"
    val base = li.filter(col("l_orderkey") < 700)
    val delta = li.filter(col("l_orderkey") >= 700)
    Layout.zorderWrite(spark, base, Seq("l_suppkey", "l_partkey"), d)
    Layout.writeBloomManifest(spark, d, "l_orderkey",
      estItems = 1000L, numBits = 1L << 16)
    Layout.appendZorder(spark, delta, d)
    // a key that lives ONLY in the appended generation: the old
    // one-shot manifest silently returned nothing here
    val deltaKey = delta.select("l_orderkey").head().getLong(0)
    val got = Layout.bloomPrunedRead(spark, d, "l_orderkey", Seq(deltaKey))
    val want = li.filter(col("l_orderkey") === deltaKey)
    assert(got.count() == want.count() && got.count() > 0)
    assert(sortedRows(got).sameElements(sortedRows(want)))
    // the append published its own bloom partition (gen=1), so the
    // delta files are TESTED, not blanket-admitted: an absent key
    // still reads zero files
    assert(spark.read.parquet(s"$d/_manifest_bloom_l_orderkey")
      .select("gen").distinct().count() == 2)
    assert(Layout.bloomPrunedRead(spark, d, "l_orderkey",
      Seq(987654321L)).count() == 0)
  }

  test("bloom build excludes uncommitted orphans; unbloomed gens admit") {
    val d = java.nio.file.Files.createTempDirectory("graft_bloom_orph")
      .toString + "/zl"
    val base = li.filter(col("l_orderkey") < 700)
    Layout.zorderWrite(spark, base, Seq("l_suppkey", "l_partkey"), d)
    // crashed append: data files land, no manifest partition — their
    // rows are uncommitted and must NOT become servable via the bloom
    val orphan = li.filter(col("l_orderkey") >= 700)
    orphan.write.mode("append").parquet(d)
    Layout.writeBloomManifest(spark, d, "l_orderkey",
      estItems = 1000L, numBits = 1L << 16)
    val orphanKey = orphan.select("l_orderkey").head().getLong(0)
    assert(Layout.bloomPrunedRead(spark, d, "l_orderkey",
      Seq(orphanKey)).count() == 0,
      "uncommitted orphan rows served through the bloom path")
    // committed-but-unbloomed generation: append AFTER the manifest
    // build with the bloom partition removed (the crash window between
    // zone-map commit and bloom publish) — admitted unconditionally
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val g = Layout.appendZorder(spark, orphan, d)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$d/_manifest_bloom_l_orderkey/gen=$g"), true)
    val got = Layout.bloomPrunedRead(spark, d, "l_orderkey", Seq(orphanKey))
    assert(got.count() == li.filter(col("l_orderkey") === orphanKey).count(),
      "committed generation without bloom rows must be admitted")
  }

  test("bloom key-type discipline: string keys work, cross-type probes throw") {
    // ADVICE r11: XxHash64 hashes each type differently — a type
    // mismatch between build and probe would bloom-negative every
    // file. String keys (the fact_uid case) get their own probe; any
    // cross-type probe fails loudly.
    val d = java.nio.file.Files.createTempDirectory("graft_bloom_str")
      .toString + "/zl"
    val rows = li.withColumn("skey",
      concat(lit("uid_"), col("l_orderkey").cast("string")))
    Layout.zorderWrite(spark, rows, Seq("l_suppkey", "l_partkey"), d)
    Layout.writeBloomManifest(spark, d, "skey",
      estItems = 1000L, numBits = 1L << 16)
    val k = rows.select("skey").head().getString(0)
    val got = Layout.bloomPrunedReadString(spark, d, "skey", Seq(k))
    val want = rows.filter(col("skey") === k)
    assert(got.count() == want.count() && got.count() > 0)
    assert(Layout.bloomPrunedReadString(spark, d, "skey",
      Seq("uid_nope")).count() == 0, "absent string key read rows")
    // cross-type probes refuse (string column / long probe and back)
    intercept[IllegalArgumentException] {
      Layout.bloomPrunedRead(spark, d, "skey", Seq(1L))
    }
    intercept[IllegalArgumentException] {
      Layout.bloomPrunedReadString(spark, d, "l_orderkey", Seq("1"))
    }
    // a non-integral, non-string key column refuses at build time
    intercept[IllegalArgumentException] {
      Layout.writeBloomManifest(spark, d, "l_extendedprice")
    }
  }

  test("as-of probes reproduce each recorded head; folds reclaim history") {
    val d = java.nio.file.Files.createTempDirectory("graft_layout_asof")
      .toString + "/zl"
    val box = Seq(("l_partkey", 40L, 80L))
    val s0 = li.filter(col("l_orderkey") % 3 === 0)
    val s1 = li.filter(col("l_orderkey") % 3 === 1)
    val s2 = li.filter(col("l_orderkey") % 3 === 2)
    Layout.zorderWrite(spark, s0, Seq("l_suppkey", "l_partkey"), d)
    val h0 = sortedRows(Layout.zonePrunedRead(spark, d, box))
    Layout.appendZorder(spark, s1, d)
    val h1 = sortedRows(Layout.zonePrunedRead(spark, d, box))
    Layout.appendZorder(spark, s2, d)
    val h2 = sortedRows(Layout.zonePrunedRead(spark, d, box))
    assert(sortedRows(Layout.zonePrunedReadAsOf(spark, d, box, 0L))
      .sameElements(h0))
    assert(sortedRows(Layout.zonePrunedReadAsOf(spark, d, box, 1L))
      .sameElements(h1))
    assert(sortedRows(Layout.zonePrunedReadAsOf(spark, d, box, 2L))
      .sameElements(h2))
    intercept[IllegalArgumentException] { // never-committed snapshot
      Layout.zonePrunedReadAsOf(spark, d, box, 7L)
    }
    Layout.compactLayout(spark, d, nFiles = 8)
    // post-fold: gen 0 is the fold (== the old head), older ids gone
    assert(sortedRows(Layout.zonePrunedReadAsOf(spark, d, box, 0L))
      .sameElements(h2))
    intercept[IllegalArgumentException] {
      Layout.zonePrunedReadAsOf(spark, d, box, 1L)
    }
  }

  test("append guards: folded generations and stream-managed layouts refuse") {
    val d = java.nio.file.Files.createTempDirectory("graft_layout_guard")
      .toString + "/zl"
    val base = li.filter(col("l_orderkey") < 700)
    val delta = li.filter(col("l_orderkey") >= 700)
    Layout.zorderWrite(spark, base, Seq("l_suppkey", "l_partkey"), d)
    Layout.appendZorder(spark, delta, d) // gen 1
    Layout.compactLayout(spark, d, nFiles = 8) // folds through gen 1
    assert(Layout.foldHigh(spark, d) == 1L)
    val n = Layout.zonePrunedRead(spark, d,
      Seq(("l_partkey", 0L, Long.MaxValue))).count()
    // replaying a folded generation would double its rows — refused
    intercept[IllegalArgumentException] {
      Layout.appendZorder(spark, delta, d, gen = Some(1L))
    }
    assert(Layout.zonePrunedRead(spark, d,
      Seq(("l_partkey", 0L, Long.MaxValue))).count() == n)
    // the DEFAULT generation skips past the fold and proceeds
    val g = Layout.appendZorder(spark, delta.limit(0), d)
    assert(g == 2L)
    // a stream-managed layout refuses manual appends outright
    FsUtils.writeString(spark, s"$d/_stream_base", "3")
    intercept[IllegalArgumentException] {
      Layout.appendZorder(spark, delta, d)
    }
  }

  test("hive-leaf z-order: per-leaf manifests skip files, probes exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_leaves")
      .toString + "/fact"
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(root)
    val nLeaves = Layout.zorderLeaves(spark, root,
      Seq("l_suppkey", "l_partkey"), nFiles = 8)
    assert(nLeaves == li.select("l_returnflag").distinct().count())
    val leaf = s"$root/l_returnflag=R"
    val box = Seq(("l_partkey", 40L, 80L))
    val got = Layout.zonePrunedRead(spark, leaf, box)
    val want = li.filter(col("l_returnflag") === "R" &&
      col("l_partkey").between(40, 80))
    assert(got.count() > 0)
    assert(sortedRows(got).sameElements(sortedRows(want)))
    // the point: INSIDE the hive leaf, the box admits a strict subset
    // of the leaf's files — skipping the partition scheme can't give
    val mm = spark.read.parquet(s"$leaf/_manifest_mm")
    val admitted = mm.filter(col("min_l_partkey") <= 80 &&
      col("max_l_partkey") >= 40).count()
    assert(admitted < mm.count(),
      s"leaf probe admitted all ${mm.count()} files")
    // the hive root still reads whole (sidecars invisible to Spark)
    assert(spark.read.parquet(root).count() == li.count())
    // multi-leaf probe: directory-level prune (leaf predicate) + the
    // per-leaf zone maps, partition values re-attached
    val multi = Layout.zonePrunedReadLeaves(spark, root, box,
      kv => Set("R", "A")(kv.getOrElse("l_returnflag", "")))
    val wantMulti = li.filter(col("l_returnflag").isin("R", "A") &&
      col("l_partkey").between(40, 80))
    assert(multi.columns.contains("l_returnflag"))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.mkString("|")
    val cols = wantMulti.columns.sorted.map(col).toIndexedSeq
    assert(multi.select(cols: _*).collect().map(key).sorted.toSeq ==
      wantMulti.select(cols: _*).collect().map(key).sorted.toSeq)
    intercept[IllegalArgumentException] { // no leaf matches → loud
      Layout.zonePrunedReadLeaves(spark, root, box,
        kv => kv.get("l_returnflag").contains("Z"))
    }
  }

  test("zorderLeaves rerun: orphans excluded, fold guard + sidecars kept") {
    val root = java.nio.file.Files.createTempDirectory("graft_leafmgd")
      .toString + "/fact"
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(root)
    val zc = Seq("l_suppkey", "l_partkey")
    Layout.zorderLeaves(spark, root, zc, nFiles = 4) // first conversion
    val leaf = s"$root/l_returnflag=R"
    // a committed append era + the sidecars a production leaf carries
    val delta = li.filter(col("l_returnflag") === "N").limit(40)
      .drop("l_returnflag")
    Layout.appendZorder(spark, delta, leaf)
    Layout.writeBloomManifest(spark, leaf, "l_orderkey",
      estItems = 1000L, numBits = 1L << 16)
    FsUtils.writeString(spark, s"$leaf/_stream_base", "100")
    val fullBox = Seq(("l_partkey", 0L, Long.MaxValue))
    val before = Layout.zonePrunedRead(spark, leaf, fullBox).count()
    // crashed-append residue: data files land, no manifest generation
    li.limit(57).drop("l_returnflag")
      .write.mode("append").parquet(leaf)
    // the "after heavy append eras" rebuild (r12 ADVICE: this used to
    // adopt the orphans and drop every sidecar)
    Layout.zorderLeaves(spark, root, zc, nFiles = 4)
    assert(Layout.zonePrunedRead(spark, leaf, fullBox).count() == before,
      "rebuild adopted uncommitted orphan files")
    assert(FsUtils.readString(spark, s"$leaf/_stream_base")
      .contains("100"), "rebuild dropped the stream marker")
    assert(Layout.foldHigh(spark, leaf) >= 1L,
      "rebuild did not advance _fold_high past the absorbed append gen")
    // bloom sidecar rebuilt against the folded files: a base key probes
    val k = spark.read.parquet(leaf).select("l_orderkey").head().getLong(0)
    assert(Layout.bloomPrunedRead(spark, leaf, "l_orderkey", Seq(k)).count() > 0)
    // and a replayed pre-rebuild append now fails loudly
    intercept[IllegalArgumentException] {
      Layout.appendZorder(spark, delta, leaf, gen = Some(1L),
        viaStream = true)
    }
  }

  test("leaf walks heal crashed-swap residue instead of reading it") {
    val root = java.nio.file.Files.createTempDirectory("graft_leafres")
      .toString + "/fact"
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(root)
    Layout.zorderLeaves(spark, root, Seq("l_suppkey", "l_partkey"),
      nFiles = 4)
    val want = spark.read.parquet(root).count()
    // simulate a crash between swapDirs' renames: the live leaf moved
    // aside to <leaf>.old, replacement rename never happened
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leaf = new org.apache.hadoop.fs.Path(s"$root/l_returnflag=R")
    val old = new org.apache.hadoop.fs.Path(s"$root/l_returnflag=R.old")
    assert(fs.rename(leaf, old))
    // the walk heals (renames .old back) and never lists residue as a
    // leaf (which would read duplicated rows under a mangled value)
    val healed = Layout.zonePrunedReadLeaves(spark, root,
      Seq(("l_partkey", 0L, Long.MaxValue)), _ => true)
    assert(healed.count() == want)
    assert(!healed.select("l_returnflag").distinct().collect()
      .exists(_.getString(0).endsWith(".old")))
    assert(fs.exists(leaf) && !fs.exists(old))
    // hiveLeaves heals too (zorderLeaves' enumeration path)
    assert(fs.rename(leaf, old))
    val leaves = Layout.hiveLeaves(spark, root)
    assert(leaves.exists(_.endsWith("l_returnflag=R")))
    assert(!leaves.exists(_.contains(".old")))
  }

  test("leaf partition values: ints typed long, %xx values round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft_leaftype")
      .toString + "/fact"
    li.write.mode("overwrite").partitionBy("l_linenumber").parquet(root)
    Layout.zorderLeaves(spark, root, Seq("l_suppkey", "l_partkey"),
      nFiles = 2)
    val got = Layout.zonePrunedReadLeaves(spark, root,
      Seq(("l_partkey", 0L, Long.MaxValue)), _ => true)
    assert(got.schema("l_linenumber").dataType ==
      org.apache.spark.sql.types.LongType)
    val wantSum = li.agg(sum(col("l_linenumber"))).head().getLong(0)
    assert(got.agg(sum(col("l_linenumber"))).head().getLong(0) == wantSum)
    // escape/unescape round-trips the hive-special characters
    val nasty = "a/b:c=d%e f"
    assert(Layout.unescapeHive(Layout.escapeHive(nasty)) == nasty)
    assert(!Layout.escapeHive(nasty).exists("/:=".contains(_)))
  }

  test("leaf partition values: yyyy-MM-dd keys typed date, " +
      "year_month-style keys stay string") {
    import org.apache.spark.sql.types.{DateType, StringType}
    val root = java.nio.file.Files.createTempDirectory("graft_leafdate")
      .toString + "/fact"
    // two leaves only — zorderLeaves jobs run per leaf, so the leaf
    // count must stay bounded in a spec
    spark.range(100).select(col("id"),
        when(col("id") % 2 === 0, "2024-01-15").otherwise("2024-02-29")
          .as("ship_date"),
        when(col("id") % 2 === 0, "2024-01").otherwise("2024-02")
          .as("year_month"),
        (col("id") % 10).as("l_suppkey"), (col("id") % 7).as("l_partkey"))
      .write.mode("overwrite").partitionBy("year_month", "ship_date")
      .parquet(root)
    Layout.zorderLeaves(spark, root, Seq("l_suppkey", "l_partkey"),
      nFiles = 1)
    val got = Layout.zonePrunedReadLeaves(spark, root,
      Seq(("l_partkey", 0L, Long.MaxValue)), _ => true)
    assert(got.schema("ship_date").dataType == DateType)
    assert(got.schema("year_month").dataType == StringType)
    // typed like a native partitioned read: values round-trip as dates
    val gotDates = got.select(date_format(col("ship_date"), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(gotDates == Set("2024-01-15", "2024-02-29"))
    assert(got.count() == 100)
    // a mixed key (one real date, one not) must stay string: rewrite
    // one leaf name shape via a third partition value that fails the
    // strict gate
    val root2 = java.nio.file.Files.createTempDirectory("graft_leafdate2")
      .toString + "/fact"
    spark.range(20).select(col("id"),
        when(col("id") % 2 === 0, "2024-01-15").otherwise("2024-13-40")
          .as("ship_date"),
        (col("id") % 10).as("l_suppkey"), (col("id") % 7).as("l_partkey"))
      .write.mode("overwrite").partitionBy("ship_date").parquet(root2)
    Layout.zorderLeaves(spark, root2, Seq("l_suppkey", "l_partkey"),
      nFiles = 1)
    val got2 = Layout.zonePrunedReadLeaves(spark, root2,
      Seq(("l_partkey", 0L, Long.MaxValue)), _ => true)
    assert(got2.schema("ship_date").dataType == StringType)
    // well-shaped but IMPOSSIBLE dates must also stay string — a
    // lenient parser (java.sql.Date.valueOf rolls 2023-02-29 to
    // 2023-03-01) would type the key and NULL that leaf's value under
    // cast('date')
    val root3 = java.nio.file.Files.createTempDirectory("graft_leafdate3")
      .toString + "/fact"
    spark.range(20).select(col("id"),
        when(col("id") % 2 === 0, "2024-01-15").otherwise("2023-02-29")
          .as("ship_date"),
        (col("id") % 10).as("l_suppkey"), (col("id") % 7).as("l_partkey"))
      .write.mode("overwrite").partitionBy("ship_date").parquet(root3)
    Layout.zorderLeaves(spark, root3, Seq("l_suppkey", "l_partkey"),
      nFiles = 1)
    val got3 = Layout.zonePrunedReadLeaves(spark, root3,
      Seq(("l_partkey", 0L, Long.MaxValue)), _ => true)
    assert(got3.schema("ship_date").dataType == StringType)
    assert(got3.filter(col("ship_date").isNull).count() == 0)
  }

  test("skew advisor: broadcast < aqe < salt ladder, salt n clamped") {
    import graft.sources.SkewTools
    // small dim: broadcast regardless of skew
    assert(SkewTools.advise(hotShareBp = 5000, dimBytes = 1L << 20)
      .strategy == "broadcast")
    // big dim, mild skew (≤ 4x the even 50bp share at 200 partitions)
    val mild = SkewTools.advise(hotShareBp = 150, dimBytes = 1L << 30)
    assert(mild.strategy == "aqe" && mild.saltN == 0)
    // big dim, hot key at 10% of the corpus = 20x even → salt 20 ways
    val hot = SkewTools.advise(hotShareBp = 1000, dimBytes = 1L << 30)
    assert(hot.strategy == "salt" && hot.saltN == 20)
    // clamps: just-over-threshold skew floors at 8; extreme caps at 64
    assert(SkewTools.advise(hotShareBp = 251, dimBytes = 1L << 30)
      .saltN == 8)
    assert(SkewTools.advise(hotShareBp = 9000, dimBytes = 1L << 30)
      .saltN == 64)
    intercept[IllegalArgumentException] {
      SkewTools.advise(hotShareBp = 10001, dimBytes = 1L)
    }
    // the codegen'd Column form decides identically across the lattice
    // (branch boundaries included on both sides of each threshold)
    import spark.implicits._
    val cases = Seq((5000.0, 1L << 20), (150.0, 1L << 30),
      (1000.0, 1L << 30), (251.0, 1L << 30), (9000.0, 1L << 30),
      (200.0, 1L << 30), (201.0, 1L << 30), (0.0, 1L << 30))
    val (st, sn) = SkewTools.adviseColumns(col("share"), col("bytes"))
    val got = cases.toDF("share", "bytes")
      .select(st.as("s"), sn).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val want = cases.map { case (s, b) =>
      val a = SkewTools.advise(s, b); (a.strategy, a.saltN)
    }
    assert(got == want)
  }

  test("salted join ≡ plain join, and the shuffle spreads the salt") {
    val big = Roles.rates(spark, sf0001)
      .withColumnRenamed("provider_reference_id", "provider_group_id")
      .select("l_orderkey", "l_linenumber", "provider_group_id",
        "negotiated_rate")
    val dim = Roles.providers(spark, sf0001)
      .select("provider_group_id", "provider_name", "state")
    val salted = graft.sources.SkewTools.saltedJoin(big, dim,
      "provider_group_id", nSalts = 4, joinType = "inner")
    val plain = big.join(dim, Seq("provider_group_id"))
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.sameElements(plain.columns.sorted))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.mkString("|")
    val a = salted.select(plain.columns.map(col): _*)
      .collect().map(key).sorted
    val b = plain.collect().map(key).sorted
    assert(a.sameElements(b))
    // the point of the op: the exchange partitions on (key, salt) —
    // a hot key can no longer pin one task
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"),
      s"expected the salt in the physical plan:\n${plan.take(2000)}")
    // left join: unmatched big rows survive exactly once
    val dimHalf = dim.filter(col("provider_group_id").cast("long") < 5)
    val leftSalted = graft.sources.SkewTools.saltedJoin(big, dimHalf,
      "provider_group_id", nSalts = 4)
    val leftPlain = big.join(dimHalf, Seq("provider_group_id"), "left")
    assert(leftSalted.count() == leftPlain.count())
    assert(leftSalted.filter(col("provider_name").isNull).count() ==
      leftPlain.filter(col("provider_name").isNull).count())
  }
}
