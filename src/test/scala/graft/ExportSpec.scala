package graft

import org.apache.spark.sql.functions._
import graft.operators.Export

/** Sharded training export: determinism of membership/order and the
  * writer's on-disk layout. The DuckDB oracle pins the stats query's
  * exact values; these specs pin what SQL can't see — the files. */
class ExportSpec extends SparkSpec {

  test("shard stats: complete cover, conserved counts, deterministic") {
    val a = Export.queries("export_shard_stats")(spark, sf0001).collect()
    assert(a.map(_.getLong(0)).toSet == (0L until Export.NShards).toSet,
      "not every shard populated at sf0.001")
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(a.map(_.getLong(1)).sum == total, "shard counts don't conserve")
    val b = Export.queries("export_shard_stats")(spark, sf0001).collect()
    assert(a.map(r => r.getLong(0) -> r.getString(3)).toMap ==
      b.map(r => r.getLong(0) -> r.getString(3)).toMap,
      "order fingerprint not deterministic across runs")
  }

  test("writer: hive layout, correct membership, stable in-file order") {
    val out = java.nio.file.Files.createTempDirectory("graft_export")
      .toString + "/shards"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "n_chars")
    Export.exportShards(docs, "doc_id", out)

    // every shard dir exists and holds the right members in the right order
    val expected = Export
      .assignShards(docs, "doc_id", Export.NShards, Export.Seed)
      .select("doc_id", "shuffle_h", "shard").collect()
      .groupBy(_.getLong(2))
      .map { case (s, rs) =>
        s -> rs.map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2).toSeq
      }
    (0L until Export.NShards).foreach { s =>
      val dir = s"$out/shard=$s"
      assert(new java.io.File(dir).isDirectory, s"missing dir shard=$s")
      // single unsplit file per shard here → read order == write order
      val got = spark.read.parquet(dir).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == expected(s), s"shard $s order/membership drifted")
    }

    // re-export is byte-stable at the row level: same members, same order
    val out2 = java.nio.file.Files.createTempDirectory("graft_export2")
      .toString + "/shards"
    Export.exportShards(docs, "doc_id", out2)
    (0L until Export.NShards).foreach { s =>
      val a = spark.read.parquet(s"$out/shard=$s").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$out2/shard=$s").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(a == b, s"shard $s not reproducible")
    }
  }

  test("lineage audit: path-derived shards match membership; tamper detected") {
    // healthy export: audit recovers the membership function's stats
    // from the physical files alone, path agrees with the hive column,
    // one file per shard
    val audit = Export.queries("lineage_shard_audit")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4), r.getLong(5))).toMap
    val docs = Tables.load(spark, sf0001, "documents")
    val expected = Export
      .assignShards(docs.select("doc_id"), "doc_id", Export.NShards,
        Export.Seed)
      .groupBy("shard").agg(count(lit(1)).as("n"), sum("doc_id").as("ids"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.keySet == expected.keySet, "audit lost a shard")
    expected.foreach { case (s, (n, ids)) =>
      val (an, aids, pathOk, nFiles) = audit(s)
      assert(an == n && aids == ids, s"shard $s stats drifted: $audit")
      assert(pathOk, s"shard $s path/partition disagreement")
      assert(nFiles == 1L, s"shard $s expected one file, saw $nFiles")
    }

    // tamper: duplicate shard 0's file into shard 1's dir — the moved
    // rows keep their path-derived shard (1) but fail the membership
    // stats; the audit's n_docs/id_sum for shard 1 must now disagree
    // with the membership function (what the oracle gate would catch)
    val tmpBase = Export.lineageDir(sf0001)
    val src = new java.io.File(s"$tmpBase/shard=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val dst = java.nio.file.Paths.get(s"$tmpBase/shard=1/smuggled.parquet")
    java.nio.file.Files.copy(src, dst)
    try {
      val tampered = spark.read.parquet(tmpBase)
        .withColumn("__file", input_file_name())
        .withColumn("sp", regexp_extract(col("__file"),
          "shard=([0-9]+)", 1).cast("long"))
        .groupBy("sp").agg(count(lit(1)).as("n"),
          countDistinct(col("__file")).as("nf"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(tampered(1L)._1 == expected(1L)._1 + expected(0L)._1,
        "smuggled file invisible to the path-derived audit")
      assert(tampered(1L)._2 == 2L, "file count must expose the extra file")
    } finally java.nio.file.Files.delete(dst)
  }

  test("incremental re-export rewrites only touched shards, equals full") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_export_inc")
      .toString + "/shards"
    val prev = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text", "n_chars")
    Export.exportShards(prev, "doc_id", out)
    val before = (0L until Export.NShards).map { s =>
      s -> new java.io.File(s"$out/shard=$s").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSeq.sorted
    }.toMap

    // delta: change one doc's text, one doc's METADATA ONLY (the
    // digest must cover every exported column, not just text), add
    // one, remove one
    val cur = prev
      .filter($"doc_id" =!= 7L)
      .withColumn("text",
        when($"doc_id" === 3L, concat($"text", lit(" rev2")))
          .otherwise($"text"))
      .withColumn("n_chars",
        when($"doc_id" === 11L, $"n_chars" + 1).otherwise($"n_chars"))
      .unionByName(Seq((900001L, "a brand new document", 20L))
        .toDF("doc_id", "text", "n_chars"))
    val touched =
      Export.exportShardsIncremental(prev, cur, "doc_id", out)
    assert(touched.nonEmpty && touched.size <= 4,
      s"4 changed ids must touch at most 4 shards, got $touched")
    val shardOf11 = Export
      .assignShards(cur.filter($"doc_id" === 11L), "doc_id",
        Export.NShards, Export.Seed)
      .select("shard").collect().head.getLong(0)
    assert(touched.contains(shardOf11),
      "metadata-only change missed — digest not covering all columns")

    // untouched shard files are byte-untouched (same name/mtime/size)
    (0L until Export.NShards).filterNot(touched.contains).foreach { s =>
      val after = new java.io.File(s"$out/shard=$s").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSeq.sorted
      assert(after == before(s), s"untouched shard $s was rewritten")
    }

    // the incremental result equals a from-scratch export of cur
    val full = java.nio.file.Files.createTempDirectory("graft_export_full")
      .toString + "/shards"
    Export.exportShards(cur, "doc_id", full)
    (0L until Export.NShards).foreach { s =>
      val a = spark.read.parquet(s"$out/shard=$s").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$full/shard=$s").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(a == b, s"shard $s: incremental != full export")
    }
  }

  test("incremental export clears a shard emptied by removals") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_export_empty")
      .toString + "/shards"
    val prev = (0L until 40L).map(i => (i, s"doc number $i"))
      .toDF("doc_id", "text")
    val n = 4
    Export.exportShards(prev, "doc_id", out, nShards = n)
    // drop every doc of shard 0
    val shard0 = Export.assignShards(prev, "doc_id", n, Export.Seed)
      .filter(col("shard") === 0L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(shard0.nonEmpty, "fixture needs a populated shard 0")
    val cur = prev.filter(!$"doc_id".isin(shard0.toSeq: _*))
    val touched =
      Export.exportShardsIncremental(prev, cur, "doc_id", out, n)
    assert(touched.contains(0L))
    assert(!new java.io.File(s"$out/shard=0").exists(),
      "emptied shard dir not cleared — stale rows would survive")
    val left = spark.read.option("basePath", out).parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 40L).toSet -- shard0, "surviving rows wrong")
  }

  test("streaming export: batches append to stable shards, replay no-op") {
    val out = java.nio.file.Files.createTempDirectory("graft_export_str")
      .toString + "/shards"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val b0 = docs.filter(col("doc_id") < 300)
    val b1 = docs.filter(col("doc_id") >= 300)
    Export.processBatchExport(b0, 0L, "doc_id", out)
    Export.processBatchExport(b1, 1L, "doc_id", out)

    // union of batches, each row in the shard the BATCH writer would
    // also have chosen (membership is a function of (seed, id) alone)
    // hive partition inference types `shard=0` as int — cast back
    val got = spark.read.option("basePath", out).parquet(out)
      .select(col("doc_id"), col("shard").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == docs.count(), "row count drifted")
    val expected = Export
      .assignShards(docs, "doc_id", Export.NShards, Export.Seed)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, s) =>
      assert(expected(id) == s, s"doc $id in shard $s, batch law says ${expected(id)}")
    }

    // replay of batch 1 (lost checkpoint commit): byte-stable end state
    val before = spark.read.option("basePath", out).parquet(out).count()
    Export.processBatchExport(b1, 1L, "doc_id", out)
    assert(spark.read.option("basePath", out).parquet(out).count() == before,
      "replay duplicated rows")

    // each shard's batch files keep the within-batch hash order
    val s0 = s"$out/shard=0/ingest_batch=0"
    if (new java.io.File(s0).isDirectory) {
      val ids = spark.read.parquet(s0).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val want = Export
        .assignShards(b0, "doc_id", Export.NShards, Export.Seed)
        .filter(col("shard") === 0L).orderBy("shuffle_h", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids == want, "within-batch shard order broken")
    }
  }

  test("maxRecordsPerFile splits files without breaking shard order") {
    val out = java.nio.file.Files.createTempDirectory("graft_export3")
      .toString + "/shards"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "n_chars")
    Export.exportShards(docs, "doc_id", out, maxRecordsPerFile = 7L)
    val dir = new java.io.File(s"$out/shard=0")
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length > 1, "expected multiple files under the cap")
    // part files sort lexicographically in write order; concatenating
    // their rows must reproduce the (shuffle_h, doc_id) shard order
    val rows = parts.sortBy(_.getName).flatMap { f =>
      spark.read.parquet(f.getAbsolutePath).select("doc_id")
        .collect().map(_.getLong(0))
    }.toSeq
    val expected = Export
      .assignShards(docs, "doc_id", Export.NShards, Export.Seed)
      .filter(col("shard") === 0)
      .orderBy("shuffle_h", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(rows == expected, "split files broke the shard order")
  }
}
