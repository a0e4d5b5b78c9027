package graft.etl

/** CLI entry: full star-schema batch build (SURVEY §7.1 app/).
  * Usage: runMain graft.etl.BuildMain <sfDir> <outDir>
  * Idempotent: re-running against the same outDir appends nothing. */
object BuildMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // silver: star schema (dims + xrefs + fact upsert)
    StarSchemaBuilder.runFull(spark, sfDir, outDir)
    // enrichment dims (NPPES / TIN / crosswalk / geo)
    val providers = graft.Roles.providers(spark, sfDir)
    val rates = graft.Roles.rates(spark, sfDir)
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.dimNpi(providers), s"$outDir/dim_npi", Seq("npi"))
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.dimNpiAddress(providers), s"$outDir/dim_npi_address",
      Seq("npi", "address_hash"))
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.dimTin(providers), s"$outDir/dim_tin",
      Seq("tin_type", "tin_value"))
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.xrefPgMemberTin(providers), s"$outDir/xref_pg_member_tin",
      Seq("provider_group_id", "tin_value"))
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.dimCodeCat(rates, "billing_code"),
      s"$outDir/dim_code_cat", Seq("proc_cd"))
    // gold: the serving pre-aggregate, partitioned for slice reads.
    // Routing registration is in-process only — a separate serving
    // session calls GoldAggregates.registerExisting at startup.
    GoldAggregates.materialize(spark, sfDir, s"$outDir/agg_market_rates")
    // similarity serving: the bucket-partitioned IVF index ("build
    // once, probe many" — probes prune to their nprobe buckets)
    graft.operators.Similarity.writeIvfIndex(spark, sfDir,
      s"$outDir/ivf_index")
    // incremental-dedup serving: the corpus minhash signature store
    // that later ingest deltas probe (DedupStream). Seeded idempotently
    // with the same append-unique the stream uses, then compacted —
    // micro-appended stores accrue a part file per batch per shuffle
    // partition, and the compaction pass is the standing maintenance
    // that keeps probe-side listing/open costs bounded.
    // ingest_batch = -1, NOT 0: streaming batch ids start at 0, and
    // processBatch reads the store excluding the CURRENT batch id for
    // replay safety — a seed tagged 0 would make the very first
    // micro-batch treat the entire seeded corpus as its own replay
    // residue and silently emit no seed-vs-delta pairs. -1 is the
    // same can-never-collide sentinel foldCounts uses.
    graft.etl.StarSchemaBuilder.appendUnique(spark,
      graft.operators.Dedup.minhashSignaturesFor(
          graft.Tables.load(spark, sfDir, "documents"), "doc_id", "text")
        .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L)),
      s"$outDir/minhash_sig_store", Seq("doc_id"))
    graft.streaming.DedupStream.compactStore(spark,
      s"$outDir/minhash_sig_store", maxFiles = 16)
    // sanity counts, mirroring prod_etl/ETL_1.py:504-520; also written
    // as a manifest so successive incremental builds can diff row
    // counts (shrinking dims / exploding facts are the cheap drift
    // signals the reference's count checks exist to catch)
    val counts = Seq("dim_code", "dim_payer", "dim_provider_group",
      "dim_pos_set", "xref_pos", "xref_pg_member", "fact_rate", "dim_npi",
      "dim_npi_address", "dim_tin", "xref_pg_member_tin", "dim_code_cat",
      "agg_market_rates", "ivf_index", "minhash_sig_store").map { t =>
      val n = spark.read.parquet(s"$outDir/$t").count()
      println(s"[build] $t rows=$n")
      t -> n
    }
    graft.FsUtils.writeString(spark, s"$outDir/_manifest.json",
      counts.map { case (t, n) => s""""$t": $n""" }
        .mkString("{\n  ", ",\n  ", "\n}\n"))
    spark.stop()
  }
}
