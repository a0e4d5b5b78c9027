package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Roles, RolesSql, Scratch, Tables}
import graft.etl.{EnrichmentDims, EnrichmentDimsSql, GoldAggregates, WideTableBuilder}
import graft.functions.{Categorizer, NormExprs}
import graft.functions.NormExprs.{pround, wageAdjFactor}

/** Round-2 builder surface: the prod enrichment dims and gold layers as
  * oracle-checked queries —
  *  - dim_code_cat crosswalk categorization (the prod serving path,
  *    webapp/utils/optimized_queries.py:131-149);
  *  - the materialized `agg_market_rates` gold pre-agg, S15
  *    (prod_etl/notebook.py:360-419);
  *  - OPPS/ASC facility benchmarks with the wage-index state adjustment,
  *    F11 applied (build_medicare_benchmarks.py:369-425, main.py:740-772);
  *  - NPPES dims: build, fact join, keep-latest upsert
  *    (prod_etl/utils/utils_nppes.py:127-252);
  *  - TIN xref + the TIN-conditioned filter grammar
  *    (prod_etl/notebook.py:221-224, webapp/backend/main.py:117-125);
  *  - the staged-funnel drill-down grammar with cumulative filters
  *    (webapp/staged_dashboard.py:95-310);
  *  - the full legacy wide-table pipeline, §3.1 (main.py:54-164).
  */
object Builders extends QueryPack {

  private val R = s"WITH rates AS (${RolesSql.rates})"

  /** Columns `dq_profile` profiles — ONE pinned list shared by the
    * Spark aggregate and the DuckDB twin (schema-order drift in the
    * parquet cannot silently change what either side profiles). */
  private val profileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  private val RP =
    s"WITH rates AS (${RolesSql.rates}), providers AS (${RolesSql.providers})"

  private def avg2(c: Column) =
    pround(sum(c.cast("decimal(18,2)")).cast("double") / count(c), 2)
  private def prS(e: String, scale: Int = 2): String = {
    val f = math.pow(10, scale)
    s"floor(($e) * $f + 0.5) / $f"
  }
  private def avgS(x: String): String =
    prS(s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / COUNT($x)")
  private def qS(x: String, p: String): String = prS(s"quantile_cont($x, $p)")

  /** Spread the small billing_code space across the full 5-digit CPT
    * range so the categorizer exercises all taxonomy branches (same
    * synth as f_categorize). */
  private def synthCode(c: Column): Column =
    (lit(10000) + (c.cast("bigint") * 37) % 90000).cast("string")
  private def synthCodeSql(e: String): String =
    s"CAST(10000 + (CAST($e AS BIGINT) * 37) % 90000 AS VARCHAR)"

  private val FunnelState = "NATION_9"
  private val FunnelYm = "1995-09"

  /** Multi-select fixtures shared by the queries and their oracles so
    * the IN lists can never drift between the two engines. All values
    * exist at sf0.001+ except two taxonomies that only appear from
    * sf0.01 up — deliberately: absent IN values must be a no-op, not
    * an error, on both sides. */
  private val MsCodes = (3 to 199 by 5).map(_.toString)
  private val MsPayers = Seq("payer_1", "payer_3")
  private val MsClasses = Seq("professional", "institutional")
  private val MsTypes = Seq("negotiated", "fee schedule")
  private val MsTaxonomies =
    Seq("Taxonomy 3", "Taxonomy 23", "Taxonomy 42", "Taxonomy 77")
  private def inList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("(", ", ", ")")
  private val MsStates = Seq("NATION_3", "NATION_9")

  /** Query-private materialized-fact sidecar (the PQ/IVF convention:
    * the declared query overwrites it, the oracle reads the same
    * files, so both engines filter the same hive layout). */
  private val oracleFactDir: String =
    Scratch.path("graft_fact_multiselect_oracle")

  /** The gold sidecar's six-state slice. */
  private val MsSliceStates = Seq("NATION_1", "NATION_3", "NATION_7",
    "NATION_9", "NATION_12", "NATION_20")

  /** Materialize the sidecar slice once per JVM per source-dir
    * listing: the fact derives from these files, and materializing the
    * slice is build work the QUERY semantics don't need repeated — a
    * real deployment builds the gold fact once. */
  private def ensureFactSidecar(s: SparkSession, d: String): Unit =
    Scratch.once(s, "graft_fact_multiselect_oracle", Seq(d)) {
      // repartition by state: each writer task owns ONE state subtree
      // (~20 leaves), so the 5-level dynamic write creates one file
      // per leaf instead of fanning 32 shuffle partitions × ~500
      // leaves into thousands of tiny files (the small-file problem
      // compactPartitions exists to undo — don't create it here)
      // slice BEFORE fact(): its fact_uid dedup is an aggregate whose
      // non-key columns come back as first() outputs, so a filter
      // placed above it cannot push through — filtering the base
      // keeps the md5 minting and the dedup shuffle slice-sized. Six
      // states (a superset of the two queried) keep the multi-state
      // listing-prune demonstrable while bounding the per-run leaf
      // fan-out of the 5-level write. STATIC overwrite on purpose —
      // the production sink's dynamic-overwrite semantics
      // (writePartitionedFact) would leave residue partitions behind
      // when consecutive runs use different SF dirs, and a
      // query-private sidecar must be exactly what this run wrote.
      graft.etl.StarSchemaBuilder.fact(
          graft.etl.StarSchemaBuilder.base(s, d)
            .filter(col("year_month") === "1995-09" &&
              col("state").isin(MsSliceStates.map(lit(_)): _*)))
        .repartition(col("state"))
        .write.mode("overwrite")
        .partitionBy(graft.etl.StarSchemaBuilder.FactPartitionCols: _*)
        .option("compression", "zstd")
        .parquet(oracleFactDir)
    }

  /** Query-private z-ordered hive-fact sidecar for `star_fact_zorder`:
    * the production composition — hive levels prune the mandatory
    * filters, a per-leaf Morton clustering + zone-map manifest skips
    * files for the code/rate drill-downs the levels can't cover
    * (webapp/staged_dashboard.py:95-310). Two states keep the leaf
    * walk non-trivial while bounding the build. */
  private val zfactDir: String = Scratch.path("graft_fact_zorder")
  /** Both states carry suppliers at EVERY SF dir (sf0.001's supplier
    * table covers only 10 nations) — the probe reads a leaf PATH, so
    * an absent state would be PATH_NOT_FOUND, not an empty result. */
  private val ZfStates = Seq("NATION_3", "NATION_15")
  private val ZfProbeState = "NATION_15"
  private val ZfCodeBox = (40L, 120L)
  private val ZfRateBox = (10000L, 40000L)

  private def ensureZfactSidecar(s: SparkSession, d: String): Unit =
    Scratch.once(s, "graft_fact_zorder", Seq(d)) {
      // code_num: the probe needs a NUMERIC envelope — min/max of the
      // string `code` would be lexicographic and range-probing it
      // would lose rows
      graft.etl.StarSchemaBuilder.fact(
          graft.etl.StarSchemaBuilder.base(s, d)
            .filter(col("state").isin(ZfStates.map(lit(_)): _*)))
        .withColumn("code_num", col("code").cast("bigint"))
        .repartition(col("state"))
        .write.mode("overwrite").partitionBy("state")
        .option("compression", "zstd")
        .parquet(zfactDir)
      graft.etl.StarSchemaBuilder.zorderFactPartitions(s, zfactDir,
        Seq("code_num", "negotiated_rate"), nFiles = 8)
      // point-lookup sidecar on the probe leaf: fact_uid is the star
      // fact's primary key, a string digest — the string-key bloom
      graft.operators.Layout.writeBloomManifest(s,
        s"$zfactDir/state=$ZfProbeState", "fact_uid",
        estItems = 100000L, numBits = 1L << 20)
    }

  def queries: Map[String, QFn] = Map(
    // The hive fact with z-ordered leaves, probed the way the staged
    // dashboard drills down: the partition level answers the state
    // filter at directory listing, the leaf's zone-map manifest then
    // skips files for the (code, rate) box — the range predicates the
    // 5-level scheme cannot prune for. The layout is a pure
    // re-clustering, so the oracle reads the same files back and
    // filters them plainly.
    "star_fact_zorder" -> ((s, d) => {
      ensureZfactSidecar(s, d)
      graft.operators.Layout.zonePrunedRead(s,
          s"$zfactDir/state=$ZfProbeState",
          Seq(("code_num", ZfCodeBox._1, ZfCodeBox._2),
            ("negotiated_rate", ZfRateBox._1, ZfRateBox._2)))
        .select(col("fact_uid"), col("code_num"),
          pround(col("negotiated_rate"), 2).as("negotiated_rate"),
          col("payer_slug"), col("billing_class"), col("negotiated_type"))
    }),

    // Primary-key point lookup through the leaf's string-key bloom
    // manifest: given a bounded set of fact_uids (here the uids of one
    // code cell, collected driver-side the way a serving layer holds
    // the ids a user clicked), only bloom-positive files are read —
    // the needle-in-100TB "fetch these exact fact rows" path. No
    // false negatives: every requested committed row comes back.
    "star_fact_uid_lookup" -> ((s, d) => {
      ensureZfactSidecar(s, d)
      val leaf = s"$zfactDir/state=$ZfProbeState"
      val uids = s.read.parquet(leaf)
        .filter(col("code_num").between(40, 60))
        .select("fact_uid").orderBy("fact_uid").limit(50)
        .collect().map(_.getString(0)).toSeq
      graft.operators.Layout.bloomPrunedReadString(s, leaf, "fact_uid",
          if (uids.isEmpty) Seq("__none__") else uids)
        .select(col("fact_uid"), col("code_num"),
          pround(col("negotiated_rate"), 2).as("negotiated_rate"),
          col("payer_slug"))
    }),

    // The multi-select form: state IN (...) prunes at DIRECTORY
    // listing (the hive level), then each selected leaf's zone map
    // prunes at FILE grain for the same (code, rate) box — two-level
    // skipping in one probe, partition values re-attached so the
    // result reads like a plain partition-aware scan.
    "star_fact_zorder_multi" -> ((s, d) => {
      ensureZfactSidecar(s, d)
      graft.operators.Layout.zonePrunedReadLeaves(s, zfactDir,
          Seq(("code_num", ZfCodeBox._1, ZfCodeBox._2),
            ("negotiated_rate", ZfRateBox._1, ZfRateBox._2)),
          kv => ZfStates.contains(kv.getOrElse("state", "")))
        .select(col("fact_uid"), col("state"), col("code_num"),
          pround(col("negotiated_rate"), 2).as("negotiated_rate"),
          col("payer_slug"), col("billing_class"))
    }),

    // Consolidated-dashboard multi-select search: every fact-side
    // filter field carries a comma-separated value LIST that the
    // grammar decodes into IN predicates (consolidated_dashboard.py:
    // 139-160; staged_dashboard.py:167-180) — all pushed into the one
    // fact scan; result rows ranked highest-rate-first with a
    // deterministic tie-break (simple_queries.py:16-202).
    "api_multi_select" -> ((s, d) =>
      QueryApi.multiFieldSearch(s, d, QueryApi.RateFilter(
        state = "", yearMonth = "1995-09",
        codes = QueryApi.parseMulti(MsCodes.mkString(", ")),
        billingClasses = QueryApi.parseMulti(MsClasses.mkString(" , ")),
        negotiatedTypes = QueryApi.parseMulti(MsTypes.mkString(",")),
        payers = QueryApi.parseMulti(MsPayers.mkString(",")),
        minRate = Some(50.0)))),

    // The same multi-select grammar against the MATERIALIZED star
    // fact: state/year_month/payer/class are hive partition levels,
    // so their IN lists prune at FILE LISTING (multi-state select =
    // listing two state dirs), and the data-side INs
    // (negotiated_type) push into the parquet scan as native IN
    // filters — the layout the role-view variant can't give because
    // its filter columns are derived expressions. QueryApiSpec pins
    // both in the plan.
    "api_multi_select_gold" -> ((s, d) => {
      // materialize ONE month's slice — the query's grain; a real
      // deployment materializes the whole fact once, but a per-run
      // sidecar rebuild must not pay the full-fact small-file fan-out
      // (5 hive levels × every month ≈ thousands of leaf writes).
      // Built once per JVM per input listing: a rerun against
      // unchanged inputs pays probe cost only.
      ensureFactSidecar(s, d)
      val fact = s.read.parquet(oracleFactDir)
        .withColumnRenamed("code", "billing_code")
      QueryApi.filteredFact(fact, QueryApi.RateFilter(
          state = "", yearMonth = "1995-09",
          states = QueryApi.parseMulti(MsStates.mkString(", ")),
          payers = QueryApi.parseMulti(MsPayers.mkString(",")),
          billingClasses = QueryApi.parseMulti(MsClasses.mkString(",")),
          negotiatedTypes = QueryApi.parseMulti(MsTypes.mkString(",")),
          minRate = Some(50.0)))
        .select(col("fact_uid"), col("state"), col("billing_code"),
          pround(col("negotiated_rate"), 2).as("negotiated_rate"),
          col("payer_slug"), col("billing_class"))
        .orderBy(col("negotiated_rate").desc, col("fact_uid"))
        .limit(100)
    }),

    // Multi-select on the NPPES-dim side: taxonomy + enumeration-type
    // lists filter the dim, which attaches as ONE broadcast semi-join
    // (staged_dashboard.py:330-347's taxonomy IN over the joined
    // NPPES table) under the same A4 summary the single-value J14
    // path serves.
    "api_multi_taxonomy" -> ((s, d) =>
      QueryApi.rateSummary(s, d, QueryApi.RateFilter(
        state = "", yearMonth = "1995-09",
        payers = QueryApi.parseMulti("payer_0, payer_2, payer_4"),
        taxonomies = QueryApi.parseMulti(MsTaxonomies.mkString(",")),
        enumerationTypes = QueryApi.parseMulti("NPI-1")))),

    // OR-of-ILIKE multi-select (optimized_queries.py:579-588's
    // build_ilike_clause): each listed value is a case-insensitive
    // CONTAINS, any match passes — one list on the fact side
    // (payer), one on the NPPES dim (organization name, where a NULL
    // org — a person-type NPI — never matches, the reference's ILIKE
    // NULL semantics).
    "api_multi_ilike" -> ((s, d) =>
      QueryApi.rateSummary(s, d, QueryApi.RateFilter(
        state = "", yearMonth = "1995-09",
        payerIlikes = QueryApi.parseMulti("AYER_1, ayer_4"),
        orgIlikes = QueryApi.parseMulti("er#00000001, ER#00000002")))),

    // §2.9 prod path: crosswalk dim build + broadcast categorization join
    // with pre-computed search fields (optimized_queries.py:131-149)
    "f_categorize_xwalk" -> ((s, d) => {
      val fact = Roles.rates(s, d).select(col("l_orderkey"),
        col("l_linenumber"), synthCode(col("billing_code")).as("code"))
      val xwalk = EnrichmentDims.dimCodeCat(fact, "code")
      EnrichmentDims.categorizeViaCrosswalk(fact, "code", xwalk)
    }),

    // S15: the agg_market_rates gold pre-agg (inline form; the writer
    // materializes the same frame — EtlSpec asserts parity + pruning)
    "s15_agg_market_rates" -> ((s, d) =>
      GoldAggregates.aggMarketRates(s, d)),

    // F11 applied: OPPS/ASC national + state-averaged facility
    // benchmarks (build_medicare_benchmarks.py:369-425)
    "bench_opps_asc_build" -> ((s, d) => {
      val wi = Roles.providers(s, d).filter(col("s_acctbal") > 0)
        .groupBy("state").agg(avg2(col("s_acctbal")).as("state_wi_avg"))
        .select(col("state"), (col("state_wi_avg") / 5000.0).as("wi"))
      val codes = Tables.load(s, d, "part").select(
        col("p_partkey").cast("string").as("code"),
        (col("p_retailprice") / 50.0).as("opps_weight"),
        (col("p_retailprice") * 0.6).as("asc_nat_raw"))
      val oppsNat = col("opps_weight") * 87.38
      // broadcast the 25-row wage-index side; the code table streams
      codes.crossJoin(broadcast(wi))
        .select(col("state"), col("code"),
          pround(oppsNat, 2).as("medicare_opps_national"),
          pround(oppsNat * wageAdjFactor(col("wi"), 0.6), 2)
            .as("medicare_opps_stateavg"),
          pround(col("asc_nat_raw"), 2).as("medicare_asc_national"),
          pround(col("asc_nat_raw") * wageAdjFactor(col("wi"), 0.5), 2)
            .as("medicare_asc_stateavg"))
    }),

    // The comprehensive benchmark table: the three per-facility-class
    // benchmark builds concatenated with missing-column tolerance —
    // pd.concat's NaN back-fill re-expressed as
    // unionByName(allowMissingColumns = true), a zero-shuffle union
    // (build_medicare_benchmarks.py:262-280,
    // MEDICARE_BENCHMARK_SCHEMA.md:26-117). Each class keeps its own
    // column set (RVUs for professional, weights/SI for OPPS, the
    // national-rate carry for ASC); absent columns become typed nulls.
    // `last_updated` is datetime.now() in the reference — replaced by
    // the deterministic table_version stamp so the build is
    // reproducible (and oracle-checkable).
    "bench_medicare_comprehensive" -> ((s, d) => {
      val wi = Roles.providers(s, d).filter(col("s_acctbal") > 0)
        .groupBy("state").agg(avg2(col("s_acctbal")).as("state_wi_avg"))
        .select(col("state"), (col("state_wi_avg") / 5000.0).as("wi"))
      val part = Tables.load(s, d, "part")
      val wr = pround(col("p_retailprice") / 1000.0, 4)
      val pe = pround(col("p_retailprice") / 2000.0, 4)
      val mp = pround(col("p_retailprice") / 10000.0, 4)
      val profNat = (col("work_rvu") + col("practice_expense_rvu") +
        col("malpractice_rvu")) * 32.74
      val prof = part.filter(col("p_size") % 2 === 0)
        .select(col("p_partkey").cast("string").as("code"),
          lit("CPT").as("code_type"), wr.as("work_rvu"),
          pe.as("practice_expense_rvu"), mp.as("malpractice_rvu"))
        .crossJoin(broadcast(wi))
        .select(col("state"), col("code"), col("code_type"),
          col("work_rvu"), col("practice_expense_rvu"),
          col("malpractice_rvu"), lit(32.74).as("conversion_factor"),
          pround(profNat, 2).as("medicare_prof_national"),
          pround(profNat * wageAdjFactor(col("wi"), 0.75), 2)
            .as("medicare_prof_stateavg"),
          lit("professional").as("benchmark_type"))
      val oppsNat = col("opps_weight") * 87.38
      val opps = part.filter(col("p_size") % 3 === 0)
        .select(col("p_partkey").cast("string").as("code"),
          lit("HCPCS").as("code_type"),
          pround(col("p_retailprice") / 50.0, 4).as("opps_weight"))
        .crossJoin(broadcast(wi))
        .select(col("state"), col("code"), col("code_type"),
          col("opps_weight"),
          pround(oppsNat, 2).as("medicare_opps_national"),
          pround(oppsNat * wageAdjFactor(col("wi"), 0.6), 2)
            .as("medicare_opps_stateavg"),
          lit("opps").as("benchmark_type"))
      val asc = part.filter(col("p_size") % 5 === 0)
        .select(col("p_partkey").cast("string").as("code"),
          lit("CPT").as("code_type"),
          pround(col("p_retailprice") * 0.6, 2).as("asc_nat_rate"))
        .crossJoin(broadcast(wi))
        .select(col("state"), col("code"), col("code_type"),
          col("asc_nat_rate"),
          col("asc_nat_rate").as("medicare_asc_national"),
          pround(col("asc_nat_rate") * wageAdjFactor(col("wi"), 0.5), 2)
            .as("medicare_asc_stateavg"),
          lit("asc").as("benchmark_type"))
      prof.unionByName(opps, allowMissingColumns = true)
        .unionByName(asc, allowMissingColumns = true)
        .withColumn("table_version", lit("1.0"))
        .withColumn("data_year", lit(2025))
    }),

    // S8 dim shape: the 17-column dim_npi build (utils_nppes.py:127-157)
    "dim_npi_build" -> ((s, d) =>
      EnrichmentDims.dimNpi(Roles.providers(s, d))),

    // Dim schema migration + flag repair (prod_etl/migrate_dim_npi.py:
    // 16-60 + fix_nppes_flags.py:15-50): a LEGACY pre-flag dim — in
    // which npi%7==0 rows are placeholder NPIs that never received an
    // NPPES payload — is evolved in place (flag columns added with the
    // bulk mark-everything-fetched backfill, atomically published), a
    // rerun of the same migration is proven a no-op, and the flags are
    // then repaired from actual data presence. Hash-green against a
    // first-principles oracle proves migrate-then-repair ≡ building
    // the flags fresh.
    "dim_evolve_migrate" -> ((s, d) => {
      val legacyDir = Scratch.path("graft_dim_migrate_oracle")
      val dim = EnrichmentDims.dimNpi(Roles.providers(s, d))
      val keyFields = Set("status", "organization_name", "first_name",
        "last_name", "primary_taxonomy_code")
      val k = col("npi").cast("bigint")
      val legacy = dim.select(dim.columns
        .filterNot(Set("nppes_fetched", "nppes_fetch_date")).map { c =>
          if (keyFields(c))
            when(k % 7 === 0, lit(null).cast("string"))
              .otherwise(col(c)).as(c)
          else col(c)
        }: _*)
      legacy.write.mode("overwrite").parquet(legacyDir)
      EnrichmentDims.evolveDim(s, legacyDir, Seq(
        "nppes_fetched" -> lit(true),
        "nppes_fetch_date" -> lit(null).cast("string")), backup = false)
      // rerunning the migration must be a no-op — a second evolve with
      // a CONTRADICTORY backfill must not touch the present column
      EnrichmentDims.evolveDim(s, legacyDir, Seq(
        "nppes_fetched" -> lit(false)), backup = false)
      EnrichmentDims.repairFetchFlags(s, legacyDir)
      s.read.parquet(legacyDir).select(col("npi"),
        col("enumeration_type"), col("status"), col("organization_name"),
        col("nppes_fetched").cast("int").as("nppes_fetched"),
        col("nppes_fetch_date"))
    }),

    // J3 proper: fact ⋈ broadcast dim_npi (NPPES enrichment join)
    "j3_dim_npi_join" -> ((s, d) => {
      val r = Roles.rates(s, d)
      val npi = EnrichmentDims.dimNpi(Roles.providers(s, d))
      r.join(broadcast(npi), r("provider_reference_id") === npi("npi"), "left")
        .select(r("l_orderkey"), r("l_linenumber"),
          col("enumeration_type"), col("status"),
          col("primary_taxonomy_code"), col("primary_taxonomy_desc"))
    }),

    // W1 on a dim: keep-latest upsert of a dim_npi delta batch
    // (utils_nppes.py:226-252's ROW_NUMBER merge)
    "w1_dim_npi_upsert" -> ((s, d) => {
      val dim = EnrichmentDims.dimNpi(Roles.providers(s, d))
        .select("npi", "status", "credential", "last_updated")
      val delta = dim.filter(col("npi").cast("bigint") % 2 === 0)
        .select(col("npi"), lit("A").as("status"), lit("DO").as("credential"),
          lit("2025-01-15").as("last_updated"))
      EnrichmentDims.upsertKeepLatest(dim, delta,
        Seq("npi"), Seq("last_updated"))
    }),

    // xref_pg_member_tin build (prod_etl/notebook.py:223)
    "xref_tin_build" -> ((s, d) =>
      EnrichmentDims.xrefPgMemberTin(Roles.providers(s, d))),

    // J14 TIN variant: the xref join attached only because tin_value is
    // present (webapp/backend/main.py:117-125)
    "j14_tin_conditional" -> ((s, d) =>
      QueryApi.rateSummary(s, d, QueryApi.RateFilter(
        state = "", yearMonth = "1995-06",
        tinValue = Some("EIN000000003")))),

    // Staged funnel stage 1: option list + counts under the mandatory
    // filters (staged_dashboard.py:95-123)
    "funnel_stage1_classes" -> ((s, d) => {
      val r = Roles.rates(s, d)
      val p = Roles.providers(s, d)
      r.join(broadcast(p),
          r("provider_reference_id") === p("provider_group_id"), "left")
        .filter(col("state") === FunnelState &&
          col("year_month") === FunnelYm && col("billing_class").isNotNull)
        .groupBy("billing_class").agg(count(lit(1)).as("opt_count"))
        .orderBy(col("opt_count").desc, col("billing_class"))
    }),

    // Staged funnel stage 3: cumulative filters (state, ym, class,
    // payer set) + crosswalk-categorized option clamp
    // (staged_dashboard.py:158-200)
    "funnel_stage3_proc_sets" -> ((s, d) => {
      val r = Roles.rates(s, d)
        .withColumn("code", synthCode(col("billing_code")))
      val p = Roles.providers(s, d)
      val xwalk = EnrichmentDims.dimCodeCat(r, "code")
      r.join(broadcast(p),
          r("provider_reference_id") === p("provider_group_id"), "left")
        .filter(col("state") === FunnelState &&
          col("year_month") === FunnelYm &&
          col("billing_class") === "professional" &&
          col("payer_slug").isin("payer_0", "payer_1"))
        .join(broadcast(xwalk), col("code") === col("proc_cd"), "left")
        .groupBy(coalesce(col("proc_set"), lit("Unknown")).as("proc_set"))
        .agg(count(lit(1)).as("opt_count"))
        .orderBy(col("opt_count").desc, col("proc_set"))
        .limit(15)
    }),

    // §3.1: the full legacy wide-table pipeline end to end
    "wide_table_build" -> ((s, d) =>
      WideTableBuilder.build(s, d,
        Seq("17", "42", "100", "417", "998", "1500", "2000"), "NATION_9")),

    // Data-quality gate — the expectations report a production ETL
    // runs before publishing a build: one row per rule with its
    // violation count (0 is a result, not an absence). Three rules
    // fold into ONE conditional-aggregate pass over the fact scan
    // (null required key, duplicate grain via the null-safe uid
    // digest, impossible rate); referential integrity is the one rule
    // needing a second side — a broadcast LEFT ANTI against the
    // provider dim, counted. Nothing wider than a scalar row ever
    // shuffles.
    "dq_violations_report" -> ((s, d) => {
      val r = Roles.rates(s, d)
      val p = Roles.providers(s, d)
      val grain = NormExprs.uid(col("provider_reference_id"),
        col("billing_code"), col("year_month"), col("negotiated_type"))
      val base = r.agg(
        sum(when(col("provider_reference_id").isNull, 1).otherwise(0))
          .as("null_ref"),
        (count(lit(1)) - countDistinct(grain)).as("dup_grain"),
        sum(when(col("negotiated_rate") <= 0 ||
          col("negotiated_rate") > 60000, 1).otherwise(0)).as("oor"))
      val orphans = r.filter(col("provider_reference_id").isNotNull)
        .join(broadcast(p),
          r("provider_reference_id") === p("provider_group_id"),
          "left_anti")
        .agg(count(lit(1)).as("n"))
      base.select(lit("null_provider_ref").as("rule"),
          col("null_ref").cast("long").as("n_violations"))
        .unionByName(orphans.select(lit("orphan_provider_ref").as("rule"),
          col("n").as("n_violations")))
        .unionByName(base.select(lit("dup_rate_grain").as("rule"),
          col("dup_grain").cast("long").as("n_violations")))
        .unionByName(base.select(lit("rate_out_of_range").as("rule"),
          col("oor").cast("long").as("n_violations")))
    }),

    // Per-column table profile — the data-card / ingest-gate
    // statistic every pipeline owner reads first (null rates and
    // exact distinct cardinalities per column, over the widest fact
    // table). ONE corpus pass: all 2·C aggregates ride a single
    // Aggregate (Catalyst rewrites the multi-distinct with one Expand
    // — a C-way row expansion, the irreducible price of EXACT
    // per-column distincts; the approximate tier for 100 TB-wide
    // profiling is the sketches family's HLL sidecars), then the
    // 1-row result unpivots driver-free via stack. The column list is
    // pinned to one shared Seq so the Spark plan and the DuckDB twin
    // can never profile different columns.
    "dq_profile" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val aggs = profileCols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"))) :+
        count(lit(1)).as("__rows")
      val stackArgs = profileCols
        .map(c => s"'$c', `${c}__nulls`, `${c}__distinct`").mkString(", ")
      li.agg(aggs.head, aggs.tail: _*)
        .selectExpr(
          s"stack(${profileCols.length}, $stackArgs)" +
            " AS (col_name, n_nulls, n_distinct)",
          "__rows AS n_rows")
    }),

    // Hot-key skew report — the diagnostic a pipeline owner reads
    // BEFORE choosing between broadcast, AQE's skew split, and the
    // salted join (j15): the 10 heaviest join keys with exact counts
    // and their corpus share in basis points. One map-side-combined
    // groupBy, the grand total as a broadcast scalar, top-10 as a
    // TakeOrdered — key-cardinality cost, never corpus cost.
    "dq_key_skew" -> ((s, d) => {
      val counts = Roles.rates(s, d)
        .groupBy(col("provider_reference_id").as("key"))
        .agg(count(lit(1)).as("n_rows"))
      val total = counts.agg(sum("n_rows").as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("key"), col("n_rows"),
          pround(col("n_rows") * 10000.0 / col("total"), 2).as("share_bp"))
        .orderBy(col("n_rows").desc, col("key"))
        .limit(10)
    }),

    // The skew report CARRYING its remediation: every key annotated
    // with the broadcast/AQE/salt decision via
    // [[graft.sources.SkewTools.adviseColumns]] (the codegen'd twin of
    // the scalar advisor) in the same single pass — key-cardinality
    // cost, the grand total and the dim-size estimate as broadcast
    // scalars. A synthetic hot key (30% of the corpus) exercises the
    // salt branch next to ordinary aqe keys; the broadcast threshold
    // is lowered to put the provider dim's size estimate above it (the
    // regime the advisor exists for).
    "dq_skew_advice" -> ((s, d) => {
      val keyed = Roles.rates(s, d)
        .withColumn("key",
          when(col("l_orderkey") % 10 < 3, lit("HOT_KEY"))
            .otherwise(col("provider_reference_id")))
      val counts = keyed.groupBy("key").agg(count(lit(1)).as("n_rows"))
      val total = counts.agg(sum("n_rows").as("total"))
      val dimBytes = Roles.providers(s, d)
        .agg((count(lit(1)) * 64L).as("dim_bytes"))
      val share = col("n_rows") * 10000.0 / col("total")
      val (strategy, saltN) = graft.sources.SkewTools.adviseColumns(
        share, col("dim_bytes"), broadcastThresholdBytes = 1024L)
      counts.crossJoin(broadcast(total)).crossJoin(broadcast(dimBytes))
        .select(col("key"), col("n_rows"),
          pround(share, 2).as("share_bp"),
          strategy.as("strategy"), saltN.as("salt_n"))
        .orderBy(col("n_rows").desc, col("key"))
        .limit(10)
    })
  )

  def oracles: Map[String, String] = {
    val (catSet, catCls, catGrp) = Categorizer.sqlCase("proc_cd")
    val xwalkCte = s"""xwalk AS (
      SELECT proc_cd, ($catSet) AS proc_set, ($catCls) AS proc_class,
             ($catGrp) AS proc_group
      FROM (SELECT DISTINCT ${synthCodeSql("billing_code")} AS proc_cd
            FROM rates))"""
    val (wSet, wCls, wGrp) = Categorizer.sqlCase("billing_code")
    Map(
      // the SAME leaf files the query's probe served, read back with
      // hive_partitioning (the fixed-depth glob keeps the per-leaf
      // `_boundaries`/`_manifest_mm` sidecars, which live one level
      // deeper, out of the oracle's scan)
      "star_fact_zorder" -> s"""
        WITH fact AS (
          SELECT * FROM read_parquet('$zfactDir/*/*.parquet',
            hive_partitioning = true))
        SELECT fact_uid, code_num,
               ${prS("negotiated_rate")} AS negotiated_rate,
               payer_slug, billing_class, negotiated_type
        FROM fact
        WHERE state = '$ZfProbeState'
          AND code_num BETWEEN ${ZfCodeBox._1} AND ${ZfCodeBox._2}
          AND negotiated_rate BETWEEN ${ZfRateBox._1} AND ${ZfRateBox._2}""",

      // the oracle derives the SAME uid set (same cell, same sorted
      // 50-cap) from the same leaf files, then fetches those rows
      "star_fact_uid_lookup" -> s"""
        WITH fact AS (
          SELECT * FROM read_parquet('$zfactDir/*/*.parquet',
            hive_partitioning = true)),
        uids AS (
          SELECT fact_uid FROM fact
          WHERE state = '$ZfProbeState' AND code_num BETWEEN 40 AND 60
          ORDER BY fact_uid LIMIT 50)
        SELECT fact_uid, code_num,
               ${prS("negotiated_rate")} AS negotiated_rate, payer_slug
        FROM fact
        WHERE state = '$ZfProbeState'
          AND fact_uid IN (SELECT fact_uid FROM uids)""",

      "star_fact_zorder_multi" -> s"""
        WITH fact AS (
          SELECT * FROM read_parquet('$zfactDir/*/*.parquet',
            hive_partitioning = true))
        SELECT fact_uid, state, code_num,
               ${prS("negotiated_rate")} AS negotiated_rate,
               payer_slug, billing_class
        FROM fact
        WHERE state IN ${inList(ZfStates)}
          AND code_num BETWEEN ${ZfCodeBox._1} AND ${ZfCodeBox._2}
          AND negotiated_rate BETWEEN ${ZfRateBox._1} AND ${ZfRateBox._2}""",

      // same IN lists (one shared fixture), same rounded-rate rank
      // with the same (l_orderkey, l_linenumber) tie-break
      "api_multi_select" -> s"""$R
        SELECT l_orderkey, l_linenumber, billing_code,
               ${prS("negotiated_rate")} AS negotiated_rate,
               payer_slug, billing_class, negotiated_type
        FROM rates
        WHERE year_month = '1995-09'
          AND billing_code IN ${inList(MsCodes)}
          AND billing_class IN ${inList(MsClasses)}
          AND negotiated_type IN ${inList(MsTypes)}
          AND payer_slug IN ${inList(MsPayers)}
          AND negotiated_rate >= 50.0
        ORDER BY 4 DESC, l_orderkey, l_linenumber
        LIMIT 100""",

      // the SAME hive files the query just wrote, read back with
      // DuckDB's hive_partitioning — both engines filter one layout
      "api_multi_select_gold" -> s"""
        WITH fact AS (
          SELECT * FROM read_parquet('$oracleFactDir/**/*.parquet',
            hive_partitioning = true))
        SELECT fact_uid, state, code AS billing_code,
               ${prS("negotiated_rate")} AS negotiated_rate,
               payer_slug, billing_class
        FROM fact
        WHERE year_month = '1995-09'
          AND state IN ${inList(MsStates)}
          AND payer_slug IN ${inList(MsPayers)}
          AND billing_class IN ${inList(MsClasses)}
          AND negotiated_type IN ${inList(MsTypes)}
          AND negotiated_rate >= 50.0
        ORDER BY 4 DESC, fact_uid
        LIMIT 100""",

      // literal contains() on both sides (LIKE would read the
      // fixture's underscores as wildcards), same NULL-org exclusion
      "api_multi_ilike" -> s"""$RP,
        dim AS (${EnrichmentDimsSql.dimNpi})
        SELECT COUNT(*) AS rate_count,
               ${avgS("negotiated_rate")} AS avg_rate,
               ${prS("MIN(negotiated_rate)")} AS min_rate,
               ${prS("MAX(negotiated_rate)")} AS max_rate,
               ${qS("negotiated_rate", "0.5")} AS median_rate,
               COUNT(DISTINCT billing_code) AS unique_codes
        FROM rates
        WHERE year_month = '1995-09'
          AND (contains(lower(payer_slug), 'ayer_1')
               OR contains(lower(payer_slug), 'ayer_4'))
          AND provider_reference_id IN (
            SELECT npi FROM dim
            WHERE contains(lower(organization_name), 'er#00000001')
               OR contains(lower(organization_name), 'er#00000002'))""",

      // the NPPES-side lists filter the dim subquery — the semi-join
      // twin — under the verbatim A4 summary aggregates
      "api_multi_taxonomy" -> s"""$RP,
        dim AS (${EnrichmentDimsSql.dimNpi})
        SELECT COUNT(*) AS rate_count,
               ${avgS("negotiated_rate")} AS avg_rate,
               ${prS("MIN(negotiated_rate)")} AS min_rate,
               ${prS("MAX(negotiated_rate)")} AS max_rate,
               ${qS("negotiated_rate", "0.5")} AS median_rate,
               COUNT(DISTINCT billing_code) AS unique_codes
        FROM rates
        WHERE year_month = '1995-09'
          AND payer_slug IN ('payer_0', 'payer_2', 'payer_4')
          AND provider_reference_id IN (
            SELECT npi FROM dim
            WHERE primary_taxonomy_desc IN ${inList(MsTaxonomies)}
              AND enumeration_type IN ('NPI-1'))""",
      "f_categorize_xwalk" -> s"""$R, codes AS (
          SELECT l_orderkey, l_linenumber,
                 ${synthCodeSql("billing_code")} AS code FROM rates),
        $xwalkCte
        SELECT c.l_orderkey, c.l_linenumber, c.code,
               x.proc_set, x.proc_class, x.proc_group,
               lower(c.code || ' ' || coalesce(x.proc_set, '') || ' ' ||
                     coalesce(x.proc_class, '') || ' ' ||
                     coalesce(x.proc_group, '')) AS search_text,
               lower(trim(coalesce(x.proc_class, ''))) AS proc_class_normalized,
               lower(trim(coalesce(x.proc_group, ''))) AS proc_group_normalized
        FROM codes c LEFT JOIN xwalk x ON c.code = x.proc_cd""",

      "s15_agg_market_rates" -> s"""$RP,
        tin AS (SELECT provider_group_id AS tin_pgid, tin_value
                FROM (${EnrichmentDimsSql.xrefPgMemberTin}))
        SELECT year_month, state, payer_slug, billing_class, code_type,
               billing_code AS code,
               COUNT(DISTINCT provider_reference_id) AS npi_count,
               COUNT(DISTINCT tin_value) AS ein_count,
               ${qS("negotiated_rate", "0.10")} AS p10,
               ${qS("negotiated_rate", "0.25")} AS p25,
               ${qS("negotiated_rate", "0.50")} AS p50,
               ${qS("negotiated_rate", "0.75")} AS p75,
               ${qS("negotiated_rate", "0.90")} AS p90,
               ${avgS("negotiated_rate")} AS mean,
               ${prS("MIN(negotiated_rate)")} AS min,
               ${prS("MAX(negotiated_rate)")} AS max
        FROM rates
        LEFT JOIN providers
          ON rates.provider_reference_id = providers.provider_group_id
        LEFT JOIN tin ON rates.provider_reference_id = tin.tin_pgid
        GROUP BY 1, 2, 3, 4, 5, 6""",

      "bench_opps_asc_build" -> s"""
        WITH providers AS (${RolesSql.providers}),
        wi AS (SELECT state, ${avgS("s_acctbal")} / 5000.0 AS wi
               FROM providers WHERE s_acctbal > 0 GROUP BY state)
        SELECT state, CAST(p_partkey AS VARCHAR) AS code,
          ${prS("(p_retailprice / 50.0) * 87.38")} AS medicare_opps_national,
          ${prS("((p_retailprice / 50.0) * 87.38) * (0.6 * wi + 0.4)")}
            AS medicare_opps_stateavg,
          ${prS("p_retailprice * 0.6")} AS medicare_asc_national,
          ${prS("(p_retailprice * 0.6) * (0.5 * wi + 0.5)")}
            AS medicare_asc_stateavg
        FROM part CROSS JOIN wi""",

      // Missing-column concat twin: DuckDB has UNION ALL BY NAME, but the
      // explicit typed-NULL superset is version-proof and makes the
      // back-fill semantics (absent column → typed null) visible.
      "bench_medicare_comprehensive" -> s"""
        WITH providers AS (${RolesSql.providers}),
        wi AS (SELECT state, ${avgS("s_acctbal")} / 5000.0 AS wi
               FROM providers WHERE s_acctbal > 0 GROUP BY state),
        prof_rvu AS (
          SELECT CAST(p_partkey AS VARCHAR) AS code,
                 ${prS("p_retailprice / 1000.0", 4)} AS work_rvu,
                 ${prS("p_retailprice / 2000.0", 4)} AS practice_expense_rvu,
                 ${prS("p_retailprice / 10000.0", 4)} AS malpractice_rvu
          FROM part WHERE p_size % 2 = 0),
        opps_w AS (
          SELECT CAST(p_partkey AS VARCHAR) AS code,
                 ${prS("p_retailprice / 50.0", 4)} AS opps_weight
          FROM part WHERE p_size % 3 = 0),
        asc_r AS (
          SELECT CAST(p_partkey AS VARCHAR) AS code,
                 ${prS("p_retailprice * 0.6")} AS asc_nat_rate
          FROM part WHERE p_size % 5 = 0),
        unioned AS (
          SELECT state, code, 'CPT' AS code_type,
            work_rvu, practice_expense_rvu, malpractice_rvu,
            CAST(32.74 AS DOUBLE) AS conversion_factor,
            ${prS("(work_rvu + practice_expense_rvu + malpractice_rvu) * 32.74")}
              AS medicare_prof_national,
            ${prS("((work_rvu + practice_expense_rvu + malpractice_rvu) * 32.74) * (0.75 * wi + 0.25)")}
              AS medicare_prof_stateavg,
            'professional' AS benchmark_type,
            CAST(NULL AS DOUBLE) AS opps_weight,
            CAST(NULL AS DOUBLE) AS medicare_opps_national,
            CAST(NULL AS DOUBLE) AS medicare_opps_stateavg,
            CAST(NULL AS DOUBLE) AS asc_nat_rate,
            CAST(NULL AS DOUBLE) AS medicare_asc_national,
            CAST(NULL AS DOUBLE) AS medicare_asc_stateavg
          FROM prof_rvu CROSS JOIN wi
          UNION ALL
          SELECT state, code, 'HCPCS',
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            'opps', opps_weight,
            ${prS("opps_weight * 87.38")},
            ${prS("(opps_weight * 87.38) * (0.6 * wi + 0.4)")},
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          FROM opps_w CROSS JOIN wi
          UNION ALL
          SELECT state, code, 'CPT',
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            'asc', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE),
            asc_nat_rate, asc_nat_rate,
            ${prS("asc_nat_rate * (0.5 * wi + 0.5)")}
          FROM asc_r CROSS JOIN wi)
        SELECT unioned.*, '1.0' AS table_version, 2025 AS data_year
        FROM unioned""",

      "dim_npi_build" -> s"""
        WITH providers AS (${RolesSql.providers})
        ${EnrichmentDimsSql.dimNpi}""",

      // migrate-then-repair from first principles: the legacy dim's
      // placeholder rows (npi%7==0, key fields null) end unfetched;
      // everything else keeps its payload and the bulk-backfill marks
      "dim_evolve_migrate" -> s"""
        WITH providers AS (${RolesSql.providers}),
        dim AS (${EnrichmentDimsSql.dimNpi})
        SELECT npi, enumeration_type,
               CASE WHEN CAST(npi AS BIGINT) % 7 = 0 THEN NULL
                    ELSE status END AS status,
               CASE WHEN CAST(npi AS BIGINT) % 7 = 0 THEN NULL
                    ELSE organization_name END AS organization_name,
               CAST(CAST(npi AS BIGINT) % 7 <> 0 AS INTEGER)
                 AS nppes_fetched,
               CAST(NULL AS VARCHAR) AS nppes_fetch_date
        FROM dim""",

      "j3_dim_npi_join" -> s"""$RP,
        dim AS (${EnrichmentDimsSql.dimNpi})
        SELECT l_orderkey, l_linenumber, enumeration_type, status,
               primary_taxonomy_code, primary_taxonomy_desc
        FROM rates LEFT JOIN dim ON rates.provider_reference_id = dim.npi""",

      "w1_dim_npi_upsert" -> s"""
        WITH providers AS (${RolesSql.providers}),
        dim AS (SELECT npi, status, credential, last_updated
                FROM (${EnrichmentDimsSql.dimNpi})),
        delta AS (SELECT npi, 'A' AS status, 'DO' AS credential,
                         '2025-01-15' AS last_updated
                  FROM dim WHERE CAST(npi AS BIGINT) % 2 = 0),
        allr AS (SELECT * FROM dim UNION ALL SELECT * FROM delta)
        SELECT npi, status, credential, last_updated
        FROM (SELECT *, row_number() OVER (PARTITION BY npi
                ORDER BY last_updated DESC, status DESC, credential DESC) AS rn
              FROM allr)
        WHERE rn = 1""",

      "xref_tin_build" -> s"""
        WITH providers AS (${RolesSql.providers})
        ${EnrichmentDimsSql.xrefPgMemberTin}""",

      "j14_tin_conditional" -> s"""$RP,
        xref AS (${EnrichmentDimsSql.xrefPgMemberTin})
        SELECT COUNT(*) AS rate_count,
               ${avgS("negotiated_rate")} AS avg_rate,
               ${prS("MIN(negotiated_rate)")} AS min_rate,
               ${prS("MAX(negotiated_rate)")} AS max_rate,
               ${qS("negotiated_rate", "0.5")} AS median_rate,
               COUNT(DISTINCT billing_code) AS unique_codes
        FROM rates
        WHERE year_month = '1995-06'
          AND provider_reference_id IN (
            SELECT provider_group_id FROM xref
            WHERE tin_value = 'EIN000000003')""",

      "funnel_stage1_classes" -> s"""$RP
        SELECT billing_class, COUNT(*) AS opt_count
        FROM rates LEFT JOIN providers
          ON rates.provider_reference_id = providers.provider_group_id
        WHERE state = '$FunnelState' AND year_month = '$FunnelYm'
          AND billing_class IS NOT NULL
        GROUP BY billing_class
        ORDER BY opt_count DESC, billing_class""",

      "funnel_stage3_proc_sets" -> s"""$RP, $xwalkCte
        SELECT coalesce(x.proc_set, 'Unknown') AS proc_set,
               COUNT(*) AS opt_count
        FROM rates
        LEFT JOIN providers
          ON rates.provider_reference_id = providers.provider_group_id
        LEFT JOIN xwalk x
          ON ${synthCodeSql("billing_code")} = x.proc_cd
        WHERE state = '$FunnelState' AND year_month = '$FunnelYm'
          AND billing_class = 'professional'
          AND payer_slug IN ('payer_0', 'payer_1')
        GROUP BY 1
        ORDER BY opt_count DESC, proc_set
        LIMIT 15""",

      // Same null→'' uid digest for the grain (COUNT(DISTINCT tuple)
      // would diverge: Spark's countDistinct drops rows with ANY null
      // column, DuckDB's counts them); every count CAST to BIGINT.
      "dq_violations_report" -> s"""$RP,
        base AS (
          SELECT
            SUM(CASE WHEN provider_reference_id IS NULL THEN 1 ELSE 0 END)
              AS null_ref,
            COUNT(*) - COUNT(DISTINCT md5(
              coalesce(CAST(provider_reference_id AS VARCHAR), '') || '|' ||
              coalesce(CAST(billing_code AS VARCHAR), '') || '|' ||
              coalesce(CAST(year_month AS VARCHAR), '') || '|' ||
              coalesce(CAST(negotiated_type AS VARCHAR), ''))) AS dup_grain,
            SUM(CASE WHEN negotiated_rate <= 0 OR negotiated_rate > 60000
                     THEN 1 ELSE 0 END) AS oor
          FROM rates),
        orph AS (
          SELECT COUNT(*) AS n
          FROM rates r LEFT JOIN providers p
            ON p.provider_group_id = r.provider_reference_id
          WHERE r.provider_reference_id IS NOT NULL
            AND p.provider_group_id IS NULL)
        SELECT 'null_provider_ref' AS rule,
               CAST(null_ref AS BIGINT) AS n_violations FROM base
        UNION ALL SELECT 'orphan_provider_ref', CAST(n AS BIGINT) FROM orph
        UNION ALL SELECT 'dup_rate_grain', CAST(dup_grain AS BIGINT)
          FROM base
        UNION ALL SELECT 'rate_out_of_range', CAST(oor AS BIGINT)
          FROM base""",

      // One UNION ALL branch per pinned column; single-column
      // COUNT(DISTINCT c) ignores nulls in both engines (the
      // multi-column null divergence the violations oracle documents
      // does not apply here).
      "dq_profile" -> profileCols.map(c =>
        s"""SELECT '$c' AS col_name,
               COUNT(*) - COUNT($c) AS n_nulls,
               COUNT(DISTINCT $c) AS n_distinct,
               COUNT(*) AS n_rows FROM lineitem""").mkString(
        "\n        UNION ALL "),

      "dq_key_skew" -> s"""$R,
        counts AS (
          SELECT provider_reference_id AS key, COUNT(*) AS n_rows
          FROM rates GROUP BY 1),
        t AS (SELECT SUM(n_rows) AS total FROM counts),
        ranked AS (
          SELECT key, n_rows,
                 floor((n_rows * 10000.0 / total) * 100.0 + 0.5) / 100.0
                   AS share_bp,
                 row_number() OVER (ORDER BY n_rows DESC, key) AS rn
          FROM counts, t)
        SELECT key, n_rows, share_bp FROM ranked WHERE rn <= 10""",

      // the same ladder as the Spark Columns: broadcast if the dim
      // estimate fits 1024 B, aqe while the share is within 4x the
      // even reducer share (10000/200 = 50 bp), else salt with
      // n = clamp(ceil(share/even), 8, 64)
      "dq_skew_advice" -> s"""$RP,
        keyed AS (
          SELECT CASE WHEN l_orderkey % 10 < 3 THEN 'HOT_KEY'
                      ELSE provider_reference_id END AS key
          FROM rates),
        counts AS (SELECT key, COUNT(*) AS n_rows FROM keyed GROUP BY 1),
        t AS (SELECT SUM(n_rows) AS total FROM counts),
        dimb AS (SELECT COUNT(*) * 64 AS dim_bytes FROM providers),
        ranked AS (
          SELECT key, n_rows, dim_bytes,
                 n_rows * 10000.0 / total AS share,
                 row_number() OVER (ORDER BY n_rows DESC, key) AS rn
          FROM counts, t, dimb)
        SELECT key, n_rows,
               ${prS("share")} AS share_bp,
               CASE WHEN dim_bytes <= 1024 THEN 'broadcast'
                    WHEN share <= 200.0 THEN 'aqe'
                    ELSE 'salt' END AS strategy,
               CASE WHEN dim_bytes <= 1024 OR share <= 200.0 THEN 0
                    ELSE CAST(least(64, greatest(8, ceil(share / 50.0)))
                              AS INTEGER) END AS salt_n
        FROM ranked WHERE rn <= 10""",

      "wide_table_build" -> s"""$RP,
        base AS (
          SELECT r.*, p.provider_name, p.state
          FROM rates r LEFT JOIN providers p
            ON r.provider_reference_id = p.provider_group_id
          WHERE r.billing_code IN ('17','42','100','417','998','1500','2000')),
        npi AS (SELECT npi, primary_taxonomy_code, primary_taxonomy_desc
                FROM (${EnrichmentDimsSql.dimNpi})),
        addr AS (SELECT provider_group_id AS addr_npi,
                   lpad(CAST(CAST(provider_group_id AS BIGINT) * 13 % 99999
                        AS VARCHAR), 5, '0') AS postal_code
                 FROM providers),
        gawc AS (SELECT CAST(p_partkey AS VARCHAR) AS wc_code,
                   ${prS("p_retailprice * 0.9")} AS wc_rate_new
                 FROM part WHERE p_size % 3 = 0),
        bp AS (SELECT CAST(p_partkey AS VARCHAR) AS bp_code,
                 ${prS("p_retailprice * 0.8")} AS bench_prof FROM part),
        bo AS (SELECT CAST(p_partkey AS VARCHAR) AS bo_code,
                 ${prS("p_retailprice * 1.1")} AS bench_opps FROM part)
        SELECT b.l_orderkey, b.l_linenumber, b.billing_code AS code,
               b.negotiated_rate AS rate, b.billing_class, b.state,
               b.provider_name, npi.primary_taxonomy_code,
               npi.primary_taxonomy_desc, addr.postal_code AS zip5,
               ${prS("coalesce(gawc.wc_rate_new, b.negotiated_rate)")}
                 AS final_rate,
               ($wSet) AS proc_set, ($wCls) AS proc_class,
               ($wGrp) AS proc_group,
               CASE WHEN b.billing_class = 'professional' THEN bp.bench_prof
                    ELSE bo.bench_opps END AS benchmark_rate,
               ${prS("""b.negotiated_rate / nullif(
                 CASE WHEN b.billing_class = 'professional' THEN bp.bench_prof
                      ELSE bo.bench_opps END, 0)""", 4)} AS pct_of_medicare
        FROM base b
        LEFT JOIN npi ON b.provider_reference_id = npi.npi
        LEFT JOIN addr ON b.provider_reference_id = addr.addr_npi
        LEFT JOIN gawc ON b.billing_code = gawc.wc_code
        LEFT JOIN bp ON b.billing_code = bp.bp_code
        LEFT JOIN bo ON b.billing_code = bo.bo_code
        WHERE b.state = 'NATION_9'"""
    )
  }
}
