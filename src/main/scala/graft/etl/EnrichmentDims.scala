package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Categorizer, NormExprs}
import graft.functions.NormExprs.{co, pround}

/** Enrichment dimensions: the prod ETL's lookup tables and their
  * builders.
  *
  *  - `dim_code_cat`: the categorizer materialized as a crosswalk dim
  *    (prod_etl/create_dim_proc_cat.ipynb); the serving layer joins it
  *    broadcast instead of evaluating the when-chain per query
  *    (webapp/utils/optimized_queries.py:146-149). At 100 TB the
  *    crosswalk is bounded by the code universe (~20k rows) — always
  *    broadcastable — and the categorization cost is paid once at dim
  *    build, not per fact scan.
  *  - `dim_npi` / `dim_npi_address`: NPPES enrichment dims
  *    (prod_etl/utils/utils_nppes.py:127-189). The NPPES HTTP fetch is
  *    out-of-band (SURVEY §2.1 S8); these builders take an
  *    already-landed provider frame and are exercised against a
  *    deterministic fixture derived from the supplier role.
  *  - `dim_tin` / `xref_pg_member_tin`: TIN dimensions
  *    (prod_etl/notebook.py:221-224), used by the TIN-conditioned
  *    filter grammar (webapp/backend/main.py:117-125).
  *  - `upsertKeepLatest`: the reference's dim merge — union existing
  *    with the delta and keep the newest row per key
  *    (utils_nppes.py:226-252's ROW_NUMBER merge) — expressed as a
  *    max(struct) aggregation so it gets map-side partial combine
  *    instead of a per-partition window sort.
  */
object EnrichmentDims {

  // ------------------------------------------------------- dim_code_cat

  /** Crosswalk dim from a frame of codes: one row per distinct code with
    * its three-level taxonomy (create_dim_proc_cat.ipynb). */
  def dimCodeCat(codes: DataFrame, codeCol: String): DataFrame = {
    codes.select(col(codeCol).as("proc_cd")).distinct()
      .select(col("proc_cd"),
        Categorizer.categorize(col("proc_cd")).as("cat"))
      .select(col("proc_cd"), col("cat.proc_set").as("proc_set"),
        col("cat.proc_class").as("proc_class"),
        col("cat.proc_group").as("proc_group"))
  }

  /** The serving-layer enrichment join: fact LEFT JOIN broadcast
    * crosswalk on code = proc_cd, plus the pre-computed search fields
    * (optimized_queries.py:131-145). */
  def categorizeViaCrosswalk(fact: DataFrame, codeCol: String,
                             crosswalk: DataFrame): DataFrame =
    fact.join(broadcast(crosswalk), fact(codeCol) === crosswalk("proc_cd"),
        "left")
      .withColumn("search_text", lower(concat_ws(" ",
        col(codeCol), coalesce(col("proc_set"), lit("")),
        coalesce(col("proc_class"), lit("")),
        coalesce(col("proc_group"), lit("")))))
      .withColumn("proc_class_normalized",
        lower(trim(coalesce(col("proc_class"), lit("")))))
      .withColumn("proc_group_normalized",
        lower(trim(coalesce(col("proc_group"), lit("")))))
      .drop("proc_cd")

  // ------------------------------------------- NPPES dims (fixture-fed)

  /** dim_npi: the 17-column NPPES provider dim
    * (utils_nppes.py:127-157), derived deterministically from the
    * provider role (the HTTP fetch that feeds it in prod is S8,
    * out-of-band). `providers` must carry provider_group_id,
    * provider_name, state. */
  def dimNpi(providers: DataFrame): DataFrame = {
    val k = col("provider_group_id").cast("bigint")
    val isOrg = k % 4 === 0
    val lastUpdated = concat(lit("2024-"),
      lpad(((k % 12) + 1).cast("string"), 2, "0"), lit("-15"))
    providers.select(
      col("provider_group_id").as("npi"),
      when(isOrg, "NPI-2").otherwise("NPI-1").as("enumeration_type"),
      when(k % 20 === 0, "I").otherwise("A").as("status"),
      when(isOrg, col("provider_name")).as("organization_name"),
      when(!isOrg, concat(lit("First_"), col("provider_group_id")))
        .as("first_name"),
      when(!isOrg, col("provider_name")).as("last_name"),
      when(k % 3 === 0, "MD").as("credential"),
      when(!isOrg && k % 2 === 0, "YES").otherwise("NO").as("sole_proprietor"),
      concat(lit("20"), lpad((k % 20).cast("string"), 2, "0"), lit("-01-01"))
        .as("enumeration_date"),
      lastUpdated.as("last_updated"),
      lit(null).cast("string").as("replacement_npi"),
      lit(true).as("nppes_fetched"),
      lastUpdated.as("nppes_fetch_date"),
      concat(lit("2"), lpad((k % 100).cast("string"), 2, "0"), lit("X"))
        .as("primary_taxonomy_code"),
      concat(lit("Taxonomy "), (k % 100).cast("string"))
        .as("primary_taxonomy_desc"),
      col("state").as("primary_taxonomy_state"),
      concat(lit("L"), col("provider_group_id")).as("primary_taxonomy_license"))
  }

  /** dim_npi_address: two addresses (LOCATION/MAILING) per NPI with the
    * stable address_hash dedup key (utils_nppes.py:159-189). */
  def dimNpiAddress(providers: DataFrame): DataFrame = {
    val k = col("provider_group_id").cast("bigint")
    val base = providers.select(col("provider_group_id").as("npi"),
      k.as("k"), col("state"),
      explode(array(lit("LOCATION"), lit("MAILING"))).as("address_purpose"))
    val withCols = base.select(
      col("npi"), col("address_purpose"),
      lit("DOM").as("address_type"),
      concat(((col("k") * 7) % 9999 + 1).cast("string"), lit(" MAIN ST"))
        .as("address_1"),
      when(col("address_purpose") === "MAILING",
        concat(lit("STE "), (col("k") % 90 + 1).cast("string"))).as("address_2"),
      concat(lit("CITY_"), (col("k") % 50).cast("string")).as("city"),
      col("state"),
      lpad(((col("k") * 13) % 99999).cast("string"), 5, "0").as("postal_code"),
      lit("US").as("country_code"),
      NormExprs.phoneClean(concat(lit("(404) 555-"),
        lpad((col("k") % 10000).cast("string"), 4, "0"))).as("telephone_number"),
      lit(null).cast("string").as("fax_number"),
      concat(lit("2024-"), lpad(((col("k") % 12) + 1).cast("string"), 2, "0"),
        lit("-15")).as("last_updated"))
    withCols.withColumn("address_hash", md5(concat_ws("|",
      co(col("address_purpose")), co(col("address_type")),
      co(col("address_1")), co(col("address_2")), co(col("city")),
      co(col("state")), co(col("postal_code")), co(col("country_code")))))
  }

  // ------------------------------------------------- geo dims (S9/S10)

  /** dim_geo: census-geocoder result dim (S9 shape — the HTTP geocoder
    * itself is out-of-band per SURVEY §2.1): deterministic
    * lat/lon/county per distinct zip. */
  def dimGeo(addresses: DataFrame): DataFrame = {
    val z = col("zip5").cast("bigint")
    addresses.filter(col("address_purpose") === "LOCATION")
      .select(col("postal_code").as("zip5")).distinct()
      .select(col("zip5"),
        pround((z % 18000) / 100.0 - 90.0, 2).as("lat"),
        pround((z * 7 % 36000) / 100.0 - 180.0, 2).as("lon"),
        lpad((z % 3000).cast("string"), 5, "0").as("county_fips"))
  }

  /** HUD ZIP→CBSA crosswalk with the top-res_ratio dedup (S10; the
    * reference keeps the best CBSA per zip by ratio —
    * api_clients.py:300-306). Two candidate CBSAs per zip in the
    * fixture; keep-top-1 via lexicographic max (map-side combine, no
    * window sort). Ties break to the larger cbsa code, mirrored in the
    * oracle's ORDER BY ... cbsa DESC. */
  def dimZipCbsa(zips: DataFrame): DataFrame = {
    val z = col("zip5").cast("bigint")
    val cands = zips.select(col("zip5")).distinct()
      .select(col("zip5"), posexplode(array(
        struct(concat(lit("C"), lpad((z % 900).cast("string"), 4, "0"))
          .as("cbsa"),
          pround(lit(0.5) + (z % 5) / lit(10.0), 2).as("res_ratio")),
        struct(concat(lit("D"), lpad((z % 900).cast("string"), 4, "0"))
          .as("cbsa"),
          pround(lit(0.5) - (z % 5) / lit(10.0), 2).as("res_ratio"))))
        .as(Seq("i", "c")))
      .select(col("zip5"), col("c.cbsa").as("cbsa"),
        col("c.res_ratio").as("res_ratio"))
    cands.groupBy("zip5")
      .agg(max(struct(col("res_ratio"), col("cbsa"))).as("top"))
      .select(col("zip5"), col("top.cbsa").as("cbsa"),
        col("top.res_ratio").as("res_ratio"))
  }

  // -------------------------------------------------------- TIN tables

  /** TIN of a provider: deterministic fixture — several providers share
    * a TIN (mod 7), as real provider groups share employer ids. */
  def tinValue(k: Column): Column =
    concat(lit("EIN"), lpad((k % 7).cast("string"), 9, "0"))

  /** dim_tin (prod_etl/notebook.py:224): distinct (tin_type, tin_value). */
  def dimTin(providers: DataFrame): DataFrame =
    providers.select(lit("ein").as("tin_type"),
      tinValue(col("provider_group_id").cast("bigint")).as("tin_value"))
      .distinct()

  /** xref_pg_member_tin (prod_etl/notebook.py:223): provider group →
    * TIN membership, the join target of the TIN-conditioned grammar. */
  def xrefPgMemberTin(providers: DataFrame): DataFrame =
    providers.select(col("provider_group_id"), lit("ein").as("tin_type"),
      tinValue(col("provider_group_id").cast("bigint")).as("tin_value"))
      .distinct()

  // ------------------------------------------------- keep-latest upsert

  /** Dim upsert: union existing+delta, keep the newest row per key
    * (utils_nppes.py:226-252). `ordering` columns break ties after the
    * timestamp; all payload columns must be listed so the pick is
    * deterministic. Aggregation (not a window) → map-side combine. */
  def upsertKeepLatest(existing: DataFrame, delta: DataFrame,
                       keys: Seq[String], ordering: Seq[String]): DataFrame = {
    val all = existing.unionByName(delta)
    val payload = all.columns.filterNot(keys.contains)
    val ordered = ordering ++ payload.filterNot(ordering.contains)
    all.groupBy(keys.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("top"))
      .select(keys.map(col) ++ payload.map(c => col(s"top.$c").as(c)): _*)
  }

  /** Schema migration for a persisted dim — the reference's
    * evolve-in-place (prod_etl/migrate_dim_npi.py:16-60): add each
    * missing column with its backfill expression, leave columns
    * already present untouched (rerunning a migration is a NO-OP —
    * the reference's "already has nppes_fetched" early exit), and
    * publish under the tmp+swap discipline so a crash at any point
    * leaves either the old or the new dim serving, never a torn one.
    * `backup` keeps a pre-migration copy at `<path>.backup`
    * (reference parity); it is a full extra copy of the dim, so at
    * warehouse scale turn it off and rely on the atomic swap.
    * Returns true iff a migration ran. */
  def evolveDim(spark: SparkSession, path: String,
                newCols: Seq[(String, Column)],
                backup: Boolean = true): Boolean = {
    graft.streaming.DedupStream.recoverCompaction(spark, path)
    val dim = spark.read.parquet(path)
    val have = dim.columns.toSet
    val missing = newCols.filterNot { case (n, _) => have(n) }
    if (missing.isEmpty) return false
    if (backup)
      dim.write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(s"$path.backup")
    val evolved =
      missing.foldLeft(dim) { case (df, (n, c)) => df.withColumn(n, c) }
    graft.streaming.DedupStream.publishSwapped(spark, path)(tmp =>
      evolved.write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(tmp))
    true
  }

  /** Flag repair (prod_etl/fix_nppes_flags.py:15-50): `nppes_fetched`
    * must mean "this NPI carries an actual NPPES payload", so
    * recompute it from data presence — any PRESENT key field non-null
    * (fields the dim lacks are skipped, as in the reference). Bulk
    * migrations mark every pre-existing row fetched; this pass resets
    * placeholder rows that never got a payload. Same tmp+swap
    * publish as [[evolveDim]]. */
  def repairFetchFlags(spark: SparkSession, path: String,
                       flagCol: String = "nppes_fetched",
                       keyFields: Seq[String] = Seq("status",
                         "organization_name", "first_name", "last_name",
                         "primary_taxonomy_code")): Unit = {
    graft.streaming.DedupStream.recoverCompaction(spark, path)
    val dim = spark.read.parquet(path)
    val present = keyFields.filter(dim.columns.contains)
    val hasData = present.map(col(_).isNotNull)
      .foldLeft(lit(false))(_ || _)
    graft.streaming.DedupStream.publishSwapped(spark, path)(tmp =>
      dim.withColumn(flagCol, hasData).write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(tmp))
  }
}

/** DuckDB SQL twins of the EnrichmentDims fixture derivations, for the
  * oracle side. Each assumes a `providers` CTE with the Roles.providers
  * columns. */
object EnrichmentDimsSql {

  /** dim_npi as a CTE body over `providers`. */
  val dimNpi: String = """
    SELECT provider_group_id AS npi,
      CASE WHEN k % 4 = 0 THEN 'NPI-2' ELSE 'NPI-1' END AS enumeration_type,
      CASE WHEN k % 20 = 0 THEN 'I' ELSE 'A' END AS status,
      CASE WHEN k % 4 = 0 THEN provider_name END AS organization_name,
      CASE WHEN k % 4 <> 0 THEN 'First_' || provider_group_id END AS first_name,
      CASE WHEN k % 4 <> 0 THEN provider_name END AS last_name,
      CASE WHEN k % 3 = 0 THEN 'MD' END AS credential,
      CASE WHEN k % 4 <> 0 AND k % 2 = 0 THEN 'YES' ELSE 'NO' END AS sole_proprietor,
      '20' || lpad(CAST(k % 20 AS VARCHAR), 2, '0') || '-01-01' AS enumeration_date,
      '2024-' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0') || '-15' AS last_updated,
      CAST(NULL AS VARCHAR) AS replacement_npi,
      TRUE AS nppes_fetched,
      '2024-' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0') || '-15' AS nppes_fetch_date,
      '2' || lpad(CAST(k % 100 AS VARCHAR), 2, '0') || 'X' AS primary_taxonomy_code,
      'Taxonomy ' || CAST(k % 100 AS VARCHAR) AS primary_taxonomy_desc,
      state AS primary_taxonomy_state,
      'L' || provider_group_id AS primary_taxonomy_license
    FROM (SELECT *, CAST(provider_group_id AS BIGINT) AS k FROM providers)"""

  /** xref_pg_member_tin as a CTE body over `providers`. */
  val xrefPgMemberTin: String = """
    SELECT DISTINCT provider_group_id, 'ein' AS tin_type,
      'EIN' || lpad(CAST(CAST(provider_group_id AS BIGINT) % 7 AS VARCHAR),
                    9, '0') AS tin_value
    FROM providers"""
}
