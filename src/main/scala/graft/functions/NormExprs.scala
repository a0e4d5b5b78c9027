package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Normalization + deterministic-uid column expressions.
  *
  * Pure Catalyst built-ins (zero UDFs) so everything stays inside
  * whole-stage codegen and is usable at 100 TB scale.
  *
  * Semantics derived from the reference implementation
  * (chrscato/mrf-etl):
  *  - `slugify`: prod_etl/ETL_1.py:79-84 ("-" sep) and
  *    webapp/utils/data_queries.py:26-28 / prod_etl/notebook.py:43 ("_" sep).
  *  - `co` (null→""): prod_etl/ETL_1.py:87-88.
  *  - uid minting (md5 of "|"-joined parts): prod_etl/ETL_1.py:148-199.
  *  - rate fixed to 4 decimals inside fact_uid: prod_etl/ETL_1.py:179-183.
  *  - `normZip`: main.py:453-456 (digits-only, first 5, zfill(5), empty→null).
  *  - `normCode`: main.py:690-691 (str/strip/upper).
  *  - `normalizeYymm`: prod_etl/ETL_1.py:95-107. NOTE: the reference's
  *    strptime-format loop truncates the input to the wrong length
  *    (fmt.replace strips '%' and separators before len()), so every
  *    format attempt raises and the real behavior is the regex
  *    fallback `(20\d{2})[-/](0[1-9]|1[0-2])` → "yyyy-MM" else "".
  *    We implement exactly that observable behavior.
  *  - service-code normalization: prod_etl/ETL_1.py:109-145 (sorted
  *    unique, JSON-list or [;,|whitespace] split) and the notebook
  *    variant prod_etl/notebook.py:48-111.
  *  - phone digit-clean: prod_etl/utils/utils_nppes.py:70-74.
  */
object NormExprs {

  /** Portable round-half-up: floor(x·10ⁿ + 0.5)/10ⁿ. Spark's `round`
    * (BigDecimal-of-shortest-string, HALF_UP) and DuckDB's (binary
    * value) disagree on representation ties like 1423.755; this uses
    * the same primitive fp ops in both engines, so results are
    * bit-identical and oracle-hashable. */
  def pround(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    floor(c * f + 0.5) / f
  }

  /** null → "" string coercion used in every uid (prod_etl/ETL_1.py:87-88). */
  def co(c: Column): Column = coalesce(c.cast("string"), lit(""))

  /** md5 of "|"-joined parts with null→"" (prod_etl/ETL_1.py:168-199). */
  def uid(parts: Column*): Column = md5(concat_ws("|", parts.map(co): _*))

  /** Rate rendered with exactly 4 decimals, null→"" (prod_etl/ETL_1.py:179-183). */
  def rate4(c: Column): Column =
    when(c.isNull, lit("")).otherwise(format_string("%.4f", c.cast("double")))

  /** lower, [^a-z0-9]+ → sep, strip leading/trailing sep.
    * ETL_1.py:79-84 uses "-", webapp/notebook use "_". */
  def slugify(c: Column, sep: String = "_"): Column = {
    val s = regexp_replace(lower(c.cast("string")), "[^a-z0-9]+", sep)
    val esc = java.util.regex.Pattern.quote(sep)
    when(c.isNull, lit("")).otherwise(regexp_replace(s, s"^$esc+|$esc+$$", ""))
  }

  /** Keep digits, take first 5, left-pad with '0'; empty/null → null
    * (main.py:453-456, rate_calculator.py:168-172). */
  def normZip(c: Column): Column = {
    val digits = regexp_replace(c.cast("string"), "[^0-9]", "")
    when(c.isNull || digits === "", lit(null).cast("string"))
      .otherwise(lpad(substring(digits, 1, 5), 5, "0"))
  }

  /** str → trim → upper (main.py:690-691). */
  def normCode(c: Column): Column = upper(trim(c.cast("string")))

  private val YymmPat = "(20\\d{2})[-/](0[1-9]|1[0-2])"

  /** Extract "yyyy-MM" via the reference's effective regex semantics
    * (prod_etl/ETL_1.py:105-107); unmatched/null → "". */
  def normalizeYymm(c: Column): Column = {
    val y = regexp_extract(c.cast("string"), YymmPat, 1)
    val m = regexp_extract(c.cast("string"), YymmPat, 2)
    when(c.isNull || y === "", lit("")).otherwise(concat(y, lit("-"), m))
  }

  /** year_month from a real date/timestamp column (prod_etl pipelines
    * render dates as "YYYY-MM"; ETL_1.py:250-262). */
  def yearMonth(c: Column): Column = date_format(c, "yyyy-MM")

  /** Messy service_codes value → cleaned sorted-unique array<string>
    * (prod_etl/ETL_1.py:109-145). Accepts JSON-ish list strings
    * (single quotes rejected, matching Python json.loads) with
    * fallback to [;,|\s]+ split; elements trimmed, empties dropped,
    * deduped, sorted. Null → empty array. */
  def posMembers(c: Column): Column = {
    val s = c.cast("string")
    val looksJson = s.startsWith("[") && s.endsWith("]")
    // allowSingleQuotes=false: Python json.loads rejects '…' strings,
    // so "['02','11']" must fall through to the regex split path.
    val parsed = from_json(s, "array<string>",
      Map("allowSingleQuotes" -> "false").asJava)
    val split_ = split(s, "[;,|\\s]+")
    val raw = when(c.isNull, array().cast("array<string>"))
      .when(looksJson && parsed.isNotNull, parsed)
      .otherwise(split_)
    array_sort(array_distinct(filter(
      transform(raw, v => trim(coalesce(v, lit("")))), v => length(v) > 0)))
  }

  private implicit class MapOps[K, V](m: Map[K, V]) {
    def asJava: java.util.Map[K, V] = {
      val jm = new java.util.HashMap[K, V]()
      m.foreach { case (k, v) => jm.put(k, v) }
      jm
    }
  }

  /** Stable id of a POS member array: md5("none") when empty/null else
    * md5 of "|"-joined members (prod_etl/ETL_1.py:148-165). */
  def posSetId(members: Column): Column =
    when(members.isNull || size(members) === 0, md5(lit("none")))
      .otherwise(md5(concat_ws("|", members)))

  /** pg_uid = md5(payer_slug|version|group_id|provider_reference_id)
    * (prod_etl/ETL_1.py:168-171). */
  def pgUid(payerSlug: Column, version: Column, pgid: Column, pref: Column): Column =
    uid(payerSlug, version, pgid, pref)

  /** fact_uid over the 13-field grain with the rate at 4 decimals
    * (prod_etl/ETL_1.py:173-199). */
  def factUid(state: Column, yearMonth: Column, payerSlug: Column,
              billingClass: Column, codeType: Column, code: Column,
              pgUid: Column, posSetId: Column, negotiatedType: Column,
              negotiationArrangement: Column, expirationDate: Column,
              rate: Column, providerGroupIdRaw: Column): Column =
    md5(concat_ws("|",
      co(state), co(yearMonth), co(payerSlug), co(billingClass),
      co(codeType), co(code), co(pgUid), co(posSetId), co(negotiatedType),
      co(negotiationArrangement), co(expirationDate), rate4(rate),
      co(providerGroupIdRaw)))

  /** '9999-12-31' expiration sentinel → null (prod_etl/notebook.py:138). */
  def expirationSentinel(c: Column): Column =
    when(c === "9999-12-31", lit(null).cast("string")).otherwise(c)

  /** null/blank version → "1.0.0" (prod_etl/notebook.py:142-147). */
  def defaultVersion(c: Column): Column =
    when(c.isNull || trim(c) === "", lit("1.0.0")).otherwise(c)

  /** Strip non-digits; empty → null (prod_etl/utils/utils_nppes.py:70-74). */
  def phoneClean(c: Column): Column =
    nullif(regexp_replace(c.cast("string"), "[^0-9]", ""), lit(""))

  /** rate / benchmark with divide-by-zero → null
    * (benchmark_joiner.py:125-129; Data_Schema.md:263). */
  def pctOfMedicare(rate: Column, bench: Column): Column =
    rate / nullif(bench, lit(0.0))

  /** Medicare professional rate: (work·gpciW + pe·gpciP + mp·gpciM) × CF,
    * nulls treated as 0 (main.py:495-510; build_medicare_benchmarks.py:482-506). */
  def medicareProfRate(workRvu: Column, peRvu: Column, mpRvu: Column,
                       workGpci: Column, peGpci: Column, mpGpci: Column,
                       cf: Column): Column = {
    def z(c: Column) = coalesce(c.cast("double"), lit(0.0))
    (z(workRvu) * z(workGpci) + z(peRvu) * z(peGpci) + z(mpRvu) * z(mpGpci)) * z(cf)
  }

  /** Facility wage-index adjustment: labor_share·wi + (1−labor_share)
    * (main.py:756-772; constants config/settings.py:60-68). */
  def wageAdjFactor(stateWi: Column, laborShare: Double): Column =
    lit(laborShare) * stateWi + lit(1.0 - laborShare)
}
