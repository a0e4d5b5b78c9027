"""Correctness checks and the metric lists for perfbench.

Every check recomputes the expected answer from the generated inputs
with DuckDB, or tests a property the method must have; nothing is
compared against a saved copy of earlier output.
"""
import glob
import hashlib
import json
import math
import os
import random

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# graft's rates/providers roles over the TPC-H-ish tables (lineitem as
# the negotiated-rates feed, supplier x nation as provider groups)
RATES = """
CREATE VIEW rates AS SELECT
  CAST(l_partkey AS VARCHAR) AS billing_code,
  l_extendedprice AS negotiated_rate,
  CAST(l_suppkey AS VARCHAR) AS provider_reference_id,
  'payer_' || CAST(l_suppkey % 5 AS VARCHAR) AS payer_slug,
  CASE WHEN l_partkey % 10 = 0 THEN 'HCPCS' ELSE 'CPT' END AS code_type,
  CASE WHEN l_returnflag = 'R' THEN 'professional' ELSE 'institutional' END
    AS billing_class,
  strftime(l_shipdate, '%Y-%m') AS year_month
FROM lineitem"""
RATES_WITH_STATE = """
CREATE VIEW rates_state AS SELECT r.*, n_name AS state
FROM rates r LEFT JOIN supplier ON r.provider_reference_id = CAST(s_suppkey AS VARCHAR)
LEFT JOIN nation ON s_nationkey = n_nationkey"""

# the workloads and the metrics (names, units) the benchmark reports
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# the layer metrics a workload does not exercise read 0
ONLY = {
    "etl_build": ("etl.", "operators."),
    "analytics_batch": ("query.",),
    "dashboard_wide": ("serving.", "spark.jobs_per_request"),
}


def per_layer(workload, layers):
    """Every per-layer metric of BENCHMARK.json from the traced run's
    figures."""
    scoped = tuple(p for ps in ONLY.values() for p in ps)
    out = {}
    for m in BENCH["per_layer"]:
        name, unit = m["name"], m["unit"]
        if name.startswith(scoped) and not name.startswith(ONLY[workload]):
            value = 0.0
        elif name in layers:
            value = layers[name]
        else:
            raise SystemExit(f"perfbench: the traced run did not report {name}")
        out[name] = {"value": value, "unit": unit}
    return out


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    con.execute(RATES)
    con.execute(RATES_WITH_STATE)
    return con


def universe(con):
    slices = con.execute("SELECT DISTINCT state, year_month FROM rates_state "
                         "ORDER BY 1, 2").fetchall()
    vectors = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    return {"slices": [tuple(s) for s in slices], "vectors": vectors}


def pround(x, n=2):
    """graft's portable rounding: floor(x * 10^n + 0.5) / 10^n."""
    return None if x is None else math.floor(x * 10 ** n + 0.5) / 10 ** n


def close(a, b, tol=0.011):
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


# ------------------------------------------------------------- canonical

def render(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(round(v, 6))
    if hasattr(v, "as_tuple"):  # Decimal
        return repr(round(float(v), 6))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(cursor):
    """(row count, order-independent digest) of a query result: columns
    sorted by name, values rendered, rows sorted, then hashed."""
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(render(r[i]) for i in order) for r in cursor.fetchall())
    h = hashlib.sha256("\x1e".join([",".join(sorted(cols))] + rows).encode())
    return len(rows), h.hexdigest()


# ----------------------------------------------------------------- checks

def run(workload, con, res, counts, seed, failed_kinds):
    """Problems found in the outputs of the operations that succeeded."""
    if workload == "etl_build":
        return check_etl(con, res, counts, seed, failed_kinds)
    if workload == "analytics_batch":
        return check_analytics(con, res, failed_kinds)
    return check_dashboard(con, res)


def _rows(con, path):
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet', "
                       "hive_partitioning = false)").fetchone()[0]


# the tables each etl_build step writes
STEP_TABLES = {
    "star_schema": ("fact_rate", "dim_code", "dim_payer", "dim_provider_group",
                    "dim_pos_set", "xref_pg_member"),
    "enrichment_dims": ("dim_npi", "dim_tin", "xref_pg_member_tin", "dim_code_cat"),
    "gold": ("agg_market_rates",),
    "ivf_index": ("ivf_index",),
    "minhash_store": ("minhash_sig_store",),
}


def check_etl(con, res, counts, seed, failed_kinds):
    out = res["etl_out"]
    problems = []
    con.execute(f"CREATE VIEW oracle_fact AS {res['oracle_sql']['star_fact_build']}")
    expect = dict(zip(
        ("fact_rate", "dim_code", "dim_payer", "dim_provider_group",
         "dim_pos_set", "xref_pg_member"),
        con.execute("""SELECT count(*),
             count(DISTINCT (code_type, code)) FILTER (WHERE code_type IS NOT NULL
                                                         AND code IS NOT NULL),
             count(DISTINCT payer_slug), count(DISTINCT pg_uid),
             count(DISTINCT pos_set_id) + max(CASE WHEN pos_set_id IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT (pg_uid, provider_group_id_raw))
               FILTER (WHERE pg_uid IS NOT NULL AND provider_group_id_raw IS NOT NULL)
           FROM oracle_fact""").fetchone()))
    n_codes = con.execute("SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    n_tins = con.execute("SELECT count(DISTINCT s_suppkey % 7) FROM supplier").fetchone()[0]
    expect.update({"dim_npi": counts["supplier"], "dim_tin": n_tins,
                   "xref_pg_member_tin": counts["supplier"],
                   "dim_code_cat": n_codes,
                   "ivf_index": counts["embeddings"],
                   "minhash_sig_store": counts["documents"]})
    skip = {t for k in failed_kinds for t in STEP_TABLES[k]}
    for table, n in sorted(expect.items()):
        if table in skip:
            continue
        got = _rows(con, f"{out}/{table}")
        if got != n:
            problems.append(f"{table}: {got} rows, expected {n}")
    if "star_schema" not in failed_kinds:
        # the fact's uids are exactly the oracle's
        got = digest(con.execute(
            f"SELECT fact_uid FROM read_parquet('{out}/fact_rate/**/*.parquet', "
            "hive_partitioning = false)"))
        if got != digest(con.execute("SELECT fact_uid FROM oracle_fact")):
            problems.append("fact_rate: fact_uid set differs from the oracle's")
    if "gold" in failed_kinds:
        return problems
    # gold: one file per leaf, and seeded slices against DuckDB
    gold = f"{out}/agg_market_rates"
    leaves = glob.glob(f"{gold}/state=*/year_month=*")
    multi = [d for d in leaves if len(glob.glob(f"{d}/*.parquet")) != 1]
    if not leaves or multi:
        problems.append(f"gold: {len(multi)} of {len(leaves)} leaves hold != 1 file")
    slices = universe(con)["slices"]
    for state, ym in random.Random(seed).sample(slices, min(5, len(slices))):
        problems += check_gold_slice(con, gold, state, ym)
    return problems


def check_gold_slice(con, gold, state, ym):
    leaf = f"{gold}/state={state}/year_month={ym}"
    got = {r[:4]: r[4:] for r in con.execute(f"""
        SELECT payer_slug, billing_class, code_type, code, min, max, mean, p50
        FROM read_parquet('{leaf}/*.parquet')""").fetchall()}
    want = {r[:4]: r[4:] for r in con.execute("""
        SELECT payer_slug, billing_class, code_type, billing_code,
               min(negotiated_rate), max(negotiated_rate),
               sum(CAST(negotiated_rate AS DECIMAL(18,2)))::DOUBLE / count(*),
               quantile_cont(negotiated_rate, 0.5)
        FROM rates_state WHERE state = ? AND year_month = ?
        GROUP BY ALL""", [state, ym]).fetchall()}
    if got.keys() != want.keys():
        return [f"gold {state}/{ym}: {len(got)} groups, expected {len(want)}"]
    bad = [k for k in want if not all(close(g, pround(w))
                                      for g, w in zip(got[k], want[k]))]
    return [f"gold {state}/{ym}: {len(bad)} groups differ, e.g. {bad[0]}: "
            f"{got[bad[0]]} vs {want[bad[0]]}"] if bad else []


def check_analytics(con, res, failed_kinds):
    problems = []
    for name, sql in sorted(res["oracle_sql"].items()):
        if name in failed_kinds:
            continue
        files = glob.glob(f"{res['results_dir']}/{name}/*.parquet")
        if sql is None or not files:
            problems.append(f"{name}: no oracle SQL or no result")
            continue
        got = digest(con.execute(f"SELECT * FROM read_parquet({files!r})"))
        want = digest(con.execute(sql))
        if got != want:
            problems.append(f"{name}: {got[0]} rows vs oracle {want[0]}, digests differ"
                            if got[0] != want[0] else f"{name}: digest differs")
    return problems


def check_dashboard(con, res):
    problems = []
    summaries, by_payer = {}, {}
    for op in res["ops"]:
        head, _, body = op["detail"].partition("\n")
        status, _, path = head.partition(" ")
        if status != "200":
            continue  # counted as failed
        try:
            doc = json.loads(body)
        except ValueError:
            problems.append(f"{path}: response is not JSON")
            continue
        query = dict(kv.split("=", 1) for kv in path.partition("?")[2].split("&") if kv)
        kind = op["kind"]
        if kind in ("knn", "documents"):
            limit = int(query.get("k", query.get("limit", "0")))
            hits = doc["results"]
            scores = [h.get("score", h.get("cosine")) for h in hits]
            if not hits or len(hits) > limit or None in scores:
                problems.append(f"{path}: {len(hits)} hits for limit {limit}")
            elif any(a < b for a, b in zip(scores, scores[1:])):
                problems.append(f"{path}: scores increase down the list")
        elif kind == "summary":
            summaries[(query["state"], query["year_month"])] = doc["summary"]
        elif kind == "by_payer":
            by_payer[(query["state"], query["year_month"])] = sum(
                h["rate_count"] for h in doc["results"])
    want = {(r[0], r[1]): r[2:] for r in con.execute("""
        SELECT state, year_month, count(*), min(negotiated_rate), max(negotiated_rate),
               sum(CAST(negotiated_rate AS DECIMAL(18,2)))::DOUBLE / count(*),
               quantile_cont(negotiated_rate, 0.5),
               count(DISTINCT billing_code), count(DISTINCT payer_slug)
        FROM rates_state GROUP BY ALL""").fetchall()}
    for key, s in summaries.items():
        n, lo, hi, mean, med, procs, payers = want.get(key, (0,) * 7)
        ok = (s.get("total_rates") == n and s.get("unique_procedures") == procs
              and s.get("unique_payers") == payers
              and all(close(s.get(f), pround(w)) for f, w in
                      (("min_rate", lo), ("max_rate", hi), ("avg_rate", mean),
                       ("median_rate", med))))
        if not ok:
            problems.append(f"summary {key}: {s} vs DuckDB {want.get(key)}")
    for key, total in by_payer.items():
        if total != want.get(key, (0,))[0]:
            problems.append(f"by-payer {key}: rate_count sums to {total}, "
                            f"slice has {want.get(key, (0,))[0]}")
    if not summaries or not by_payer:
        problems.append("no summary or by-payer response to check")
    return problems
