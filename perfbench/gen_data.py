"""Seeded generator of the benchmark's input tables.

Writes the ten TPC-H-ish tables graft reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, physical types and value
distributions of the project's reference test tables. The same
`(seed, sf)` always gives byte-for-byte the same rows.

Row counts scale with `sf` as in the reference tables: lineitem is
6,000,000 x sf, orders 1,500,000 x sf, part 200,000 x sf, customer
150,000 x sf, supplier 10,000 x sf, events 1,000,000 x sf; documents
and embeddings never drop below 500 rows.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
# the reference corpus vocabulary; "dup" marks a near-duplicate document
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DIM = 64

ORDER_FIRST, ORDER_LAST = dt.date(1995, 1, 1), dt.date(2001, 8, 1)
SHIP_FIRST, SHIP_LAST = dt.date(1995, 1, 2), dt.date(2001, 11, 4)
EVENTS_START = dt.datetime(2024, 1, 1)


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(25, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n, first, last):
    """n uniform calendar days in [first, last] as timestamp[us]."""
    base = np.datetime64(first, "us")
    span = (last - first).days + 1
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _months_after(first, months):
    """The last day of the `months`-th calendar month from `first`."""
    y, m = divmod(first.month - 1 + months, 12)
    return dt.date(first.year + y, m + 1, 1) - dt.timedelta(days=1)


def tables(seed, sf, months=None):
    """Yield (name, pyarrow.Table) for every input table. `months`, when
    given, narrows ship and order dates to that many calendar months
    from January 1995 (the reference span is 83 months)."""
    n = sizes(sf)
    ship_last, order_last = SHIP_LAST, ORDER_LAST
    if months:
        ship_last = order_last = _months_after(ORDER_FIRST, months)
    rng = np.random.default_rng(seed)
    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    yield "customer", pa.table({
        "c_custkey": _ids(c),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    # every nation gets its share of suppliers: graft maps a supplier's
    # nation to a provider state, so with few suppliers a uniform draw
    # would leave states (and their slices) out, a different number each
    # seed
    yield "supplier", pa.table({
        "s_suppkey": _ids(s),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.permutation(np.arange(s) % 25).astype(np.int32)),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    keys = np.arange(p, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    o = n["orders"]
    yield "orders", pa.table({
        "o_orderkey": _ids(o),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, o, ORDER_FIRST, order_last)),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(_days(rng, li, SHIP_FIRST, ship_last))})
    e = n["events"]
    gaps = rng.exponential(30 * 86400e6 / e, e).astype(np.int64)
    yield "events", pa.table({
        "event_id": _ids(e),
        "ts": pa.array(np.datetime64(EVENTS_START, "us")
                       + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    yield "documents", pa.table({
        "doc_id": _ids(d),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    v = n["embeddings"]
    vec = rng.standard_normal((v, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": _ids(v),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v).astype(np.int32))})


def write(out_dir, seed, sf, months=None):
    """Write every table to `<out_dir>/<name>.parquet`; returns row counts."""
    counts = {}
    for name, table in tables(seed, sf, months):
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")
        counts[name] = table.num_rows
    return counts
