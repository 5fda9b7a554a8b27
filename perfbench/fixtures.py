"""Deterministic fixture generator for the benchmark.

Writes the ten tables the library's gates read (`Tables.all`), one
parquet file each (`<dir>/<table>.parquet`), at TPC-H-style scale factor
0.1: 600,000 `lineitem` rows (see ROWS). The schemas are those of
FIXTURES.md section 2. The value distributions are not specified there:
each one below copies what was measured, with DuckDB, on the sf0.1
reference fixture set that TESTDATA.md describes (seed 42, the set the
repository's own bench and oracle checks read). The figures are cited
next to each generator. Where this generator departs from that set, the
comment says so.

Timestamps. FIXTURES.md lists `o_orderdate` and `l_shipdate` as
timestamp[ms] and `events.ts` as timestamp[ns]. The reference sf0.1
files store all three as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
so this generator writes micros too. `Tables` branches on the resolved
type; its NANOS branch is not exercised here, as it is not by the
reference set.

The generator seed is fixed (`GEN_SEED`): the tables are the same in
every run and every checkout. Per-run variation (gate order, predicate
windows, batch split) comes from the benchmark's `--seed` instead.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

# Measured on the reference set: part has 64 distinct p_name values (8 x 8
# words), 25 brands and 6 types; customer segments, order statuses and
# priorities, event types and line flags are uniform (each share within
# 2 % of 1/k).
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# The 30 words are exactly the reference documents' vocabulary (plus the
# "dup" marker); each word's frequency is within 3 % of the mean.
LANGS = ["de", "en", "es", "fr", "zh"]
# Reference shares of 5,000 documents: de 702, en 2,059, es 744, fr 742, zh 753.
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

# Row counts at sf0.1 (FIXTURES.md: sf0.001 x 100), as in the reference
# set, except the two corpus tables. Those sit between their sf0.01 (500,
# 500) and sf0.1 (5,000, 2,000) sizes: at full size one llm_corpus pass
# and its DuckDB oracles do not fit the benchmark's time budget. Their
# per-row distributions are the reference ones.
ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 1_500, "embeddings": 600,
}
TABLES = ["region", "nation"] + list(ROWS)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, rng, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _tables(rng):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    # Reference: keys 0..n-1, c_acctbal in [-999.85, 9999.80] (mean 4,547),
    # 25 nations.
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    # Reference: s_acctbal in [-976.02, 9988.03], nations 0..24.
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    # Reference: p_size 1..50, p_retailprice = 900 + (key % 1000) / 10
    # (900.0 .. 999.9, in key order).
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    # Reference: o_custkey covers 14,999 of 15,000 customers (uniform);
    # o_totalprice in [1,001.91, 499,993.18] (mean 250,156); o_orderdate is
    # a whole day in 1995-01-01 .. 2001-08-01, 2,405 distinct days.
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", rng, 2405, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})

    # Reference: l_orderkey uniform and independent of the order (147,236 of
    # 150,000 orders have lines, 1 to 17 each, a Poisson shape with mean 4);
    # l_linenumber 1..7, l_quantity 1..50 (whole), l_extendedprice in
    # [900.68, 104,999.91] and uncorrelated with quantity (r = 0.001);
    # l_discount 0.00..0.10 and l_tax 0.00..0.08 in cent steps;
    # l_shipdate a whole day in 1995-01-02 .. 2001-11-04 (2,499 days),
    # uncorrelated with o_orderdate (r = 0.001).
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days("1995-01-02", rng, 2499, n)})

    # Reference: ts increases with event_id from 2024-01-01; the gaps are
    # exponential (mean 25.92 s, sd 26.09 s, median 17.84 s, in whole
    # micros); user_id 0..1499, all present; value exponential rounded to
    # cents (mean 49.87, median 34.77); props '{"k": K}' with 100 K values.
    n = ROWS["events"]
    gaps = np.maximum(1, np.round(rng.exponential(25.9e6, n))).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # Reference: 10..100 tokens a document (uniform, mean 54.1) drawn
    # uniformly from the 30 words; n_chars = length(text); source
    # src{i % 20}; 250 of 5,000 documents (5 %) end in " dup", and 243 of
    # those equal another document's text plus " dup". Here a copy of a
    # 100-token text reaches 101 tokens with the marker.
    n = ROWS["documents"]
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: another document's text plus a marker token.
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, s in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[s] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    # Reference: 64-dim float32 unit vectors (norm 1 +- 4e-7) with normal
    # components; labels 0..9, uniform.
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return t


def ensure(out_dir):
    """Write the fixture set into `out_dir` unless a complete one is there.

    Returns {table: {"rows": n, "bytes": b}}. A `_COMPLETE` marker is
    written last, so an interrupted generation is redone.
    """
    marker = os.path.join(out_dir, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in _tables(np.random.default_rng(GEN_SEED)).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                           compression="snappy")
        open(marker, "w").close()
    return {name: {"rows": pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata.num_rows,
                   "bytes": os.path.getsize(os.path.join(out_dir, f"{name}.parquet"))}
            for name in TABLES}
