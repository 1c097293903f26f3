"""Seeded generator of the query surface's tables.

Same schemas and value domains as the engine's test tables (a TPC-H-like
star plus `events` and `documents`, one parquet file each), drawn from a
seed so the benchmark owns its inputs. Row counts scale with `sf` the way
the test tables do (lineitem = 6M x sf), documents included, so the
oracles that compare documents pairwise stay cheap at small `sf`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(15, int(15_000 * sf)), max(100, int(50_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    pick = lambda vals, n: pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)].tolist())  # noqa: E731
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": i32(range(25)),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": i32(rng.integers(0, 5, 25))})
    out["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pick(names, n_part),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    # (l_orderkey, l_linenumber) repeats on purpose, as in the test tables
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"))})
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
          + np.cumsum(gaps * 1e6).astype(np.int64))
    out["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):  # near-duplicates
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(range(n_docs)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n_docs, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": i64([len(t) for t in texts])})
    return out


def write_tables(seed, sf, out_dir):
    """Write one parquet file (one row group) per table; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(seed, sf).items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p, row_group_size=max(1, t.num_rows))
        total += os.path.getsize(p)
    return total
