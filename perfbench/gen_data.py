"""Generate the benchmark's analytic tables: an sf0.1-shaped TPC-H-like star
schema plus the `events`, `documents` and `embeddings` tables that the graft
queries read (the layout `graft.Tables` loads: one `<name>.parquet` file per
table, one row group, snappy).

The tables are a fixed function of DATA_SEED, not of the run's `--seed`: the
committed reference digests in `reference.json` are computed from them. The
run's seed varies only the query order and the CQL traffic.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, stop):
    """n uniform whole-day timestamps in [start, stop] (numpy datetime64[us])."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(stop, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(rng):
    n = ROWS
    yield "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}
    yield "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    c = n["customer"]
    yield "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, c, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"])}
    s = n["supplier"]
    yield "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)}
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    yield "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, p, adj), _pick(rng, p, noun))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": _pick(rng, p, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)}
    o = n["orders"]
    yield "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(rng, o, ["F", "O", "P"]),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, o, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"])}
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    yield "lineitem", {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, li, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, li, ["F", "O"]),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04")}
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    yield "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": _pick(rng, e, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    d = n["documents"]
    texts = [" ".join(_pick(rng, int(k), WORDS)) for k in rng.integers(10, 101, d)]
    # one document in twenty is a near-duplicate: another document's text
    # plus one extra word, so the dedup queries have pairs to find
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    yield "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, d, ["en"] * 8 + ["de", "es", "fr", "zh"] * 3),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    m = n["embeddings"]
    labels = rng.integers(0, 10, m).astype(np.int32)
    centroids = rng.standard_normal((10, 64))
    vecs = rng.standard_normal((m, 64)) + 0.1 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels}


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, cols in tables(rng):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp, compression="snappy",
                       row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
