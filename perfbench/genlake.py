"""Synthetic lake generator for the benchmark.

Writes the ten tables graft reads (TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables) as one parquet file each,
`<dir>/<table>.parquet`, with the same column names, types and value
distributions as the lakes graft's tests and oracle run on:

- `events`: 1M x sf rows over 30 days (2024-01-01 .. 2024-01-31 UTC),
  `user_id` (the process id of the lakehouse views) uniform over
  15000 x sf processes, five event types, exponential `value`,
  `props` = '{"k": n}';
- `documents`: word-salad texts of 10..100 words over a 30-word
  vocabulary (~300 chars), 5% of them an earlier text plus " dup";
- `embeddings`: 64-d unit vectors with a label 0..9;
- TPC-H-like `lineitem` (6M x sf rows), `orders`, `customer`, `part`,
  `supplier`, `nation`, `region`.

The lake is a pure function of (sf, LAKE_SEED): the benchmark's run seed
never changes it, so result digests of fixed queries over it can be
committed. Usage: python3 genlake.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42
LAKE_START = np.datetime64("2024-01-01T00:00:00", "us")
LAKE_DAYS = 30
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch".split())
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def counts(sf):
    """Row counts per table at scale factor `sf`."""
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "processes": max(1, int(15000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, first, last):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def events(rng, n, n_proc, first_id=0, start=LAKE_START, span_us=LAKE_DAYS * 86400 * 10**6):
    """`n` events uniform over [start, start + span_us), in time order."""
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_proc, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(LAKE_SEED)
    c = counts(sf)
    choice = lambda xs, n: np.array(xs)[rng.integers(0, len(xs), n)]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = c["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n)),
        "c_mktsegment": pa.array(choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n))})
    n = c["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n))})
    n = c["part"]
    names = np.array([f"{a} {b}" for a in
                      ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
                      for b in ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n)),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1))})
    n = c["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n, dtype=np.int64)),
        "o_orderstatus": pa.array(choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n)),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n))})
    n = c["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, c["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(choice(["F", "O"], n)),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04"), pa.timestamp("us"))})
    _write(out, "events", events(rng, c["events"], c["processes"]))
    _write(out, "documents", documents(rng, c["documents"]))
    _write(out, "embeddings", embeddings(rng, c["embeddings"]))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: genlake.py <out_dir> <sf>")
    generate(sys.argv[1], float(sys.argv[2]))
