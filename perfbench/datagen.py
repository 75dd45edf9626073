"""Seeded input tables for the benchmark.

Same schema and value ranges as the repo's TPC-H-ish test corpus
(region nation customer supplier part orders lineitem events
documents embeddings, one parquet file each), so every registry query
in ``__spark_entry__`` and its DuckDB oracle run on it unchanged. The
same ``seed`` always yields byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1 (documents/embeddings do not scale
# linearly in the test corpus; 500 rows is its sf0.01 size)
_BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 14) + (["de"] * 14) \
    + (["fr"] * 13)
_US_PER_DAY = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _days(rng, n, start: str, ndays: int) -> pa.Array:
    d0 = np.datetime64(start, "D").astype("int64")
    return _ts((d0 + rng.integers(0, ndays, n)) * _US_PER_DAY)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * sf), 10) for k, v in _BASE.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc, ns = n["customer"], n["supplier"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    no, nl = n["orders"], n["lineitem"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, "1995-01-01", 2399),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2499)})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    out["events"] = pa.table({
        "event_id": np.arange(ne),
        "ts": _ts(t0 + np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 500
    texts = [" ".join(rng.choice(_WORDS, k))
             for k in rng.integers(10, 100, nd)]
    out["documents"] = pa.table({
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], "int64")})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, nd)
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (nd, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nd),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(root: str, seed: int, sf: float) -> int:
    """Write every table as ``<root>/<name>.parquet``; returns the
    bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, tbl in tables(seed, sf).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
