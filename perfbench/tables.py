"""Seeded query tables for the benchmark's query pass.

``write_tables(dir, seed)`` writes one parquet file per table, with the
schemas and value ranges of the registry's test data at sf0.01 (lineitem
60,000 rows), so the registry queries and their DuckDB oracles run on
inputs that live inside the benchmark's own output directory.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows per table at scale 1 (the sf0.01 test data)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _day(rng, n, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> dict:
    """Space-separated token texts; one in twenty repeats an earlier text
    with ``dup`` appended, so the dedup arms find candidate pairs."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, WORDS,
                                        int(rng.integers(10, 100)))))
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb.cast(pa.list_(pa.float32())),
                     "label": rng.integers(0, 10, n).astype(np.int32)})


def make_tables(seed: int, scale: float = 1.0) -> dict:
    rng = np.random.default_rng([seed, 99])
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    i32 = np.int32
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.choice(30 * 86400 * 10 ** 6, n["events"], replace=False))
    cols = {
        "region": {"r_regionkey": np.arange(5, dtype=i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=i32) % 5},
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING",
                                        "FURNITURE", "HOUSEHOLD",
                                        "MACHINERY"], n["customer"])},
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)},
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                _pick(rng, "blue cold hot large new old red small".split(),
                      n["part"]),
                _pick(rng, "anvil bolt gear gizmo plate ring rod "
                           "widget".split(), n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26,
                                                           n["part"])],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(i32),
            "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0},
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
            "o_orderdate": _day(rng, n["orders"], "1995-01-01",
                                "2001-08-01"),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"],
                                     n["orders"])},
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _day(rng, n["lineitem"], "1995-01-02",
                               "2001-11-04")},
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 150, n["events"]),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                      "view"], n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100,
                                                           n["events"])]},
        "documents": _documents(rng, n["documents"]),
    }
    tables = {name: pa.table(c) for name, c in cols.items()}
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(directory: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
