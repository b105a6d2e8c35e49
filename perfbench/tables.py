"""Seeded generator for the registry query tables.

Writes the ten parquet tables that ``colonnade_spark.queries`` reads
(``region nation customer supplier part orders lineitem events documents
embeddings``) with the same schemas and value domains as the project's
TPC-H-ish test data, at scale factor 0.001.  Every value is a pure function
of the seed: numpy's PCG64 stream seeded from it.
Driver-side pyarrow only (no Spark), so generation costs milliseconds.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_WORDS_A = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_WORDS_B = ["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo",
                 "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "table", "data", "agg", "value", "key", "stream", "window", "a",
              "spark", "part", "group", "big", "sort", "query", "fast", "the"]

SF = 0.001   # TPC-H scale factor: 6000 lineitem rows
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + offsets_us.astype(np.int64),
                    type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def generate_tables(seed: int) -> dict:
    """name -> pyarrow.Table, deterministic in the seed."""
    rng = np.random.default_rng([int(seed), int(round(SF * 1e6))])
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_events = int(1_000_000 * SF)
    n_docs, n_vecs, dim = 500, 500, 64
    day_us = 86_400 * 1_000_000

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    names = [f"{_PART_WORDS_A[a]} {_PART_WORDS_B[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})

    odate = rng.integers(0, 2404, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_EPOCH_1995, odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})

    n_line = 4 * n_ord
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995, odate[l_order] + rng.integers(1, 122, n_line) * day_us)})

    ev_us = np.sort(rng.integers(0, 30 * day_us, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024, ev_us),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 5), n_events), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(60.0, n_events) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)])})

    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 90)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _DOC_LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in generate_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
