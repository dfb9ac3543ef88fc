"""Seeded synthetic tables for the benchmark.

Writes the ten tables the query registry reads (a TPC-H-like star schema,
an ``events`` click stream and the ``documents`` / ``embeddings`` corpus)
as one-row-group parquet files, with the column names, types and value
distributions of the project's test data.  The same ``(scale, seed)``
always gives byte-identical values, so two runs with one seed measure the
same inputs and every seed gives tables of the same size.

    write_tables(out_dir, scale=0.01, seed=7)

``scale`` is the TPC-H scale factor: lineitem has ``6e6 * scale`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def table_sizes(scale: float) -> dict[str, int]:
    """Row count per table at a TPC-H scale factor."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, rng, span_days: int, n: int):
    return (np.datetime64(start, "us")
            + rng.integers(0, span_days, n).astype("timedelta64[D]"))


def _texts(rng, n: int) -> list[str]:
    """Documents of 10-100 words; 5% are a copy of an earlier document plus
    a trailing ``dup`` word (near duplicates) and 0.3% exact copies."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    vocab = np.array(WORDS)
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    near = rng.random(n) < 0.05
    exact = rng.random(n) < 0.003
    src = rng.integers(0, n, n)
    for i in range(1, n):
        j = int(src[i]) % i
        if near[i]:
            out[i] = out[j] + " dup"
        elif exact[i]:
            out[i] = out[j]
    return out


def make_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    size = table_sizes(scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    nc = size["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = size["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    np_ = size["part"]
    names = np.char.add(np.char.add(np.array(P_ADJ)[rng.integers(0, 8, np_)],
                                    " "),
                        np.array(P_NOUN)[rng.integers(0, 8, np_)])
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})

    no = size["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days("1995-01-01", rng, 2400, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    nl = size["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-02", rng, 2500, nl)})

    ne = size["events"]
    start = np.datetime64("2024-01-01", "us")
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, month_us, ne))
        .astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = size["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})

    nv = size["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.5, (10, EMBED_DIM))
    vec = rng.normal(0.0, 1.0, (nv, EMBED_DIM)) + centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
