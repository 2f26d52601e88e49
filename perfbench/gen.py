"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine reads (``io.TABLES``) with the
schemas and value domains of the shipped TPC-H-ish fixtures: uniform
keys, 2-decimal doubles, µs timestamps, a 30-word document vocabulary
with about 5 % near-duplicate documents, and 64-d label-clustered unit
embeddings. The same seed and sizes give byte-identical tables.

Each table is written as ONE parquet file with ONE row group, the
layout of the shipped sf0.1 fixtures, so every scan is a single task.
``split_parts`` also writes the TPC-H tables as directories of
part-files (the ``scripts/stress10x.py`` shape), so scans run as
several tasks.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "hot", "large", "red", "new", "small", "cold", "old")
P_NOUN = ("ring", "bolt", "anvil", "rod", "plate", "gear", "widget", "gizmo")
EVENT_TYPES = ("error", "signup", "purchase", "view", "click")
LANGS = ("en", "zh", "es", "fr", "de")
DIM = 64
# The tables come from one fixed seed, as the shipped fixtures do; a
# run's seed only assigns rows to files (``split_parts`` and the
# streaming ticks) and orders the ops.
TABLE_SEED = 42

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _days(rng, n, start, end):
    lo = (np.datetime64(start, "us") - _EPOCH).astype(np.int64) // _DAY_US
    hi = (np.datetime64(end, "us") - _EPOCH).astype(np.int64) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def tpch_tables(rng, sf: float) -> dict[str, pa.Table]:
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    i32 = pa.int32()
    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "P", "O"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ("N", "R", "A"), n_li),
            "l_linestatus": _pick(rng, ("O", "F"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "customer": customer,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """Events sorted by time over 30 days of 2024-01, ids sequential."""
    start = (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng, n: int, first_id: int = 0) -> pa.Table:
    """Random 10-100 word texts; about 5 % are an earlier text plus
    the word ``dup`` (near-duplicates for the dedup funnel)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(
    out_dir: str,
    seed: int,
    sf: float,
    n_events: int,
    n_docs: int,
    n_vecs: int,
) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; return bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, n_events, max(15, n_events // 66))
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    return {name: _write(out_dir, name, t) for name, t in tables.items()}


TPCH = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")


def split_parts(src_dir: str, out_dir: str, seed: int, n_parts: int) -> int:
    """Write each TPC-H table of ``src_dir`` as ``<table>.parquet/``
    holding ``n_parts`` part-files; the seed assigns rows to files.
    Returns the bytes written."""
    rng = np.random.default_rng(seed + 1)
    total = 0
    for name in TPCH:
        table = pq.read_table(f"{src_dir}/{name}.parquet")
        rows = rng.permutation(table.num_rows)
        dst = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(dst)
        for i, idx in enumerate(np.array_split(rows, min(n_parts, table.num_rows))):
            path = os.path.join(dst, f"part-{i:05d}.parquet")
            pq.write_table(table.take(np.sort(idx)), path)
            total += os.path.getsize(path)
    return total
