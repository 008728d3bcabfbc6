"""Seeded synthetic inputs with the shape of the engine's fixture tables.

The queries read ten parquet tables (``region nation customer supplier
part orders lineitem events documents embeddings``). This module writes
them from a seed so a run depends on nothing outside the checkout: the
same seed and scale give byte-identical files. Column names, types and
value ranges follow the engine's fixtures (uniform keys and measures,
dates in 1995-2001, a month of events, a 30-word document vocabulary
with ~5% near-duplicates, unit 64-d embeddings in 10 weak clusters), so
every query's filters, joins and guards see the data they were written
for. Row counts scale like TPC-H: lineitem has 6M x ``sf`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    us = base + rng.integers(0, n_days + 1, n) * _DAY_US
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = round(150_000 * sf), max(10, round(10_000 * sf))
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_ev = round(6_000_000 * sf), round(1_000_000 * sf)
    n_users = max(10, round(15_000 * sf))
    n_docs, n_vecs = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line),
    })
    # events: a month of increasing timestamps with sub-second jitter
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    step = 30 * _DAY_US // n_ev
    ts = start + np.arange(n_ev) * step + rng.integers(0, step, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), rng.integers(10, 101))])
             for _ in range(n_docs)]
    # ~5% near-duplicates: an earlier document plus one extra token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) + 0.25 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write one ``<name>.parquet`` per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
