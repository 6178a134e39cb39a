"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (TPC-H-shaped star schema, ``events``,
``documents``, ``embeddings``) as one parquet file each, with the same
column names, types and value domains the engine's queries and their
DuckDB oracles are written against.  Everything is a pure function of
``(seed, scale)``: the same arguments give byte-identical row content.

``scale`` follows TPC-H's scale factor: at ``scale=0.01`` lineitem has
about 60k rows.  Only numpy and pyarrow are used, so generation needs no
Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
EVENTS_START = np.datetime64("2024-01-01", "us")
EVENTS_SPAN_DAYS = 30


def table_rows(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (never below a usable minimum)."""
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(20, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(200, int(50_000 * scale)),
        "embeddings": max(200, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = (np.datetime64(first, "us") - _EPOCH_1995) // np.timedelta64(1, "D")
    hi = (np.datetime64(last, "us") - _EPOCH_1995) // np.timedelta64(1, "D")
    d = rng.integers(lo, hi + 1, n)
    return _EPOCH_1995 + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, start=EVENTS_START,
                 first_id: int = 0) -> pa.Table:
    """``n`` events in event-time order over a 30-day span from ``start``."""
    gaps = rng.exponential(1.0, n)
    pos = np.cumsum(gaps)
    us = (pos / pos[-1] * (EVENTS_SPAN_DAYS * _DAY_US - 1)).astype(np.int64)
    ts = start + us.astype("timedelta64[us]")
    n_users = max(150, n // 67)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.gamma(1.2, 40.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is a near-duplicate of an
    earlier document (one word replaced, `` dup`` appended)."""
    texts: list[str] = []
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around one centroid per label."""
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centroids[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": _i32(labels),
        }
    )


def generate_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    nl = no * 4
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": _i32(rng.integers(0, 25, nc)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": _i32(rng.integers(0, 25, ns)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": _i32(rng.integers(1, 51, npart)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
            ),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": _i32(rng.integers(1, 8, nl)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
        }
    )
    t["events"] = events_table(rng, n["events"])
    t["documents"] = documents_table(rng, n["documents"])
    t["embeddings"] = embeddings_table(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
