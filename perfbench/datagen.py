"""Seeded fixture tables for the query workloads.

Writes the ten tables the catalog reads (``region`` … ``embeddings``)
as one parquet file each, one row group per file, with the schemas and
value distributions of the repo's synthetic fixtures (FIXTURES.md §A):
uniform keys and measures, TPC-H-style dimension vocabularies, an
``events`` stream with sorted microsecond timestamps and JSON ``props``,
word-soup ``documents`` with a few exact duplicates, and unit-norm
64-dimensional ``embeddings``.

The same ``(sf, seed)`` always gives byte-identical tables. Row counts
scale linearly with ``sf`` (``lineitem`` = 6,000,000 × sf), except that
``documents`` and ``embeddings`` never drop below 500 rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY_US = 86_400_000_000


def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _DAY_US


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    us = _epoch_us(lo) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables in memory; each table draws from its own stream so
    resizing one never shifts another's values."""
    n = row_counts(sf)
    streams = np.random.SeedSequence([seed, int(round(sf * 1_000_000))]).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r, k = rng["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
            "c_mktsegment": _pick(r, SEGMENTS, k),
        }
    )

    r, k = rng["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": pa.array(_money(r, k, -999.99, 9999.99)),
        }
    )

    r, k = rng["part"], n["part"]
    keys = np.arange(k, dtype=np.int64)
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(r, part_names, k),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
        }
    )

    r, k = rng["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n["customer"], k, dtype=np.int64)),
            "o_orderstatus": _pick(r, ("F", "O", "P"), k),
            "o_totalprice": pa.array(_money(r, k, 1000.0, 500_000.0)),
            "o_orderdate": _days(r, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(r, PRIORITIES, k),
        }
    )

    r, k = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], k, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n["part"], k, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, k, 900.0, 105_000.0)),
            "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(r, ("A", "N", "R"), k),
            "l_linestatus": _pick(r, ("F", "O"), k),
            "l_shipdate": _days(r, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )

    r, k = rng["events"], n["events"]
    start = _epoch_us(dt.date(2024, 1, 1))
    ts = np.sort(start + r.integers(0, 30 * _DAY_US, k))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, round(15_000 * sf)), k, dtype=np.int64)),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": pa.array(np.round(r.exponential(50.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
        }
    )

    r, k = rng["documents"], n["documents"]
    lens = r.integers(10, 101, k)
    words = r.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    # a few exact duplicates for the dedup families
    for i in r.choice(np.arange(1, k), max(1, k // 600), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(r, LANGS, k, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(k)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )

    r, k = rng["embeddings"], n["embeddings"]
    vec = r.standard_normal((k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(r.integers(0, 10, k), pa.int32()),
        }
    )
    return out


def write_fixtures(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` (one row group
    each); returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
            compression="snappy",
        )
        counts[name] = tbl.num_rows
    return counts
