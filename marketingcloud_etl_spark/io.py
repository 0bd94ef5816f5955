"""Fixture-table loaders.

All ten tables from TESTDATA.md / FIXTURES.md, loaded as plain parquet
scans so Catalyst gets full predicate-pushdown + column-pruning freedom.

Scan parallelism is decided here and nowhere else. Spark splits parquet
on row groups, so a table with fewer row groups than the session's
``defaultParallelism`` would scan on fewer tasks than there are cores
(every fixture file is one row group: one task, whatever the core
count). Such a table is served from a per-process copy of
``min(rows, defaultParallelism)`` parquet files, each a contiguous
slice of the source rows in source order, so the scan itself runs on
every core and no operator needs an exchange to spread it. A table
with at least ``defaultParallelism`` row groups is read in place.
``events`` always goes through the copy, which normalizes its ``ts``
column (see :func:`_normalize_events`).

Every file a catalog query writes goes through :func:`query_state`
(build-once artifacts: layout copies, indexes, replay feeds) or
:func:`scratch_dir` (one call's outputs and checkpoints); they are the
only on-disk state the package keeps. Both live under one root that
is private to the process and removed when it exits. A state's
content depends on the fixture's bytes and on the code that built it,
but it is keyed on the fixture's path only, so a dir shared across
processes could serve a rewritten fixture, or an older checkout's
output, without a sign. Within one process the path key holds as long
as the fixture is not rewritten while the process runs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

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

__all__ = [
    "TABLES",
    "table",
    "query_state",
    "scratch_dir",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    src = os.path.join(sf_dir, f"{name}.parquet")
    slots = spark.sparkContext.defaultParallelism
    if not os.path.exists(src):
        # not a local file: Spark reads it (or raises PATH_NOT_FOUND)
        return spark.read.parquet(src)
    if name != "events" and _row_groups(src) >= slots:
        return spark.read.parquet(src)

    def build(out: str) -> None:
        t = pq.read_table(src)
        _write_slices(_normalize_events(t) if name == "events" else t, out, slots)

    path, _ = query_state(f"{name}.parquet", sf_dir, build)
    return spark.read.parquet(path)


def _row_groups(src: str) -> int:
    return sum(f.metadata.num_row_groups for f in ds.dataset(src, format="parquet").get_fragments())


def _write_slices(t: pa.Table, out: str, slots: int) -> None:
    """Write ``t`` to ``out`` as ``min(rows, slots)`` parquet files (at
    least one), file ``i`` holding the ``i``-th contiguous slice of the
    rows in order."""
    n = max(1, min(t.num_rows, slots))
    for i in range(n):
        lo, hi = i * t.num_rows // n, (i + 1) * t.num_rows // n
        pq.write_table(t.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet"))


def _normalize_events(t: pa.Table) -> pa.Table:
    """``events.ts`` as a UTC-instant microsecond timestamp, robust to
    both fixture generations:

     - TIMESTAMP(NANOS), which Spark's reader rejects: truncated to
       micros, identical to DuckDB's ns→us truncation, so oracle
       comparisons stay exact;
     - naive TIMESTAMP(MICROS), which Spark would read as
       TIMESTAMP_NTZ (rejected by unix_micros() and watermarks): the
       stored micros kept as UTC epoch instants, what DuckDB's naive
       read shows under the UTC session timezone prep() pins.

    (Sandbox-fixture shim: a production deployment writes the table
    timestamp-correct once and never needs this.)"""
    i = t.schema.get_field_index("ts")
    ts = t.column(i).cast(pa.timestamp("us", tz="UTC"), safe=False)
    return t.set_column(i, "ts", ts)


def fixture_tag(sf_dir: str) -> str:
    """Identifier-safe cache tag for a fixture dir, keyed on the FULL
    absolute path: two trees with the same leaf name (/a/sf0.1 vs
    /b/sf0.1) must never share a query state or a catalog table name.
    The leaf stays in the tag for human readability."""
    import hashlib

    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    leaf = os.path.basename(abs_dir).replace(".", "_")
    return f"{leaf}_{hashlib.sha1(abs_dir.encode()).hexdigest()[:10]}"


# Per-query state: where it lives, what keys it, how it appears
# atomically and when it is removed are decided here and nowhere else.
_STATE_ROOT: str | None = None
_STATES: dict[tuple[str, str], tuple[str, object]] = {}
_STATE_LOCK = threading.RLock()


def _remove_state_root(root: str, owner: int) -> None:
    # a forked child inherits the atexit hook; only the creator removes
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def _state_root() -> str:
    """The per-process dir every query state and scratch dir lives
    under: created on first use, removed when the interpreter exits
    (the module docstring says why it is not shared across processes)."""
    global _STATE_ROOT
    with _STATE_LOCK:
        if _STATE_ROOT is None:
            root = tempfile.mkdtemp(prefix="mcetl_state_")
            atexit.register(_remove_state_root, root, os.getpid())
            _STATE_ROOT = root
        return _STATE_ROOT


def query_state(name: str, sf_dir: str, build) -> tuple[str, object]:
    """Memoized per-process state of query ``name`` over fixture
    ``sf_dir``; returns ``(dir, value)``.

    On the first call, or once ``dir`` has gone, ``build(d)`` writes
    the state's files under ``d`` and returns any Python value the
    state carries (a codebook, a merge list; ``None`` for file-only
    states). ``d`` is an empty tmp sibling that is renamed into place
    after a top-level ``_SUCCESS`` marker is written (multi-table
    states have no Spark marker at their top), so a build that raises
    leaves nothing behind and the next call builds again. Because of
    the rename, nothing ``build`` persists may embed ``d`` itself —
    store paths relative to it. Keyed on :func:`fixture_tag`, so every
    spelling of one fixture path shares one state. The root is private
    to the process and the registry lock is held across the build, so
    no other writer can race it."""
    key = (name, fixture_tag(sf_dir))
    with _STATE_LOCK:
        hit = _STATES.get(key)
        if hit is None or not os.path.exists(os.path.join(hit[0], "_SUCCESS")):
            path = os.path.join(_state_root(), f"{name}_{key[1]}")
            tmp = f"{path}.tmp"
            os.makedirs(tmp)
            try:
                value = build(tmp)
                open(os.path.join(tmp, "_SUCCESS"), "w").close()
                os.rename(tmp, path)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            hit = _STATES[key] = (path, value)
        return hit


def scratch_dir(name: str) -> str:
    """A fresh empty dir for one call of query ``name`` (replay copies,
    stream checkpoints, sink outputs). It shares the per-process root
    with :func:`query_state` and is removed with it at exit, not at
    return: the caller's result may be a lazy frame still reading it."""
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_state_root())
