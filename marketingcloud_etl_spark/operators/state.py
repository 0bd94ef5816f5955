"""Persisted state tables: the owner of the bucket-index protocol and
of the fresh-generation rule, and the generic maintenance passes.

The incremental family (q388 minhash bands, q389 semantic cells, q390
BM25 postings, q391 component labels) persists id-keyed parquet state
that batches probe and append to. The minhash band index
(operators/dedup.py) and the semantic cell index
(operators/semantic_dedup.py) share one shape — ``(id, bucket keys...,
fingerprint)`` rows partitioned on one column — and each describes its
layout once, as a :class:`BucketLayout` beside its builder. The write,
the schema-pinned read, the probe, the probe-then-append step and the
compaction of both live here.

Every maintenance pass — :func:`compact_bucket_index`, BM25's
compaction (operators/retrieval.py) and :func:`erase_from_state` —
writes through :func:`write_generation`, which enforces the
fresh-generation rule: the output is a new dir, never the state it was
derived from. Compaction drops rows by PREDICATE (TTL / retention; one
partition-keyed shuffle, one file per partition). Erasure drops them by
TOMBSTONE FRAME — a takedown / right-to-erasure list of ids arriving
as data — with a broadcast LEFT ANTI join: NARROW over the state files
(zero shuffle of the state table), layout preserved file-for-file.

Reference parity: the reference has no deletion path at all (its sink
is insert-ignore, `/root/reference/app/salesforce_extractor.py:296`);
this is the lifecycle operation a persisted-state engine needs that a
run-once ETL script does not.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class BucketLayout(NamedTuple):
    """One persisted bucket index: rows ``(id, *keys, fp)`` partitioned
    on ``partition``. ``keys`` are the probe's join keys (they include
    ``partition``, so a probe prunes partitions), ``fp`` the exact
    verify column, ``schema`` the DDL every read pins."""

    partition: str
    keys: tuple[str, ...]
    fp: str
    schema: str


def write_bucket_index(
    rows: DataFrame, layout: BucketLayout, path: str, mode: str = "errorifexists"
) -> None:
    """Write index rows at ``path`` (``mode="append"`` extends a
    state): one shuffle keyed on the partition column, so each
    partition gets one writer (one file) instead of one per task."""
    rows.repartition(layout.partition).write.mode(mode).partitionBy(
        layout.partition
    ).parquet(path)


def read_bucket_index(spark, layout: BucketLayout, path: str) -> DataFrame:
    """The index at ``path`` with the layout's schema pinned, so no read
    (one per micro-batch in the streaming loops) pays footer inference."""
    return spark.read.schema(layout.schema).parquet(path)


def probe_bucket_rows(
    batch_rows: DataFrame,
    index: DataFrame,
    layout: BucketLayout,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup PREBUILT batch index rows against ``index``: per batch id
    (id, n_candidates, is_dup, dup_of) — candidates share ≥1 bucket
    key tuple, ``is_dup`` is exact fingerprint equality, ``dup_of`` the
    lowest matching index id (null when new).

    PRECONDITION: ``id`` is UNIQUE within the batch — a duplicated id
    crosses one item's buckets with the other's fingerprint and the
    per-id aggregation merges both into one wrong row (q388/q389 negate
    re-ingest ids so they never meet a genuine id).

    Scale shape: the only join is bucket-keyed with the batch broadcast
    (a batch is orders of magnitude smaller than the index), so the
    index is scanned map-side and never shuffled; pass
    ``broadcast_batch=False`` when the batch rivals the index."""
    keys = list(layout.keys)
    bfp = batch_rows.select(
        F.col("id").alias("__id"), F.col(layout.fp).alias("__bfp")
    ).distinct()
    probe = batch_rows.select(
        F.col("id").alias("__id"), *keys, F.col(layout.fp).alias("__bfp")
    )
    if broadcast_batch:
        probe = F.broadcast(probe)
    cand = probe.join(
        index.select(
            *keys, F.col("id").alias("__cid"), F.col(layout.fp).alias("__cfp")
        ),
        keys,
    )
    hits = cand.groupBy("__id").agg(
        F.count_distinct("__cid").alias("n_candidates"),
        F.max(F.col("__bfp") == F.col("__cfp")).alias("is_dup"),
        F.min(F.when(F.col("__bfp") == F.col("__cfp"), F.col("__cid"))).alias("dup_of"),
    )
    return bfp.join(hits, "__id", "left").select(
        F.col("__id").alias("id"),
        F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        "dup_of",
    )


def probe_then_append(
    spark, layout: BucketLayout, batch_rows: DataFrame, state_dir: str
) -> DataFrame:
    """One step of the incremental loop: probe the state at
    ``state_dir`` with the batch's prebuilt rows, then APPEND the
    survivors' subset of the same rows (no second signature pass).
    Returns the probe result, checkpointed eagerly before the append
    grows the state it read."""
    index = read_bucket_index(spark, layout, state_dir)
    res = probe_bucket_rows(batch_rows, index, layout).localCheckpoint(eager=True)
    survivors = batch_rows.join(res.filter(~F.col("is_dup")).select("id"), "id")
    write_bucket_index(survivors, layout, state_dir, mode="append")
    return res


def write_generation(
    frame: DataFrame,
    state_dir: str,
    out_dir: str,
    partition_col: str | None = None,
) -> None:
    """The one writer of every maintenance pass: ``frame``, derived from
    the state at ``state_dir``, lands at ``out_dir`` as a FRESH
    generation. An ``out_dir`` that resolves to ``state_dir`` is
    rejected — the overwrite would destroy the state mid-read and race
    concurrent probes; realpath, so a SYMLINKED alias is caught too.
    Overwrite mode lets a retried pass reuse its UNPUBLISHED scratch
    dir; a dir published via sinks/manifest.py is immutable and must
    never be a target again."""
    if os.path.realpath(out_dir) == os.path.realpath(state_dir):
        raise ValueError(
            "maintenance passes write a FRESH generation dir: "
            f"out_dir must differ from state_dir ({state_dir!r})"
        )
    writer = frame.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(out_dir)


def compact_bucket_index(
    spark,
    layout: BucketLayout,
    state_dir: str,
    out_dir: str,
    keep: Column | None = None,
) -> DataFrame:
    """MAINTENANCE pass for a bucket index: rewrite an append-grown
    index (one small file per partition per probed batch) into ONE
    file per partition at the fresh generation ``out_dir``, dropping
    rows that fail ``keep`` (TTL / retention) before the one
    partition-keyed shuffle — never the corpus text or vectors.
    Returns the compacted index. Probing it equals probing the
    original minus matches against dropped rows (pinned in
    tests/test_operators.py for both layouts)."""
    idx = read_bucket_index(spark, layout, state_dir)
    if keep is not None:
        idx = idx.filter(keep)
    write_generation(
        idx.repartition(layout.partition), state_dir, out_dir, layout.partition
    )
    return read_bucket_index(spark, layout, out_dir)


def erase_from_state(
    spark,
    state_dir: str,
    out_dir: str,
    tombstones: DataFrame,
    id_col: str = "id",
    partition_col: str | None = None,
) -> DataFrame:
    """Rewrite the state at ``state_dir`` into ``out_dir`` with every
    row whose ``id_col`` appears in ``tombstones`` removed.

    ``tombstones`` must have exactly one column (any name): the ids to
    erase. It is broadcast, so the anti-join is map-side — the state
    table itself is never shuffled, and with ``partition_col`` set the
    partitioned layout survives file-for-file (each input file's
    surviving rows write back to the same partition; an already
    compacted one-file-per-partition state stays one file per
    partition).

    Erasure semantics the caller must understand (pinned by q399's
    oracle): deleting a doc's STATE ROWS removes that doc id from the
    index, but content-identical twins that were indexed under other
    ids still match future probes — removing *content* requires
    tombstoning every id that carries it. That is the correct
    behaviour for id-keyed takedown (erase THIS record), and the q399
    battery verifies both sides of it.

    Scale shape: tombstone lists (takedown orders, GDPR requests) are
    orders of magnitude smaller than the state — broadcast anti-join
    beats the compaction shuffle whenever the erasure list fits in a
    broadcast, which is the steady case; fall back to
    :func:`compact_bucket_index` with a ``keep`` predicate when it
    does not. Writes through :func:`write_generation`."""
    tname = tombstones.columns
    if len(tname) != 1:
        raise ValueError(f"tombstones must have exactly one column, got {tname}")
    tomb = tombstones.select(F.col(tname[0]).alias(id_col)).distinct()
    state = spark.read.parquet(state_dir)
    kept = state.join(F.broadcast(tomb), id_col, "left_anti")
    write_generation(kept, state_dir, out_dir, partition_col)
    return spark.read.parquet(out_dir)


def signed_view_merge(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: list[str],
) -> DataFrame:
    """Merge a SIGNED aggregate delta into a maintained view — the
    retraction algebra (differential-dataflow / DBSP convention) that
    turns insert-only view maintenance into full CDC maintenance:
    ``state`` and ``delta`` both carry ``keys + measures`` where every
    measure is a sign-weighted sum (+1 rows for inserts, −1 for
    deletes, already aggregated). The merge is ONE keyed additive
    aggregation, and ``measures[0]`` is BY CONVENTION the support
    count: groups whose maintained support reaches zero are dropped —
    a sum alone cannot distinguish 'zero total' from 'gone', which is
    why retraction-aware views must always maintain a count.

    Negative maintained support means the delta deleted rows the state
    never contained (a CDC ordering bug); it is filtered like zero
    here, and q406's oracle would hash-mismatch if it ever happened.

    Scale: state and delta are group-domain-bounded; the merge
    shuffles only those rows. The base fact is never touched."""
    return (
        state.unionByName(delta)
        .groupBy(*keys)
        .agg(*[F.sum(m).cast("bigint").alias(m) for m in measures])
        .filter(F.col(measures[0]) > 0)
    )
