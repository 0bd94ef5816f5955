"""Sinks: overwrite (reference R15 TRUNCATE+reload) and insert-ignore
upsert (R12 ``INSERT … ON DUPLICATE KEY UPDATE hash=hash``,
/root/reference/app/salesforce_extractor.py:214-217,353-360) on a
parquet-backed table, plus a gated JDBC writer.

The upsert is the anti-join formulation: rows whose key already exists
in the target are silently dropped — exactly the reference's unique-
constraint semantics. Re-running the same batch is a no-op
(idempotence, the pipeline's core invariant).

Scale notes: the anti-join shuffles on the key; at 100 TB the target
side should be partitioned on the key prefix (``partition_cols``) so
only matching partitions are scanned (dynamic partition pruning), and
the key column should be the first sort column within files for
row-group skipping. With a Delta/Iceberg catalog this becomes
``MERGE WHEN NOT MATCHED THEN INSERT`` — same plan underneath.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def overwrite_parquet(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> int:
    """Full refresh (R15): replace the target atomically. The new rows
    are written to a hidden sibling staging dir; only once that write
    has completed is the old target renamed aside and the staging dir
    renamed into its place (local filesystem renames), so a write that
    fails leaves the old target whole. Spark's own overwrite would
    delete the target before its tasks run. Returns the rows written,
    counted by an observation on the write itself — no second listing
    and scan of the target."""
    parent, name = os.path.split(os.path.abspath(path))
    staging, old = (os.path.join(parent, f".{name}.{tag}") for tag in ("staging", "old"))
    written = Observation()
    w = df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(staging)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return written.get["n"]


def upsert_parquet(
    df: DataFrame,
    path: str,
    key: str = "hash",
    partition_cols: list[str] | None = None,
) -> dict:
    """Insert-ignore upsert (R12): append only rows whose ``key`` is
    absent from the target; duplicate keys inside the batch are
    collapsed first (dropDuplicates), mirroring the reference's unique
    constraint. Returns {"inserted": n, "skipped": m}."""
    spark = df.sparkSession
    # persist the INPUT: both the anti-join and the `total` count read
    # it, and re-executing the lineage would re-run the source — for a
    # REST-backed batch that means every page fetched over HTTP twice
    df = df.persist()
    batch = df.dropDuplicates([key])
    target_exists = _parquet_exists(spark, path)
    if target_exists:
        target_keys = spark.read.parquet(path).select(key)
        new_rows = batch.join(target_keys, key, "left_anti")
    else:
        new_rows = batch
    new_rows = new_rows.cache()
    try:
        inserted = new_rows.count()
        if inserted:
            w = new_rows.write.mode("append")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(path)
        total = df.count()
        return {"inserted": inserted, "skipped": total - inserted}
    finally:
        new_rows.unpersist()
        df.unpersist()


def _parquet_exists(spark: SparkSession, path: str) -> bool:
    if os.path.exists(path):  # local fs fast path
        entries = os.listdir(path)
        if any(n.endswith(".parquet") or n == "_SUCCESS" for n in entries):
            return True
        if not entries:
            return False
        # a partitioned target has only partition=value/ dirs at the top
        # level (and possibly no _SUCCESS marker) — fall through to a
        # real schema probe rather than wrongly skipping the anti-join
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 2500,
    truncate: bool = False,
    properties: dict | None = None,
    column_types: str | None = None,
) -> None:
    """JDBC sink (R12/R15/R18): batch size defaults to the reference's
    2500 (:296); ``truncate=True`` + overwrite gives R15 semantics
    without dropping the table. ``column_types`` is Spark's
    ``createTableColumnTypes`` string (build it with
    ``jdbc_merge.create_table_column_types``) so Spark-created tables
    declare the reference's exact column widths
    (salesforce_extractor.py:62-76) instead of the dialect default
    TEXT/CLOB. Requires a JDBC driver jar on the classpath — absent in
    this environment, so this is exercised only when one is present."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("truncate", str(truncate).lower())
        .mode(mode)
    )
    if column_types:
        writer = writer.option("createTableColumnTypes", column_types)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def scd1_merge(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    version_col: str | None = None,
) -> DataFrame:
    """SCD type-1 merge (last-write-wins): rows from ``updates`` replace
    same-key rows in ``target``; unmatched target rows pass through.

    In-batch ties on the key resolve DETERMINISTICALLY: highest
    ``version_col`` wins when given, otherwise the row that sorts last
    across the non-key columns (a canonical pick — dropDuplicates would
    keep whichever row a partition visits first, so reruns could flip
    the surviving value).

    This is the plan-level MERGE ... WHEN MATCHED THEN UPDATE — one
    anti-join (co-partitioned on the key) + a union, no full outer join
    needed because updates carry complete rows. Complements
    upsert_parquet (insert-ignore, R12) and the q87 SCD2 history
    builder: same key semantics, destructive instead of versioned."""
    from pyspark.sql.window import Window

    order_cols = [version_col] if version_col else [
        c for c in updates.columns if c != key
    ]
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc_nulls_last() for c in order_cols])
    u = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = target.join(u.select(key), key, "left_anti")
    return kept.unionByName(u)


COMPACTION_TARGET_BYTES = 4 * 1024 * 1024


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_bytes: int = COMPACTION_TARGET_BYTES,
) -> int:
    """Rewrite a fragmented parquet dir to ceil(total/target) files via
    coalesce() — a NARROW merge of input splits, no shuffle: compaction
    must not pay a full exchange just to glue files together. Returns
    the output file count. Size probing is driver-side local-FS (the
    /tmp materialization path); an object-store deployment swaps in a
    listStatus sum."""
    import os

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    n_out = int(max(1, -(-total // target_bytes)))
    spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(dst)
    return n_out
