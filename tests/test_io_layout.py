"""``io.table``'s scan layout: a table with fewer row groups than the
session's ``defaultParallelism`` is served as ``min(rows,
defaultParallelism)`` contiguous parquet slices with the same schema and
rows as the source, ``events.ts`` is normalized inside that copy, and a
table that already has enough row groups is read in place."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from marketingcloud_etl_spark.io import TABLES, table

_EVENTS_CONF = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
)


def _source_read(spark, sf_dir: str, name: str, tmp: str):
    """The table as a plain read of its source file; ``events`` with the
    ts normalization the loader has always applied (raw nanos truncated
    by ``div 1000``; naive micros read as UTC instants), materialized
    while the two session confs it needs are held."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(src)
    prev = {k: spark.conf.get(k, None) for k, _ in _EVENTS_CONF}
    for k, v in _EVENTS_CONF:
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(src)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        df.write.parquet(tmp)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.read.parquet(tmp)


def _assert_same_table(got, want) -> None:
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.parametrize("name", TABLES)
def test_table_matches_its_source(spark, sf_dir, tmp_path, name):
    _assert_same_table(table(spark, sf_dir, name), _source_read(spark, sf_dir, name, str(tmp_path / "ref")))


_BASE_US = 1_705_000_000_000_000  # 2024-01-11T19:06:40Z


@pytest.mark.parametrize(
    "ts_type, raw, want_us",
    [
        # nanoseconds with sub-microsecond digits: truncated, not rounded
        (
            pa.timestamp("ns"),
            [_BASE_US * 1000 + 999, _BASE_US * 1000 + 1_001, _BASE_US * 1000 + 123_456_789],
            [_BASE_US, _BASE_US + 1, _BASE_US + 123_456],
        ),
        # naive microseconds: the stored value is the UTC instant
        (
            pa.timestamp("us"),
            [_BASE_US, _BASE_US + 1, _BASE_US + 86_400_000_000],
            [_BASE_US, _BASE_US + 1, _BASE_US + 86_400_000_000],
        ),
    ],
    ids=["nanos", "naive_micros"],
)
def test_events_ts_generations(spark, tmp_path, ts_type, raw, want_us):
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(raw)), pa.int64()),
                "ts": pa.array(raw, ts_type),
                "event_type": pa.array(["view"] * len(raw)),
            }
        ),
        str(sf / "events.parquet"),
    )
    got = table(spark, str(sf), "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    rows = got.select("event_id", F.unix_micros("ts").alias("us")).orderBy("event_id").collect()
    assert [r.us for r in rows] == want_us
    _assert_same_table(got, _source_read(spark, str(sf), "events", str(tmp_path / "ref")))


@pytest.mark.parametrize("name", ["region", "orders", "lineitem", "events"])
def test_copy_is_one_contiguous_slice_per_slot(spark, sf_dir, name):
    slots = spark.sparkContext.defaultParallelism
    src = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
    df = table(spark, sf_dir, name)
    files = sorted(df.inputFiles())
    n = min(src.num_rows, slots)
    assert len(files) == n
    assert df.rdd.getNumPartitions() == n
    slices = [pq.read_table(urlparse(f).path) for f in files]
    assert max(s.num_rows for s in slices) - min(s.num_rows for s in slices) <= 1
    # in file order the slices are the source rows in source order:
    # each file holds one contiguous range and no two ranges overlap
    key = src.column_names[0]
    want = src.column(key).to_pylist()
    pos = 0
    for s in slices:
        assert s.column(key).to_pylist() == want[pos : pos + s.num_rows]
        pos += s.num_rows
    assert pos == src.num_rows


def test_table_with_enough_row_groups_is_read_in_place(spark, sf_dir, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    src = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    wide = tmp_path / "wide"
    wide.mkdir()
    path = str(wide / "orders.parquet")
    pq.write_table(src, path, row_group_size=-(-src.num_rows // slots))
    assert pq.read_metadata(path).num_row_groups >= slots
    df = table(spark, str(wide), "orders")
    assert [urlparse(f).path for f in df.inputFiles()] == [path]
    _assert_same_table(df, spark.read.parquet(os.path.join(sf_dir, "orders.parquet")))
