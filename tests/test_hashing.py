"""Golden values for the cross-engine digest format (functions/hashing.py).

``content_hash`` is persisted in ETL targets as the dedup key, so a
drift in its encoding would silently stop an incremental run from
recognising rows it already holds. Each twin — Column, Spark SQL text,
DuckDB SQL text — is pinned here against a pure-Python ``hashlib``
reference on edge values: NULL, the empty string, a value holding the
separator, a value that looks like a length prefix, and non-ASCII text
(the length prefix counts characters, not bytes).
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from marketingcloud_etl_spark.functions.hashing import (
    checksum_half_sums,
    checksum_half_sums_sql,
    content_hash,
    content_hash_sql,
)

EDGE = [None, "", "a\x1fb", "3:ab", "é🦆"]
PAIRS = [("a\x1fb", "c"), ("a", "b\x1fc"), (None, ""), ("", None), ("3:ab", "é🦆")]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def ref_content_hash(values) -> str:
    parts = []
    for v in values:
        s = "\x00NULL\x00" if v is None else v
        parts.append(f"{len(s)}:{s}")
    return _md5("\x1f".join(parts))


def ref_hex_int(hex_str: str, start: int = 1, digits: int = 8) -> int:
    return int(hex_str[start - 1 : start - 1 + digits], 16)


def _duck_rows(sql: str, rows, cols: str):
    con = duckdb.connect()
    names = [c.split()[0] for c in cols.split(",")]
    con.execute(f"CREATE TABLE t ({cols})")
    if rows:
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' for _ in names)})", rows)
    out = con.execute(sql).fetchall()
    con.close()
    return out


def test_reference_encoding_is_injective_and_null_distinct():
    assert ref_content_hash(["a\x1fb", "c"]) != ref_content_hash(["a", "b\x1fc"])
    assert ref_content_hash([None]) != ref_content_hash([""])
    assert ref_content_hash(["é🦆"]) == _md5("2:é🦆")
    # a literal pin of the reference itself, so the reference cannot drift either
    assert ref_content_hash(["3:ab"]) == _md5("4:3:ab")


def test_content_hash_twins_match_reference(spark):
    want_one = [ref_content_hash([v]) for v in EDGE]
    want_two = [ref_content_hash(p) for p in PAIRS]

    df = spark.createDataFrame([(i, v) for i, v in enumerate(EDGE)], "i int, v string")
    got = [r.h for r in df.orderBy("i").select(content_hash(["v"], alias="h")).collect()]
    assert got == want_one
    df2 = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(PAIRS)], "i int, a string, b string")
    got2 = [r.h for r in df2.orderBy("i").select(content_hash([F.col("a"), "b"], alias="h")).collect()]
    assert got2 == want_two

    duck = _duck_rows(
        f"SELECT {content_hash_sql(['v'])} FROM t ORDER BY i",
        list(enumerate(EDGE)),
        "i INTEGER, v VARCHAR",
    )
    assert [r[0] for r in duck] == want_one
    duck2 = _duck_rows(
        f"SELECT {content_hash_sql(['a', 'b'])} FROM t ORDER BY i",
        [(i, a, b) for i, (a, b) in enumerate(PAIRS)],
        "i INTEGER, a VARCHAR, b VARCHAR",
    )
    assert [r[0] for r in duck2] == want_two


def test_half_sum_twins_match_reference(spark):
    digests = [ref_hex_int(_md5(v)) for v in EDGE if v is not None] + [0, 2**32 - 1]
    want = (sum(d & 65535 for d in digests), sum(d >> 16 for d in digests))

    df = spark.createDataFrame([(d,) for d in digests], "d bigint")
    row = df.agg(*checksum_half_sums(F.col("d"))).collect()[0]
    assert (row.checksum_lo, row.checksum_hi) == want
    row = df.agg(*checksum_half_sums(F.col("d"), lo="x", hi="y")).collect()[0]
    assert (row.x, row.y) == want

    duck = _duck_rows(
        f"SELECT {checksum_half_sums_sql('d')} FROM t", [(d,) for d in digests], "d BIGINT"
    )
    assert tuple(duck[0]) == want


@pytest.mark.parametrize("start,digits", [(1, 8), (9, 8), (1, 4), (5, 4), (1, 15), (18, 15)])
def test_hex_int_twins_match_reference(spark, start, digits):
    from marketingcloud_etl_spark.functions.hashing import hex_int, hex_int_expr, hex_int_sql

    values = [v for v in EDGE if v is not None]
    want = [ref_hex_int(_md5(v), start, digits) for v in values]

    df = spark.createDataFrame(list(enumerate(values)), "i int, v string").orderBy("i")
    got_col = [r[0] for r in df.select(hex_int(F.md5("v"), start, digits)).collect()]
    got_expr = [r[0] for r in df.select(F.expr(hex_int_expr("md5(v)", start, digits))).collect()]
    assert got_col == got_expr == want
    assert df.select(hex_int(F.md5("v"), start, digits)).dtypes[0][1] == "bigint"

    duck = _duck_rows(
        f"SELECT {hex_int_sql('md5(v)', start, digits)} FROM t ORDER BY i",
        list(enumerate(values)),
        "i INTEGER, v VARCHAR",
    )
    assert [r[0] for r in duck] == want


def test_hex_int_rejects_digits_that_overflow_bigint():
    from marketingcloud_etl_spark.functions.hashing import hex_int, hex_int_expr, hex_int_sql

    for twin in (hex_int, hex_int_expr, hex_int_sql):
        with pytest.raises(ValueError, match="digits"):
            twin("md5(v)", 1, 16)
        with pytest.raises(ValueError, match="digits"):
            twin("md5(v)", 1, 0)
