"""Skew-mitigation utilities for 100 TB joins (SURVEY.md §4).

AQE's skew-join splitting handles most cases
(spark.sql.adaptive.skewJoin.enabled, on in session.get_spark); this
helper covers the remaining one — a hot key on the *build* side of a
shuffle join — by salting: the skewed side gets a random salt in
[0, n), the small side is exploded n× so every salted key still finds
its match. Result equality is exact; only the partitioning changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join_key(
    skewed: DataFrame,
    replicated: DataFrame,
    n_salts: int = 16,
    salt_col: str = "__salt",
):
    """Return (skewed', replicated') with an extra salt column to join
    on alongside the key: each skewed row gets one deterministic salt
    (hash of the whole row — per-ROW, not per-key, since the point is
    to split a hot key's rows apart; re-runs partition identically);
    replicated rows are duplicated across all salts."""
    skewed_s = skewed.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salts)).cast("int")
    )
    replicated_s = replicated.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return skewed_s, replicated_s


def salted_count_distinct(
    df: DataFrame,
    key_cols: Sequence[str],
    distinct_col: str,
    n_salts: int = 16,
    out: str = "n_distinct",
) -> DataFrame:
    """Skew-safe COUNT(DISTINCT distinct_col) GROUP BY key_cols.

    The salt is a hash of the DISTINCT VALUE, so each (key, salt) cell
    owns a disjoint slice of the key's distinct values and the final
    per-key result is the exact sum of the partial distinct counts —
    no double counting by construction. A Zipf-hot key (a stopword
    token in a corpus-wide document-frequency count) fans its distinct
    set across ``n_salts`` reducers instead of landing on one, and the
    final shuffle carries at most ``n_salts`` pre-aggregated rows per
    key. Result equality with the unsalted form is exact
    (tests/test_operators.py::test_salted_count_distinct_zipf).
    """
    keys = list(key_cols)
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salts)).cast("int")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count_distinct(distinct_col).alias("__pd"))
    )
    return partial.groupBy(*keys).agg(F.sum("__pd").cast("long").alias(out))
