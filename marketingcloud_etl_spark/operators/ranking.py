"""Distributed global ranking — scale-safe ``row_number``/``ntile``
over a total order WITHOUT a single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` moves every row into ONE
task (Spark plans ``Exchange SinglePartition``): fine on a 50-row frame,
fatal on 10^9 customers. The classic two-phase distributed ranking used
here keeps every stage parallel:

1. ``repartitionByRange`` on the sort key — Spark's sampled range
   partitioner, the same machinery a distributed ``ORDER BY`` uses, so
   partition p holds exactly the keys between boundary p-1 and p.
2. Per-partition local ``row_number`` (window partitioned by the range
   partition id — each range bucket is one window group, so the sort
   parallelizes across buckets).
3. Per-partition row counts -> cumulative start offsets (and the grand
   total) via a broadcast self-join of the counts frame — P² rows with
   P <= ``spark.sql.shuffle.partitions``, never data-sized, and no
   single-partition stage anywhere in the plan.
4. global row_number = offset(partition) + local row_number, joined back
   by broadcast.

``ntile`` then needs no extra pass: with N total rows and n buckets,
q = N div n and r = N mod n, SQL ntile gives the first r buckets q+1
rows and the rest q — a pure expression over the global row number.

The input is persisted because the offsets subtree and the ranked
subtree both read the range-shuffled data; without the pin the range
exchange would run twice (and ``spark_partition_id`` must be observed on
ONE physical materialization).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

__all__ = [
    "COUNT_COL",
    "TOTAL_COL",
    "global_row_number",
    "distributed_ntile",
    "global_prefix_sum",
    "global_prefix_max",
    "grouped_quantile_cont",
    "grouped_quantile_from_bounded_counts",
    "pin_cache",
    "release_ranking_caches",
    "release_sticky_caches",
]

_PID = "__mcetl_pid"
_LRN = "__mcetl_lrn"
_OFF = "__mcetl_off"
_N = "__mcetl_n"

# Public name of the grand-total column that global_row_number /
# global_prefix_sum attach when called with_total=True. Query plans
# that consume the total (q228 Pareto, q322 ABC×XYZ) must reference
# this constant, never the string literal — the literal is an internal
# layout detail free to change.
TOTAL_COL = _N

# Public name of the per-(group, value) count column on the frame
# grouped_quantile_cont hands back with return_counts=True (q365's
# fence tallies) — same never-the-literal rule as TOTAL_COL.
COUNT_COL = "__qc_cnt"

# The one registry of pinned frames: every multi-consumer frame a
# query persists goes through pin_cache and stays here until the next
# release_ranking_caches().
_PINNED: list[DataFrame] = []


def pin_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next
    :func:`release_ranking_caches` — the one place a catalog query or
    operator persists a multi-consumer frame (ranking partitions, LSH
    bucket tables, gram and bigram streams, quantile counts). Without
    the registry each query would leave its MEMORY_AND_DISK blocks
    pinned for the session lifetime, and a long sweep slowly squeezes
    execution memory (q119 ran 1.8× slower mid-bench than fresh before
    q50/q127 released their caches). Pins never outlive a release, so
    no query reuses another query's cached frame."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release_ranking_caches(blocking: bool = False) -> int:
    """Unpersist every frame pinned by :func:`pin_cache` since the last
    release. Call after the consuming action has materialized its
    result (unpersisting earlier just re-runs the producing exchange).
    Returns the number released.

    A pin whose SparkContext has stopped is dropped without
    ``unpersist``: its blocks died with that context, and unpersisting
    through it raises."""
    n = len(_PINNED)
    while _PINNED:
        df = _PINNED.pop()
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist(blocking=blocking)
    return n


release_sticky_caches = release_ranking_caches  # old name, kept for callers


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    out_col: str = "rn",
    *,
    with_total: bool = False,
) -> DataFrame:
    """Add a 1-based global row number in ``order_cols`` order.

    ``order_cols`` must define a TOTAL order (add a unique tiebreak key)
    or the numbering is nondeterministic within ties. With
    ``with_total=True`` the total row count rides along in column
    ``__mcetl_n`` (consumed by :func:`distributed_ntile`).

    Scale shape: one range exchange of the data + one hash exchange by
    partition id (both full-width but perfectly balanced — the range
    partitioner equalizes bucket sizes by sampling), one tiny
    per-partition-count frame, two broadcasts. Nothing is ever
    single-partitioned except the count frame (<= shuffle.partitions
    rows by construction).

    Caller note: ``repartitionByRange``'s sampling pass executes the
    input subtree once BEFORE the shuffle executes it again — when
    ``df`` embeds an expensive derivation (a fact-table scan + agg),
    :func:`pin_cache` it first (q132's pattern) so the derivation runs
    once.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = pin_cache(
        df.repartitionByRange(*cols).withColumn(_PID, F.spark_partition_id())
    )
    counts = part.groupBy(_PID).agg(F.count(F.lit(1)).alias("__cnt"))
    # start offsets + grand total from ONE broadcast self-join of the
    # per-partition counts (P² rows, P <= shuffle.partitions — trivially
    # small by construction). The obvious running-sum window over the
    # counts frame would plan Exchange SinglePartition; this keeps the
    # ENTIRE ranking pipeline free of single-partition stages, so a plan
    # audit can assert their absence outright instead of whitelisting a
    # "bounded" one.
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col(f"x.{_PID}").alias(_PID))
        .agg(
            F.sum(
                F.when(F.col(f"y.{_PID}") < F.col(f"x.{_PID}"), F.col("y.__cnt")).otherwise(0)
            ).alias(_OFF),
            F.sum(F.col("y.__cnt")).alias(_N),
        )
    )
    w_local = W.partitionBy(_PID).orderBy(*cols)
    ranked = (
        part.withColumn(_LRN, F.row_number().over(w_local))
        .join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.col(_OFF) + F.col(_LRN))
    )
    if not with_total:
        ranked = ranked.drop(_N)
    return ranked.drop(_PID, _LRN, _OFF)


def distributed_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: Sequence[Column | str],
    out_col: str,
) -> DataFrame:
    """``ntile(n_buckets) OVER (ORDER BY order_cols)`` with identical
    semantics to the SQL window function, computed distributed (see
    module docstring). ``order_cols`` must be a total order so tie
    placement matches a window-function oracle deterministically.

    Output column is IntegerType, matching Spark's ``ntile``.
    """
    ranked = global_row_number(df, order_cols, out_col="__mcetl_rn", with_total=True)
    rn, n = F.col("__mcetl_rn"), F.col(_N)
    q = F.floor(n / n_buckets)
    r = n % n_buckets
    big = r * (q + 1)  # rows living in the r buckets of size q+1
    # guard the small-N edge: q == 0 means every row sits in the first
    # branch; greatest() keeps the (never-taken) else branch div-safe.
    bucket = F.when(rn <= big, F.floor((rn - 1) / (q + 1)) + 1).otherwise(
        r + F.floor((rn - 1 - big) / F.greatest(q, F.lit(1))) + 1
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__mcetl_rn", _N)


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_col: str | Sequence[str],
    out_col: str | Sequence[str] = "cum",
    *,
    with_total: bool = False,
) -> DataFrame:
    """Running total of ``value_col`` over a global total order —
    ``SUM(v) OVER (ORDER BY ...)`` without the Exchange SinglePartition
    that window would plan. Identical two-phase machinery to
    :func:`global_row_number`: range-partition on the order keys,
    per-partition local prefix sums (a window partitioned by the range
    bucket id), then each partition's START offset = the sum of all
    earlier partitions' totals via the same P²-row broadcast self-join
    of per-partition aggregates. The prefix-sum primitive behind CDF
    curves, Pareto/ABC decompositions, and capacity/quota allocation.
    ``order_cols`` must be a total order for a deterministic result.

    ``value_col``/``out_col`` accept parallel LISTS to run several
    prefix sums over the same order in ONE range exchange (paired ECDFs
    for a KS statistic, multi-measure CDFs) — chaining single-column
    calls would re-partition identically-ordered data once per measure.
    With ``with_total=True`` the grand total of the FIRST value column
    rides along in ``__mcetl_n`` (one broadcast value)."""
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col lists must pair up")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = pin_cache(
        df.repartitionByRange(*cols).withColumn(_PID, F.spark_partition_id())
    )
    sums = part.groupBy(_PID).agg(
        *[F.sum(v).alias(f"__psum{i}") for i, v in enumerate(vcols)]
    )
    x, y = sums.alias("x"), sums.alias("y")
    off_aggs = [
        F.sum(
            F.when(
                F.col(f"y.{_PID}") < F.col(f"x.{_PID}"), F.col(f"y.__psum{i}")
            ).otherwise(0)
        ).alias(f"{_OFF}{i}")
        for i in range(len(vcols))
    ]
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col(f"x.{_PID}").alias(_PID))
        .agg(*off_aggs, F.sum(F.col("y.__psum0")).alias(_N))
    )
    w_local = W.partitionBy(_PID).orderBy(*cols).rowsBetween(W.unboundedPreceding, W.currentRow)
    summed = part
    for i, v in enumerate(vcols):
        summed = summed.withColumn(f"{_LRN}{i}", F.sum(v).over(w_local))
    summed = summed.join(F.broadcast(offsets), _PID)
    drop = [_PID]
    for i, out in enumerate(ocols):
        summed = summed.withColumn(out, F.col(f"{_OFF}{i}") + F.col(f"{_LRN}{i}"))
        drop += [f"{_OFF}{i}", f"{_LRN}{i}"]
    if not with_total:
        summed = summed.drop(_N)
    return summed.drop(*drop)


def global_prefix_max(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_col: str,
    out_col: str = "run_max",
    *,
    exclusive: bool = False,
) -> DataFrame:
    """Running maximum of ``value_col`` over a global total order —
    ``MAX(v) OVER (ORDER BY ...)`` without the single-partition window,
    via the same two-phase machinery as :func:`global_prefix_sum`:
    range-partition on the order keys, per-partition local running max,
    then each partition's carry-in = the max of all earlier partitions'
    maxima (P²-row broadcast self-join — never data-sized).

    With ``exclusive=True`` the frame is ``(UNBOUNDED PRECEDING, -1
    ROW)`` — the value the CURRENT row competes against, which is what
    dominance tests (skyline/Pareto-front staircases) need; the global
    first row gets NULL, matching SQL window semantics on an empty
    frame. ``order_cols`` must be a total order for a deterministic
    result."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = pin_cache(
        df.repartitionByRange(*cols).withColumn(_PID, F.spark_partition_id())
    )
    maxes = part.groupBy(_PID).agg(F.max(value_col).alias("__pmax"))
    x, y = maxes.alias("x"), maxes.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col(f"x.{_PID}").alias(_PID))
        .agg(
            F.max(
                F.when(F.col(f"y.{_PID}") < F.col(f"x.{_PID}"), F.col("y.__pmax"))
            ).alias(_OFF)
        )
    )
    upper = -1 if exclusive else W.currentRow
    w_local = W.partitionBy(_PID).orderBy(*cols).rowsBetween(W.unboundedPreceding, upper)
    # greatest() skips NULLs, so an empty local frame (exclusive first
    # row of a partition) falls back to the carry-in alone, and the
    # global first row — NULL carry-in AND empty frame — stays NULL.
    return (
        part.withColumn(_LRN, F.max(value_col).over(w_local))
        .join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.greatest(F.col(_OFF), F.col(_LRN)))
        .drop(_PID, _LRN, _OFF)
    )


def grouped_quantile_cont(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: float | Sequence[float],
    out_col: str | Sequence[str] = "q",
    *,
    return_counts: bool = False,
) -> DataFrame:
    """EXACT per-group continuous quantile (``percentile`` ≡ DuckDB
    ``quantile_cont``: linear interpolation at 0-indexed rank (n−1)·p)
    with NO group-sized task anywhere in the plan. Returns one row per
    group: ``group_cols + out_cols + ["n"]``. ``p``/``out_col`` accept
    parallel LISTS to extract several quantiles (quartile batteries) in
    ONE pass — the counts/prefix machinery is shared, only the anchor
    ranks multiply.

    Spark's builtin ``percentile`` aggregate merges each group's whole
    value→count map in ONE reducer task — with few heavy groups (3
    return flags over 10^11 rows) that task holds a group-sized hash
    map and sorts it alone: the exact shape that OOMs at 100 TB. This
    formulation keeps every stage wide instead.

    NULL semantics: NULL values carry no rank (the builtin's
    ignore-nulls behavior, filtered before counting) and ``n`` is the
    non-null count; a group whose values are ALL null produces NO
    output row (the builtin would emit a NULL quantile for it — join
    against your group dimension afterwards if empty groups must
    surface).

    1. ``groupBy(group, value).count()`` — map-side partial combine,
       shuffle bounded by DISTINCT (group, value) pairs, hash-spread
       over all reducers;
    2. :func:`global_prefix_sum` over the (group, value) total order —
       range-partitioned running count, still parallel WITHIN a group
       because partitioning is by sort-range, not by group;
    3. per-group totals broadcast back (one row per group); a row
       covering ranks [cum−cnt+1, cum] contains the target order
       statistics floor/ceil(1+(n−1)p) — at most two rows per group
       and quantile survive the filter, and a final tiny agg
       interpolates with the builtin's exact arithmetic.

    The price vs the builtin is one extra range exchange of the
    distinct-pair frame plus the pinned counts frame; the win is that
    no task ever materializes a group, so the operator is the exact
    path for the few-heavy-groups regime (the builtin stays faster
    when groups are many and small — q119 measures the crossover).
    Interpolation arithmetic is double — identical operation order to
    Spark's ``Percentile``, so results are bitwise the builtin's (and
    DuckDB ``quantile_cont``'s for dyadic interpolation fractions,
    e.g. any quartile)."""
    ps = [p] if isinstance(p, (int, float)) else list(p)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(ps) != len(ocols):
        raise ValueError("p and out_col lists must pair up")
    gcols = list(group_cols)
    # Scale note: the range exchange moves RAW pairs (no map-side
    # combine) — in this operator's regime (continuous values: prices,
    # measures) distinct (group, value) pairs ≈ raw rows, so the bytes
    # are the same as a combined exchange; for heavily-repeating values
    # feed :func:`grouped_quantile_from_counts` a pre-combined counts
    # table instead.
    # The counts frame feeds THREE consumers (the prefix sum, the
    # per-group totals, and — through anchored — the rank-cover test);
    # without the pin each consumer re-runs the scan + exchange.
    counts = pin_cache(
        _range_clustered_counts(
            df.select(*gcols, value_col), gcols, value_col, F.count(F.lit(1))
        )
    )
    res = _quantile_over_counts(counts, gcols, value_col, ps, ocols)
    if return_counts:
        # hand the PINNED per-(group, value) counts to the caller —
        # downstream tallies (q365's fence counts) fold the cached
        # distinct-pair frame (column COUNT_COL) instead of re-scanning
        # the fact rows and paying the broadcast join over them again
        return res, counts.drop(_PID)
    return res


def grouped_quantile_from_counts(
    counts: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    cnt_col: str,
    p: float | Sequence[float],
    out_col: str | Sequence[str] = "q",
) -> DataFrame:
    """:func:`grouped_quantile_cont` over a PRE-AGGREGATED counts
    frame — the entry point for DISTRIBUTION STATE: a persisted
    (group, value, count) table merged additively with a batch's
    counts gives exact quantiles across all data ever seen without
    rescanning history facts (q402's posture). Accepts duplicate
    (group, value) rows (state ∪ batch before the merge agg) — they
    are summed in one keyed aggregation first. NULL values carry no
    rank, mirroring the raw-row entry point. Interpolation arithmetic
    is the same bitwise-builtin tree, so results equal running
    ``percentile`` over the expanded raw rows."""
    ps = [p] if isinstance(p, (int, float)) else list(p)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(ps) != len(ocols):
        raise ValueError("p and out_col lists must pair up")
    gcols = list(group_cols)
    # (state ∪ batch) counts rows merge-aggregate within their range
    # partitions, as in grouped_quantile_cont
    c = pin_cache(
        _range_clustered_counts(
            counts, gcols, value_col, F.sum(cnt_col).cast("long")
        )
    )
    return _quantile_over_counts(c, gcols, value_col, ps, ocols)


def grouped_quantile_from_bounded_counts(
    counts: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    cnt_col: str,
    p: float | Sequence[float],
    out_col: str | Sequence[str] = "q",
) -> DataFrame:
    """:func:`grouped_quantile_from_counts` for counts tables whose
    VALUE DOMAIN is bounded (integer quantities, enum codes, bucketed
    measures): per-group distinct values fit one task by CONSTRUCTION
    — the premise the counts-state posture (q402) already requires —
    so the distributed prefix-sum machinery's range exchange, pinned
    frames and broadcast self-joins are pure overhead. One keyed
    additive merge + one collect_list per group; the sorted (value,
    count) array is walked with HOF folds and interpolated with the
    builtin-verbatim arithmetic, so results are bitwise identical to
    the machinery path (pinned in tests). Reach for
    :func:`grouped_quantile_from_counts` when distinct values are
    data-sized rather than domain-sized."""
    ps = [p] if isinstance(p, (int, float)) else list(p)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(ps) != len(ocols):
        raise ValueError("p and out_col lists must pair up")
    gcols = list(group_cols)
    merged = (
        counts.filter(F.col(value_col).isNotNull())
        .groupBy(*gcols, value_col)
        .agg(F.sum(cnt_col).cast("long").alias("__qc_cnt"))
    )
    rows = merged.groupBy(*gcols).agg(
        F.sum("__qc_cnt").alias("n"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(value_col).alias("v"), F.col("__qc_cnt").alias("c")
                )
            )
        ).alias("__vc"),
    )
    nm1 = (F.col("n") - F.lit(1)).cast("double")

    def rank_value(rank: Column) -> Column:
        # first value whose cumulative count reaches the 1-indexed rank
        walk = F.aggregate(
            F.col("__vc"),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(None).cast("double").alias("val"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["c"]).alias("cum"),
                F.when(
                    acc["val"].isNull() & (acc["cum"] + x["c"] >= rank),
                    x["v"].cast("double"),
                )
                .otherwise(acc["val"])
                .alias("val"),
            ),
        )
        return walk["val"]

    outs = []
    for pv, oc in zip(ps, ocols):
        pos = nm1 * F.lit(float(pv))
        lo, hi = F.floor(pos), F.ceil(pos)
        v_lo = rank_value(lo + 1)
        v_hi = rank_value(hi + 1)
        # Spark Percentile.getPercentile verbatim (see _quantile_over_counts)
        outs.append(
            F.when(hi == lo, v_lo)
            .otherwise(
                (hi.cast("double") - pos) * v_lo + (pos - lo.cast("double")) * v_hi
            )
            .alias(oc)
        )
    return rows.select(*gcols, *outs, "n")


def _range_clustered_counts(
    df: DataFrame, gcols: list, value_col: str, cnt: Column
) -> DataFrame:
    """Per-(group, value) counts ``cnt`` AS ``__qc_cnt``, range-
    partitioned on (gcols..., value) with the range partition id
    captured in ``_PID`` — the ``counts`` input of
    :func:`_quantile_over_counts`.

    The raw rows are range-partitioned ONCE on the prefix order, and
    the counts aggregation runs within those partitions with no
    exchange of its own, because RangePartitioning on (group, value)
    satisfies the aggregation's ClusteredDistribution on the same keys.
    That is the only exchange the fusion saves: the prefix window's
    ``partitionBy(_PID)`` still plans a hashpartitioning(_PID) exchange
    of the distinct-pair frame (visible in q357's plan).

    Planner contract the prefix sum relies on: each ``_PID``'s key
    range is disjoint from the others and ascending in ``_PID``. An
    exchange planned between the range repartition and the aggregate
    (a Spark upgrade, or a conf such as
    ``spark.sql.requireAllClusterKeysForDistribution``) would break it
    and yield wrong quantiles, not an error — tests/test_operators.py
    pins it.

    NULL values are excluded BEFORE counting — the builtin aggregate
    ignores them (they carry no rank), and without the filter they
    would range-partition as the lowest sort key and shift every
    group's rank arithmetic."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .repartitionByRange(*gcols, value_col)
        .groupBy(*gcols, value_col)
        .agg(cnt.alias("__qc_cnt"))
        .withColumn(_PID, F.spark_partition_id())
    )


def _quantile_over_counts(
    counts: DataFrame,
    gcols: list,
    value_col: str,
    ps: list,
    ocols: list,
) -> DataFrame:
    """Shared tail of the exact-quantile machinery: distributed prefix
    sum over the (group, value) distinct-pair ``counts`` frame (column
    ``__qc_cnt``), rank-cover filter, builtin-verbatim interpolation.
    ``counts`` is ALREADY range-partitioned on (gcols..., value) and
    carries its partition id in ``_PID``
    (:func:`_range_clustered_counts`), so the prefix sum runs its
    per-pid window + P²-broadcast offsets without range-partitioning
    again."""
    w_local = (
        W.partitionBy(_PID)
        .orderBy(*gcols, value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sums = counts.groupBy(_PID).agg(F.sum("__qc_cnt").alias("__psum"))
    x, y = sums.alias("x"), sums.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col(f"x.{_PID}").alias(_PID))
        .agg(
            F.sum(
                F.when(
                    F.col(f"y.{_PID}") < F.col(f"x.{_PID}"), F.col("y.__psum")
                ).otherwise(0)
            ).alias(_OFF)
        )
    )
    # the prefix-sum result is the operator's expensive pass (the
    # per-bucket window over the distinct-pair frame); it has a single
    # consumer, so whether this pin pays is an open ROADMAP item
    cum = pin_cache(
        counts.withColumn(_LRN, F.sum("__qc_cnt").over(w_local))
        .join(F.broadcast(offsets), _PID)
        .withColumn("__qc_cum", F.col(_OFF) + F.col(_LRN))
        .drop(_PID, _LRN, _OFF)
    )
    totals = counts.groupBy(*gcols).agg(F.sum("__qc_cnt").alias("n"))
    # 0-indexed interpolation anchors, Spark Percentile's exact
    # arithmetic: pos = p*(n-1), lower = floor(pos), higher = ceil(pos)
    nm1 = (F.col("n") - F.lit(1)).cast("double")
    anchor_cols = []
    for i, pv in enumerate(ps):
        pos = nm1 * F.lit(float(pv))
        anchor_cols += [
            (F.floor(pos) + 1).alias(f"__qc_lo{i}"),  # 1-indexed ranks
            (F.ceil(pos) + 1).alias(f"__qc_hi{i}"),
        ]
    # group offset: cumulative count of rows in EARLIER groups under the
    # (group, value) total order — computed from the G-row totals frame
    # with the module's P²-broadcast idiom (G plays P's role), NOT from
    # a second aggregation pass over the distinct-pair frame. G² rows
    # stay trivial in this operator's regime (few heavy groups; beyond
    # ~10⁴ groups the builtin percentile is the right tool anyway and
    # is faster — see the crossover note above).
    gx, gy = totals.alias("gx"), totals.alias("gy")
    gkey = lambda side: F.struct(*[F.col(f"{side}.{g}") for g in gcols])  # noqa: E731
    offs = (
        gx.join(F.broadcast(gy), F.lit(True))
        .groupBy(*[F.col(f"gx.{g}").alias(g) for g in gcols])
        .agg(
            F.first(F.col("gx.n")).alias("n"),
            F.sum(
                F.when(gkey("gy") < gkey("gx"), F.col("gy.n")).otherwise(0)
            ).alias("__qc_off"),
        )
    )
    positioned = (
        cum.join(F.broadcast(offs), gcols)
        .select(
            *gcols,
            F.col(value_col).alias("__qc_v"),
            "n",
            (F.col("__qc_cum") - F.col("__qc_cnt") - F.col("__qc_off") + 1).alias(
                "__qc_first"
            ),
            (F.col("__qc_cum") - F.col("__qc_off")).alias("__qc_last"),
            nm1.alias("__qc_nm1"),
            *anchor_cols,
        )
    )
    keep = None
    for i in range(len(ps)):
        cover_i = (F.col("__qc_last") >= F.col(f"__qc_lo{i}")) & (
            F.col("__qc_first") <= F.col(f"__qc_hi{i}")
        )
        keep = cover_i if keep is None else (keep | cover_i)
    hit = positioned.filter(keep)

    def _rank_value(rank_col: str) -> Column:
        return F.max(
            F.when(
                (F.col("__qc_first") <= F.col(rank_col))
                & (F.col(rank_col) <= F.col("__qc_last")),
                F.col("__qc_v"),
            )
        )

    agg = hit.groupBy(*gcols).agg(
        F.first("n").alias("n"),
        F.first("__qc_nm1").alias("__qc_nm1"),
        *[
            c
            for i in range(len(ps))
            for c in (
                _rank_value(f"__qc_lo{i}").alias(f"__qc_vlo{i}"),
                _rank_value(f"__qc_hi{i}").alias(f"__qc_vhi{i}"),
            )
        ],
    )
    # Spark Percentile.getPercentile verbatim: with 0-indexed pos,
    # lower = floor(pos), higher = ceil(pos):
    #   higher == lower -> lowerKey
    #   else (higher - pos) * lowerKey + (pos - lower) * higherKey
    # — reproduced operation-for-operation so results are bitwise the
    # builtin's.
    outs = []
    for i, (pv, oc) in enumerate(zip(ps, ocols)):
        pos2 = F.col("__qc_nm1") * F.lit(float(pv))
        lo2, hi2 = F.floor(pos2), F.ceil(pos2)
        v_lo = F.col(f"__qc_vlo{i}").cast("double")
        v_hi = F.col(f"__qc_vhi{i}").cast("double")
        outs.append(
            F.when(hi2 == lo2, v_lo)
            .otherwise(
                (hi2.cast("double") - pos2) * v_lo
                + (pos2 - lo2.cast("double")) * v_hi
            )
            .alias(oc)
        )
    return agg.select(*gcols, *outs, "n")
