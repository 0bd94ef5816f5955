"""Operational audit & reconciliation queries (q408–q413, q416–q418)
— the pre-flight and migration-validation surface a 100 TB pipeline
runs around the engine proper: cross-engine table checksums (the "did
the migration lose a row" primitive — exactly what a user switching
from the reference ETL to this repo runs first), column profiling,
foreign-key integrity, freshness/staleness watermarks, join-key skew
probes (the measurement that decides salting), uniqueness-contract
audits, split-release manifests, the incremental checksum state, and
partition-level diff localization. Every query is one or two keyed
passes over a single table — no operation here grows super-linearly
with the data.

Cross-engine value protocol: audits hash and compare CANONICAL forms,
one per type — int/varchar → plain string, double → floor(x·100)
whole cents (a pure function of the IEEE bits, so Spark and DuckDB
produce identical bigints without any string-formatting agreement),
timestamp → epoch microseconds. Canonical strings go through
functions/hashing.py's injective field encoding, then md5; the 32-bit
hex-prefix digest (``hex_int``) accumulates as TWO overflow-proof
bigint half-sums into an ORDER-INSENSITIVE, ADDITIVE table checksum
(``checksum_half_sums``; the protocol's rationale is hashing.py's
module doc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import (
    checksum_half_sums,
    checksum_half_sums_sql,
    content_hash_sql,
    encode_fields,
    hex_int,
    hex_int_expr,
    hex_int_sql,
)
from ..io import query_state, table
from .catalog import query

# ---------------------------------------------------------------- canonical


def _canon_spark(col: str, typ: str) -> Column:
    """Canonical scalar for checksum/profile parity — see module doc."""
    c = F.col(col)
    if typ == "double":
        return F.floor(c * 100).cast("bigint")
    if typ == "ts":
        # TPC-H fixture timestamps are TIMESTAMP_NTZ; the cast to
        # TIMESTAMP is wall-clock-identity under the UTC session TZ
        # the catalog pins, matching DuckDB's epoch_us over naive timestamps
        return F.unix_micros(c.cast("timestamp"))
    return c


def _canon_duck(col: str, typ: str) -> str:
    if typ == "double":
        return f"cast(floor({col} * 100) as bigint)"
    if typ == "ts":
        return f"epoch_us({col})"
    return col


def _row_digest_spark(cols: list[tuple[str, str]]) -> Column:
    return hex_int(F.md5(encode_fields(_canon_spark(n, t) for n, t in cols)))


def _row_digest_duck(cols: list[tuple[str, str]]) -> str:
    return hex_int_sql(content_hash_sql(_canon_duck(n, t) for n, t in cols))


# the audited tables and their typed column lists (full width each)
_CHECKSUM_TABLES: dict[str, list[tuple[str, str]]] = {
    "orders": [
        ("o_orderkey", "int"),
        ("o_custkey", "int"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "double"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ],
    "lineitem": [
        ("l_orderkey", "int"),
        ("l_partkey", "int"),
        ("l_suppkey", "int"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "str"),
        ("l_linestatus", "str"),
        ("l_shipdate", "ts"),
    ],
    "customer": [
        ("c_custkey", "int"),
        ("c_name", "str"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "str"),
    ],
    "events": [
        ("event_id", "int"),
        ("ts", "ts"),
        ("user_id", "int"),
        ("event_type", "str"),
        ("value", "double"),
        ("props", "str"),
    ],
}


def _checksum_oracle() -> str:
    branches = []
    for tbl, cols in _CHECKSUM_TABLES.items():
        branches.append(
            f"""SELECT '{tbl}' AS tbl, cast(count(*) as bigint) AS n_rows,
                   {checksum_half_sums_sql(_row_digest_duck(cols))}
            FROM {tbl}"""
        )
    return "\nUNION ALL\n".join(branches)


@query(
    "q408_table_checksum_reconcile",
    oracle=_checksum_oracle(),
    tags=("audit", "reconciliation", "parity"),
)
def q408_table_checksum_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-ENGINE TABLE CHECKSUM — the migration-validation
    primitive: an order-insensitive content checksum (each row's
    canonical 32-bit digest, summed as its lo/hi 16-bit halves — two
    overflow-proof bigints, see functions/hashing.py) plus row
    count, per audited table. Two engines that hold the same rows
    produce the same (n_rows, checksum_lo, checksum_hi) triple
    regardless of partitioning, file layout, or row order — the first
    thing a user switching engines (the reference ETL → this repo)
    runs on both sides. The oracle computes the same digests in
    DuckDB, so the driver check IS a cross-engine reconciliation of
    all four tables.

    Scale: one column-pruned scan per table feeding map-side partial
    SUMs — no shuffle beyond the one-row final; the digest is
    whole-stage-codegen (md5/conv are JVM builtins, no Python). At
    100 TB this is the cheapest possible full-content audit: cost =
    one pass, parallel across every file."""
    outs = []
    for tbl, cols in _CHECKSUM_TABLES.items():
        t = table(spark, sf_dir, tbl).select(*[c for c, _ in cols])
        outs.append(
            t.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                *checksum_half_sums(_row_digest_spark(cols)),
            ).select(
                F.lit(tbl).alias("tbl"), "n_rows", "checksum_lo", "checksum_hi"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_DOC_COLS: list[tuple[str, str]] = [
    ("doc_id", "int"),
    ("text", "str"),
    ("lang", "str"),
    ("source", "str"),
    ("n_chars", "int"),
]


@query(
    "q416_split_release_audit",
    oracle=f"""
    WITH s AS (
      SELECT *, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                     ELSE 'test' END AS split
      FROM (SELECT *, {hex_int_sql("md5(cast(doc_id as varchar))")} % 10 AS b
            FROM documents)
    )
    SELECT split,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_chars) as bigint) AS n_chars,
           {checksum_half_sums_sql(_row_digest_duck(_DOC_COLS))}
    FROM s GROUP BY split
    """,
    tags=("audit", "llm-pipeline", "reconciliation", "sampling"),
)
def q416_split_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SPLIT RELEASE AUDIT — the manifest row a training-data
    drop ships with: documents assign to train/val/test by content
    hash (q85's leakage-free protocol — the split is a pure function
    of doc_id, so re-releases never migrate a doc across splits), and
    each split reports its row count, token-budget proxy (Σ n_chars),
    and q408's order-insensitive content checksum. A consumer
    re-running this audit on the delivered shards detects truncated,
    duplicated, or cross-contaminated splits without trusting the
    producer's row counts — and the driver's oracle comparison IS that
    consumer-side re-verification.

    Scale: one documents scan; split assignment and the digest are
    whole-stage codegen; the groupBy carries three partial aggregates
    over a 3-value key — map-side combine reduces it to one tiny
    exchange."""
    d = table(spark, sf_dir, "documents")
    bucket = F.expr(hex_int_expr("md5(cast(doc_id as string))")) % 10
    return (
        d.withColumn(
            "split",
            F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            *checksum_half_sums(_row_digest_spark(_DOC_COLS)),
        )
    )


# ---------------------------------------------------------------- profiling

_PROFILE_COLS: list[tuple[str, str]] = _CHECKSUM_TABLES["orders"]


def _profile_oracle() -> str:
    branches = []
    for name, typ in _PROFILE_COLS:
        canon = _canon_duck(name, typ)
        branches.append(
            f"""SELECT '{name}' AS col_name,
                   cast(count(*) as bigint) AS n_rows,
                   cast(count(*) - count({name}) as bigint) AS n_null,
                   cast(count(DISTINCT {canon}) as bigint) AS n_distinct,
                   cast(min({canon}) as varchar) AS min_canon,
                   cast(max({canon}) as varchar) AS max_canon
            FROM orders"""
        )
    return "\nUNION ALL\n".join(branches)


@query(
    "q409_column_profile_audit",
    oracle=_profile_oracle(),
    tags=("audit", "profiling"),
)
def q409_column_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PROFILE / DATA-CONTRACT AUDIT — per column of ``orders``:
    row count, null count, exact distinct count, and canonical min/max
    (the stats a schema-drift monitor alerts on, and the numbers a
    query planner's CBO wants). Profiles are over CANONICAL forms
    (module doc) so both engines agree bit-for-bit; min/max stringify
    AFTER the typed aggregation, so ordering is numeric where the
    column is numeric.

    Scale: ONE pass over the table — all six columns' aggregates run
    in a single groupBy-less aggregation (Catalyst plans the multi-
    distinct via one Expand, still a single scan), then the wide row
    unpivots driver-side into one row per column. No per-column
    rescans: profiling 100 TB costs one read."""
    return column_profile(table(spark, sf_dir, "orders"), _PROFILE_COLS)


def wide_profile(
    df: DataFrame, cols: list[tuple[str, str]], prefix: str = "", stringify: bool = True
) -> DataFrame:
    """The one-row profile of ``cols`` over ``df`` in ONE aggregation
    pass (Catalyst plans the multi-distinct via one Expand): per column
    ``<prefix><name>__n`` / ``__nulls`` / ``__nd`` (bigint) and the
    ``__min`` / ``__max`` of its canonical form (module doc), cast to
    string when ``stringify`` — else native-typed, so numeric columns
    compare numerically."""
    aggs = []
    for name, typ in cols:
        canon = _canon_spark(name, typ)
        lo, hi = F.min(canon), F.max(canon)
        if stringify:
            lo, hi = lo.cast("string"), hi.cast("string")
        c = f"{prefix}{name}"
        aggs += [
            F.count(F.lit(1)).cast("bigint").alias(f"{c}__n"),
            F.sum(F.col(name).isNull().cast("bigint"))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            F.countDistinct(canon).cast("bigint").alias(f"{c}__nd"),
            lo.alias(f"{c}__min"),
            hi.alias(f"{c}__max"),
        ]
    return df.agg(*aggs)


def column_profile(df: DataFrame, cols: list[tuple[str, str]]) -> DataFrame:
    """One row per ``(name, type)`` of ``cols``: ``col_name``,
    ``n_rows``, ``n_null``, ``n_distinct`` and the ``min_canon`` /
    ``max_canon`` strings of the column's canonical form, from the one
    pass of :func:`wide_profile`, unpivoted with ``stack``."""
    wide = wide_profile(df, cols)
    stack_args = ", ".join(
        f"'{name}', {name}__n, {name}__nulls, {name}__nd, {name}__min, {name}__max"
        for name, _ in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_canon, max_canon)"
        )
    )


# ------------------------------------------------------ referential integrity

# (relationship, child table, child key, parent table, parent key)
_FK_RELS = [
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


def _fk_oracle() -> str:
    branches = []
    for rel, ct, ck, pt, pk in _FK_RELS:
        branches.append(
            f"""SELECT '{rel}' AS relationship,
                   (SELECT cast(count(*) as bigint) FROM {ct}) AS n_child,
                   (SELECT cast(count(*) as bigint) FROM {ct} c
                    WHERE NOT EXISTS (SELECT 1 FROM {pt} p
                                      WHERE p.{pk} = c.{ck})) AS n_orphan,
                   (SELECT cast(count(*) as bigint) FROM {pt}) AS n_parent,
                   (SELECT cast(count(*) as bigint) FROM {pt} p
                    WHERE NOT EXISTS (SELECT 1 FROM {ct} c
                                      WHERE c.{ck} = p.{pk})) AS n_unreferenced"""
        )
    return "\nUNION ALL\n".join(branches)


@query(
    "q410_referential_integrity_audit",
    oracle=_fk_oracle(),
    tags=("audit", "integrity", "join"),
)
def q410_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT over the star schema's five FK
    relationships: per relationship, child row count, ORPHAN count
    (child keys with no parent — broken joins waiting to happen), and
    the reverse childless-parent count (dead dimension rows). The
    reference pipeline trusts its FK edges implicitly (lead→activity
    joins, salesforce_extractor.py:214-217's upsert keys); this is the
    audit that makes that trust checkable before a 100 TB join.

    Scale shape per relationship: the child side reduces to DISTINCT
    keys FIRST (one map-side-combinable agg over the fact table), so
    both existence checks join key-domain-sized frames — the parent
    side is dimension-sized and broadcastable. No fact-table row ever
    crosses a shuffle twice."""
    outs = [
        fk_audit(table(spark, sf_dir, ct), ck, table(spark, sf_dir, pt), pk).select(
            F.lit(rel).alias("relationship"),
            "n_child",
            "n_orphan",
            "n_parent",
            "n_unreferenced",
        )
        for rel, ct, ck, pt, pk in _FK_RELS
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def fk_audit(child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
    """One lazy row auditing the foreign key ``child.ck`` →
    ``parent.pk``: ``n_child`` rows, ``n_orphan`` child rows whose key
    has no parent, ``n_parent`` rows and ``n_unreferenced`` parent rows
    no child references. The child side reduces to its distinct keys
    first, so both anti-joins see key-domain-sized frames."""
    child = child.select(F.col(ck).alias("k"))
    parent = parent.select(F.col(pk).alias("k"))
    ckeys = child.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    # n_child folds from the key-domain frame — a second child.agg
    # would re-scan the fact table (coalesce: sum over an empty frame
    # is NULL, the oracle's count(*) is 0)
    n_child = ckeys.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_child")
    )
    n_orphan = (
        ckeys.join(F.broadcast(parent), "k", "left_anti")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_orphan"))
    )
    n_parent = parent.agg(F.count(F.lit(1)).cast("bigint").alias("n_parent"))
    n_unref = parent.join(ckeys.select("k"), "k", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unreferenced")
    )
    return (
        n_child.join(n_orphan, F.lit(True))
        .join(n_parent, F.lit(True))
        .join(n_unref, F.lit(True))
    )


# ----------------------------------------------------------------- freshness


@query(
    "q411_freshness_lag_audit",
    oracle="""
    WITH per AS (
      SELECT event_type, count(*) AS n_events,
             max(epoch_us(ts)) AS last_us
      FROM events GROUP BY event_type
    ), g AS (
      SELECT max(last_us) AS global_us FROM per
    )
    SELECT event_type,
           cast(n_events as bigint) AS n_events,
           cast(last_us as bigint) AS last_us,
           cast((global_us - last_us) // 1000000 as bigint) AS lag_s,
           CASE WHEN (global_us - last_us) // 1000000 < 3600 THEN 'fresh'
                WHEN (global_us - last_us) // 1000000 < 86400 THEN 'stale'
                ELSE 'dead' END AS staleness
    FROM per CROSS JOIN g
    """,
    tags=("audit", "freshness", "watermark"),
)
def q411_freshness_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRESHNESS / WATERMARK-LAG AUDIT — per event source (event_type):
    event count, last-seen watermark, lag behind the globally freshest
    source in whole seconds, and a staleness bucket (fresh < 1 h ≤
    stale < 1 d ≤ dead). This is the reference's count-watermark idea
    (R16, salesforce_extractor.py:373-395) turned into a monitoring
    query: a source whose watermark stops advancing is a dead
    upstream, and the bucket is the alert level. Integer-µs
    differencing per the q213 ledger (never date_diff('second')).

    Scale: one groupBy over the stream table (map-side combinable
    max/count), a one-row global broadcast, and a narrow projection —
    the same shape at any table size."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    g = per.agg(F.max("last_us").alias("global_us"))
    lag = F.expr("(global_us - last_us) div 1000000")
    return per.join(F.broadcast(g), F.lit(True)).select(
        "event_type",
        "n_events",
        F.col("last_us").cast("bigint").alias("last_us"),
        lag.cast("bigint").alias("lag_s"),
        F.when(lag < 3600, "fresh")
        .when(lag < 86400, "stale")
        .otherwise("dead")
        .alias("staleness"),
    )


# ----------------------------------------------------------------- key skew


@query(
    "q412_join_key_skew_report",
    oracle="""
    WITH c AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ), t AS (
      SELECT cast(sum(n) as bigint) AS total, count(*) AS n_keys FROM c
    ), top AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rnk
      FROM c ORDER BY n DESC, user_id LIMIT 10
    )
    SELECT rnk, user_id, cast(n as bigint) AS n,
           cast(n * 1000000 // total as bigint) AS share_ppm,
           cast(sum(n) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING)
                * 1000000 // total as bigint) AS cum_share_ppm,
           cast(n * n_keys * 100 // total as bigint) AS x_mean_pct
    FROM top CROSS JOIN t
    """,
    tags=("audit", "skew", "join"),
)
def q412_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW PRE-FLIGHT — the measurement that decides whether
    a planned join on events.user_id needs salting or AQE skew
    handling: the 10 hottest keys with their absolute counts, share of
    all rows (ppm), cumulative share, and multiple-of-mean percentage
    (x_mean_pct = 100 × n / (total/n_keys), integer). A key at
    x_mean_pct ≫ 100 is the straggler partition; cum_share_ppm says
    whether skew is one key or a family. All ratios are integer floor
    arithmetic so both engines agree exactly.

    Scale: one map-side-combinable count per key (the same shuffle the
    audited join would pay ONCE, spent here to avoid paying it
    nightly), a 1-row total, and windows over the post-limit 10-row
    frame only — the report never materializes the full key histogram
    to the driver."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = (
        c.orderBy(F.col("n").desc(), "user_id")
        .limit(10)
        .select(
            "user_id",
            "n",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), "user_id"))  # global-window-ok: post-limit 10-row frame
            .alias("rnk"),
        )
    )
    cum = F.sum("n").over(
        W.orderBy("rnk").rowsBetween(W.unboundedPreceding, W.currentRow)  # global-window-ok: post-limit 10-row frame
    )
    return (
        top.join(F.broadcast(t), F.lit(True))
        .withColumn("cum_n", cum)
        .select(
            "rnk",
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.expr("n * 1000000 div total").cast("bigint").alias("share_ppm"),
            # integer floor div like every other ratio here — float
            # division rounds UP at k·total−1 boundaries and loses
            # integer precision past 2^53, diverging from the oracle
            F.expr("cum_n * 1000000 div total")
            .cast("bigint")
            .alias("cum_share_ppm"),
            F.expr("n * n_keys * 100 div total").cast("bigint").alias("x_mean_pct"),
        )
    )


# ------------------------------------------------------------ salted join

_SALT_BUCKETS = 8  # fan-out pinned by tests/test_plan_quality.py


@query(
    "q420_salted_skew_join",
    oracle="""
    WITH e AS (
      SELECT CASE WHEN user_id % 100 < 50 THEN -1 ELSE user_id END
               AS skew_key,
             event_type,
             cast(floor(value * 100) as bigint) AS cents
      FROM events
    ), d AS (
      SELECT skew_key, count(*) % 997 AS key_w FROM e GROUP BY skew_key
    )
    SELECT e.event_type,
           cast(count(*) as bigint) AS n_rows,
           cast(count(DISTINCT e.skew_key) as bigint) AS n_keys,
           cast(sum(e.cents * d.key_w) as bigint) AS w_sum
    FROM e JOIN d ON e.skew_key = d.skew_key
    GROUP BY e.event_type
    """,
    tags=("join", "skew", "salting"),
)
def q420_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED SKEW JOIN — the remediation q412's pre-flight report
    decides: a PLANTED power-law key (half of all event rows collapse
    onto key -1, the rest keep their user_id — the one-hot-key
    straggler profile) joined against a per-key profile frame WITHOUT
    a broadcast escape hatch. An unsalted shuffle join would hash all
    of key -1's rows into ONE reducer task: at 100 TB that task holds
    50% of the fact table while 31 cores idle — the canonical skew
    straggler. The salt decomposes it: facts get a deterministic salt
    in [0, S) (pmod of xxhash64 over the unique event_id), the profile
    side is EXPLODED ×S (sequence + explode — S copies of each key
    row, a dim-sized fan-out, never a fact-sized one), and the join
    runs on (skew_key, salt) — the hot key's rows now spread across S
    reducer tasks, bounding any task at 1/S of the hot key. The salt
    then cancels in the group-by, so the result is EXACTLY the plain
    join's (the oracle runs the unsalted SQL).

    The profile side is hinted SHUFFLE_HASH, not broadcast: at the
    scale where salting matters the key domain is billions (a per-key
    profile table is itself TB-sized), so the demo keeps the physical
    shape honest — tests/test_plan_quality.py pins the ShuffledHashJoin
    on (skew_key, salt), the ×8 explode fan-out on the profile side,
    and zero broadcast of either side. Complements the AQE runtime
    skew split session.py enables (spark.sql.adaptive.skewJoin):
    salting is the PLAN-TIME fix you reach for when the skew is known
    in advance (q412's report) or when the engine's runtime split
    can't apply (aggregation keys, full outer joins).

    Scale: one map-side-combinable count per key (the profile build),
    one dim-sized ×S explode, one (skew_key, salt)-keyed shuffle of
    the facts — no fact row is duplicated, so the salted plan moves
    exactly the same fact bytes as the unsalted one, just spread
    evenly."""
    S = _SALT_BUCKETS
    e = table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 100 < 50, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    # the profile value carried through the join is the key's row count
    # BOUNDED mod 997: the raw product cents × key_rows grows as N² on
    # the hot key (key_rows ~ N/2) and would cross int64 near sf10 —
    # where Spark's bigint sum wraps silently while DuckDB promotes to
    # HUGEINT (the divergence the checksum ledger documents). Bounded,
    # each term is < 5e4 × 997 ≈ 5e7, so the sum stays exact in int64
    # past 10^11 rows while still proving per-row join multiplicity
    # (a dropped or doubled match shifts w_sum)
    dim = e.groupBy("skew_key").agg(
        (F.count(F.lit(1)) % 997).alias("key_w")
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    salted_facts = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(S)).cast("int")
    )
    j = salted_facts.join(salted_dim.hint("shuffle_hash"), ["skew_key", "salt"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("skew_key").cast("bigint").alias("n_keys"),
        F.sum(F.col("cents") * F.col("key_w")).cast("bigint").alias("w_sum"),
    )


# -------------------------------------------------------- uniqueness contract

# (contract label, table, key column expressions)
_UNIQUE_CONTRACTS = [
    ("orders.pk(o_orderkey)", "orders", ["o_orderkey"]),
    ("lineitem.pk(l_orderkey,l_linenumber)", "lineitem", ["l_orderkey", "l_linenumber"]),
    ("events.pk(event_id)", "events", ["event_id"]),
    ("events.natural(user_id,event_type,value,props)", "events",
     ["user_id", "event_type", "value", "props"]),
]


def _unique_oracle() -> str:
    branches = []
    for label, tbl, keys in _UNIQUE_CONTRACTS:
        ks = ", ".join(keys)
        branches.append(
            f"""SELECT '{label}' AS contract,
                   cast(sum(m) as bigint) AS n_rows,
                   cast(count(*) as bigint) AS n_keys,
                   cast(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) as bigint)
                     AS n_dup_keys,
                   cast(max(m) as bigint) AS max_multiplicity
            FROM (SELECT count(*) AS m FROM {tbl} GROUP BY {ks})"""
        )
    return "\nUNION ALL\n".join(branches)


@query(
    "q413_uniqueness_contract_audit",
    oracle=_unique_oracle(),
    tags=("audit", "uniqueness", "dedup"),
)
def q413_uniqueness_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIQUENESS-CONTRACT AUDIT — for each declared key (true primary
    keys plus the events NATURAL key q00's content-hash dedup relies
    on): row count, distinct key count, number of violated keys, and
    the worst multiplicity. A nonzero n_dup_keys on a declared PK is
    the upstream-redelivery signal the reference's insert-ignore
    (R12) silently absorbs — this query makes the absorption rate
    visible instead.

    Scale: one keyed count per contract (map-side combinable) followed
    by a key-domain-sized re-aggregation to the four audit numbers —
    the fact table crosses the shuffle once per contract and nothing
    key-domain-sized reaches the driver."""
    outs = []
    for label, tbl, keys in _UNIQUE_CONTRACTS:
        t = table(spark, sf_dir, tbl).select(*keys)
        m = t.groupBy(*keys).agg(F.count(F.lit(1)).alias("m"))
        outs.append(
            m.agg(
                F.sum("m").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum((F.col("m") > 1).cast("bigint"))
                .cast("bigint")
                .alias("n_dup_keys"),
                F.max("m").cast("bigint").alias("max_multiplicity"),
            ).select(
                F.lit(label).alias("contract"),
                "n_rows",
                "n_keys",
                "n_dup_keys",
                "max_multiplicity",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# -------------------------------------------------- incremental checksum state

_EVENTS_COLS = _CHECKSUM_TABLES["events"]

def merge_checksum_triples(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold a batch's per-key (n_rows, checksum_lo, checksum_hi)
    triple into the persisted state: union + one keyed additive agg.
    Deliberately NOT a full-outer join on the key — join equality is
    null-hostile (a NULL key group in both frames would never match
    itself and emit two rows where the oracle's GROUP BY emits one),
    while groupBy puts all NULLs in one group on both engines. Same
    shape as operators/state.py::signed_view_merge."""
    cols = ["n_rows", "checksum_lo", "checksum_hi"]
    return (
        state.select("event_type", *cols)
        .unionByName(batch.select("event_type", *cols))
        .groupBy("event_type")
        .agg(*[F.sum(c).cast("bigint").alias(c) for c in cols])
    )


@query(
    "q417_incremental_checksum_state",
    oracle=f"""
    SELECT event_type,
           cast(count(*) as bigint) AS n_rows,
           {checksum_half_sums_sql(_row_digest_duck(_EVENTS_COLS))}
    FROM events GROUP BY event_type
    """,
    tags=("audit", "incremental", "state", "reconciliation"),
)
def q417_incremental_checksum_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL TABLE CHECKSUM — the audit family at the mergeable-
    state posture (q400/q405's family): q408's digest half-sums are
    ADDITIVE, so a per-source (n_rows, checksum_lo, checksum_hi)
    state row continues checksumming forever. History (events before
    Jan 16, plus any NULL-ts rows — see the window-split comment) folds
    into the persisted state ONCE; each arriving batch aggregates its
    own triple and the merge is one null-safe keyed additive union-fold
    (merge_checksum_triples) — history rows are read ZERO times
    per refresh, yet the result equals q408's from-scratch checksum
    over everything ever seen (the oracle recomputes exactly that).
    This is how a 100 TB table keeps a LIVE content checksum: the
    nightly audit costs the day's increment, not the archive.

    Scale: batch-slice scan (date filter pushed) + one keyed agg over
    the 5-value source domain + a domain-sized merge join. The state
    is one constant-width row per source."""
    e = table(spark, sf_dir, "events")

    def triple(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            *checksum_half_sums(_row_digest_spark(_EVENTS_COLS)),
        )

    def build(sd: str) -> None:
        # NULL-ts rows belong to exactly ONE window or the incremental
        # result diverges from the from-scratch checksum: `ts < cut`
        # AND `ts >= cut` are both NULL-false, so a plain split drops
        # them from both sides. They fold into the history state.
        triple(
            e.filter((F.col("ts") < "2024-01-16") | F.col("ts").isNull())
        ).write.parquet(sd + "/checksum_state")

    state = spark.read.parquet(query_state("q417", sf_dir, build)[0] + "/checksum_state")

    batch = triple(e.filter(F.col("ts") >= "2024-01-16"))
    return merge_checksum_triples(state, batch)


# ---------------------------------------------- partition diff localization


@query(
    "q418_partition_checksum_diff",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           cast(count(*) as bigint) AS n_rows,
           {checksum_half_sums_sql(_row_digest_duck(_EVENTS_COLS))}
    FROM events GROUP BY day
    """,
    tags=("audit", "reconciliation", "partitioning"),
)
def q418_partition_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-LEVEL CHECKSUM — diff LOCALIZATION for q408: when two
    engines' table checksums disagree, the next question is WHERE, and
    per-day-partition (n_rows, checksum_lo, checksum_hi) triples answer
    it in one more pass — the mismatched day is the partition to
    re-copy, re-audit, or bisect further (file-level next). This is the
    workflow shape every migration/replication validator (HDFS distcp
    -update, Iceberg verify) uses: tree-hash down the partition
    hierarchy, touch only the divergent subtree.

    Scale: same single scan as q408 with a day-keyed map-side-
    combinable agg (~days-in-table rows out); at 100 TB the partition
    column matches the physical layout so each task checksums its own
    partition's files — zero data movement beyond day-triple rows."""
    e = table(spark, sf_dir, "events")
    return (
        e.withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            *checksum_half_sums(_row_digest_spark(_EVENTS_COLS)),
        )
    )


# ------------------------------------------------------------- schema drift


def _drift_oracle_duck() -> str:
    """One UNION branch per column, each computing BOTH windows via
    FILTER clauses and deriving the min/max extension flags INSIDE the
    branch: min/max are typed per column (bigint vs varchar), and a
    union that carried them across branches would unify to VARCHAR and
    compare numerics lexicographically ('3' > '28') — only uniformly
    typed bigint/boolean outputs may cross the UNION."""
    bw = "ts < TIMESTAMP '2024-01-16'"
    cw = "ts >= TIMESTAMP '2024-01-16'"
    branches = []
    for name, typ in _EVENTS_COLS:
        canon = _canon_duck(name, typ)
        bn = f"count(*) FILTER ({bw})"
        cn = f"count(*) FILTER ({cw})"
        bnull = f"(count(*) FILTER ({bw}) - count({name}) FILTER ({bw}))"
        cnull = f"(count(*) FILTER ({cw}) - count({name}) FILTER ({cw}))"
        bnd = f"count(DISTINCT {canon}) FILTER ({bw})"
        cnd = f"count(DISTINCT {canon}) FILTER ({cw})"
        branches.append(
            f"""SELECT '{name}' AS col_name,
                   cast({bn} as bigint) AS base_n,
                   cast({cn} as bigint) AS cur_n,
                   cast({bnull} * 1000000 // {bn} as bigint) AS null_ppm_base,
                   cast({cnull} * 1000000 // {cn} as bigint) AS null_ppm_cur,
                   cast({cnull} * 1000000 // {cn}
                        - {bnull} * 1000000 // {bn} as bigint) AS null_ppm_delta,
                   cast({cnd} * 1000000 // {bnd} as bigint) AS distinct_ratio_ppm,
                   (min({canon}) FILTER ({cw}) < min({canon}) FILTER ({bw}))
                     AS min_extended,
                   (max({canon}) FILTER ({cw}) > max({canon}) FILTER ({bw}))
                     AS max_extended
            FROM events"""
        )
    return "\nUNION ALL\n".join(branches)


@query(
    "q419_schema_drift_detect",
    oracle=_drift_oracle_duck(),
    tags=("audit", "drift", "profiling"),
)
def q419_schema_drift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA / DISTRIBUTION DRIFT MONITOR — q409's column profile
    compared across two snapshot windows (events before vs after
    Jan 16): per column, the null-rate delta in integer ppm, the
    distinct-count ratio (a blown-up ratio is the
    cardinality-explosion alarm — an id column going free-text, a
    category column going unbounded), and canonical range-extension
    flags (new min/max = values the baseline never saw, the enum-drift
    signal). This is the audit that catches an upstream schema change
    BEFORE it poisons a 100 TB backfill — the per-statistic complement
    of the distributional drift tests (q381 PSI / q383 JS) which need
    binned value distributions rather than profile deltas.

    All ratios are integer floor arithmetic (engine-exact); min/max
    compare on CANONICAL values, so the flags are well-defined for
    every type in the column list. Scale: one pushed-filter scan per
    window (same Expand-multi-distinct single-pass shape as q409),
    then a 6-row join — cost is two column-pruned passes regardless of
    table size."""
    e = table(spark, sf_dir, "events")

    # both windows' wide one-row profiles join 1x1; the min/max
    # EXTENSION flags are computed here, column by column, on the
    # NATIVE canonical types (a stringified stack would compare
    # "10" < "9" lexically for numeric columns), and only the uniform
    # bigint/boolean outputs go through the stack unpivot
    wide = wide_profile(
        e.filter(F.col("ts") < "2024-01-16"), _EVENTS_COLS, "b_", stringify=False
    ).join(
        wide_profile(
            e.filter(F.col("ts") >= "2024-01-16"), _EVENTS_COLS, "c_", stringify=False
        ),
        F.lit(True),
    )
    stack_args = ", ".join(
        f"'{name}', b_{name}__n, c_{name}__n, "
        f"b_{name}__nulls * 1000000 div b_{name}__n, "
        f"c_{name}__nulls * 1000000 div c_{name}__n, "
        f"c_{name}__nulls * 1000000 div c_{name}__n "
        f"- b_{name}__nulls * 1000000 div b_{name}__n, "
        f"c_{name}__nd * 1000000 div b_{name}__nd, "
        f"c_{name}__min < b_{name}__min, c_{name}__max > b_{name}__max"
        for name, _ in _EVENTS_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_EVENTS_COLS)}, {stack_args}) AS "
            "(col_name, base_n, cur_n, null_ppm_base, null_ppm_cur, "
            "null_ppm_delta, distinct_ratio_ppm, min_extended, max_extended)"
        )
    ).select(
        "col_name",
        "base_n",
        "cur_n",
        F.col("null_ppm_base").cast("bigint").alias("null_ppm_base"),
        F.col("null_ppm_cur").cast("bigint").alias("null_ppm_cur"),
        F.col("null_ppm_delta").cast("bigint").alias("null_ppm_delta"),
        F.col("distinct_ratio_ppm").cast("bigint").alias("distinct_ratio_ppm"),
        "min_extended",
        "max_extended",
    )


# --------------------------------------------------- round-10: repair

# q431's pk-hash bucket count, the partition the Merkle comparison is keyed on
_Q431_BUCKETS = 64


def _q431_oracle() -> str:
    bucket = hex_int_sql("md5(l_orderkey || ':' || l_linenumber)")
    # row digest over the replicated projection (pk + payload)
    sums = checksum_half_sums_sql(
        hex_int_sql("md5(l_orderkey || ':' || l_linenumber || ':' || qty || ':' || price_c)"),
        lo="lo",
        hi="hi",
    )
    return f"""
    WITH a AS (
      SELECT l_orderkey, l_linenumber,
             floor(l_quantity)::BIGINT AS qty,
             round(l_extendedprice * 100)::BIGINT AS price_c,
             {bucket} % {_Q431_BUCKETS} AS bucket
      FROM lineitem
    ), b AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN bucket = 21 AND l_orderkey % 3 = 0
                  THEN qty + 1 ELSE qty END AS qty,
             price_c, bucket
      FROM a WHERE bucket <> 7
    ), ta AS (
      SELECT bucket, count(*) AS n,
             {sums}
      FROM a GROUP BY bucket
    ), tb AS (
      SELECT bucket, count(*) AS n,
             {sums}
      FROM b GROUP BY bucket
    ), div AS (
      SELECT ta.bucket, ta.n AS n_a, coalesce(tb.n, 0) AS n_b
      FROM ta LEFT JOIN tb USING (bucket)
      WHERE tb.bucket IS NULL OR ta.n <> tb.n OR ta.lo <> tb.lo OR ta.hi <> tb.hi
    ), rep AS (
      SELECT * FROM b WHERE bucket NOT IN (SELECT bucket FROM div)
      UNION ALL
      SELECT * FROM a WHERE bucket IN (SELECT bucket FROM div)
    ), tr AS (
      SELECT bucket, count(*) AS n,
             {sums}
      FROM rep GROUP BY bucket
    )
    SELECT d.bucket::BIGINT AS bucket,
           cast(d.n_a as bigint) AS n_a,
           cast(d.n_b as bigint) AS n_b,
           cast(d.n_a as bigint) AS rows_copied,
           (tr.n = ta.n AND tr.lo = ta.lo AND tr.hi = ta.hi) AS equal_after
    FROM div d JOIN ta USING (bucket) JOIN tr USING (bucket)
    """


@query(
    "q431_anti_entropy_repair",
    oracle=_q431_oracle(),
    tags=("audit", "checksum", "repair", "replication"),
)
def q431_anti_entropy_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI-ENTROPY REPAIR — the step AFTER q408 detects and q418
    localizes a replica divergence: two replicas of a keyed projection
    (replica B planted with both failure modes, partition-aligned as
    real incidents are — bucket 7 lost wholesale, a lost file/object;
    bucket 21 payload-corrupted on a third of its rows, a bad
    transcode) compare per-bucket Merkle triples (count + digest
    half-sums over a 64-bucket pk-hash partition), and ONLY the
    diverged buckets are repaired by copying
    them from A; the repaired replica is then re-checksummed against A
    inside the same query, so `equal_after` is COMPUTED evidence, not
    an assertion. Detects both modes because the digest covers the
    full payload: a lost row changes the count, a corrupted value
    changes the digest sums at equal count.

    This is the Cassandra/Dynamo repair loop (and distcp -update's
    logic) as a relational program: compare trees, ship only diverged
    ranges. 100 TB story: detection cost is two bucket-keyed
    map-side-combinable aggregations (the triples are additive — at
    depth they nest like q418's day→table telescope); repair I/O is
    bounded by the diverged buckets' rows, never the replica — here
    ~2/64ths of the table moves. The diverged-bucket registry is
    broadcast-sized by construction (it IS the point of bucketing).
    Overflow/decimal escalation as per the checksum half-sum ledger."""
    from ..operators.ranking import pin_cache

    li = table(spark, sf_dir, "lineitem")
    dig = F.expr(hex_int_expr("md5(concat_ws(':', l_orderkey, l_linenumber, qty, price_c))"))
    # the replica projection feeds five consumers (ta, tb via b, both
    # repair branches, tr) — pin it or the scan+digest subtree runs
    # five times. The row digest is STORED on the pinned frame —
    # ta/tb/tr are three aggregation passes that would each redo the
    # md5; only B's corrupted rows re-digest.
    a = pin_cache(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.floor("l_quantity").cast("bigint").alias("qty"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
            F.pmod(
                F.expr(hex_int_expr("md5(concat_ws(':', l_orderkey, l_linenumber))")),
                F.lit(_Q431_BUCKETS),
            ).alias("bucket"),
        ).withColumn("dig", dig)
    )
    corrupt = (F.col("bucket") == 21) & (F.col("l_orderkey") % 3 == 0)
    b = (
        a.filter(F.col("bucket") != 7)
        .withColumn("qty", F.when(corrupt, F.col("qty") + 1).otherwise(F.col("qty")))
        .withColumn(
            "dig",
            F.when(corrupt, dig).otherwise(F.col("dig")),
        )
    )

    def triples(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            *checksum_half_sums(F.col("dig"), lo="lo", hi="hi"),
        )

    ta = triples(a)
    tb = triples(b)
    div = (
        ta.alias("ta")
        .join(tb.alias("tb"), "bucket", "left")
        .filter(
            F.col("tb.n").isNull()
            | (F.col("ta.n") != F.col("tb.n"))
            | (F.col("ta.lo") != F.col("tb.lo"))
            | (F.col("ta.hi") != F.col("tb.hi"))
        )
        .select(
            "bucket",
            F.col("ta.n").alias("n_a"),
            F.coalesce(F.col("tb.n"), F.lit(0)).alias("n_b"),
        )
    )
    # the diverged-bucket registry is broadcast-sized by construction
    div_keys = F.broadcast(div.select("bucket"))
    repaired = b.join(div_keys, "bucket", "left_anti").unionByName(
        a.join(div_keys, "bucket", "left_semi")
    )
    tr = triples(repaired)
    return (
        div.join(F.broadcast(ta.alias("va")), "bucket")
        .join(F.broadcast(tr.alias("vr")), "bucket")
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_a").cast("bigint").alias("rows_copied"),
            (
                (F.col("vr.n") == F.col("va.n"))
                & (F.col("vr.lo") == F.col("va.lo"))
                & (F.col("vr.hi") == F.col("va.hi"))
            ).alias("equal_after"),
        )
    )


@query(
    "q432_zonemap_prune_report",
    oracle="""
    WITH parts AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             count(*) AS n_rows,
             min(o_totalprice) AS mn,
             max(o_totalprice) AS mx,
             count(*) - count(o_totalprice) AS n_nulls,
             min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key
      FROM orders GROUP BY 1
    )
    SELECT strftime(mon, '%Y-%m') AS mon,
           cast(n_rows as bigint) AS n_rows,
           cast(floor(mn * 100) as bigint) AS min_price_c,
           cast(floor(mx * 100) as bigint) AS max_price_c,
           cast(n_nulls as bigint) AS n_nulls,
           (mx < 450000.0) AS prunable_hi,
           (mn > 1000.0) AS prunable_lo,
           cast(mx_key - mn_key + 1 as bigint) AS key_span
    FROM parts
    """,
    tags=("audit", "scan", "pruning", "statistics"),
)
def q432_zonemap_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP / PARTITION-STATS REPORT — the stats table behind
    every skipping decision the catalog demonstrates (static pruning
    q76, DPP q176, z-order row-group skipping q167): per month
    partition of orders, the (count, min, max, nulls) zone map over
    the measure plus the key span, and the prune verdicts two example
    predicates would reach — ``price > 450k`` skips partitions whose
    max falls below it (prunable_hi), ``price < 1k`` ones whose min
    exceeds it (prunable_lo). This is what Iceberg/Delta keep in
    their manifest/stats files and what parquet keeps per row group;
    materializing it as a QUERY is how an operator answers "will this
    backfill predicate actually skip anything, and is the layout
    worth re-clustering" BEFORE running the backfill — the q167
    z-order decision consumes exactly this report (tight per-partition
    min/max ranges ⇒ skipping works; full-range overlap ⇒ re-cluster).

    Exactness: doubles leave the query only as floor-cents (the IEEE
    canonicalization the audit module standardizes); the prune flags
    compare NATIVE doubles on both engines, never strings.

    100 TB story: one map-side-combinable agg keyed by the partition
    expression — the report costs a single scan (or zero scans where
    the store already exposes per-file stats) and is itself
    partition-count-sized. Min/max over a skewed measure is exactly
    as combinable as count: zone maps never shuffle data rows."""
    o = table(spark, sf_dir, "orders")
    parts = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("n_nulls"),
        F.min("o_orderkey").alias("mn_key"),
        F.max("o_orderkey").alias("mx_key"),
    )
    return parts.select(
        F.date_format("mon", "yyyy-MM").alias("mon"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.floor(F.col("mn") * 100).cast("bigint").alias("min_price_c"),
        F.floor(F.col("mx") * 100).cast("bigint").alias("max_price_c"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        (F.col("mx") < 450000.0).alias("prunable_hi"),
        (F.col("mn") > 1000.0).alias("prunable_lo"),
        (F.col("mx_key") - F.col("mn_key") + 1).cast("bigint").alias("key_span"),
    )


_Q433_K = 8


@query(
    "q433_heavy_tail_exponent",
    oracle=f"""
    WITH per AS (
      SELECT event_type, user_id, count(*) AS cnt
      FROM events GROUP BY event_type, user_id
      UNION ALL
      SELECT '__ALL__', user_id, count(*) FROM events GROUP BY user_id
    ), rnk AS (
      SELECT event_type, cnt,
             row_number() OVER (PARTITION BY event_type
               ORDER BY cnt DESC, user_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_users
      FROM per
    ), xk AS (
      SELECT event_type, cnt AS x_k FROM rnk WHERE rn = {_Q433_K} + 1
    ), logs AS (
      SELECT r.event_type, any_value(r.n_users) AS n_users,
             any_value(x.x_k) AS x_k,
             list_reduce(list_sort(list(ln(r.cnt::DOUBLE / x.x_k))),
                         (a, b) -> a + b) AS s
      FROM rnk r LEFT JOIN xk x USING (event_type)
      WHERE r.rn <= {_Q433_K}
      GROUP BY r.event_type
    )
    SELECT event_type,
           cast(n_users as bigint) AS n_users,
           cast(x_k as bigint) AS x_k,
           cast(CASE WHEN s > 0 THEN floor(1000000 * {_Q433_K} / s) END
                as bigint) AS alpha_ppm
    FROM logs
    """,
    tags=("audit", "skew", "statistics", "heavytail"),
)
def q433_heavy_tail_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-TAIL EXPONENT (Hill estimator) — the diagnostic that
    turns q412's "here are the 10 hottest keys" into a PREDICTION:
    the Hill estimate α̂ = k / Σᵢ₌₁..k ln(xᵢ/x₍ₖ₊₁₎) over the top-k
    order statistics of the per-user activity distribution says how
    the hot tail GROWS with data volume — α < 2 means the hottest
    key's share doesn't shrink as the table grows (salting is
    mandatory at any scale, the q420 path), α > 3 means skew
    dilutes and AQE's runtime split suffices. Reported per event
    type and pooled.

    Float protocol: the k log-ratios fold in sorted order (the
    q127/q278 sorted-fold rule — engine-identical addition order on
    bitwise-identical ln inputs, per the libm-parity ledger row);
    tie-broken (cnt DESC, user_id) top-k so both engines pick the
    identical order statistics; the α output is a single floor after
    one division. A flat top (all k ratios 1 ⇒ Σ = 0) yields NULL
    rather than a division blowup.

    100 TB story: the per-key count is the same single keyed agg the
    audited join would pay (spent once, like q412); the top-(k+1)
    selection is a per-group window over count rows (key-domain-
    sized, never event rows), and the Hill fold touches k values per
    group. The estimator needs only the TOP of the distribution, so
    at extreme key cardinality the window input can pre-filter to
    counts above a coarse threshold without changing the answer."""
    ev = table(spark, sf_dir, "events")
    per = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .unionByName(
            ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("__ALL__").alias("event_type"), "user_id", "cnt")
        )
    )
    wr = W.partitionBy("event_type").orderBy(F.col("cnt").desc(), "user_id")
    rnk = per.select(
        "event_type",
        "cnt",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n_users"),
    )
    xk = rnk.filter(F.col("rn") == _Q433_K + 1).select(
        "event_type", F.col("cnt").alias("x_k")
    )
    # LEFT join: a group with fewer than k+1 users must SURFACE with
    # NULL x_k/alpha ("insufficient order statistics"), not vanish —
    # the repo's no-silent-caps rule applied to the report itself
    logs = (
        rnk.filter(F.col("rn") <= _Q433_K)
        .join(xk, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.max("n_users").alias("n_users"),
            F.max("x_k").alias("x_k"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.log(F.col("cnt").cast("double") / F.col("x_k"))
                    )
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("s"),
        )
    )
    return logs.select(
        "event_type",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("x_k").cast("bigint").alias("x_k"),
        F.when(
            F.col("s") > 0, F.floor(F.lit(1000000) * _Q433_K / F.col("s"))
        )
        .cast("bigint")
        .alias("alpha_ppm"),
    )
