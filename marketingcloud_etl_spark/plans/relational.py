"""Relational operator catalog (SURVEY.md §2.B: projection/filter,
joins, aggregations, windows, sort/limit, set ops, pivot).

Every query is a (Spark callable, DuckDB oracle SQL) pair. Determinism
rules observed throughout:
  * money/measure sums go through the decimal protocol (functions/money)
  * every ORDER BY that feeds a LIMIT has a unique tiebreak column
  * no raw `SUM(double)` anywhere; min/max/count on doubles are fine
  * outputs avoid raw nanosecond timestamps (formatted or truncated)
  * ordering keys are NON-NULL by fixture contract (FIXTURES.md): the
    engines' default null placement differs (Spark ASC puts nulls
    FIRST, DuckDB LAST), so any future ordering over a genuinely
    nullable column must pin NULLS FIRST/LAST explicitly on BOTH sides
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.money import dec
from ..io import fixture_tag, query_state, table
from ..session import conf_scope
from .catalog import query

# ---------------------------------------------------------------- helpers

_DEC_EXT = "cast(l_extendedprice as decimal(12,2))"
_DEC_DISC = "cast(l_discount as decimal(4,2))"
_DEC_TAX = "cast(l_tax as decimal(4,2))"
_DEC_QTY = "cast(l_quantity as decimal(12,2))"
_DEC_PRICE = "cast(o_totalprice as decimal(14,2))"


def _ext(col: str = "l_extendedprice") -> F.Column:
    return dec(col, 12, 2)


def _one() -> F.Column:
    return F.lit(1).cast("decimal(3,2)")


# ---------------------------------------------------------------- Q01

@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           cast(sum({_DEC_QTY}) as double)                                        AS sum_qty,
           cast(sum({_DEC_EXT}) as double)                                        AS sum_base_price,
           cast(sum({_DEC_EXT} * (1 - {_DEC_DISC})) as double)                    AS sum_disc_price,
           cast(sum({_DEC_EXT} * (1 - {_DEC_DISC}) * (1 + {_DEC_TAX})) as double) AS sum_charge,
           cast(sum({_DEC_QTY}) as double) / count(*)                             AS avg_qty,
           cast(sum({_DEC_EXT}) as double) / count(*)                             AS avg_price,
           cast(sum({_DEC_DISC}) as double) / count(*)                            AS avg_disc,
           count(*)                                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "headline"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary. Exercises scan→filter→hash-agg
    with partial/final split; the filter pushes down to the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = _ext() * (_one() - dec("l_discount", 4, 2))
    charge = disc_price * (_one() + dec("l_tax", 4, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity", 12, 2)).cast("double").alias("sum_qty"),
            F.sum(_ext()).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity", 12, 2)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_ext()).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(dec("l_discount", 4, 2)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------- Q02

@query(
    "q02_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate BETWEEN timestamp '1998-01-01 00:00:00' AND timestamp '1999-12-31 00:00:00'
      AND o_orderstatus IN ('F', 'P')
      AND (o_orderpriority LIKE '3%' OR o_orderpriority LIKE '1%')
      AND o_totalprice IS NOT NULL
      AND NOT (o_totalprice < 1000.0)
    """,
    tags=("filter",),
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN / IN / LIKE / null test / boolean combos — all pushed to scan."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderdate").between("1998-01-01 00:00:00", "1999-12-31 00:00:00")
        & F.col("o_orderstatus").isin("F", "P")
        & (F.col("o_orderpriority").like("3%") | F.col("o_orderpriority").like("1%"))
        & F.col("o_totalprice").isNotNull()
        & ~(F.col("o_totalprice") < 1000.0)
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------- Q03

@query(
    "q03_case_when",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS price_band,
           count(*) AS n_orders,
           cast(sum({_DEC_PRICE}) as double) AS total
    FROM orders GROUP BY 1
    """,
    tags=("filter",),
)
def q03_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression (CASE WHEN) as a grouping key."""
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .otherwise("large")
        .alias("price_band")
    )
    return o.groupBy(band).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("total"),
    )


# ---------------------------------------------------------------- Q04

@query(
    "q04_cast_coalesce",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           cast(sum(coalesce(cast(json_extract_string(props, '$.k') as bigint), -1)) as bigint) AS sum_k,
           count(nullif(cast(json_extract_string(props, '$.k') as bigint), 0)) AS n_nonzero_k
    FROM events GROUP BY event_type
    """,
    tags=("filter", "json"),
)
def q04_cast_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cast / coalesce / nullif over a JSON-string column (R6 missing-key
    default semantics: absent → sentinel, cf. salesforce_extractor.py:163-168)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(k, F.lit(-1))).alias("sum_k"),
        F.count(F.nullif(k, F.lit(0))).alias("n_nonzero_k"),
    )


# ---------------------------------------------------------------- Q05

@query(
    "q05_revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           cast(sum({_DEC_EXT} * (1 - {_DEC_DISC})) as double) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= timestamp '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("join", "agg", "headline"),
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi-join star query: fact⋈fact⋈dim⋈dim with an explicit
    broadcast hint on the tiny nation dim; AQE handles the rest."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = _ext() * (_one() - dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------- Q06

@query(
    "q06_join_left_outer",
    oracle=f"""
    SELECT c_custkey, c_mktsegment,
           count(o_orderkey) AS n_orders,
           cast(sum(coalesce({_DEC_PRICE}, 0)) as double) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tags=("join",),
)
def q06_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.coalesce(dec("o_totalprice", 14, 2), F.lit(0).cast("decimal(14,2)")))
            .cast("double")
            .alias("spend"),
        )
    )


# ---------------------------------------------------------------- Q07 / Q08

@query(
    "q07_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_mktsegment = 'BUILDING'
      AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def q07_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): BUILDING customers that placed orders."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q08_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def q08_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders — the
    dedup-vs-target primitive behind the reference's insert-ignore upsert
    (R12, salesforce_extractor.py:214-217)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


# ---------------------------------------------------------------- Q09

@query(
    "q09_join_cross",
    oracle="""
    SELECT r_name, s.o_orderstatus AS status, count(*) AS n_pairs
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    GROUP BY r_name, s.o_orderstatus
    """,
    tags=("join",),
)
def q09_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny sets (region × distinct order status)."""
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("status")).distinct()
    return r.crossJoin(s).groupBy("r_name", "status").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------- Q10

@query(
    "q10_join_theta_band",
    oracle=f"""
    SELECT b.band_name,
           count(*) AS n_items,
           cast(sum({_DEC_QTY}) as double) AS qty
    FROM lineitem
    JOIN (VALUES ('xs', 0.0, 10.0), ('s', 10.0, 20.0), ('m', 20.0, 30.0),
                 ('l', 30.0, 40.0), ('xl', 40.0, 1e9)) AS b(band_name, lo, hi)
      ON l_quantity > b.lo AND l_quantity <= b.hi
    GROUP BY b.band_name
    """,
    tags=("join",),
)
def q10_join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join against a small inline band table — Spark
    plans this as a broadcast nested-loop join, the right physical choice
    since the band side is 5 rows."""
    li = table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("xs", 0.0, 10.0), ("s", 10.0, 20.0), ("m", 20.0, 30.0), ("l", 30.0, 40.0), ("xl", 40.0, 1e9)],
        "band_name string, lo double, hi double",
    )
    cond = (F.col("l_quantity") > F.col("lo")) & (F.col("l_quantity") <= F.col("hi"))
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity", 12, 2)).cast("double").alias("qty"),
        )
    )


# ---------------------------------------------------------------- Q11

@query(
    "q11_join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id,
           max(c.ts)  AS last_click_ts,
           count(c.event_id) AS n_prior_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    GROUP BY p.event_id
    """,
    tags=("join", "asof"),
)
def q11_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, window/aggregate formulation: for every purchase, the
    latest click by the same user at-or-before the purchase timestamp.
    (operators/asof.py holds the scale-path merge_asof implementation —
    this formulation stays oracle-expressible.)"""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(c, (p.p_user == c.c_user) & (c.c_ts <= p.p_ts), "left")
        .groupBy("purchase_id")
        .agg(
            F.max("c_ts").alias("last_click_ts"),
            F.count("click_id").alias("n_prior_clicks"),
        )
    )


# ---------------------------------------------------------------- Q12

@query(
    "q12_agg_basic",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           min(value) AS min_v, max(value) AS max_v,
           cast(sum(cast(value as decimal(14,2))) as double) AS sum_v,
           cast(sum(cast(value as decimal(14,2))) as double) / count(*) AS avg_v
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def q12_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / countDistinct / min / max / sum / avg in one hash-agg."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.sum(dec("value", 14, 2)).cast("double").alias("sum_v"),
        (F.sum(dec("value", 14, 2)).cast("double") / F.count(F.lit(1))).alias("avg_v"),
    )


# ---------------------------------------------------------------- Q13

@query(
    "q13_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def q13_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (expand-based plan)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------- Q14

@query(
    "q14_agg_filtered",
    oracle=f"""
    SELECT o_orderpriority,
           cast(sum(CASE WHEN o_orderstatus = 'F' THEN {_DEC_PRICE} ELSE cast(0 as decimal(14,2)) END) as double) AS finished_total,
           cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) as bigint) AS n_open,
           cast(sum(CASE WHEN o_orderdate >= timestamp '2000-01-01 00:00:00' THEN {_DEC_PRICE} ELSE cast(0 as decimal(14,2)) END) as double) AS recent_total
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def q14_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation via CASE WHEN (portable form of FILTER (WHERE ...))."""
    o = table(spark, sf_dir, "orders")
    price = dec("o_totalprice", 14, 2)
    zero = F.lit(0).cast("decimal(14,2)")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", price).otherwise(zero)).cast("double").alias("finished_total"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"), price).otherwise(zero)
        )
        .cast("double")
        .alias("recent_total"),
    )


# ---------------------------------------------------------------- Q15/Q16/Q17

@query(
    "q15_agg_rollup",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg",),
)
def q15_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
        )
    )


@query(
    "q16_agg_cube",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           cast(sum({_DEC_QTY}) as double) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q16_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping dims with decimal-protocol measure."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity", 12, 2)).cast("double").alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
    )


@query(
    "q17_agg_grouping_sets",
    oracle="""
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(cast(c_nationkey as varchar), 'ALL') AS nation_key,
           count(*) AS n,
           cast(sum(cast(c_acctbal as decimal(14,2))) as double) AS balance
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    tags=("agg", "sql"),
)
def q17_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (Catalyst expands to the same plan
    as cube/rollup)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(cast(c_nationkey as string), 'ALL') AS nation_key,
               count(*) AS n,
               cast(sum(cast(c_acctbal as decimal(14,2))) as double) AS balance
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


# ---------------------------------------------------------------- Q18

@query(
    "q18_agg_collect",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
    tags=("agg",),
)
def q18_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set, order-normalized (sorted + joined to a string so the
    value-hash is insensitive to Spark's nondeterministic collect order)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------- Q19-Q22 windows

@query(
    "q19_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER w AS rn,
             rank()       OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4)     OVER w AS quartile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 10
    """,
    tags=("window",),
)
def q19_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions with a unique tiebreak; top-10 per segment."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 10)
    )


@query(
    "q20_window_lag_lead",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           value - lag(value)  OVER w AS delta_value,
           lead(event_type)    OVER w AS next_type,
           first_value(event_type) OVER w AS first_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
)
def q20_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value analytics per user session stream."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


@query(
    "q21_window_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           cast(sum({_DEC_PRICE}) OVER w_run as double) AS running_spend,
           cast(sum({_DEC_PRICE}) OVER w_mov as double) / count(*) OVER w_mov AS moving_avg_3
    FROM orders
    WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def q21_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving average (frame clauses), decimal-exact."""
    o = table(spark, sf_dir, "orders")
    order_cols = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_run = W.partitionBy("o_custkey").orderBy(*order_cols).rowsBetween(W.unboundedPreceding, 0)
    w_mov = W.partitionBy("o_custkey").orderBy(*order_cols).rowsBetween(-2, 0)
    price = dec("o_totalprice", 14, 2)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price).over(w_run).cast("double").alias("running_spend"),
        (F.sum(price).over(w_mov).cast("double") / F.count(F.lit(1)).over(w_mov)).alias("moving_avg_3"),
    )


@query(
    "q22_window_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "headline"),
)
def q22_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical top-k-per-group pattern."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------- Q23-Q26 sort/limit/set ops

@query(
    "q23_sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    tags=("sort",),
)
def q23_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 by price — Spark plans TakeOrderedAndProject, no full sort."""
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


@query(
    "q24_set_union",
    oracle="""
    SELECT nk, count(*) AS n FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION ALL
      SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk
    """,
    tags=("setop",),
)
def q24_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name, then aggregate."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).groupBy("nk").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q25_set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
    tags=("setop",),
)
def q25_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets."""
    a = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey"))
    )
    b = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.intersect(b)


@query(
    "q26_set_except",
    oracle="""
    SELECT ck, count(*) AS n FROM (
      SELECT o_custkey AS ck FROM orders
      EXCEPT ALL
      SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'BUILDING'
    ) GROUP BY ck
    """,
    tags=("setop",),
)
def q26_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference) then aggregate."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("ck"))
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("ck"))
    )
    return o.exceptAll(c).groupBy("ck").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------- Q34

@query(
    "q34_percentile",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           count(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def q34_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — same definition as
    DuckDB quantile_cont); approx_percentile is the sketch path for
    100 TB (rows-only, see q60)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.percentile("o_totalprice", 0.25), 6).alias("p25"),
        F.round(F.percentile("o_totalprice", 0.50), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.75), 6).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------- Q33 pivot

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "q33_pivot",
    oracle="""
    SELECT n_name,
           cast(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) as bigint) AS automobile,
           cast(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) as bigint) AS building,
           cast(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) as bigint) AS furniture,
           cast(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) as bigint) AS household,
           cast(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) as bigint) AS machinery
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("agg", "pivot"),
)
def q33_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot market segments into columns (explicit value list so the
    output schema is static — required for plan caching at scale)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    piv = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
    )
    out = piv.select(
        "n_name",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in _SEGMENTS],
    )
    return out


@query(
    "q70_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           cast(sum(cast(l_extendedprice as decimal(12,2))
                    * (1.00 - cast(l_discount as decimal(4,2)))) as double)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "scale"),
)
def q70_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing — the 100 TB pattern
    for repeated large⋈large joins: both sides written bucketed+sorted
    on the join key, so the sort-merge join reads bucket i ⋈ bucket i
    with NO exchange on either side (pinned in tests: the physical plan
    contains no shuffle before the join). The merge path is forced with
    a join HINT, not session conf — conf is read at execution time, so
    mutating it from inside a query function would race with any other
    lazily-built query in the same session."""
    tag = fixture_tag(sf_dir)
    names = {"lineitem": f"li_bkt_{tag}", "orders": f"ord_bkt_{tag}"}
    keys = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

    def build(d: str) -> None:
        # the bucketed files land through a catalog write; the table is
        # external, so dropping it keeps them for the DDL below
        for t, name in names.items():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                table(spark, sf_dir, t).write.bucketBy(8, keys[t])
                .sortBy(keys[t])
                .option("path", f"{d}/{name}")
                .saveAsTable(name)
            )
            spark.sql(f"DROP TABLE {name}")

    base, _ = query_state("q70_bucketed_join", sf_dir, build)
    for t, name in names.items():
        if spark.catalog.tableExists(name):
            continue
        # bucket metadata lives in the catalog, not the files
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in table(spark, sf_dir, t).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({keys[t]}) SORTED BY ({keys[t]}) INTO 8 BUCKETS "
            f"LOCATION '{base}/{name}'"
        )
    li, o = spark.table(names["lineitem"]), spark.table(names["orders"])
    joined = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(dec("l_extendedprice", 12, 2) * (F.lit(1.00).cast("decimal(4,2)") - dec("l_discount", 4, 2)))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "q71_asof_cogroup",
    oracle="""
    SELECT p.event_id AS purchase_id, c.ts AS click_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof", "udf"),
)
def q71_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, merge_asof formulation (operators/asof.py): both
    sides co-shuffled by user, per-key sorted merge in pandas — O(n+m)
    per key with no candidate fan-out, the scale path when keys have
    long histories. Checked against DuckDB's native ASOF JOIN. Only
    the matched timestamp is surfaced (among equal timestamps the
    matched *row* is tie-ambiguous; the max ts is not)."""
    from ..operators.asof import asof_join_cogroup

    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_eid")
    )
    out = asof_join_cogroup(p, c, on="ts", by="user_id")
    return out.select(
        F.col("event_id").alias("purchase_id"), F.col("ts_right").alias("click_ts")
    )


@query(
    "q72_salted_join",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_lines,
           cast(sum(cast(l_quantity as decimal(12,2))) as double) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY l_returnflag
    """,
    tags=("join", "scale"),
)
def q72_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py): the skewed side gets a
    deterministic per-row salt, the other side replicates across all
    salts, the join runs on (key, salt) — identical results, hot keys
    spread over n_salts partitions. Oracle = the plain join, proving
    result equality; the partitioning is the only thing that changes."""
    from ..operators.skew import salted_join_key

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    li_s, o_s = salted_join_key(li, o, n_salts=8)
    joined = li_s.join(
        o_s, (li_s.l_orderkey == o_s.o_orderkey) & (li_s["__salt"] == o_s["__salt"])
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(dec("l_quantity", 12, 2)).cast("double").alias("total_qty"),
    )


@query(
    "q76_partition_pruning",
    oracle="""
    SELECT date_trunc('day', ts) AS day, count(*) AS n,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("scan", "scale"),
)
def q76_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: events written
    partitioned by event_type, then a single-type query — the scan
    touches ONE partition directory (PartitionFilters in the plan,
    pinned in tests), the at-scale layout for low-cardinality hot
    filters. The oracle computes the same result from the unpartitioned
    table."""
    path, _ = query_state(
        "q76_partition_pruning",
        sf_dir,
        lambda d: table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(d),
    )
    e = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )


@query(
    "q77_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           cast(sum(cast(l_extendedprice as decimal(12,2))
                    * (1.00 - cast(l_discount as decimal(4,2)))) as double) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("join", "headline"),
)
def q77_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape (TPC-H Q3): three-table join with
    selective filters on both fact and dimension sides, revenue
    aggregation, top-10 — the canonical filter-pushdown + broadcast +
    partial-agg pipeline."""
    cutoff = "1998-03-15"
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                dec("l_extendedprice", 12, 2)
                * (F.lit(1.00).cast("decimal(4,2)") - dec("l_discount", 4, 2))
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q78_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           cast(sum(cast(l_extendedprice as decimal(12,2))
                    * (1.00 - cast(l_discount as decimal(4,2)))) as double) AS revenue,
           count(*) AS n_lines
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "headline"),
)
def q78_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting shape (TPC-H Q10): fact filter + three
    dimension joins + grouped revenue + top-20. Dimensions broadcast;
    the one shuffle is the final aggregation on customer."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                dec("l_extendedprice", 12, 2)
                * (F.lit(1.00).cast("decimal(4,2)") - dec("l_discount", 4, 2))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q80_sql_correlated_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("join", "sql"),
)
def q80_sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text interface end-to-end (TPC-H Q4 shape): temp views +
    spark.sql with a correlated EXISTS subquery, which Catalyst
    decorrelates into a semi join — the one subquery form the
    DataFrame API can't write directly."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """
    )


@query(
    "q84_window_range_frame",
    oracle="""
    SELECT o_orderkey,
           count(*) OVER w AS n_last_30d,
           cast(sum(cast(o_totalprice as decimal(14,2))) OVER w as double)
             AS spend_last_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def q84_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, vs q21's row-based frames):
    per customer, rolling 30-day order count and spend. Spark's
    rangeBetween needs a numeric order column, so the frame runs over
    epoch microseconds (full timestamp precision — seconds would
    merge sub-second-distinct peers and shift the 30-day bound) with
    the equivalent ±bounds; RANGE includes peers on both engines."""
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30 * 86400 * 1_000_000, 0)
    )
    return o.select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_last_30d"),
        F.sum(dec("o_totalprice", 14, 2)).over(w).cast("double").alias("spend_last_30d"),
    )


@query(
    "q94_sort_nullable_key",
    oracle="""
    WITH k AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS k
      FROM events
    ), a AS (
      SELECT 'asc_nulls_first' AS dir, event_id, k,
             cast(row_number() OVER (ORDER BY k ASC NULLS FIRST, event_id) as int) AS rnk
      FROM k ORDER BY k ASC NULLS FIRST, event_id LIMIT 50
    ), d AS (
      SELECT 'desc_nulls_last' AS dir, event_id, k,
             cast(row_number() OVER (ORDER BY k DESC NULLS LAST, event_id) as int) AS rnk
      FROM k ORDER BY k DESC NULLS LAST, event_id LIMIT 50
    )
    SELECT * FROM a UNION ALL SELECT * FROM d
    """,
    tags=("sort",),
)
def q94_sort_nullable_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort on a genuinely nullable key with the null position
    pinned EXPLICITLY on both engines (Spark defaults nulls-first for
    ASC, DuckDB defaults nulls-last — relying on either default
    diverges silently). Membership of the top-50 proves placement
    (nulls present under ASC NULLS FIRST, absent under DESC NULLS
    LAST); the rank column pins the exact order. The post-limit window
    runs on 50 rows — the global TakeOrderedAndProject does the heavy
    lifting distributed."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias("k"),
    )

    def top50(dir_name: str, key: F.Column) -> DataFrame:
        sel = e.orderBy(key, "event_id").limit(50)
        w = W.orderBy(key, "event_id")  # global-window-ok: runs post-limit, frame is 50 rows
        return sel.select(
            F.lit(dir_name).alias("dir"),
            "event_id",
            "k",
            F.row_number().over(w).alias("rnk"),
        )

    return top50("asc_nulls_first", F.col("k").asc_nulls_first()).unionByName(
        top50("desc_nulls_last", F.col("k").desc_nulls_last())
    )


@query(
    "q99_unpivot_melt",
    oracle="""
    WITH long AS (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey < 100
    )
    SELECT metric, count(*) AS n,
           min(val) AS min_val, max(val) AS max_val,
           cast(sum(cast(val as decimal(18,4))) as double) AS sum_val
    FROM long GROUP BY metric
    """,
    tags=("reshape",),
)
def q99_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — wide measure columns to long (metric, val) rows
    via DataFrame.unpivot (the inverse of q33's pivot), then a per-
    metric rollup. The oracle uses the portable UNION ALL formulation;
    Spark plans unpivot as Expand (one pass, rows×metrics output — no
    join, no shuffle before the aggregate)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.sum(F.col("val").cast("decimal(18,4)")).cast("double").alias("sum_val"),
    )


@query(
    "q100_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             cast(sum(cast(l_quantity as decimal(30,6))) as double) AS sx,
             cast(sum(cast(l_quantity * l_quantity as decimal(30,6))) as double) AS sxx,
             cast(sum(cast(l_extendedprice as decimal(30,6))) as double) AS sy,
             cast(sum(cast(l_extendedprice * l_extendedprice as decimal(30,6))) as double) AS syy,
             cast(sum(cast(l_quantity * l_extendedprice as decimal(30,6))) as double) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sx / n, 6) AS mean_qty,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_qty,
           round((n * sxx - sx * sx) / (n * (n - 1.0)), 6) AS var_qty,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
    FROM s
    """,
    tags=("agg", "stats"),
)
def q100_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed statistical moments (mean/stddev/variance/corr) from
    EXACT power sums: the raw products are exactly representable (2-dp
    money × small-int quantities stay under 2^53), the sums accumulate
    in decimal (order-independent), and the closed-form moment math
    runs on the exact totals — deterministic across partitionings and
    engines, unlike naive float stddev/corr accumulation. One partial-
    aggregated pass; no second scan for the means."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(30,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(30,6)")).cast("double").alias("sxx"),
        F.sum(y.cast("decimal(30,6)")).cast("double").alias("sy"),
        F.sum((y * y).cast("decimal(30,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(30,6)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    var = (n * F.col("sxx") - F.col("sx") * F.col("sx")) / (n * (n - F.lit(1.0)))
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("sx") / n, 6).alias("mean_qty"),
        F.round(F.sqrt(var), 6).alias("stddev_qty"),
        F.round(var, 6).alias("var_qty"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


@query(
    "q101_gapfill_timeseries",
    oracle="""
    WITH daily AS (
      SELECT event_type, cast(ts as date) AS d,
             count(*) AS n,
             cast(sum(cast(value as decimal(14,2))) as double) AS total
      FROM events GROUP BY event_type, cast(ts as date)
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM daily
    ), spine AS (
      SELECT t.event_type, s.d
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
                  FROM bounds) s
    )
    SELECT sp.event_type, sp.d,
           coalesce(dl.n, 0) AS n,
           coalesce(dl.total, 0.0) AS total,
           coalesce(dl.total,
                    last_value(dl.total IGNORE NULLS) OVER (
                      PARTITION BY sp.event_type ORDER BY sp.d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0) AS total_ffill
    FROM spine sp LEFT JOIN daily dl ON sp.event_type = dl.event_type AND sp.d = dl.d
    """,
    tags=("timeseries",),
)
def q101_gapfill_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: a complete (event_type × day) date spine
    from sequence(), left-joined daily aggregates, zero-fill for
    counts, and last-observation-carried-forward for the running total
    (last(ignorenulls) over an unbounded-preceding frame). The spine
    build is a broadcast cross of two tiny aggregates; the only real
    shuffle is the daily rollup."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total"),
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d")
    )
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(days))
    joined = spine.join(daily, ["event_type", "d"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type",
        "d",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
        F.coalesce(
            "total", F.last("total", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("total_ffill"),
    )


@query(
    "q102_histogram",
    oracle="""
    WITH b AS (
      SELECT event_type,
             cast(least(floor(value / 50.0), 9) as int) AS bucket
      FROM events
    )
    SELECT event_type, bucket, count(*) AS n
    FROM b GROUP BY event_type, bucket
    """,
    tags=("agg", "stats"),
)
def q102_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (10 × 50-unit buckets, top bucket open) —
    the distribution profile for numeric columns, computed with
    explicit portable bucket math. Partial aggregation collapses to
    ≤ types×buckets rows per task before the shuffle."""
    e = table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int")
    return (
        e.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q119_median_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ), dev AS (
      SELECT l.l_returnflag, m.med,
             abs(l.l_extendedprice - m.med) AS adev
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ), mad AS (
      SELECT l_returnflag, any_value(med) AS med,
             quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           round(m.med, 6) AS median_price,
           round(m.mad, 6) AS mad_price,
           cast(count(*) as bigint) AS n,
           cast(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad) as bigint)
             AS n_outliers
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag, m.med, m.mad
    """,
    tags=("stats", "quality"),
)
def q119_median_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median + MAD (median absolute
    deviation), flagging rows beyond 3 scaled MADs — the
    mean/stddev-free anomaly filter that survives heavy-tailed data
    (a curation staple: price errors, length explosions).

    ONE lineitem scan: the rows collapse to a (flag, price, cnt)
    counts frame first (distinct-pair-sized — prices repeat), and both
    exact percentile passes run as the builtin's WEIGHTED form
    (``percentile(v, p, frequency)``) over that frame — the builtin
    accumulates an identical value→count map either way, so medians
    and MADs are bitwise the raw-row results (the MAD pass maps the
    counts through |price − med| with counts carried, never re-reading
    rows), and the outlier tallies are count-weighted sums over the
    same frame. The r12 form pushed all 600k rows through three
    percentile/tally partials; every pass here is over the ~276k-row
    pinned counts frame, and the scan-stage partial aggregation
    parallelizes via the input splits. Exact per-group medians still merge each group's
    value map in one reducer; for billion-distinct-per-group corpora
    q357's grouped_quantile_cont (counts → distributed prefix sum →
    rank-cover, no group-sized task) is the exact alternative —
    measured here, the builtin wins below ~10⁶ distinct values per
    group, so this query keeps it and the crossover is the documented
    trade."""
    from ..operators.ranking import pin_cache

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    counts = pin_cache(
        li.groupBy("l_returnflag", "l_extendedprice").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    med = counts.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5), F.col("cnt")).alias("med")
    )
    dev = counts.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
        "cnt",
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.first("med").alias("med"),
        F.percentile("adev", F.lit(0.5), F.col("cnt")).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            F.round("med", 6).alias("median_price"),
            F.round("mad", 6).alias("mad_price"),
            F.col("n").cast("long").alias("n"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
    )


@query(
    "q121_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT cast((SELECT count(*) FROM v) as bigint) AS n_view,
           cast((SELECT count(*) FROM c) as bigint) AS n_click_after_view,
           cast((SELECT count(*) FROM p) as bigint) AS n_purchase_after_click,
           cast(floor(cast((SELECT count(*) FROM p) as double) * 1000000.0
                      / (SELECT count(*) FROM v)) as bigint) AS conversion_ppm
    """,
    tags=("analytic", "funnel"),
)
def q121_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that first click. The
    sequential constraint (each step strictly later than the previous
    step's first occurrence) is what separates a funnel from three
    independent counts.

    Shape: one grouped min per step, each joined to the previous
    step's per-user timestamp — every shuffle and join keys on
    user_id, so a pre-partitioned events table co-locates the whole
    funnel with ZERO extra exchanges (AQE turns the later, shrinking
    step tables into broadcasts). Step filters push into the scan."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )
    return counts.select(
        F.col("n_view").cast("long").alias("n_view"),
        F.col("n_click_after_view").cast("long").alias("n_click_after_view"),
        F.col("n_purchase_after_click").cast("long").alias("n_purchase_after_click"),
        # floor() of a single IEEE division of exact integers is
        # engine-identical; round(ratio, 6) is NOT when the true ratio
        # terminates exactly at the rounding boundary (the engines round
        # the shortest-string vs the binary value)
        F.floor(
            F.col("n_purchase_after_click").cast("double") * 1000000.0
            / F.col("n_view")
        )
        .cast("long")
        .alias("conversion_ppm"),
    )


@query(
    "q126_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, cast(count(*) as bigint) AS n,
           cast(count(*) - count(o_orderkey) as bigint) AS n_null,
           cast(count(DISTINCT o_orderkey) as bigint) AS n_distinct,
           cast(min(o_orderkey) as varchar) AS min_value,
           cast(max(o_orderkey) as varchar) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', cast(count(*) as bigint),
           cast(count(*) - count(o_orderstatus) as bigint),
           cast(count(DISTINCT o_orderstatus) as bigint),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', cast(count(*) as bigint),
           cast(count(*) - count(o_orderpriority) as bigint),
           cast(count(DISTINCT o_orderpriority) as bigint),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
    tags=("profile", "metadata"),
)
def q126_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (ANALYZE-style): per-column row count, null
    count, exact distinct count, and min/max — the metadata sweep
    that drives partition and join planning decisions before a big
    job: q409's one-pass ``column_profile`` over three columns of
    ``orders`` (Catalyst plans the three count(DISTINCT)s via one
    Expand, so the table is scanned once), min/max as strings so
    heterogeneous columns stack in one result. At 100 TB the exact
    count(DISTINCT) per column is the expensive honest version; q60's
    HLL path is the sketch alternative."""
    from .audit_queries import column_profile

    prof = column_profile(
        table(spark, sf_dir, "orders"),
        [("o_orderkey", "int"), ("o_orderstatus", "str"), ("o_orderpriority", "str")],
    )
    return prof.select(
        F.col("col_name").alias("col"),
        F.col("n_rows").alias("n"),
        "n_null",
        "n_distinct",
        F.col("min_canon").alias("min_value"),
        F.col("max_canon").alias("max_value"),
    )


@query(
    "q144_observed_metrics",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_price,
           max(l_extendedprice) AS max_price,
           cast(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) as bigint)
             AS n_null_qty
    FROM lineitem
    """,
    tags=("relational", "observability"),
)
def q144_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.observe` — production pipeline telemetry with ZERO extra
    passes: the metrics accumulate on the SAME physical scan that
    serves the real aggregation (run here to completion), instead of a
    second count()/sum() job over 100 TB. The observed values are then
    returned as a row and value-checked by the oracle — proving the
    in-flight accumulator path (driver-merged per-task updates) agrees
    exactly with a dedicated aggregation, decimal money protocol
    included."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("l_extendedprice", 18, 2)).cast("double").alias("sum_price"),
        F.max("l_extendedprice").alias("max_price"),
        # data-quality counter: DISTINCT aggregates are disallowed in
        # observed metrics, so the battery sticks to accumulator-shaped
        # ones (count/sum/min/max/conditional-sum)
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_qty"),
    )
    # the real work the metrics piggyback on (any downstream job works;
    # this one mirrors q01's shape)
    observed.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_price"], m["max_price"], m["n_null_qty"])],
        "n_rows bigint, sum_price double, max_price double, n_null_qty bigint",
    )


@query(
    "q145_recursive_cte_rollup",
    oracle="""
    WITH RECURSIVE tree AS (
      SELECT doc_id,
             CASE WHEN doc_id >= 2 THEN doc_id // 2 END AS parent
      FROM documents WHERE doc_id BETWEEN 1 AND 127
    ), anc(id, aid, depth) AS (
      SELECT doc_id, doc_id, 0 FROM tree
      UNION ALL
      SELECT a.id, t.parent, a.depth + 1
      FROM anc a JOIN tree t ON t.doc_id = a.aid
      WHERE t.parent IS NOT NULL
    )
    SELECT a.id,
           cast(max(a.depth) as int) AS depth,
           cast(count(*) as bigint) AS n_ancestors,
           cast(sum(d.n_chars) as bigint) AS lineage_chars
    FROM anc a JOIN documents d ON d.doc_id = a.aid
    GROUP BY a.id
    """,
    tags=("relational", "recursive"),
)
def q145_recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 RECURSIVE CTE — hierarchy traversal in PURE SQL (no
    driver-side iteration loop): a 127-node binary tree derived from
    doc ids (parent = id div 2) is walked to the root, rolling up each
    node's ancestor count, depth, and lineage character total. The
    recursion is UNION ALL over an acyclic parent relation, so it
    terminates at the tree depth (7 levels); DuckDB runs the identical
    recursion as the oracle. Complements operators/components.py,
    which handles the CYCLIC (symmetrized-edge) closure Spark's
    UNION-ALL-only recursion cannot express — together they cover both
    recursive-query regimes."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("q145_documents")
    return spark.sql("""
      WITH RECURSIVE tree AS (
        SELECT doc_id,
               CASE WHEN doc_id >= 2 THEN doc_id DIV 2 END AS parent
        FROM q145_documents WHERE doc_id BETWEEN 1 AND 127
      ), anc(id, aid, depth) AS (
        SELECT doc_id, doc_id, 0 FROM tree
        UNION ALL
        SELECT a.id, t.parent, a.depth + 1
        FROM anc a JOIN tree t ON t.doc_id = a.aid
        WHERE t.parent IS NOT NULL
      )
      SELECT a.id,
             cast(max(a.depth) as int) AS depth,
             count(*) AS n_ancestors,
             cast(sum(d.n_chars) as bigint) AS lineage_chars
      FROM anc a JOIN q145_documents d ON d.doc_id = a.aid
      GROUP BY a.id
    """)


@query(
    "q146_sql_scripting",
    oracle="""
    SELECT cast(sum(CASE WHEN event_type IN ('view','click','purchase')
                         THEN 1 ELSE 0 END) as bigint) AS n_core_events,
           cast(count(*) as bigint) AS n_all_events,
           4 AS n_iterations
    FROM events
    """,
    tags=("relational", "scripting"),
)
def q146_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE/SET) — procedural
    control flow executing entirely engine-side, the re-expression of
    the reference's driver-side CLI loop (R17–R19,
    salesforce_lead_activity.py): a WHILE loop iterates the core event
    types, accumulating counts through scalar subqueries into a
    session variable, and the script's final SELECT returns the
    accumulated state. The oracle recomputes the same totals
    relationally — proving the loop visited every branch exactly
    once."""
    table(spark, sf_dir, "events").createOrReplaceTempView("q146_events")
    return spark.sql("""
      BEGIN
        DECLARE total BIGINT DEFAULT 0;
        DECLARE i INT DEFAULT 1;
        WHILE i <= 3 DO
          SET total = total + (SELECT count(*) FROM q146_events
                               WHERE event_type = element_at(array('view','click','purchase'), i));
          SET i = i + 1;
        END WHILE;
        SELECT total AS n_core_events,
               (SELECT count(*) FROM q146_events) AS n_all_events,
               i AS n_iterations;
      END
    """)


@query(
    "q149_lateral_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey <= 10
    """,
    tags=("relational", "join", "lateral"),
)
def q149_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``DataFrame.lateralJoin`` — the correlated-subquery join
    (SQL LATERAL): for each customer, its top-2 orders by price via a
    per-outer-row ORDER BY + LIMIT inside the subquery, with
    ``.outer()`` marking the correlated column. The shape a window
    top-k can't express when the inner query is more than a ranking
    (arbitrary correlated filters/limits); DuckDB runs the identical
    LATERAL as the oracle. Tiebreak on o_orderkey makes the top-2
    deterministic."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 10)
        .select("c_custkey", "c_name")
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return c.lateralJoin(
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(2)
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "q150_transpose",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             cast(count(*) as double) AS n_rows,
             cast(sum(cast(l_quantity as decimal(18,2))) as double) AS total_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'n_rows' AS key,
           (SELECT n_rows FROM s WHERE l_returnflag = 'A') AS A,
           (SELECT n_rows FROM s WHERE l_returnflag = 'N') AS N,
           (SELECT n_rows FROM s WHERE l_returnflag = 'R') AS R
    UNION ALL
    SELECT 'total_qty',
           (SELECT total_qty FROM s WHERE l_returnflag = 'A'),
           (SELECT total_qty FROM s WHERE l_returnflag = 'N'),
           (SELECT total_qty FROM s WHERE l_returnflag = 'R')
    """,
    tags=("relational", "reshape"),
)
def q150_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``DataFrame.transpose`` — rows↔columns flip of a small
    aggregate frame (metric rows become columns keyed by the first
    column's values), the report-shaping complement of pivot/unpivot.
    Correct usage: ONLY on pre-aggregated driver-small frames — the
    transposed width is the input row count, so transposing raw data
    would build a 10⁹-column schema. The oracle reconstructs the same
    flip with scalar subqueries."""
    li = table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )
    return s.orderBy("l_returnflag").transpose()


@query(
    "q154_window_distribution",
    oracle="""
    SELECT c_custkey, n_name,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd,
           ntile(4)       OVER w AS quartile
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
    """,
    tags=("relational", "window"),
)
def q154_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ``percent_rank`` / ``cume_dist``
    / ``ntile`` over account balance within nation. Completes the
    ranking-family battery (q19–q22 cover row_number/rank/dense_rank/
    lag): percent_rank = (rank-1)/(n-1) and cume_dist = rows≤cur/n are
    exact small-integer ratios, so the IEEE doubles agree with DuckDB
    bit-for-bit. Tiebreak on c_custkey pins ntile assignment. The
    window partitions by nation — 25 balanced partitions, no
    single-partition exchange."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "n_name",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@query(
    "q155_listagg",
    oracle="""
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           cast(count(*) as bigint) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("relational", "agg"),
)
def q155_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 ``listagg(... ) WITHIN GROUP (ORDER BY ...)`` — the
    ANSI ordered string-concatenation aggregate (DuckDB: string_agg
    with ORDER BY). The explicit WITHIN GROUP ordering is what makes
    the result deterministic under distributed aggregation — an
    unordered concat would vary with partition visit order. Only safe
    on bounded groups (suppliers per nation); for unbounded groups use
    collect+slice (q-family 18) so one group can't OOM an executor."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.expr("listagg(s_name, ',') within group (order by s_name)").alias("suppliers"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


@query(
    "q158_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           cast(count(DISTINCT o_custkey) as bigint) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("relational", "agg", "sketch"),
)
def q158_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4 bitmap aggregates — the
    scale-path alternative to ``count(DISTINCT ...)``'s expand-and-
    dedup: keys bucket by ``bitmap_bucket_number`` (32768-bit buckets),
    each (group, bucket) folds to ONE roaring-style bitmap via
    ``bitmap_construct_agg``, and popcounts sum per group. State per
    group is O(keyspace/8) bits instead of O(distinct) rows, partial
    aggregation is a bitmap OR (associative, map-side combinable), and
    the result is exact — which is why the oracle is plain
    COUNT(DISTINCT). The two-level groupBy shuffles (status, bucket)
    pairs, never raw keys."""
    o = table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderstatus",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_customers")
    )


@query(
    "q169_crosstab",
    oracle="""
    SELECT cast(c_nationkey as varchar) AS c_nationkey_c_mktsegment,
           cast(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) as bigint) AS AUTOMOBILE,
           cast(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) as bigint) AS BUILDING,
           cast(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) as bigint) AS FURNITURE,
           cast(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) as bigint) AS HOUSEHOLD,
           cast(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) as bigint) AS MACHINERY
    FROM customer GROUP BY c_nationkey
    """,
    tags=("relational", "stat"),
)
def q169_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — the pairwise contingency table (nation ×
    market segment). Spark computes it as a pivoted count aggregation
    whose column set is the distinct values of the second column, so
    it is only safe when that cardinality is bounded (5 segments); the
    oracle reproduces the same table with explicit conditional sums.
    Sorted by the row key for a deterministic driver hash."""
    c = table(spark, sf_dir, "customer")
    ct = c.stat.crosstab("c_nationkey", "c_mktsegment")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return ct.select(
        "c_nationkey_c_mktsegment", *[F.col(s).cast("bigint").alias(s) for s in segs]
    )


@query(
    "q170_sampleby_stratified",
    oracle="""
    SELECT c_mktsegment,
           cast(count(*) as bigint) AS n_corpus,
           true AS rate_in_bounds,
           true AS sample_is_subset
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("relational", "stat", "sampling"),
)
def q170_sampleby_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.sampleBy`` — per-stratum Bernoulli sampling with a
    fixed seed (fractions 30%/10% by segment). The draw is engine-
    internal (seeded rand — reproducible within Spark, not across
    engines), so the oracle value-checks the exact per-stratum corpus
    counts and the sample carries self-verifying booleans: the
    realized rate sits within 5σ binomial bounds of its target
    fraction, and every sampled row joins back to the corpus
    (subset property, left_anti count == 0). q85/q86 are the
    cross-engine-deterministic hash alternatives; sampleBy is the
    API-parity entry."""
    c = table(spark, sf_dir, "customer")
    fracs = {
        "AUTOMOBILE": 0.3, "BUILDING": 0.1, "FURNITURE": 0.3,
        "HOUSEHOLD": 0.1, "MACHINERY": 0.3,
    }
    s = c.stat.sampleBy("c_mktsegment", fracs, seed=42)
    not_in_corpus = s.join(c, "c_custkey", "left_anti").count()
    per = (
        c.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_corpus"))
        .join(
            s.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("__n_samp")),
            "c_mktsegment",
            "left",
        )
        .fillna(0, ["__n_samp"])
    )
    frac_col = F.create_map(
        *[F.lit(x) for kv in fracs.items() for x in kv]
    )[F.col("c_mktsegment")]
    # 5σ binomial bound: |n_samp − n·p| ≤ 5·sqrt(n·p·(1−p)) + 1
    bound = F.lit(5.0) * F.sqrt(
        F.col("n_corpus") * frac_col * (F.lit(1.0) - frac_col)
    ) + F.lit(1.0)
    return per.select(
        "c_mktsegment",
        "n_corpus",
        (
            F.abs(F.col("__n_samp") - F.col("n_corpus") * frac_col) <= bound
        ).alias("rate_in_bounds"),
        F.lit(not_in_corpus == 0).alias("sample_is_subset"),
    )


@query(
    "q175_shuffle_hash_join",
    oracle="""
    SELECT o_orderpriority,
           cast(count(*) as bigint) AS n_items,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("relational", "join", "hint"),
)
def q175_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH join-strategy hint — the third physical join
    strategy after broadcast (q70-family) and the sort-merge default:
    both sides shuffle on the key but the smaller side builds an
    in-memory hash table instead of sorting, the right call when one
    side is too big to broadcast yet small enough to hash per
    partition (a fact⋈mid-size-dim at 100 TB). Results are identical
    to any strategy — the hint is physical only, which is exactly what
    the oracle checks; the plan-level assertion (ShuffledHashJoin,
    no SortMergeJoin) lives in tests/test_plan_quality.py."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").hint("shuffle_hash")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity", 18, 2)).cast("double").alias("total_qty"),
        )
    )


def orders_by_year_dir(spark: SparkSession, sf_dir: str) -> str:
    """``orders`` laid out hive-partitioned by ``order_year`` (one
    write per process and fixture), the fact layout q176 prunes and
    q180 audits file by file."""
    return query_state(
        "q176_dynamic_partition_pruning",
        sf_dir,
        lambda d: table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .write.partitionBy("order_year")
        .mode("overwrite")
        .parquet(d),
    )[0]


@query(
    "q176_dynamic_partition_pruning",
    oracle="""
    SELECT cast(extract(year from o_orderdate) as int) AS order_year,
           cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
    FROM orders
    WHERE extract(year from o_orderdate) IN (
      SELECT DISTINCT extract(year from o_orderdate) FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND extract(year from o_orderdate) <= 1996
    )
    GROUP BY order_year
    """,
    tags=("relational", "scan", "scale"),
)
def q176_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the scan optimization static pruning
    (q34) can't give you: the fact table is LAID OUT partitioned by
    order_year (a one-time hive-style write), the pruning years come
    from a runtime subquery (the dimension side of a join), and Spark
    injects the dimension's year set into the fact scan as a runtime
    filter, so only the matching year directories are read. At 100 TB
    partition layout + DPP is the difference between scanning 7 years
    and scanning 2. The oracle reproduces the semantic result; the
    plan assertion (``dynamicpruningexpression`` on the scan) lives in
    tests/test_plan_quality.py."""
    fact = spark.read.parquet(orders_by_year_dir(spark, sf_dir))
    years = (
        fact.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("order_year") <= 1996)
        )
        .select("order_year")
        .distinct()
    )
    return (
        fact.join(F.broadcast(years), "order_year")
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 18, 2)).cast("double").alias("total_price"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "q177_modern_agg_battery",
    oracle="""
    SELECT l_returnflag,
           max_by(l_orderkey, cast(round(l_extendedprice * 100) as bigint) * 10000000
                                + l_orderkey) AS priciest_order,
           min_by(l_orderkey, cast(round(l_extendedprice * 100) as bigint) * 10000000
                                + l_orderkey) AS cheapest_order,
           mode(l_linestatus) AS common_status,
           cast(count_if(l_discount > 0.05) as bigint) AS n_high_discount,
           cast(bool_and(l_quantity > 0) as boolean) AS all_positive_qty,
           cast(bool_or(l_tax > 0.07) as boolean) AS any_high_tax
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg"),
)
def q177_modern_agg_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern aggregate battery — ``max_by``/``min_by`` (argmax/
    argmin without a window or self-join: ONE hash-agg pass replaces
    the rank-then-filter shape where only the extremum row is wanted),
    ``mode`` (most frequent value), ``count_if``, ``bool_and``/
    ``bool_or``. Determinism protocol: max_by/min_by tie behavior is
    engine-arbitrary, so the ordering key packs (cents, orderkey) into
    ONE exact bigint — the key itself carries the tiebreak. All
    partial-aggregable — no shuffle beyond the group key."""
    li = table(spark, sf_dir, "lineitem")
    # self-tiebreaking scalar key: exact integer (cents, orderkey) pack —
    # max_by/min_by tie behavior is engine-arbitrary, so the key itself
    # carries the tiebreak (cents <= ~1.1e7, x1e7 + orderkey stays well
    # under 2^53, exact in either engine's bigint)
    price_key = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.lit(10000000)
        + F.col("l_orderkey")
    )
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", price_key).alias("priciest_order"),
        F.min_by("l_orderkey", price_key).alias("cheapest_order"),
        F.mode("l_linestatus").alias("common_status"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
    )


@query(
    "q178_parameterized_sql",
    oracle="""
    SELECT o_orderpriority,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
    FROM orders
    WHERE o_totalprice > 50000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sql"),
)
def q178_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4 ``spark.sql(sql, args=...)``) —
    named parameter markers bound server-side, the injection-safe way
    to template queries (vs string interpolation, which breaks on
    quoting and poisons the plan cache with one plan per literal).
    The parameters arrive typed (double, string), the plan is identical
    to the literal query — which is what the oracle checks."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_178")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
        FROM v_orders_178
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 50000.0, "status": "F"},
    )


@query(
    "q181_bloom_filter_join",
    oracle="""
    SELECT l_returnflag, cast(count(*) as bigint) AS n_items,
           cast(sum(cast(round(l_extendedprice*100) as bigint)) as bigint) AS price_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    tags=("relational", "join", "scale"),
)
def q181_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER join pruning — when the dimension side is
    too big to broadcast (broadcast disabled here to force the case),
    Catalyst builds a bloom filter over the join keys of the filtered
    creation side and injects ``might_contain`` into the fact scan, so
    non-matching fact rows die at the scan instead of shuffling. A
    bloom filter has NO false negatives, so results are exactly the
    plain join's — which is what the oracle checks; the plan-level
    assertion (``might_contain`` present in the physical plan) lives
    in tests/test_plan_quality.py via bloom_join_frame. At 100 TB this
    is the shuffle-side complement to DPP (q176): DPP prunes
    directories, the bloom filter prunes rows within the files that
    survive."""
    # physical planning (and so the runtime-filter rewrite) happens at
    # ACTION time under the session confs then in force — so the rows
    # are materialized while the bloom confs are held, and the caller
    # gets a conf-independent checkpointed frame back
    with conf_scope(spark, BLOOM_CONFS):
        return bloom_join_frame(spark, sf_dir).localCheckpoint(eager=True)


# the runtime-bloom-filter rewrite q181 runs under (the plan-quality
# test inspects the frame under the same confs)
BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # the fixture sides are far below the default 10 MB creation
    # threshold / 10 GB application threshold — force the rewrite so
    # the plan exercised locally is the one a 100 TB join gets
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q181 join frame; its plan carries the bloom filter only when
    planned under :data:`BLOOM_CONFS`."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "price_cents"
            ),
        )
    )


@query(
    "q183_group_by_all_union_by_name",
    oracle="""
    WITH u AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             cast(round(o_totalprice*100) as bigint) AS cents FROM orders
      UNION ALL
      SELECT o_orderpriority, NULL, cast(round(o_totalprice*100) as bigint)
      FROM orders WHERE o_totalprice > 100000
    )
    SELECT priority, status, cast(count(*) as bigint) AS n,
           cast(sum(cents) as bigint) AS total_cents
    FROM u GROUP BY ALL
    """,
    tags=("relational", "sql"),
)
def q183_group_by_all_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift-tolerant SQL surface: ``unionByName(...,
    allowMissingColumns=True)`` aligns two sources by COLUMN NAME (one
    is missing ``status`` and has a different column order — position
    union would silently mis-assign), then ``GROUP BY ALL`` groups on
    every non-aggregate column without re-listing them. Both are the
    modern idioms for multi-source ingestion where upstream schemas
    evolve independently; the oracle is the same shape in DuckDB's
    dialect (which also supports GROUP BY ALL)."""
    o = table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    u.createOrReplaceTempView("v_u183")
    return spark.sql(
        """
        SELECT priority, status, count(*) AS n, sum(cents) AS total_cents
        FROM v_u183 GROUP BY ALL
        """
    )


@query(
    "q185_time_hierarchy_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 1 THEN 'day' ELSE 'hour' END AS grain,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(round(value*100) as bigint)) as bigint) AS total_cents
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('day', ts), date_trunc('hour', ts)))
    """,
    tags=("relational", "agg", "timeseries"),
)
def q185_time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-
    aggregate shape): hour AND day grains materialized from ONE scan
    via GROUPING SETS on ``date_trunc`` expressions, with a ``grain``
    discriminator from ``grouping()``. The alternative — one scan per
    resolution — multiplies 100 TB reads by the number of grains;
    grouping sets share the scan and the partial aggregation, and
    every aggregate is algebraic so map-side combine still applies."""
    table(spark, sf_dir, "events").createOrReplaceTempView("v_ev185")
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
               CASE WHEN grouping(date_trunc('hour', ts)) = 1 THEN 'day' ELSE 'hour' END AS grain,
               count(*) AS n, sum(cast(round(value*100) as bigint)) AS total_cents
        FROM v_ev185
        GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('day', ts), date_trunc('hour', ts)))
        """
    )


@query(
    "q191_null_safe_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
      FROM customer
    )
    SELECT cast(a.nk as int) AS nation_key, cast(count(*) as bigint) AS n_pairs
    FROM c a JOIN c b ON a.nk IS NOT DISTINCT FROM b.nk
    GROUP BY a.nk
    """,
    tags=("relational", "join"),
)
def q191_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``eqNullSafe`` / SQL ``<=>``): ordinary
    equality silently DROPS every null-keyed row (null = null is not
    true), the classic bug when joining on an optional foreign key;
    ``<=>`` treats the null group as a real join key. Crucially it is
    still planned as a HASH join (the null-safe comparison is
    sargable), not a theta-join — so the 100 TB cost profile is the
    same as a plain equi-join, with the usual caveat that a fat null
    group is a skew key (operators/skew.py's salting applies). The
    fixture nulls every 7th customer's nation key; the oracle is
    DuckDB's IS NOT DISTINCT FROM."""
    c = table(spark, sf_dir, "customer").withColumn(
        "nk",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_nationkey")),
    )
    c2 = c.select(F.col("c_custkey").alias("k2"), F.col("nk").alias("nk2"))
    return (
        c.join(c2, c["nk"].eqNullSafe(c2["nk2"]))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("nk").cast("int").alias("nation_key"), "n_pairs")
    )


@query(
    "q193_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type='purchase'),
         c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events WHERE event_type='click')
    SELECT p.p_id, t.c_id, t.diff_s
    FROM p, LATERAL (
      SELECT c.c_id,
             cast(floor(abs(date_diff('microsecond', c.c_ts, p.p_ts)) / 1000000.0) as bigint) AS diff_s,
             abs(date_diff('microsecond', c.c_ts, p.p_ts)) AS adiff_us
      FROM c WHERE c.user_id = p.user_id
      ORDER BY adiff_us, c.c_ts, c.c_id LIMIT 1
    ) t
    WHERE t.adiff_us <= 7200000000
    """,
    tags=("relational", "join", "asof"),
)
def q193_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with tolerance — the variant q11
    (backward) can't express: each purchase matches its temporally
    CLOSEST click either side, within a 2-hour tolerance, ties broken
    toward the earlier click deterministically. Computed per user via
    ONE grouped Arrow pass running pandas ``merge_asof`` in both
    directions and taking the argmin — both frames arrive through the
    same groupBy(user) shuffle, sorted in-batch; no range join, no
    window over the union. Equal-timestamp candidates keep the
    smallest event id, matching the oracle's (|Δt|, ts, id) LATERAL
    argmin exactly. Scale: per-user groups are small and the pass is
    one shuffle of (user, ts, id) triples; a mega-user hot key would
    salt by time range (operators/skew.py)."""
    from ..operators.asof import nearest_asof_merge

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("eid"), "ts", F.lit("p").alias("kind")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("eid"), "ts", F.lit("c").alias("kind")
    )

    def per_user(pdf):
        return nearest_asof_merge(pdf, tolerance_s=7200.0)

    return (
        p.unionByName(c)
        .groupBy("user_id")
        .applyInPandas(per_user, "p_id bigint, c_id bigint, diff_s bigint")
    )


@query(
    "q202_equidepth_histogram",
    oracle="""
    WITH r AS (
      SELECT o_totalprice, ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, cast(count(*) as bigint) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM r GROUP BY bucket
    """,
    tags=("relational", "stats", "scale"),
)
def q202_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (equal row count per bucket, the optimizer-
    statistics shape) — q102's equal-WIDTH complement: bucket
    boundaries adapt to the distribution, so heavy-tailed measures get
    resolution where the mass is. Built on operators/ranking.py's
    distributed ntile (range-partition → local rank → broadcast
    offsets), so unlike the SQL window oracle it never materializes a
    single-partition sort — the exact boundary-value semantics are
    identical row for row under the total (price, key) order."""
    from ..operators.ranking import distributed_ntile

    o = table(spark, sf_dir, "orders")
    bkt = distributed_ntile(
        o.select("o_orderkey", "o_totalprice"),
        10,
        [F.col("o_totalprice").asc(), F.col("o_orderkey")],
        "bucket",
    )
    return bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "q208_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey AND a.l_orderkey <= 600 AND b.l_orderkey <= 600
    )
    SELECT (SELECT count(*) FROM e) AS n_edges,
           cast(count(*) as bigint) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    tags=("graph", "join"),
)
def q208_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE counting on the part co-occurrence graph (parts sharing
    an order) — the third graph primitive after connected components
    (q95) and PageRank (q128). Edges are canonically oriented u < v,
    so each triangle is counted exactly once by the standard two-join
    wedge-close plan: e1(u,v) ⋈ e2(v,w) builds wedges, e3 closes
    them. Orientation is also the scale lever — directing edges by id
    bounds wedge fan-out by out-degree, the classic mitigation for
    high-degree skew (a production corpus would orient by ascending
    degree instead). The edge set is localCheckpoint-pinned: three
    self-join consumers, one materialization."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)
    e = (
        li.alias("a")
        .join(li.alias("b"), F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri)


@query(
    "q209_bucketized_range_join",
    oracle="""
    WITH err AS (SELECT event_id AS e_id, ts AS e_ts FROM events WHERE event_type='error'),
         pur AS (SELECT event_id AS p_id, ts AS p_ts FROM events WHERE event_type='purchase')
    SELECT e_id, cast(count(*) as bigint) AS n_purchases_near
    FROM err JOIN pur ON abs(date_diff('microsecond', p_ts, e_ts)) <= 600000000
    GROUP BY e_id
    """,
    tags=("relational", "join", "scale"),
)
def q209_bucketized_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETIZED range join — the scale rewrite of the interval theta
    join (which Spark can only plan as a nested-loop cross product):
    to pair every error with every purchase within ±10 minutes across
    ALL users, both sides are assigned 10-minute time buckets, the
    probe side explodes to its bucket ±1 (any qualifying pair must
    then share a bucket, since |Δt| ≤ one bucket width), the join runs
    as a plain EQUI-join on the bucket id, and the exact predicate
    refines the candidates. Cost drops from |A|·|B| to Σ per-bucket
    products — the standard range-join optimization. The oracle is the
    naive theta join; the plan test pins that no NestedLoop survives."""
    W_US = 10 * 60 * 1_000_000
    ev = table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.unix_micros("ts").alias("e_us")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.unix_micros("ts").alias("p_us")
    )
    purb = pur.withColumn("bkt", F.floor(F.col("p_us") / W_US))
    errb = err.select(
        "e_id",
        "e_us",
        F.explode(
            F.array(
                F.floor(F.col("e_us") / W_US) - 1,
                F.floor(F.col("e_us") / W_US),
                F.floor(F.col("e_us") / W_US) + 1,
            )
        ).alias("bkt"),
    )
    # no distinct needed: a purchase has exactly ONE bucket and the
    # probe side's three exploded buckets are distinct, so a qualifying
    # pair is produced exactly once — a dedup here would re-shuffle the
    # whole candidate set for nothing
    pairs = (
        errb.join(purb, "bkt")
        .filter(F.abs(F.col("e_us") - F.col("p_us")) <= W_US)
        .select("e_id", "p_id")
    )
    return pairs.groupBy("e_id").agg(F.count(F.lit(1)).alias("n_purchases_near"))


@query(
    "q210_sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority, cast(count(*) as bigint) AS n,
           cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) AS cents
    FROM orders WHERE o_totalprice > 50000
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sql"),
)
def q210_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 ``|>`` operators, SQL:2023-adjacent):
    the linear FROM → WHERE → AGGREGATE form that reads in execution
    order instead of inside-out nesting, composed with ``SELECT *
    EXCEPT`` column exclusion. Semantically identical to the classic
    query the oracle runs — pipes are pure surface syntax over the
    same Catalyst plan, which is exactly what the compare proves."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_o210")
    return spark.sql(
        """
        FROM (SELECT * EXCEPT (o_orderdate, o_custkey) FROM v_o210)
        |> WHERE o_totalprice > 50000
        |> AGGREGATE count(*) AS n,
                     sum(cast(round(o_totalprice*100) as bigint)) AS cents
           GROUP BY o_orderpriority
        """
    )


@query(
    "q217_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT user_id % 2 AS seg, event_type, count(*) AS obs
      FROM events GROUP BY seg, event_type
    ), rt AS (SELECT seg, sum(obs) AS row_n FROM cells GROUP BY seg),
       ct AS (SELECT event_type, sum(obs) AS col_n FROM cells GROUP BY event_type),
       nt AS (SELECT sum(obs) AS n FROM cells),
       terms AS (
      SELECT pow(obs - (row_n * col_n / cast(n as double)), 2)
               / (row_n * col_n / cast(n as double)) AS term, n
      FROM cells JOIN rt USING (seg) JOIN ct USING (event_type) CROSS JOIN nt
    )
    SELECT round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS chi2,
           cast(count(*) as int) AS n_cells,
           cast(any_value(n) as bigint) AS n_total
    FROM terms
    """,
    tags=("stats", "analytic"),
)
def q217_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of INDEPENDENCE (segment × event-type) — the
    categorical complement of q133's two-proportion z-test: observed
    contingency cells vs the row×col/n expectation, χ² = Σ(o−e)²/e.
    The contingency table and marginals are tiny by construction
    (|segments|×|types|), so everything after the one groupBy is
    broadcast arithmetic; the χ² sum folds the per-cell terms in
    SORTED order (q111's protocol) so float addition order can never
    drift the 6-dp rounded statistic between engines."""
    ev = table(spark, sf_dir, "events")
    cells = (
        ev.select((F.col("user_id") % 2).alias("seg"), "event_type")
        .groupBy("seg", "event_type")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    rt = cells.groupBy("seg").agg(F.sum("obs").alias("row_n"))
    ct = cells.groupBy("event_type").agg(F.sum("obs").alias("col_n"))
    nt = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("row_n") * F.col("col_n") / F.col("n")
    terms = (
        cells.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "event_type")
        .crossJoin(F.broadcast(nt))
        .select(((F.col("obs") - exp) ** 2 / exp).alias("term"), "n")
    )
    return terms.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("chi2"),
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        F.first("n").cast("long").alias("n_total"),
    )


@query(
    "q218_weighted_median",
    oracle="""
    WITH rows_ AS (
      SELECT l_returnflag,
             cast(round(l_extendedprice*100) as bigint) AS price_c,
             cast(l_quantity as bigint) AS wgt,
             l_orderkey, l_linenumber
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price_c, wgt,
             sum(wgt) OVER (PARTITION BY l_returnflag
                            ORDER BY price_c, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS cum_w,
             sum(wgt) OVER (PARTITION BY l_returnflag) AS tot_w
      FROM rows_
    )
    SELECT l_returnflag,
           cast(min(price_c) as bigint) AS wmedian_cents,
           cast(any_value(tot_w) as bigint) AS total_weight
    FROM cum WHERE cum_w * 2 >= tot_w
    GROUP BY l_returnflag
    """,
    tags=("stats", "window"),
)
def q218_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group (lower weighted median: first
    value whose cumulative weight reaches half the total) — the
    quantity-weighted price q119's unweighted median can't express.
    One running-weight window per group partition in a deterministic
    total order, exact integer cents and integer weights throughout —
    no float crosses the engines. Groups sort in parallel (the window
    partitions by group); a billion-row single group would switch to
    a weight-aware GK sketch (q112's family) — this is the exact
    verified baseline."""
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("wgt"),
        "l_orderkey",
        "l_linenumber",
    )
    wspec = W.partitionBy("l_returnflag").orderBy(
        "price_c", "l_orderkey", "l_linenumber"
    )
    cum = rows.withColumn("cum_w", F.sum("wgt").over(wspec))
    tot = rows.groupBy("l_returnflag").agg(F.sum("wgt").alias("tot_w"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_c").alias("wmedian_cents"),
            F.first("tot_w").cast("long").alias("total_weight"),
        )
    )


@query(
    "q226_key_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
    ), ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt, l_orderkey) AS rnk FROM per_key
    )
    SELECT cast(count(*) as bigint) AS n_keys,
           cast(sum(cnt) as bigint) AS n_rows,
           cast(max(cnt) as bigint) AS max_key_rows,
           round(2.0 * sum(rnk * cnt) / (count(*) * sum(cnt))
                 - (count(*) + 1.0) / count(*), 6) AS gini,
           round(cast(max(cnt) as double) * count(*) / sum(cnt), 6) AS hot_key_factor
    FROM ranked
    """,
    tags=("relational", "diagnostics", "scale"),
)
def q226_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SKEW diagnostic report — the measurement that decides
    between a plain shuffle, salting (operators/skew.py), and AQE
    skew splitting: per-key row counts reduced to a Gini coefficient
    of the key distribution (0 = uniform, →1 = one hot key owns
    everything) plus the hot-key factor (max key size vs fair share).
    The Gini's rank term comes from operators/ranking.py's
    distributed global row number over the count-sorted keys — the
    key-cardinality frame is itself big at 100 TB, so the diagnostic
    must not single-partition-sort what it is diagnosing. The SQL
    window oracle reproduces the identical ranks under the total
    (cnt, key) order."""
    from ..operators.ranking import global_row_number, pin_cache

    li = table(spark, sf_dir, "lineitem")
    # pinned: repartitionByRange's sampling pass re-executes the input
    # subtree before the shuffle does — the fact-table aggregation
    # above would run twice without the cut
    per_key = pin_cache(
        li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = global_row_number(per_key, ["cnt", "l_orderkey"], out_col="rnk")
    g = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.sum(F.col("rnk").cast("bigint") * F.col("cnt")).alias("iws"),
    )
    return g.select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.round(
            (2.0 * F.col("iws")) / (F.col("n_keys") * F.col("n_rows"))
            - (F.col("n_keys") + 1) / F.col("n_keys"),
            6,
        ).alias("gini"),
        F.round(F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows"), 6).alias(
            "hot_key_factor"
        ),
    )


@query(
    "q228_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, sum(cast(round(l_extendedprice*100) as bigint)) AS cents
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(cents) OVER () AS tot
      FROM rev
    ), classed AS (
      SELECT CASE WHEN (cum_cents - cents) * 100 < tot * 80 THEN 'A'
                  WHEN (cum_cents - cents) * 100 < tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked
    )
    SELECT abc_class,
           cast(count(*) as bigint) AS n_parts,
           cast(sum(cents) as bigint) AS class_cents
    FROM classed GROUP BY abc_class
    """,
    tags=("relational", "analytic", "scale"),
)
def q228_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO / ABC decomposition — which parts carry 80 / 95 / 100 %
    of revenue: per-part cents ranked by revenue desc with a GLOBAL
    running total from operators/ranking.py's ``global_prefix_sum``
    (the distributed prefix-sum primitive this query introduces: range
    partition → local cumsums → broadcast partition-total offsets —
    never the Exchange SinglePartition a ``SUM OVER (ORDER BY)``
    window plans). Class boundaries use the PRE-item cumulative
    ((cum − own) < 80 % ⇒ A), so the item straddling a boundary lands
    in the earlier class deterministically, in exact integer
    arithmetic. The classic inventory/revenue-concentration readout at
    any key cardinality."""
    from ..operators.ranking import TOTAL_COL, global_prefix_sum, pin_cache

    li = table(spark, sf_dir, "lineitem")
    # pinned: repartitionByRange's sampling pass re-executes the input
    # subtree before the shuffle does — the fact-table aggregation
    # above would run twice without the cut
    rev = pin_cache(
        li.groupBy("l_partkey").agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents")
        )
    )
    ranked = global_prefix_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        out_col="cum_cents",
        with_total=True,
    )
    prior = F.col("cum_cents") - F.col("cents")
    classed = ranked.select(
        "cents",
        F.when(prior * 100 < F.col(TOTAL_COL) * 80, "A")
        .when(prior * 100 < F.col(TOTAL_COL) * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("class_cents"),
    )


@query(
    "q229_threshold_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           cast(round(l_extendedprice * 100) as bigint) AS price_cents
    FROM lineitem
    ORDER BY price_cents DESC, l_orderkey, l_linenumber
    LIMIT 1000
    """,
    tags=("relational", "topk", "scale"),
)
def q229_threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGE-k global top-k via SKETCH-PREFILTERED selection — the
    scale path when k is too big for ``TakeOrderedAndProject``'s
    per-partition size-k heaps (k=10⁶ × 1000 partitions = 10⁹ buffered
    rows): a Greenwald-Khanna quantile sketch picks a conservative
    threshold (target rank n−k shifted down by 2εn, so the GK rank
    guarantee |rank(q̂)−target| ≤ εn proves at least k survivors), one
    codegen'd filter keeps only ~k+3εn rows, and the exact ordered
    selection runs on that sliver. Every top-k member has value ≥ any
    non-member's, so the survivor set provably contains the true top-k;
    the final (value, key) total order makes the selected SET identical
    to the oracle's global ORDER BY LIMIT."""
    k, acc = 1000, 10000
    eps = 1.0 / acc
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    n = li.count()  # one narrow count pass; n parameterizes the sketch target
    if n <= k:
        return li.orderBy(
            F.col("price_cents").desc(), "l_orderkey", "l_linenumber"
        ).limit(k)
    q = max(0.0, 1.0 - (k + 1.0) / n - 2.0 * eps)
    thr = li.agg(
        F.percentile_approx("price_cents", F.lit(q), F.lit(acc)).alias("__thr")
    )
    survivors = li.join(F.broadcast(thr), F.lit(True)).filter(
        F.col("price_cents") >= F.col("__thr")
    )
    return (
        survivors.select("l_orderkey", "l_linenumber", "price_cents")
        .orderBy(F.col("price_cents").desc(), "l_orderkey", "l_linenumber")
        .limit(k)
    )


@query(
    "q230_stack_wide_long",
    oracle="""
    WITH wide AS (
      SELECT n.n_name,
             cast(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                      THEN cast(round(o.o_totalprice * 100) as bigint) ELSE 0 END) as bigint) AS auto_cents,
             cast(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                      THEN cast(round(o.o_totalprice * 100) as bigint) ELSE 0 END) as bigint) AS bld_cents,
             cast(sum(CASE WHEN c.c_mktsegment = 'MACHINERY'
                      THEN cast(round(o.o_totalprice * 100) as bigint) ELSE 0 END) as bigint) AS mach_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, segment, cents FROM (
      SELECT n_name, 'AUTOMOBILE' AS segment, auto_cents AS cents FROM wide
      UNION ALL SELECT n_name, 'BUILDING', bld_cents FROM wide
      UNION ALL SELECT n_name, 'MACHINERY', mach_cents FROM wide
    )
    """,
    tags=("relational", "reshape"),
)
def q230_stack_wide_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE→LONG reshape with ``stack()`` — the generator-expression
    complement of q99's ``unpivot``: one conditional-aggregation pass
    builds the wide frame (3 segment columns per nation), then stack
    emits 3 long rows per input row inside the SAME projection — an
    Expand node, zero extra shuffles (the oracle needs 3 UNION ALL
    branches to say the same thing). Money stays in integer cents."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def seg(name: str) -> F.Column:
        return F.sum(F.when(F.col("c_mktsegment") == name, cents).otherwise(F.lit(0)))

    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            seg("AUTOMOBILE").alias("auto_cents"),
            seg("BUILDING").alias("bld_cents"),
            seg("MACHINERY").alias("mach_cents"),
        )
    )
    return wide.selectExpr(
        "n_name",
        "stack(3, 'AUTOMOBILE', auto_cents, 'BUILDING', bld_cents, "
        "'MACHINERY', mach_cents) AS (segment, cents)",
    )


@query(
    "q231_explode_outer_empty",
    oracle="""
    WITH rich AS (
      SELECT c_nationkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name) - 1 AS pos
      FROM customer WHERE c_acctbal > 9900
    )
    SELECT n.n_name, r.pos, r.c_name AS rich_customer
    FROM nation n LEFT JOIN rich r ON n.n_nationkey = r.c_nationkey
    """,
    tags=("relational", "explode"),
)
def q231_explode_outer_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving explosion — ``posexplode_outer`` over arrays that
    are legitimately EMPTY for some groups (nations with no customer
    over the 9900 balance cut): the plain ``explode`` would silently
    drop those nations (the classic inner-join-flavored data-loss bug);
    the OUTER variant keeps them as a (NULL pos, NULL element) row.
    Array order is pinned by ``array_sort`` so the emitted positions
    match the oracle's window rank exactly."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rich = (
        c.filter(F.col("c_acctbal") > 9900)
        .groupBy("c_nationkey")
        .agg(F.array_sort(F.collect_list("c_name")).alias("names"))
    )
    j = n.join(
        F.broadcast(rich), n.n_nationkey == rich.c_nationkey, "left"
    ).select("n_name", "names")
    return j.select(
        "n_name",
        F.posexplode_outer("names").alias("pos", "rich_customer"),
    )


@query(
    "q232_percentile_exact_battery",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag AS flag,
             cast(round(l_extendedprice * 100) as bigint) AS c
      FROM lineitem
    ), cont AS (
      SELECT flag,
             quantile_cont(c, 0.25) AS p25_cont,
             quantile_cont(c, 0.50) AS p50_cont,
             quantile_cont(c, 0.75) AS p75_cont,
             median(c) AS med,
             cast(count(*) as bigint) AS n
      FROM cents GROUP BY flag
    ), vc AS (
      SELECT flag, c, count(*) AS cnt FROM cents GROUP BY flag, c
    ), cum AS (
      SELECT flag, c,
             sum(cnt) OVER (PARTITION BY flag ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS cum_cnt
      FROM vc
    ), disc AS (
      SELECT m.flag,
             min(CASE WHEN d.cum_cnt >= ceil(0.25 * m.n) THEN d.c END) AS p25_disc,
             min(CASE WHEN d.cum_cnt >= ceil(0.50 * m.n) THEN d.c END) AS p50_disc,
             min(CASE WHEN d.cum_cnt >= ceil(0.75 * m.n) THEN d.c END) AS p75_disc
      FROM cont m JOIN cum d ON m.flag = d.flag
      GROUP BY m.flag
    )
    SELECT c.flag, c.n, c.p25_cont, c.p50_cont, c.p75_cont, c.med,
           d.p25_disc, d.p50_disc, d.p75_disc
    FROM cont c JOIN disc d ON c.flag = d.flag
    """,
    tags=("relational", "stats"),
)
def q232_percentile_exact_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile battery — both conventions side by side:
    CONTINUOUS (Spark's ``percentile`` ≡ DuckDB ``quantile_cont``,
    linear interpolation at (n−1)·q — state is a value→count map, so
    memory scales with DISTINCT values per group, not rows) and
    DISCRETE (nearest-rank-lower: smallest element whose cumulative
    count reaches ⌈q·n⌉ — computed distributively from per-(group,
    value) counts + a partitioned running sum, the formulation that
    survives groups too big to collect; the oracle spells out the SAME
    rank rule rather than trusting ``quantile_disc``'s convention).
    Integer cents make every interpolated quartile an exact binary
    fraction — no float tolerance anywhere."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    cont = li.groupBy("flag").agg(
        F.percentile("c", F.lit(0.25)).alias("p25_cont"),
        F.percentile("c", F.lit(0.50)).alias("p50_cont"),
        F.percentile("c", F.lit(0.75)).alias("p75_cont"),
        F.median("c").alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    vc = li.groupBy("flag", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("flag").orderBy("c").rowsBetween(W.unboundedPreceding, 0)
    cum = vc.withColumn("cum_cnt", F.sum("cnt").over(w))
    d = cum.join(F.broadcast(cont.select("flag", "n")), "flag")

    def disc(p: float) -> F.Column:
        return F.min(
            F.when(F.col("cum_cnt") >= F.ceil(F.lit(p) * F.col("n")), F.col("c"))
        )

    disc_agg = d.groupBy("flag").agg(
        disc(0.25).alias("p25_disc"),
        disc(0.50).alias("p50_disc"),
        disc(0.75).alias("p75_disc"),
    )
    return cont.join(disc_agg, "flag").select(
        "flag", "n", "p25_cont", "p50_cont", "p75_cont", "med",
        "p25_disc", "p50_disc", "p75_disc",
    )


@query(
    "q237_sql_udf",
    oracle="""
    SELECT o_orderpriority,
           cast(sum(cast(round(o_totalprice * 100) as bigint)
                    * CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END) as bigint)
             AS weighted_cents,
           cast(count(*) as bigint) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "sql-udf"),
)
def q237_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDFs (Spark 4.1 ``CREATE FUNCTION … RETURN expr``) —
    engine-side scalar abstraction with NONE of the Python-UDF tax: the
    body is inlined into the plan at analysis time, so it codegens like
    any builtin and Catalyst can push/fold through it. The reference's
    per-row transform helpers (salesforce_extractor.py:153-181) are the
    shape this replaces at scale. The oracle inlines the same
    expressions — which is exactly what the engine does internally."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION mcetl_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN cast(round(x * 100) as bigint)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION mcetl_status_weight(s STRING) "
        "RETURNS INT RETURN CASE WHEN s = 'F' THEN 2 ELSE 1 END"
    )
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__q237_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               cast(sum(mcetl_cents(o_totalprice)
                        * mcetl_status_weight(o_orderstatus)) as bigint)
                 AS weighted_cents,
               count(*) AS n
        FROM __q237_orders GROUP BY o_orderpriority
        """
    )


@query(
    "q238_sample_bound_check",
    oracle="""
    SELECT l_returnflag,
           cast(count(*) as bigint) AS n_total,
           true AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "sampling"),
)
def q238_sample_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.sample`` made driver-checkable (q135 protocol): the seeded
    Bernoulli sample's per-group size must land within 5 binomial
    standard errors of p·n (a broken sampler — wrong p, correlated
    draws, partition-dependent seeding — flips the flag; a correct one
    passes with overwhelming margin). Exact group totals are
    value-checked; the sample itself is engine-specific, so the
    boolean carries the evidence. Complements q170's sampleBy
    (stratified) with the plain-fraction path."""
    p = 0.2
    li = table(spark, sf_dir, "lineitem").select("l_returnflag")
    tot = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_total"))
    samp = (
        li.sample(fraction=p, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_samp"))
    )
    j = tot.join(samp, "l_returnflag", "left").na.fill({"n_samp": 0})
    sigma = F.sqrt(F.col("n_total") * p * (1 - p))
    ok = F.abs(F.col("n_samp") - F.col("n_total") * p) <= F.lit(5.0) * sigma
    return j.select("l_returnflag", "n_total", ok.alias("within_bound"))


@query(
    "q239_interval_range_frame",
    oracle="""
    SELECT o_orderkey,
           cast(count(*) OVER w as bigint) AS n_7d,
           cast(sum(cast(round(o_totalprice * 100) as bigint)) OVER w as bigint)
             AS cents_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
    """,
    tags=("relational", "window"),
)
def q239_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based RANGE frame — trailing 7-day order count and spend
    per customer via ``RANGE BETWEEN INTERVAL 7 DAYS PRECEDING``: the
    frame boundary is a TIME offset, not a row count, so it is
    tie-stable by construction (peers share a frame) and deterministic
    with no tiebreak column — the property ROWS frames can't give on
    a timestamp order with duplicates. Partitioned by customer: many
    small parallel frames, never a global sort."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__q239_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               count(*) OVER w AS n_7d,
               sum(cast(round(o_totalprice * 100) as bigint)) OVER w AS cents_7d
        FROM __q239_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "q240_aes_roundtrip",
    oracle="""
    SELECT p_partkey, p_name,
           cast((length(p_name) // 16 + 1) * 16 as bigint) AS cipher_len,
           true AS roundtrip_ok
    FROM part
    """,
    tags=("relational", "crypto"),
)
def q240_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round trip — ``aes_encrypt``/
    ``aes_decrypt`` (the at-rest protection layer a PII pipeline wraps
    around q97's redaction): decrypt(encrypt(x)) must return x exactly,
    and the ECB ciphertext length must equal the PKCS7 padding
    arithmetic (16·(⌊len/16⌋+1)) — both VALUE-checked by the oracle,
    which computes the same padding math without needing AES. ECB keeps
    the check deterministic; production uses GCM (random IV), same
    expressions."""
    key = "0123456789abcdef"
    p = table(spark, sf_dir, "part")
    enc = F.expr(f"aes_encrypt(p_name, '{key}', 'ECB')")
    dec = F.expr(
        f"cast(aes_decrypt(aes_encrypt(p_name, '{key}', 'ECB'), '{key}', 'ECB') as string)"
    )
    return p.select(
        "p_partkey",
        "p_name",
        F.length(enc).cast("bigint").alias("cipher_len"),
        (dec == F.col("p_name")).alias("roundtrip_ok"),
    )


@query(
    "q241_sql_pivot",
    oracle="""
    SELECT o_orderpriority,
           cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) as bigint) AS n_open,
           cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) as bigint) AS n_finished,
           cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) as bigint) AS n_pending
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "reshape"),
)
def q241_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT syntax (q33 covers the DataFrame ``.pivot()`` API;
    this is the ANSI-ish surface) — long→wide with an explicit IN list,
    which is what keeps it scale-safe: the output width is DECLARED,
    not discovered, so no extra distinct-scan pass and no unbounded
    column explosion. Counts land in one hash aggregate, same plan as
    the oracle's conditional sums."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__q241_orders")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT o_orderpriority, o_orderstatus FROM __q241_orders
        ) PIVOT (
          count(*) FOR o_orderstatus IN ('O' AS n_open, 'F' AS n_finished, 'P' AS n_pending)
        )
        """
    ).select(
        "o_orderpriority",
        F.coalesce("n_open", F.lit(0)).alias("n_open"),
        F.coalesce("n_finished", F.lit(0)).alias("n_finished"),
        F.coalesce("n_pending", F.lit(0)).alias("n_pending"),
    )


@query(
    "q246_window_analytic_battery",
    oracle="""
    WITH x AS (
      SELECT o_custkey, o_orderkey,
             cast(round(o_totalprice * 100) as bigint) AS cents,
             CASE WHEN o_orderstatus = 'F'
                  THEN cast(round(o_totalprice * 100) as bigint) END AS f_cents
      FROM orders
    )
    SELECT o_orderkey,
           cast(nth_value(o_orderkey, 2)
                  OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                as bigint) AS second_biggest_order,
           first_value(f_cents IGNORE NULLS)
             OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS top_finished_cents,
           lag(f_cents IGNORE NULLS)
             OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey)
             AS prev_finished_cents,
           lag(cents, 1, -1)
             OVER (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey)
             AS prev_cents_or_default
    FROM x
    """,
    tags=("relational", "window"),
)
def q246_window_analytic_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytic battery 2 — the IGNORE NULLS / nth_value surface
    q20's lag-lead battery leaves uncovered: nth_value over the full
    frame (the per-group second-place readout), first_value/lag with
    IGNORE NULLS (carry the latest non-null measurement past gaps —
    the sparse-sensor idiom) and lag with an explicit default. Every
    frame is customer-partitioned under a unique (cents, key) total
    order, so NULL-skipping semantics are deterministic and both
    engines agree bit-for-bit."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__q246_orders")
    # lag(... IGNORE NULLS) has no PySpark Column API — SQL surface
    return spark.sql(
        """
        WITH x AS (
          SELECT o_custkey, o_orderkey,
                 cast(round(o_totalprice * 100) as bigint) AS cents,
                 CASE WHEN o_orderstatus = 'F'
                      THEN cast(round(o_totalprice * 100) as bigint) END AS f_cents
          FROM __q246_orders
        )
        SELECT o_orderkey,
               cast(nth_value(o_orderkey, 2) OVER wf as bigint) AS second_biggest_order,
               first_value(f_cents) IGNORE NULLS OVER wf AS top_finished_cents,
               lag(f_cents) IGNORE NULLS OVER w AS prev_finished_cents,
               lag(cents, 1, -1) OVER w AS prev_cents_or_default
        FROM x
        WINDOW w AS (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY cents DESC, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """
    )


@query(
    "q279_winsorized_stats",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag AS flag,
             cast(round(l_extendedprice * 100) as bigint) AS c
      FROM lineitem
    ), vc AS (
      SELECT flag, c, count(*) AS cnt FROM cents GROUP BY flag, c
    ), cum AS (
      SELECT flag, c, cnt,
             sum(cnt) OVER (PARTITION BY flag ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS cum_cnt
      FROM vc
    ), n AS (
      SELECT flag, sum(cnt) AS n FROM vc GROUP BY flag
    ), cuts AS (
      SELECT n.flag,
             min(CASE WHEN cum.cum_cnt >= ceil(0.05 * n.n) THEN cum.c END) AS lo,
             min(CASE WHEN cum.cum_cnt >= ceil(0.95 * n.n) THEN cum.c END) AS hi
      FROM n JOIN cum ON n.flag = cum.flag GROUP BY n.flag
    )
    SELECT c.flag,
           cast(count(*) as bigint) AS n,
           cast(k.lo as bigint) AS lo_cents,
           cast(k.hi as bigint) AS hi_cents,
           cast(sum(least(greatest(c.c, k.lo), k.hi)) as bigint)
             AS winsorized_cents,
           cast(sum(CASE WHEN c.c < k.lo OR c.c > k.hi THEN 1 ELSE 0 END)
                as bigint) AS n_clipped
    FROM cents c JOIN cuts k ON c.flag = k.flag
    GROUP BY c.flag, k.lo, k.hi
    """,
    tags=("relational", "stats", "robust"),
)
def q279_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED robust statistics — q119 FLAGS outliers; winsorizing
    CLIPS them (the feature-engineering standard when you must keep
    every row but tame the tail): per-group p05/p95 cut points from
    the count-based DISCRETE percentile (q232's ⌈q·n⌉ rule — data
    values, so clipping stays in exact integer cents), then the
    clipped sum and clip count in one broadcast-join pass. The
    winsorized total is order-proof integer arithmetic end to end —
    no float mean anywhere."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    vc = li.groupBy("flag", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("flag").orderBy("c").rowsBetween(W.unboundedPreceding, 0)
    cum = vc.withColumn("cum_cnt", F.sum("cnt").over(w))
    n = vc.groupBy("flag").agg(F.sum("cnt").alias("n"))
    j = cum.join(F.broadcast(n), "flag")

    def cut(p: float) -> F.Column:
        return F.min(
            F.when(F.col("cum_cnt") >= F.ceil(F.lit(p) * F.col("n")), F.col("c"))
        )

    cuts = j.groupBy("flag").agg(cut(0.05).alias("lo"), cut(0.95).alias("hi"))
    clipped = li.join(F.broadcast(cuts), "flag")
    return clipped.groupBy("flag", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))).alias(
            "winsorized_cents"
        ),
        F.sum(
            F.when((F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi")), 1).otherwise(0)
        ).alias("n_clipped"),
    ).select(
        "flag",
        "n",
        F.col("lo").cast("bigint").alias("lo_cents"),
        F.col("hi").cast("bigint").alias("hi_cents"),
        "winsorized_cents",
        "n_clipped",
    )


@query(
    "q284_spearman_rank_corr",
    oracle="""
    WITH r AS (
      SELECT p_partkey,
             row_number() OVER (ORDER BY p_retailprice, p_partkey) AS rp,
             row_number() OVER (ORDER BY p_size, p_partkey) AS rs
      FROM part
    )
    SELECT cast(count(*) as bigint) AS n,
           round(1 - 6.0 * sum((rp - rs) * (rp - rs))
                     / (count(*) * (cast(count(*) as double) * count(*) - 1)), 9)
             AS spearman_rho
    FROM r
    """,
    tags=("relational", "stats"),
)
def q284_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation — the monotone-association measure
    q100's Pearson misses (robust to any monotone transform and to
    outliers): both variables reduced to ranks under deterministic
    (value, key) total orders, then ρ = 1 − 6Σd²/(n(n²−1)) — Σd² is an
    exact integer, the formula one IEEE expression. Rank windows are
    global here for the closed-form tie-free formula (fixture keys
    break all ties); the billion-row path ranks via
    operators/ranking.py's distributed global row number — same
    semantics, no single-partition sort — and q226 already exercises
    exactly that substitution."""
    from ..operators.ranking import global_row_number

    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    rp = global_row_number(p, ["p_retailprice", "p_partkey"], out_col="rp")
    rs = global_row_number(
        p.select("p_partkey", "p_size"), ["p_size", "p_partkey"], out_col="rs"
    )
    r = rp.select("p_partkey", "rp").join(rs.select("p_partkey", "rs"), "p_partkey")
    return r.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            1
            - 6.0
            * F.sum((F.col("rp") - F.col("rs")) * (F.col("rp") - F.col("rs")))
            / (
                F.count(F.lit(1))
                * (F.count(F.lit(1)).cast("double") * F.count(F.lit(1)) - 1)
            ),
            9,
        ).alias("spearman_rho"),
    )


@query(
    "q286_target_encoding",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             cast(round(o_totalprice * 100) as bigint) AS y
      FROM orders
    ), stats AS (
      SELECT cat, sum(y) AS s, count(*) AS n FROM base GROUP BY cat
    ), prior AS (
      SELECT sum(y) / cast(count(*) as double) AS mu FROM base
    )
    SELECT b.o_orderkey, b.cat,
           round((s.s + 20 * p.mu) / (s.n + 20.0), 6) AS smoothed_enc,
           round(CASE WHEN s.n > 1
                      THEN (s.s - b.y) / cast(s.n - 1 as double) END, 6)
             AS loo_enc
    FROM base b JOIN stats s ON b.cat = s.cat CROSS JOIN prior p
    WHERE b.o_orderkey % 11 = 0
    """,
    tags=("relational", "feature-eng"),
)
def q286_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGET ENCODING — the categorical-feature workhorse with its two
    leakage defenses side by side: SMOOTHED encoding ((Σy + m·μ)/(n+m),
    m=20 — shrinks rare categories toward the global prior) and
    LEAVE-ONE-OUT ((Σy − y_i)/(n−1) — removes the row's own target
    from its feature, the direct leakage fix). Category stats are one
    aggregation broadcast back onto the rows; every numerator is an
    exact integer and each encoding is a single IEEE division —
    deterministic without any fold ordering concern."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    stats = base.groupBy("cat").agg(F.sum("y").alias("s"), F.count(F.lit(1)).alias("n"))
    prior = base.agg(
        (F.sum("y") / F.count(F.lit(1)).cast("double")).alias("mu")
    )
    j = (
        base.filter(F.col("o_orderkey") % 11 == 0)
        .join(F.broadcast(stats), "cat")
        .join(F.broadcast(prior), F.lit(True))
    )
    return j.select(
        "o_orderkey",
        "cat",
        F.round((F.col("s") + 20 * F.col("mu")) / (F.col("n") + F.lit(20.0)), 6).alias(
            "smoothed_enc"
        ),
        F.round(
            F.when(
                F.col("n") > 1,
                (F.col("s") - F.col("y")) / (F.col("n") - 1).cast("double"),
            ),
            6,
        ).alias("loo_enc"),
    )


@query(
    "q303_subquery_battery",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal as decimal(12,2))) as double)
                                 / count(*) FROM customer))            AS n_above_global,
      (SELECT count(*) FROM customer c
       WHERE c_acctbal > (SELECT cast(sum(cast(c2.c_acctbal as decimal(12,2))) as double)
                                 / count(*)
                          FROM customer c2
                          WHERE c2.c_nationkey = c.c_nationkey))       AS n_above_nation,
      (SELECT count(*) FROM customer
       WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                             WHERE n_regionkey = 2))                   AS n_in_region2,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderdate >= TIMESTAMP '2000-06-01')) AS n_dormant,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                                           ELSE o_custkey END
                               FROM orders
                               WHERE o_orderdate >= TIMESTAMP '2000-06-01')) AS n_notin_with_nulls
    """,
    tags=("sql", "subquery"),
)
def q303_subquery_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL subquery battery — the five predicate-subquery forms on one
    row of counts: uncorrelated scalar (global average), CORRELATED
    scalar (same-nation average, decorrelated by Catalyst into an
    aggregate + join), uncorrelated IN, NOT IN over a null-free list
    (null-aware anti join), and NOT IN over a list CONTAINING NULLs —
    which by three-valued logic can never be true, so its count is
    provably 0 in both engines; the battery pins that Spark and DuckDB
    agree on that trap. Averages use the decimal-money protocol."""
    for t in ("customer", "nation", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM v_customer
           WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal as decimal(12,2))) as double)
                                     / count(*) FROM v_customer))      AS n_above_global,
          (SELECT count(*) FROM v_customer c
           WHERE c_acctbal > (SELECT cast(sum(cast(c2.c_acctbal as decimal(12,2))) as double)
                                     / count(*)
                              FROM v_customer c2
                              WHERE c2.c_nationkey = c.c_nationkey))   AS n_above_nation,
          (SELECT count(*) FROM v_customer
           WHERE c_nationkey IN (SELECT n_nationkey FROM v_nation
                                 WHERE n_regionkey = 2))               AS n_in_region2,
          (SELECT count(*) FROM v_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM v_orders
                                   WHERE o_orderdate >= TIMESTAMP '2000-06-01')) AS n_dormant,
          (SELECT count(*) FROM v_customer
           WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                                               ELSE o_custkey END
                                   FROM v_orders
                                   WHERE o_orderdate >= TIMESTAMP '2000-06-01')) AS n_notin_with_nulls
        """
    )


@query(
    "q308_skyline_pareto_front",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_partkey
    """,
    tags=("analytic", "skyline"),
)
def q308_skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-front operator (Börzsönyi et al., ICDE 2001) —
    the non-dominated set under (minimize price, maximize size). The
    oracle is the O(n²) NOT-EXISTS dominance definition; the Spark plan
    is the scalable staircase formulation: collapse to one row per
    distinct price with the group's max size (domain-sized, not
    data-sized), run a DISTRIBUTED exclusive prefix-max over the price
    order (operators/ranking.py::global_prefix_max — no single-partition
    window), and a point survives iff its size equals its price-group
    maximum AND that maximum strictly beats every strictly-cheaper
    group's best. Equal (price,size) duplicates all survive — dominance
    requires strictness somewhere — which the staircase reproduces
    exactly. Cost at 100 TB: one domain-sized aggregation, one
    range-partitioned scan of that domain, one broadcast join back."""
    from ..operators.ranking import global_prefix_max

    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    stair = global_prefix_max(
        per_price, ["price"], "msize", "best_cheaper", exclusive=True
    )
    frontier = stair.filter(
        F.col("best_cheaper").isNull() | (F.col("msize") > F.col("best_cheaper"))
    )
    return (
        p.join(
            F.broadcast(frontier),
            (p.p_retailprice == F.col("price")) & (p.p_size == F.col("msize")),
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


@query(
    "q309_join_cardinality_estimate",
    oracle="""
    WITH spec AS (
      SELECT cast(ceil(max(c_custkey) / 16.0) as bigint) AS width FROM customer
    ), o_stats AS (
      SELECT cast((o_custkey - 1) // width as int) AS bucket,
             count(*) AS n_orders,
             cast(count(DISTINCT o_custkey) as bigint) AS d_orders
      FROM orders, spec GROUP BY bucket
    ), c_stats AS (
      SELECT cast((c_custkey - 1) // width as int) AS bucket,
             count(*) AS n_cust,
             cast(count(DISTINCT c_custkey) as bigint) AS d_cust
      FROM customer, spec
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY bucket
    ), actual AS (
      SELECT cast((o_custkey - 1) // width as int) AS bucket, count(*) AS n_actual
      FROM orders JOIN customer ON o_custkey = c_custkey, spec
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY bucket
    )
    SELECT o.bucket, o.n_orders, o.d_orders, c.n_cust,
           cast(o.n_orders as double) * c.n_cust
             / greatest(o.d_orders, c.d_cust) AS est_rows,
           coalesce(a.n_actual, 0) AS actual_rows
    FROM o_stats o
    JOIN c_stats c ON o.bucket = c.bucket
    LEFT JOIN actual a ON o.bucket = a.bucket
    ORDER BY o.bucket
    """,
    tags=("analytic", "optimizer-stats"),
)
def q309_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM-BASED JOIN CARDINALITY ESTIMATION — the cost-based-
    optimizer primitive (System R lineage; Spark's CBO keeps the same
    per-column histograms via ANALYZE TABLE): both join sides are
    summarized into aligned 16-bucket equi-width key histograms
    (rows + distinct keys per bucket), the per-bucket containment
    estimate n₁·n₂ / max(d₁,d₂) is one IEEE expression over exact
    integers, and the TRUE per-bucket join size rides alongside so the
    estimator's error is itself the verified output. The stats passes
    are narrow aggregations (histograms are bucket-sized, not
    data-sized); only the ground-truth join touches full data."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    width = c.agg(
        F.ceil(F.max("c_custkey") / F.lit(16.0)).cast("bigint").alias("width")
    )
    cb = c.filter(F.col("c_mktsegment") == "BUILDING")
    o_stats = (
        o.join(F.broadcast(width), F.lit(True))
        .groupBy(
            F.expr("cast((o_custkey - 1) div width as int)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("d_orders"),
        )
    )
    c_stats = (
        cb.join(F.broadcast(width), F.lit(True))
        .groupBy(
            F.expr("cast((c_custkey - 1) div width as int)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.countDistinct("c_custkey").alias("d_cust"),
        )
    )
    actual = (
        o.join(cb, o.o_custkey == cb.c_custkey)
        .join(F.broadcast(width), F.lit(True))
        .groupBy(
            F.expr("cast((o_custkey - 1) div width as int)").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_actual"))
    )
    stats = o_stats.alias("o").join(
        c_stats.withColumnsRenamed({"bucket": "cb_"}), F.col("bucket") == F.col("cb_")
    )
    return (
        stats.join(
            actual.withColumnsRenamed({"bucket": "ab_"}),
            F.col("bucket") == F.col("ab_"),
            "left",
        )
        .select(
            "bucket",
            "n_orders",
            "d_orders",
            "n_cust",
            (
                F.col("n_orders").cast("double")
                * F.col("n_cust")
                / F.greatest("d_orders", "d_cust")
            ).alias("est_rows"),
            F.coalesce("n_actual", F.lit(0)).alias("actual_rows"),
        )
        .orderBy("bucket")
    )


@query(
    "q315_clustering_coefficient",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey AND a.l_orderkey <= 600 AND b.l_orderkey <= 600
    ), deg AS (
      SELECT node, cast(count(*) as bigint) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node
    ), tri_nodes AS (
      SELECT node, cast(count(*) as bigint) AS n_tri
      FROM (
        SELECT unnest([e1.u, e1.v, e2.v]) AS node
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
      )
      GROUP BY node
    )
    SELECT d.node, d.degree, coalesce(t.n_tri, 0) AS n_triangles,
           round(2.0 * coalesce(t.n_tri, 0) / (d.degree * (d.degree - 1)), 6)
             AS clustering_coeff
    FROM deg d LEFT JOIN tri_nodes t ON d.node = t.node
    WHERE d.degree >= 2
    ORDER BY d.degree DESC, d.node
    LIMIT 20
    """,
    tags=("graph", "join"),
)
def q315_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT (Watts–Strogatz) per node —
    completes the per-node view q208's global triangle count lacks:
    cc(v) = 2·T(v) / deg(v)(deg(v)−1), how close each part's
    co-purchase neighborhood is to a clique. Same canonically-oriented
    (u<v) edge set and wedge-close join as q208, but every triangle is
    EXPLODED back to its three corners before a per-node count; degrees
    come from one union-all aggregation. The coefficient is one IEEE
    division per output row over exact integers. Top-20 under a
    (degree, node) total order."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)
    e = (
        li.alias("a")
        .join(li.alias("b"), F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri_nodes = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.u"), F.col("e1.v"), F.col("e2.v"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_tri", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy(F.col("degree").desc(), "node")
        .limit(20)
    )


@query(
    "q316_rollup_topk_window",
    oracle="""
    WITH g AS (
      SELECT coalesce(c_mktsegment, 'ALL') AS seg,
             coalesce(o_orderpriority, 'ALL') AS prio,
             grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS gid,
             sum(cast(o_totalprice as decimal(14,2))) AS rev,
             count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
    ), ranked AS (
      SELECT gid, seg, prio, rev, n_orders,
             row_number() OVER (PARTITION BY gid
                                ORDER BY rev DESC, seg, prio) AS rnk
      FROM g
    )
    SELECT gid, seg, prio, cast(rev as double) AS revenue, n_orders, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY gid, rnk
    """,
    tags=("agg", "window"),
)
def q316_rollup_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOW-OVER-ROLLUP top-k (the TPC-DS Q67 shape): one ROLLUP
    pass produces every grouping level, then a rank window PARTITIONED
    BY grouping_id selects the top groups WITHIN each level — best
    (segment, priority) cells, best segments, and the grand total, all
    from a single aggregation. The window partitions are
    grouping-level-sized (bounded by the dimension domains, never
    data-sized); revenue is compared for ranking in EXACT decimal and
    cast to double only on output; rolled-up NULLs are canonicalized to
    'ALL' so both engines agree on tiebreak ordering."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .rollup("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(dec("o_totalprice", 14, 2)).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "gid",
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("seg"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "rev",
            "n_orders",
        )
    )
    w = W.partitionBy("gid").orderBy(F.col("rev").desc(), "seg", "prio")
    return (
        g.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "gid", "seg", "prio",
            F.col("rev").cast("double").alias("revenue"),
            "n_orders", "rnk",
        )
        .orderBy("gid", "rnk")
    )


@query(
    "q321_shipping_sla_report",
    oracle="""
    WITH lateness AS (
      SELECT o_orderpriority,
             date_diff('day', cast(o_orderdate as date), cast(l_shipdate as date))
               AS days_to_ship
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= o_orderdate
    )
    SELECT o_orderpriority,
           cast(count(*) as bigint) AS n_lines,
           round(quantile_cont(days_to_ship, 0.5), 6) AS p50_days,
           round(quantile_cont(days_to_ship, 0.95), 6) AS p95_days,
           cast(max(days_to_ship) as bigint) AS max_days,
           cast(count(*) FILTER (WHERE days_to_ship <= 30) * 1000000 // count(*)
                as bigint) AS within_30d_ppm
    FROM lateness GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("agg", "sla"),
)
def q321_shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-TO-SHIP SLA report — the operational percentile dashboard
    per priority class: p50/p95 days-to-ship (exact interpolated
    percentiles over INTEGER day diffs — the (n-1)p convention q119
    verified bitwise-identical across engines), worst case, and the
    30-day attainment rate in exact integer ppm. One orderkey-keyed
    join and one grouped percentile pass; priorities bound the group
    count at any scale."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lateness = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("days_to_ship"),
        )
    )
    return (
        lateness.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.percentile("days_to_ship", 0.5), 6).alias("p50_days"),
            F.round(F.percentile("days_to_ship", 0.95), 6).alias("p95_days"),
            F.max("days_to_ship").cast("bigint").alias("max_days"),
            F.expr(
                "count_if(days_to_ship <= 30) * 1000000 div count(*)"
            ).alias("within_30d_ppm"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q322_abc_xyz_matrix",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint) AS cents
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, cents,
             cast(sum(cents) OVER (ORDER BY cents DESC, l_partkey) as bigint) AS cum,
             cast(sum(cents) OVER () as bigint) AS total
      FROM rev
    ), abc AS (
      SELECT l_partkey,
             CASE WHEN (cum - cents) * 100 < total * 80 THEN 'A'
                  WHEN (cum - cents) * 100 < total * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    ), weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             cast(sum(cast(l_quantity as bigint)) as bigint) AS q
      FROM lineitem GROUP BY l_partkey, wk
    ), var_stats AS (
      SELECT l_partkey,
             cast(count(*) as bigint) AS n_wk,
             cast(sum(q) as bigint) AS s1,
             cast(sum(q * q) as bigint) AS s2
      FROM weekly GROUP BY l_partkey
    ), xyz AS (
      SELECT l_partkey,
             CASE WHEN 4 * (n_wk * s2 - s1 * s1) < s1 * s1 THEN 'X'
                  WHEN (n_wk * s2 - s1 * s1) < s1 * s1 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM var_stats
    )
    SELECT a.abc_class, x.xyz_class,
           cast(count(*) as bigint) AS n_parts
    FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
    GROUP BY a.abc_class, x.xyz_class
    ORDER BY a.abc_class, x.xyz_class
    """,
    tags=("analytic", "inventory"),
)
def q322_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ CLASSIFICATION MATRIX — the inventory-planning grid
    crossing q228's value concentration (A/B/C by pre-item cumulative
    revenue share, distributed prefix-sum, exact integers) with demand
    VARIABILITY (X/Y/Z by coefficient of variation of weekly
    quantities). The CV thresholds never touch a float: cv < ½ ⟺
    4(nΣq²−(Σq)²) < (Σq)², cv < 1 ⟺ nΣq²−(Σq)² < (Σq)² — pure integer
    inequalities from exact power sums. Two narrow aggregation passes
    + one partkey-aligned join; the 9-cell output is constant-size at
    any scale."""
    from ..operators.ranking import TOTAL_COL, global_prefix_sum, pin_cache

    li = table(spark, sf_dir, "lineitem")
    # pinned: repartitionByRange's sampling pass re-executes the input
    # subtree before the shuffle does — the fact-table aggregation
    # above would run twice without the cut. (An r12 A/B of deriving
    # both legs from one (partkey, week) rollup measured WORSE —
    # 2.1 -> 3.0 s — the finer-grain first agg plus the pin outweigh
    # the saved second scan at this width; two narrow scans stand.)
    rev = pin_cache(
        li.groupBy("l_partkey").agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents")
        )
    )
    ranked = global_prefix_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        out_col="cum",
        with_total=True,
    )
    prior = F.col("cum") - F.col("cents")
    abc = ranked.select(
        "l_partkey",
        F.when(prior * 100 < F.col(TOTAL_COL) * 80, "A")
        .when(prior * 100 < F.col(TOTAL_COL) * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    var_stats = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_wk"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    num = F.col("n_wk") * F.col("s2") - F.col("s1") * F.col("s1")
    xyz = var_stats.select(
        "l_partkey",
        F.when(4 * num < F.col("s1") * F.col("s1"), "X")
        .when(num < F.col("s1") * F.col("s1"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


@query(
    "q323_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM rev
    ), sums AS (
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(cents) as decimal(38,0)) AS t,
             cast(sum(cast(i as decimal(38,0)) * cents) as decimal(38,0)) AS s1
      FROM ranked
    )
    SELECT n AS n_customers,
           cast(t as bigint) AS total_cents,
           round(2.0 * cast(s1 as double) / (n * cast(t as double))
                 - (n + 1.0) / n, 6) AS gini
    FROM sums
    """,
    tags=("analytic", "statistics"),
)
def q323_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of revenue concentration — the single-number
    skew readout behind 'top 1% of customers drive X%' claims (and the
    same shape as token-frequency concentration in corpus analysis):
    G = 2Σᵢ i·xᵢ/(nΣx) − (n+1)/n over ascending per-customer cents.
    Ranks come from the DISTRIBUTED global row number (total order:
    cents, custkey); Σi·xᵢ accumulates in decimal(38,0) — exact far
    past the bigint overflow point of rank×cents products at cluster
    scale — and the final formula is one IEEE expression per the
    one-row output."""
    from ..operators.ranking import global_row_number

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    ranked = global_row_number(rev, [F.col("cents").asc(), F.col("o_custkey").asc()], "i")
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("t"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    return sums.select(
        F.col("n").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_cents"),
        F.round(
            2.0 * F.col("s1").cast("double") / (F.col("n") * F.col("t").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "q334_ks_two_sample",
    oracle="""
    WITH a AS (
      SELECT cast(round(o_totalprice * 100) as bigint) AS v FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ), b AS (
      SELECT cast(round(o_totalprice * 100) as bigint) AS v FROM orders
      WHERE o_orderpriority = '5-LOW'
    ), na AS (SELECT cast(count(*) as bigint) AS n1 FROM a),
       nb AS (SELECT cast(count(*) as bigint) AS n2 FROM b),
    counts AS (
      SELECT v,
             cast(count(*) FILTER (WHERE side = 'a') as bigint) AS ca,
             cast(count(*) FILTER (WHERE side = 'b') as bigint) AS cb
      FROM (SELECT v, 'a' AS side FROM a UNION ALL SELECT v, 'b' FROM b)
      GROUP BY v
    ), cum AS (
      SELECT v,
             cast(sum(ca) OVER (ORDER BY v) as bigint) AS cum_a,
             cast(sum(cb) OVER (ORDER BY v) as bigint) AS cum_b
      FROM counts
    )
    SELECT n1 AS n_urgent, n2 AS n_low,
           cast(max(abs(cum_a * n2 - cum_b * n1)) as bigint) AS d_numerator,
           round(cast(max(abs(cum_a * n2 - cum_b * n1)) as double) / (n1 * n2), 6)
             AS ks_d,
           round(1.36 * sqrt((n1 + cast(n2 as double)) / (n1 * cast(n2 as double))), 6)
             AS crit_05,
           cast(max(abs(cum_a * n2 - cum_b * n1)) as double) / (n1 * n2)
             > 1.36 * sqrt((n1 + cast(n2 as double)) / (n1 * cast(n2 as double)))
             AS reject_same_dist
    FROM cum CROSS JOIN na CROSS JOIN nb
    GROUP BY n1, n2
    """,
    tags=("analytic", "statistics"),
)
def q334_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST, computed EXACTLY — the
    distribution-free companion to the binned drift metrics (PSI q282,
    TV, KL q247): D = max|F₁−F₂| found in pure integers by
    cross-multiplying cumulative counts (|cum₁·n₂ − cum₂·n₁|, one max,
    ONE division at the end), so the supremum over every jump point is
    exact — no binning approximation, no float accumulation. The ECDFs
    ride the DISTRIBUTED prefix-sum over the per-value count table
    (value-domain-sized, cents ≤ 10⁷ distinct at any fact scale); the
    α=0.05 asymptotic critical value and reject flag are one IEEE
    expression on the one-row output."""
    from ..operators.ranking import global_prefix_sum

    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(cents.alias("v"))
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select(cents.alias("v"))
    # deliberately NOT pinned (measured): the range partitioner's
    # sampling pass does re-run this union+agg, but the count table is
    # value-domain-sized (cents ≤ 10⁷ distinct at any fact scale, the
    # docstring's point) and the re-aggregation is map-side-combined —
    # cheaper than materializing the cache at every scale tested,
    # unlike the row-domain inputs pinned in q132/q167/q322
    counts = (
        a.withColumn("side", F.lit("a"))
        .unionByName(b.withColumn("side", F.lit("b")))
        .groupBy("v")
        .agg(
            F.count_if(F.col("side") == "a").cast("bigint").alias("ca"),
            F.count_if(F.col("side") == "b").cast("bigint").alias("cb"),
        )
    )
    # both ECDFs in ONE range exchange (multi-column prefix sum)
    cum = global_prefix_sum(counts, ["v"], ["ca", "cb"], out_col=["cum_a", "cum_b"])
    na = a.agg(F.count(F.lit(1)).alias("n1"))
    nb = b.agg(F.count(F.lit(1)).alias("n2"))
    dnum = F.max(F.abs(F.col("cum_a") * F.col("n2") - F.col("cum_b") * F.col("n1")))
    base = (
        cum.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .groupBy("n1", "n2")
        .agg(dnum.cast("bigint").alias("d_numerator"))
    )
    n1d, n2d = F.col("n1"), F.col("n2").cast("double")
    ks_d = F.col("d_numerator").cast("double") / (F.col("n1") * F.col("n2"))
    crit = F.lit(1.36) * F.sqrt((F.col("n1") + n2d) / (F.col("n1") * n2d))
    return base.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        "d_numerator",
        F.round(ks_d, 6).alias("ks_d"),
        F.round(crit, 6).alias("crit_05"),
        (ks_d > crit).alias("reject_same_dist"),
    )


@query(
    "q357_grouped_quantile_scalable",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             cast(round(l_extendedprice * 100) as bigint) AS cents
      FROM lineitem
    )
    SELECT l_returnflag,
           quantile_cont(cents, 0.25) AS q25,
           quantile_cont(cents, 0.50) AS q50,
           quantile_cont(cents, 0.75) AS q75,
           cast(count(*) as bigint) AS n
    FROM c GROUP BY l_returnflag
    """,
    tags=("analytic", "percentile", "scale"),
)
def q357_grouped_quantile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quartiles with NO group-sized task — the
    few-heavy-groups percentile regime done scalably. Spark's builtin
    ``percentile`` (q119/q232) merges each group's whole value→count
    map in ONE reducer: correct until a handful of groups span the
    fact table, then that task holds a group-sized map and sorts it
    alone — the canonical 100 TB OOM. ``grouped_quantile_cont``
    (operators/ranking.py) instead goes counts → range-partitioned
    distributed prefix sum → rank-cover filter (≤2 surviving rows per
    group and quantile) → interpolation with Spark ``Percentile``'s
    verbatim arithmetic, so every stage stays wide and the whole
    quartile battery shares ONE counts/prefix pass (multi-p form).
    Integer cents make each interpolated quartile an exact dyadic
    fraction — bitwise equal on both engines (q232's protocol). The
    builtin stays faster when groups are many and small; this is the
    exact path when they aren't. Compare q112 (GK sketch) for the
    approximate alternative."""
    from ..operators.ranking import grouped_quantile_cont

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    return grouped_quantile_cont(
        li, ["l_returnflag"], "cents", [0.25, 0.5, 0.75], ["q25", "q50", "q75"]
    ).select("l_returnflag", "q25", "q50", "q75", "n")


@query(
    "q365_iqr_outlier_fences",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             cast(round(l_extendedprice * 100) as bigint) AS cents
      FROM lineitem
    ), q AS (
      SELECT l_returnflag,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.75) AS q3
      FROM c GROUP BY l_returnflag
    ), f AS (
      SELECT l_returnflag, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
      FROM q
    )
    SELECT c.l_returnflag, f.q1, f.q3,
           round(f.lo_fence, 2) AS lo_fence,
           round(f.hi_fence, 2) AS hi_fence,
           cast(count(*) as bigint) AS n,
           cast(count(*) FILTER (WHERE c.cents < f.lo_fence) as bigint)
             AS n_below,
           cast(count(*) FILTER (WHERE c.cents > f.hi_fence) as bigint)
             AS n_above
    FROM c JOIN f ON c.l_returnflag = f.l_returnflag
    GROUP BY c.l_returnflag, f.q1, f.q3, f.lo_fence, f.hi_fence
    """,
    tags=("stats", "quality", "percentile", "scale"),
)
def q365_iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY IQR outlier fences, SCALABLY — q119's robust-outlier shape
    rebuilt on grouped_quantile_cont (operators/ranking.py) instead of
    the builtin percentile, making concrete the scale path q119's
    docstring cites: both quartiles come from ONE counts/prefix-sum
    pass with no group-sized task, the G-row fence frame broadcasts
    back onto the rows, and the outlier tallies are plain filtered
    counts. Exactness chain: integer cents → quartiles at p=.25/.75
    interpolate with dyadic fractions (exact doubles, q232/q357
    protocol) → 1.5·IQR and the fences stay dyadic-exact → every
    fence comparison is exact, so n_below/n_above are INTEGER-exact on
    both engines, not tolerance-matched. At 100 TB this is the
    outlier-fence job the builtin's one-reducer-per-group percentile
    cannot finish."""
    from ..operators.ranking import COUNT_COL, grouped_quantile_cont

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    q, counts = grouped_quantile_cont(
        li, ["l_returnflag"], "cents", [0.25, 0.75], ["q1", "q3"],
        return_counts=True,
    )
    q = q.select("l_returnflag", "q1", "q3")
    iqr = F.col("q3") - F.col("q1")
    fences = q.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * iqr).alias("lo_fence"),
        (F.col("q3") + 1.5 * iqr).alias("hi_fence"),
    )
    # fence tallies fold the operator's PINNED (flag, cents, cnt)
    # frame — count-weighted sums over distinct pairs are exactly the
    # raw-row filtered counts, without re-scanning lineitem and
    # re-paying the broadcast join over the fact rows (r13; the fence
    # comparisons stay integer-vs-exact-double, so the tallies remain
    # INTEGER-exact)
    return (
        counts.join(F.broadcast(fences), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.sum(COUNT_COL).alias("n"),
            F.sum(
                F.when(F.col("cents") < F.col("lo_fence"), F.col(COUNT_COL))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_below"),
            F.sum(
                F.when(F.col("cents") > F.col("hi_fence"), F.col(COUNT_COL))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_above"),
        )
        .select(
            "l_returnflag",
            "q1",
            "q3",
            F.round("lo_fence", 2).alias("lo_fence"),
            F.round("hi_fence", 2).alias("hi_fence"),
            "n",
            "n_below",
            "n_above",
        )
    )


@query(
    "q384_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey AS r, c_mktsegment AS col,
             cast(count(*) as bigint) AS obs
      FROM customer GROUP BY r, col
    ), rt AS (SELECT r, cast(sum(obs) as bigint) AS row_n FROM cells GROUP BY r),
       ct AS (SELECT col, cast(sum(obs) as bigint) AS col_n FROM cells GROUP BY col),
       nt AS (SELECT cast(sum(obs) as bigint) AS n,
                     cast(count(DISTINCT r) as bigint) AS n_rows,
                     cast(count(DISTINCT col) as bigint) AS n_cols
              FROM cells),
       terms AS (
      SELECT pow(obs - (row_n * col_n / cast(n as double)), 2)
               / (row_n * col_n / cast(n as double)) AS term,
             n, n_rows, n_cols
      FROM cells JOIN rt USING (r) JOIN ct USING (col) CROSS JOIN nt
    )
    SELECT cast(any_value(n) as bigint) AS n_total,
           cast(any_value(n_rows) as bigint) AS n_rows,
           cast(any_value(n_cols) as bigint) AS n_cols,
           round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS chi2,
           round(sqrt(list_reduce(list_sort(list(term)), (a, b) -> a + b)
                 / (any_value(n)
                    * (least(any_value(n_rows), any_value(n_cols)) - 1))), 6)
             AS cramers_v
    FROM terms
    """,
    tags=("stats", "analytic"),
)
def q384_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V — the EFFECT-SIZE companion q217's chi-square lacks:
    χ² grows with n, so at 100 TB everything is "significant"; V =
    √(χ²/(n·(min(r,c)−1))) ∈ [0,1] is the sample-size-free association
    strength between nation and market segment that survives scale-up
    (the statistic a segmentation decision actually reads). Same exact
    integer contingency cells and sorted-fold χ² as q217; V is one
    more fixed-order IEEE expression over that fold."""
    cells = (
        table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("r"), F.col("c_mktsegment").alias("col")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rt = cells.groupBy("r").agg(F.sum("obs").cast("bigint").alias("row_n"))
    ct = cells.groupBy("col").agg(F.sum("obs").cast("bigint").alias("col_n"))
    nt = cells.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.countDistinct("r").cast("bigint").alias("n_rows"),
        F.countDistinct("col").cast("bigint").alias("n_cols"),
    )
    e = F.col("row_n") * F.col("col_n") / F.col("n").cast("double")
    terms = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "col")
        .join(F.broadcast(nt), F.lit(True))
        .select(
            (F.pow(F.col("obs") - e, F.lit(2)) / e).alias("term"),
            "n",
            "n_rows",
            "n_cols",
        )
    )
    chi2 = F.aggregate(
        F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, b: a + b
    )
    return terms.agg(
        F.any_value("n").cast("bigint").alias("n_total"),
        F.any_value("n_rows").cast("bigint").alias("n_rows"),
        F.any_value("n_cols").cast("bigint").alias("n_cols"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.any_value("n")
                    * (F.least(F.any_value("n_rows"), F.any_value("n_cols")) - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q385_kendall_tau_b",
    oracle="""
    WITH cells AS (
      SELECT CASE o_orderpriority
               WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
               WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
               ELSE 5 END AS r,
             least(cast(round(o_totalprice * 100) as bigint) // 5000000, 5)
               AS c,
             cast(count(*) as bigint) AS n
      FROM orders GROUP BY r, c
    ), pairs AS (
      SELECT a.n * b.n AS w,
             CASE WHEN (a.r < b.r AND a.c < b.c)
                    OR (a.r > b.r AND a.c > b.c) THEN 1
                  WHEN (a.r < b.r AND a.c > b.c)
                    OR (a.r > b.r AND a.c < b.c) THEN -1
                  ELSE 0 END AS s,
             a.r = b.r AND a.c = b.c AS same_cell,
             a.r = b.r AS tie_r, a.c = b.c AS tie_c
      FROM cells a CROSS JOIN cells b
    ), agg AS (
      SELECT cast(sum(CASE WHEN s = 1 THEN w ELSE 0 END) // 2 as bigint) AS conc,
             cast(sum(CASE WHEN s = -1 THEN w ELSE 0 END) // 2 as bigint) AS disc,
             cast((sum(CASE WHEN tie_r THEN w ELSE 0 END)
                   - (SELECT sum(n) FROM cells)) // 2 as bigint) AS t_r,
             cast((sum(CASE WHEN tie_c THEN w ELSE 0 END)
                   - (SELECT sum(n) FROM cells)) // 2 as bigint) AS t_c,
             (SELECT cast(sum(n) as bigint) FROM cells) AS n
      FROM pairs
    )
    SELECT n, conc, disc,
           round((cast(conc as double) - disc)
                 / sqrt((cast(n as double) * (n - 1) / 2 - t_r)
                        * (cast(n as double) * (n - 1) / 2 - t_c)), 6)
             AS tau_b
    FROM agg
    """,
    tags=("stats", "analytic"),
)
def q385_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S τ-b rank correlation — the concordance complement to
    Spearman (which needs full rankings): over two ORDINAL variables
    (order priority × price band) every pair statistic collapses onto
    the CONTINGENCY TABLE — concordant/discordant/tied pair counts
    are cell-pair sums (|grid|² ≤ 30² work, NOT n² — the reason τ-b
    scales to any row count once the variables are binned), all exact
    bigints; τ-b's tie-corrected denominator is one fixed-order IEEE
    expression. Pair identities: Σ_{same r} w counts ordered pairs
    including self-pairs, so tied-pairs = (Σ − n)/2; concordant/
    discordant double-count ordered pairs, so ÷2 — integer `div`/`//`
    of even bigints on both engines (a double ÷2 loses exactness past
    2⁵³ pair counts, i.e. past ~10⁸ rows).

    Scale: ONE corpus pass builds the grid (map-side combined); the
    grid self-join is constant-size. The 100 TB version is the same
    plan with a bigger first groupBy."""
    o = table(spark, sf_dir, "orders")
    cells = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
        .alias("r"),
        F.least(
            F.expr("cast(round(o_totalprice * 100) as bigint) div 5000000"),
            F.lit(5),
        ).alias("c"),
    ).groupBy("r", "c").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = cells.select(
        F.col("r").alias("ra"), F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("r").alias("rb"), F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        (F.col("na") * F.col("nb")).alias("w"),
        F.when(
            ((F.col("ra") < F.col("rb")) & (F.col("ca") < F.col("cb")))
            | ((F.col("ra") > F.col("rb")) & (F.col("ca") > F.col("cb"))),
            1,
        )
        .when(
            ((F.col("ra") < F.col("rb")) & (F.col("ca") > F.col("cb")))
            | ((F.col("ra") > F.col("rb")) & (F.col("ca") < F.col("cb"))),
            -1,
        )
        .otherwise(0)
        .alias("s"),
        (F.col("ra") == F.col("rb")).alias("tie_r"),
        (F.col("ca") == F.col("cb")).alias("tie_c"),
    )
    total = cells.agg(F.sum("n").cast("bigint").alias("n"))
    agg = pairs.join(F.broadcast(total), F.lit(True)).agg(
        F.expr("sum(CASE WHEN s = 1 THEN w ELSE 0 END) div 2")
        .cast("bigint")
        .alias("conc"),
        F.expr("sum(CASE WHEN s = -1 THEN w ELSE 0 END) div 2")
        .cast("bigint")
        .alias("disc"),
        F.expr("(sum(CASE WHEN tie_r THEN w ELSE 0 END) - first(n)) div 2")
        .cast("bigint")
        .alias("t_r"),
        F.expr("(sum(CASE WHEN tie_c THEN w ELSE 0 END) - first(n)) div 2")
        .cast("bigint")
        .alias("t_c"),
        F.first("n").alias("n"),
    )
    half = F.col("n").cast("double") * (F.col("n") - 1) / 2
    return agg.select(
        "n",
        "conc",
        "disc",
        F.round(
            (F.col("conc").cast("double") - F.col("disc"))
            / F.sqrt((half - F.col("t_r")) * (half - F.col("t_c"))),
            6,
        ).alias("tau_b"),
    )


@query(
    "q386_theil_index",
    oracle="""
    WITH base AS (
      SELECT c_nationkey,
             cast(round(c_acctbal * 100) as bigint) AS cents
      FROM customer WHERE c_acctbal > 0
    ), tot AS (
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(cents) as bigint) AS s
      FROM base
    ), terms AS (
      SELECT (cast(cents as double) * n / s)
               * ln(cast(cents as double) * n / s) / n AS term
      FROM base, tot
    )
    SELECT (SELECT n FROM tot) AS n,
           round(list_reduce(list_sort(list(term)), (a, x) -> a + x), 6)
             AS theil_t
    FROM terms
    """,
    tags=("stats", "analytic"),
)
def q386_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T inequality index — the DECOMPOSABLE complement to the
    Gini the catalog already has: T = (1/n)·Σ (x/μ)·ln(x/μ) over
    positive balances, zero iff perfectly equal, and (unlike Gini)
    additively splittable into within-group + between-group terms —
    the property inequality-of-what-source analyses actually use.
    Exactness: x·n/s is a double ratio of EXACT integers (cents, n,
    Σcents), each term one fixed-order IEEE expression, and the sum
    folds in sorted order (the q368/q381 protocol) — value-hashed,
    not tolerance-matched. Scale: one scan + a one-row broadcast
    total; the sorted fold runs over per-row terms collected per
    group at 100 TB (swap the global fold for the per-group +
    between-group decomposition this index exists for)."""
    base = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"))
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    ratio = F.col("cents").cast("double") * F.col("n") / F.col("s")
    terms = base.join(F.broadcast(tot), F.lit(True)).select(
        (ratio * F.log(ratio) / F.col("n")).alias("term"),
        "n",
    )
    return terms.agg(
        F.first("n").alias("n"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("theil_t"),
    )


@query(
    "q387_theil_decomposition",
    oracle="""
    WITH base AS (
      SELECT c_nationkey,
             cast(round(c_acctbal * 100) as bigint) AS cents
      FROM customer WHERE c_acctbal > 0
    ), grp AS (
      SELECT c_nationkey,
             cast(count(*) as bigint) AS n_g,
             cast(sum(cents) as bigint) AS s_g
      FROM base GROUP BY c_nationkey
    ), tot AS (
      SELECT cast(sum(n_g) as bigint) AS n, cast(sum(s_g) as bigint) AS s
      FROM grp
    ), within_terms AS (
      SELECT b.c_nationkey,
             (cast(b.cents as double) * g.n_g / g.s_g)
               * ln(cast(b.cents as double) * g.n_g / g.s_g) / g.n_g AS term
      FROM base b JOIN grp g USING (c_nationkey)
    ), within AS (
      SELECT c_nationkey,
             list_reduce(list_sort(list(term)), (a, x) -> a + x) AS t_g
      FROM within_terms GROUP BY c_nationkey
    )
    SELECT g.c_nationkey,
           g.n_g,
           cast(g.s_g * 1000000 // t.s as bigint) AS income_share_ppm,
           round(w.t_g, 6) AS theil_within,
           round((cast(g.s_g as double) / t.s)
                 * ln((cast(g.s_g as double) / t.s)
                      / (cast(g.n_g as double) / t.n)), 6) AS between_term
    FROM grp g JOIN within w USING (c_nationkey) CROSS JOIN tot t
    """,
    tags=("stats", "analytic"),
)
def q387_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T within/between DECOMPOSITION — the property q386 exists
    for: T_total = Σ_g (S_g/S)·T_g + Σ_g (S_g/S)·ln((S_g/S)/(n_g/n)),
    so inequality splits exactly into "inside nations" and "between
    nations" — the answer to WHERE the inequality lives that Gini
    cannot give (additivity test vs q386's direct total pinned in
    tests/test_round8.py). Per-nation output: exact-integer income
    share (ppm floor-division), the within-group index T_g (per-group
    sorted fold over exact integer-ratio terms), and the between
    term (one fixed-order IEEE expression over four exact integers).

    Scale: one scan → per-group sufficient statistics (map-side
    combined) → per-group folds partitioned by nation; the global
    totals are a one-row broadcast. This IS the 100 TB form of q386:
    the global sorted fold shards into per-group folds plus a
    groups-sized between-term frame."""
    base = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
    )
    grp = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
    )
    ratio = F.col("cents").cast("double") * F.col("n_g") / F.col("s_g")
    within = (
        base.join(F.broadcast(grp), "c_nationkey")
        .select(
            "c_nationkey",
            (ratio * F.log(ratio) / F.col("n_g")).alias("term"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("term")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("t_g")
        )
    )
    share = F.col("s_g").cast("double") / F.col("s")
    return (
        grp.join(within, "c_nationkey")
        .join(F.broadcast(tot), F.lit(True))
        .select(
            "c_nationkey",
            "n_g",
            F.expr("s_g * 1000000 div s").cast("bigint").alias("income_share_ppm"),
            F.round("t_g", 6).alias("theil_within"),
            F.round(
                share
                * F.log(share / (F.col("n_g").cast("double") / F.col("n"))),
                6,
            ).alias("between_term"),
        )
    )


@query(
    "q402_incremental_quantile_state",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, cast(round(l_quantity) as bigint) AS qty
      FROM lineitem
    )
    SELECT l_returnflag,
           quantile_cont(qty, 0.25) AS q25,
           quantile_cont(qty, 0.50) AS q50,
           quantile_cont(qty, 0.75) AS q75,
           cast(count(*) as bigint) AS n
    FROM c GROUP BY l_returnflag
    """,
    tags=("analytic", "percentile", "incremental", "state"),
)
def q402_incremental_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION STATE — exact quantiles maintained incrementally
    across batches, the order-statistic complement of q400's distinct
    bitmaps: quantiles don't sum, but their (group, value, count)
    tables DO. History (shipments before 1997) persists as a counts
    state table — bounded by distinct (group, value) pairs (3 flags ×
    ~50 quantities), microscopic next to the fact rows it summarizes;
    an arriving batch contributes ITS OWN counts, the merge is one
    additive keyed aggregation over state ∪ batch, and
    operators/ranking.py::grouped_quantile_from_bounded_counts turns the
    merged table into exact quartiles with the q357 machinery
    (distributed prefix sum → rank-cover → builtin-verbatim
    interpolation — no group-sized task anywhere).

    The oracle recomputes quantile_cont over ALL raw rows, so the
    driver hash-checks the algebra end-to-end: counts-merge ∘ quantile
    ≡ quantile over everything ever seen, bitwise (integer values make
    every dyadic quartile interpolation exact on both engines, q357's
    protocol).

    100 TB story: this is how a daily pipeline reports corpus-lifetime
    latency/size percentiles without the classic re-scan: history
    facts are read ZERO times per refresh (plan-pinned — one lineitem
    scan, the batch slice, date filter pushed); the state shuffle is
    distinct-pair-bounded; and the quantile pass inherits q357's
    no-group-sized-task property, so a handful of heavy groups cannot
    OOM a reducer at any scale. Value domains that are continuous
    (sub-cent floats) should quantize first (cents — q357) or take the
    GK-sketch path (q112) — the counts posture needs a bounded value
    domain to stay small."""
    from ..operators.ranking import grouped_quantile_from_bounded_counts

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("bigint").alias("qty"),
        "l_shipdate",
    )

    def build(sd: str) -> None:
        (
            li.filter(F.col("l_shipdate") < "1997-01-01")
            .groupBy("l_returnflag", "qty")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .write.parquet(sd + "/quantile_counts")
        )

    state = spark.read.parquet(query_state("q402", sf_dir, build)[0] + "/quantile_counts")

    batch_counts = (
        li.filter(F.col("l_shipdate") >= "1997-01-01")
        .groupBy("l_returnflag", "qty")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    merged = state.unionByName(batch_counts)
    # bounded-domain path: the counts table is (flags × ~50 integer
    # quantities) BY CONSTRUCTION (the posture's own premise), so the
    # distributed prefix-sum machinery's range exchange + pins were
    # pure overhead here — measured 3.1 -> ~1 s at sf0.1, bitwise the
    # same quartiles (operator equality pinned in tests)
    return grouped_quantile_from_bounded_counts(
        merged,
        ["l_returnflag"],
        "qty",
        "cnt",
        [0.25, 0.5, 0.75],
        ["q25", "q50", "q75"],
    ).select("l_returnflag", "q25", "q50", "q75", "n")


# ------------------------------------------------------- round-10 wave


@query(
    "q427_rank_autocorr",
    oracle="""
    WITH daily AS (
      SELECT cast(o_orderdate as date) AS d,
             sum(cast(o_totalprice as decimal(14,2))) AS rev
      FROM orders GROUP BY 1
    ), s AS (
      SELECT d, rev, row_number() OVER (ORDER BY d) AS idx FROM daily
    ), lags AS (
      SELECT unnest([1, 2, 3, 7]) AS lag
    ), pr AS (
      SELECT l.lag, a.rev AS xa, a.d AS da, b.rev AS xb, b.d AS db
      FROM lags l JOIN s a ON true JOIN s b ON b.idx = a.idx - l.lag
    ), rk AS (
      SELECT lag,
             row_number() OVER (PARTITION BY lag ORDER BY xa, da) AS rx,
             row_number() OVER (PARTITION BY lag ORDER BY xb, db) AS ry
      FROM pr
    ), ag AS (
      SELECT lag, count(*) AS m, sum((rx - ry) * (rx - ry)) AS sd2
      FROM rk GROUP BY lag
    )
    SELECT cast(lag as int) AS lag,
           cast(m as bigint) AS m_pairs,
           cast(sd2 as bigint) AS sum_d2,
           cast(CASE WHEN m * (m * m - 1) = 0 THEN 500000
                     ELSE (2 * m * (m * m - 1) - 6 * sd2) * 1000000
                          // (2 * m * (m * m - 1)) END as bigint) AS rho01_ppm
    FROM ag
    """,
    tags=("relational", "timeseries", "statistics", "window"),
)
def q427_rank_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK AUTOCORRELATION (Spearman correlogram) — the serial twin
    of q284: for trading-day lags 1/2/3/7, Spearman's ρ between the
    daily-revenue series and its lagged self, each lag's pair sample
    re-ranked on BOTH coordinates (the exact Spearman definition —
    ranking once over the full series and differencing would not be).
    Complements q336's seasonal decomposition / q270's CUSUM with the
    distribution-free dependence measure robust to revenue outliers.

    Exactness protocol: ranks come from deterministic (value, date)
    total orders over the exact DECIMAL daily sums (never a double
    sum); Σd² is an exact integer; ρ is reported on the shifted
    integer scale rho01_ppm = ppm of (1+ρ)/2 so the single division
    is non-negative — Spark ``div`` and DuckDB ``//`` agree only
    there (they truncate toward opposite directions on negatives).
    Magnitude: 6Σd² ≤ 2m(m²−1) by the rank-reversal bound, and
    2m(m²−1)·10⁶ overflows int64 only past m ≈ 160k days — out of
    domain for a daily series.

    100 TB story: the fact scan reduces to one date-keyed partial agg
    (≤ date-domain rows — ~2.5k for seven years); the series position
    index routes through operators/ranking.py's distributed global
    row number (no single-partition sort of the raw data), the lag
    join is an equi-join on idx, and the per-lag re-rank windows are
    partitioned by lag — every stage is bounded by the DATE domain,
    not the fact table."""
    from ..operators.ranking import global_row_number, pin_cache

    o = table(spark, sf_dir, "orders")
    # pin before global_row_number: repartitionByRange's sampling pass
    # executes the input subtree once BEFORE the shuffle executes it
    # again (ranking.py's caller note, the q132 pattern) — unpinned,
    # the orders scan + date agg would run twice
    daily = pin_cache(
        o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev")
        )
    )
    s = global_row_number(daily, ["d"], out_col="idx")
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(7))).alias("lag")
    )
    a = s.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.col("rev").alias("xa"),
        F.col("d").alias("da"),
        (F.col("idx") - F.col("lag")).alias("pidx"),
    )
    b = s.select(F.col("idx").alias("pidx"), F.col("rev").alias("xb"), F.col("d").alias("db"))
    pr = a.join(b, "pidx")
    rk = pr.select(
        "lag",
        F.row_number().over(W.partitionBy("lag").orderBy("xa", "da")).alias("rx"),
        F.row_number().over(W.partitionBy("lag").orderBy("xb", "db")).alias("ry"),
    )
    ag = rk.groupBy("lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))).alias("sd2"),
    )
    return ag.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("m").cast("bigint").alias("m_pairs"),
        F.col("sd2").cast("bigint").alias("sum_d2"),
        F.expr(
            "cast(CASE WHEN m * (m * m - 1) = 0 THEN 500000"
            "     ELSE (2 * m * (m * m - 1) - 6 * sd2) * 1000000"
            "          div (2 * m * (m * m - 1)) END as bigint)"
        ).alias("rho01_ppm"),
    )


_Q425_SET = """
      SELECT o_orderkey AS k, cast(o_orderdate as date) AS s,
             cast(o_orderdate as date) + ((o_orderkey % 28) + 1)::INT AS e
      FROM orders
      WHERE o_orderpriority = '{prio}' AND year(o_orderdate) = 1995
"""


@query(
    "q425_interval_overlap_join",
    oracle=f"""
    WITH a AS ({_Q425_SET.format(prio='1-URGENT')}),
    b AS ({_Q425_SET.format(prio='5-LOW')})
    SELECT month(a.s)::INT AS mo,
           cast(count(*) as bigint) AS n_pairs,
           cast(count(DISTINCT a.k) as bigint) AS n_a,
           cast(count(DISTINCT b.k) as bigint) AS n_b
    FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
    GROUP BY 1
    """,
    tags=("join", "interval", "range"),
)
def q425_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP JOIN — the interval×interval case q209's
    bucketized point-in-range join leaves open: two independent
    interval sets (urgent-order fulfillment windows vs low-priority
    windows, 1995) joined on ``a.s ≤ b.e AND b.s ≤ a.e``. A naive
    theta join is a CartesianProduct (the catalog's one banned
    shape); the scalable plan EXPLODES each interval to the
    epoch-weeks it covers, equi-joins on the week, dedups the pair,
    and re-checks the exact predicate — identical results (the oracle
    runs the plain theta join), but the only wide operation is a
    week-keyed shuffle. Bucket width is the tuning knob: ~the median
    interval length (windows here are 1–28 days, weekly buckets ⇒
    fan-out ≤ 5 per row) keeps the explode factor O(1) while
    bounding each bucket's population — the same width-vs-population
    balance q209 documents for its point buckets.

    100 TB story: explode factor is (interval_len/bucket)+1 ≈ 2–5 —
    a narrow map; the join shuffles on week so co-occurring intervals
    meet without any pair enumeration across buckets; the pair dedup
    (one keyed distinct) bounds re-verification at one row per
    genuinely-colliding pair. Calendar-skewed weeks (quarter-end
    bursts) split further by AQE skew-join or a second-level salt —
    the q420 machinery applies unchanged."""
    o = table(spark, sf_dir, "orders")

    def intervals(prio: str, tag: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderpriority") == prio)
                & (F.year("o_orderdate") == 1995)
            )
            .select(
                F.col("o_orderkey").alias(f"{tag}k"),
                F.col("o_orderdate").cast("date").alias(f"{tag}s"),
                F.expr(
                    "date_add(cast(o_orderdate as date),"
                    " cast((o_orderkey % 28) + 1 as int))"
                ).alias(f"{tag}e"),
            )
        )

    def weeks(df: DataFrame, tag: str) -> DataFrame:
        # the start-week rides along so first_shared_wk below reuses
        # THIS formula's value instead of re-deriving it — a future
        # bucket-width change cannot fork the two and silently drop
        # overlapping pairs
        wk_s = F.expr(f"datediff({tag}s, DATE'1970-01-01') div 7")
        wk_e = F.expr(f"datediff({tag}e, DATE'1970-01-01') div 7")
        return df.select(
            "*",
            wk_s.alias(f"{tag}wk_s"),
            F.explode(F.sequence(wk_s, wk_e)).alias("wk"),
        )

    a = weeks(intervals("1-URGENT", "a"), "a")
    b = weeks(intervals("5-LOW", "b"), "b")
    # dedup-free pair emission: an overlapping pair shares exactly the
    # weeks [max(wk(as), wk(bs)), min(wk(ae), wk(be))], so keeping only
    # the join row where wk equals the FIRST shared week yields each
    # qualifying pair exactly once — the former pair-wide .distinct()
    # was a second full exchange of the joined rows for the same set
    # (and the overlap recheck now filters BEFORE any shuffle-bound op)
    first_shared_wk = F.greatest(F.col("awk_s"), F.col("bwk_s"))
    pairs = (
        a.join(b, "wk")
        .filter(
            (F.col("wk") == first_shared_wk)
            & (F.col("as") <= F.col("be"))
            & (F.col("bs") <= F.col("ae"))
        )
        .select("ak", "as", "ae", "bk", "bs", "be")
    )
    return pairs.groupBy(F.month("as").cast("int").alias("mo")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("ak").cast("bigint").alias("n_a"),
        F.count_distinct("bk").cast("bigint").alias("n_b"),
    )
