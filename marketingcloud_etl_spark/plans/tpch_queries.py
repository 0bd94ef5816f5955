"""TPC-H completion battery (SURVEY.md §2.B relational coverage).

The catalog already carries the classic scan→join→agg pipeline shapes
Q1/Q3/Q5/Q10 (q01/q77/q05/q78). This module completes the TPC-H-style
decision-support surface over the fixture star schema — every remaining
query shape the benchmark exercises that the reduced fixture schema can
express (no ``partsupp`` table and no commit/receipt dates exist, so
Q2/Q4/Q11/Q12/Q16/Q20/Q21 have no faithful analogue; their physical
shapes — EXISTS, anti-join, multi-way agg — are covered elsewhere by
q80/q40/q17):

* q293 — Q7  volume shipping between two nations (double dim role-play)
* q294 — Q8  market-share of one supplier nation inside a region
* q295 — Q9  product-line profit by supplier nation and year
* q296 — Q13 customer order-count distribution (agg-of-agg)
* q297 — Q14 promo revenue share (conditional-agg ratio)
* q298 — Q15 top supplier by quarter revenue (agg ⋈ max-of-agg)
* q299 — Q17 small-quantity lines vs 0.2× per-part average
* q300 — Q18 large-volume orders (HAVING + join-back)
* q301 — Q19 disjunctive brand/size/quantity revenue (OR-of-ANDs)
* q302 — Q22 dormant high-balance customers (anti-join vs recent orders)

Scale posture: every join keys on the natural shuffle key (orderkey /
partkey / suppkey / custkey), so at 100 TB these are plain shuffled
hash joins with AQE free to re-plan; only the constant-size ``nation``
and ``region`` dims are broadcast. All money math follows the
decimal-money protocol (functions/money.py); every LIMIT carries a
unique tiebreak; `year()` is cast to int on the oracle side because
DuckDB's year() returns BIGINT while Spark's returns INT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec
from ..io import table
from .catalog import query

_DEC_EXT = "cast(l_extendedprice as decimal(12,2))"
_DEC_DISC = "cast(l_discount as decimal(4,2))"
_DEC_QTY = "cast(l_quantity as decimal(12,2))"


def _vol() -> F.Column:
    """Exact decimal line revenue: ext * (1 - disc)."""
    return dec("l_extendedprice", 12, 2) * (
        F.lit(1.00).cast("decimal(4,2)") - dec("l_discount", 4, 2)
    )


_VOL_SQL = f"{_DEC_EXT} * (1.00 - {_DEC_DISC})"


# ---------------------------------------------------------------- Q7

@query(
    "q293_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           cast(year(l_shipdate) as int) AS yr,
           cast(sum({_VOL_SQL}) as double) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, yr
    ORDER BY supp_nation, cust_nation, yr
    """,
    tags=("tpch", "join", "agg"),
)
def q293_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping shape (TPC-H Q7): the same dimension table joined
    twice in different roles (supplier nation vs customer nation), a
    symmetric pair predicate that only binds AFTER both joins, and a
    year-bucketed revenue rollup. Nation is broadcast in both roles; the
    fact-side joins stay key-shuffled (orderkey/custkey/suppkey), so the
    plan is scale-safe at any supplier/customer cardinality."""
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(table(spark, sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
        .join(table(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(_vol()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "yr")
    )


# ---------------------------------------------------------------- Q8

@query(
    "q294_market_share",
    oracle=f"""
    SELECT yr,
           cast(nation_vol as double) AS nation_volume,
           cast(total_vol as double) AS total_volume,
           cast(nation_vol as double) / cast(total_vol as double) AS mkt_share
    FROM (
        SELECT cast(year(l_shipdate) as int) AS yr,
               sum(CASE WHEN ns.n_name = 'NATION_3' THEN {_VOL_SQL} ELSE 0 END) AS nation_vol,
               sum({_VOL_SQL}) AS total_vol
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = nc.n_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        GROUP BY yr
    )
    ORDER BY yr
    """,
    tags=("tpch", "join", "agg"),
)
def q294_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share shape (TPC-H Q8): a seven-table snowflake join where
    the region filter reaches the fact table only through two dimension
    hops, and the measure is a conditional-aggregate ratio (one nation's
    volume over everyone's) — the ELSE 0 keeps years with no NATION_3
    volume at an exact decimal zero rather than NULL. Both nation roles
    and region are broadcast; part/supplier/orders/customer joins shuffle
    on their natural keys."""
    ns = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    li = table(spark, sf_dir, "lineitem")
    vol = _vol()
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (
        li.join(
            table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(table(spark, sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
        .join(table(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(reg), F.col("c_rkey") == F.col("r_regionkey"))
    )
    agg = joined.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)).alias(
            "nation_vol"
        ),
        F.sum(vol).alias("total_vol"),
    )
    return agg.select(
        "yr",
        F.col("nation_vol").cast("double").alias("nation_volume"),
        F.col("total_vol").cast("double").alias("total_volume"),
        (
            F.col("nation_vol").cast("double") / F.col("total_vol").cast("double")
        ).alias("mkt_share"),
    ).orderBy("yr")


# ---------------------------------------------------------------- Q9

@query(
    "q295_product_profit",
    oracle=f"""
    SELECT n_name AS supp_nation, cast(year(l_shipdate) as int) AS yr,
           cast(sum({_VOL_SQL}
                    - cast(0.10 as decimal(3,2))
                      * cast(p_retailprice as decimal(12,2))
                      * {_DEC_QTY}) as double) AS profit,
           count(*) AS n_lines
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY supp_nation, yr
    ORDER BY supp_nation, yr
    """,
    tags=("tpch", "join", "agg"),
)
def q295_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit shape (TPC-H Q9): a LIKE-filtered part join
    with a derived measure mixing two fact columns and one dimension
    column (revenue minus a 10%-of-retail carrying cost — the fixture has
    no partsupp.ps_supplycost, reference Q9's cost source), rolled up by
    supplier nation and year. All arithmetic stays in exact decimal until
    the final double cast."""
    li = table(spark, sf_dir, "lineitem")
    cost = (
        F.lit(0.10).cast("decimal(3,2)")
        * dec("p_retailprice", 12, 2)
        * dec("l_quantity", 12, 2)
    )
    return (
        li.join(
            table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(table(spark, sf_dir, "supplier"), li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("l_shipdate").alias("yr"))
        .agg(
            F.sum(_vol() - cost).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "yr")
    )


# ---------------------------------------------------------------- Q13

@query(
    "q296_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "join", "agg"),
)
def q296_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-distribution shape (TPC-H Q13): aggregate-of-aggregate —
    a left outer join so order-less customers survive with count 0, a
    per-customer count, then a histogram of those counts. The second agg
    re-shuffles on the tiny c_count domain, so its exchange is a few
    dozen rows regardless of fact size."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------- Q14

@query(
    "q297_promo_share",
    oracle=f"""
    SELECT cast(promo as double) AS promo_revenue,
           cast(total as double) AS total_revenue,
           100.0 * cast(promo as double) / cast(total as double) AS promo_share_pct,
           n_lines
    FROM (
        SELECT sum(CASE WHEN p_type = 'PROMO' THEN {_VOL_SQL} ELSE 0 END) AS promo,
               sum({_VOL_SQL}) AS total,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
          AND l_shipdate <  timestamp '1997-02-01 00:00:00'
    )
    """,
    tags=("tpch", "join", "agg"),
)
def q297_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo-effect shape (TPC-H Q14): a one-month fact slice joined to
    part, reduced to a single conditional-aggregate ratio row. The date
    range predicate pushes into the parquet scan; the ratio is one double
    division of two exact decimal sums."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-02-01")
    )
    vol = _vol()
    zero = F.lit(0).cast("decimal(18,4)")
    agg = (
        li.join(table(spark, sf_dir, "part"), li.l_partkey == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).alias("promo"),
            F.sum(vol).alias("total"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return agg.select(
        F.col("promo").cast("double").alias("promo_revenue"),
        F.col("total").cast("double").alias("total_revenue"),
        (
            F.lit(100.0) * F.col("promo").cast("double") / F.col("total").cast("double")
        ).alias("promo_share_pct"),
        "n_lines",
    )


# ---------------------------------------------------------------- Q15

@query(
    "q298_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS suppkey, sum({_VOL_SQL}) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
          AND l_shipdate <  timestamp '1997-04-01 00:00:00'
        GROUP BY suppkey
    )
    SELECT s_suppkey, s_name, cast(total_rev as double) AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    tags=("tpch", "join", "agg"),
)
def q298_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-supplier shape (TPC-H Q15): a quarter-revenue aggregate joined
    against the scalar max of itself (the reference formulates this as a
    view + subquery). The max comparison happens in EXACT decimal — no
    double round-trip — so ties are bit-identical in both engines; the
    one-row max side is broadcast."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_vol()).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("max_rev"))
        .join(table(spark, sf_dir, "supplier"), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------- Q17

@query(
    "q299_small_qty_avg",
    oracle=f"""
    WITH pa AS (
        SELECT l_partkey AS pk,
               0.2 * (cast(sum({_DEC_QTY}) as double) / count(*)) AS qty_lim
        FROM lineitem GROUP BY pk
    )
    SELECT cast(cast(sum({_DEC_EXT}) as double) / 7.0 as double) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_lim
    """,
    tags=("tpch", "join", "agg"),
)
def q299_small_qty_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity shape (TPC-H Q17): the correlated scalar subquery
    (0.2 × per-part average quantity) decorrelated into an aggregate
    join — the per-part averages shuffle once on partkey and join the
    fact on the same key, so no re-partitioning happens between agg and
    join. The 0.2× limit is computed identically in both engines: exact
    decimal sum → double divide by count → double multiply."""
    li = table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (F.sum(dec("l_quantity", 12, 2)).cast("double") / F.count(F.lit(1)))
        ).alias("qty_lim")
    )
    return (
        li.join(
            table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(pa, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            (F.sum(dec("l_extendedprice", 12, 2)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------- Q18

@query(
    "q300_large_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           cast(cast(o_totalprice as decimal(14,2)) as double) AS total_price,
           cast(sum_qty as double) AS sum_qty
    FROM (
        SELECT l_orderkey AS big_okey, sum({_DEC_QTY}) AS sum_qty
        FROM lineitem GROUP BY big_okey HAVING sum({_DEC_QTY}) > 300
    )
    JOIN orders   ON o_orderkey = big_okey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 20
    """,
    tags=("tpch", "join", "agg"),
)
def q300_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-order shape (TPC-H Q18): HAVING on a grouped fact
    aggregate, then a join back to the order/customer detail for the
    survivors. The quantity filter runs in exact decimal; the survivors
    (a tiny fraction of orders) drive the join, so AQE can flip the
    order/customer probes to broadcast at runtime. LIMIT is tiebroken by
    the unique o_orderkey."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_okey"))
        .agg(F.sum(dec("l_quantity", 12, 2)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(table(spark, sf_dir, "orders"), F.col("big_okey") == F.col("o_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            dec("o_totalprice", 14, 2).cast("double").alias("total_price"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------- Q19

@query(
    "q301_disjunctive_revenue",
    oracle=f"""
    SELECT cast(sum({_VOL_SQL}) as double) AS revenue, count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
    tags=("tpch", "join", "agg"),
)
def q301_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-predicate shape (TPC-H Q19): an OR of three AND-blocks
    mixing part-side (brand, size) and fact-side (quantity) columns.
    Catalyst extracts the common subexpressions it can (the brand IN-list
    and quantity/size bounds) to push below the join while the full
    disjunction evaluates after — the query exists to pin that the OR
    doesn't degrade the join to a nested loop."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return (
        li.join(p, li.l_partkey == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(_vol()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------- Q22

@query(
    "q302_dormant_customers",
    oracle="""
    WITH seg_avg AS (
        SELECT c_mktsegment AS seg,
               cast(sum(cast(c_acctbal as decimal(12,2))) as double) / count(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0 GROUP BY seg
    )
    SELECT c_mktsegment, count(*) AS n_dormant,
           cast(sum(cast(c_acctbal as decimal(12,2))) as double) AS total_balance
    FROM customer
    JOIN seg_avg ON seg = c_mktsegment
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= timestamp '2000-06-01 00:00:00'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("tpch", "join", "agg"),
)
def q302_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant-customer shape (TPC-H Q22, adapted: the fixture's every
    customer has SOME order, so dormancy means no order since mid-2000):
    a per-segment average-balance scalar (broadcast — 5 rows), an
    above-average filter, and an anti-join against the recent-order keys.
    The anti-join shuffles on custkey; the date filter pushes into the
    orders scan so only the recent slice is shuffled."""
    c = table(spark, sf_dir, "customer")
    seg_avg = (
        c.filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            (
                F.sum(dec("c_acctbal", 12, 2)).cast("double") / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(seg_avg), c.c_mktsegment == F.col("seg"))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_dormant"),
            F.sum(dec("c_acctbal", 12, 2)).cast("double").alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )
