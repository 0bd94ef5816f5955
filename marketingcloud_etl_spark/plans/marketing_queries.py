"""Marketing-analytics catalog — the analytic workloads the reference's
domain (a marketing-cloud lead-activity ETL) feeds downstream: cohort
retention, last-touch attribution, RFM segmentation. All pure built-in
expressions over ``events``, all oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import hex_int_expr, hex_int_sql
from ..functions.money import dec
from ..io import table
from ..operators.ranking import distributed_ntile, pin_cache
from .catalog import query


@query(
    "q130_cohort_retention",
    oracle="""
    WITH signup AS (
      SELECT user_id, cast(date_trunc('week', min(ts)) as date) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, cast(date_trunc('week', ts) as date) AS act_week
      FROM events
    )
    SELECT s.cohort_week,
           cast(date_diff('day', s.cohort_week, a.act_week) / 7 as int)
             AS week_offset,
           cast(count(DISTINCT s.user_id) as bigint) AS n_active
    FROM signup s JOIN activity a ON s.user_id = a.user_id
    WHERE a.act_week >= s.cohort_week
    GROUP BY s.cohort_week, week_offset
    """,
    tags=("marketing", "analytic"),
)
def q130_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by signup week, counted
    as active in each later week they produced any event — the
    triangle matrix every growth dashboard draws. Week offsets are
    exact integer day-diffs of week-truncated dates (both engines pin
    weeks to Monday), so no float crosses the oracle.

    Shape: one grouped min (signup), one distinct projection
    (activity), one user_id-keyed join — the same co-partitioning
    story as the funnel (q121)."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_week")
    ).distinct()
    return (
        signup.join(activity, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q131_last_touch_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts,
             json_extract_string(props, '$.k')::int % 5 AS channel
      FROM events WHERE event_type = 'click'
    ), ranked AS (
      SELECT p.event_id, p.value, c.channel,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 7 DAY
    ), attributed AS (
      SELECT p.event_id, p.value,
             coalesce(r.channel, -1) AS channel
      FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
        ON p.event_id = r.event_id
    )
    SELECT channel,
           cast(count(*) as bigint) AS n_purchases,
           cast(sum(cast(value as decimal(14,2))) as double) AS revenue
    FROM attributed GROUP BY channel
    """,
    tags=("marketing", "analytic"),
)
def q131_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the LAST
    click by the same user in the preceding 7 days (ties broken by
    click id — deterministic); purchases with no qualifying click land
    in channel -1. Channel derives from the click's JSON payload.

    This is the as-of-join shape (q11) with a lookback bound: the
    join and the ranking both key on user_id/purchase id, revenue
    sums ride the decimal protocol."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w = W.partitionBy("p_id").orderBy(F.col("c_ts").desc_nulls_last(), F.col("c_id").desc_nulls_last())
    attributed = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "value", F.coalesce("channel", F.lit(-1)).alias("channel"))
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec("value", 14, 2)).cast("double").alias("revenue"),
    )


@query(
    "q132_rfm_segmentation",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), anchor AS (
      SELECT cast(max(ts) as date) AS max_day FROM p
    ), rfm AS (
      SELECT p.user_id,
             cast(date_diff('day', cast(max(p.ts) as date), any_value(a.max_day)) as int)
               AS r_days,
             cast(count(*) as bigint) AS f,
             cast(sum(cast(p.value as decimal(14,2))) as double) AS m
      FROM p CROSS JOIN anchor a GROUP BY p.user_id
    )
    SELECT user_id, r_days, f, m,
           ntile(4) OVER (ORDER BY r_days ASC, user_id) AS r_score,
           ntile(4) OVER (ORDER BY f DESC, user_id) AS f_score,
           ntile(4) OVER (ORDER BY m DESC, user_id) AS m_score
    FROM rfm
    """,
    tags=("marketing", "analytic"),
)
def q132_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last
    purchase, anchored to the corpus max so the result is
    reproducible), frequency, and monetary value, each quartile-scored
    with ntile(4) under a deterministic (metric, user_id) order —
    verified to distribute rows identically in both engines.

    Scale note: the quartile scores are NOT window-function ntiles —
    that would single-partition-sort the customer rollup three times.
    Each score comes from operators/ranking.py's distributed ntile
    (range-partition -> local rank -> broadcast offsets -> bucket
    formula), which reproduces SQL ntile semantics exactly — the
    (metric, user_id) order is total, so tie placement matches the
    window-function oracle row for row — while every stage stays
    parallel at 10^9 customers."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    anchor = p.agg(F.max("ts").cast("date").alias("max_day"))
    # pinned: repartitionByRange's sampling pass re-executes its input
    # subtree before the shuffle does, so the first ntile would scan +
    # aggregate the event log TWICE without the cut here (and at fact
    # scale that second scan is the expensive half)
    rfm = pin_cache(
        p.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(F.first("max_day"), F.max("ts").cast("date"))
            .cast("int")
            .alias("r_days"),
            F.count(F.lit(1)).alias("f"),
            F.sum(dec("value", 14, 2)).cast("double").alias("m"),
        )
    )
    scored = distributed_ntile(rfm, 4, [F.col("r_days").asc(), F.col("user_id")], "r_score")
    scored = distributed_ntile(scored, 4, [F.col("f").desc(), F.col("user_id")], "f_score")
    scored = distributed_ntile(scored, 4, [F.col("m").desc(), F.col("user_id")], "m_score")
    return scored.select("user_id", "r_days", "f", "m", "r_score", "f_score", "m_score")


@query(
    "q133_ab_test_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             cast(user_id % 2 as int) AS variant,
             max(CASE WHEN event_type = 'purchase' AND value >= 100.0
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT variant,
             cast(count(*) as bigint) AS n_users,
             cast(sum(converted) as bigint) AS n_converted
      FROM assign GROUP BY variant
    ), wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n_users END) AS n0,
        max(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        max(CASE WHEN variant = 1 THEN n_users END) AS n1,
        max(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM arms
    )
    SELECT n0, c0, n1, c1,
           round(cast(c0 as double) / n0, 6) AS rate_control,
           round(cast(c1 as double) / n1, 6) AS rate_treatment,
           round(
             (cast(c1 as double) / n1 - cast(c0 as double) / n0)
             / sqrt((cast(c0 + c1 as double) / (n0 + n1))
                    * (1.0 - cast(c0 + c1 as double) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
    FROM wide
    """,
    tags=("marketing", "stats"),
)
def q133_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users assigned to
    variants by key parity (deterministic — the q85 hash-split
    property), outcome = a purchase of value >= 100, pooled-variance
    z-score on the rate difference. Every float derives from exact
    integer counts through the SAME IEEE expression tree on both
    engines (+,-,*,/ and sqrt are all correctly-rounded), so the
    z-score is deterministic with no sum-order exposure.

    Shape: one user-level rollup (partial-aggregated max), one
    two-row arm aggregate, then scalar math on a single row."""
    e = table(spark, sf_dir, "events")
    converted = F.when(
        (F.col("event_type") == "purchase") & (F.col("value") >= 100.0), 1
    ).otherwise(0)
    assign = (
        e.groupBy("user_id")
        .agg(F.max(converted).alias("converted"))
        .select((F.col("user_id") % 2).cast("int").alias("variant"), "converted")
    )
    arms = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("c0").cast("long").alias("c0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c1").cast("long").alias("c1"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treatment"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q166_time_decay_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts,
             json_extract_string(props, '$.k')::int % 5 AS channel
      FROM events WHERE event_type = 'click'
    ), touches AS (
      SELECT p.event_id AS p_id, p.value, c.channel,
             1.0 / (1 << least(cast(floor((epoch_us(p.ts) - epoch_us(c.ts))
                                          / 86400000000.0) as int), 10)) AS w
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 7 DAY
    ), shared AS (
      SELECT p_id, value, channel,
             w / sum(w) OVER (PARTITION BY p_id) AS share
      FROM touches
    ), credited AS (
      SELECT channel,
             cast(round(value * share * 100) as bigint) AS credit_cents
      FROM shared
      UNION ALL
      SELECT -1 AS channel, cast(round(value * 100) as bigint)
      FROM p WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.p_id = p.event_id)
    )
    SELECT channel,
           cast(count(*) as bigint) AS n_credits,
           cast(sum(credit_cents) as bigint) / 100.0 AS credited_revenue
    FROM credited GROUP BY channel
    """,
    tags=("marketing", "analytic"),
)
def q166_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every click in the 7 days
    before a purchase earns weight 2^(-floor(days_before)) (halving per
    day, capped at 2^-10), normalized per purchase so credit shares sum
    to 1; unmatched purchases credit channel -1 in full. Numeric
    protocol for cross-engine exactness: weights are dyadic rationals
    (1/2^d — each a single exact double), the share division and
    value×share product are single IEEE ops on identical operands, and
    the per-touch credit ROUNDS TO INTEGER CENTS before the final sum —
    so aggregation order can't drift the total (q81's protocol). The
    join is the bounded as-of shape (q131) with a window share
    normalization keyed by purchase id."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    d_days = F.floor(
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(86400000000.0)
    ).cast("int")
    touches = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .withColumn("d", F.least(d_days, F.lit(10)))
        .withColumn("w", F.expr("1.0 / cast(shiftleft(1, d) as double)"))
    )
    share = F.col("w") / F.sum("w").over(W.partitionBy("p_id"))
    credited = touches.select(
        "channel",
        F.round(F.col("value") * share * 100).cast("bigint").alias("credit_cents"),
    )
    unmatched = p.join(touches.select("p_id").distinct(), "p_id", "left_anti").select(
        F.lit(-1).alias("channel"),
        F.round(F.col("value") * 100).cast("bigint").alias("credit_cents"),
    )
    return (
        credited.unionByName(unmatched)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            (F.sum("credit_cents") / F.lit(100.0)).alias("credited_revenue"),
        )
    )


@query(
    "q200_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ), tr AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, sum(n) AS n_from FROM tr GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, cast(t.n as bigint) AS n,
           round(cast(t.n as double) / tot.n_from, 6) AS p
    FROM tr t JOIN tot USING (from_type)
    """,
    tags=("marketing", "analytic", "sequence"),
)
def q200_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    user's time-ordered event sequence, count (state → next-state)
    transitions via ``lead`` over a USER-partitioned window (parallel
    across users — never a global sort), then normalize rows to
    probabilities. The journey-analysis primitive behind funnel (q121)
    and attribution (q131/q166): those fix a path, this surfaces ALL
    paths. The (ts, event_id) order key is total, so ties are
    deterministic; the |types|² matrix is tiny by construction at any
    corpus scale."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tr.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return tr.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
    )


@query(
    "q204_propensity_lift_chart",
    oracle="""
    WITH eng AS (
      SELECT user_id,
             sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS clicks,
             sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS views,
             max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), dec AS (
      SELECT *, ntile(5) OVER (ORDER BY clicks*3 + views DESC, user_id) AS decile
      FROM eng
    ), per AS (
      SELECT decile, count(*) AS n_users, sum(converted) AS n_conv
      FROM dec GROUP BY decile
    ), tot AS (SELECT sum(n_users) AS nt, sum(n_conv) AS ct FROM per)
    SELECT decile, cast(n_users as bigint) AS n_users, cast(n_conv as bigint) AS n_conv,
           round((cast(n_conv as double)/n_users) / (cast(ct as double)/nt), 6) AS lift
    FROM per, tot
    """,
    tags=("marketing", "analytic", "scale"),
)
def q204_propensity_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity LIFT chart — the campaign-targeting evaluation: users
    are quintiled by a deterministic engagement score (clicks×3 +
    views), and each band's conversion rate is compared to the
    population base rate. A useful model concentrates conversions in
    the top bands (lift > 1). The banding runs on operators/ranking.py's
    distributed ntile — at 10⁹ users the SQL-window oracle's global
    ORDER BY would single-partition; this path never does, while
    reproducing its bucket boundaries row for row under the total
    (score desc, user_id) order."""
    from ..operators.ranking import distributed_ntile

    # pinned: repartitionByRange's sampling pass re-executes the input
    # subtree before the shuffle does — the fact-table aggregation
    # above would run twice without the cut
    eng = pin_cache(
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "converted"
            ),
        )
        .withColumn("score", F.col("clicks") * 3 + F.col("views"))
    )
    dec = distributed_ntile(eng, 5, [F.col("score").desc(), F.col("user_id")], "decile")
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    tot = per.agg(F.sum("n_users").alias("nt"), F.sum("n_conv").alias("ct"))
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "n_conv",
        F.round((F.col("n_conv") / F.col("n_users")) / (F.col("ct") / F.col("nt")), 6).alias(
            "lift"
        ),
    )


@query(
    "q211_market_basket_rules",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    supp AS (SELECT l_partkey, count(*) AS supp FROM items GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS supp_xy
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY x, y HAVING count(*) >= 2
    )
    SELECT x, y, cast(supp_xy as bigint) AS supp_xy,
           round(cast(supp_xy as double) / sx.supp, 6) AS conf_x_to_y,
           round(cast(supp_xy as double) * (SELECT count(DISTINCT l_orderkey) FROM lineitem)
                 / (sx.supp * sy.supp), 6) AS lift
    FROM pair JOIN supp sx ON pair.x = sx.l_partkey
              JOIN supp sy ON pair.y = sy.l_partkey
    ORDER BY lift DESC, x, y LIMIT 50
    """,
    tags=("marketing", "analytic", "association"),
)
def q211_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules (co-purchase mining): item-pair
    support via the canonically-oriented basket self-join (the q208
    edge shape), then confidence P(y|x) and lift P(x,y)/(P(x)P(y))
    against broadcast single-item supports. The support-2 floor prunes
    the pair tail BEFORE the stats join — the Apriori downward-closure
    trick that keeps rule generation bounded by frequent pairs, not
    all pairs; at 100 TB the same floor applies map-side via the
    pre-aggregated pair counts. Top-50 by lift, full tiebreak."""
    li = table(spark, sf_dir, "lineitem")
    # four consumers (supp, both self-join sides, n_orders) — one
    # materialization of the distinct basket projection (q208's
    # protocol), not four lineitem scans + distinct shuffles
    items = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    n_orders = items.select("l_orderkey").distinct().count()
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("x"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("y"))
    pair = (
        a.join(b, "o")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("supp_xy"))
        .filter(F.col("supp_xy") >= 2)
    )
    sx = supp.select(F.col("l_partkey").alias("x"), F.col("supp").alias("supp_x"))
    sy = supp.select(F.col("l_partkey").alias("y"), F.col("supp").alias("supp_y"))
    # item supports are part-dimension-sized — leave the join strategy
    # to AQE (broadcast at fixture scale, shuffle at catalog scale)
    return (
        pair.join(sx, "x")
        .join(sy, "y")
        .select(
            "x",
            "y",
            "supp_xy",
            F.round(F.col("supp_xy") / F.col("supp_x"), 6).alias("conf_x_to_y"),
            F.round(
                (F.col("supp_xy") * F.lit(float(n_orders)))
                / (F.col("supp_x") * F.col("supp_y")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(50)
    )


@query(
    "q216_trending_leaderboard",
    oracle="""
    WITH daily AS (
      SELECT extract(year from o_orderdate) AS yr, l_partkey, count(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY yr, l_partkey
    ), ranked AS (
      SELECT cast(yr as int) AS yr, l_partkey, cast(n as bigint) AS n,
             row_number() OVER (PARTITION BY yr ORDER BY n DESC, l_partkey) AS rk
      FROM daily
    )
    SELECT yr, cast(rk as int) AS rk, l_partkey, n FROM ranked WHERE rk <= 3
    """,
    tags=("marketing", "analytic", "window"),
)
def q216_trending_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-period TRENDING leaderboard — top-3 parts by line count for
    every order year: pre-aggregate to (period, item) counts FIRST
    (the cardinality reducer — rank runs over items-per-period rows,
    never raw facts), then rank within each period partition with a
    deterministic count-desc/key tiebreak. The window partitions by
    period, so periods rank in parallel; the per-period top-k is what
    feeds 'trending now' surfaces and the q22 global top-k cannot
    express per-group."""
    from pyspark.sql.window import Window as W

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    # no broadcast hint: orders is a FACT table — at 100 TB this is a
    # key-shuffle (or bucketed) join; AQE still broadcasts it at
    # fixture scale on its own
    daily = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("yr", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wl = W.partitionBy("yr").orderBy(F.col("n").desc(), "l_partkey")
    return (
        daily.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= 3)
        .select("yr", "rk", "l_partkey", "n")
    )


@query(
    "q224_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, cast(min(ts) as date) AS first_day FROM events GROUP BY user_id
    ), daily_new AS (
      SELECT first_day AS day, count(*) AS n_new FROM first_seen GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           cast(n_new as bigint) AS n_new,
           cast(sum(n_new) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) as bigint) AS cum_users
    FROM daily_new
    """,
    tags=("marketing", "analytic", "timeseries"),
)
def q224_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE unique users over time — the growth curve: a naive
    running COUNT(DISTINCT) over expanding windows re-scans history
    per day; the scale shape computes each user's FIRST-seen day
    once (one groupBy), reduces to per-day new-user counts (one more
    groupBy, day-cardinality rows), and only the final cumulative sum
    runs as an ordered window over that TINY daily frame — the
    single-partition window is over |days| rows by construction, the
    documented bounded-frame exception (q114's protocol)."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    daily_new = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    # |days|-row frame: the unpartitioned window is bounded by calendar
    # size, never corpus size
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)  # global-window-ok: |days|-row frame (calendar-bounded, not corpus-bounded)
    return daily_new.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(wc).alias("cum_users"),
    )


@query(
    "q227_experiment_layers",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
      SELECT user_id,
             cast({hex_int_sql("md5('layer1:' || cast(user_id as varchar))")} % 2 as int) AS exp1,
             cast({hex_int_sql("md5('layer2:' || cast(user_id as varchar))")} % 2 as int) AS exp2
      FROM users
    )
    SELECT exp1, exp2, cast(count(*) as bigint) AS n_users
    FROM assigned GROUP BY exp1, exp2
    """,
    tags=("marketing", "experiment"),
)
def q227_experiment_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORTHOGONAL experiment layers — two concurrent A/B experiments
    whose assignments must not correlate: each layer hashes the user
    id under its own SALT ('layer1:', 'layer2:'), so the two coin
    flips are independent functions of the same id and every (arm,
    arm) cell gets its fair quarter. Deterministic (no rand() — a
    user re-assigns identically forever, the sticky-bucketing
    requirement), and the exact cell counts are the oracle; q133's
    z-test consumes arms produced exactly this way. This is the
    layered-experimentation infrastructure pattern: adding a layer
    never reshuffles existing ones."""
    def arm(salt: str) -> F.Column:
        h = F.expr(hex_int_expr(f"md5(concat('{salt}:', cast(user_id as string)))"))
        return F.pmod(h, F.lit(2)).cast("int")

    users = table(spark, sf_dir, "events").select("user_id").distinct()
    assigned = users.select("user_id", arm("layer1").alias("exp1"), arm("layer2").alias("exp2"))
    return assigned.groupBy("exp1", "exp2").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "q260_cuped_adjustment",
    oracle="""
    WITH cut AS (
      SELECT make_timestamp(min(epoch_us(ts))
               + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2) AS mid
      FROM events
    ), per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             sum(CASE WHEN ts < mid THEN cast(round(value * 100) as bigint)
                      ELSE 0 END) AS x_cents,
             sum(CASE WHEN ts >= mid THEN cast(round(value * 100) as bigint)
                      ELSE 0 END) AS y_cents
      FROM events, cut GROUP BY user_id
    ), moments AS (
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(x_cents) as bigint) AS sx,
             cast(sum(y_cents) as bigint) AS sy,
             cast(sum(x_cents * x_cents) as bigint) AS sxx,
             cast(sum(x_cents * y_cents) as bigint) AS sxy
      FROM per_user
    ), theta AS (
      SELECT n, sx,
             (sxy - cast(sx as double) * sy / n)
               / (sxx - cast(sx as double) * sx / n) AS th
      FROM moments
    )
    SELECT p.arm,
           cast(count(*) as bigint) AS n_users,
           round(avg(cast(p.y_cents as double)), 6) AS mean_y,
           round(avg(p.y_cents - t.th * (p.x_cents - cast(t.sx as double) / t.n)), 6)
             AS mean_y_cuped,
           round(any_value(t.th), 9) AS theta
    FROM per_user p CROSS JOIN theta t
    GROUP BY p.arm
    """,
    tags=("marketing", "experiment", "stats"),
)
def q260_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, the industry-standard
    experiment-sensitivity trick q133's plain z-test leaves on the
    table): per-user PRE-period spend X is a covariate for POST-period
    spend Y; θ = cov(X,Y)/var(X) fitted on ALL users (arm-agnostic, so
    it cannot bias the contrast), adjusted metric Y' = Y − θ(X − X̄).
    Every moment is an EXACT integer sum (cents; q100's power-sum
    protocol) and θ and the adjusted means are one fixed IEEE
    expression tree over those exact sums — bit-reproducible in both
    engines. Per-arm adjusted means are what the experimenter reads;
    a broken θ or a per-arm θ fit would shift them."""
    e = table(spark, sf_dir, "events")
    # interval halving in pure timestamp algebra differs between
    # engines; compute mid identically: min + (max-min)//2 via epoch µs
    cut = e.agg(
        F.timestamp_micros(
            (F.unix_micros(F.min("ts"))
             + F.floor((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 2)
             .cast("bigint"))
        ).alias("mid")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = (
        e.join(F.broadcast(cut), F.lit(True))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("mid"), cents).otherwise(0)).alias("x_cents"),
            F.sum(F.when(F.col("ts") >= F.col("mid"), cents).otherwise(0)).alias("y_cents"),
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    m = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_cents").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x_cents") * F.col("x_cents")).alias("sxx"),
        F.sum(F.col("x_cents") * F.col("y_cents")).alias("sxy"),
    )
    th = m.select(
        "n",
        "sx",
        (
            (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    j = pu.join(F.broadcast(th), F.lit(True))
    return j.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg(F.col("y_cents").cast("double")), 6).alias("mean_y"),
        F.round(
            F.avg(
                F.col("y_cents")
                - F.col("th") * (F.col("x_cents") - F.col("sx").cast("double") / F.col("n"))
            ),
            6,
        ).alias("mean_y_cuped"),
        F.round(F.any_value("th"), 9).alias("theta"),
    )


@query(
    "q269_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_buy
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), d AS (
      SELECT p.user_id,
             (epoch_us(p.t_buy) - epoch_us(v.t_view)) // 60000000 AS mins
      FROM p JOIN v USING (user_id)
    )
    SELECT cast(count(*) as bigint) AS n_converters,
           cast(min(mins) as bigint) AS min_mins,
           quantile_cont(mins, 0.25) AS p25_mins,
           quantile_cont(mins, 0.50) AS p50_mins,
           quantile_cont(mins, 0.75) AS p75_mins,
           cast(max(mins) as bigint) AS max_mins
    FROM d
    """,
    tags=("marketing", "funnel", "stats"),
)
def q269_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution — q121 counts who converts; this
    measures HOW LONG it takes (the latency the marketing team actually
    tunes against): per user, minutes between first view and first
    subsequent purchase (floor-division µs arithmetic, q254's
    convention), reduced to exact interpolated quartiles (q232's
    percentile protocol — integer minutes make every quartile an exact
    binary fraction). Two keyed min-aggregations + one broadcast-scale
    join; the quantile state is a value→count map over the bounded
    minute domain."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    d = p.join(v, "user_id").select(
        F.floor(
            (F.unix_micros("t_buy") - F.unix_micros("t_view")) / F.lit(60000000.0)
        ).cast("bigint").alias("mins")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.min("mins").alias("min_mins"),
        F.percentile("mins", F.lit(0.25)).alias("p25_mins"),
        F.percentile("mins", F.lit(0.50)).alias("p50_mins"),
        F.percentile("mins", F.lit(0.75)).alias("p75_mins"),
        F.max("mins").alias("max_mins"),
    )


@query(
    "q280_path_analysis",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
      FROM events
    ), paths AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY rk), ' > ') AS path3
      FROM ranked WHERE rk <= 3 GROUP BY user_id
    )
    SELECT path3, cast(count(*) as bigint) AS n_users
    FROM paths GROUP BY path3
    ORDER BY n_users DESC, path3 LIMIT 20
    """,
    tags=("marketing", "funnel", "sequence"),
)
def q280_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONBOARDING PATH analysis — the top first-3-event sequences
    (q121 asks 'did they convert', q200 asks 'what follows what'; this
    asks 'what JOURNEYS actually happen', the Sankey-diagram feed):
    per-user first three events under the (ts, id) total order,
    concatenated into a path string, counted, top-20. One user-
    partitioned window + one path-keyed count — both shuffles keyed on
    high-cardinality columns."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "event_type"))),
                lambda s: s["event_type"],
            ),
            " > ",
        ).alias("path3")
    )
    return (
        paths.groupBy("path3")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path3")
        .limit(20)
    )


@query(
    "q281_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             dayofweek(ts) AS dow,
             count(*) AS n
      FROM events GROUP BY day, dow
    ), prof AS (
      SELECT dow,
             cast(sum(n) as bigint) AS dow_events,
             cast(count(*) as bigint) AS dow_days
      FROM daily GROUP BY dow
    ), tot AS (
      SELECT sum(dow_events) AS all_events, sum(dow_days) AS all_days FROM prof
    )
    SELECT p.dow,
           p.dow_events, p.dow_days,
           round((p.dow_events / cast(p.dow_days as double))
                 / (t.all_events / cast(t.all_days as double)), 6)
             AS seasonality_index
    FROM prof p CROSS JOIN tot t
    """,
    tags=("marketing", "timeseries"),
)
def q281_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OF-WEEK seasonality index — the normalization every
    anomaly rule (q225/q270) should divide by before alarming: average
    events per day-of-week over the average day, as a ratio of two
    exact-integer rates (one IEEE division each). Index > 1 = busy
    day. DuckDB's dayofweek is 0=Sunday; Spark's dayofweek is
    1=Sunday — the Spark side subtracts 1 to pin the same convention."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        (F.dayofweek("ts") - 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    prof = daily.groupBy("dow").agg(
        F.sum("n").alias("dow_events"), F.count(F.lit(1)).alias("dow_days")
    )
    tot = prof.agg(
        F.sum("dow_events").alias("all_events"), F.sum("dow_days").alias("all_days")
    )
    return prof.join(F.broadcast(tot), F.lit(True)).select(
        "dow",
        "dow_events",
        "dow_days",
        F.round(
            (F.col("dow_events") / F.col("dow_days").cast("double"))
            / (F.col("all_events") / F.col("all_days").cast("double")),
            6,
        ).alias("seasonality_index"),
    )


@query(
    "q287_kaplan_meier",
    oracle="""
    WITH bounds AS (
      SELECT max(ts) AS end_ts FROM events
    ), subj AS (
      SELECT user_id,
             cast(floor((epoch_us(coalesce(
                    min(CASE WHEN event_type = 'purchase' THEN ts END), b.end_ts))
                  - epoch_us(min(ts))) / 3600000000.0) as bigint) AS dur_hours,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
                  THEN 1 ELSE 0 END AS converted
      FROM events, bounds b GROUP BY user_id, b.end_ts
    ), at_t AS (
      SELECT dur_hours AS t, sum(converted) AS d, count(*) AS leave_n
      FROM subj GROUP BY dur_hours
    ), risk AS (
      SELECT t, d,
             sum(leave_n) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM at_t
    ), ordered AS (
      SELECT t, d, n_risk,
             row_number() OVER (ORDER BY t) AS idx
      FROM risk
    ), arr AS (
      SELECT list(1 - d / cast(n_risk as double) ORDER BY t) AS fs FROM ordered
    )
    SELECT o.t AS t_hours,
           cast(o.n_risk as bigint) AS n_risk,
           cast(o.d as bigint) AS n_events,
           round(list_reduce(fs[1 : o.idx], (a, b) -> a * b), 6) AS survival
    FROM ordered o CROSS JOIN arr
    """,
    tags=("marketing", "stats", "survival"),
)
def q287_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER time-to-event with right-censoring — time from a
    user's first activity to FIRST PURCHASE, the canonical conversion-
    latency survival setup (q269 reports quartiles over CONVERTERS
    only — the biased view; KM counts never-converters as censored at
    corpus end, which is the fix). S(t) = Π(1 − dᵢ/nᵢ)
    over ordered event times — the product folds SEQUENTIALLY over the
    time-ordered factor array (multiplication is IEEE-deterministic;
    no exp(Σln) round trip through libm), so both engines agree
    bit-for-bit. The at-risk counts come from a descending cumulative
    sum; the whole curve lives on a ≤|distinct-tenure| frame."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events")
    cut = e.agg(F.max("ts").alias("end_ts"))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = (
        e.join(F.broadcast(cut), F.lit(True))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.unix_micros(F.coalesce(first_purchase, F.first("end_ts")))
                    - F.unix_micros(F.min("ts"))
                )
                / F.lit(3600000000.0)
            )
            .cast("bigint")
            .alias("dur_hours"),
            first_purchase.isNotNull().cast("int").alias("converted"),
        )
    )
    at_t = subj.groupBy(F.col("dur_hours").alias("t")).agg(
        F.sum("converted").alias("d"), F.count(F.lit(1)).alias("leave_n")
    )
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(W.unboundedPreceding, 0)  # global-window-ok: frame = distinct tenure-hours, bounded by the observation window (~720 rows)
    w_asc = W.orderBy("t")  # global-window-ok: same bounded distinct-tenure frame
    # ≤ |distinct tenures| rows (bounded by the observation window in
    # days) — global windows on this frame are driver-scale by design
    risk = at_t.withColumn("n_risk", F.sum("leave_n").over(w_desc))
    ordered = risk.withColumn("idx", F.row_number().over(w_asc))
    arr = ordered.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("t", (1 - F.col("d") / F.col("n_risk").cast("double")).alias("f"))
                )
            ),
            lambda s: s["f"],
        ).alias("fs")
    )
    j = ordered.join(F.broadcast(arr), F.lit(True))
    surv = F.aggregate(
        F.slice("fs", 1, F.col("idx").cast("int")), F.lit(1.0), lambda a, b: a * b
    )
    return j.select(
        F.col("t").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.round(surv, 6).alias("survival"),
    )


@query(
    "q290_adstock_decay",
    oracle="""
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS wk,
             sum(cast(round(value * 100) as bigint)) AS cents
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type, wk
    ), arr AS (
      SELECT event_type,
             list(wk ORDER BY wk) AS wks,
             list(cents ORDER BY wk) AS cs
      FROM weekly GROUP BY event_type
    ), idx AS (
      SELECT event_type, wks, cs, unnest(range(1, len(cs) + 1)) AS i
      FROM arr
    )
    SELECT event_type, wks[i] AS wk,
           cast(cs[i] as bigint) AS cents,
           list_reduce(list_transform(cs[1 : i], x -> x::DOUBLE), (acc, x) -> acc / 2 + x) AS adstock_cents
    FROM idx
    """,
    tags=("marketing", "timeseries"),
)
def q290_adstock_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADSTOCK (geometric carry-over) — the media-mix-modeling
    transform: this week's effective pressure = spend + λ·last week's
    pressure, an IIR filter that a window function cannot express
    (each value depends on the previous OUTPUT, not previous inputs).
    Computed as a sequential left fold over the week-ordered series —
    and with λ = 1/2 every step is an exact binary operation on
    integer-cents-derived values, so the recursion is bit-identical in
    both engines (DuckDB's seeded list_reduce ≡ the fold from the
    first element; acc/2 + x agrees because the Spark side folds the
    identical slice). Per-channel series are driver-small (weeks ×
    channels); the weekly aggregation underneath is the only wide
    op — the universal shape for distributed recursive filters."""
    e = table(spark, sf_dir, "events")
    weekly = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type", F.date_trunc("week", "ts").alias("wk"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    arr = weekly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("wk", "cents"))), lambda s: s["wk"]
        ).alias("wks"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("wk", "cents"))), lambda s: s["cents"]
        ).alias("cs"),
    )
    idx = arr.select(
        "event_type",
        "wks",
        "cs",
        F.posexplode(F.col("cs")).alias("i0", "__v"),
    ).select("event_type", "wks", "cs", (F.col("i0") + 1).alias("i"))
    # DuckDB's list_reduce seeds with the first element; mirror by
    # folding the tail with the head as init
    adstock = F.when(
        F.col("i") == 1, F.element_at("cs", 1).cast("double")
    ).otherwise(
        F.aggregate(
            F.slice("cs", 2, (F.col("i") - 1).cast("int")),
            F.element_at("cs", 1).cast("double"),
            lambda acc, x: acc / 2 + x,
        )
    )
    return idx.select(
        "event_type",
        F.element_at("wks", F.col("i").cast("int")).alias("wk"),
        F.element_at("cs", F.col("i").cast("int")).cast("bigint").alias("cents"),
        adstock.alias("adstock_cents"),
    )


@query(
    "q291_power_analysis",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm, user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY arm, user_id
    ), rates AS (
      SELECT cast(count(*) as bigint) AS n_users,
             cast(sum(converted) as bigint) AS n_conv,
             sum(converted) / cast(count(*) as double) AS p_base
      FROM arms
    )
    SELECT n_users, n_conv, round(p_base, 6) AS p_base,
           cast(ceil(2 * 7.849 * p_base * (1 - p_base)
                     / pow(greatest(p_base * 0.05, 1e-9), 2)) as bigint)
             AS n_per_arm_mde5pct,
           cast(ceil(2 * 7.849 * p_base * (1 - p_base)
                     / pow(greatest(p_base * 0.10, 1e-9), 2)) as bigint)
             AS n_per_arm_mde10pct,
           n_users >= 2 * cast(ceil(2 * 7.849 * p_base * (1 - p_base)
                     / pow(greatest(p_base * 0.10, 1e-9), 2)) as bigint)
             AS powered_for_10pct
    FROM rates
    """,
    tags=("marketing", "experiment", "stats"),
)
def q291_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPERIMENT POWER / sample-size analysis — the question to answer
    BEFORE q133's z-test and q260's CUPED: with the observed base
    conversion rate, how many users per arm does a 5%/10% relative
    MDE need at α=0.05, power=0.8?  n = 2(z₀.₉₇₅+z₀.₈)²·p̄(1−p̄)/δ²
    with (1.96+0.8416)² = 7.849 folded as a literal (no erf needed on
    either engine), δ = relative MDE × p̄, plus the go/no-go boolean
    against the population actually available. One aggregation; the
    sizing formula is a single IEEE expression over exact counts."""
    e = table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    rates = arms.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_conv"),
        (F.sum("converted") / F.count(F.lit(1)).cast("double")).alias("p_base"),
    )

    def n_req(mde: float) -> F.Column:
        delta = F.greatest(F.col("p_base") * mde, F.lit(1e-9))
        return F.ceil(
            2 * 7.849 * F.col("p_base") * (1 - F.col("p_base")) / F.pow(delta, 2)
        ).cast("bigint")

    return rates.select(
        "n_users",
        "n_conv",
        F.round("p_base", 6).alias("p_base"),
        n_req(0.05).alias("n_per_arm_mde5pct"),
        n_req(0.10).alias("n_per_arm_mde10pct"),
        (F.col("n_users") >= 2 * n_req(0.10)).alias("powered_for_10pct"),
    )


@query(
    "q307_position_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts,
             json_extract_string(props, '$.k')::int % 5 AS channel
      FROM events WHERE event_type = 'click'
    ), ranked AS (
      SELECT p.event_id AS p_id, p.value, c.channel,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts ASC, c.event_id ASC) AS rn,
             count(*) OVER (PARTITION BY p.event_id) AS n
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 7 DAY
    ), credited AS (
      SELECT channel,
             cast(round(value * 100) as bigint)
               * (CASE WHEN n = 1 THEN 1000000
                       WHEN n = 2 THEN 500000
                       WHEN rn = 1 OR rn = n THEN 400000
                       ELSE (400000 + (n - 2)) // (2 * (n - 2)) END) AS contrib
      FROM ranked
      UNION ALL
      SELECT -1 AS channel, cast(round(value * 100) as bigint) * 1000000 AS contrib
      FROM p WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = p.user_id
          AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 7 DAY)
    )
    SELECT channel,
           cast(count(*) as bigint) AS n_credits,
           cast(sum(contrib) as bigint) AS credited_micro_cents
    FROM credited GROUP BY channel ORDER BY channel
    """,
    tags=("marketing", "analytic"),
)
def q307_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped) attribution — completes the model
    family (last-touch q131, time-decay q166, linear path-credit): the
    first and last qualifying click each take 40% of a purchase's
    value, the middle touches split the remaining 20%. All credit is
    EXACT integer micro-units — the middle share is the round-half-up
    integer division (400000+(n-2)) // (2(n-2)) — so no float ever
    crosses an aggregation and the per-channel totals are bit-identical
    under any partitioning. Orphan purchases (no click in the 7-day
    lookback) credit channel -1 in full, so total credited value is
    conserved. Same user-keyed bounded lookback join as q131."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    in_window = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    joined = p.join(c, in_window, "left")
    wp = W.partitionBy("p_id")
    ranked = joined.withColumn(
        "rn", F.row_number().over(wp.orderBy(F.col("c_ts").asc_nulls_last(), F.col("c_id").asc_nulls_last()))
    ).withColumn("n", F.count("c_id").over(wp))
    cents = F.round(F.col("value") * 100).cast("bigint")
    micro = (
        F.when(F.col("n") == 0, 1000000)  # orphan purchase: full credit
        .when(F.col("n") == 1, 1000000)
        .when(F.col("n") == 2, 500000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 400000)
        .otherwise(
            # integral `div`, not `/`: float division + cast truncates the
            # nearest-double, which can round up across an integer at
            # extreme n; div is exact at any scale
            F.expr("(400000 + (n - 2)) div (2 * (n - 2))")
        )
    )
    credited = ranked.select(
        F.coalesce("channel", F.lit(-1)).alias("channel"),
        (cents * micro).alias("contrib"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("contrib").cast("bigint").alias("credited_micro_cents"),
        )
        .orderBy("channel")
    )


@query(
    "q310_woe_encoding",
    oracle="""
    WITH base AS (
      SELECT user_id,
             cast(count(CASE WHEN event_type = 'click' THEN 1 END) as bigint) AS clicks,
             cast(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN cast(round(value * 100) as bigint) END), 0)
                  as bigint) AS cents
      FROM events GROUP BY user_id
    ), tot AS (
      SELECT cast(count(*) as bigint) AS n_users,
             cast(sum(cents) as bigint) AS total_cents
      FROM base
    ), labeled AS (
      SELECT user_id, clicks,
             CASE WHEN cents * n_users > total_cents THEN 1 ELSE 0 END AS good,
             ntile(5) OVER (ORDER BY clicks, user_id) AS bin
      FROM base, tot
    ), bins AS (
      SELECT bin, count(*) AS n_users,
             cast(sum(good) as bigint) AS n_good,
             cast(count(*) - sum(good) as bigint) AS n_bad
      FROM labeled GROUP BY bin
    ), g AS (
      SELECT cast(sum(n_good) as bigint) AS total_good,
             cast(sum(n_bad) as bigint) AS total_bad
      FROM bins
    )
    SELECT bin, n_users, n_good, n_bad,
           round(ln(((n_good + 0.5) * total_bad) / ((n_bad + 0.5) * total_good)), 6)
             AS woe
    FROM bins, g ORDER BY bin
    """,
    tags=("marketing", "ml-prep"),
)
def q310_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE encoding — the credit-scoring-lineage
    categorical/binned-feature transform: engagement (click count) is
    cut into 5 equal-frequency bins by the DISTRIBUTED ntile (no
    single-partition window), the binary target is 'above-average
    buyer' decided by the PURE-INTEGER comparison cents·n > Σcents (no
    float threshold anywhere), and each bin's WOE is one IEEE
    expression over exact integer counts with ±0.5 Laplace smoothing
    so an empty cell can't produce ±∞. Bin boundaries, counts, and the
    6-decimal-rounded WOE are all value-matched across engines."""
    from ..operators.ranking import distributed_ntile

    e = table(spark, sf_dir, "events")
    # pinned: base feeds the totals row, the labeled join AND the range
    # exchange's sampling+shuffle passes — four executions of the event
    # rollup without the cut
    base = pin_cache(
        e.groupBy("user_id").agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("bigint"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("cents"),
        )
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n_users_t"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    labeled = (
        base.join(F.broadcast(tot), F.lit(True))
        .withColumn(
            "good",
            F.when(F.col("cents") * F.col("n_users_t") > F.col("total_cents"), 1)
            .otherwise(0),
        )
    )
    binned = distributed_ntile(labeled, 5, ["clicks", "user_id"], "bin")
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("good").cast("bigint").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("good")).cast("bigint").alias("n_bad"),
    )
    g = bins.agg(
        F.sum("n_good").cast("bigint").alias("total_good"),
        F.sum("n_bad").cast("bigint").alias("total_bad"),
    )
    return (
        bins.join(F.broadcast(g), F.lit(True))
        .select(
            "bin",
            "n_users",
            "n_good",
            "n_bad",
            F.round(
                F.log(
                    ((F.col("n_good") + 0.5) * F.col("total_bad"))
                    / ((F.col("n_bad") + 0.5) * F.col("total_good"))
                ),
                6,
            ).alias("woe"),
        )
        .orderBy("bin")
    )


@query(
    "q319_mom_growth_report",
    oracle="""
    WITH monthly AS (
      SELECT c_mktsegment AS seg,
             cast(date_trunc('month', o_orderdate) as date) AS month,
             cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS rev_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY seg, month
    )
    SELECT seg, month, rev_cents,
           lag(rev_cents) OVER (PARTITION BY seg ORDER BY month) AS prev_cents,
           round(cast(rev_cents - lag(rev_cents) OVER (PARTITION BY seg ORDER BY month)
                      as double)
                 / lag(rev_cents) OVER (PARTITION BY seg ORDER BY month), 6)
             AS mom_growth
    FROM monthly
    ORDER BY seg, month
    """,
    tags=("marketing", "analytic"),
)
def q319_mom_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTH-OVER-MONTH growth report — the period-over-period
    comparison every revenue dashboard leads with: monthly segment
    revenue in EXACT integer cents, the prior period via lag() over a
    (segment)-partitioned month order (parallel per-segment windows,
    month count bounds the frame), growth as one IEEE division of
    exact integers rounded to 6 — first month of each segment stays
    NULL rather than a fake 0. The windowed frame is month-domain-
    sized per segment at any fact scale because aggregation precedes
    the window."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = W.partitionBy("seg").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "seg",
        "month",
        "rev_cents",
        prev.alias("prev_cents"),
        F.round((F.col("rev_cents") - prev).cast("double") / prev, 6).alias(
            "mom_growth"
        ),
    ).orderBy("seg", "month")


@query(
    "q320_cohort_ltv_curve",
    oracle="""
    WITH signup AS (
      SELECT user_id, cast(date_trunc('week', min(ts)) as date) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), rev AS (
      SELECT s.cohort_week,
             cast(date_diff('day', s.cohort_week,
                            cast(date_trunc('week', e.ts) as date)) // 7 as int)
               AS week_offset,
             cast(sum(cast(round(e.value * 100) as bigint)) as bigint) AS rev_cents
      FROM events e JOIN signup s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND cast(date_trunc('week', e.ts) as date) >= s.cohort_week
      GROUP BY s.cohort_week, week_offset
    )
    SELECT cohort_week, week_offset, rev_cents,
           cast(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset)
                as bigint) AS cum_rev_cents
    FROM rev
    ORDER BY cohort_week, week_offset
    """,
    tags=("marketing", "analytic"),
)
def q320_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVE — the revenue companion to q130's retention
    triangle: cumulative purchase value per signup cohort as a function
    of weeks since signup, the curve payback-period and CAC decisions
    read from. Revenue stays in exact integer cents; the cumulative is
    a window over the (cohort × offset) AGGREGATE — a few dozen rows
    per cohort at any fact scale, because the user-grain aggregation
    happens first on the same user_id-keyed shuffle as the funnel."""
    e = table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("p_week"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    rev = (
        p.join(signup, "user_id")
        .filter(F.col("p_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff("p_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    w = (
        W.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return rev.select(
        "cohort_week",
        "week_offset",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    ).orderBy("cohort_week", "week_offset")


@query(
    "q324_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, cast(ts as date) AS day FROM events
    ), islands AS (
      SELECT user_id, day,
             day - cast(row_number() OVER (PARTITION BY user_id ORDER BY day) as int)
               AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, grp,
             cast(count(*) as bigint) AS streak_days,
             min(day) AS streak_start
      FROM islands GROUP BY user_id, grp
    )
    SELECT user_id,
           cast(max(streak_days) as bigint) AS longest_streak,
           cast(count(*) as bigint) AS n_streaks,
           min(streak_start) AS first_active_day
    FROM streaks
    GROUP BY user_id
    ORDER BY longest_streak DESC, user_id
    LIMIT 20
    """,
    tags=("marketing", "analytic"),
)
def q324_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS consecutive-day streaks — the engagement
    metric behind 'current streak' badges, via the classic
    row-number-difference trick: within a user, consecutive days share
    the constant (day − rank), so one per-user window + one GROUP BY
    finds every island without self-joins or recursion. Windows are
    user-partitioned (parallel, day-domain-bounded frames); the
    calendar arithmetic is exact integer day math. Top-20 longest
    streaks under a (streak, user) total order. Complements q56:
    sessionization cuts on TIME GAPS within a day, this finds runs of
    DISTINCT CALENDAR DAYS."""
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max("streak_days").cast("bigint").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.min("streak_start").alias("first_active_day"),
        )
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(20)
    )


@query(
    "q330_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT cast(ts as date) AS day,
             cast(sum(cast(round(value * 100) as bigint)) as bigint) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY day
    ), paired AS (
      SELECT day, cents,
             lag(cents, 7) OVER (ORDER BY day) AS forecast
      FROM daily
    )
    SELECT cast(count(*) as bigint) AS n_days_scored,
           cast(sum(abs(cents - forecast)) as bigint) AS abs_err_cents,
           cast(sum(abs(cents - forecast)) // count(*) as bigint) AS mae_cents,
           cast(max(abs(cents - forecast)) as bigint) AS worst_cents,
           round(cast(sum(abs(cents - forecast)) as double) / sum(cents), 6)
             AS wape
    FROM paired WHERE forecast IS NOT NULL
    """,
    tags=("marketing", "forecast"),
)
def q330_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST against the seasonal-naive baseline — the
    floor every demand-forecasting model must beat before it ships:
    predict each day's purchase revenue with the same weekday one week
    earlier (lag 7 on the DAILY AGGREGATE, so the window frame is
    day-domain-sized at any fact scale; the one global lag is over
    that bounded spine). Errors stay exact integer cents — MAE via
    integer division, WAPE as one IEEE division of exact sums —
    because a backtest harness that introduces its own float noise
    can't adjudicate models. The first 7 days score NULL and are
    excluded, not zero-filled."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    w = W.orderBy("day")  # global-window-ok: per-day aggregate spine, calendar-domain-bounded (~365 rows/yr at any fact scale)
    paired = daily.withColumn("forecast", F.lag("cents", 7).over(w)).filter(
        F.col("forecast").isNotNull()
    )
    err = F.abs(F.col("cents") - F.col("forecast"))
    return paired.agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(err).cast("bigint").alias("abs_err_cents"),
        F.expr(
            "cast(sum(abs(cents - forecast)) div count(*) as bigint)"
        ).alias("mae_cents"),
        F.max(err).cast("bigint").alias("worst_cents"),
        F.round(F.sum(err).cast("double") / F.sum("cents"), 6).alias("wape"),
    )


@query(
    "q333_wilson_ctr_ranking",
    oracle="""
    WITH by_channel AS (
      SELECT json_extract_string(props, '$.k')::int % 5 AS channel,
             cast(count(*) as bigint) AS n_clicks,
             cast(count(*) FILTER (WHERE value > 5.0) as bigint) AS n_conv
      FROM events WHERE event_type = 'click'
      GROUP BY channel
    )
    SELECT channel, n_clicks, n_conv,
           round(cast(n_conv as double) / n_clicks, 6) AS naive_rate,
           round((cast(n_conv as double) / n_clicks + 1.9208 / n_clicks
                  - 1.96 * sqrt((cast(n_conv as double) / n_clicks)
                                * (1.0 - cast(n_conv as double) / n_clicks) / n_clicks
                                + 0.9604 / (n_clicks * cast(n_clicks as double)))
                 ) / (1.0 + 3.8416 / n_clicks), 6) AS wilson_lb
    FROM by_channel
    ORDER BY wilson_lb DESC, channel
    """,
    tags=("marketing", "statistics"),
)
def q333_wilson_ctr_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE LOWER BOUND ranking — the statistically honest way
    to order channels by conversion rate when sample sizes differ (a
    2/2 channel must NOT outrank a 180/200 one, which the naive rate
    does): the 95% Wilson interval's lower bound, z=1.96 pre-squared
    into literal constants so both engines evaluate the identical IEEE
    tree over exact integer counts. Naive rate rides alongside to show
    the re-ranking. One partial-agg pass; channel-domain-sized output."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    by_channel = e.groupBy(
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count_if(F.col("value") > 5.0).cast("bigint").alias("n_conv"),
    )
    p = F.col("n_conv").cast("double") / F.col("n_clicks")
    n = F.col("n_clicks")
    wilson = (
        p
        + F.lit(1.9208) / n
        - F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / n + F.lit(0.9604) / (n * n.cast("double")))
    ) / (F.lit(1.0) + F.lit(3.8416) / n)
    return by_channel.select(
        "channel",
        "n_clicks",
        "n_conv",
        F.round(p, 6).alias("naive_rate"),
        F.round(wilson, 6).alias("wilson_lb"),
    ).orderBy(F.col("wilson_lb").desc(), "channel")


@query(
    "q336_seasonal_decomposition",
    oracle="""
    WITH daily AS (
      SELECT cast(ts as date) AS day,
             cast(sum(cast(round(value * 100) as bigint)) as bigint) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY day
    ), trended AS (
      SELECT day, cents,
             CASE WHEN count(*) OVER w = 7
                  THEN cast(floor(sum(cents) OVER w / 7.0) as bigint) END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detrended AS (
      SELECT day, cents, trend, cents - trend AS detrended,
             cast(dayofweek(day) as int) AS dow
      FROM trended WHERE trend IS NOT NULL
    ), seasonal AS (
      SELECT dow,
             -- explicit floor: DuckDB `//` TRUNCATES toward zero on
             -- integers, which diverges from floor on negative sums
             cast(floor(sum(detrended) / (count(*) * 1.0)) as bigint) AS seasonal_cents
      FROM detrended GROUP BY dow
    )
    SELECT d.day, d.cents, d.trend, s.seasonal_cents,
           d.cents - d.trend - s.seasonal_cents AS residual_cents
    FROM detrended d JOIN seasonal s ON d.dow = s.dow
    ORDER BY d.day
    """,
    tags=("marketing", "timeseries"),
)
def q336_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION (trend + seasonal + residual)
    of daily revenue — the structure-finding step before any anomaly
    threshold (q225/q270 flag deviations; this explains them): trend =
    centered 7-day moving average (full windows only — edges stay out
    rather than biased), seasonal = per-weekday mean of the detrended
    series, residual = the rest. EVERY component stays in exact
    integer cents via floored integer division, so the decomposition
    is bit-stable under any partitioning — a float MA would drift.
    Windows ride the per-day aggregate spine (calendar-bounded). The
    weekday key ``dow`` is OUTPUT-INVARIANT, not normalized: Spark's
    dayofweek is 1–7 (Sun=1) and DuckDB's is 0–6 (Sun=0), but dow only
    serves as an internal group/join key that never reaches the final
    projection, and any bijection of the key domain yields the same
    groups — so each engine keeps its native convention."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)  # global-window-ok: per-day aggregate spine, calendar-domain-bounded
    trended = daily.select(
        "day",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            # explicit floor on BOTH engines: DuckDB's integer `//`
            # TRUNCATES toward zero (found empirically), so floor is
            # the only sign-robust shared convention
            F.floor(
                F.sum("cents").over(w) / F.lit(7.0)
            ).cast("bigint"),
        ).alias("trend"),
    )
    detrended = trended.filter(F.col("trend").isNotNull()).select(
        "day",
        "cents",
        "trend",
        (F.col("cents") - F.col("trend")).alias("detrended"),
        F.dayofweek("day").cast("int").alias("dow"),
    )
    seasonal = detrended.groupBy("dow").agg(
        # detrended sums go NEGATIVE and integer division conventions
        # diverge there (Spark `div` and DuckDB `//` both truncate,
        # floor() floors) — spell floor explicitly on both engines
        F.floor(F.sum("detrended") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("seasonal_cents")
    )
    return (
        detrended.join(F.broadcast(seasonal), "dow")
        .select(
            "day",
            "cents",
            "trend",
            "seasonal_cents",
            (F.col("cents") - F.col("trend") - F.col("seasonal_cents")).alias(
                "residual_cents"
            ),
        )
        .orderBy("day")
    )


def _pattern_oracle(stages: tuple[str, ...], gaps_us: tuple[int, ...]) -> str:
    """DuckDB oracle for ``operators/patterns.py::sequential_pattern_count``
    over events: a recursive CTE steps the SAME generated k-state
    automaton one event per level (DuckDB 1.0's list_reduce is
    nondeterministic over grouped struct lists, so the oracle iterates
    instead of folding), then histograms per-user match counts."""
    k = len(stages)
    adv = [
        f"e.et = '{stages[i]}' AND s.stage = {i} "
        f"AND e.us - s.anchor <= {gaps_us[i - 1]}"
        for i in range(1, k)
    ]
    stage_case = (
        f"CASE WHEN e.et = '{stages[0]}' THEN 1 "
        + " ".join(
            f"WHEN {w} THEN {0 if i == k - 1 else i + 1}"
            for i, w in zip(range(1, k), adv)
        )
        + " ELSE s.stage END"
    )
    anchor_case = (
        f"CASE WHEN e.et = '{stages[0]}' THEN e.us "
        + " ".join(
            f"WHEN {w} THEN "
            f"{'cast(0 as bigint)' if i == k - 1 else 'e.us'}"
            for i, w in zip(range(1, k), adv)
        )
        + " ELSE s.anchor END"
    )
    return f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS us, event_type AS et,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS i
      FROM events
    ), n AS (
      SELECT user_id, cast(count(*) as int) AS cnt FROM ev GROUP BY user_id
    ), st AS (
      SELECT user_id, 0 AS i, 0 AS stage, cast(0 as bigint) AS anchor,
             0 AS matches
      FROM n
      UNION ALL
      SELECT s.user_id, s.i + 1,
             {stage_case},
             {anchor_case},
             s.matches + CASE WHEN {adv[-1]} THEN 1 ELSE 0 END
      FROM st s JOIN ev e ON e.user_id = s.user_id AND e.i = s.i + 1
    )
    SELECT cast(s.matches as int) AS n_matches,
           cast(count(*) as bigint) AS n_users,
           cast(sum(s.matches) as bigint) AS total_matches
    FROM st s JOIN n ON s.user_id = n.user_id AND s.i = n.cnt
    GROUP BY s.matches
    """


# q346's automaton oracle, shared verbatim by the streaming twin
# q350_stream_pattern_match (plans/streaming_queries.py): the ordered
# slice-per-batch replay makes the incremental fold equal the batch fold
# exactly, so both queries hash against the same reference.
PATTERN_MATCH_ORACLE = _pattern_oracle(
    ("view", "click", "purchase"), (86_400_000_000, 259_200_000_000)
)


@query(
    "q346_event_pattern_match",
    oracle=PATTERN_MATCH_ORACLE,
    tags=("marketing", "sequence"),
)
def q346_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern matching — count
    NON-OVERLAPPING view→click→purchase episodes per user with time
    constraints (click ≤24h after its view, purchase ≤72h after that
    click), a shape neither joins (q121's funnel keeps only the FIRST
    conversion) nor windows (frames can't carry match state) express.
    Spark has no MATCH_RECOGNIZE; the general scale-safe compilation
    is per-key ordered fold: ONE shuffle groups each user's events,
    array_sort fixes the (ts, event_id) total order, and a single
    `aggregate` HOF runs the 3-state automaton (stage, anchor-ts in
    exact µs, match count) left-to-right — greedy semantics pinned:
    a view always (re)anchors, a late click/purchase leaves state
    unchanged. The DuckDB oracle replays the identical automaton as a
    recursive CTE stepping one event per level (found and dodged:
    DuckDB 1.0's list_reduce is NONDETERMINISTIC over grouped struct
    lists), so every transition rule is hash-verified. Integer µs
    arithmetic end to end.

    Scale: state per user is O(1); per-user sequences are
    session-scale (the q56 regime) — for multi-million-event users
    the same automaton runs incrementally in transformWithState
    (q350's path) instead of one collected array."""
    from ..operators.patterns import sequential_pattern_count

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    folded = sequential_pattern_count(
        ev,
        "user_id",
        "ts_us",
        "et",
        stages=("view", "click", "purchase"),
        gaps_us=(86_400_000_000, 259_200_000_000),
        tiebreak_col="eid",
        out_col="m",
    )
    return folded.groupBy(F.col("m").cast("int").alias("n_matches")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("m").cast("bigint").alias("total_matches"),
    )


@query(
    "q352_pattern_4stage",
    oracle=_pattern_oracle(
        ("view", "click", "signup", "purchase"),
        (86_400_000_000, 172_800_000_000, 259_200_000_000),
    ),
    tags=("marketing", "sequence"),
)
def q352_pattern_4stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pattern operator GENERALIZED — the same
    ``sequential_pattern_count`` automaton over a 4-stage funnel
    (view→click→signup→purchase with 24h/48h/72h per-transition
    bounds), proving the operator's stage machinery is parametric, not
    a hand-rolled 3-state special case: both the Spark fold and the
    DuckDB recursive-CTE oracle are GENERATED from the same
    (stages, gaps) spec, so any drift between the generator's CASE
    chains and the documented semantics breaks the hash. Same scale
    shape as q346: one shuffle, O(1) state per key, codegen'd fold."""
    from ..operators.patterns import sequential_pattern_count

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    folded = sequential_pattern_count(
        ev,
        "user_id",
        "ts_us",
        "et",
        stages=("view", "click", "signup", "purchase"),
        gaps_us=(86_400_000_000, 172_800_000_000, 259_200_000_000),
        tiebreak_col="eid",
        out_col="m",
    )
    return folded.groupBy(F.col("m").cast("int").alias("n_matches")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("m").cast("bigint").alias("total_matches"),
    )


def _markov_oracle(k: int) -> str:
    """Unrolled k-step Markov removal-effect attribution in DuckDB SQL
    — shares every protocol with the Spark side: journeys truncate at
    the FIRST purchase, transition probabilities are ppb integers
    (cnt·10⁹ // per-source total), each power step floors per-edge
    products before summing, and removal redirects a channel's inbound
    edges to the NULL absorber while keeping source totals intact."""
    sql = """
    WITH ev AS (
      SELECT user_id, event_type AS et,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), fp AS (
      SELECT user_id, min(rn) AS frn FROM ev WHERE et = 'purchase'
      GROUP BY user_id
    ), j AS (
      SELECT e.user_id, e.rn,
             CASE WHEN e.rn = f.frn THEN 'CONV' ELSE e.et END AS m,
             f.frn
      FROM ev e LEFT JOIN fp f USING (user_id)
      WHERE f.frn IS NULL OR e.rn <= f.frn
    ), mid AS (
      SELECT user_id, rn, m, frn,
             lag(m) OVER (PARTITION BY user_id ORDER BY rn) AS pm,
             max(rn) OVER (PARTITION BY user_id) AS lastrn
      FROM j
    ), edges AS (
      SELECT 'START' AS src, m AS dst FROM mid WHERE rn = 1
      UNION ALL
      SELECT pm AS src, m AS dst FROM mid WHERE pm IS NOT NULL
      UNION ALL
      SELECT m AS src, 'NULL' AS dst FROM mid
      WHERE frn IS NULL AND rn = lastrn
    ), cnts AS (
      SELECT src, dst, cast(count(*) as bigint) AS cnt
      FROM edges GROUP BY src, dst
    ), removals AS (
      SELECT unnest(['none', 'view', 'click', 'signup', 'error']) AS removed
    ), red AS (
      SELECT removed, src, dst2 AS dst, cast(sum(cnt) as bigint) AS cnt
      FROM (
        SELECT r.removed, c.src,
               CASE WHEN c.dst = r.removed THEN 'NULL' ELSE c.dst END AS dst2,
               c.cnt
        FROM cnts c CROSS JOIN removals r
      ) GROUP BY removed, src, dst2
    ), tot AS (
      SELECT removed, src, cast(sum(cnt) as bigint) AS tot
      FROM red GROUP BY removed, src
    ), mx AS (
      SELECT red.removed, red.src, red.dst,
             cast((red.cnt * 1000000000) // t.tot as bigint) AS p
      FROM red JOIN tot t ON red.removed = t.removed AND red.src = t.src
      UNION ALL
      SELECT removed, s, s, cast(1000000000 as bigint)
      FROM removals CROSS JOIN (SELECT unnest(['CONV', 'NULL']) AS s)
    ), v0 AS (
      SELECT removed, 'START' AS state, cast(1000000000 as bigint) AS mass
      FROM removals
    )"""
    prev = "v0"
    for i in range(1, k + 1):
        sql += f""",
    v{i} AS (
      SELECT v.removed, m.dst AS state,
             cast(sum((v.mass * m.p) // 1000000000) as bigint) AS mass
      FROM {prev} v JOIN mx m
        ON v.removed = m.removed AND v.state = m.src
      GROUP BY v.removed, m.dst
    )"""
        prev = f"v{i}"
    sql += f""",
    conv AS (
      SELECT r.removed, coalesce(v.mass, 0) AS conv_ppb
      FROM removals r LEFT JOIN {prev} v
        ON r.removed = v.removed AND v.state = 'CONV'
    ), full_c AS (
      SELECT conv_ppb AS full_ppb FROM conv WHERE removed = 'none'
    ), eff AS (
      SELECT c.removed AS channel, f.full_ppb,
             c.conv_ppb, f.full_ppb - c.conv_ppb AS effect
      FROM conv c CROSS JOIN full_c f WHERE c.removed != 'none'
    ), se AS (SELECT sum(effect) AS s FROM eff)
    SELECT channel,
           cast(full_ppb as bigint) AS conv_full_ppb,
           cast(conv_ppb as bigint) AS conv_removed_ppb,
           cast(effect as bigint) AS removal_effect_ppb,
           cast(CASE WHEN se.s > 0 THEN (effect * 1000000) // se.s
                     ELSE 0 END as bigint) AS attribution_ppm
    FROM eff CROSS JOIN se
    """
    return sql


@query(
    "q349_markov_attribution",
    oracle=_markov_oracle(6),
    tags=("marketing", "attribution", "iterative"),
)
def q349_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al.'s data-driven
    alternative to the positional heuristics q131/q166/q307): model
    journeys as a first-order chain over touch channels, then credit
    each channel by how much total conversion probability disappears
    when it is removed (its inbound edges redirected to the NULL
    absorber). Journeys truncate at the FIRST purchase (START → … →
    CONV) or end in NULL for non-converters. The absorption
    probability is computed by a k=6 power iteration in EXACT ppb
    fixed-point — transition probs are cnt·10⁹ div source-total, every
    step floors per-edge products before the integer sum — so the
    whole pipeline is bit-identical under any partitioning and the
    driver hashes all four channels' attribution shares. The oracle
    unrolls the same six steps as chained CTEs.

    Scale shape: ONE shuffle builds per-user ordered journeys (lag
    window over user partitions — the q131 pattern) and each journey
    row emits its edges in a single explode pass; transition counts
    aggregate to a CHANNEL-cardinality frame (≤ |states|², data-scale
    independent). Each removal variant then carries its whole matrix
    as one sorted edge array and the 6-step power iteration runs as a
    single HOF fold per row — zero per-iteration shuffles or stages
    (a join+agg loop on these tiny frames costs seconds of pure
    stage scheduling at ANY data scale). The event log is touched
    exactly once however many channels or steps."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    wu = W.partitionBy("user_id").orderBy("us", "eid")
    r = ev.withColumn("rn", F.row_number().over(wu))
    fp = (
        r.filter(F.col("et") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("frn"))
    )
    j = (
        r.join(fp, "user_id", "left")
        .filter(F.col("frn").isNull() | (F.col("rn") <= F.col("frn")))
        .withColumn(
            "m",
            F.when(F.col("rn") == F.col("frn"), F.lit("CONV")).otherwise(
                F.col("et")
            ),
        )
    )
    wj = W.partitionBy("user_id").orderBy("rn")
    mid = j.select(
        "user_id",
        "rn",
        "m",
        "frn",
        F.lag("m").over(wj).alias("pm"),
        F.max("rn").over(W.partitionBy("user_id")).alias("lastrn"),
    )
    # one pass over the journey rows: each row emits its 0-2 edges as an
    # array and explodes — the event log is scanned once, not once per
    # edge kind (a union of three filters would re-run the window thrice)
    empty = F.array().cast("array<struct<src:string,dst:string>>")
    edge = lambda s, d: F.array(F.struct(s.alias("src"), d.alias("dst")))  # noqa: E731
    edges = mid.select(
        F.explode(
            F.concat(
                F.when(F.col("rn") == 1, edge(F.lit("START"), F.col("m"))).otherwise(
                    empty
                ),
                F.when(
                    F.col("pm").isNotNull(), edge(F.col("pm"), F.col("m"))
                ).otherwise(empty),
                F.when(
                    F.col("frn").isNull() & (F.col("rn") == F.col("lastrn")),
                    edge(F.col("m"), F.lit("NULL")),
                ).otherwise(empty),
            )
        ).alias("e")
    )
    cnts = edges.groupBy(
        F.col("e.src").alias("src"), F.col("e.dst").alias("dst")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    channels = ["view", "click", "signup", "error"]
    removals = spark.createDataFrame(
        [(c,) for c in ["none", *channels]], "removed string"
    )
    red = (
        cnts.crossJoin(F.broadcast(removals))
        .select(
            "removed",
            "src",
            F.when(F.col("dst") == F.col("removed"), F.lit("NULL"))
            .otherwise(F.col("dst"))
            .alias("dst"),
            "cnt",
        )
        .groupBy("removed", "src", "dst")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    tot = red.groupBy("removed", "src").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    mx = (
        red.join(tot, ["removed", "src"])
        .select(
            F.col("removed").alias("mremoved"),
            "src",
            "dst",
            F.expr("(cnt * 1000000000) div tot").cast("bigint").alias("p"),
        )
        .unionByName(
            removals.crossJoin(
                F.broadcast(
                    spark.createDataFrame([("CONV",), ("NULL",)], "s string")
                )
            ).select(
                F.col("removed").alias("mremoved"),
                F.col("s").alias("src"),
                F.col("s").alias("dst"),
                F.lit(1_000_000_000).cast("bigint").alias("p"),
            )
        )
    )
    # One removal variant = one row carrying its whole (channel-cardinality)
    # transition matrix as a sorted edge array; the 6-step power iteration
    # then runs as a single HOF fold per row — ZERO per-iteration shuffles
    # or stages (a join+agg loop on these tiny frames spent ~9 s of pure
    # stage-scheduling overhead at any data scale). Integer products and
    # sums, so the result is bit-identical to the join formulation and to
    # the oracle's unrolled CTEs whatever the edge order.
    per = mx.groupBy(F.col("mremoved").alias("removed")).agg(
        F.array_sort(F.collect_list(F.struct("src", "dst", "p"))).alias("edges")
    )
    v_final = F.expr(
        """
        aggregate(
          sequence(1, 6),
          map('START', cast(1000000000 as bigint)),
          (acc, i) -> map_from_entries(
            transform(
              array_distinct(transform(edges, e -> e.dst)),
              d -> struct(d, aggregate(
                     filter(edges, e -> e.dst = d),
                     cast(0 as bigint),
                     (s, e) -> s + (coalesce(element_at(acc, e.src),
                                             cast(0 as bigint)) * e.p)
                               div 1000000000)))))
        """
    )
    # tiny (5 rows) but feeds two consumers (baseline + per-channel rows):
    # materialize once so the event-scale lineage isn't derived twice
    conv = (
        per.select(
            "removed",
            F.coalesce(F.element_at(v_final, F.lit("CONV")), F.lit(0))
            .cast("bigint")
            .alias("conv_ppb"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    full_c = conv.filter(F.col("removed") == "none").select(
        F.col("conv_ppb").alias("full_ppb")
    )
    eff = (
        conv.filter(F.col("removed") != "none")
        .crossJoin(F.broadcast(full_c))
        .select(
            F.col("removed").alias("channel"),
            "full_ppb",
            "conv_ppb",
            (F.col("full_ppb") - F.col("conv_ppb")).alias("effect"),
        )
    )
    se = eff.agg(F.sum("effect").alias("s"))
    return eff.crossJoin(F.broadcast(se)).select(
        "channel",
        F.col("full_ppb").cast("bigint").alias("conv_full_ppb"),
        F.col("conv_ppb").cast("bigint").alias("conv_removed_ppb"),
        F.col("effect").cast("bigint").alias("removal_effect_ppb"),
        F.expr(
            "cast(CASE WHEN s > 0 THEN (effect * 1000000) div s"
            " ELSE 0 END as bigint)"
        ).alias("attribution_ppm"),
    )


@query(
    "q351_sprt_sequential_test",
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS c_us, event_id AS c_eid
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT c.c_us, c.c_eid,
             max(CASE WHEN p.p_us > c.c_us
                      AND p.p_us <= c.c_us + 86400000000
                      THEN 1 ELSE 0 END) AS success
      FROM c LEFT JOIN p ON c.user_id = p.user_id
      GROUP BY c.c_us, c.c_eid
    ), pre AS (
      SELECT success,
             row_number() OVER (ORDER BY c_us, c_eid) AS n,
             sum(success) OVER (ORDER BY c_us, c_eid
                                ROWS UNBOUNDED PRECEDING) AS k
      FROM t
    ), l AS (
      SELECT n, k,
             k * ln(cast(0.45 as double)/cast(0.3 as double)) + (n - k) * ln(cast(0.55 as double)/cast(0.7 as double)) AS llr,
             ln(cast(0.8 as double)/cast(0.05 as double)) AS up, ln(cast(0.2 as double)/cast(0.95 as double)) AS lo
      FROM pre
    )
    SELECT cast(coalesce(max(n), 0) as bigint) AS n_total,
           cast(coalesce(max(k), 0) as bigint) AS k_total,
           coalesce(min_by(CASE WHEN llr >= up THEN 'reject_h0'
                                ELSE 'accept_h0' END, n)
                      FILTER (WHERE llr >= up OR llr <= lo),
                    'continue') AS decision,
           cast(coalesce(min(n) FILTER (WHERE llr >= up OR llr <= lo), 0)
                as bigint) AS n_at_decision,
           cast(coalesce(min_by(k, n)
                           FILTER (WHERE llr >= up OR llr <= lo), 0)
                as bigint) AS k_at_decision,
           round(coalesce(min_by(llr, n)
                            FILTER (WHERE llr >= up OR llr <= lo), 0.0), 6)
             AS llr_at_decision
    FROM l
    """,
    tags=("marketing", "stats", "sequential"),
)
def q351_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SPRT — sequential probability-ratio testing, the
    peeking-safe alternative to q133's fixed-horizon z-test (and the
    question q291's power analysis sizes in advance): trials are
    clicks in time order, success = a purchase by the same user within
    24h; after each trial the log-likelihood ratio
    k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)) (H₀ p=0.30 vs H₁ p=0.45)
    is compared to Wald's boundaries ln((1−β)/α), ln(β/(1−α)) and the
    FIRST crossing decides. The sequential scan is NOT a driver loop:
    (n, k) come from ONE multi-measure `global_prefix_sum` pass (two
    running sums in a single range exchange, no Exchange
    SinglePartition), the LLR is a per-row IEEE expression over those
    exact integers, and first-crossing selection is a min_by/FILTER
    aggregation — the whole decision timeline in three shuffles at any
    scale. The oracle replays trial construction, both boundaries and
    the argmin selection. Found and pinned: bare literals like
    0.45/0.3 parse as DECIMAL division in BOTH engines but at
    different scales (DuckDB truncates (1−0.45)/(1−0.3) to 0.785714
    before ln — a 6e-6 LLR drift), so every ratio casts to double
    explicitly and both engines take ln of the identical IEEE value.
    """
    from ..operators.ranking import global_prefix_sum

    DAY_US = 86_400_000_000  # pin below: see q132's sampling-pass note
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    c = ev.filter(F.col("et") == "click").select(
        "user_id", F.col("us").alias("c_us"), F.col("eid").alias("c_eid")
    )
    p = ev.filter(F.col("et") == "purchase").select(
        "user_id", F.col("us").alias("p_us")
    )
    t = (
        c.join(p, "user_id", "left")
        .groupBy("c_us", "c_eid")
        .agg(
            F.max(
                F.when(
                    (F.col("p_us") > F.col("c_us"))
                    & (F.col("p_us") <= F.col("c_us") + DAY_US),
                    1,
                ).otherwise(0)
            ).alias("success")
        )
        .withColumn("one", F.lit(1))
    )
    t = pin_cache(t)  # join+agg above would run twice (sampling + shuffle)
    pre = global_prefix_sum(t, ["c_us", "c_eid"], ["one", "success"], ["n", "k"])
    l = pre.select(
        "n",
        "k",
        F.expr("k * ln(cast(0.45 as double)/cast(0.3 as double)) + (n - k) * ln(cast(0.55 as double)/cast(0.7 as double))").alias("llr"),
        F.expr("ln(cast(0.8 as double)/cast(0.05 as double))").alias("up"),
        F.expr("ln(cast(0.2 as double)/cast(0.95 as double))").alias("lo"),
    )
    return l.agg(
        F.expr("cast(coalesce(max(n), 0) as bigint)").alias("n_total"),
        F.expr("cast(coalesce(max(k), 0) as bigint)").alias("k_total"),
        F.expr(
            "coalesce(min_by(CASE WHEN llr >= up THEN 'reject_h0'"
            " ELSE 'accept_h0' END, n)"
            " FILTER (WHERE llr >= up OR llr <= lo), 'continue')"
        ).alias("decision"),
        F.expr(
            "cast(coalesce(min(n) FILTER (WHERE llr >= up OR llr <= lo), 0)"
            " as bigint)"
        ).alias("n_at_decision"),
        F.expr(
            "cast(coalesce(min_by(k, n)"
            " FILTER (WHERE llr >= up OR llr <= lo), 0) as bigint)"
        ).alias("k_at_decision"),
        F.expr(
            "round(coalesce(min_by(llr, n)"
            " FILTER (WHERE llr >= up OR llr <= lo), 0.0), 6)"
        ).alias("llr_at_decision"),
    )


@query(
    "q364_grouped_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', cast(ts as date)) AS x,
             cast(round(value * 100) as bigint) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             cast(count(*) as bigint) AS n,
             cast(sum(x) as bigint) AS sx,
             cast(sum(y) as bigint) AS sy,
             sum(x * x) AS sxx,
             sum(x * y) AS sxy,
             sum(y * y) AS syy
      FROM pts GROUP BY event_type
    ), d AS (
      SELECT event_type, n, sx, sy,
             cast(n * sxy - sx * sy as double) AS cov_n,
             cast(n * sxx - sx * sx as double) AS varx_n,
             cast(n * syy - sy * sy as double) AS vary_n
      FROM s
    )
    SELECT event_type, n,
           round(cov_n / varx_n, 6) AS slope_cents_per_day,
           round((cast(sy as double) - (cov_n / varx_n) * sx) / n, 4)
             AS intercept_cents,
           round((cov_n * cov_n) / (varx_n * vary_n), 6) AS r2
    FROM d
    """,
    tags=("stats", "regression"),
)
def q364_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED closed-form OLS — per-event-type linear trend of value
    (cents) over time (epoch days): slope, intercept, R² from the five
    sufficient statistics (Σx, Σy, Σxx, Σxy, Σyy), the one-pass
    distributed regression pattern (the same sufficient-statistic
    discipline as PCA/logreg in vector_queries, here fully in SQL
    aggregates — no driver solve step at all, because the 1-D normal
    equations close over the sums).

    Exactness: x (days ~2·10⁴) and y (cents < 5·10⁴ by fixture range)
    keep every per-row product inside bigint; the cross terms
    n·Σxy − Σx·Σy exceed 2⁶³ so they widen to decimal(38,0) (Spark) /
    hugeint (DuckDB) — both EXACT integers — and only then cast to
    double, where IEEE round-to-nearest of the same integer gives the
    same double on both engines (the q334 d_numerator protocol). The
    final slope/intercept/R² expressions are fixed-order IEEE over
    those exact operands.

    Scale: ONE partial-aggregated pass over the fact table, G output
    rows — the regression never sees a group-sized task. At 100 TB the
    only change is widening the per-row product types."""
    e = table(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    y = F.round(F.col("value") * 100).cast("bigint")
    pts = e.select(
        "event_type",
        x.cast("bigint").alias("x"),
        y.alias("y"),
    )
    # per-row products fit bigint (x~2e4 days, y~5e4 cents) but their
    # SUMS do not at sf10+ — widen each product to decimal(38,0) BEFORE
    # the aggregate so accumulation is exact, matching DuckDB's hugeint
    # sum (summing in bigint then casting would wrap silently with
    # ANSI off).
    dec38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec38(F.col("x") * F.col("x"))).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec38(F.col("x") * F.col("y"))).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec38(F.col("y") * F.col("y"))).cast("decimal(38,0)").alias("syy"),
    )
    # widen BEFORE multiplying: sx*sy in bigint wraps once sx·sy > 2^63
    # (per-group n ~2.5M at sf10 gives sx~5e10, sy~2.5e10)
    cov_n = (dec38(F.col("n")) * F.col("sxy") - dec38(F.col("sx")) * dec38(F.col("sy"))).cast(
        "double"
    )
    varx_n = (
        dec38(F.col("n")) * F.col("sxx") - dec38(F.col("sx")) * dec38(F.col("sx"))
    ).cast("double")
    vary_n = (
        dec38(F.col("n")) * F.col("syy") - dec38(F.col("sy")) * dec38(F.col("sy"))
    ).cast("double")
    d = s.select("event_type", "n", "sx", "sy",
                 cov_n.alias("cov_n"), varx_n.alias("varx_n"), vary_n.alias("vary_n"))
    slope = F.col("cov_n") / F.col("varx_n")
    return d.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept_cents"),
        F.round(
            (F.col("cov_n") * F.col("cov_n")) / (F.col("varx_n") * F.col("vary_n")),
            6,
        ).alias("r2"),
    )


@query(
    "q366_shapley_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, min(ts) AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), touch AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'view'   THEN 1 ELSE 0 END)
           + 2 * max(CASE WHEN e.event_type = 'click'  THEN 1 ELSE 0 END)
           + 4 * max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
               AS mask
      FROM events e JOIN conv c
        ON e.user_id = c.user_id AND e.ts < c.pts
      WHERE e.event_type IN ('view', 'click', 'signup')
      GROUP BY e.user_id
    ), j AS (
      SELECT c.user_id, coalesce(t.mask, 0) AS mask
      FROM conv c LEFT JOIN touch t ON c.user_id = t.user_id
    ), nt AS (
      SELECT mask, count(*) AS n FROM j GROUP BY mask
    ), subsets AS (
      SELECT cast(s as int) AS smask FROM unnest(range(0, 8)) AS u(s)
    ), v AS (
      SELECT s.smask,
             cast(coalesce(sum(CASE WHEN (nt.mask & (7 - s.smask)) = 0
                                    THEN nt.n ELSE 0 END), 0) as bigint) AS v
      FROM subsets s CROSS JOIN nt GROUP BY s.smask
    ), ch AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4))
        AS t(channel, bit)
    ), contrib AS (
      SELECT ch.channel,
             CASE ((s0.smask & 1) + ((s0.smask >> 1) & 1)
                   + ((s0.smask >> 2) & 1))
               WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
               * (s1.v - s0.v) AS c
      FROM ch
      JOIN v s0 ON (s0.smask & ch.bit) = 0
      JOIN v s1 ON s1.smask = s0.smask + ch.bit
    ), phi AS (
      SELECT channel, cast(sum(c) as bigint) AS phi_x6 FROM contrib
      GROUP BY channel
    ), tot AS (
      SELECT cast(sum(phi_x6) as bigint) AS total FROM phi
    )
    SELECT p.channel, p.phi_x6,
           cast((p.phi_x6 * 1000000) // t.total as bigint) AS share_ppm
    FROM phi p CROSS JOIN tot t
    """,
    tags=("marketing", "attribution", "stats"),
)
def q366_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE attribution (Shapley 1953 as used in
    marketing mix, e.g. Dalessandro et al. 2012) — the cooperative-game
    complement that completes the attribution family (last-touch q131,
    time-decay q166, position q307, Markov removal-effect q349):
    channels are players, the coalition value v(S) counts converting
    journeys whose pre-purchase touch set fits inside S, and each
    channel's credit is its exact marginal-contribution average. With
    3 channels the 3! orderings reduce to integer weights ×6
    (|S|=0,1,2 → 2,1,2), so phi_x6 is an exact bigint — containment
    monotonicity makes every marginal non-negative — and shares floor
    to ppm (operands non-negative: Spark div ≡ DuckDB //).

    Scale shape: journeys collapse to a BITMASK per converting user
    (one agg over the pre-purchase slice), masks collapse to ≤2³
    coalition counts, and everything after — the 8-row v(S) table, the
    3×4 marginal join, the shares — is constant-size broadcast work.
    Exponential-in-channels is the algorithm's nature; the fact-table
    cost is ONE pass regardless (the mask agg), which is why exact
    Shapley is viable at 100 TB when the channel set is small."""
    e = table(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    touch = (
        e.filter(F.col("event_type").isin("view", "click", "signup"))
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("pts"))
        .groupBy("user_id")
        .agg(
            (
                F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
                + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
                + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            ).alias("mask")
        )
    )
    j = conv.join(touch, "user_id", "left").select(
        F.coalesce("mask", F.lit(0)).alias("mask")
    )
    nt = j.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
    subsets = spark.range(8).select(F.col("id").cast("int").alias("smask"))
    v = (
        subsets.crossJoin(F.broadcast(nt))
        .groupBy("smask")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.expr("(mask & (7 - smask)) = 0"), F.col("n")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("v")
        )
    )
    ch = spark.range(1).selectExpr(
        "stack(3, 'view', 1, 'click', 2, 'signup', 4) as (channel, bit)"
    )
    s0, s1 = v.alias("s0"), v.alias("s1")
    contrib = (
        ch.join(F.broadcast(s0), F.expr("(s0.smask & bit) = 0"))
        .join(F.broadcast(s1), F.expr("s1.smask = s0.smask + bit"))
        .select(
            "channel",
            (
                F.expr(
                    "CASE ((s0.smask & 1) + ((s0.smask >> 1) & 1)"
                    " + ((s0.smask >> 2) & 1))"
                    " WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END"
                )
                * (F.col("s1.v") - F.col("s0.v"))
            ).alias("c"),
        )
    )
    phi = contrib.groupBy("channel").agg(
        F.sum("c").cast("bigint").alias("phi_x6")
    )
    tot = phi.agg(F.sum("phi_x6").cast("bigint").alias("total"))
    return phi.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi_x6",
        F.expr("(phi_x6 * 1000000) div total").cast("bigint").alias("share_ppm"),
    )


@query(
    "q373_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
             cast(round(value * 100) as bigint) AS cents
      FROM events WHERE event_type IN ('purchase', 'click')
    ), per_v AS (
      SELECT cents,
             cast(count(*) as bigint) AS n_v,
             cast(sum(a) as bigint) AS a_v
      FROM s GROUP BY cents
    ), ranked AS (
      SELECT cents, n_v, a_v,
             cast(sum(n_v) OVER (ORDER BY cents
                  ROWS UNBOUNDED PRECEDING) as bigint) AS cum
      FROM per_v
    ), agg AS (
      SELECT cast(sum(a_v) as bigint) AS n1,
             cast(sum(n_v) - sum(a_v) as bigint) AS n2,
             cast(sum(n_v) as bigint) AS n,
             cast(sum(a_v * (2 * (cum - n_v) + n_v + 1)) as bigint) AS r1_x2,
             cast(sum(n_v * n_v * n_v - n_v) as bigint) AS t_ties
      FROM ranked
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           t_ties,
           (r1_x2 - n1 * (n1 + 1)) * 1000000 // (2 * n1 * n2) AS auc_ppm,
           round(
             (cast(r1_x2 - n1 * (n1 + 1) as double) - cast(n1 * n2 as double))
             / (2.0 * sqrt(
                 (cast(n1 as double) * cast(n2 as double) / 12.0)
                 * (cast(n + 1 as double)
                    - cast(t_ties as double)
                      / (cast(n as double) * cast(n - 1 as double)))
               )), 6) AS z_score
    FROM agg
    """,
    tags=("marketing", "stats", "parity"),
)
def q373_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U — the rank-based two-sample test that completes
    the inference battery (z-test q133 assumes proportions, KS q334
    compares whole CDFs, Welch-style means break on heavy tails; U
    asks the median-shift question non-parametrically). Exactness
    protocol: values quantize to cents (the money protocol), so ties
    are well-defined; tie-averaged ranks stay INTEGER by carrying
    2·rank (avg rank of a tie run [lo..hi] = (lo+hi)/2, so 2·R1 =
    Σ a_v·(2·cum_before + n_v + 1) is exact bigint), U1 and the tie
    correction Σ(t³−t) are exact bigints, and the normal-approximation
    z is ONE fixed-order IEEE expression over those integers on both
    engines (q133's round-6 protocol). The ROC-AUC of 'purchase vs
    click' as a classifier score ships for free: AUC = U₁/(n₁n₂)
    exactly (the Mann-Whitney/AUC identity), emitted as an integer
    ppm floor-division.

    Scale shape: ranking uses NO global window — per-value counts
    (map-side combined, bounded by |distinct cents|) feed
    global_prefix_sum's range exchange, and the test statistic folds
    in one final one-row aggregation. The corpus is scanned once; at
    100 TB the only data-sized op is the first groupBy."""
    from ..operators.ranking import global_prefix_sum

    s = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("a"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    per_v = s.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum("a").cast("bigint").alias("a_v"),
    )
    ranked = global_prefix_sum(per_v, ["cents"], "n_v", "cum")
    agg = ranked.agg(
        F.sum("a_v").cast("bigint").alias("n1"),
        (F.sum("n_v") - F.sum("a_v")).cast("bigint").alias("n2"),
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(
            F.col("a_v")
            * (2 * (F.col("cum") - F.col("n_v")) + F.col("n_v") + 1)
        )
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint")
        .alias("t_ties"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    z = (
        u1_x2.cast("double") - (F.col("n1") * F.col("n2")).cast("double")
    ) / (
        F.lit(2.0)
        * F.sqrt(
            (F.col("n1").cast("double") * F.col("n2").cast("double") / 12.0)
            * (
                (F.col("n") + 1).cast("double")
                - F.col("t_ties").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
            )
        )
    )
    return agg.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        "t_ties",
        F.expr("(r1_x2 - n1 * (n1 + 1)) * 1000000 div (2 * n1 * n2)")
        .cast("bigint")
        .alias("auc_ppm"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q378_nelson_aalen",
    oracle="""
    WITH bounds AS (
      SELECT max(ts) AS end_ts FROM events
    ), subj AS (
      SELECT user_id,
             cast(floor((epoch_us(coalesce(
                    min(CASE WHEN event_type = 'purchase' THEN ts END), b.end_ts))
                  - epoch_us(min(ts))) / 3600000000.0) as bigint) AS dur_hours,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
                  THEN 1 ELSE 0 END AS converted
      FROM events, bounds b GROUP BY user_id, b.end_ts
    ), at_t AS (
      SELECT dur_hours AS t, sum(converted) AS d, count(*) AS leave_n
      FROM subj GROUP BY dur_hours
    ), risk AS (
      SELECT t, d,
             sum(leave_n) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM at_t
    ), ordered AS (
      SELECT t, d, n_risk,
             row_number() OVER (ORDER BY t) AS idx
      FROM risk
    ), arr AS (
      SELECT list(d / cast(n_risk as double) ORDER BY t) AS hs FROM ordered
    )
    SELECT o.t AS t_hours,
           cast(o.n_risk as bigint) AS n_risk,
           cast(o.d as bigint) AS n_events,
           round(list_reduce(list_prepend(0.0, hs[1 : o.idx]),
                             (a, b) -> a + b), 6) AS cum_hazard
    FROM ordered o CROSS JOIN arr
    """,
    tags=("marketing", "stats", "survival"),
)
def q378_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard — the additive companion to
    q287's Kaplan-Meier product: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the SAME
    right-censored first-activity→first-purchase counting process
    (same subjects, same at-risk windows — the two curves are read
    together: Ĥ vs −ln Ŝ separating is the textbook diagnostic for
    heavy ties). The hazard increments fold SEQUENTIALLY over the
    time-ordered array (addition order fixed on both engines — q287's
    fold protocol with + for ×), so every prefix hashes. Frame sizes:
    the whole curve lives on the ≤|distinct-tenure| frame; the corpus
    is touched once by the per-user groupBy."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events")
    cut = e.agg(F.max("ts").alias("end_ts"))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = (
        e.join(F.broadcast(cut), F.lit(True))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.unix_micros(F.coalesce(first_purchase, F.first("end_ts")))
                    - F.unix_micros(F.min("ts"))
                )
                / F.lit(3600000000.0)
            )
            .cast("bigint")
            .alias("dur_hours"),
            first_purchase.isNotNull().cast("int").alias("converted"),
        )
    )
    at_t = subj.groupBy(F.col("dur_hours").alias("t")).agg(
        F.sum("converted").alias("d"), F.count(F.lit(1)).alias("leave_n")
    )
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(W.unboundedPreceding, 0)  # global-window-ok: frame = distinct tenure-hours, bounded by the observation window
    w_asc = W.orderBy("t")  # global-window-ok: same bounded distinct-tenure frame
    risk = at_t.withColumn("n_risk", F.sum("leave_n").over(w_desc))
    ordered = risk.withColumn("idx", F.row_number().over(w_asc))
    arr = ordered.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "t",
                        (F.col("d") / F.col("n_risk").cast("double")).alias("h"),
                    )
                )
            ),
            lambda s: s["h"],
        ).alias("hs")
    )
    return ordered.join(F.broadcast(arr), F.lit(True)).select(
        F.col("t").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.round(
            F.aggregate(
                F.slice(F.col("hs"), 1, F.col("idx")),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            6,
        ).alias("cum_hazard"),
    )


@query(
    "q379_holt_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             cast(count(*) as double) AS y
      FROM events GROUP BY event_type, day
    ), series AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), base AS (
      SELECT s1.event_type, 2 AS idx, s1.n,
             0.5 * s2.y + 0.5 * (s1.y + (s2.y - s1.y)) AS l,
             0.5 * ((0.5 * s2.y + 0.5 * (s1.y + (s2.y - s1.y))) - s1.y)
               + 0.5 * (s2.y - s1.y) AS b
      FROM series s1 JOIN series s2
        ON s1.event_type = s2.event_type AND s1.idx = 1 AND s2.idx = 2
    ), rec(event_type, idx, n, l, b) AS (
      SELECT event_type, idx, n, l, b FROM base
      UNION ALL
      SELECT r.event_type, r.idx + 1, r.n,
             0.5 * s.y + 0.5 * (r.l + r.b),
             0.5 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
      FROM rec r JOIN series s
        ON s.event_type = r.event_type AND s.idx = r.idx + 1
    )
    SELECT event_type, cast(n as bigint) AS n_days,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + 7 * b, 6) AS forecast_h7
    FROM rec WHERE idx = n
    """,
    tags=("marketing", "timeseries", "forecast"),
)
def q379_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT double-exponential smoothing (α=β=0.5) — the TREND-aware
    forecast the level-only smoothers and q281's seasonal index can't
    produce: per event-type daily series, fold level/trend through the
    classic recurrences and project 7 days ahead. The fold runs as ONE
    aggregate() HOF over the time-sorted per-series array (q349's
    fixed-state iteration shape — zero per-step shuffles); the oracle
    steps the identical recurrence as a recursive CTE (NOT list_reduce
    — the q346 nondeterminism ledger entry), with the arithmetic
    spelled operation-for-operation the same, so every IEEE
    intermediate matches bitwise. Initialization: l₂/b₂ seeded from
    the first two observations (the textbook l₁=y₁, b₁=y₂−y₁ pushed
    through one update).

    Scale: the corpus collapses to per-series daily rollups
    (map-side combined); each series folds independently inside its
    own row — thousands of series parallelize as rows, state is O(1)
    per series, and no window ever spans more than one series."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    packed = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s["y"],
        ).alias("ys")
    )
    fold = (
        "aggregate("
        "  sequence(3, size(ys)),"
        "  named_struct("
        "    'l', 0.5d * ys[1] + 0.5d * (ys[0] + (ys[1] - ys[0])),"
        "    'b', 0.5d * ((0.5d * ys[1] + 0.5d * (ys[0] + (ys[1] - ys[0]))) - ys[0])"
        "         + 0.5d * (ys[1] - ys[0])),"
        "  (acc, i) -> named_struct("
        "    'l', 0.5d * ys[i - 1] + 0.5d * (acc.l + acc.b),"
        "    'b', 0.5d * ((0.5d * ys[i - 1] + 0.5d * (acc.l + acc.b)) - acc.l)"
        "         + 0.5d * acc.b))"
    )
    return packed.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.round(F.expr(fold + ".l"), 6).alias("level"),
        F.round(F.expr(fold + ".b"), 6).alias("trend"),
        F.round(F.expr(f"({fold}).l + 7 * ({fold}).b"), 6).alias("forecast_h7"),
    )


@query(
    "q380_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             cast(count(*) as double) AS y
      FROM events GROUP BY event_type, day
    ), packed AS (
      SELECT event_type, list(y ORDER BY day) AS ys,
             cast(count(*) as bigint) AS n
      FROM daily GROUP BY event_type
      HAVING count(*) >= 14
    ), seeded AS (
      SELECT event_type, ys, n,
             list_reduce(list_prepend(cast(0.0 as double), ys[1:7]),
                         (a, x) -> a + x) / 7.0 AS a1,
             list_reduce(list_prepend(cast(0.0 as double), ys[8:14]),
                         (a, x) -> a + x) / 7.0 AS a2
      FROM packed
    ), rec(event_type, t, l, b, s, ys, n) AS (
      SELECT event_type, 7, a1, (a2 - a1) / 7.0,
             list_transform(ys[1:7], x -> x - a1), ys, n
      FROM seeded
      UNION ALL
      SELECT event_type, t + 1,
             0.5 * (ys[t + 1] - s[(t % 7) + 1]) + 0.5 * (l + b),
             0.5 * ((0.5 * (ys[t + 1] - s[(t % 7) + 1]) + 0.5 * (l + b)) - l)
               + 0.5 * b,
             list_transform(s, (x, j) -> CASE WHEN j = (t % 7) + 1
               THEN 0.5 * (ys[t + 1]
                           - (0.5 * (ys[t + 1] - s[(t % 7) + 1])
                              + 0.5 * (l + b)))
                    + 0.5 * x
               ELSE x END),
             ys, n
      FROM rec WHERE t < n
    )
    SELECT event_type, n AS n_days,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(s[(cast(n as int) % 7) + 1], 6) AS season_h7,
           round(l + 7 * b + s[(cast(n as int) % 7) + 1], 6) AS forecast_h7
    FROM rec WHERE t = n
    """,
    tags=("marketing", "timeseries", "forecast"),
)
def q380_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple smoothing (α=β=γ=0.5, weekly
    m=7) — the seasonality-aware completion of the forecast family
    (level: smoothers; level+trend: q379; level+trend+season: THIS):
    the state is (level, trend, 7-slot seasonal array) and every day
    updates one slot. Classic two-week initialization (l₇ = week-1
    mean, b₇ = (week-2 mean − week-1 mean)/7, sᵢ = yᵢ − l₇); series
    shorter than 14 days are excluded on both sides.

    Engine protocol: the Spark side folds the per-series sorted array
    through ONE aggregate() HOF whose accumulator carries the seasonal
    array (updated via indexed transform — 0-based in Spark, 1-based
    in DuckDB, slot arithmetic written per dialect); the oracle steps
    the IDENTICAL arithmetic as a recursive CTE carrying the list
    column. Every IEEE intermediate matches bitwise — pinned by the
    Python replay test like q379.

    Scale: per-series O(1)-state fold inside one row; the corpus
    collapses to per-series daily rollups first. The forecast is
    l + h·b + s[slot(n+h)] — pure post-fold arithmetic."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    packed = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "y"))),
                lambda s: s["y"],
            ).alias("ys")
        )
        .filter(F.size("ys") >= 14)
    )
    a1 = "(aggregate(slice(ys, 1, 7), cast(0.0 as double), (a, x) -> a + x) / 7.0d)"
    a2 = "(aggregate(slice(ys, 8, 7), cast(0.0 as double), (a, x) -> a + x) / 7.0d)"
    init = (
        f"named_struct('l', {a1}, 'b', ({a2} - {a1}) / 7.0d,"
        f" 's', transform(slice(ys, 1, 7), x -> x - {a1}))"
    )
    lnew = (
        "(0.5d * (element_at(ys, i) - element_at(acc.s, ((i - 1) % 7) + 1))"
        " + 0.5d * (acc.l + acc.b))"
    )
    step = (
        f"named_struct("
        f" 'l', {lnew},"
        f" 'b', 0.5d * ({lnew} - acc.l) + 0.5d * acc.b,"
        f" 's', transform(acc.s, (x, j) -> if(j = (i - 1) % 7,"
        f"        0.5d * (element_at(ys, i) - {lnew}) + 0.5d * x, x)))"
    )
    fold = f"aggregate(sequence(8, size(ys)), {init}, (acc, i) -> {step})"
    season = f"element_at(({fold}).s, (size(ys) % 7) + 1)"
    return packed.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.round(F.expr(f"({fold}).l"), 6).alias("level"),
        F.round(F.expr(f"({fold}).b"), 6).alias("trend"),
        F.round(F.expr(season), 6).alias("season_h7"),
        F.round(
            F.expr(f"({fold}).l + 7 * ({fold}).b + {season}"), 6
        ).alias("forecast_h7"),
    )


@query(
    "q381_psi_drift",
    oracle="""
    WITH halves AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <
                    (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2
                     FROM events)
                  THEN 0 ELSE 1 END AS half,
             least(cast(round(value * 100) as bigint) // 2500, 9) AS bin
      FROM events
    ), cells AS (
      SELECT event_type, half, bin, cast(count(*) as bigint) AS c
      FROM halves GROUP BY event_type, half, bin
    ), bins AS (  -- dense 10-bin grid per type, Laplace +1 both halves
      SELECT t.event_type, b.bin,
             coalesce(r.c, 0) + 1 AS c_ref,
             coalesce(u.c, 0) + 1 AS c_cur
      FROM (SELECT DISTINCT event_type FROM cells) t
      CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
      LEFT JOIN cells r ON r.event_type = t.event_type AND r.bin = b.bin
                       AND r.half = 0
      LEFT JOIN cells u ON u.event_type = t.event_type AND u.bin = b.bin
                       AND u.half = 1
    ), tot AS (
      SELECT event_type,
             cast(sum(c_ref) as bigint) AS n_ref,
             cast(sum(c_cur) as bigint) AS n_cur
      FROM bins GROUP BY event_type
    ), terms AS (
      SELECT b.event_type,
             (cast(c_cur as double) / n_cur - cast(c_ref as double) / n_ref)
             * ln(cast(c_cur * n_ref as double) / cast(c_ref * n_cur as double))
               AS term
      FROM bins b JOIN tot USING (event_type)
    )
    SELECT event_type,
           cast(count(*) as bigint) AS n_bins,
           round(list_reduce(list_sort(list(term)), (a, x) -> a + x), 6) AS psi
    FROM terms GROUP BY event_type
    """,
    tags=("marketing", "monitoring", "stats"),
)
def q381_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX — the industry-standard drift score
    the existing monitors complement (q334 KS answers "did the
    distribution move?", CUSUM/binseg answer "when?"; PSI answers
    "HOW MUCH, per feature, in a comparable unit" — the 0.1/0.25
    warn/act thresholds every model-monitoring runbook quotes):
    Σ (p_cur − p_ref)·ln(p_cur/p_ref) over a fixed 10-bin value grid,
    first half of the observation window as reference vs second half
    as current. Bin counts are EXACT integers on a dense grid
    (Laplace +1 on both halves so empty bins stay finite and the
    formula is symmetric); each term is one fixed-order IEEE
    expression over exact integer ratios (ln of an integer-ratio
    double — the q368 protocol) and the per-type sum folds in sorted
    order, so PSI value-hashes across engines.

    Scale: ONE corpus pass builds the (type, half, bin) cell table
    (map-side combined, ≤ types×2×10 rows); the dense-grid join and
    the PSI fold are grid-sized. Monitoring 10⁴ features over 100 TB
    is 10⁴ × 20 cells, not 10⁴ scans — add feature as a key and the
    same plan serves the whole feature store."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.expr("(unix_micros(lo) + unix_micros(hi)) div 2").alias("mid_us")
    )
    halves = e.join(F.broadcast(bounds), F.lit(True)).select(
        "event_type",
        F.when(F.unix_micros("ts") < F.col("mid_us"), 0).otherwise(1).alias("half"),
        F.least(
            F.expr("cast(round(value * 100) as bigint) div 2500"), F.lit(9)
        ).alias("bin"),
    )
    cells = halves.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    types = cells.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            cells.sparkSession.range(0, 10).select(F.col("id").alias("bin"))
        )
    )
    ref = cells.filter(F.col("half") == 0).select(
        "event_type", "bin", F.col("c").alias("cr")
    )
    cur = cells.filter(F.col("half") == 1).select(
        "event_type", "bin", F.col("c").alias("cu")
    )
    bins = (
        grid.join(ref, ["event_type", "bin"], "left")
        .join(cur, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            (F.coalesce("cr", F.lit(0)) + 1).alias("c_ref"),
            (F.coalesce("cu", F.lit(0)) + 1).alias("c_cur"),
        )
    )
    tot = bins.groupBy("event_type").agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    terms = bins.join(F.broadcast(tot), "event_type").select(
        "event_type",
        (
            (
                F.col("c_cur").cast("double") / F.col("n_cur")
                - F.col("c_ref").cast("double") / F.col("n_ref")
            )
            * F.log(
                (F.col("c_cur") * F.col("n_ref")).cast("double")
                / (F.col("c_ref") * F.col("n_cur")).cast("double")
            )
        ).alias("term"),
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("psi"),
    )
