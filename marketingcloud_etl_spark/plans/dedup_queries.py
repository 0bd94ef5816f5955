"""Near-dup detection catalog: n-gram Jaccard (oracle-checked),
MinHash+LSH and SimHash candidate generation (rows-only — algorithmic,
pinned by planted-duplicate tests in tests/test_dedup.py), and the
HLL sketch (rows-only — estimates are engine-specific)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex_int, hex_int_expr, hex_int_sql
from ..functions.text import tokens_sql
from ..io import query_state, scratch_dir, table
from ..operators.dedup import (
    MINHASH_LAYOUT,
    build_minhash_index,
    minhash_lsh_candidates,
    ngram_jaccard,
    ngram_set,
    probe_minhash_index,
    simhash64,
    simhash_band_candidates,
)
from ..operators.ranking import pin_cache
from ..operators.state import (
    compact_bucket_index,
    probe_bucket_rows,
    probe_then_append,
    read_bucket_index,
    write_bucket_index,
)
from .catalog import query

_TOKS_A = tokens_sql("a.text")
_TOKS_B = tokens_sql("b.text")
_GRAMS = (
    "list_distinct(list_transform(range(1, len({t})), i -> {t}[i] || ' ' || {t}[i+1]))"
)


@query(
    "q47_ngram_jaccard",
    oracle=f"""
    WITH pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             {_GRAMS.format(t=_TOKS_A)} AS ga,
             {_GRAMS.format(t=_TOKS_B)} AS gb
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id < 200
    )
    SELECT id_a, id_b,
           round(CASE WHEN len(list_distinct(list_concat(ga, gb))) > 0
                 THEN cast(len(list_intersect(ga, gb)) as double)
                      / len(list_distinct(list_concat(ga, gb)))
                 ELSE 0.0 END, 6) AS jaccard
    FROM pairs
    """,
    tags=("dedup",),
)
def q47_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-gram Jaccard similarity on consecutive doc pairs — the exact
    verify stage that LSH candidate pairs feed at scale."""
    d = table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("id_a"), ngram_set("text", 2).alias("ga")
    )
    # the join key implies id_b = id_a + 1 <= 200, but Catalyst can't
    # propagate constraints through the arithmetic — filter explicitly
    # so the (expensive) n-gram sets build for 200 docs, not the corpus
    b = d.filter(F.col("doc_id") <= 200).select(
        F.col("doc_id").alias("id_b"), ngram_set("text", 2).alias("gb")
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(ngram_jaccard(F.col("ga"), F.col("gb")), 6).alias("jaccard"),
        )
    )


@query("q50_minhash_lsh", oracle=None, tags=("dedup", "rows-only"))
def q50_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms)+LSH(8 bands) near-dup candidates over
    documents. Shuffle is O(docs×bands) — never the cross product.
    Deterministic signature params (seed=42)."""
    d = table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, num_perm=32, bands=8)
    return cand.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(F.when(F.col("n_shared_bands") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_strong_pairs"),
    )


@query("q51_simhash_bands", oracle=None, tags=("dedup", "rows-only"))
def q51_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints + banded hamming candidate counts;
    also surfaces the fingerprints of the first 10 docs so the value is
    pinned run-over-run."""
    d = table(spark, sf_dir, "documents")
    n_cand = simhash_band_candidates(d).count()
    return (
        d.filter(F.col("doc_id") < 10)
        .select("doc_id", simhash64("text").alias("simhash"))
        .withColumn("n_band_candidates", F.lit(n_cand))
    )


@query("q60_approx_distinct", oracle=None, tags=("sketch", "rows-only"))
def q60_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (cardinality dashboards at 100 TB —
    no exact-distinct shuffle). Estimates are engine-specific, so this
    is rows-only; the sanity bound vs exact lives in tests."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q85_hash_sample_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, {hex_int_sql("md5(cast(doc_id as varchar))")} % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) as bigint) AS n_sample,
           cast(sum(CASE WHEN bucket < 90 THEN 1 ELSE 0 END) as bigint) AS n_train,
           cast(sum(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) as bigint) AS n_test
    FROM h GROUP BY lang
    """,
    tags=("sampling",),
)
def q85_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling + train/test split by key hash —
    the reproducible alternative to rand()-based sampling (stable
    across runs, engines, and partitionings; membership derivable from
    the key alone, so a re-run or a different engine selects the SAME
    rows). 10% sample bucket, 90/10 train/test split."""
    d = table(spark, sf_dir, "documents")
    bucket = F.pmod(F.expr(hex_int_expr("md5(cast(doc_id as string))")), F.lit(100))
    h = d.select("lang", bucket.alias("bucket"))
    return h.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("bucket") < 10, 1).otherwise(0)).alias("n_sample"),
        F.sum(F.when(F.col("bucket") < 90, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0)).alias("n_test"),
    )


@query(
    "q86_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {hex_int_sql("md5(cast(doc_id as varchar))")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 20
    """,
    tags=("sampling",),
)
def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly k=20 docs per language, selected by
    hash order (deterministic, unbiased within stratum) — the balanced
    evaluation-set builder. One shuffle on the stratum key."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.expr(hex_int_expr("md5(cast(doc_id as string))")), "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


@query("q91_neardup_pipeline", oracle=None, tags=("dedup", "rows-only"))
def q91_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup detection pipeline at production shape:
    MinHash+LSH candidate generation (O(docs·bands) shuffle) → exact
    2-gram Jaccard verification on ONLY the candidate pairs → verdict
    counts by band-agreement strength. The verify stage touches
    candidates, never the corpus cross product — this composition is
    what runs at 100 TB."""
    from ..operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, num_perm=32, bands=8)
    # ngram_jaccard_pairs carries cand's columns through (incl.
    # n_shared_bands) — no re-join against the candidate subplan
    verified = ngram_jaccard_pairs(d, cand, n=2)
    return verified.groupBy("n_shared_bands").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_true_neardups"),
        F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )


# Shared recursive-CTE transitive closure for the CC queries (q95/q109):
# similarity edges (2-gram Jaccard >= 0.05, docs <= 2 ids apart) -> reach
# -> per-node min-label component. Ends with `comp(id, component)`.
_CC_CTE = f"""
    WITH RECURSIVE g AS (
      SELECT doc_id, {_GRAMS.format(t=tokens_sql('text'))} AS gs FROM documents WHERE doc_id < 500
    ), sim AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 OR b.doc_id = a.doc_id + 2
      WHERE CASE WHEN len(list_distinct(list_concat(a.gs, b.gs))) > 0
            THEN cast(len(list_intersect(a.gs, b.gs)) as double)
                 / len(list_distinct(list_concat(a.gs, b.gs)))
            ELSE 0.0 END >= 0.05
    ), edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM sim
      UNION SELECT id_b, id_a FROM sim
    ), nodes AS (
      SELECT DISTINCT s AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    )
"""


@query(
    "q95_dup_clusters_cc",
    oracle=f"""
    {_CC_CTE}
    SELECT component, cast(count(*) as bigint) AS n_docs,
           min(id) AS min_doc, max(id) AS max_doc
    FROM comp GROUP BY component
    """,
    tags=("dedup", "iterative"),
)
def q95_dup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: similarity edges (2-gram
    Jaccard ≥ 0.05 between docs ≤ 2 ids apart — the q47 verify-stage
    battery shape) feed min-label-propagation connected components
    (operators/components.py), so transitively-linked docs land in one
    cluster even when they never directly collide. The oracle computes
    the same closure with a recursive CTE — a full value check of an
    iterative distributed algorithm."""
    comp = _dup_components(spark, sf_dir)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("id").alias("min_doc"),
        F.max("id").alias("max_doc"),
    )


def _dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side of _CC_CTE: similarity edges -> (id, component)."""
    from ..operators.components import connected_components

    d = table(spark, sf_dir, "documents")
    return connected_components(_gap_edges(d.filter(F.col("doc_id") < 500)))


def _gap_edges(docs: DataFrame) -> DataFrame:
    """Similarity edges (id_a, id_b) between ``docs`` whose ids differ
    by 1 or 2 and whose 2-gram Jaccard is >= 0.05 — the q47
    verify-stage shape. The gram frame is read by both gap joins, so
    it is pinned (freed by the next release_ranking_caches)."""
    g = pin_cache(docs.select("doc_id", ngram_set("text", 2).alias("gs")))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("ga"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gb"))
    # one equi-join per gap, unioned — an OR-of-equalities join condition
    # would plan as a nested-loop join (every row pair evaluated); the
    # equi-joins hash-partition on the id arithmetic instead
    parts = [
        a.join(b, F.col("id_b") == F.col("id_a") + gap)
        .filter(ngram_jaccard(F.col("ga"), F.col("gb")) >= 0.05)
        .select("id_a", "id_b")
        for gap in (1, 2)
    ]
    return parts[0].unionByName(parts[1])


@query(
    "q109_dup_canonical_pick",
    oracle=f"""
    {_CC_CTE}
    , ranked AS (
      SELECT comp.component, comp.id, d.n_chars,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY d.n_chars DESC, comp.id ASC) AS rn
      FROM comp JOIN documents d ON d.doc_id = comp.id
    )
    SELECT component,
           cast(count(*) as bigint) AS n_docs,
           cast(count(*) as bigint) - 1 AS n_dropped,
           min(CASE WHEN rn = 1 THEN id END) AS canonical_doc,
           min(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars
    FROM ranked GROUP BY component
    """,
    tags=("dedup", "iterative"),
)
def q109_dup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINAL stage of the near-dup pipeline: candidate pairs ->
    connected components (q95) -> pick ONE canonical document per
    duplicate cluster (longest text wins, doc_id breaks ties) and count
    what gets dropped. This is the "keep best, drop the rest" dedup
    policy every LLM-corpus build ends with — deterministic, so a
    re-run keeps the same survivors.

    Scale shape: the ranking is a row_number window partitioned by
    component — one shuffle on the cluster id, whose cardinality is
    the number of dup clusters (<< corpus size). No driver-side state;
    the iterative part (CC) is O(log diameter) join rounds with
    lineage cuts (operators/components.py)."""
    from pyspark.sql.window import Window as W

    comp = _dup_components(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    ranked = comp.join(d, comp["id"] == d["doc_id"]).select(
        "component", "id", "n_chars"
    )
    w = W.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("id").asc())
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
        F.min(F.when(F.col("rn") == 1, F.col("id"))).alias("canonical_doc"),
        F.min(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("canonical_chars"),
    )


@query(
    "q110_leakage_safe_split",
    oracle=f"""
    {_CC_CTE}
    , universe AS (
      SELECT d.doc_id, comp.component,
             coalesce(comp.component, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
      WHERE d.doc_id < 500
    ), split AS (
      SELECT doc_id, component, group_id,
             CASE WHEN {hex_int_sql("md5(cast(group_id as varchar))")} % 100 >= 90
                  THEN 'test' ELSE 'train' END AS split
      FROM universe
    )
    SELECT split,
           cast(count(*) as bigint) AS n_docs,
           cast(count(DISTINCT group_id) as bigint) AS n_groups,
           cast(sum(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END) as bigint)
             AS n_clustered
    FROM split GROUP BY split
    """,
    tags=("sampling", "dedup", "iterative"),
)
def q110_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split that CANNOT leak near-duplicates across the
    boundary: the split key is the duplicate-cluster id (connected
    component; singletons key on their own doc_id), not the document id
    — so a whole cluster lands in train or in test, never both. This is
    the eval-contamination guard a doc-hash split (q85) lacks: hashing
    doc_ids puts two near-identical docs on opposite sides ~18% of the
    time at a 90/10 split.

    Scale shape: CC is O(log diameter) bounded join rounds; the split
    itself is one hash expression on the group id + one aggregation —
    no extra shuffle beyond the group-id join."""
    comp = _dup_components(spark, sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    universe = d.join(comp, comp["id"] == d["doc_id"], "left").select(
        "doc_id",
        "component",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
    )
    bucket = F.pmod(F.expr(hex_int_expr("md5(cast(group_id as string))")), F.lit(100))
    split = universe.withColumn(
        "split", F.when(bucket >= 90, F.lit("test")).otherwise(F.lit("train"))
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("group_id").alias("n_groups"),
        F.sum(F.when(F.col("component").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clustered"),
    )


@query(
    "q111_mixture_weights",
    oracle="""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             sqrt(cast(count(*) as double)) AS w_raw
      FROM documents GROUP BY source
    ), tot AS (
      SELECT list_reduce(list_sort(list(w_raw)), (a, b) -> a + b) AS w_sum,
             sum(n_docs) AS n_total
      FROM per_source
    )
    SELECT p.source,
           cast(p.n_docs as bigint) AS n_docs,
           round(cast(p.n_docs as double) / t.n_total, 6) AS natural_frac,
           round(p.w_raw / t.w_sum, 6) AS sampled_frac,
           round((p.w_raw / t.w_sum) / (cast(p.n_docs as double) / t.n_total), 6)
             AS upsample_factor
    FROM per_source p CROSS JOIN tot t
    """,
    tags=("sampling",),
)
def q111_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture weights (alpha = 0.5): each
    source's sampling probability is count^alpha normalized — the
    standard multi-source rebalancing used to keep a giant crawl from
    drowning small high-quality sources. Emits natural vs sampled
    fractions and the per-source up/down-sampling factor.

    sqrt() is IEEE-exact (identical across engines, unlike pow(x,0.5));
    the normalizing sums are a one-row broadcast — no second shuffle.
    Scale: one partial-agg pass over the corpus; the mixture table is
    driver-sized (one row per source) by definition. w_sum left-folds
    the sorted sqrt terms instead of a raw SUM(double): with sqrt
    bitwise-identical across engines, the identical addition order
    makes w_sum bitwise-exact and aggregation-order-independent."""
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.count(F.lit(1)).cast("double")).alias("w_raw"),
    )
    tot = per_source.agg(
        F.aggregate(
            F.array_sort(F.collect_list("w_raw")), F.lit(0.0), lambda a, x: a + x
        ).alias("w_sum"),
        F.sum("n_docs").cast("double").alias("n_total"),
    )
    natural = F.col("n_docs").cast("double") / F.col("n_total")
    sampled = F.col("w_raw") / F.col("w_sum")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(natural, 6).alias("natural_frac"),
        F.round(sampled, 6).alias("sampled_frac"),
        F.round(sampled / natural, 6).alias("upsample_factor"),
    )


@query("q112_approx_quantiles", oracle=None, tags=("sketch", "rows-only"))
def q112_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via the Greenwald-Khanna sketch
    (percentile_approx) — the scale path for latency/price/length
    distributions where an exact percentile would sort 100 TB. Sketches
    merge associatively across partitions, so the shuffle carries one
    sketch per group, not the data. Rows-only by contract (sketch
    internals are engine-specific); the rank-error bound vs the exact
    quantile is pinned in tests/test_operators.py."""
    li = table(spark, sf_dir, "lineitem")
    qs = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            qs.alias("price_quantiles"),
        )
        .select(
            "l_returnflag",
            "n",
            F.col("price_quantiles")[0].alias("p50"),
            F.col("price_quantiles")[1].alias("p95"),
            F.col("price_quantiles")[2].alias("p99"),
        )
    )


@query(
    "q135_hll_bound_check",
    oracle="""
    SELECT l_returnflag,
           cast(count(DISTINCT l_partkey) as bigint) AS exact_parts,
           cast(count(DISTINCT l_orderkey) as bigint) AS exact_orders,
           true AS parts_within_bound,
           true AS orders_within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sketch",),
)
def q135_hll_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q60's HLL++ sketch made driver-checkable: compute the approximate
    AND exact distinct counts side by side and emit ``within_bound``
    booleans (|approx − exact| ≤ 5·rsd·exact — five standard errors of
    the rsd=0.02 sketch, so a correct implementation passes with
    overwhelming margin and a broken merge/estimator flips the flag).
    The exact counts are value-checked by the oracle; the booleans
    carry the sketch evidence a rows-only check can't."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__ao"),
    )

    def within(approx: str, exact: str):
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.lit(5 * 0.02) * F.col(exact)
        )

    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within("__ap", "exact_parts").alias("parts_within_bound"),
        within("__ao", "exact_orders").alias("orders_within_bound"),
    )


@query(
    "q136_quantile_bound_check",
    oracle="""
    SELECT l_returnflag, cast(count(*) as bigint) AS n,
           true AS p50_ok, true AS p95_ok, true AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sketch",),
)
def q136_quantile_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q112's Greenwald-Khanna sketch made driver-checkable via its own
    guarantee: percentile_approx(accuracy=10000) must return an element
    whose RANK is within ε·n (ε = 1/accuracy) of the target p·n. The
    check joins the (tiny, broadcast) per-group quantile table back to
    the rows and verifies  rank_lt(q̂) ≤ (p+ε)·n + 1  and
    rank_le(q̂) ≥ (p−ε)·n − 1  — rank-based, so it's exact arithmetic,
    no float tolerance. Group sizes are value-checked by the oracle;
    the booleans carry the sketch evidence."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    qs = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), 10000
    )
    quant = li.groupBy("l_returnflag").agg(qs.alias("__q"))
    joined = li.join(F.broadcast(quant), "l_returnflag")
    agg = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            f
            for i in range(3)
            for f in (
                F.sum((F.col("l_extendedprice") < F.col("__q")[i]).cast("long")).alias(f"__lt{i}"),
                F.sum((F.col("l_extendedprice") <= F.col("__q")[i]).cast("long")).alias(f"__le{i}"),
            )
        ],
    )
    eps = 1.0 / 10000

    def ok(i: int, p: float):
        n = F.col("n")
        return (F.col(f"__lt{i}") <= (p + eps) * n + 1) & (
            F.col(f"__le{i}") >= (p - eps) * n - 1
        )

    return agg.select(
        "l_returnflag",
        "n",
        ok(0, 0.5).alias("p50_ok"),
        ok(1, 0.95).alias("p95_ok"),
        ok(2, 0.99).alias("p99_ok"),
    )


@query(
    "q115_fuzzy_match",
    oracle="""
    WITH clean AS (
      SELECT DISTINCT p_name AS name FROM part
    ), dirty AS (
      SELECT name,
             CASE row_number() OVER (ORDER BY name) % 3
               WHEN 0 THEN substr(name, 1, length(name) - 1)
               WHEN 1 THEN 'x' || substr(name, 2)
               ELSE name END AS dirty_name
      FROM clean
    ), blocked AS (
      SELECT DISTINCT c.name, d.dirty_name, d.name AS truth
      FROM clean c JOIN dirty d
        ON split_part(c.name, ' ', 1) = split_part(d.dirty_name, ' ', 1)
        OR split_part(c.name, ' ', -1) = split_part(d.dirty_name, ' ', -1)
    ), verified AS (
      SELECT name, dirty_name, truth,
             levenshtein(name, dirty_name) AS dist
      FROM blocked
      WHERE levenshtein(name, dirty_name) <= 2
    )
    SELECT cast(dist as int) AS dist,
           cast(count(*) as bigint) AS n_pairs,
           cast(sum(CASE WHEN name = truth THEN 1 ELSE 0 END) as bigint)
             AS n_correct
    FROM verified GROUP BY dist
    """,
    tags=("dedup", "fuzzy"),
)
def q115_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: match deterministically-corrupted part
    names (last char dropped / first char replaced, by row rank mod 3)
    back to the clean catalog via MULTI-KEY BLOCKING — candidates share
    a first word OR a last word — then levenshtein <= 2 verification on
    candidates only. Union-of-blocking-keys is the standard ER recipe:
    each corruption type survives at least one key, and the expensive
    edit distance never runs on the cross product.

    Scale shape: distinct-project first (never re-compare identical
    strings), two equi-joins on block keys, verify on candidates.
    Block sizes are bounded by name-vocabulary fan-out, not corpus
    rows; a skewed block would get the q72 salting treatment."""
    from ..operators.ranking import global_row_number

    p = table(spark, sf_dir, "part")
    clean = p.select(F.col("p_name").alias("name")).distinct()
    # the corruption type keys off a GLOBAL name rank — computed with the
    # distributed two-phase ranking, not a single-partition window (the
    # name vocabulary scales with the catalog)
    rn = F.col("__rn")
    dirty = global_row_number(clean, ["name"], "__rn").select(
        "name",
        F.when(rn % 3 == 0, F.expr("substring(name, 1, length(name) - 1)"))
        .when(rn % 3 == 1, F.concat(F.lit("x"), F.expr("substring(name, 2)")))
        .otherwise(F.col("name"))
        .alias("dirty_name"),
    )
    first_w = lambda c: F.split(F.col(c), " ").getItem(0)  # noqa: E731
    last_w = lambda c: F.element_at(F.split(F.col(c), " "), -1)  # noqa: E731
    c = clean.select("name", first_w("name").alias("k1"), last_w("name").alias("k2"))
    d = dirty.select(
        F.col("name").alias("truth"),
        "dirty_name",
        first_w("dirty_name").alias("k1"),
        last_w("dirty_name").alias("k2"),
    )
    cand = (
        c.join(d, on="k1").select("name", "dirty_name", "truth")
        .unionByName(c.join(d, on="k2").select("name", "dirty_name", "truth"))
        .distinct()
    )
    verified = cand.withColumn("dist", F.levenshtein("name", "dirty_name")).filter(
        F.col("dist") <= 2
    )
    return verified.groupBy(F.col("dist").cast("int").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("name") == F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )


@query("q128_pagerank", oracle=None, tags=("graph", "iterative", "rows-only"))
def q128_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the doc-similarity graph (the q95 edge
    set fed symmetrically): which documents sit at the center of
    near-duplicate neighborhoods — a dedup triage signal (high-rank
    docs are template hubs). Five power iterations, one join + one agg
    per round, lineage cut each round (operators/pagerank.py).

    Rows-only by contract (float iteration); the operator itself is
    pinned against a numpy reference in tests/test_operators.py."""
    from ..operators.pagerank import pagerank

    d = table(spark, sf_dir, "documents")
    edges = _gap_edges(d.filter(F.col("doc_id") < 500))
    sym = edges.unionByName(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    ranks = pagerank(sym, iters=5, symmetric=True)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("id"))
        .limit(20)
        .select("id", F.round("rank", 6).alias("rank"))
    )


@query(
    "q342_pagerank_exact",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS (  -- bipartite part-supplier graph, fed symmetrically;
                   -- disjoint id spaces via 2p / 2s+1
      SELECT p * 2 AS src, s * 2 + 1 AS dst FROM e0
      UNION ALL
      SELECT s * 2 + 1 AS src, p * 2 AS dst FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges  -- symmetric: src set = node set
    ), deg AS (
      SELECT src, cast(count(*) as bigint) AS deg FROM edges GROUP BY src
    ), nn AS (
      SELECT cast(count(*) as bigint) AS n FROM nodes
    ), r0 AS (
      SELECT id, 1000000000000 // n AS r FROM nodes CROSS JOIN nn
    ), c1 AS (
      SELECT e.dst AS id, cast(sum(r.r // d.deg) as bigint) AS s
      FROM edges e JOIN r0 r ON e.src = r.id JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), r1 AS (
      SELECT nodes.id,
             (150000000000 // n) + (85 * coalesce(c1.s, 0)) // 100 AS r
      FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id
    ), c2 AS (
      SELECT e.dst AS id, cast(sum(r.r // d.deg) as bigint) AS s
      FROM edges e JOIN r1 r ON e.src = r.id JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT nodes.id,
             (150000000000 // n) + (85 * coalesce(c2.s, 0)) // 100 AS r
      FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id
    ), c3 AS (
      SELECT e.dst AS id, cast(sum(r.r // d.deg) as bigint) AS s
      FROM edges e JOIN r2 r ON e.src = r.id JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ), r3 AS (
      SELECT nodes.id,
             (150000000000 // n) + (85 * coalesce(c3.s, 0)) // 100 AS r
      FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id
    )
    SELECT id, cast(r as bigint) AS rank_micro FROM r3
    """,
    tags=("graph", "iterative", "parity"),
)
def q342_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q128: PageRank in EXACT integer
    fixed-point (operators/pagerank.py::pagerank_fixed_point) over the
    symmetric bipartite part-supplier graph — every rank a bigint
    micro-unit, contributions floor-divided by degree, damping as
    integer percent math, so the full three-iteration power method is
    bit-identical under any partitioning/aggregation order and the
    driver hashes EVERY node's rank (float q128 stays rows-only by
    contract because double addition is order-dependent). The oracle
    unrolls the same three iterations as chained CTEs — all operands
    non-negative, so Python/Spark floor `div` and DuckDB's truncating
    `//` agree. Same scale shape as q128: one join + one aggregation
    per iteration, lineage cut per round, no driver-side data."""
    from ..operators.pagerank import pagerank_fixed_point

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    e0 = li.select(
        (F.col("l_partkey") * 2).alias("id_a"),
        (F.col("l_suppkey") * 2 + 1).alias("id_b"),
    )
    sym = e0.unionByName(
        e0.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    return pagerank_fixed_point(sym, iters=3, symmetric=True).select(
        "id", "rank_micro"
    )


# --- q414: warm-start PageRank (the state posture for the rank family) ---


def _pr_graph_ctes(p: str, where: str) -> str:
    """The q342 bipartite part-supplier graph CTE block under prefix
    ``p`` — edges fed symmetrically, disjoint id spaces via 2p/2s+1."""
    return f"""{p}e0 AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem{where}
    ), {p}edges AS (
      SELECT p * 2 AS src, s * 2 + 1 AS dst FROM {p}e0
      UNION ALL
      SELECT s * 2 + 1 AS src, p * 2 AS dst FROM {p}e0
    ), {p}nodes AS (
      SELECT DISTINCT src AS id FROM {p}edges
    ), {p}deg AS (
      SELECT src, cast(count(*) as bigint) AS deg FROM {p}edges GROUP BY src
    ), {p}nn AS (
      SELECT cast(count(*) as bigint) AS n FROM {p}nodes
    )"""


def _pr_round_ctes(p: str, k: int, r0: str) -> tuple[str, str]:
    """``k`` chained integer fixed-point PageRank rounds (q342's exact
    protocol) from initial-rank CTE ``r0``; returns (ctes, last_name)."""
    parts, cur = [], r0
    for i in range(1, k + 1):
        parts.append(f"""{p}c{i} AS (
      SELECT e.dst AS id, cast(sum(r.r // d.deg) as bigint) AS s
      FROM {p}edges e JOIN {cur} r ON e.src = r.id
           JOIN {p}deg d ON e.src = d.src
      GROUP BY e.dst
    ), {p}r{i} AS (
      SELECT {p}nodes.id,
             (150000000000 // n) + (85 * coalesce({p}c{i}.s, 0)) // 100 AS r
      FROM {p}nodes CROSS JOIN {p}nn
           LEFT JOIN {p}c{i} ON {p}nodes.id = {p}c{i}.id
    )""")
        cur = f"{p}r{i}"
    return ", ".join(parts), cur


_Q414_OLD_G = _pr_graph_ctes("o_", " WHERE l_orderkey % 4 <> 0")
_Q414_OLD_ROUNDS, _Q414_OLD_LAST = _pr_round_ctes("o_", 2, "o_r0")
_Q414_UN_G = _pr_graph_ctes("u_", "")
_Q414_UN_ROUNDS, _Q414_UN_LAST = _pr_round_ctes("u_", 2, "u_r0")


@query(
    "q414_warm_start_pagerank",
    oracle=f"""
    WITH {_Q414_OLD_G}, o_r0 AS (
      SELECT id, 1000000000000 // n AS r FROM o_nodes CROSS JOIN o_nn
    ), {_Q414_OLD_ROUNDS}, {_Q414_UN_G}, u_r0 AS (
      SELECT u_nodes.id, coalesce(o.r, 1000000000000 // n) AS r
      FROM u_nodes CROSS JOIN u_nn
           LEFT JOIN {_Q414_OLD_LAST} o ON u_nodes.id = o.id
    ), {_Q414_UN_ROUNDS}
    SELECT id, cast(r as bigint) AS rank_micro FROM {_Q414_UN_LAST}
    """,
    tags=("graph", "iterative", "incremental", "state"),
)
def q414_warm_start_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARM-START PAGERANK — the persisted-state posture for the rank
    family, completing the incremental trio over graph operators (CC
    q391, label propagation q394, PageRank here): yesterday's ranks
    (two q342-protocol rounds over the OLD part-supplier graph,
    l_orderkey % 4 ≠ 0) persist as an (id, rank_micro) table; today's
    refresh runs TWO more integer fixed-point rounds over the UNION
    graph starting from that state, with graph-new nodes seeded at the
    uniform scale // n_union. Every quantity is a bigint and every
    division a floor, so the warm-started trajectory is engine-exact —
    the oracle unrolls the same 2+2 rounds (old-graph CTE chain feeds
    the union chain's round-0 coalesce) and the driver hashes every
    node's rank.

    Unlike CC/LP, PageRank has no finite dependency cone — one new
    edge perturbs every rank — so the honest incremental story is
    ROUNDS, not per-round work: each round still scans every edge
    (one keyed join + agg, q342's shape), but re-convergence from
    yesterday's solution takes a fraction of the from-uniform round
    count. The 2-round continuation IS the daily refresh; the oracle
    proves it lands exactly where the protocol says.

    cf. reference R16 (salesforce_extractor.py:373-395): the same
    resume-from-watermark posture, applied to an iterative fixpoint."""
    from ..operators.pagerank import pagerank_fixed_point

    li = table(spark, sf_dir, "lineitem")

    def sym_edges(pairs: DataFrame) -> DataFrame:
        e0 = pairs.select(
            (F.col("l_partkey") * 2).alias("id_a"),
            (F.col("l_suppkey") * 2 + 1).alias("id_b"),
        )
        return e0.unionByName(
            e0.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )

    def build(sd: str) -> None:
        old = (
            li.filter(F.col("l_orderkey") % 4 != 0)
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        pagerank_fixed_point(sym_edges(old), iters=2, symmetric=True).write.parquet(
            sd + "/ranks"
        )

    state = spark.read.parquet(query_state("q414", sf_dir, build)[0] + "/ranks")

    allp = li.select("l_partkey", "l_suppkey").distinct()
    return pagerank_fixed_point(
        sym_edges(allp), iters=2, symmetric=True, init=state
    ).select("id", "rank_micro")


@query(
    "q129_setsim_join",
    oracle=f"""
    WITH ds AS (
      SELECT doc_id, {_GRAMS.format(t=tokens_sql('text'))} AS s
      FROM documents
      WHERE doc_id < 300 AND len({tokens_sql('text')}) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(len(list_intersect(a.s, b.s)) as int) AS n_inter,
           cast(len(list_distinct(list_concat(a.s, b.s))) as int) AS n_union,
           cast(floor(cast(len(list_intersect(a.s, b.s)) as double) * 1000000.0
                      / len(list_distinct(list_concat(a.s, b.s)))) as bigint)
             AS jaccard_ppm
    FROM ds a JOIN ds b ON a.doc_id < b.doc_id
    WHERE cast(len(list_intersect(a.s, b.s)) as double)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
    tags=("dedup", "similarity-join"),
)
def q129_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering
    (operators/setsim.py, AllPairs/PPJoin family): every 2-gram-set
    pair with Jaccard >= 0.5, found WITHOUT the all-pairs product —
    candidates come from an equi-join on each set's rarest-token
    prefix, then exact verification on candidates only. The oracle IS
    the all-pairs formulation over the same bounded battery, so the
    hash match proves the pruned plan loses nothing. Complements
    MinHash-LSH (q50: probabilistic recall, unbounded corpora) with
    the exact-recall variant for threshold-similarity joins."""
    from ..operators.dedup import ngram_set
    from ..operators.setsim import setsim_join

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", ngram_set("text", 2).alias("toks"))
    )
    return setsim_join(d, threshold=0.5)


@query(
    "q159_hll_union_sketch",
    oracle="""
    WITH per_status AS (
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_n
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, cast(exact_n as bigint) AS exact_n,
           true AS within_bound,
           (SELECT cast(count(DISTINCT o_custkey) as bigint) FROM orders)
             AS exact_union,
           true AS union_within_bound
    FROM per_status
    """,
    tags=("sketch",),
)
def q159_hll_union_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL via Spark 4 ``hll_sketch_agg`` /
    ``hll_union_agg`` — the MERGEABLE-sketch path q135's
    approx_count_distinct (internal HLL++) can't give you: per-group
    binary sketches are materialized once, then UNIONED to coarser
    rollups without rescanning the fact table. At 100 TB that is the
    distinct-count-cube strategy — one scan builds leaf sketches,
    every rollup level is a sketch-merge of driver-small state. Bound
    booleans: lgConfigK=14 → rse ≈ 1.04/√2¹⁴ ≈ 0.8%; 5σ ≈ 4% tolerance
    against the exact counts (which the oracle value-checks)."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus").agg(
        F.expr("hll_sketch_agg(o_custkey, 14)").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_n"),
    )
    # union the per-status leaf sketches → global distinct (no rescan)
    uni = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("__union_est")
    )
    exact_union = o.agg(F.countDistinct("o_custkey").alias("exact_union"))
    tol = 5 * 1.04 / (2 ** 14) ** 0.5
    return (
        per.select(
            "o_orderstatus",
            "exact_n",
            F.expr("hll_sketch_estimate(sk)").alias("__est"),
        )
        .crossJoin(F.broadcast(uni))
        .crossJoin(F.broadcast(exact_union))
        .select(
            "o_orderstatus",
            "exact_n",
            (F.abs(F.col("__est") - F.col("exact_n")) <= F.lit(tol) * F.col("exact_n")).alias(
                "within_bound"
            ),
            "exact_union",
            (
                F.abs(F.col("__union_est") - F.col("exact_union"))
                <= F.lit(tol) * F.col("exact_union")
            ).alias("union_within_bound"),
        )
    )


@query(
    "q162_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln(({hex_int_sql("md5(cast(doc_id as varchar))")} + 1) / 4294967296.0)
               / n_chars AS wkey
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars FROM keyed
    ORDER BY wkey DESC, doc_id LIMIT 50
    """,
    tags=("sampling",),
)
def q162_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each doc draws u ∈ (0,1] from its own content hash
    (reproducible across runs/engines — no rand()), and the top-k by
    key u^(1/w) ≡ ln(u)/w are the sample, weighted here by document
    length. One narrow map + one top-k (TakeOrdered, no global sort
    materialization) — the standard size-biased corpus subsampling
    primitive at any scale. ln() and the division are single IEEE ops
    on identical operands, so DuckDB agrees exactly."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (F.expr(hex_int_expr("md5(cast(doc_id as string))")) + 1) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("wkey"))
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(50)
        .drop("wkey")
    )


@query(
    "q190_training_mix_pipeline",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs, sqrt(cast(count(*) as double)) AS w_raw
      FROM documents GROUP BY source
    ), tot AS (
      SELECT list_reduce(list_sort(list(w_raw)), (a, b) -> a + b) AS w_sum FROM per_source
    ), quota AS (
      SELECT p.source, p.n_docs,
             greatest(1, cast(floor(p.w_raw / t.w_sum * 200) as int)) AS n_quota
      FROM per_source p CROSS JOIN tot t
    ), ranked AS (
      SELECT d.*, row_number() OVER (PARTITION BY source ORDER BY {{h32}}, doc_id) AS rn
      FROM documents d
    ), picked AS (
      SELECT r.* FROM ranked r JOIN quota q USING (source) WHERE r.rn <= q.n_quota
    )
    SELECT q.source,
           cast(q.n_docs as bigint) AS n_docs,
           cast(q.n_quota as bigint) AS n_quota,
           cast(count(p.doc_id) as bigint) AS n_selected,
           count(p.doc_id) = q.n_quota AS quota_met,
           cast(sum(len({{toks}})) as bigint) AS sel_tokens,
           cast(sum(p.n_chars) as bigint) AS sel_chars
    FROM picked p JOIN quota q USING (source)
    GROUP BY q.source, q.n_docs, q.n_quota
    """.format(h32=hex_int_sql("md5(cast(doc_id as varchar))"), toks=tokens_sql("p.text")),
    tags=("sampling", "pipeline"),
)
def q190_training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED training-mix construction — the three sampling
    primitives as one run, the way a real data-curation job executes
    them: temperature mixture weights (q111's count^0.5 rebalancing)
    → per-source document quotas against a 200-doc target → DETERMINISTIC
    per-source selection (top-quota by the content-hash order, q162's
    reproducible-sampling protocol — no rand(), identical under retry)
    → per-source audit row (quota met, exact selected token/char
    budget, q82's whitespace token counts). Every stage is
    hash-checked end-to-end by the oracle. Scale shape: weights/quotas
    are one partial-agg pass + a source-count-sized broadcast; the
    selection window partitions BY SOURCE (parallel across sources,
    never a global sort); skewed mega-sources range-balance within
    their partition only."""
    from pyspark.sql.window import Window as W

    from ..functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sqrt(F.count(F.lit(1)).cast("double")).alias("w_raw"),
    )
    tot = per_source.agg(
        F.aggregate(
            F.array_sort(F.collect_list("w_raw")), F.lit(0.0), lambda a, x: a + x
        ).alias("w_sum")
    )
    quota = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.greatest(
            F.lit(1), F.floor(F.col("w_raw") / F.col("w_sum") * 200).cast("int")
        ).alias("n_quota"),
    )
    sel_w = W.partitionBy("source").orderBy(
        F.expr(hex_int_expr("md5(cast(doc_id as string))")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(sel_w))
    picked = ranked.join(F.broadcast(quota), "source").filter(
        F.col("rn") <= F.col("n_quota")
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.size(tokens("text"))).cast("bigint").alias("sel_tokens"),
            F.sum("n_chars").cast("bigint").alias("sel_chars"),
        )
        .join(quota.select("source", "n_docs", "n_quota"), "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_quota").cast("long").alias("n_quota"),
            "n_selected",
            (F.col("n_selected") == F.col("n_quota")).alias("quota_met"),
            "sel_tokens",
            "sel_chars",
        )
    )


@query(
    "q222_kfold_assignment",
    oracle=f"""
    WITH folds AS (
      SELECT doc_id, cast({hex_int_sql("md5(cast(doc_id as varchar))")} % 5 as int) AS fold
      FROM documents
    ), per AS (
      SELECT fold, count(*) AS n_docs FROM folds GROUP BY fold
    ), tot AS (
      SELECT sum(n_docs) AS n_total, max(n_docs) AS mx, min(n_docs) AS mn,
             count(*) AS n_folds FROM per
    )
    SELECT fold, cast(n_docs as bigint) AS n_docs,
           n_folds = 5 AS all_folds_present,
           mx - mn < n_total * 0.2 AS balanced
    FROM per, tot
    """,
    tags=("sampling", "ml"),
)
def q222_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD cross-validation assignment (k=5) by content hash — the
    deterministic fold map every CV loop needs: reproducible across
    runs and engines (no rand()), every document in exactly one fold
    by construction (hash mod k is a partition), fold sizes verified
    balanced within 20 % of the corpus. The per-fold counts are
    value-checked exactly; q110's cluster-aware split is the
    leakage-safe variant when near-duplicates exist — this is the
    plain i.i.d. protocol."""
    d = table(spark, sf_dir, "documents")
    fold = F.pmod(F.expr(hex_int_expr("md5(cast(doc_id as string))")), F.lit(5))
    folds = d.select("doc_id", fold.cast("int").alias("fold"))
    per = folds.groupBy("fold").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.max("n_docs").alias("mx"),
        F.min("n_docs").alias("mn"),
        F.count(F.lit(1)).alias("n_folds"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_docs",
        (F.col("n_folds") == 5).alias("all_folds_present"),
        (F.col("mx") - F.col("mn") < F.col("n_total") * 0.2).alias("balanced"),
    )


_SH3 = (
    "list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)
_VAR_TOKS = "list_select({t}, list_filter(range(1, len({t}) + 1), i -> i % 5 != 0))"


@query(
    "q234_minhash_bound_check",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents WHERE doc_id < 200
    ), pairs AS (
      SELECT doc_id AS id_a, doc_id AS id_b, 'self_thinned' AS kind,
             toks AS ta, {_VAR_TOKS.format(t='toks')} AS tb
      FROM base
      UNION ALL
      SELECT a.doc_id, b.doc_id, 'unrelated',
             a.toks, {tokens_sql('b.text')}
      FROM base a JOIN documents b ON b.doc_id = a.doc_id + 250
    ), sh AS (
      SELECT id_a, id_b, kind,
             {_SH3.format(t='ta')} AS ga, {_SH3.format(t='tb')} AS gb
      FROM pairs
    ), j AS (
      SELECT id_a, id_b, kind,
             cast(len(ga) as bigint) AS n_sh_a,
             cast(len(gb) as bigint) AS n_sh_b,
             len(list_filter(ga, x -> list_contains(gb, x))) AS inter,
             len(list_distinct(list_concat(ga, gb))) AS uni
      FROM sh
    )
    SELECT id_a, id_b, kind, n_sh_a, n_sh_b,
           round(CASE WHEN uni = 0 THEN 1.0
                      ELSE cast(inter as double) / uni END, 6) AS j_exact,
           true AS within_bound
    FROM j
    """,
    tags=("dedup", "sketch"),
)
def q234_minhash_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q50's MinHash made driver-checkable — the q135 protocol applied
    to Jaccard estimation: for planted pairs (each doc vs itself with
    every 5th token dropped → high overlap; each doc vs an unrelated
    doc 250 ids away → background overlap) compute the k=128 signature
    agreement AND the exact shingle-set Jaccard side by side, and emit
    ``within_bound`` = |est − J| ≤ 5·max(√(J(1−J)/k), 0.02) — five
    binomial standard errors with a floor covering the degenerate J≈0/1
    regimes and 32-bit fingerprint collisions. The exact J (value-
    checked by the oracle, which re-derives the same 3-word shingle
    sets in list algebra) pins the semantics; the boolean carries the
    sketch evidence a rows-only check can't. Everything is one
    self-join-free pass for the planted pairs plus one equi-join for
    the unrelated ones — no all-pairs anywhere."""
    from ..functions.text import tokens
    from ..operators.dedup import minhash_signature, word_shingles

    k = 128
    d = table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 200)
    thin = F.concat_ws(
        " ", F.filter(tokens("text"), lambda t, i: (i + 1) % 5 != 0)
    )
    p1 = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.lit("self_thinned").alias("kind"),
        F.col("text").alias("ta"),
        thin.alias("tb"),
    )
    other = d.select(F.col("doc_id").alias("__bid"), F.col("text").alias("__btext"))
    p2 = (
        base.join(other, base.doc_id + 250 == F.col("__bid"))
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("__bid").alias("id_b"),
            F.lit("unrelated").alias("kind"),
            F.col("text").alias("ta"),
            F.col("__btext").alias("tb"),
        )
    )
    pairs = p1.unionByName(p2)
    pairs = minhash_signature(pairs, "ta", num_perm=k, sig_col="__sa")
    pairs = minhash_signature(pairs, "tb", num_perm=k, sig_col="__sb")
    ga = F.array_distinct(word_shingles("ta", 3))
    gb = F.array_distinct(word_shingles("tb", 3))
    est = (
        F.size(F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda b: b))
        / F.lit(float(k))
    )
    pairs = pairs.select(
        "id_a", "id_b", "kind",
        F.size(ga).cast("bigint").alias("n_sh_a"),
        F.size(gb).cast("bigint").alias("n_sh_b"),
        F.size(F.array_intersect(ga, gb)).alias("__inter"),
        F.size(F.array_union(ga, gb)).alias("__uni"),
        est.alias("__est"),
    )
    j = F.when(F.col("__uni") == 0, F.lit(1.0)).otherwise(
        F.col("__inter") / F.col("__uni")
    )
    sigma = F.sqrt(j * (1 - j) / F.lit(float(k)))
    bound = F.lit(5.0) * F.greatest(sigma, F.lit(0.02))
    return pairs.select(
        "id_a", "id_b", "kind", "n_sh_a", "n_sh_b",
        F.round(j, 6).alias("j_exact"),
        (F.abs(F.col("__est") - j) <= bound).alias("within_bound"),
    )


@query(
    "q242_hll_intersection",
    oracle="""
    WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT cast((SELECT count(*) FROM s) as bigint) AS exact_a,
           cast((SELECT count(*) FROM p) as bigint) AS exact_b,
           cast((SELECT count(*) FROM s JOIN p USING (user_id)) as bigint)
             AS exact_inter,
           true AS inter_within_bound
    """,
    tags=("sketch", "dedup"),
)
def q242_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-set INTERSECTION from mergeable sketches — the audience
    -overlap readout (users who signed up AND purchased) computed by
    inclusion-exclusion over DataSketches HLL: |A∩B| ≈ Â + B̂ − (A∪B)^
    where the union sketch is a lossless merge of the per-segment
    sketches q159 already maintains — no rescan of either side. The
    estimate compounds three ±2σ terms, so the bound is
    5·rsd·(Â+B̂+Û) with rsd = 1.04/√2¹² (lgK=12) — generous, and a
    broken merge or estimator still lands far outside it. Exact
    counts are value-checked by the oracle; the boolean carries the
    sketch evidence (q135 protocol)."""
    ev = table(spark, sf_dir, "events")
    sk = ev.filter(F.col("event_type").isin("signup", "purchase")).select(
        "event_type", "user_id"
    )
    sk.createOrReplaceTempView("__q242_ev")
    est = spark.sql(
        """
        WITH per AS (
          SELECT event_type, hll_sketch_agg(user_id, 12) AS sk
          FROM __q242_ev GROUP BY event_type
        ), u AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est_u FROM per
        ), ab AS (
          SELECT
            max(CASE WHEN event_type = 'signup' THEN hll_sketch_estimate(sk) END) AS est_a,
            max(CASE WHEN event_type = 'purchase' THEN hll_sketch_estimate(sk) END) AS est_b
          FROM per
        )
        SELECT est_a, est_b, est_u FROM ab, u
        """
    )
    ex = spark.sql(
        """
        WITH s AS (SELECT DISTINCT user_id FROM __q242_ev WHERE event_type = 'signup'),
        p AS (SELECT DISTINCT user_id FROM __q242_ev WHERE event_type = 'purchase')
        SELECT (SELECT count(*) FROM s) AS exact_a,
               (SELECT count(*) FROM p) AS exact_b,
               (SELECT count(*) FROM s JOIN p USING (user_id)) AS exact_inter
        """
    )
    j = ex.join(est, F.lit(True))
    rsd = 1.04 / (2 ** 6)  # 1.04/sqrt(2^12)
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_u")
    bound = F.lit(5.0 * rsd) * (F.col("est_a") + F.col("est_b") + F.col("est_u"))
    return j.select(
        "exact_a",
        "exact_b",
        "exact_inter",
        (F.abs(est_inter - F.col("exact_inter")) <= bound).alias("inter_within_bound"),
    )


@query(
    "q245_grouped_hash_reservoir",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(cast(doc_id as varchar)), doc_id) AS rk
      FROM documents
    )
    SELECT lang, doc_id, cast(rk as bigint) AS rk
    FROM ranked WHERE rk <= 5
    """,
    tags=("dedup", "sampling"),
)
def q245_grouped_hash_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group k-sample (hash-order reservoir) — the
    reproducible complement of q162's weighted global sample: rank
    rows inside each group by a content hash of the key and keep the
    first k. Because the order is a pure function of the data, the
    sample is stable across runs, executors, and engines (both sides
    value-match every selected row — no bound booleans needed), and
    adding rows only perturbs the selection locally — the property
    seeded ``sample()`` can't give under repartitioning. Per-group
    partitioned window: many small parallel sorts."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .select("lang", "doc_id", F.col("rk").cast("bigint").alias("rk"))
    )


@query(
    "q272_bootstrap_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, sum(cast(round(value * 100) as bigint)) AS cents
      FROM events GROUP BY user_id
    ), reps AS (
      SELECT u.user_id, u.cents, b.b,
             {hex_int_sql(
                 "md5(cast(u.user_id as varchar) || '_' || cast(b.b as varchar))", digits=4
             )} % 3 AS w
      FROM per_user u CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
    )
    SELECT cast(b as bigint) AS replicate,
           cast(sum(w * cents) as bigint) AS w_cents,
           cast(sum(w) as bigint) AS w_n,
           round(sum(w * cents) / cast(sum(w) as double), 6) AS rep_mean_cents
    FROM reps GROUP BY b
    """,
    tags=("stats", "sampling"),
)
def q272_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC multiplier bootstrap — confidence intervals for a
    mean WITHOUT resampling shuffles or RNG state: every (user,
    replicate) pair gets an integer weight in {0,1,2} (mean 1) derived
    from md5, so all 32 replicate statistics are pure functions of the
    data — reproducible across runs, engines, and partitionings (the
    property seeded ``sample()`` loses under repartitioning, q245's
    point, now applied to UNCERTAINTY estimation). One explode (×32)
    + one replicate-keyed aggregation of exact integer sums; each
    replicate mean is a single IEEE division. The reader takes the
    spread of the 32 rows as the CI — classic Poisson-bootstrap shape
    (Chamandy et al., Google) with a bounded multiplier."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    reps = per_user.select(
        "user_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).withColumn(
        "w",
        hex_int(
            F.md5(F.concat_ws("_", F.col("user_id").cast("string"), F.col("b").cast("string"))),
            digits=4,
        )
        % 3,
    )
    return reps.groupBy(F.col("b").cast("bigint").alias("replicate")).agg(
        F.sum(F.col("w") * F.col("cents")).alias("w_cents"),
        F.sum("w").alias("w_n"),
        F.round(
            F.sum(F.col("w") * F.col("cents")) / F.sum("w").cast("double"), 6
        ).alias("rep_mean_cents"),
    )


@query(
    "q285_negative_sampling",
    oracle=f"""
    WITH maxp AS (SELECT max(p_partkey) AS mp FROM part),
    pos AS (
      SELECT l_orderkey, l_partkey AS pos_part
      FROM lineitem WHERE l_orderkey % 37 = 0 AND l_linenumber = 1
    ), negs AS (
      SELECT p.l_orderkey, p.pos_part, k.k AS neg_slot,
             {hex_int_sql("md5(cast(p.l_orderkey as varchar) || ':' || cast(k.k as varchar))")}
               % m.mp + 1 AS neg_part
      FROM pos p
      CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
      CROSS JOIN maxp m
    )
    SELECT l_orderkey, pos_part, cast(neg_slot as bigint) AS neg_slot,
           cast(neg_part as bigint) AS neg_part,
           neg_part = pos_part AS is_collision
    FROM negs
    """,
    tags=("sampling", "training"),
)
def q285_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE SAMPLING for contrastive training pairs — the
    recommender/embedding-training data-prep step: for each positive
    (order, part) interaction, draw 4 deterministic uniform negatives
    from the item universe via md5(anchor:slot) mod |items| (q272's
    hash-randomness discipline — reproducible under any partitioning,
    no RNG state to coordinate across executors). Accidental
    positives are FLAGGED, not silently redrawn, so the collision rate
    (≈ 4/|items|) stays auditable — the standard in-batch-negatives
    trade-off. The item-universe bound is one broadcast scalar; the
    explode is ×4, all narrow."""
    li = table(spark, sf_dir, "lineitem")
    mp = table(spark, sf_dir, "part").agg(F.max("p_partkey").alias("mp"))
    pos = li.filter(
        (F.col("l_orderkey") % 37 == 0) & (F.col("l_linenumber") == 1)
    ).select("l_orderkey", F.col("l_partkey").alias("pos_part"))
    negs = (
        pos.select("l_orderkey", "pos_part", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("neg_slot"))
        .join(F.broadcast(mp), F.lit(True))
        .withColumn(
            "neg_part",
            hex_int(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("neg_slot").cast("string"),
                    )
                )
            )
            % F.col("mp")
            + 1,
        )
    )
    return negs.select(
        "l_orderkey",
        "pos_part",
        F.col("neg_slot").cast("bigint").alias("neg_slot"),
        "neg_part",
        (F.col("neg_part") == F.col("pos_part")).alias("is_collision"),
    )


_SH3Q = (
    "list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)


@query(
    "q288_containment_check",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents WHERE doc_id < 200
    ), pairs AS (
      SELECT doc_id AS id_a, doc_id AS id_b, 'prefix' AS kind,
             toks AS ta,
             toks[1 : greatest(cast(floor(len(toks) * 0.6) as bigint), 3)] AS tb
      FROM base
      UNION ALL
      SELECT a.doc_id, b.doc_id, 'unrelated',
             a.toks, {tokens_sql('b.text')}
      FROM base a JOIN documents b ON b.doc_id = a.doc_id + 250
    ), sh AS (
      SELECT id_a, id_b, kind,
             {_SH3Q.format(t='ta')} AS ga, {_SH3Q.format(t='tb')} AS gb
      FROM pairs
    ), m AS (
      SELECT id_a, id_b, kind,
             len(list_filter(gb, x -> list_contains(ga, x))) AS inter,
             len(gb) AS nb,
             len(list_distinct(list_concat(ga, gb))) AS uni
      FROM sh WHERE len(gb) > 0
    )
    SELECT id_a, id_b, kind,
           round(cast(inter as double) / nb, 6) AS containment_b_in_a,
           round(cast(inter as double) / uni, 6) AS jaccard,
           cast(inter as double) / nb >= cast(inter as double) / uni
             AS containment_ge_jaccard,
           (kind = 'prefix') = (cast(inter as double) / nb = 1.0)
             AS prefix_fully_contained
    FROM m
    """,
    tags=("dedup", "similarity"),
)
def q288_containment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHINGLE CONTAINMENT — the ASYMMETRIC similarity Jaccard hides:
    a short document quoted inside a long one has containment(B⊂A)=1
    but Jaccard ≈ |B|/|A| (tiny), so symmetric dedup misses every
    quote/excerpt. Planted prefix pairs (B = A's first 60% of tokens →
    every 3-shingle of B appears in A, containment EXACTLY 1.0) and
    unrelated pairs prove both regimes; the containment ≥ jaccard
    identity and the prefix⇔full-containment biconditional ride along
    as per-row booleans. Same shingle algebra as q234 — candidate
    generation at scale is the banded MinHash path; this is the
    verify-stage metric."""
    from ..functions.text import tokens
    from ..operators.dedup import word_shingles

    d = table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 200)
    toks = tokens("text")
    prefix_len = F.greatest(F.floor(F.size(toks) * 0.6).cast("bigint"), F.lit(3))
    p1 = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.lit("prefix").alias("kind"),
        F.col("text").alias("ta"),
        F.array_join(F.slice(toks, 1, prefix_len.cast("int")), " ").alias("tb"),
    )
    other = d.select(F.col("doc_id").alias("__bid"), F.col("text").alias("__btext"))
    p2 = base.join(other, base.doc_id + 250 == F.col("__bid")).select(
        F.col("doc_id").alias("id_a"),
        F.col("__bid").alias("id_b"),
        F.lit("unrelated").alias("kind"),
        F.col("text").alias("ta"),
        F.col("__btext").alias("tb"),
    )
    pairs = p1.unionByName(p2)
    ga = F.array_distinct(word_shingles("ta", 3))
    gb = F.array_distinct(word_shingles("tb", 3))
    m = pairs.select(
        "id_a", "id_b", "kind",
        F.size(F.array_intersect(gb, ga)).alias("inter"),
        F.size(gb).alias("nb"),
        F.size(F.array_union(ga, gb)).alias("uni"),
    ).filter(F.col("nb") > 0)
    cont = F.col("inter") / F.col("nb").cast("double")
    jac = F.col("inter") / F.col("uni").cast("double")
    return m.select(
        "id_a", "id_b", "kind",
        F.round(cont, 6).alias("containment_b_in_a"),
        F.round(jac, 6).alias("jaccard"),
        (cont >= jac).alias("containment_ge_jaccard"),
        ((F.col("kind") == "prefix") == (cont == 1.0)).alias("prefix_fully_contained"),
    )


@query(
    "q306_time_series_cv",
    oracle="""
    WITH bounds AS (
      SELECT cast(min(ts) as date) AS dmin, cast(max(ts) as date) AS dmax FROM events
    ), spec AS (
      SELECT dmin, dmax,
             cast(ceil((date_diff('day', dmin, dmax) + 1) / 5.0) as int) AS step
      FROM bounds
    ), folds AS (
      SELECT cast(k as int) AS fold,
             dmin + cast(k * step as int) AS train_end,
             least(dmin + cast((k + 1) * step as int), dmax + 1) AS test_end
      FROM spec, range(1, 5) r(k)
    ), day_counts AS (
      SELECT cast(ts as date) AS day, count(*) AS n FROM events GROUP BY day
    )
    SELECT fold, train_end, test_end,
           cast(sum(CASE WHEN day < train_end THEN n ELSE 0 END) as bigint) AS n_train,
           cast(sum(CASE WHEN day >= train_end AND day < test_end THEN n ELSE 0 END)
                as bigint) AS n_test,
           max(CASE WHEN day < train_end THEN day END) AS max_train_day,
           min(CASE WHEN day >= train_end AND day < test_end THEN day END)
             AS min_test_day,
           max(CASE WHEN day < train_end THEN day END)
             < min(CASE WHEN day >= train_end AND day < test_end THEN day END)
             AS temporally_ordered
    FROM folds CROSS JOIN day_counts
    GROUP BY fold, train_end, test_end
    ORDER BY fold
    """,
    tags=("split", "ml-prep"),
)
def q306_time_series_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPANDING-WINDOW time-series cross-validation — the split
    protocol that respects temporal causality where q222's k-fold
    cannot (a random fold leaks the future into training): fold k
    trains on everything before boundary k and tests on the next
    window. Boundaries derive from the data's own day span (integer
    day arithmetic, no floats). The fact table is first collapsed to
    per-day counts — a few thousand rows at ANY corpus scale — so the
    fold × day cross join and the per-fold aggregation never touch the
    raw events again; the temporally_ordered flag re-verifies from the
    actual day extrema that no training day reaches the test window."""
    e = table(spark, sf_dir, "events")
    day_counts = (
        e.select(F.col("ts").cast("date").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spec = day_counts.agg(
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    ).select(
        "dmin",
        "dmax",
        F.ceil((F.datediff("dmax", "dmin") + 1) / F.lit(5.0)).cast("int").alias("step"),
    )
    folds = spec.select(
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("fold"), "dmin", "dmax", "step"
    ).select(
        "fold",
        F.date_add(F.col("dmin"), F.col("fold") * F.col("step")).alias("train_end"),
        F.least(
            F.date_add(F.col("dmin"), (F.col("fold") + 1) * F.col("step")),
            F.date_add(F.col("dmax"), 1),
        ).alias("test_end"),
    )
    in_test = (F.col("day") >= F.col("train_end")) & (F.col("day") < F.col("test_end"))
    return (
        F.broadcast(folds)
        .crossJoin(day_counts)
        .groupBy("fold", "train_end", "test_end")
        .agg(
            F.sum(F.when(F.col("day") < F.col("train_end"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(in_test, F.col("n")).otherwise(0)).cast("bigint").alias("n_test"),
            F.max(F.when(F.col("day") < F.col("train_end"), F.col("day"))).alias(
                "max_train_day"
            ),
            F.min(F.when(in_test, F.col("day"))).alias("min_test_day"),
        )
        .withColumn(
            "temporally_ordered", F.col("max_train_day") < F.col("min_test_day")
        )
        .orderBy("fold")
    )


@query(
    "q312_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT event_type,
             cast(count(*) as bigint) AS n_h,
             cast(sum(cast(round(coalesce(value, 0.0) * 100) as bigint)) as decimal(19,0)) AS s1,
             cast(sum(cast(round(coalesce(value, 0.0) * 100) as bigint)
                      * cast(round(coalesce(value, 0.0) * 100) as bigint)) as decimal(19,0)) AS s2
      FROM events GROUP BY event_type
    ), terms AS (
      SELECT event_type, n_h,
             sqrt(cast(cast(n_h as decimal(19,0)) * s2 - s1 * s1 as double)) AS term
      FROM s
    ), tot AS (
      SELECT list_reduce(list_sort(list(term)), (a, b) -> a + b) AS term_sum
      FROM terms
    )
    SELECT t.event_type, t.n_h,
           round(t.term / t.n_h, 6) AS sigma_h,
           round(t.term / x.term_sum, 6) AS alloc_share,
           cast(floor(1000.0 * t.term / x.term_sum + 0.5) as bigint) AS n_alloc
    FROM terms t CROSS JOIN tot x
    ORDER BY t.event_type
    """,
    tags=("sampling", "statistics"),
)
def q312_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) ALLOCATION for stratified sampling — the
    variance-minimizing upgrade over q86's proportional split: stratum
    h of a 1000-row sample gets n·N_hσ_h/ΣN_kσ_k rows. The key exact
    identity: N_hσ_h = √(N_hΣx² − (Σx)²), ONE sqrt of an exact integer
    (cents power sums in decimal(19,0) — bigint s1² would overflow
    beyond sf0.1), so the cross-stratum normalizer is the q111
    sorted-fold of bitwise-identical sqrt terms, never a raw
    SUM(double). Allocations round half-up via explicit floor(x+0.5).
    One partial-agg pass over the facts; everything after is
    stratum-sized."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("bigint")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents).cast("decimal(19,0)").alias("s1"),
        F.sum(cents * cents).cast("decimal(19,0)").alias("s2"),
    )
    terms = s.select(
        "event_type",
        "n_h",
        F.sqrt(
            (
                F.col("n_h").cast("decimal(19,0)") * F.col("s2")
                - F.col("s1") * F.col("s1")
            ).cast("double")
        ).alias("term"),
    )
    tot = terms.agg(
        F.aggregate(
            F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
        ).alias("term_sum")
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_h",
            F.round(F.col("term") / F.col("n_h"), 6).alias("sigma_h"),
            F.round(F.col("term") / F.col("term_sum"), 6).alias("alloc_share"),
            F.floor(F.lit(1000.0) * F.col("term") / F.col("term_sum") + 0.5)
            .cast("bigint")
            .alias("n_alloc"),
        )
        .orderBy("event_type")
    )


@query(
    "q329_linear_counting",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT {hex_int_sql("md5(cast(o_custkey as varchar))")} % 4096 AS bucket
      FROM orders
    ), occ AS (
      SELECT cast(count(*) as bigint) AS occupied FROM hashed
    ), truth AS (
      SELECT cast(count(DISTINCT o_custkey) as bigint) AS exact_distinct FROM orders
    ), sel AS (
      SELECT occupied, exact_distinct,
             CASE WHEN occupied < 4096
                  THEN cast(floor(-4096.0 * ln((4096.0 - occupied) / 4096.0) + 0.5)
                            as bigint)
                  ELSE exact_distinct END AS lc_estimate
      FROM occ CROSS JOIN truth
    )
    SELECT occupied,
           4096 - occupied AS empty_buckets,
           lc_estimate,
           exact_distinct,
           abs(lc_estimate - exact_distinct) * 1000000 // exact_distinct <= 50000
             AS within_5pct
    FROM sel
    """,
    tags=("sketch", "statistics"),
)
def q329_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR COUNTING (Whang et al. 1990) — the third distinct-count
    estimator beside HLL (q60) and the exact bitmap (q158), and the
    one that BEATS HLL's error in the small-cardinality regime every
    per-group count lands in: n̂ = −m·ln(V₀/m) from the number of
    empty hash buckets. Bucket occupancy is exact integers through the
    md5-prefix protocol (a DISTINCT on the bucket domain, m=4096 rows
    max at any scale); the estimate is one ln + one explicit half-up
    floor, and the ±5% acceptance flag is an exact-integer ppm
    comparison against the true distinct count computed alongside —
    the estimator's own quality is the verified output (q135
    protocol). SATURATION GUARD: when every bucket is occupied
    (V₀ = 0, near-certain once distinct keys ≫ m at larger scales)
    ln(0) = −inf and the bigint cast diverges between engines (DuckDB
    errors, non-ANSI Spark clamps), so both sides fall back to the
    exact count via an explicit CASE — the standard linear-counting →
    exact/HLL handoff, made deterministic."""
    o = table(spark, sf_dir, "orders")
    m = 4096
    bucket = F.expr(hex_int_expr("md5(cast(o_custkey as string))")) % m
    occ = (
        o.select(bucket.alias("bucket"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("occupied"))
    )
    truth = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    est = (
        F.when(
            F.col("occupied") < m,
            F.floor(
                -float(m)
                * F.log((F.lit(float(m)) - F.col("occupied")) / float(m))
                + 0.5
            ),
        )
        .otherwise(F.col("exact_distinct"))
        .cast("bigint")
    )
    return occ.crossJoin(F.broadcast(truth)).select(
        "occupied",
        (F.lit(m) - F.col("occupied")).cast("bigint").alias("empty_buckets"),
        est.alias("lc_estimate"),
        "exact_distinct",
        # floored ppm to mirror the oracle's integer `//`: with exact
        # integer operands below 2^53 and a non-integer quotient at
        # least 1/q from any integer, floor(a/b) == a // b exactly
        (
            F.floor(
                F.abs(est - F.col("exact_distinct"))
                * 1000000
                / F.col("exact_distinct")
            ).cast("bigint")
            <= 50000
        ).alias("within_5pct"),
    )


@query(
    "q347_hits_fixed_point",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), a1r AS (
      SELECT s, cast(count(*) as bigint) * 1000000 AS raw FROM e GROUP BY s
    ), a1m AS (SELECT max(raw) AS mx FROM a1r),
    a1 AS (SELECT s, cast((raw * 1000000) // mx as bigint) AS v
           FROM a1r CROSS JOIN a1m),
    h1r AS (SELECT e.p, cast(sum(a1.v) as bigint) AS raw
            FROM e JOIN a1 ON e.s = a1.s GROUP BY e.p),
    h1m AS (SELECT max(raw) AS mx FROM h1r),
    h1 AS (SELECT p, cast((raw * 1000000) // mx as bigint) AS v
           FROM h1r CROSS JOIN h1m),
    a2r AS (SELECT e.s, cast(sum(h1.v) as bigint) AS raw
            FROM e JOIN h1 ON e.p = h1.p GROUP BY e.s),
    a2m AS (SELECT max(raw) AS mx FROM a2r),
    a2 AS (SELECT s, cast((raw * 1000000) // mx as bigint) AS v
           FROM a2r CROSS JOIN a2m),
    h2r AS (SELECT e.p, cast(sum(a2.v) as bigint) AS raw
            FROM e JOIN a2 ON e.s = a2.s GROUP BY e.p),
    h2m AS (SELECT max(raw) AS mx FROM h2r),
    h2 AS (SELECT p, cast((raw * 1000000) // mx as bigint) AS v
           FROM h2r CROSS JOIN h2m),
    ta AS (SELECT 'authority' AS kind, s AS node_id, v AS score_micro
           FROM a2 ORDER BY v DESC, s LIMIT 10),
    th AS (SELECT 'hub' AS kind, p AS node_id, v AS score_micro
           FROM h2 ORDER BY v DESC, p LIMIT 10)
    SELECT kind, cast(node_id as bigint) AS node_id,
           cast(score_micro as bigint) AS score_micro
    FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
    """,
    tags=("graph", "iterative", "parity"),
)
def q347_hits_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the bipartite
    part→supplier graph — the mutually-recursive centrality that
    complements q342's PageRank (one global random-surfer score) with
    TWO role-specific scores: a part is a good hub when it links to
    authoritative suppliers, a supplier authoritative when linked by
    good hubs. Like q342, the whole two-iteration power method runs in
    EXACT integer fixed-point micro-units: uniform hub seed 10^6,
    auth(s) = Σ hub over in-edges, hub(p) = Σ auth over out-edges,
    each pass max-normalized with (raw·10^6) div max — all operands
    non-negative so Spark `div` and DuckDB's truncating `//` floor
    identically, and every intermediate stays < 2·10^16 << 2^63.

    Scale shape: edges localCheckpoint once (loop-invariant); each
    half-iteration is one shuffle join on the edge key plus one
    keyed aggregation; the max normalizer is a ONE-ROW broadcast
    (never a single-partition exchange of the score frame). Iteration
    count fixed ⇒ plan depth fixed; lineage does not grow with data.
    Reference has no graph surface; this extends SURVEY §2's iterative
    family (components / PageRank / triangles)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).localCheckpoint()
    SC = 1_000_000

    def norm(raw_df: DataFrame, id_col: str) -> DataFrame:
        mx = raw_df.agg(F.max("raw").alias("mx"))
        return raw_df.crossJoin(F.broadcast(mx)).select(
            id_col,
            F.expr(f"(raw * {SC}) div mx").cast("bigint").alias("v"),
        )

    # a1 -> h1 -> a2 -> h2, exactly the four passes the oracle unrolls
    a1 = norm(e.groupBy("s").agg((F.count(F.lit(1)) * SC).alias("raw")), "s")
    h1 = norm(e.join(a1, "s").groupBy("p").agg(F.sum("v").alias("raw")), "p")
    # a2 feeds BOTH the next half-iteration and the authority top-10
    # branch — without the cut each output branch re-executes the whole
    # four-pass join chain (the union'd plan grew to 20 hash joins)
    a2 = norm(
        e.join(h1, "p").groupBy("s").agg(F.sum("v").alias("raw")), "s"
    ).localCheckpoint()
    h2 = norm(e.join(a2, "s").groupBy("p").agg(F.sum("v").alias("raw")), "p")
    ta = (
        a2.orderBy(F.col("v").desc(), "s")
        .limit(10)
        .select(
            F.lit("authority").alias("kind"),
            F.col("s").cast("bigint").alias("node_id"),
            F.col("v").cast("bigint").alias("score_micro"),
        )
    )
    th = (
        h2.orderBy(F.col("v").desc(), "p")
        .limit(10)
        .select(
            F.lit("hub").alias("kind"),
            F.col("p").cast("bigint").alias("node_id"),
            F.col("v").cast("bigint").alias("score_micro"),
        )
    )
    return ta.unionByName(th)


_Q348_ROW_DUCK = (
    "md5(cast(doc_id as varchar) || '\x1f' || source || '\x1f' || lang || '\x1f'"
    " || cast(n_chars as varchar) || '\x1f' || md5(text))"
)


@query(
    "q348_training_shard_manifest",
    oracle=f"""
    WITH per AS (
      SELECT {hex_int_sql("md5(cast(doc_id as varchar))")} % 16 AS shard,
             {hex_int_sql(_Q348_ROW_DUCK, digits=15)} AS rh,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t != '')) AS ntok,
             n_chars
      FROM documents
    ), agg AS (
      SELECT shard,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(ntok) as bigint) AS n_tokens,
             cast(sum(n_chars) as bigint) AS n_chars,
             cast(sum(rh) % 2305843009213693951 as bigint) AS checksum_sum,
             cast(bit_xor(rh) as bigint) AS checksum_xor
      FROM per GROUP BY shard
    ), tot AS (SELECT sum(n_docs) AS total FROM agg)
    SELECT cast(shard as int) AS shard, n_docs, n_tokens, n_chars,
           checksum_sum, checksum_xor,
           cast((abs(n_docs * 16 - total) * 1000000) // total as bigint)
             AS skew_ppm
    FROM agg CROSS JOIN tot
    """,
    tags=("sampling", "etl", "pipeline"),
)
def q348_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data SHARD MANIFEST — the release step every curation
    pipeline (q90/q190) ends with: deterministically shuffle the corpus
    into 16 hash shards (pmod of the content-hash-derived h32, so shard
    membership is stable across runs, engines and executor counts — no
    rand(), no order dependence) and emit the per-shard manifest row a
    downstream trainer validates against: doc/token/char counts, the
    q258 order-independent checksum pair (modular SUM + XOR of 60-bit
    row digests covering id, source, lang, length AND the full text via
    md5), and a skew audit in ppm against the ideal shard size. A
    dropped doc, a duplicated shard write, or a text mutation each flip
    a checksum; skew_ppm is the load-balance gate before the shards hit
    a 1000-GPU input pipeline.

    Scale shape: one narrow map (hashing is per-row, codegen'd) + ONE
    hash-keyed aggregation into 16 groups; the ideal-size normalizer is
    a one-row broadcast. At 100 TB the same plan writes the shards with
    partitionBy('shard') — the manifest aggregation is this query."""
    d = table(spark, sf_dir, "documents")
    h32 = hex_int(F.md5(F.col("doc_id").cast("string")))
    rh = hex_int(
        F.md5(
            F.concat_ws(
                "\x1f",
                F.col("doc_id").cast("string"),
                F.col("source"),
                F.col("lang"),
                F.col("n_chars").cast("string"),
                F.md5("text"),
            )
        ),
        digits=15,
    )
    from ..functions.text import tokens

    per = d.select(
        F.pmod(h32, F.lit(16)).cast("int").alias("shard"),
        rh.alias("rh"),
        F.size(tokens("text")).alias("ntok"),
        "n_chars",
    )
    agg = per.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (F.sum(F.col("rh").cast("decimal(38,0)")) % F.lit((1 << 61) - 1))
        .cast("bigint")
        .alias("checksum_sum"),
        F.bit_xor("rh").cast("bigint").alias("checksum_xor"),
    )
    tot = agg.agg(F.sum("n_docs").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        "checksum_sum",
        "checksum_xor",
        F.expr("(abs(n_docs * 16 - total) * 1000000) div total")
        .cast("bigint")
        .alias("skew_ppm"),
    )


@query(
    "q359_bloom_incremental_dedup",
    oracle="""
    WITH batch AS (
      SELECT source, substr(text, 1, 32) AS k
      FROM documents WHERE doc_id % 3 = 0
    ), corpus AS (
      SELECT DISTINCT substr(text, 1, 32) AS k
      FROM documents WHERE doc_id % 3 <> 0
    )
    SELECT b.source,
           cast(count(*) as bigint) AS n_batch,
           cast(count(c.k) as bigint) AS n_dup,
           cast(count(*) - count(c.k) as bigint) AS n_new
    FROM batch b LEFT JOIN corpus c ON b.k = c.k
    GROUP BY b.source
    """,
    tags=("dedup", "incremental", "bloom"),
)
def q359_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-BATCH incremental dedup with an EXPLICIT Bloom pre-filter
    (operators/dedup.py::bloom_words/bloom_might_contain): an arriving
    batch (doc_id % 3 = 0) dedups against the already-ingested corpus
    (the rest) on a boilerplate-prefix key (first 32 chars — the
    header/template granularity between exact-hash q37 and near-dup
    q50). The corpus keys fold into a ≤256-word bitmap map that
    BROADCASTS; the batch probes it row-local, and only the bloom
    survivors (true dups + fpp-bounded false positives) reach the
    exact verify join. Blooms have no false negatives, so the final
    per-source (n_batch, n_dup, n_new) is EXACTLY the plain anti-join's
    — which is what the oracle computes, making the probabilistic tier
    hash-verifiable. tests/test_plan_quality.py pins the pre-filter
    into the physical plan so the query can't silently degrade to the
    bare join.

    100 TB story: yesterday's corpus keys stream once through one
    explode+bit_or aggregation (shuffle bounded by n_bits/64 words, not
    keys); today's batch never shuffles AT ALL except for the bloom
    survivors — at a 1% dup rate that is a 100x smaller exchange than
    dedup-by-join. Size n_bits to the corpus (see bloom_words's
    sharding note past ~10^8 keys)."""
    from ..operators.dedup import bloom_might_contain, bloom_words

    d = table(spark, sf_dir, "documents")
    key = F.substring("text", 1, 32)
    corpus = (
        d.filter(F.col("doc_id") % 3 != 0).select(key.alias("k")).distinct()
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).select("source", key.alias("k"))
    bloom = bloom_words(corpus, "k")
    survivors = (
        batch.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain("k"))
        .drop("bloom")
    )
    dups = (
        survivors.join(corpus, "k", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        batch.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .join(dups, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            (F.col("n_batch") - F.coalesce("n_dup", F.lit(0)))
            .cast("bigint")
            .alias("n_new"),
        )
    )


@query(
    "q360_label_propagation",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS (  -- the q342 bipartite part-supplier graph, symmetric
      SELECT p * 2 AS src, s * 2 + 1 AS dst FROM e0
      UNION ALL
      SELECT s * 2 + 1 AS src, p * 2 AS dst FROM e0
    ), l0 AS (
      SELECT DISTINCT src AS id, src AS lab FROM edges
    ), c1 AS (
      SELECT e.dst AS id, l.lab, count(*) AS c
      FROM edges e JOIN l0 l ON e.src = l.id GROUP BY e.dst, l.lab
    ), l1 AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM c1
      ) WHERE rn = 1
    ), c2 AS (
      SELECT e.dst AS id, l.lab, count(*) AS c
      FROM edges e JOIN l1 l ON e.src = l.id GROUP BY e.dst, l.lab
    ), l2 AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM c2
      ) WHERE rn = 1
    )
    SELECT id, cast(lab as bigint) AS community FROM l2
    """,
    tags=("graph", "iterative", "parity"),
)
def q360_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al. 2007) —
    the mode-label complement to connected components' min-label
    (operators/components.py): each round every node adopts its
    neighbors' MOST FREQUENT label, ties broken by smallest label, so
    dense neighborhoods converge to one community while min-propagation
    would merge anything connected. Two synchronous rounds over the
    q342 bipartite part-supplier graph; labels are node ids (integers),
    updates are count-argmax — everything integer-deterministic under
    any partitioning, so the driver hashes every node's community.

    Spark shape per round: one edge⋈label hash join + a (node,label)
    count aggregation + a max_by argmax aggregation — three key-
    partitioned wide ops, NO per-node window (the oracle's row_number
    formulation is the semantic spec; the engine path keeps the
    grouped-aggregation form that scales past hot nodes). The oracle
    unrolls both rounds as CTEs like q342."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    e0 = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lab")
    )
    for _ in range(2):
        cnts = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("nid"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnts.groupBy("nid")
            .agg(
                F.max_by(
                    "lab", F.struct(F.col("c"), (-F.col("lab")).alias("neg"))
                ).alias("lab")
            )
            .withColumnRenamed("nid", "id")
        )
    return labels.select("id", F.col("lab").cast("bigint").alias("community"))


@query(
    "q363_weighted_systematic_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, cast(n_chars as bigint) AS wt FROM documents
      WHERE n_chars > 0
    ), c AS (
      SELECT doc_id, wt,
             sum(wt) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM w
    ), t AS (
      SELECT cast(sum(wt) as bigint) AS total FROM w
    ), m AS (
      SELECT doc_id, wt, cum,
             ((cum * 25 - 1) // total)
               - (((cum - wt) * 25 + total - 1) // total) + 1 AS mult
      FROM c CROSS JOIN t
    )
    SELECT doc_id, cast(wt as bigint) AS weight,
           cast(mult as bigint) AS multiplicity
    FROM m WHERE mult >= 1
    """,
    tags=("sampling", "training-mix"),
)
def q363_weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-PROPORTIONAL systematic sampling — the deterministic
    weighted downsampler the training-mix family was missing (q85/q170
    sample uniformly or per-stratum; mixture weights q111 rescale whole
    sources): pick k=25 evenly spaced points in cumulative WEIGHT space
    (weight = n_chars, the chars-seen-by-training proxy) and take the
    document covering each point, so selection probability is exactly
    proportional to weight, heavy docs can be drawn multiple times
    (multiplicity), and the whole draw is reproducible with NO RNG —
    re-running on re-partitioned data returns byte-identical samples.

    All arithmetic is bigint: doc i covering cumulative interval
    [cum-w, cum) is hit by points {j : ceil((cum-w)·k/total) ≤ j ≤
    ((cum·k - 1) div total)}, so multiplicity is two floor-divisions —
    identical on any engine that floors non-negative division the same
    way (Spark `div` ≡ DuckDB `//`). Σ multiplicity = k exactly
    (telescoping), pinned in tests/test_operators.py.

    Scale shape: ONE distributed prefix sum over the (doc_id-ordered)
    weights (operators/ranking.py::global_prefix_sum — range exchange,
    no single-partition window) + a one-row total broadcast; the
    multiplicity math is per-row codegen. At 100 TB this samples a
    corpus in a single pass — the shape reservoir/rejection samplers
    only reach with multi-round retries."""
    from ..operators.ranking import global_prefix_sum

    # zero-weight docs are excluded BEFORE the prefix sum: a wt=0 row
    # sorting first makes (cum*k - 1) negative, where Spark `div`
    # truncates toward zero but DuckDB `//` floors — dropping them
    # keeps every numerator non-negative (truncate ≡ floor) and a
    # zero-weight doc can never legitimately be sampled anyway
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").cast("bigint").alias("wt"))
        .filter(F.col("wt") > 0)
    )
    cum = global_prefix_sum(d, ["doc_id"], "wt", "cum")
    total = d.agg(F.sum("wt").cast("bigint").alias("total"))
    k = 25
    m = cum.join(F.broadcast(total), F.lit(True)).select(
        "doc_id",
        F.col("wt").alias("weight"),
        (
            F.expr(f"(cum * {k} - 1) div total")
            - F.expr(f"((cum - wt) * {k} + total - 1) div total")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("multiplicity"),
    )
    return m.filter(F.col("multiplicity") >= 1)


@query(
    "q369_sketchguided_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS token FROM documents
    ), n AS (SELECT cast(count(*) as bigint) AS total FROM toks)
    SELECT token,
           cast(count(*) as bigint) AS cnt,
           cast(count(*) * 1000000 // max(n.total) as bigint) AS share_ppm
    FROM toks, n
    GROUP BY token
    HAVING count(*) * 200 > max(n.total)
    """,
    tags=("sketch", "text", "parity"),
)
def q369_sketchguided_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequency heavy hitters with a partition-local candidate
    prefilter — the two-phase shape that finds every token above a
    support threshold (here 0.5% of the stream) WITHOUT a full global
    token groupBy. Phase 1 groups by (spark_partition_id, token):
    partial aggregation folds the raw token stream map-side, so the
    shuffle carries one row per distinct (partition, token) — the
    per-partition vocabulary, not the corpus. A token is a CANDIDATE
    if it clears the threshold inside at least one partition
    (200·c_p > n_p). Pigeonhole gives NO FALSE NEGATIVES: if
    200·c_p ≤ n_p in every partition, summing gives 200·c ≤ n — so
    every global heavy hitter is a candidate, whatever the partition
    layout. Phase 2 exact-counts ONLY the candidates (semi-join, then
    a groupBy bounded by the candidate set) and re-applies the global
    threshold, so the partition-dependent candidate set never leaks
    into the output and the result is exactly the plain
    GROUP BY/HAVING oracle's. Thresholds compare as 200·count > total
    — pure bigint, no float support fraction on either engine.

    Scale: the classic full-vocab groupBy shuffles every distinct
    token with its count; this shape bounds the exact pass by the
    candidate set (≤ partitions/0.005 tokens by the Misra-Gries
    counting argument) and the candidate pass by the per-partition
    vocab — at 100 TB that is the difference between shuffling a
    10⁹-type vocabulary and a few thousand survivors. Same
    no-false-negative tiering as the q359 Bloom dedup and q229
    GK-threshold top-k."""
    from ..functions.text import tokens

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("token"))
        .select(F.spark_partition_id().alias("pid"), "token")
    )
    local = toks.groupBy("pid", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_p")
    )
    part_totals = local.groupBy("pid").agg(
        F.sum("c_p").cast("bigint").alias("n_p")
    )
    candidates = (
        local.join(part_totals, "pid")
        .filter(F.col("c_p") * 200 > F.col("n_p"))
        .select("token")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total), F.lit(True))
        .filter(F.col("cnt") * 200 > F.col("total"))
        .select(
            "token",
            "cnt",
            F.expr("cnt * 1000000 div total").cast("bigint").alias("share_ppm"),
        )
    )


def _soundex_expr(col: str, duck: bool) -> str:
    """Simplified-soundex SQL, generated ONCE for both engines so the
    algorithm cannot drift between them: uppercase-strip, letter→code
    translate, adjacent-run collapse (pure replace chain — RE2 has no
    backreferences, so no regex run-collapse on the DuckDB side),
    drop-first-code, strip vowels, pad to 4. Variant note: H/W are
    coded 0 like vowels, so they RESET runs (classic soundex lets the
    run continue across H/W) — a documented simplification, identical
    on both engines."""
    strip = (
        f"regexp_replace(upper({col}), '[^A-Z]', '', 'g')"
        if duck
        else f"regexp_replace(upper({col}), '[^A-Z]', '')"
    )
    codes = f"translate({strip}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    coll = codes
    for d in "0123456":
        for _ in range(5):  # pair-collapse 5x per digit: runs ≤ 32 fold
            coll = f"replace({coll}, '{d}{d}', '{d}')"
    first = f"substr({strip}, 1, 1)"
    tail = f"replace(substr({coll}, 2), '0', '')"
    return f"substr(concat({first}, {tail}, '000'), 1, 4)"


@query(
    "q371_soundex_blocking",
    oracle=f"""
    WITH keyed AS (
      SELECT p_partkey, p_name AS w,
             {_soundex_expr('p_name', duck=True)} AS block_key
      FROM part
    )
    SELECT block_key,
           cast(count(*) as bigint) AS n_parts,
           cast(count(*) * (count(*) - 1) / 2 as bigint) AS n_pairs,
           cast(count(DISTINCT w) as bigint) AS n_names
    FROM keyed GROUP BY block_key
    """,
    tags=("dedup", "entity-resolution", "parity"),
)
def q371_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING for entity resolution — the classic
    pre-filter that makes fuzzy matching (q115 Fellegi-Sunter)
    tractable: records only compare WITHIN a soundex block, so the
    candidate space drops from n² to Σ block_size². The soundex key
    is generated from ONE Python expression builder for both engines
    (``_soundex_expr``) — uppercase strip, letter→digit translate,
    pure-replace adjacent-run collapse, vowel strip, pad-4 — so the
    phonetic algorithm is provably identical across Spark and the
    oracle (Spark's ``F.soundex`` builtin is deliberately NOT used:
    its H/W continuation rule has no DuckDB twin to verify against).
    Output is the blocking AUDIT every ER pipeline reads before
    committing to a key: per-block membership and the quadratic
    verify cost n·(n−1)/2 it implies.

    Scale: key derivation is a NARROW per-row expression chain (zero
    shuffle, whole-stage codegen); the audit is one hash-partitioned
    groupBy on the block key. At 100 TB the report's n_pairs column
    IS the decision input: a hot block (skewed key) shows up here
    before the verify join is ever launched — the same
    choose-your-blocking-key-from-evidence loop as q226's skew
    report."""
    keyed = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_name").alias("w"),
        F.expr(_soundex_expr("p_name", duck=False)).alias("block_key"),
    )
    return keyed.groupBy("block_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("bigint")
        .alias("n_pairs"),
        F.countDistinct("w").cast("bigint").alias("n_names"),
    )


@query(
    "q375_er_pipeline",
    oracle=f"""
    WITH RECURSIVE names AS (
      SELECT p_name AS name, cast(min(p_partkey) as bigint) AS id,
             cast(count(*) as bigint) AS n_records
      FROM part GROUP BY p_name
    ), keyed AS (
      SELECT *, {{sdx}} AS bk FROM names
    ), pairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.id < b.id
      WHERE levenshtein(a.name, b.name) <= 10
    ), edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT id, id FROM (SELECT DISTINCT s AS id FROM edges)
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), labeled AS (  -- singletons are their own component
      SELECT k.name, k.id, k.n_records, coalesce(c.component, k.id) AS component
      FROM keyed k LEFT JOIN comp c ON k.id = c.id
    )
    SELECT component,
           cast(count(*) as bigint) AS n_entities,
           cast(sum(n_records) as bigint) AS n_records,
           max_by(name, n_records * 10000000 - id) AS canonical
    FROM labeled GROUP BY component
    """.format(sdx=_soundex_expr('name', duck=True)),
    tags=("dedup", "entity-resolution", "iterative"),
)
def q375_er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end-to-end — the composition the individual
    stages exist for: distinct entity names → soundex BLOCKING
    (q371's generated key, candidates n² → Σ block²) → within-block
    edit-distance VERIFY (levenshtein ≤ 10; exact integer on both
    engines) → connected-components CLUSTERING
    (operators/components.py min-label propagation; the oracle
    computes the same closure with a recursive CTE — full value check
    of the iterative algorithm, the q95 protocol) → SURVIVORSHIP
    (canonical name = most records, tie → smallest id, via one
    scalar max_by argmax — key = n_records·10⁷ − id, exact while
    ids < 10⁷, which min(p_partkey) node ids satisfy here). Node ids
    are min(p_partkey)-per-name: deterministic, engine-independent.

    Scale: every stage is bounded — the name dictionary collapses the
    record stream first (the groupBy any ER run starts with), blocks
    bound the verify join (Σ block² pairs, audited by q371 BEFORE
    this runs), CC is O(log diameter) key-partitioned rounds, and
    survivorship is one grouped argmax. 100 TB of records with a
    bounded entity dictionary flows through the same plan unchanged;
    an unbounded dictionary swaps blocking keys, nothing else."""
    from ..operators.components import connected_components

    names = (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(
            F.min("p_partkey").cast("bigint").alias("id"),
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
        )
    )
    keyed = names.withColumn("bk", F.expr(_soundex_expr("name", duck=False)))
    a = keyed.select(
        F.col("bk"), F.col("id").alias("id_a"), F.col("name").alias("name_a")
    )
    b = keyed.select(
        F.col("bk"), F.col("id").alias("id_b"), F.col("name").alias("name_b")
    )
    pairs = (
        a.join(b, "bk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.levenshtein("name_a", "name_b") <= 10)
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    labeled = keyed.join(comp, "id", "left").select(
        "name",
        "id",
        "n_records",
        F.coalesce("component", "id").alias("component"),
    )
    return labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum("n_records").cast("bigint").alias("n_records"),
        F.expr("max_by(name, n_records * 10000000 - id)").alias("canonical"),
    )


@query(
    "q376_grid_density_clusters",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT vec_id,
             cast(floor(cast(embedding[1] as double) * 30) as bigint) AS ix,
             cast(floor(cast(embedding[2] as double) * 30) as bigint) AS iy
      FROM embeddings
    ), cells AS (
      SELECT ix, iy, (ix + 100) * 1000 + (iy + 100) AS cell,
             cast(count(*) as bigint) AS n
      FROM pts GROUP BY ix, iy
    ), dense AS MATERIALIZED (
      SELECT * FROM cells WHERE n >= 4
    ), pairs AS MATERIALIZED (
      SELECT a.cell AS id_a, b.cell AS id_b
      FROM dense a JOIN dense b
        ON a.cell < b.cell
       AND abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1
    ), edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT id, id FROM (SELECT DISTINCT s AS id FROM edges)
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), labeled AS (
      SELECT d.cell, d.n, coalesce(c.component, d.cell) AS component
      FROM dense d LEFT JOIN comp c ON d.cell = c.id
    ), assigned AS (
      SELECT p.vec_id, coalesce(l.component, -1) AS component
      FROM pts p
      LEFT JOIN labeled l ON (p.ix + 100) * 1000 + (p.iy + 100) = l.cell
    )
    SELECT a.component,
           cast(count(*) as bigint) AS n_points,
           cast(coalesce(max(g.n_cells), 0) as bigint) AS n_cells
    FROM assigned a
    LEFT JOIN (SELECT component, count(*) AS n_cells
               FROM labeled GROUP BY component) g
      ON a.component = g.component
    GROUP BY a.component
    """,
    tags=("vector", "dedup", "iterative"),
)
def q376_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-DENSITY clustering (DBSCAN's grid approximation, the
    distributed-systems folklore version: GriDBSCAN/NG-DBSCAN family)
    — the density complement to centroid k-means (q163): quantize the
    first two embedding dims to a 1/30 grid (floor of identical
    doubles — exact integer cells on both engines), keep cells with
    ≥ 4 points (dense), merge 8-neighborhood-adjacent dense cells via
    connected components (operators/components.py; oracle = recursive
    CTE, the q95/q375 protocol), assign every point to its cell's
    cluster, everything else is NOISE (component −1) — DBSCAN's
    defining ability to say "this is no cluster at all".

    Scale: ONE narrow map quantizes the corpus, the cell histogram is
    a map-side-combined groupBy bounded by the grid (not the data),
    adjacency joins and CC run over DENSE CELLS only (≪ points), and
    the final assignment is a broadcast join of the labeled-cell
    dictionary back onto the point stream. No pairwise distances
    anywhere — the reason this shape survives 100 TB while textbook
    DBSCAN's ε-neighbor graph does not."""
    from ..operators.components import connected_components

    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.floor(F.col("embedding").getItem(0).cast("double") * 30)
        .cast("bigint")
        .alias("ix"),
        F.floor(F.col("embedding").getItem(1).cast("double") * 30)
        .cast("bigint")
        .alias("iy"),
    )
    cells = pts.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dense = cells.filter(F.col("n") >= 4).withColumn(
        "cell", (F.col("ix") + 100) * 1000 + (F.col("iy") + 100)
    )
    # adjacency as an EQUI-join: explode each dense cell to its 9
    # neighbor coordinates and hash-join on the (ix, iy) key — the
    # former |dx|<=1 AND |dy|<=1 theta join planned a
    # BroadcastNestedLoopJoin, O(dense²) comparisons; this is O(9·dense)
    # shuffle rows and the same pair set (id_a < id_b dedups the two
    # directions, self-pairs drop there too)
    a = dense.select(
        F.col("cell").alias("id_a"), F.col("ix").alias("xa"), F.col("iy").alias("ya")
    )
    nbr = dense.select(
        F.col("cell").alias("id_b"), "ix", "iy"
    ).select(
        "id_b",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("ix") + dx).alias("xa"),
                        (F.col("iy") + dy).alias("ya"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("nb"),
    ).select("id_b", F.col("nb.xa").alias("xa"), F.col("nb.ya").alias("ya"))
    pairs = (
        a.join(nbr, ["xa", "ya"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    labeled = dense.join(comp, dense.cell == comp.id, "left").select(
        dense.cell, F.coalesce("component", dense.cell).alias("component")
    )
    cluster_cells = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells")
    )
    assigned = (
        pts.withColumn("cell", (F.col("ix") + 100) * 1000 + (F.col("iy") + 100))
        .join(F.broadcast(labeled), "cell", "left")
        .select("vec_id", F.coalesce("component", F.lit(-1)).alias("component"))
    )
    return (
        assigned.groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .join(F.broadcast(cluster_cells), "component", "left")
        .select(
            "component",
            "n_points",
            F.coalesce("n_cells", F.lit(0)).cast("bigint").alias("n_cells"),
        )
    )


_FP3 = "md5(array_to_string(list_sort({sh}), chr(31)))"


@query(
    "q388_incremental_minhash_state",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      -- re-crawls carry NEGATED ids: genuine batch ids are >= 0, so a
      -- negated id can never collide with one at ANY scale factor (an
      -- additive shift collides once doc_id exceeds it, sf >~ 0.2)
      SELECT source, -doc_id AS doc_id, text FROM documents
      WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
      UNION ALL
      SELECT source, doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), ct AS (
      SELECT {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT DISTINCT {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), bt AS (
      SELECT source, doc_id, {tokens_sql('text')} AS t FROM batch
    ), bfp AS (
      SELECT source, doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM bt WHERE len(t) >= 3
    )
    SELECT source,
           cast(count(*) as bigint) AS n_batch,
           cast(count(c.fp) as bigint) AS n_dup,
           cast(count(*) - count(c.fp) as bigint) AS n_new
    FROM bfp b LEFT JOIN cfp c ON b.fp = c.fp
    GROUP BY source
    """,
    tags=("dedup", "incremental", "minhash", "state"),
)
def q388_incremental_minhash_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-BATCH near-dup state — the MinHash twin of q359's Bloom
    tier, at R16's incremental posture: the already-ingested corpus
    (doc_id % 3 ≠ 0) is indexed ONCE into a persisted band-bucket table
    (operators/dedup.py::build_minhash_index — (id, band, bucket,
    set_fp), written partitioned by band), and an arriving batch (the
    genuinely new doc_id % 3 = 0 docs plus re-crawled corpus docs
    doc_id % 5 = 1 under fresh ids) dedups against the INDEX alone —
    the corpus text is never re-scanned, re-tokenized, or re-hashed.

    Hash-verifiability of a probabilistic tier, the q359 trick
    transposed: banded minhash has NO false negatives for
    shingle-set-identical docs (equal sets ⇒ equal signatures ⇒ every
    band collides), and the survivors are verified exactly against the
    stored shingle-set fingerprint — so (n_batch, n_dup, n_new) per
    source equals the plain fingerprint join the oracle computes,
    while true NEAR-dups (J < 1) still surface through the same index
    as candidates (pinned by planted-thinned-doc tests, which a
    value-hash can't carry). The fingerprint is md5 over SORTED
    DISTINCT 3-shingles — invariant to repeated content blocks, which
    the q37 whole-text hash is not.

    100 TB story: state is a parquet table keyed (band, bucket) —
    probing a daily batch broadcasts docs×bands rows of three scalars
    against it (zero shuffle of the corpus-sized index), and ingesting
    the batch appends the survivors' index rows — the corpus is
    touched exactly once in its lifetime. The same posture as the
    reference's count-watermark increment (R16), for near-dup instead
    of page-count."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    # Re-crawled docs arrive under fresh ids. NEGATION, not an additive
    # shift, mints them: corpus/batch ids are non-negative (and the
    # re-crawl slice has doc_id >= 1), so -doc_id is collision-free at
    # EVERY sf — doc_id + K collides with a genuine %3=0 id as soon as
    # the table outgrows K, and probe_minhash_index requires batch ids
    # to be unique (duplicate ids would cross one doc's buckets with
    # the other's fingerprint and merge both under groupBy(id)).
    batch = (
        d.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 1))
        .select("source", (-F.col("doc_id")).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select("source", "doc_id", "text")
        )
    )
    # The index is STATE — built once per corpus, probed by every batch
    # (the whole point of the operator). Memoized per sf_dir exactly
    # like q345's offline BPE train: the first call constructs it, the
    # steady state (what the bench times after its setup pass) is
    # probe-only. Content is deterministic, so a rebuild is equivalent.
    def build(sd: str) -> None:
        write_bucket_index(
            build_minhash_index(corpus), MINHASH_LAYOUT, sd + "/minhash_index"
        )

    index = read_bucket_index(
        spark, MINHASH_LAYOUT, query_state("q388", sf_dir, build)[0] + "/minhash_index"
    )
    res = probe_minhash_index(batch, index)
    return (
        batch.select(F.col("doc_id").alias("id"), "source")
        .join(res, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum(F.col("is_dup").cast("bigint")).cast("bigint").alias("n_dup"),
            F.sum((~F.col("is_dup")).cast("bigint")).cast("bigint").alias("n_new"),
        )
    )


@query(
    "q389_incremental_semantic_state",
    oracle="""
    WITH corp AS (
      SELECT embedding FROM embeddings WHERE vec_id % 3 <> 0
    ), batch AS (
      -- negated re-ingest ids: collision-free with genuine %3=0 ids at
      -- any sf, unlike an additive shift (see q388)
      SELECT label, -vec_id AS vec_id, embedding FROM embeddings
      WHERE vec_id % 3 <> 0 AND vec_id % 5 = 1
      UNION ALL
      SELECT label, vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
    ), cd AS (
      SELECT DISTINCT embedding FROM corp
    )
    SELECT label,
           cast(count(*) as bigint) AS n_batch,
           cast(count(c.embedding) as bigint) AS n_dup,
           cast(count(*) - count(c.embedding) as bigint) AS n_new
    FROM batch b LEFT JOIN cd c ON b.embedding = c.embedding
    GROUP BY label
    """,
    tags=("dedup", "incremental", "semantic", "state"),
)
def q389_incremental_semantic_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-BATCH semantic dedup state — q388's incremental posture
    transposed to the EMBEDDING space: the ingested corpus (vec_id % 3
    ≠ 0) trains an IVF codebook (operators/similarity.py::
    train_ivf_codebook, the same offline codebook the ANN search path
    uses) and materializes ONCE into a persisted (id, cell, vec_fp)
    index (operators/semantic_dedup.py::build_semantic_index,
    partitioned by cell); an arriving batch (new vec_id % 3 = 0
    vectors plus re-ingested corpus vectors vec_id % 5 = 1 under fresh
    ids) probes the INDEX alone — corpus vectors are never re-scanned
    or re-scored.

    Hash-verifiability of the IVF tier: cell assignment is a
    deterministic function of the vector (stable argsort over the same
    centroid matmul), so an element-wise identical vector always
    probes the same cells — NO false negatives for exact re-ingests —
    and survivors verify against the stored element-exact fingerprint,
    so per-label (n_batch, n_dup, n_new) equals the plain
    embedding-equality join the oracle computes. Near-identical
    vectors (the SemDeDup regime) surface through the same index as
    candidates with IVF multi-probe recall, pinned by the perturbed
    planted-pair test in tests/test_semantic_dedup.py.

    100 TB story: the state is a cell-partitioned parquet table plus a
    n_cells×dim codebook; a daily batch broadcasts O(batch·n_probe)
    three-scalar rows against it (zero shuffle of the index), appends
    the survivors' rows, and the corpus is embedded and indexed
    exactly once in its lifetime — the posture SemDeDup-style offline
    jobs lack."""
    import json
    import os

    from ..operators.semantic_dedup import (
        SEMANTIC_LAYOUT,
        build_semantic_index,
        probe_semantic_index,
    )
    from ..operators.similarity import train_ivf_codebook

    e = table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 3 != 0).select("vec_id", "embedding")
    # negated re-ingest ids — collision-free with genuine %3=0 ids at
    # any sf (probe_semantic_index requires unique batch ids; see q388)
    batch = (
        e.filter((F.col("vec_id") % 3 != 0) & (F.col("vec_id") % 5 == 1))
        .select("label", (-F.col("vec_id")).alias("vec_id"), "embedding")
        .unionByName(
            e.filter(F.col("vec_id") % 3 == 0).select("label", "vec_id", "embedding")
        )
    )

    def build(base: str) -> list:
        codebook = train_ivf_codebook(corpus, n_cells=16, refine_iters=1)
        with open(os.path.join(base, "codebook.json"), "w") as f:
            json.dump([[c, list(map(float, v))] for c, v in codebook], f)
        write_bucket_index(
            build_semantic_index(corpus, codebook),
            SEMANTIC_LAYOUT,
            os.path.join(base, "semantic_index"),
        )
        return codebook

    base, codebook = query_state("q389", sf_dir, build)
    index = read_bucket_index(spark, SEMANTIC_LAYOUT, os.path.join(base, "semantic_index"))
    res = probe_semantic_index(batch, index, codebook)
    return (
        batch.select(F.col("vec_id").alias("id"), "label")
        .join(res, "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum(F.col("is_dup").cast("bigint")).cast("bigint").alias("n_dup"),
            F.sum((~F.col("is_dup")).cast("bigint")).cast("bigint").alias("n_new"),
        )
    )


@query(
    "q391_incremental_components_state",
    oracle=f"""
    {_CC_CTE}
    SELECT component, cast(count(*) as bigint) AS n_docs,
           min(id) AS min_doc, max(id) AS max_doc,
           cast(sum(CASE WHEN id >= 325 THEN 1 ELSE 0 END) as bigint)
             AS n_new_docs
    FROM comp GROUP BY component
    """,
    tags=("dedup", "incremental", "graph", "state"),
)
def q391_incremental_components_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components — the state family (q388–q390)
    closing over the clustering stage itself: yesterday's dup-cluster
    labelling (q95's similarity graph restricted to docs < 325) is a
    persisted (id, component) table, and today's batch (docs ≥ 325,
    whose gap-1/2 similarity edges are computed over the batch plus a
    2-doc lookback ONLY — never the old corpus) merges in through
    operators/components.py::incremental_components: map new-edge
    endpoints to existing labels, run CC on the CONTRACTED supergraph
    (new-edge-sized — min-labels over min-labels compose), relabel
    touched components wholesale. The oracle recursive-CTEs the FULL
    graph from scratch, so the hash check IS the invariant: increment
    ∘ state ≡ full re-cluster, per component, including components
    merged across the batch boundary (n_new_docs > 0 rows with
    min_doc < 325).

    100 TB story: a fresh CC pays O(E) shuffle per round for O(log d)
    rounds over the whole graph EVERY day; this pays new-edge-sized
    contracted CC + ONE component-keyed relabel join of the label
    table (broadcast relabel map, no iteration over the corpus). The
    q95 battery's own test strategy (reference-free recursive-CTE
    closure check, SURVEY §5) carries over unchanged."""
    from ..operators.components import connected_components, incremental_components

    d = table(spark, sf_dir, "documents")
    SPLIT = 325

    def build(sd: str) -> None:
        old = d.filter(F.col("doc_id").between(0, SPLIT - 1))
        connected_components(
            _gap_edges(old).localCheckpoint(eager=True)
        ).write.parquet(sd + "/labels")

    labels = spark.read.parquet(query_state("q391", sf_dir, build)[0] + "/labels")
    # batch edges: the arriving docs plus the 2-doc lookback; edges with
    # id_b < SPLIT already live in the state graph — only NEW edges merge
    batch = d.filter(F.col("doc_id").between(SPLIT - 2, 499))
    new_edges = (
        _gap_edges(batch)
        .localCheckpoint(eager=True)
        .filter(F.col("id_b") >= SPLIT)
    )
    merged = incremental_components(labels, new_edges)
    return merged.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("id").alias("min_doc"),
        F.max("id").alias("max_doc"),
        F.sum((F.col("id") >= SPLIT).cast("bigint")).cast("bigint").alias("n_new_docs"),
    )


def _published_minhash_generations(spark: SparkSession, sf_dir: str) -> str:
    """The state q393, q398 and q415 share; returns its manifest path.
    gen0 is the state one step of q388's loop leaves (the corpus,
    doc_id % 3 != 0, indexed; the batch, doc_id % 3 = 0, probed against
    it and its survivors' rows appended), gen1 its TTL compaction
    (id % 7 != 2), each published once, in the build: published
    generation dirs are immutable, so no call rewrites them and the
    manifest history holds exactly these two publishes. Generations
    publish relative to the manifest: the state is built in a tmp dir
    and renamed into place."""
    import os

    from ..sinks.manifest import publish_generation

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")

    def build(base: str) -> None:
        g0 = os.path.join(base, "gen0")
        write_bucket_index(build_minhash_index(corpus), MINHASH_LAYOUT, g0)
        probe_then_append(spark, MINHASH_LAYOUT, build_minhash_index(batch), g0)
        manifest = os.path.join(base, "MANIFEST.json")
        publish_generation(manifest, "gen0", {"generation": 0})
        compact_bucket_index(
            spark,
            MINHASH_LAYOUT,
            g0,
            os.path.join(base, "gen1"),
            keep=F.col("id") % 7 != 2,
        )
        publish_generation(manifest, "gen1", {"generation": 1})

    return os.path.join(query_state("q398", sf_dir, build)[0], "MANIFEST.json")


@query(
    "q393_state_compaction_ttl",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), ct AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), cset AS (
      SELECT DISTINCT fp FROM cfp
    ), bt AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM batch
    ), bfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM bt WHERE len(t) >= 3
    ), surv AS (
      SELECT b.doc_id, b.fp FROM bfp b LEFT JOIN cset c ON b.fp = c.fp
      WHERE c.fp IS NULL
    ), live AS (
      SELECT doc_id, fp FROM cfp
      UNION ALL
      SELECT doc_id, fp FROM surv
    ), kept AS (
      SELECT doc_id, fp FROM live WHERE doc_id % 7 <> 2
    )
    SELECT cast(band as int) AS band,
           cast(count(*) as bigint) AS n_entries,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs,
           cast(count(DISTINCT fp) as bigint) AS n_fps,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM range(8) r(band) CROSS JOIN kept
    GROUP BY band
    """,
    tags=("dedup", "incremental", "state", "maintenance"),
)
def q393_state_compaction_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-TABLE MAINTENANCE — the lifecycle pass the incremental
    family (q388–q392) implies: the band-bucket index grows by one
    small-file append per probed batch FOREVER, and expired docs keep
    matching until their rows leave the state. This query takes the
    two-generation state q388's steady loop produces (corpus index +
    appended batch survivors: gen0 of the state q398/q415 publish),
    then runs operators/state.py::compact_bucket_index into a scratch
    dir of the call — TTL-drop rows for
    aged-out docs (retention proxy: doc_id % 7 = 2), one band-keyed
    shuffle, one file per band — and reports the compacted state's
    per-band profile.

    Hash-verifiability rides q388's exactness chain: the index holds
    exactly one row per (live doc with ≥3 tokens, band), survivors are
    fingerprint-verified (banded minhash has no false negatives for
    set-identical docs), so per-band (n_entries, n_docs, n_fps,
    min/max id) equals the oracle's plain fingerprint algebra — a
    CONSERVATION check: compaction must drop exactly the TTL'd rows
    and nothing else. Probe-equivalence pre/post compaction is pinned
    in tests/test_operators.py.

    100 TB story: after a year of daily batches each band partition
    holds ~365 files; probes pay per-file open cost and the scan loses
    row-group locality. Compaction is ONE shuffle of the index —
    docs × bands rows of four scalars, never the corpus text — with
    the retention predicate evaluated BEFORE the exchange; writes a
    fresh generation dir so concurrent probes never read a half
    -rewritten state (q343's atomic-publish discipline, applied to
    index maintenance)."""
    import os

    manifest = _published_minhash_generations(spark, sf_dir)
    compacted = compact_bucket_index(
        spark,
        MINHASH_LAYOUT,
        os.path.join(os.path.dirname(manifest), "gen0"),
        scratch_dir("q393"),
        keep=F.col("id") % 7 != 2,
    )
    return compacted.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.count_distinct("id").cast("bigint").alias("n_docs"),
        F.count_distinct("set_fp").cast("bigint").alias("n_fps"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "q394_incremental_label_prop",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), edges AS (
      SELECT p * 2 AS src, s * 2 + 1 AS dst FROM e0
      UNION ALL
      SELECT s * 2 + 1 AS src, p * 2 AS dst FROM e0
    ), l0 AS (
      SELECT DISTINCT src AS id, src AS lab FROM edges
    ), c1 AS (
      SELECT e.dst AS id, l.lab, count(*) AS c
      FROM edges e JOIN l0 l ON e.src = l.id GROUP BY e.dst, l.lab
    ), l1 AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM c1
      ) WHERE rn = 1
    ), c2 AS (
      SELECT e.dst AS id, l.lab, count(*) AS c
      FROM edges e JOIN l1 l ON e.src = l.id GROUP BY e.dst, l.lab
    ), l2 AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM c2
      ) WHERE rn = 1
    )
    SELECT id, cast(lab as bigint) AS community FROM l2
    """,
    tags=("graph", "iterative", "incremental", "state"),
)
def q394_incremental_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL label propagation — the mode-label community
    complement of q391's incremental components, closing the gap the
    state family (q388–q393) left open: yesterday's 2-round LP
    labelling of the part-supplier graph (lineitems with l_orderkey %
    10 ≠ 0) is a persisted (id, lab) table, today's batch contributes
    the REMAINING distinct part-supplier pairs, and
    operators/components.py::incremental_label_prop merges them by
    recomputing ONLY the new edges' dependency cone.

    Why a mode-label protocol can be incrementally EXACT (min-label CC
    composes trivially; argmax does not): after K synchronous rounds
    from identity labels, a node's label is a pure function of its
    K-level in-edge cone, so a new edge (s, d) can only change nodes
    within out-distance K−1 of d. The operator expands that affected
    set (K−1 broadcast hops), recomputes rounds 1..K over the cone's
    in-neighbor closure, and keeps state labels elsewhere — one
    left-anti join over the corpus-sized state, no iteration. The
    oracle runs the FULL 2-round LP over the union graph (q360's exact
    CTE unroll), so the driver hash-checks increment ∘ state ≡ full
    recompute per node.

    100 TB story: daily cost is the batch cone (bounded by the touched
    nodes' degrees), not K edge-sized shuffles over the corpus graph —
    the LP analogue of q391's contracted-CC merge; the corpus is
    touched exactly once by the keyed anti-join/union that stitches
    the output."""
    from ..operators.components import incremental_label_prop, label_propagation

    li = table(spark, sf_dir, "lineitem")

    def sym_pairs(df):
        e0 = (
            df.select("l_partkey", "l_suppkey")
            .distinct()
            .select(
                (F.col("l_partkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
        )
        return e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    old_edges = sym_pairs(li.filter(F.col("l_orderkey") % 10 != 0))
    full_edges = sym_pairs(li).localCheckpoint()
    new_edges = full_edges.exceptAll(old_edges).localCheckpoint()

    def build(sd: str) -> None:
        label_propagation(old_edges, rounds=2).write.parquet(sd + "/labels")

    state = spark.read.parquet(query_state("q394", sf_dir, build)[0] + "/labels")
    merged = incremental_label_prop(state, full_edges, new_edges, rounds=2)
    return merged.select("id", F.col("lab").cast("bigint").alias("community"))


@query(
    "q395_corpus_refresh_pipeline",
    oracle=f"""
    WITH RECURSIVE corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), bat AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), ct AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), cset AS (
      SELECT DISTINCT fp FROM cfp
    ), bt AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM bat
    ), bfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM bt WHERE len(t) >= 3
    ), surv AS (
      SELECT b.doc_id FROM bfp b LEFT JOIN cset c ON b.fp = c.fp
      WHERE c.fp IS NULL
    ), refreshed AS (
      SELECT doc_id, text FROM corp
      UNION ALL
      SELECT d.doc_id, d.text FROM bat d JOIN surv s ON d.doc_id = s.doc_id
    ), g AS (
      SELECT doc_id, {_GRAMS.format(t=tokens_sql('text'))} AS gs FROM refreshed
    ), sim AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1 OR b.doc_id = a.doc_id + 2
      WHERE CASE WHEN len(list_distinct(list_concat(a.gs, b.gs))) > 0
            THEN cast(len(list_intersect(a.gs, b.gs)) as double)
                 / len(list_distinct(list_concat(a.gs, b.gs)))
            ELSE 0.0 END >= 0.05
    ), edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM sim
      UNION SELECT id_b, id_a FROM sim
    ), nodes AS (
      SELECT DISTINCT s AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    ), canon AS (
      SELECT min(id) AS doc_id, component FROM comp GROUP BY component
      UNION ALL
      SELECT r.doc_id, r.doc_id AS component
      FROM refreshed r LEFT JOIN nodes n ON r.doc_id = n.id
      WHERE n.id IS NULL
    ), w AS (
      SELECT c.doc_id, c.component, cast(d.n_chars as bigint) AS wt
      FROM canon c JOIN documents d ON c.doc_id = d.doc_id
      WHERE d.n_chars > 0
    ), cw AS (
      SELECT doc_id, component, wt,
             sum(wt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM w
    ), tot AS (
      SELECT cast(sum(wt) as bigint) AS total FROM w
    ), m AS (
      SELECT doc_id, component, wt, cum,
             ((cum * 25 - 1) // total)
               - (((cum - wt) * 25 + total - 1) // total) + 1 AS mult
      FROM cw CROSS JOIN tot
    )
    SELECT doc_id, cast(component as bigint) AS component,
           cast(wt as bigint) AS weight, cast(mult as bigint) AS multiplicity
    FROM m WHERE mult >= 1
    """,
    tags=("dedup", "incremental", "state", "pipeline", "sampling"),
)
def q395_corpus_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END INCREMENTAL CORPUS REFRESH — the state family's
    composition query, mirroring what q134 is for the batch path: one
    oracle-checked pipeline that (1) dedups an arriving batch against
    the persisted minhash band-bucket index (q388's probe — the corpus
    text is never re-scanned), (2) merges the survivors' near-dup
    similarity edges into the persisted component labelling through
    the contracted supergraph (q391's incremental CC — new-edge-sized
    work), (3) picks each cluster's canonical doc (min id — free under
    the CC labelling convention, the component label IS its minimum
    member), and (4) draws the deterministic weight-proportional
    systematic sample (q363's two-floor-division formula, k=25,
    weight = n_chars) over the refreshed canonical set.

    The oracle recomputes the whole refresh FROM SCRATCH — fingerprint
    dedup algebra, full recursive-CTE connected components over the
    refreshed similarity graph, canonical pick, prefix-sum sampling —
    so the driver hash-checks the composed incremental path against
    the composed batch recompute end-to-end, per sampled doc. Batch
    docs under 3 tokens carry no fingerprint and are dropped by BOTH
    engines (q388's contract).

    100 TB story: a daily refresh touches (a) the batch (probe +
    shingle pass), (b) the batch's similarity cone (gap edges with a
    survivor endpoint — corpus-corpus edges already live in the state
    labels), (c) ONE component-keyed relabel join of the label table,
    and (d) one prefix-sum pass over the canonical weights. The corpus
    text itself is read ZERO times — the posture that turns a
    yearly-rescan curation job into a daily append."""
    import os

    from ..operators.components import connected_components, incremental_components
    from ..operators.ranking import global_prefix_sum

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")

    def build(base: str) -> None:
        write_bucket_index(
            build_minhash_index(corpus), MINHASH_LAYOUT, os.path.join(base, "index")
        )
        connected_components(
            _gap_edges(corpus).localCheckpoint(eager=True)
        ).write.parquet(
            os.path.join(base, "labels")
        )

    base, _ = query_state("q395", sf_dir, build)
    index = read_bucket_index(spark, MINHASH_LAYOUT, os.path.join(base, "index"))
    labels = spark.read.parquet(os.path.join(base, "labels"))

    # 1. probe: batch vs the INDEX alone. The survivor-id frame is
    # MATERIALIZED once (eager localCheckpoint of the id column only —
    # batch-sized, a few thousand bigints): four downstream consumers
    # (the cone filter, the ±2 cone frontier, refreshed_ids, the
    # canonical complement) would otherwise each re-execute the whole
    # probe plan — measured 3-4 re-runs of a ~2 s probe per refresh at
    # sf0.1.
    res = probe_minhash_index(batch, index)
    sids = (
        res.filter(~F.col("is_dup"))
        .select(F.col("id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    # 2. new similarity edges: gap-1/2 pairs with >=1 SURVIVOR endpoint.
    # Only ids within 2 of a survivor can form one — the batch cone;
    # corpus-corpus edges already live in the persisted labelling.
    near = (
        sids.select(
            F.explode(
                F.array(*[F.col("doc_id") + i for i in range(-2, 3)])
            ).alias("doc_id")
        )
        .distinct()
    )
    refreshed_ids = corpus.select("doc_id").unionByName(sids)
    # refreshed ∩ near in ONE documents scan: the broadcast frontier
    # prunes first, then rows must be corpus (%3≠0) or a survivor —
    # the corpus ∪ surv union form scanned the text column twice
    cone = (
        d.select("doc_id", "text")
        .join(F.broadcast(near), "doc_id")
        .join(F.broadcast(sids.withColumn("__s", F.lit(True))), "doc_id", "left")
        .filter((F.col("doc_id") % 3 != 0) | F.col("__s"))
        .select("doc_id", "text")
    )
    new_edges = _gap_edges(cone).localCheckpoint(eager=True).filter(
        (F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0)
    )
    merged = incremental_components(labels, new_edges)
    # 3. canonical pick: the component label IS its minimum member id
    canon = (
        merged.select(F.col("component").alias("doc_id"), "component")
        .distinct()
        .unionByName(
            refreshed_ids.join(
                merged.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
            ).select("doc_id", F.col("doc_id").alias("component"))
        )
    )
    # 4. weight-proportional systematic sample over the canonical set
    w = (
        canon.join(
            d.select("doc_id", F.col("n_chars").cast("bigint").alias("wt")), "doc_id"
        )
        .filter(F.col("wt") > 0)
    )
    cum = global_prefix_sum(w, ["doc_id"], "wt", "cum")
    total = w.agg(F.sum("wt").cast("bigint").alias("total"))
    k = 25
    out = (
        cum.join(F.broadcast(total), F.lit(True))
        .select(
            "doc_id",
            F.col("component").cast("bigint").alias("component"),
            F.col("wt").alias("weight"),
            (
                F.expr(f"(cum * {k} - 1) div total")
                - F.expr(f"((cum - wt) * {k} + total - 1) div total")
                + F.lit(1)
            )
            .cast("bigint")
            .alias("multiplicity"),
        )
        .filter(F.col("multiplicity") >= 1)
    )
    # returned LIVE (q363's convention): the prefix-sum pin is released
    # by the harness's release_ranking_caches after materialization,
    # and the plan stays inspectable for the q395 shape pin
    return out


@query(
    "q397_semantic_index_compaction",
    oracle="""
    WITH corp AS (
      SELECT label, vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
    ), bat AS (
      SELECT label, vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
    ), cd AS (
      SELECT DISTINCT embedding FROM corp
    ), surv AS (
      SELECT b.label, b.vec_id, b.embedding FROM bat b
      LEFT JOIN cd c ON b.embedding = c.embedding WHERE c.embedding IS NULL
    ), refreshed AS (
      SELECT label, vec_id, embedding FROM corp
      UNION ALL
      SELECT label, vec_id, embedding FROM surv
    ), kset AS (
      SELECT DISTINCT embedding FROM refreshed WHERE vec_id % 7 <> 2
    )
    SELECT label, cast(count(*) as bigint) AS n_reingest,
           cast(count(k.embedding) as bigint) AS n_dup,
           cast(count(*) - count(k.embedding) as bigint) AS n_new
    FROM refreshed r LEFT JOIN kset k ON r.embedding = k.embedding
    GROUP BY label
    """,
    tags=("dedup", "incremental", "semantic", "state", "maintenance"),
)
def q397_semantic_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC-INDEX MAINTENANCE — the q393 compaction/TTL pass for
    the vector-space state (q389): generation 1 indexes the corpus
    (vec_id % 3 ≠ 0) under the offline IVF codebook, the batch's
    survivors (vec_id % 3 = 0, not embedding-identical to the corpus)
    APPEND their cell rows, then operators/state.py::
    compact_bucket_index TTL-drops aged vectors (vec_id % 7 = 2) and
    rewrites one file per cell partition into a scratch dir of the
    call. Correctness is observed
    THROUGH PROBE BEHAVIOR — the only lens a cell layout admits, since
    cells are codebook-dependent and no SQL oracle can name them: the
    whole refreshed set re-ingests under fresh (negated) ids against
    the COMPACTED index, and per label (n_reingest, n_dup, n_new) must
    equal the oracle's plain embedding-equality algebra over the kept
    set — every vector whose embedding survives somewhere must still
    verify as a dup (identical vector ⇒ identical cell assignment ⇒
    its own cell is probed ⇒ no false negatives, q389's exactness
    chain), and every vector whose embedding lived ONLY under TTL'd
    ids must come back NEW (its rows are gone).

    100 TB story: compaction is ONE cell-keyed shuffle of the index
    (id, cell, fp scalars — embeddings are never re-read or re-scored;
    the codebook is untouched), retention evaluated before the
    exchange, fresh generation dir (no in-place rewrite under
    concurrent probes). The re-ingest probe keeps q389's shape: batch
    broadcast over the cell-partitioned state."""
    import json
    import os

    from ..operators.semantic_dedup import (
        SEMANTIC_LAYOUT,
        build_semantic_index,
        probe_semantic_index,
    )
    from ..operators.similarity import train_ivf_codebook

    e = table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 3 != 0).select("vec_id", "embedding")
    batch = e.filter(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")

    def build(base: str) -> list:
        codebook = train_ivf_codebook(corpus, n_cells=16, refine_iters=1)
        with open(os.path.join(base, "codebook.json"), "w") as f:
            json.dump([[c, list(map(float, v))] for c, v in codebook], f)
        idx = os.path.join(base, "index")
        write_bucket_index(build_semantic_index(corpus, codebook), SEMANTIC_LAYOUT, idx)
        probe_then_append(
            spark, SEMANTIC_LAYOUT, build_semantic_index(batch, codebook), idx
        )
        return codebook

    base, codebook = query_state("q397", sf_dir, build)
    compacted = compact_bucket_index(
        spark,
        SEMANTIC_LAYOUT,
        os.path.join(base, "index"),
        scratch_dir("q397"),
        keep=F.col("id") % 7 != 2,
    )
    # re-ingest the whole refreshed set under fresh negated ids (-id-1:
    # collision-free with the non-negative genuine ids, q388's rule)
    cd = corpus.select("embedding").distinct()
    surv_b = batch.join(cd, "embedding", "left_anti")
    reingest = (
        corpus.unionByName(surv_b.select("vec_id", "embedding"))
        .select((-F.col("vec_id") - 1).alias("vec_id"), "embedding")
    )
    res2 = probe_semantic_index(reingest, compacted, codebook)
    lbl = e.select((-F.col("vec_id") - 1).alias("id"), "label")
    return (
        res2.join(lbl, "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reingest"),
            F.sum(F.col("is_dup").cast("bigint")).cast("bigint").alias("n_dup"),
            F.sum((~F.col("is_dup")).cast("bigint")).cast("bigint").alias("n_new"),
        )
    )


@query(
    "q398_generation_manifest_swap",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), ct AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), cset AS (
      SELECT DISTINCT fp FROM cfp
    ), bt AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM batch
    ), bfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM bt WHERE len(t) >= 3
    ), surv AS (
      SELECT b.doc_id, b.fp FROM bfp b LEFT JOIN cset c ON b.fp = c.fp
      WHERE c.fp IS NULL
    ), live AS (
      SELECT doc_id, fp FROM cfp
      UNION ALL
      SELECT doc_id, fp FROM surv
    ), kept AS (
      SELECT doc_id, fp FROM live WHERE doc_id % 7 <> 2
    )
    SELECT cast(band as int) AS band,
           cast(count(*) as bigint) AS n_entries,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM range(8) r(band) CROSS JOIN kept
    GROUP BY band
    """,
    tags=("dedup", "state", "maintenance", "etl"),
)
def q398_generation_manifest_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC STATE PUBLISHING — the protocol that makes the whole
    maintenance family (q393/q396/q397) safe under concurrent readers:
    generations are immutable dirs, and ONE manifest file
    (sinks/manifest.py) names the live one; publishing is write-temp +
    rename, so a reader racing the publish sees the old generation or
    the new one, never a torn rewrite (q343's two-phase-commit
    discipline applied to state instead of output). Its state runs the
    full lifecycle once, at build: build the appended two-generation
    minhash index (q393's shape), PUBLISH it, compact with TTL into a
    fresh generation, PUBLISH that. Each call reports the per-band
    profile of whatever the manifest points at — which the oracle
    checks equals the compacted content exactly (same conservation
    algebra as q393). Torn-publish behavior (a dangling .tmp never
    changes what readers see) is pinned in tests/test_operators.py.

    100 TB story: the manifest is one JSON object on storage with
    rename-or-overwrite atomicity (POSIX rename here, conditional-PUT
    on an object store); generation dirs are immutable once published,
    so retention is 'delete generations unreferenced past the grace
    period' and rollback is re-pointing the manifest at the previous
    generation — state-table time travel for the cost of a file."""
    from ..sinks.manifest import read_current

    live = read_current(spark, _published_minhash_generations(spark, sf_dir))
    return live.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.count_distinct("id").cast("bigint").alias("n_docs"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "q415_manifest_time_travel",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), ct AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), cset AS (
      SELECT DISTINCT fp FROM cfp
    ), bt AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM batch
    ), bfp AS (
      SELECT doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM bt WHERE len(t) >= 3
    ), surv AS (
      SELECT b.doc_id, b.fp FROM bfp b LEFT JOIN cset c ON b.fp = c.fp
      WHERE c.fp IS NULL
    ), live AS (
      SELECT doc_id, fp FROM cfp
      UNION ALL
      SELECT doc_id, fp FROM surv
    )
    SELECT cast(band as int) AS band,
           cast(count(*) as bigint) AS n_entries,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM range(8) r(band) CROSS JOIN live
    GROUP BY band
    """,
    tags=("dedup", "state", "maintenance", "time-travel"),
)
def q415_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE TIME TRAVEL through the generation-manifest HISTORY — the
    read-side complement of q398's atomic publish: the manifest records
    every generation it has ever pointed at (immutable dirs + an
    ordered history list), so any past state remains addressable after
    later publishes. This query shares q398's state (appended index →
    publish gen0 → TTL compaction → publish gen1), and reads
    the state AS OF THE FIRST PUBLISH via
    sinks/manifest.py::read_generation(manifest, 0) — while ``current``
    points at the compacted gen1 — and reports its per-band profile.
    The oracle computes the PRE-compaction algebra (corpus fingerprints
    plus appended batch survivors, NO TTL filter), so the hash check
    proves the historical generation is bit-intact after the
    compaction that superseded it: the debugging / incident-rollback
    posture ("what did the index hold when yesterday's job ran?").

    100 TB story: time travel costs ONE manifest read — generations
    are immutable, so no snapshot copy, no log replay; retention
    truncates the history tail. This is the same design as Iceberg/
    Delta snapshot reads, reduced to its primitive: immutable data +
    an ordered pointer list."""
    from ..sinks.manifest import read_generation

    asof = read_generation(spark, _published_minhash_generations(spark, sf_dir), 0)
    return asof.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.count_distinct("id").cast("bigint").alias("n_docs"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "q421_manifest_generation_gc",
    oracle=f"""
    WITH ct AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents
    ), cfp AS (
      SELECT doc_id FROM ct WHERE len(t) >= 3
    ), p1 AS (
      SELECT cast(8 * count(*) as bigint) AS n,
             cast(count(*) as bigint) AS d,
             min(doc_id) AS mn, max(doc_id) AS mx
      FROM cfp WHERE doc_id % 7 <> 2
    ), p2 AS (
      SELECT cast(8 * count(*) as bigint) AS n,
             cast(count(*) as bigint) AS d,
             min(doc_id) AS mn, max(doc_id) AS mx
      FROM cfp WHERE doc_id % 7 <> 2 AND doc_id % 5 <> 1
    )
    SELECT 0 AS gen, false AS kept, false AS dir_exists,
           cast(NULL as bigint) AS n_entries, cast(NULL as bigint) AS n_docs,
           cast(NULL as bigint) AS min_id, cast(NULL as bigint) AS max_id
    UNION ALL
    SELECT 1, true, true, n, d, mn, mx FROM p1
    UNION ALL
    SELECT 2, true, true, n, d, mn, mx FROM p2
    """,
    tags=("dedup", "state", "maintenance", "retention"),
)
def q421_manifest_generation_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATION RETENTION — the delete side of the manifest
    lifecycle, completing the story q398 (atomic publish) and q415
    (time travel) left open: immutable generation dirs accumulate
    forever until something destroys the unreferenced ones. This query
    runs a three-publish lifecycle (full corpus index → TTL compaction
    → second TTL compaction, each published), then runs
    sinks/manifest.py::gc_generations(keep_last=2) — gen0 leaves disk,
    its history entry is tombstoned ``gc: true`` (publish-first, then
    delete: a crash can leave a marked-but-present dir, never a
    deleted-but-readable-looking entry) — and reports one row per
    history entry: kept flag, directory existence, and the kept
    generations' profiles re-read AFTER the gc.

    The oracle is a CONSERVATION check: gen1/gen2 profiles equal the
    plain fingerprint algebra computed from `documents` (so the gc
    deleted nothing it should have kept — a wrong rmtree would fail
    the read or change the counts), while gen0's row pins
    (kept=false, dir_exists=false, NULL profile) — so failing to
    delete is also a hash mismatch. The gc-guard on
    read_generation(0) (LookupError, not a dangling-path read) is
    pinned in tests/test_operators.py.

    100 TB story: gc cost is manifest-sized (a JSON rewrite) plus
    object-store deletes of whole generation prefixes — it never reads
    state rows, so retention is O(generations), not O(index). The
    keep-window is publish-count here; a wall-clock grace period is
    the same set algebra over a timestamp the publisher stamps into
    ``meta``."""
    import os

    from ..sinks.manifest import gc_generations, publish_generation

    d = table(spark, sf_dir, "documents")

    def build(base: str) -> None:
        g0, g1, g2 = (os.path.join(base, f"gen{i}") for i in range(3))
        write_bucket_index(
            build_minhash_index(d.select("doc_id", "text")), MINHASH_LAYOUT, g0
        )
        # relative publishes: see _published_minhash_generations
        manifest = os.path.join(base, "MANIFEST.json")
        publish_generation(manifest, "gen0", {"generation": 0})
        compact_bucket_index(spark, MINHASH_LAYOUT, g0, g1, keep=F.col("id") % 7 != 2)
        publish_generation(manifest, "gen1", {"generation": 1})
        compact_bucket_index(spark, MINHASH_LAYOUT, g1, g2, keep=F.col("id") % 5 != 1)
        publish_generation(manifest, "gen2", {"generation": 2})
        gc_generations(manifest, keep_last=2)

    base, _ = query_state("q421", sf_dir, build)
    manifest = os.path.join(base, "MANIFEST.json")

    with open(manifest) as f:
        import json as _json

        history = _json.load(f)["history"]

    rows = []
    for gen, entry in enumerate(history):
        kept = not entry.get("gc", False)
        gen_dir = os.path.join(base, entry["dir"])
        exists = os.path.isdir(gen_dir)
        head = [
            F.lit(gen).alias("gen"),
            F.lit(kept).alias("kept"),
            F.lit(exists).alias("dir_exists"),
        ]
        if kept:
            rows.append(
                read_bucket_index(spark, MINHASH_LAYOUT, gen_dir).agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_entries"),
                    F.count_distinct("id").cast("bigint").alias("n_docs"),
                    F.min("id").alias("min_id"),
                    F.max("id").alias("max_id"),
                ).select(*head, "n_entries", "n_docs", "min_id", "max_id")
            )
        else:
            null = F.lit(None).cast("bigint")
            rows.append(
                spark.range(1).select(
                    *head,
                    null.alias("n_entries"),
                    null.alias("n_docs"),
                    null.alias("min_id"),
                    null.alias("max_id"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "q399_erasure_tombstones",
    oracle=f"""
    WITH corp AS (
      SELECT source, doc_id, text FROM documents WHERE doc_id % 3 <> 0
    ), ct AS (
      SELECT source, doc_id, {tokens_sql('text')} AS t FROM corp
    ), cfp AS (
      SELECT source, doc_id, {_FP3.format(sh=_SH3.format(t='t'))} AS fp
      FROM ct WHERE len(t) >= 3
    ), kept AS (
      SELECT DISTINCT fp FROM cfp WHERE doc_id % 11 <> 3
    )
    SELECT c.source,
           (c.doc_id % 11 = 3) AS was_erased,
           cast(count(*) as bigint) AS n_docs,
           cast(count(k.fp) as bigint) AS n_dup,
           cast(count(*) - count(k.fp) as bigint) AS n_new
    FROM cfp c LEFT JOIN kept k ON c.fp = k.fp
    GROUP BY c.source, (c.doc_id % 11 = 3)
    """,
    tags=("dedup", "state", "maintenance", "erasure"),
)
def q399_erasure_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED ERASURE over persisted state — the lifecycle posture
    the TTL compaction passes (q393/q396/q397) do not cover: a
    takedown / right-to-erasure list arrives as a TOMBSTONE FRAME of
    doc ids (not a predicate), and operators/state.py::erase_from_state
    removes exactly those ids' rows from the band-bucket index with a
    broadcast LEFT ANTI join — narrow over the state files, ZERO
    shuffle of the state table (q393's compaction pays a band-keyed
    exchange; erasure by a small id list does not), partition layout
    preserved file-for-file, written to a fresh generation dir.

    The battery then verifies BOTH SIDES of id-keyed erasure semantics
    through probe behavior: the whole corpus re-ingests under negated
    ids against the erased index, and per (source, was_erased) the
    (n_docs, n_dup, n_new) counts must equal the oracle's plain
    fingerprint algebra over the kept set — every kept doc still
    verifies as a dup of itself, and an ERASED doc comes back NEW
    unless a shingle-set-identical TWIN survives under another id
    (erasing a record removes that id; removing *content* requires
    tombstoning every id carrying it — the subtlety a takedown
    pipeline must surface, and exactly what the fingerprint algebra
    computes). Exactness rides q388's chain: equal shingle sets ⇒
    equal signatures ⇒ every band collides, so probe hits are
    fingerprint-verified with no false negatives.

    100 TB story: takedown lists are thousands of ids against a
    trillion-row index — broadcast anti-join is map-side over the
    state partitions, far cheaper than a compaction shuffle; fold the
    tombstones into the next scheduled compaction's ``keep`` predicate
    only when the list outgrows a broadcast. Fresh generation dir +
    manifest publish (q398) keeps concurrent probes consistent."""
    import os

    from ..operators.state import erase_from_state

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")

    def build(base: str) -> None:
        write_bucket_index(
            build_minhash_index(corpus), MINHASH_LAYOUT, os.path.join(base, "index")
        )

    base, _ = query_state("q399", sf_dir, build)
    idx = os.path.join(base, "index")

    # the takedown list: a FRAME of ids (how erasure requests arrive),
    # not a predicate — erase_from_state broadcasts it
    tomb = corpus.filter(F.col("doc_id") % 11 == 3).select("doc_id")
    erased = erase_from_state(
        spark,
        idx,
        scratch_dir("q399"),
        tomb,
        id_col="id",
        partition_col=MINHASH_LAYOUT.partition,
    )

    # re-ingest the whole corpus under negated ids (collision-free with
    # the non-negative genuine ids at any sf — q388's minting rule).
    # The re-ingest's signatures are derived from the PRE-erasure index
    # rows (id negated) instead of re-minhashing the corpus text:
    # minhash/fingerprint are pure functions of the text, so the stored
    # rows ARE the signatures a text re-ingest would compute — the
    # verification battery probes the same values against the erased
    # state while skipping the corpus-sized signature recompute (the
    # dominant cost of the pass; probe-from-text stays exercised at
    # this scale by q388/q392/q395).
    reingest_rows = read_bucket_index(spark, MINHASH_LAYOUT, idx).select(
        (-F.col("id")).alias("id"), "band", "bucket", "set_fp"
    )
    res = probe_bucket_rows(reingest_rows, erased, MINHASH_LAYOUT)
    meta = d.filter(F.col("doc_id") % 3 != 0).select(
        (-F.col("doc_id")).alias("id"),
        "source",
        (F.col("doc_id") % 11 == 3).alias("was_erased"),
    )
    return (
        res.join(meta, "id")
        .groupBy("source", "was_erased")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("is_dup").cast("bigint")).cast("bigint").alias("n_dup"),
            F.sum((~F.col("is_dup")).cast("bigint")).cast("bigint").alias("n_new"),
        )
    )


@query(
    "q405_incremental_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql('text')}) AS token FROM documents
    ), n AS (SELECT cast(count(*) as bigint) AS total FROM toks)
    SELECT token,
           cast(count(*) as bigint) AS cnt,
           cast(count(*) * 1000000 // max(n.total) as bigint) AS share_ppm
    FROM toks, n
    GROUP BY token
    HAVING count(*) * 200 > max(n.total)
    """,
    tags=("sketch", "text", "incremental", "state"),
)
def q405_incremental_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL HEAVY HITTERS — q369's exact 0.5%-support report
    maintained across batches: the ADDITIVE-counts member of the
    mergeable-state family (q400 bitmap-union distinct, q401
    set-union vocab, q402 counts-distribution quantiles — this is the
    plain additive fold, the one aggregate that IS sum-mergeable, kept
    exact where Misra-Gries/count-min state would be approximate).
    History token counts persist once (vocab-bounded rows); an
    arriving batch folds ITS OWN tokens map-side, the merge is one
    token-keyed additive aggregation over state ∪ batch, and both
    threshold sides come from the merged table alone — the support
    denominator (total token count) is itself additive, so history
    text is never re-read for the report.

    Oracle recomputes the plain GROUP BY/HAVING over ALL documents;
    thresholds compare as 200·count > total in pure bigint on both
    engines (q369's protocol), so the driver hash-checks
    merge ∘ threshold ≡ global frequency analysis exactly.

    100 TB story: the per-refresh cost is the batch's map-side token
    fold plus a vocab-bounded keyed merge — the corpus-sized token
    stream is touched exactly once in its lifetime (at ingest). q369's
    pigeonhole prefilter matters when you must re-derive counts from
    raw text; the state posture makes even that unnecessary. The
    merged frame feeds two consumers (the total and the threshold
    filter) and is pinned for the duration of the query."""
    from ..functions.text import tokens

    d = table(spark, sf_dir, "documents")

    def token_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    def build(sd: str) -> None:
        token_counts(d.filter(F.col("doc_id") % 3 != 0)).write.parquet(
            sd + "/token_counts"
        )

    state = spark.read.parquet(query_state("q405", sf_dir, build)[0] + "/token_counts")

    batch = token_counts(d.filter(F.col("doc_id") % 3 == 0))
    merged = pin_cache(
        state.unionByName(batch)
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    total = merged.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        merged.join(F.broadcast(total), F.lit(True))
        .filter(F.col("cnt") * 200 > F.col("total"))
        .select(
            "token",
            "cnt",
            F.expr("cnt * 1000000 div total").cast("bigint").alias("share_ppm"),
        )
    )


@query(
    "q407_incremental_sample_state",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln(({hex_int_sql("md5(cast(doc_id as varchar))")} + 1) / 4294967296.0)
               / n_chars AS wkey
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars FROM keyed
    ORDER BY wkey DESC, doc_id LIMIT 50
    """,
    tags=("sampling", "incremental", "state"),
)
def q407_incremental_sample_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BOUNDED SAMPLE — q162's deterministic weighted
    A-ES sample maintained as STATE: because each doc's key
    ln(u)/w derives from its own content hash (no rand()), top-k by
    key is ASSOCIATIVE — top-k(A ∪ B) = top-k(top-k(A) ∪ B) — so the
    persisted state is just the current k winners (k rows, constant
    size forever), and an arriving batch merges with one keyed pass
    over (state ∪ batch-keys) followed by a k-limit. This is how a
    pinned holdout/eval sample stays size-biased-correct across a year
    of appends without ever rescanning history: the sample a batch
    job would recompute from scratch falls out of a k-row state merge,
    and the same associativity parallelizes the merge tree-wise across
    shards at any scale.

    The oracle recomputes q162's global top-50 over ALL documents, so
    the driver hash-checks the merge identity end-to-end — any
    violation of the associativity claim (e.g. a nondeterministic key)
    would mismatch immediately. ln() and the division are single IEEE
    ops on identical operands (q162's parity argument); the float key
    is DROPPED from the output on both engines.

    100 TB story: per refresh the work is the batch's narrow key map +
    a TakeOrdered over batch ∪ k state rows — no global sort, no
    history scan, state is k rows in perpetuity. The weighted
    systematic sampler (q363) is the Σmult=k EXACT-quota alternative;
    A-ES is the without-replacement streaming-mergeable one."""
    d = table(spark, sf_dir, "documents")

    def keyed(df: DataFrame) -> DataFrame:
        u = (F.expr(hex_int_expr("md5(cast(doc_id as string))")) + 1) / F.lit(4294967296.0)
        return df.filter(F.col("n_chars") > 0).select(
            "doc_id", "lang", "n_chars", (F.log(u) / F.col("n_chars")).alias("wkey")
        )

    def build(sd: str) -> None:
        (
            keyed(d.filter(F.col("doc_id") % 3 != 0))
            .orderBy(F.col("wkey").desc(), "doc_id")
            .limit(50)
            .write.parquet(sd + "/sample_state")
        )

    state = spark.read.parquet(query_state("q407", sf_dir, build)[0] + "/sample_state")

    batch = keyed(d.filter(F.col("doc_id") % 3 == 0))
    return (
        state.unionByName(batch)
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(50)
        .drop("wkey")
    )


# ------------------------------------------------------- round-10 wave

_KMV_K = 16


@query(
    "q422_kmv_distinct_sketch",
    oracle=f"""
    WITH dh AS (
      SELECT DISTINCT event_type,
             {hex_int_sql("md5(cast(user_id as varchar))")} AS h
      FROM events
    ), bk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM dh
    ), per AS (
      SELECT event_type, count(*) AS n_bk, max(h) AS hk
      FROM bk WHERE rn <= {_KMV_K} GROUP BY event_type
    ), ex AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    ), mh AS (
      SELECT DISTINCT h FROM bk WHERE rn <= {_KMV_K}
    ), mb AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mh
    ), m AS (
      SELECT count(*) AS n_bk, max(h) AS hk FROM mb WHERE rn <= {_KMV_K}
    ), mex AS (
      SELECT count(DISTINCT user_id) AS n_exact FROM events
    )
    SELECT e.event_type,
           cast(e.n_exact as bigint) AS n_exact,
           cast(CASE WHEN p.n_bk < {_KMV_K} THEN p.n_bk
                     ELSE ({_KMV_K} - 1) * 4294967296 // p.hk END as bigint)
             AS kmv_est
    FROM per p JOIN ex e USING (event_type)
    UNION ALL
    SELECT '__ALL__', cast(mex.n_exact as bigint),
           cast(CASE WHEN m.n_bk < {_KMV_K} THEN m.n_bk
                     ELSE ({_KMV_K} - 1) * 4294967296 // m.hk END as bigint)
    FROM m, mex
    """,
    tags=("dedup", "sketch", "mergeable", "distinct"),
)
def q422_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) DISTINCT SKETCH — the mergeable
    distinct-count sketch whose estimate is a DETERMINISTIC function
    of the data, unlike HLL (q60/q159: engine-specific register
    layouts, never hash-comparable): keep the k smallest distinct
    hash values per group; with h_(k) the k-th smallest of a 32-bit
    hash, distinct ≈ (k−1)·2³²/h_(k) (Bar-Yossef et al. 2002). Both
    engines hash with functions/hashing.py's md5-prefix digest and
    divide with non-negative integer division, so per-group estimates AND the
    merged estimate hash-match exactly.

    The MERGE is the point: KMV sketches union by pooling the hash
    sets and re-taking the bottom-k — the '__ALL__' row is computed
    from the five per-type sketches alone (5k scalar values), never
    from the raw events, which is how a fleet of per-partition /
    per-day sketches rolls up to a global distinct count with one
    tiny shuffle. Estimator guard: with fewer than k distinct hashes
    the sketch IS the exact set, so the estimate is its size.

    100 TB story: the sketch build is one map-side-combinable
    distinct on (group, hash) followed by a per-group bottom-k (the
    window is keyed by group — no global sort); state per group is k
    bigints, so a billion-key daily rollup ships 16 values per group
    per partition instead of the key set. The bounded merge agg
    (k × |groups| rows) is the only single-partition stage — the
    same class as every one-row aggregation final in PLAN_AUDIT.md."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    h = F.expr(hex_int_expr("md5(cast(user_id as string))"))

    dh = ev.select("event_type", h.alias("h")).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    bk = dh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)

    # bigint `div`, never `/`: double division + floor can shift by one
    # ulp when the quotient lands near an integer; `div` matches
    # DuckDB's `//` exactly for these non-negative operands. hk = 0 is
    # impossible: hk is the k-th smallest of DISTINCT non-negative
    # hashes with k >= 2, and only one distinct value can be zero —
    # so the division is never by zero in either engine
    _EST = (
        f"cast(CASE WHEN n_bk < {_KMV_K} THEN n_bk "
        f"ELSE {(_KMV_K - 1) * 4294967296} div hk END as bigint)"
    )

    per = bk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bk"), F.max("h").alias("hk")
    )
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    per_type = per.join(ex, "event_type").select(
        "event_type", "n_exact", F.expr(_EST).alias("kmv_est")
    )

    # merge: pool the per-type bottom-k hash sets (<= k x |types| rows
    # — a bounded one-row aggregation final) and re-take the bottom-k
    merged = (
        bk.select("h")
        .distinct()
        .agg(F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("hs"))
        .select(
            F.size("hs").alias("n_bk"),
            # try_element_at: NULL (not an ANSI index error) when the
            # pooled set holds fewer than k hashes — the n_bk branch
            # of _EST is taken and hk is never read
            F.try_element_at("hs", F.lit(_KMV_K)).alias("hk"),
        )
    )
    mex = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    merged_row = merged.crossJoin(mex).select(
        F.lit("__ALL__").alias("event_type"),
        "n_exact",
        F.expr(_EST).alias("kmv_est"),
    )
    return per_type.unionByName(merged_row)


# --- q426: md5-based minhash (both engines can compute it, unlike the
# xxhash64 production path in operators/dedup.py) -----------------------

_Q426_PERMS = 6  # 3 bands x 2 rows
_Q426_BANDS = 3
_Q426_MOD = 16  # deliberately coarse bucket space: forces hot buckets
_Q426_CAP = 24  # split threshold (rows per (band, bucket))

# permutation i reads a 32-bit chunk of one of TWO md5 digests per
# shingle — (digest, hex offset) pairs below. Two md5 calls per shingle
# (not six) and ONE fold computing all six minima at once: the naive
# per-permutation array_min(transform(...)) re-hashes every shingle per
# permutation; this shape runs the same math in one pass (the simhash64
# lesson applied to minhash).
_MH_CHUNKS = (("a", 1), ("a", 9), ("a", 17), ("a", 25), ("b", 1), ("b", 9))


def _mh_spark(col: str = "sh") -> str:
    """Spark SQL: the six minima over the shingle array column ``col``."""
    chunks = ", ".join(hex_int_expr(f"x.{d}", o) for d, o in _MH_CHUNKS)
    return (
        "aggregate("
        f"  transform(transform({col}, s -> struct(md5(s) AS a, md5(concat(s, '#')) AS b)),"
        f"    x -> array({chunks})),"
        "  array_repeat(cast(4294967296 as bigint), 6),"
        "  (acc, h) -> zip_with(acc, h, (u, v) -> least(u, v)))"
    )


def _mh_duck(i: int, col: str = "sh") -> str:
    d, off = _MH_CHUNKS[i]
    base = "md5(s)" if d == "a" else "md5(s || '#')"
    return f"list_aggregate(list_transform({col}, s -> {hex_int_sql(base, off)}), 'min')"


def _band_bucket_spark(b: int) -> str:
    md5 = f"md5(concat_ws(':', m{2 * b}, m{2 * b + 1}, {b}))"
    return f"pmod({hex_int_expr(md5)}, {_Q426_MOD})"


def _band_bucket_duck(b: int) -> str:
    md5 = f"md5(m{2 * b} || ':' || m{2 * b + 1} || ':' || {b})"
    return f"{hex_int_sql(md5)} % {_Q426_MOD}"


@query(
    "q426_lsh_bucket_split",
    oracle=f"""
    WITH corp AS (
      SELECT doc_id AS id, {tokens_sql('text')} AS t
      FROM documents WHERE doc_id % 3 <> 0
    ), shin AS (
      SELECT id, {_SH3.format(t='t')} AS sh FROM corp WHERE len(t) >= 3
    ), sig AS (
      SELECT id,
             {", ".join(_mh_duck(i) + f" AS m{i}" for i in range(_Q426_PERMS))}
      FROM shin
    ), rows_ AS (
      {" UNION ALL ".join(
          f"SELECT id, {b} AS band, {_band_bucket_duck(b)} AS bucket FROM sig"
          for b in range(_Q426_BANDS)
      )}
    ), sizes AS (
      SELECT band, bucket, count(*) AS sz FROM rows_ GROUP BY band, bucket
    ), split AS (
      SELECT r.id, r.band,
             r.bucket * 2 + CASE WHEN s.sz > {_Q426_CAP}
               THEN {hex_int_sql("md5(cast(r.id as varchar))")} % 2
               ELSE 0 END AS bucket
      FROM rows_ r JOIN sizes s USING (band, bucket)
    ), after AS (
      SELECT band, bucket, count(*) AS sz FROM split GROUP BY band, bucket
    )
    SELECT cast(band as int) AS band, 'before' AS phase,
           cast(sum(sz) as bigint) AS n_rows,
           cast(count(*) as bigint) AS n_buckets,
           cast(max(sz) as bigint) AS max_sz,
           cast(sum(CASE WHEN sz > {_Q426_CAP} THEN 1 ELSE 0 END) as bigint)
             AS n_over
    FROM sizes GROUP BY band
    UNION ALL
    SELECT cast(band as int), 'after',
           cast(sum(sz) as bigint), cast(count(*) as bigint),
           cast(max(sz) as bigint),
           cast(sum(CASE WHEN sz > {_Q426_CAP} THEN 1 ELSE 0 END) as bigint)
    FROM after GROUP BY band
    """,
    tags=("dedup", "lsh", "state", "skew", "maintenance"),
)
def q426_lsh_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH HOT-BUCKET SPLIT — the skew-maintenance operation for the
    band-bucket index family (q388/q393): boilerplate/near-empty docs
    collapse onto a handful of signatures, so a few buckets
    accumulate thousands of rows and the (band, bucket)-keyed probe
    join grows a quadratic straggler — the LSH edition of the hot-key
    problem q420 salts. The fix is the extendible-hashing move:
    buckets over a cap split by one extra DOC-HASH bit
    (bucket → 2·bucket + h(id) mod 2), recorded in a split registry;
    probes fan out to both halves of a split bucket (a bounded ×2),
    so the candidate SET is unchanged while the per-key row bound
    halves. This query runs the split over a deliberately coarse
    16-bucket signature space (standing in for production's organic
    hot buckets) and reports per band: rows (conserved), bucket
    count, max bucket size, and over-cap buckets, before and after.

    Oracle-ability is the novelty: the production index hashes with
    xxhash64 (DuckDB-inexpressible, hence q50/q388's fingerprint-side
    verification), but this maintenance op is pinned end-to-end by
    building the signatures from md5 via the md5-prefix digest — the
    first exactly-hash-verified minhash pipeline in the catalog; the
    probe-equivalence contract (split probe ≡ unsplit probe) is
    pinned in tests/test_operators.py.

    100 TB story: sizing is one map-side-combinable count keyed
    (band, bucket); the split rewrite is a narrow map over index rows
    joined to the (broadcast-sized) over-cap registry — state rows
    shuffle zero times; repeated splits (2 bits, 3 bits …) extend the
    same registry exactly like extendible hashing's directory."""
    from ..operators.dedup import word_shingles

    d = table(spark, sf_dir, "documents")
    corp = d.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("id"), word_shingles("text", 3).alias("sh")
    ).filter(F.size("sh") >= 1)
    sig = corp.select("id", F.expr(_mh_spark()).alias("mins")).select(
        "id",
        *[
            F.element_at("mins", i + 1).alias(f"m{i}")
            for i in range(_Q426_PERMS)
        ],
    )
    rows = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.expr(_band_bucket_spark(b))
                    for b in range(_Q426_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    from ..operators.dedup import split_hot_buckets

    # the signature subtree feeds FOUR consumers (before-stats, the
    # operator's own sizing, the rewrite, after-stats) — pin it or the
    # md5-minhash computes four times (measured: 14 s -> ~4 s at sf0.1)
    rows = pin_cache(rows)
    sizes = rows.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    # md5-derived split bit (not the operator's xxhash default) keeps
    # the whole rewrite DuckDB-reproducible
    split, _registry = split_hot_buckets(
        rows,
        _Q426_CAP,
        bit=F.pmod(F.expr(hex_int_expr("md5(cast(id as string))")), F.lit(2)),
        sizes=sizes.withColumnRenamed("sz", "__sz"),
    )
    after = split.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))

    def stats(sz_df: DataFrame, phase: str) -> DataFrame:
        return sz_df.groupBy("band").agg(
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_sz"),
            F.sum((F.col("sz") > _Q426_CAP).cast("bigint"))
            .cast("bigint")
            .alias("n_over"),
        ).select(
            F.col("band").cast("int").alias("band"),
            F.lit(phase).alias("phase"),
            "n_rows",
            "n_buckets",
            "max_sz",
            "n_over",
        )

    return stats(sizes, "before").unionByName(stats(after, "after"))


# q434 mutation levels: drop every k-th token (k=0 means exact dup)
_Q434_LEVELS = ((0, "dup_exact"), (7, "drop_1_in_7"), (3, "drop_1_in_3"))
_Q434_VAR_DUCK = "list_select({t}, list_filter(range(1, len({t}) + 1), i -> i % {k} != 0))"


def _q434_sig_duck(prefix: str) -> str:
    """Three md5-minhash band signatures (2 perms each) as columns."""
    return ", ".join(
        _mh_duck(i, col=f"{prefix}sh") + f" AS {prefix}m{i}"
        for i in range(_Q426_PERMS)
    )


@query(
    "q434_lsh_recall_harness",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents WHERE doc_id < 400
    ), eligible AS (
      SELECT doc_id, toks FROM base WHERE len(toks) >= 12
    ), lv AS (
      SELECT unnest([{", ".join(str(k) for k, _ in _Q434_LEVELS)}]) AS k,
             unnest([{", ".join("'" + n + "'" for _, n in _Q434_LEVELS)}]) AS level
    ), pairs AS (
      SELECT l.k, l.level, e.doc_id, e.toks AS atoks,
             CASE WHEN l.k = 0 THEN e.toks
                  ELSE {_Q434_VAR_DUCK.format(t='e.toks', k='l.k')} END AS btoks
      FROM eligible e CROSS JOIN lv l
    ), sh AS (
      SELECT k, level, doc_id,
             list_distinct({_SH3.format(t='atoks')}) AS ad,
             list_distinct({_SH3.format(t='btoks')}) AS bd,
             {_SH3.format(t='atoks')} AS ash,
             {_SH3.format(t='btoks')} AS bsh
      FROM pairs WHERE len(btoks) >= 3
    ), jac AS (
      SELECT k, level, doc_id, ash, bsh,
             len(list_filter(ad, x -> list_contains(bd, x))) AS inter,
             len(ad) + len(bd)
               - len(list_filter(ad, x -> list_contains(bd, x))) AS uni
      FROM sh
    ), sig AS (
      SELECT k, level, doc_id, inter, uni,
             {_q434_sig_duck('a')}, {_q434_sig_duck('b')}
      FROM jac
    ), verdicts AS (
      SELECT level, (2 * inter >= uni) AS is_near,
             ((am0 = bm0 AND am1 = bm1) OR (am2 = bm2 AND am3 = bm3)
              OR (am4 = bm4 AND am5 = bm5)) AS is_cand
      FROM sig
    )
    SELECT level,
           cast(count(*) as bigint) AS n_pairs,
           cast(count(*) FILTER (is_near) as bigint) AS n_near,
           cast(count(*) FILTER (is_cand) as bigint) AS n_cand,
           cast(count(*) FILTER (is_near AND is_cand) as bigint) AS n_tp,
           cast(CASE WHEN count(*) FILTER (is_near) = 0 THEN NULL
                ELSE 1000000 * count(*) FILTER (is_near AND is_cand)
                     // count(*) FILTER (is_near) END as bigint) AS recall_ppm
    FROM verdicts GROUP BY level
    """,
    tags=("dedup", "lsh", "evaluation", "recall"),
)
def q434_lsh_recall_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH RECALL HARNESS — the near-dup twin of q139's ANN recall
    floor, and EXACT where q234's bound check is probabilistic: for
    planted duplicate pairs at three mutation levels (exact copy,
    drop-1-in-7 tokens, drop-1-in-3), measure the md5-minhash band
    tier's candidate recall against exact-Jaccard ground truth
    (J ≥ 0.5 via integer cross-multiplication — never a float ratio).
    Because the q426 md5-minhash is deterministic AND
    DuckDB-expressible, recall here is an exact cross-engine-verified
    INTEGER, not a sampled estimate: the evaluation harness itself is
    under the value hash. Measured physics (and why three levels):
    exact dups collide in every band — recall exactly 10⁶ ppm, the
    no-false-negative guarantee; drop-1-in-7 leaves ~87/392 pairs at
    J ≥ 0.5 and this deliberately small 6-perm/3-band tier surfaces
    ~68% of them — the honest number that says WHY production runs
    32 perms × 8 bands (q50/q388), where the same harness reads near
    10⁶; drop-1-in-3 pushes every pair below threshold (n_near = 0,
    recall NULL) and the tier correctly goes quiet. This is the
    number a dedup SLO ("≥ 99% of J ≥ 0.5 pairs surface") is written
    against, and the harness re-runs per parameter choice.

    100 TB story: the harness is a narrow map per planted pair (the
    pair is constructed, not discovered — no join at all here); run
    against a production index, the same verdict columns come from
    the q426 probe path, and the ground-truth leg runs on a SAMPLE of
    pairs because exact Jaccard is the expensive side, not the LSH."""
    from ..functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    base = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= 12
    )
    lv = spark.createDataFrame(
        [(k, n) for k, n in _Q434_LEVELS], "k int, level string"
    )
    pairs = base.crossJoin(F.broadcast(lv)).select(
        "k",
        "level",
        "doc_id",
        F.col("toks").alias("atoks"),
        F.when(F.col("k") == 0, F.col("toks"))
        .otherwise(
            F.filter("toks", lambda t, i: (i + 1) % F.col("k") != 0)
        )
        .alias("btoks"),
    )

    from ..operators.dedup import shingles_from_tokens

    # shingles over NAMED columns — attribute references bind cheap
    # (the word_shingles lesson), and the construction is the SHARED
    # production one so the harness measures the real shingle path
    sh = pairs.filter(F.size("btoks") >= 3).select(
        "level",
        "doc_id",
        shingles_from_tokens(F.col("atoks"), 3).alias("ash"),
        shingles_from_tokens(F.col("btoks"), 3).alias("bsh"),
    )
    inter = F.size(F.array_intersect(F.array_distinct("ash"), F.array_distinct("bsh")))
    uni = (
        F.size(F.array_distinct("ash"))
        + F.size(F.array_distinct("bsh"))
        - inter
    )
    sig = sh.select(
        "level",
        inter.alias("inter"),
        uni.alias("uni"),
        F.expr(_mh_spark("ash")).alias("amins"),
        F.expr(_mh_spark("bsh")).alias("bmins"),
    )
    import functools
    import operator as _op

    band_eq = [
        (F.element_at("amins", 2 * b + 1) == F.element_at("bmins", 2 * b + 1))
        & (F.element_at("amins", 2 * b + 2) == F.element_at("bmins", 2 * b + 2))
        for b in range(_Q426_BANDS)
    ]
    is_cand = functools.reduce(_op.or_, band_eq)
    verdicts = sig.select(
        "level",
        (2 * F.col("inter") >= F.col("uni")).alias("is_near"),
        is_cand.alias("is_cand"),
    )
    agg = verdicts.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("is_near").cast("bigint")).cast("bigint").alias("n_near"),
        F.sum(F.col("is_cand").cast("bigint")).cast("bigint").alias("n_cand"),
        F.sum((F.col("is_near") & F.col("is_cand")).cast("bigint"))
        .cast("bigint")
        .alias("n_tp"),
    )
    return agg.select(
        "level",
        "n_pairs",
        "n_near",
        "n_cand",
        "n_tp",
        F.expr(
            "cast(CASE WHEN n_near = 0 THEN NULL"
            " ELSE 1000000 * n_tp div n_near END as bigint)"
        ).alias("recall_ppm"),
    )


_Q436_M = 1024  # linear-counting bucket space


@query(
    "q436_sketch_accuracy_audit",
    oracle=f"""
    WITH dh AS (
      SELECT DISTINCT event_type,
             {hex_int_sql("md5(cast(user_id as varchar))")} AS h
      FROM events
    ), bk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM dh
    ), kmv AS (
      SELECT event_type, count(*) AS n_bk, max(h) AS hk
      FROM bk WHERE rn <= {_KMV_K} GROUP BY event_type
    ), lc AS (
      SELECT event_type,
             count(DISTINCT h % {_Q436_M}) AS occupied
      FROM dh GROUP BY event_type
    ), ex AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    ), est AS (
      SELECT e.event_type, e.n_exact,
             CASE WHEN k.n_bk < {_KMV_K} THEN k.n_bk
                  ELSE ({_KMV_K} - 1) * 4294967296 // k.hk END AS kmv_est,
             CASE WHEN l.occupied >= {_Q436_M} THEN NULL
                  ELSE round(-{_Q436_M} * ln(({_Q436_M} - l.occupied)
                       / {_Q436_M}.0))::BIGINT END AS lc_est
      FROM ex e JOIN kmv k USING (event_type) JOIN lc l USING (event_type)
    )
    SELECT event_type,
           cast(n_exact as bigint) AS n_exact,
           cast(kmv_est as bigint) AS kmv_est,
           cast(abs(kmv_est - n_exact) * 1000000 // n_exact as bigint)
             AS kmv_err_ppm,
           cast(lc_est as bigint) AS lc_est,
           cast(abs(lc_est - n_exact) * 1000000 // n_exact as bigint)
             AS lc_err_ppm
    FROM est
    """,
    tags=("dedup", "sketch", "evaluation", "audit"),
)
def q436_sketch_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH ACCURACY AUDIT — completes the evaluation-harness triple
    (q139 pins ANN recall, q434 pins LSH recall, this pins cardinality
    estimators): per group, the KMV bottom-k estimate (q422's sketch)
    and a LINEAR-COUNTING estimate (q329's occupancy inversion,
    −m·ln((m−o)/m) over a 1024-bucket space) are computed next to the
    exact distinct count, and each estimator's error lands as an
    integer ppm column. Both estimators are DETERMINISTIC functions of
    the data under the md5-prefix digest, so the accuracy report
    itself is cross-engine hash-verified — the operator deciding
    "which sketch tier can carry this metric at 10⁹ keys" reads
    measured error, not datasheet error. The ln is a single libm call
    on bitwise-identical doubles (the parity-ledger row); saturation
    (every bucket occupied) reports NULL rather than −∞.

    100 TB story: both estimators are one map-side-combinable pass
    over (group, hash) — the audit costs what the sketches cost, and
    at production scale it runs on a hash-sampled key slice with the
    exact leg confined to that slice (the expensive side is exactness,
    never the sketches)."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    h = F.expr(hex_int_expr("md5(cast(user_id as string))"))
    dh = ev.select("event_type", h.alias("h")).distinct()

    w = W.partitionBy("event_type").orderBy("h")
    kmv = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_bk"), F.max("h").alias("hk"))
    )
    lc = dh.groupBy("event_type").agg(
        F.count_distinct(F.pmod("h", F.lit(_Q436_M))).alias("occupied")
    )
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    est = (
        ex.join(kmv, "event_type")
        .join(lc, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.expr(
                f"CASE WHEN n_bk < {_KMV_K} THEN n_bk"
                f" ELSE {(_KMV_K - 1) * 4294967296} div hk END"
            ).alias("kmv_est"),
            F.expr(
                f"CASE WHEN occupied >= {_Q436_M} THEN NULL"
                f" ELSE cast(round(-{_Q436_M} * ln(({_Q436_M} - occupied)"
                f" / cast({_Q436_M} as double))) as bigint) END"
            ).alias("lc_est"),
        )
    )
    return est.select(
        "event_type",
        "n_exact",
        F.col("kmv_est").cast("bigint").alias("kmv_est"),
        F.expr("cast(abs(kmv_est - n_exact) * 1000000 div n_exact as bigint)")
        .alias("kmv_err_ppm"),
        F.col("lc_est").cast("bigint").alias("lc_est"),
        F.expr("cast(abs(lc_est - n_exact) * 1000000 div n_exact as bigint)")
        .alias("lc_err_ppm"),
    )
