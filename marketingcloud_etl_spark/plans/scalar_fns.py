"""Scalar-function battery (SURVEY.md §2.B "Scalar functions"):
string / date / math / hash / array / json, each oracle-checked.

Dialect notes encoded here (the drift traps from SURVEY.md §7):
  * Spark `split` is regex (escape '?'); DuckDB uses split_part/regexp.
  * Spark F.log is ln — DuckDB `log` is log10, so SQL says ln/log10.
  * Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday (+1).
  * ceil/floor return BIGINT in Spark, DOUBLE in DuckDB (cast).
  * transcendentals (ln/pow) rounded to 6 dp to absorb libm last-ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .catalog import query


@query(
    "q27_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           lower(p_type) AS type_l,
           cast(length(p_name) as int) AS name_len,
           substring(p_name, 1, 10) AS name_10,
           split_part(p_type, ' ', 1) AS type_head,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
           concat_ws('|', p_brand, p_type) AS brand_type,
           trim(concat(' ', p_name, ' ')) AS name_trim
    FROM part
    """,
    tags=("scalar", "string"),
)
def q27_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String battery incl. the reference's R7 split semantics
    (salesforce_extractor.py:171 — note Spark split is regex)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 10).alias("name_10"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
    )


@query(
    "q28_date_funcs",
    oracle="""
    SELECT o_orderkey,
           cast(year(o_orderdate) as int) AS yr,
           cast(month(o_orderdate) as int) AS mo,
           cast(day(o_orderdate) as int) AS dom,
           cast(dayofweek(o_orderdate) + 1 as int) AS dow,
           cast(date_trunc('month', o_orderdate) as date) AS month_start,
           cast(datediff('day', o_orderdate, timestamp '2002-01-01 00:00:00') as int) AS days_to_2002,
           cast(floor(epoch(o_orderdate)) as bigint) AS epoch_s,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd
    FROM orders
    """,
    tags=("scalar", "date"),
)
def q28_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery incl. R9 timestamp semantics (UTC-pinned)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


@query(
    "q29_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_r1,
           cast(floor(l_extendedprice) as bigint) AS price_floor,
           cast(ceil(l_extendedprice) as bigint) AS price_ceil,
           abs(l_discount - 0.05) AS disc_dev,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(log10(l_extendedprice), 6) AS price_log10,
           pow(l_quantity, 2) AS qty_sq,
           sqrt(l_quantity) AS qty_sqrt,
           l_orderkey % 7 AS key_mod
    FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("scalar", "math"),
)
def q29_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery; per-row IEEE ops are deterministic, transcendentals
    rounded to absorb JVM-vs-libm last-ulp differences."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "q30_hash_funcs",
    oracle="""
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256,
           md5(concat_ws(chr(31), p_brand, p_type)) AS brand_type_md5
    FROM part
    """,
    tags=("scalar", "hash"),
)
def q30_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content hashes (R10 family; md5/sha2 are
    oracle-portable, xxhash64 is Spark-only and used in rows-only ops)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2("p_name", 256).alias("name_sha256"),
        F.md5(F.concat_ws("\x1f", "p_brand", "p_type")).alias("brand_type_md5"),
    )


@query(
    "q31_array_funcs",
    oracle=r"""
    SELECT doc_id,
           cast(len(toks) as int) AS n_tokens,
           cast(len(list_distinct(toks)) as int) AS n_distinct,
           toks[1] AS first_token,
           list_contains(toks, 'spark') AS has_spark,
           array_to_string(toks[1:3], ' ') AS head3,
           array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS vocab5
    FROM (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> t != '') AS toks
      FROM documents
    )
    """,
    tags=("scalar", "array"),
)
def q31_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over tokenized text: size/distinct/element_at/
    contains/slice/sort — all higher-order built-ins, no UDFs."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("head3"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ",").alias("vocab5"),
    )


@query(
    "q32_json_funcs",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') as bigint) AS k_long,
           json_extract_string(props, '$.k') AS k_str,
           CASE WHEN cast(json_extract_string(props, '$.k') as bigint) > 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
    tags=("scalar", "json"),
)
def q32_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access two ways: schema'd from_json (preferred — typed,
    Catalyst-prunable) and get_json_object path extraction.

    Contract note (FIXTURES.md): props is well-formed single-key JSON
    with an unquoted integer. Outside that contract the engines
    diverge by design: Spark returns NULL for quoted/fractional/
    malformed values where DuckDB coerces or errors."""
    e = table(spark, sf_dir, "events")
    parsed = e.withColumn("pj", F.from_json("props", "k LONG"))
    return parsed.select(
        "event_id",
        F.col("pj.k").alias("k_long"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.when(F.col("pj.k") > 50, "high").otherwise("low").alias("k_band"),
    )


@query(
    "q74_map_funcs",
    oracle="""
    SELECT event_type,
           'k' AS first_key,
           count(*) AS n,
           cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint)
             AS sum_vals
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "map"),
)
def q74_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: from_json to map<string,string>, map_keys,
    explode of the map to (key, value) rows, re-aggregated. The oracle
    reaches the same numbers through JSON path extraction."""
    e = table(spark, sf_dir, "events")
    m = e.withColumn("pm", F.from_json("props", "map<string,string>"))
    exploded = m.select(
        "event_type",
        F.element_at(F.map_keys("pm"), 1).alias("first_key"),
        F.explode("pm").alias("k", "v"),
    )
    return exploded.groupBy("event_type", "first_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("long")).alias("sum_vals"),
    )


@query(
    "q143_variant_json",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS custkey,
           o_orderstatus AS status,
           o_totalprice AS price,
           o_orderpriority AS priority
    FROM orders WHERE o_orderkey < 200
    """,
    tags=("scalar", "json", "variant"),
)
def q143_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type round-trip: rows serialize to JSON text
    (the shape semi-structured data actually arrives in), parse_json
    lifts the text into the binary VARIANT encoding, and typed
    variant_get path extraction — including a NESTED path
    ($.amounts.price) — recovers every value exactly. The oracle is
    the original columns, so the check is lossless-round-trip, not
    string comparison (JSON key order / float formatting never
    matter). VARIANT is the 100 TB answer to schema-on-read event
    blobs: one binary column, no per-field string re-parsing, paths
    pushed into the scan."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    js = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_custkey"),
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
                F.struct(F.col("o_totalprice").alias("price")).alias("amounts"),
            )
        ).alias("js"),
    )
    v = js.select("o_orderkey", F.parse_json(F.col("js")).alias("v"))
    return v.select(
        "o_orderkey",
        F.variant_get(F.col("v"), "$.o_custkey", "bigint").alias("custkey"),
        F.variant_get(F.col("v"), "$.o_orderstatus", "string").alias("status"),
        F.variant_get(F.col("v"), "$.amounts.price", "double").alias("price"),
        F.variant_get(F.col("v"), "$.o_orderpriority", "string").alias("priority"),
    )


@query(
    "q153_collation_group",
    oracle="""
    WITH mixed AS (
      SELECT p_type AS t FROM part
      UNION ALL
      SELECT lower(p_type) FROM part
    )
    SELECT lower(t) AS type_ci, cast(count(*) as bigint) AS n
    FROM mixed GROUP BY lower(t)
    """,
    tags=("scalar", "collation"),
)
def q153_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: grouping under UTF8_LCASE treats case
    variants as ONE key engine-side — no lower() rewrite of the data,
    the comparison semantics live in the type. The fixture part types
    are case-consistent, so the query manufactures variants (original ∪
    lowercased) and groups by the collated column; every case pair must
    collapse to a single group, which the oracle checks via the
    explicit lower() formulation. Output key normalized to lower()
    (the collated group representative is otherwise first-seen)."""
    p = table(spark, sf_dir, "part").select(F.col("p_type").alias("t"))
    mixed = p.unionAll(p.select(F.lower("t").alias("t")))
    return (
        mixed.groupBy(F.expr("collate(t, 'UTF8_LCASE')").alias("tc"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("tc").cast("string")).alias("type_ci"), "n")
    )


@query(
    "q157_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           cast(cast(o_orderdate as date) + INTERVAL 30 DAY as date)   AS due_date,
           cast(cast(o_orderdate as date) + INTERVAL 3 MONTH as date)  AS review_date,
           last_day(cast(o_orderdate as date))                         AS month_end,
           cast(date_trunc('quarter', o_orderdate) as date)            AS quarter_start,
           strftime(o_orderdate, '%a')                                 AS day_name,
           strftime(o_orderdate, '%b')                                 AS month_name,
           cast(date_diff('day', cast(o_orderdate as date),
                          DATE '2026-01-01') as int)                   AS days_to_ref
    FROM orders WHERE o_orderkey <= 400
    """,
    tags=("scalar", "datetime"),
)
def q157_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI interval arithmetic + date-part battery — day and month
    interval addition (month addition clamps to end-of-month in both
    engines: Jan 31 + 1 month = Feb 29), last_day, quarter truncation,
    ENGLISH day/month names (Spark dayname/monthname ≡ DuckDB strftime
    %a/%b three-letter forms), and exact day differences. All pure
    codegen'd expressions — the date dimension of the scalar battery
    q27–q32 left uncovered."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).alias("due_date"),
        F.add_months(d, 3).alias("review_date"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("quarter_start"),
        F.dayname(d).alias("day_name"),
        F.monthname(d).alias("month_name"),
        F.datediff(F.lit("2026-01-01").cast("date"), d).alias("days_to_ref"),
    )


@query(
    "q171_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber = 0 THEN NULL
                ELSE cast(cast(l_extendedprice as decimal(18,2)) as double) / l_linenumber
           END AS safe_unit_price,
           try_cast(l_returnflag AS int) AS flag_as_int,
           try_cast(concat('20', l_returnflag) AS date) AS bad_date,
           9223372036854775807 + CASE WHEN l_orderkey < 0 THEN 1 ELSE 0 END
             AS near_overflow
    FROM lineitem WHERE l_orderkey <= 200
    """,
    tags=("scalar", "ansi"),
)
def q171_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ``try_*`` function battery — the error-handling
    surface for dirty data: try_divide (NULL on zero divisor instead
    of an ANSI error), try_cast on non-numeric and malformed-date
    strings (NULL, the reference's null-on-parse-failure semantic
    R9 generalized), and bigint arithmetic at the overflow boundary
    (the CASE keeps it un-taken, pinning that the engines agree on the
    representable edge). The division runs in DOUBLE on an exactly-decimal-quantized
    numerator — one IEEE op on identical operands (decimal division
    result-scale rules differ between engines, money.py's warning)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice").cast("decimal(18,2)").cast("double"), F.col("l_linenumber")).alias(
            "safe_unit_price"
        ),
        F.expr("try_cast(l_returnflag as int)").alias("flag_as_int"),
        F.expr("try_cast(concat('20', l_returnflag) as date)").alias("bad_date"),
        (
            F.lit(9223372036854775807).cast("bigint")
            + F.when(F.col("l_orderkey") < 0, 1).otherwise(0)
        ).alias("near_overflow"),
    )


@query(
    "q182_hof_battery",
    oracle="""
    SELECT l_orderkey,
           cast(sum(cast(l_quantity as bigint) * 2) as bigint) AS sum_qty_doubled,
           cast(count(*) FILTER (WHERE cast(round(l_extendedprice*100) as bigint) > 500000) as int) AS n_pricey,
           bool_or(l_discount > 0.05) AS any_high_disc,
           bool_and(cast(l_quantity as bigint) > 0) AS all_pos_qty,
           cast(sum(cast(round(l_extendedprice*100) as bigint) * cast(l_quantity as bigint)) as bigint) AS dot_cents
    FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey
    """,
    tags=("scalar", "array", "hof"),
)
def q182_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function battery — the lambda surface over arrays
    stays entirely JVM-side (no Python UDF): ``transform`` (map),
    ``filter``, ``exists``/``forall`` (short-circuiting any/all),
    ``aggregate`` (sequential fold) and ``zip_with`` (elementwise
    combine → the fold gives a dot product). Arrays are built per
    order with ``array_sort(collect_list(struct))`` so the fold order
    is deterministic; money stays exact integer cents. The oracle
    verifies the same values from the raw rows with plain SQL — the
    HOF pipeline must agree with the relational computation it
    re-expresses. At scale the lambdas run inside whole-stage codegen;
    this is the idiom for nested (array-typed) columns without
    exploding 100 TB into rows."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    arr = (
        li.select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.col("l_discount"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list(F.struct("price_c", "qty"))).alias("items"),
            F.collect_list("l_discount").alias("discs"),
        )
    )
    return arr.select(
        "l_orderkey",
        F.aggregate(
            F.transform("items", lambda s: s["qty"] * 2),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("sum_qty_doubled"),
        F.size(F.filter("items", lambda s: s["price_c"] > 500000)).alias("n_pricey"),
        F.exists("discs", lambda d: d > 0.05).alias("any_high_disc"),
        F.forall("items", lambda s: s["qty"] > 0).alias("all_pos_qty"),
        F.aggregate(
            F.zip_with(
                F.transform("items", lambda s: s["price_c"]),
                F.transform("items", lambda s: s["qty"]),
                lambda p, q: p * q,
            ),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("dot_cents"),
    )


@query(
    "q184_url_canonicalize",
    oracle="""
    SELECT 'shop.example.com' AS host,
           replace(lower(substring(o_orderpriority, 3, 15)), ' ', '-') AS section,
           cast(count(*) as bigint) AS n_urls,
           cast(sum(o_orderkey) as bigint) AS sum_ids,
           true AS ids_roundtrip
    FROM orders GROUP BY section
    """,
    tags=("scalar", "string", "url"),
)
def q184_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + canonicalization (the web-corpus curation
    primitive): deterministic URLs are synthesized from orders, then
    ``parse_url`` extracts HOST / PATH / individual QUERY params
    JVM-side, the host is case-folded, the tracking param
    (``utm_source``) is ignored, and the path section + id param are
    recovered. ``ids_roundtrip`` proves the id survives the full
    synthesize→parse→cast round trip for every row; the oracle
    recomputes host/section/counts from the source columns directly.
    At 100 TB URL canonicalization is the key-normalization step
    before host-level dedup/aggregation — all built-ins, no UDF."""
    o = table(spark, sf_dir, "orders")
    urls = o.select(
        "o_orderkey",
        F.concat(
            F.lit("https://Shop.Example.COM/"),
            F.translate(F.lower(F.substring("o_orderpriority", 3, 15)), " ", "-"),
            F.lit("/item?id="),
            F.col("o_orderkey").cast("string"),
            F.lit("&utm_source=mail&cust="),
            F.col("o_custkey").cast("string"),
        ).alias("url"),
    )
    parsed = urls.select(
        "o_orderkey",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).cast("bigint").alias("id_param"),
    )
    return (
        parsed.select(
            "o_orderkey",
            "host",
            F.regexp_extract("path", r"^/([^/]+)/", 1).alias("section"),
            "id_param",
        )
        .groupBy("host", "section")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("id_param").alias("sum_ids"),
            F.min(F.col("id_param") == F.col("o_orderkey")).alias("ids_roundtrip"),
        )
    )


@query(
    "q192_array_setops_battery",
    oracle="""
    WITH pa AS (
      SELECT l_orderkey,
             count(DISTINCT l_partkey) AS n_all,
             count(DISTINCT l_partkey) FILTER (WHERE l_quantity < 25) AS n_low
      FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           cast(n_all as int) AS n_union,
           cast(n_low as int) AS n_intersect,
           cast(n_all - n_low as int) AS n_except,
           n_low > 0 AS has_low
    FROM pa
    """,
    tags=("scalar", "array"),
)
def q192_array_setops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET-operation battery — ``array_union`` / ``array_intersect``
    / ``array_except`` / ``arrays_overlap`` over per-order part-key
    sets (one a subset of the other by construction, so every set
    identity is independently recomputable from two DISTINCT counts —
    which is exactly what the oracle does). The conditional
    ``collect_list(when(...))`` builds the filtered set in the SAME
    aggregation pass as the full set: one shuffle for both arrays,
    the idiom for set-valued columns (tags, token vocabularies,
    audience segments) without a second scan or an explode round
    trip."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    pa = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.collect_list("l_partkey")).alias("all_parts"),
        F.array_distinct(
            F.collect_list(F.when(F.col("l_quantity") < 25, F.col("l_partkey")))
        ).alias("low_parts"),
    )
    return pa.select(
        "l_orderkey",
        F.size(F.array_union("all_parts", "low_parts")).alias("n_union"),
        F.size(F.array_intersect("all_parts", "low_parts")).alias("n_intersect"),
        F.size(F.array_except("all_parts", "low_parts")).alias("n_except"),
        F.arrays_overlap("all_parts", "low_parts").alias("has_low"),
    )


@query(
    "q233_string_fn_battery2",
    oracle="""
    SELECT p_partkey,
           translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
           cast(instr(p_name, 'al') as bigint) AS pos_al,
           lpad(cast(p_size as varchar), 4, '0') AS size_lpad,
           rpad(p_brand, 12, '.') AS brand_rpad,
           repeat(left(p_brand, 2), 3) AS brand_rep,
           reverse(p_type) AS type_rev,
           right(p_name, 6) AS name_tail,
           cast(levenshtein(p_brand, left(p_type, 8)) as bigint) AS lev_bt,
           printf('%03d:%s', p_size, p_brand) AS size_fmt,
           cast(len(regexp_extract_all(p_name, '[aeiou]')) as bigint) AS n_vowels,
           substr(p_name, 1, 2) || '__' || substr(p_name, 5) AS name_overlay
    FROM part
    """,
    tags=("scalar", "string"),
)
def q233_string_fn_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery — the positional/edit-distance surface
    q27 leaves uncovered: translate (char map), instr (1-based find,
    0 = absent on BOTH engines), lpad/rpad, repeat, reverse,
    left/right slicing, levenshtein (the fuzzy-match verify kernel
    q115 uses in anger), printf-style formatting, regexp occurrence
    COUNT (Spark ``regexp_count`` ≡ DuckDB ``len(regexp_extract_all)``)
    and overlay (DuckDB spells it substr||..||substr — the oracle
    proves the splice semantics, not the function name). All codegen'd
    builtins — per-row Python never enters the picture."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "AEIOU").alias("name_tr"),
        F.instr("p_name", "al").cast("bigint").alias("pos_al"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.repeat(F.left("p_brand", F.lit(2)), 3).alias("brand_rep"),
        F.reverse("p_type").alias("type_rev"),
        F.right("p_name", F.lit(6)).alias("name_tail"),
        F.levenshtein("p_brand", F.left("p_type", F.lit(8))).cast("bigint").alias("lev_bt"),
        F.format_string("%03d:%s", "p_size", "p_brand").alias("size_fmt"),
        F.regexp_count("p_name", F.lit("[aeiou]")).cast("bigint").alias("n_vowels"),
        F.overlay("p_name", F.lit("__"), 3, 2).alias("name_overlay"),
    )


@query(
    "q249_map_hof_battery",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ), tot AS (
      SELECT user_id, sum(n) AS total FROM counts GROUP BY user_id
    )
    SELECT c.user_id, c.event_type,
           cast(c.n as bigint) AS n,
           round(c.n / cast(t.total as double), 6) AS share,
           c.n >= 3 AS is_frequent
    FROM counts c JOIN tot t USING (user_id)
    """,
    tags=("scalar", "map"),
)
def q249_map_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order functions (q74's map basics + the lambda
    surface): per-user event-type counts built as a MAP via
    map_from_entries(array_sort(...)) — deterministic entry order —
    then transform_values (count → share of the user total, computed
    INSIDE the map without exploding), map_filter (≥3 threshold kept
    as a map-level predicate result) and map_zip_with (counts ⊗
    shares → struct values). The final explode back to rows is only
    for the oracle compare; the point is the per-row map algebra — the
    no-shuffle idiom for nested per-entity aggregates at scale (one
    map column per user instead of T rows/user downstream). DuckDB
    models the same algebra relationally."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("cnt_map")
    )
    total = F.aggregate(
        F.map_values("cnt_map"), F.lit(0).cast("bigint"), lambda a, b: a + b
    )
    m = m.withColumn("total", total)
    share_map = F.transform_values(
        "cnt_map", lambda k, v: F.round(v / F.col("total").cast("double"), 6)
    )
    freq_map = F.transform_values("cnt_map", lambda k, v: v >= 3)
    m = m.withColumn(
        "zipped",
        F.map_zip_with(
            F.map_zip_with("cnt_map", share_map, lambda k, n, s: F.struct(n.alias("n"), s.alias("share"))),
            freq_map,
            lambda k, ns, fr: F.struct(
                ns["n"].alias("n"), ns["share"].alias("share"), fr.alias("is_frequent")
            ),
        ),
    )
    return m.select(
        "user_id", F.explode("zipped").alias("event_type", "v")
    ).select(
        "user_id",
        "event_type",
        F.col("v.n").cast("bigint").alias("n"),
        F.col("v.share").alias("share"),
        F.col("v.is_frequent").alias("is_frequent"),
    )


@query(
    "q252_unicode_text_battery",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'café' WHEN 1 THEN '中文数据'
                             WHEN 2 THEN 'straße' ELSE 'naïve' END AS s
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id, s,
           cast(length(s) as bigint) AS n_chars,
           cast(strlen(s) as bigint) AS n_bytes,
           upper(CASE WHEN doc_id % 4 = 2 THEN 'grün' ELSE s END) AS s_upper,
           substr(s, 2, 3) AS s_mid,
           reverse(s) AS s_rev,
           s || '—' || s AS s_joined
    FROM u
    """,
    tags=("scalar", "string", "unicode"),
)
def q252_unicode_text_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE string semantics — the multibyte correctness surface a
    multilingual corpus pipeline lives on: char_length vs OCTET length
    (é=2 bytes, 中=3, ß=2 in UTF-8), CHARACTER-addressed substr (a
    byte-addressed implementation would split a codepoint and emit
    mojibake), locale-independent upper (ß and CJK pass through),
    codepoint-wise reverse, and concat with a multibyte separator.
    Both engines operate on UTF-8 with character semantics — verified
    value-for-value, not assumed. One REAL divergence found and
    excluded: full case mapping of ß (Spark upper('straße') =
    'STRASSE', DuckDB = 'STRAẞE' capital sharp s) — the upper column
    therefore tests a ß-free value on that row."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    s = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("café"))
        .when(F.col("doc_id") % 4 == 1, F.lit("中文数据"))
        .when(F.col("doc_id") % 4 == 2, F.lit("straße"))
        .otherwise(F.lit("naïve"))
    )
    u = d.select("doc_id", s.alias("s"))
    return u.select(
        "doc_id",
        "s",
        F.char_length("s").cast("bigint").alias("n_chars"),
        F.octet_length("s").cast("bigint").alias("n_bytes"),
        F.upper(
            F.when(F.col("doc_id") % 4 == 2, F.lit("grün")).otherwise(F.col("s"))
        ).alias("s_upper"),
        F.substring("s", 2, 3).alias("s_mid"),
        F.reverse("s").alias("s_rev"),
        F.concat_ws("—", "s", "s").alias("s_joined"),
    )


@query(
    "q253_number_format_parse",
    oracle="""
    SELECT p_partkey,
           printf('%,d', cast(round(p_retailprice * 100) as bigint)) AS cents_grouped,
           round(try_cast(replace('1,234.5', ',', '') as double), 2) AS parsed_ok,
           try_cast('12x34' as double) AS parsed_bad
    FROM part
    """,
    tags=("scalar", "string", "format"),
)
def q253_number_format_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-style NUMBER formatting and format-directed parsing —
    the CSV/report-ingestion edge the reference's null-on-bad-parse
    semantics (R9) extends to numerics: grouped thousands formatting
    of exact cents, ``to_number`` parsing a grouped literal under an
    explicit format mask, and ``try_to_number`` returning NULL (not
    an error) on malformed input. Spark's format-mask functions have
    no DuckDB twin, so the oracle reproduces the VALUES via printf
    grouping and strip-and-cast — same results, different spelling,
    which is exactly the cross-engine check."""
    p = table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    return p.select(
        "p_partkey",
        F.format_number(cents, 0).alias("cents_grouped"),
        F.round(
            F.expr("cast(to_number('1,234.5', '9,999.9') as double)"), 2
        ).alias("parsed_ok"),
        F.expr("cast(try_to_number('12x34', '99999') as double)").alias("parsed_bad"),
    )


@query(
    "q254_timestamp_ntz_battery",
    oracle="""
    WITH t AS (
      SELECT event_id, ts,
             CASE WHEN month(ts) BETWEEN 4 AND 10 THEN 4 ELSE 5 END AS ny_off
      FROM events WHERE event_id < 500
    )
    SELECT event_id,
           ts AS ntz_ts,
           ts - to_hours(ny_off) AS ny_wall,
           make_timestamp(2024, 3, 15, 10, 30, 0.0) AS constructed,
           cast(floor((epoch_us(ts)
                       - epoch_us(make_timestamp(2024, 3, 15, 10, 30, 0.0)))
                      / 3600000000.0) as bigint) AS hours_since
    FROM t
    """,
    tags=("scalar", "timestamp"),
)
def q254_timestamp_ntz_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP_NTZ semantics — the wall-clock type that stays put
    when the session timezone moves (DuckDB timestamps ARE ntz, which
    makes this the one Spark type whose oracle comparison is exact by
    construction): ntz from the µs fixture values, convert_timezone
    UTC→America/New_York (the fixture's January/June dates sit far
    from DST transitions, so the oracle can pin the −5/−4 offsets
    explicitly rather than trusting two engines' tz databases to
    agree), make_timestamp_ntz construction, and ntz differencing.
    The catalog's UTC pin (session.prep) means ltz↔ntz conversion is identity for
    the fixture columns — asserted by the ntz_ts column itself."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ntz = F.to_timestamp_ntz("ts")
    return e.select(
        "event_id",
        ntz.alias("ntz_ts"),
        F.expr(
            "convert_timezone('UTC', 'America/New_York', to_timestamp_ntz(ts))"
        ).alias("ny_wall"),
        F.expr("make_timestamp_ntz(2024, 3, 15, 10, 30, 0)").alias("constructed"),
        F.floor(
            (F.unix_micros(ntz.cast("timestamp"))
             - F.unix_micros(F.expr("timestamp'2024-03-15 10:30:00'")))
            / F.lit(3600000000.0)
        ).cast("bigint").alias("hours_since"),
    )


@query(
    "q255_array_mutation_battery",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')[1:6] AS a
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           array_to_string(a[1:2] || ['INS'] || a[3:], ' ') AS a_inserted,
           array_to_string(['HEAD'] || a, ' ') AS a_prepended,
           array_to_string(a || ['TAIL'], ' ') AS a_appended,
           array_to_string(list_filter(a, x -> x != 'the'), ' ') AS a_removed,
           a[9] AS missing_elem,
           cast(len(a) as bigint) AS n
    FROM base
    """,
    tags=("scalar", "array"),
)
def q255_array_mutation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY mutation battery (Spark 3.4+ surface q31 predates):
    array_insert at a position, prepend/append, array_remove,
    try_element_at past the end (NULL, not an error — ANSI-safe
    indexing) — the list-editing idiom feature pipelines use on token
    arrays. DuckDB spells each mutation with slice concatenation,
    which doubles as documentation of what the function actually
    does. Each mutated array is stringified (space-joined) in the
    final projection — the driver's comparator cannot sort raw array
    columns (q165's round-4 failure class), and the join preserves the
    full element sequence, so nothing is lost to the fold."""
    from ..functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    base = d.select("doc_id", F.slice(tokens("text"), 1, 6).alias("a"))
    return base.select(
        "doc_id",
        F.array_join(F.array_insert("a", 3, F.lit("INS")), " ").alias("a_inserted"),
        F.array_join(F.array_prepend("a", F.lit("HEAD")), " ").alias("a_prepended"),
        F.array_join(F.array_append("a", F.lit("TAIL")), " ").alias("a_appended"),
        F.array_join(F.array_remove("a", "the"), " ").alias("a_removed"),
        F.try_element_at("a", F.lit(9)).alias("missing_elem"),
        F.size("a").cast("bigint").alias("n"),
    )


@query(
    "q256_inline_structs",
    oracle="""
    WITH agg AS (
      SELECT o_custkey,
             list_sort(list(struct_pack(k := o_orderkey,
                                        cents := cast(round(o_totalprice*100) as bigint)))) AS orders_arr
      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
    ), allc AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0
    )
    SELECT a.c_custkey,
           u.x.k AS o_orderkey, u.x.cents AS cents
    FROM allc a
    LEFT JOIN (SELECT o_custkey, unnest(orders_arr) AS x FROM agg) u
      ON a.c_custkey = u.o_custkey
    """,
    tags=("scalar", "array", "explode"),
)
def q256_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``inline_outer`` — exploding an array of STRUCTS directly into
    columns (no per-field element_at projection), with the OUTER
    variant keeping customers whose pending-order array is absent as a
    single all-NULL row. The nested-to-flat hinge for struct-array
    columns (order lists, span annotations); array_sort pins struct
    ordering so both engines emit identical rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 50 == 0)
    agg = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("o_orderkey").alias("k"),
                        F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")
                        .alias("cents"),
                    )
                )
            ).alias("orders_arr")
        )
    )
    j = c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey", "orders_arr"
    )
    return j.select(
        "c_custkey", F.inline_outer("orders_arr")
    ).select("c_custkey", F.col("k").alias("o_orderkey"), "cents")
