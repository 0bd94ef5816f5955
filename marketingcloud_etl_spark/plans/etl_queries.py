"""ETL-surface queries — the reference pipeline's semantics (R5-R16,
SURVEY.md §2.A) re-expressed over the fixture tables, oracle-checked.

The reference (/root/reference/app/salesforce_extractor.py) flattens
nested {keys,values} items (:153-181), strips query strings + caps at
256 chars (:171), null-safe-parses timestamps (:138-151), content-hashes
every record (:179-181) and upserts with insert-ignore dedup (:214-217),
with a count-watermark incremental mode (:373-395). Each of those
behaviors is a named query here; the live REST/JDBC halves live in
sources/ and sinks/ with their own tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import content_hash, content_hash_sql
from ..functions.money import dec
from ..io import query_state, scratch_dir, table
from .catalog import query
from .relational import orders_by_year_dir

_EVENT_HASH_COLS = ("user_id", "event_type", "value", "props")
_EVENT_HASH_SQL = content_hash_sql(_EVENT_HASH_COLS)


@query(
    "q00_flagship_ingest_dedup",
    oracle=f"""
    WITH src AS (
      SELECT user_id, event_type, value, props FROM events
      UNION ALL
      SELECT user_id, event_type, value, props FROM events
    ), hashed AS (
      SELECT DISTINCT user_id, event_type, value, props, {_EVENT_HASH_SQL} AS hash
      FROM src
    )
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT hash) AS n_hashes,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value
    FROM hashed GROUP BY event_type
    """,
    tags=("etl", "headline"),
)
def q00_flagship_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference pipeline shape end-to-end — ingest the
    same batch twice, content-hash each record (R10), drop duplicates
    (R12 insert-ignore), aggregate (R11). Idempotence invariant: counts
    equal a single ingest."""
    e = table(spark, sf_dir, "events").select(*_EVENT_HASH_COLS)
    src = e.unionByName(e)
    hashed = src.withColumn("hash", content_hash(_EVENT_HASH_COLS))
    deduped = hashed.dropDuplicates(["hash"])
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("hash").alias("n_hashes"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )


@query(
    "q35_flatten_nested",
    oracle="""
    SELECT event_id,
           coalesce(cast(user_id as varchar), '') AS lead_id,
           coalesce(event_type, '') AS event_name,
           coalesce(cast(event_id % 7 as varchar), '') AS session_id
    FROM events
    """,
    tags=("etl",),
)
def q35_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 flatten: build the reference's nested {keys,values} document
    (JSON round-trip), then flatten with nested-field projection and R6
    missing-key "" defaults (salesforce_extractor.py:153-181)."""
    e = table(spark, sf_dir, "events")
    nested = e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.struct(
                    F.col("user_id").cast("string").alias("lead_id"),
                    (F.col("event_id") % 7).cast("string").alias("session_id"),
                ).alias("keys"),
                F.struct(F.col("event_type").alias("event_name")).alias("values"),
            )
        ).alias("payload"),
    )
    schema = "keys STRUCT<lead_id: STRING, session_id: STRING>, values STRUCT<event_name: STRING>"
    parsed = nested.select("event_id", F.from_json("payload", schema).alias("d"))
    return parsed.select(
        "event_id",
        F.coalesce(F.col("d.keys.lead_id"), F.lit("")).alias("lead_id"),
        F.coalesce(F.col("d.values.event_name"), F.lit("")).alias("event_name"),
        F.coalesce(F.col("d.keys.session_id"), F.lit("")).alias("session_id"),
    )


@query(
    "q36_clean_strip_truncate",
    oracle="""
    SELECT event_id,
           split_part(concat(event_type, '?session=', cast(event_id as varchar)), '?', 1) AS event_name,
           substring(repeat(concat(event_type, ' '), 60), 1, 256) AS capped,
           cast(length(substring(repeat(concat(event_type, ' '), 60), 1, 256)) as int) AS capped_len
    FROM events
    """,
    tags=("etl",),
)
def q36_clean_strip_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7+R8: strip everything after '?' (Spark split is regex — '?'
    must be escaped) and cap at 256 chars (salesforce_extractor.py:171)."""
    e = table(spark, sf_dir, "events")
    # coalesce each arg: Spark concat is NULL on any NULL argument,
    # DuckDB concat skips NULLs — empty-string both sides
    raw = F.concat(F.coalesce(F.col("event_type"), F.lit("")), F.lit("?session="), F.coalesce(F.col("event_id").cast("string"), F.lit("")))
    long_str = F.repeat(F.concat(F.coalesce(F.col("event_type"), F.lit("")), F.lit(" ")), 60)
    capped = F.substring(long_str, 1, 256)
    return e.select(
        "event_id",
        F.split(raw, r"\?").getItem(0).alias("event_name"),
        capped.alias("capped"),
        F.length(capped).alias("capped_len"),
    )


_DOC_HASH_COLS = ("text", "lang", "source")
_DOC_HASH_SQL = content_hash_sql(_DOC_HASH_COLS)


@query(
    "q37_dedup_exact_hash",
    oracle=f"""
    WITH src AS (
      SELECT text, lang, source FROM documents
      UNION ALL
      SELECT text, lang, source FROM documents
    ), hashed AS (
      SELECT DISTINCT text, lang, source, {_DOC_HASH_SQL} AS hash FROM src
    )
    SELECT source, count(*) AS n_docs, count(DISTINCT hash) AS n_unique
    FROM hashed GROUP BY source
    """,
    tags=("etl", "dedup"),
)
def q37_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full-record content hash (R10+R12) on documents —
    double-ingest collapses back to one copy per document."""
    d = table(spark, sf_dir, "documents").select(*_DOC_HASH_COLS)
    src = d.unionByName(d)
    hashed = src.withColumn("hash", content_hash(_DOC_HASH_COLS)).dropDuplicates(["hash"])
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("hash").alias("n_unique"),
    )


@query(
    "q38_dedup_keep_first",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("etl", "dedup"),
)
def q38_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keep-first-by-order: earliest event per (user, type) —
    the deterministic form of dropDuplicates."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select("event_id", "user_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q39_incremental_watermark",
    oracle="""
    WITH bound AS (
      SELECT cast(floor(max(event_id) / 2.0) as bigint) AS half FROM events
    ), wm AS (
      SELECT max(ts) AS high_water FROM events, bound WHERE event_id < half
    )
    SELECT count(*) AS n_new,
           min(e.ts) AS first_new_ts,
           max(e.ts) AS last_new_ts
    FROM events e, wm WHERE e.ts > wm.high_water
    """,
    tags=("etl", "incremental"),
)
def q39_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 incremental mode as a high-watermark filter: everything newer
    than max(ts) of the already-ingested half. The watermark is computed
    distributed (broadcast scalar), never collected to the driver."""
    e = table(spark, sf_dir, "events")
    half = e.agg(F.floor(F.max("event_id") / 2.0).cast("long").alias("half"))
    wm = (
        e.crossJoin(F.broadcast(half))
        .filter(F.col("event_id") < F.col("half"))
        .agg(F.max("ts").alias("high_water"))
    )
    return (
        e.crossJoin(F.broadcast(wm))
        .filter(F.col("ts") > F.col("high_water"))
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.min("ts").alias("first_new_ts"),
            F.max("ts").alias("last_new_ts"),
        )
    )


@query(
    "q40_upsert_antijoin",
    oracle="""
    SELECT event_type, count(*) AS n_to_insert
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events t WHERE t.event_id % 2 = 0 AND t.event_id = e.event_id
    )
    GROUP BY event_type
    """,
    tags=("etl", "upsert"),
)
def q40_upsert_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 upsert as insert-only merge: rows of the source batch whose
    key is absent from the target (here: target = even event_ids) —
    the anti-join half of sinks/upsert.py."""
    e = table(spark, sf_dir, "events")
    target = e.filter(F.col("event_id") % 2 == 0).select("event_id")
    return (
        e.join(target, "event_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_to_insert"))
    )


@query(
    "q67_csv_json_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("etl", "source"),
)
def q67_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON file source/sink (SURVEY §2.B scans): write the
    events projection to both formats, read both back with explicit
    schemas, verify they agree (inner-join equality), and aggregate —
    the oracle computes the same aggregate straight from parquet, so
    any round-trip corruption (type drift, quoting, double formatting)
    breaks the hash match."""
    base = scratch_dir("q67")
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.option("header", True).csv(f"{base}/csv")
    e.write.json(f"{base}/json")
    schema = "event_id bigint, event_type string, value double"
    c = spark.read.schema(schema).option("header", True).option("multiLine", True).csv(f"{base}/csv")
    j = spark.read.schema(schema).json(f"{base}/json")
    # cross-format agreement: symmetric difference must be empty (a
    # USING full-outer join coalesces the key columns, so a null-key
    # filter over it can never fire — exceptAll is the real check)
    n_mismatch = c.exceptAll(j).count() + j.exceptAll(c).count()
    agg = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )
    return agg.filter(F.lit(n_mismatch == 0))


@query("q83_rest_source_ingest", oracle=None, tags=("etl", "source", "rows-only"))
def q83_rest_source_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated REST DataSource end-to-end (R1-R4), self-contained:
    an in-process mock SFMC server serves the deterministic corpus, the
    Spark source plans one partition per page (pruning inside
    partitions()), and the lead-activity flatten/dedup pipeline runs on
    top. Deterministic output: 34 rows (35 items, one planted
    cross-page duplicate), every reference edge case exercised —
    missing keys, query-string strip, 256-char cap, bad dates.
    Rows-only: the HTTP source has no DuckDB twin."""
    from ..etl.lead_activity import flatten_lead_activity, read_lead_activity
    from ..sources.mock_sfmc import PAGE_SIZE, MockSfmcServer

    # Materialize inside the server's lifetime via a distributed parquet
    # write (executors write their own partitions — nothing funnels
    # through the driver, which is the shape that survives 100 TB), then
    # return the re-read so the caller can collect after the server is
    # gone. This mirrors the production bulk path
    # (etl/lead_activity.py::bulk_load).
    out = scratch_dir("q83") + "/lead_activity"
    with MockSfmcServer(n_items=35) as server:
        items = read_lead_activity(
            spark,
            base_url=server.base_url,
            auth_url=server.auth_url,
            client_id="demo",
            client_secret="demo",
            page_size=PAGE_SIZE,
        )
        flat = flatten_lead_activity(items).dropDuplicates(["hash"])
        flat.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("hash")


@query("q148_rest_stream_ingest", oracle=None, tags=("etl", "source", "streaming", "rows-only"))
def q148_rest_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REST source's STREAMING twin (rest_pages streamReader):
    continuous ingestion of the count-monotonic paginated API with a
    complete-pages offset protocol — the offset only advances to
    count // page_size, so the still-filling tail page is never
    fetched twice and no item duplicates (exactly-once without sink
    dedup; the batch path instead re-reads the partial page and
    anti-joins). 35 mock items / page size 10 → exactly 30 rows from
    pages 1-3, page 4 deferred until it completes. Page fetches pack
    into one range per task slot — a wide cluster drains a backlog in
    parallel inside one micro-batch. Deterministic output; rows-only
    (HTTP source has no DuckDB twin); restart-idempotence pinned in
    tests/test_etl_rest.py."""
    from ..sources.mock_sfmc import PAGE_SIZE, MockSfmcServer
    from ..sources.rest import register_rest_source, slot_options

    register_rest_source(spark)
    base = scratch_dir("q148")
    out_dir, ck = f"{base}/rows", f"{base}/ck"

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    with MockSfmcServer(n_items=35) as server:
        q = (
            spark.readStream.format("rest_pages")
            .options(
                base_url=server.base_url,
                auth_url=server.auth_url,
                client_id="demo",
                client_secret="demo",
                page_size=PAGE_SIZE,
                **slot_options(spark),
            )
            .load()
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .select("keys.lead_id", "values.event_name", "page")
        .orderBy("page", "lead_id")
    )


@query(
    "q87_scd2_versioning",
    oracle="""
    SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           event_type AS state,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN true ELSE false END AS is_current
    FROM events WHERE event_type IN ('signup', 'purchase')
    """,
    tags=("etl", "scd"),
)
def q87_scd2_versioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change log: each state
    change becomes a versioned row with [valid_from, valid_to) validity
    and an is_current flag — the warehouse pattern for dimension
    history, one window pass, no self-join."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.col("event_type").alias("state"),
        nxt.isNull().alias("is_current"),
    )


@query("q93_jdbc_merge_upsert", oracle=None, tags=("etl", "sink", "rows-only"))
def q93_jdbc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging-table merge upsert against a live SQL database
    (reference R12, salesforce_extractor.py:211-221): the batch lands
    in a staging table via a distributed write, then ONE server-side
    set-based merge moves it into the target under the unique key.
    Run twice inside the query to prove the idempotence invariant; the
    returned row reports counts after each pass. Rows-only: the sink's
    effect lives in the external database, not a relational result.
    (The sandbox has no JDBC driver jar, so the staging write and the
    statements run through sqlite3 DBAPI stand-ins — the statement
    pipeline is identical; see sinks/jdbc_merge.py.)"""
    import sqlite3

    from ..functions.hashing import content_hash
    from ..sinks.jdbc_merge import merge_upsert, sqlite_standins

    db = scratch_dir("q93") + "/wh.db"
    stage_writer, statement_runner = sqlite_standins(db)

    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    batch = e.select(
        content_hash(["event_id", "user_id", "event_type"]).alias("hash"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )
    kw = dict(url="jdbc:sqlite:unused", target_table="events_mart",
              key_cols=("hash",), dialect="sqlite",
              stage_writer=stage_writer, statement_runner=statement_runner)

    def target_count() -> int:
        con = sqlite3.connect(db)
        try:
            return con.execute("SELECT count(*) FROM events_mart").fetchone()[0]
        finally:
            con.close()

    merge_upsert(batch, **kw)
    n1 = target_count()
    merge_upsert(batch, **kw)  # same batch again: must be a no-op
    n2 = target_count()
    return spark.createDataFrame(
        [(n1, n2, n1 == n2)],
        "n_after_first bigint, n_after_second bigint, idempotent boolean",
    )


@query(
    "q339_jdbc_merge_readback",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value,
           true AS idempotent
    FROM events WHERE event_id < 500
    GROUP BY event_type
    """,
    tags=("etl", "sink", "parity"),
)
def q339_jdbc_merge_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q93: the staging-table merge
    upsert (reference R12, salesforce_extractor.py:211-221) runs TWICE
    against a live SQL database, then the query READS THE TARGET BACK
    and aggregates — the oracle computes the identical aggregate
    straight from parquet, so any row the merge dropped, duplicated,
    or mutated breaks the value hash, and the ``idempotent`` flag
    pins that the second identical merge was a no-op (the reference's
    unique-key insert-ignore invariant). The read-back streams through
    a bounded driver cursor (500 keyed rows by construction — the
    merge battery's declared fixture size; production read-back is the
    JDBC source). Same q168 pattern as the custom-writer sink."""
    import sqlite3

    from ..functions.hashing import content_hash
    from ..sinks.jdbc_merge import merge_upsert, sqlite_standins

    db = scratch_dir("q339") + "/wh.db"
    stage_writer, statement_runner = sqlite_standins(db)

    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    batch = e.select(
        content_hash(["event_id", "user_id", "event_type"]).alias("hash"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("value").cast("double").alias("value"),
    )
    kw = dict(url="jdbc:sqlite:unused", target_table="events_mart",
              key_cols=("hash",), dialect="sqlite",
              stage_writer=stage_writer, statement_runner=statement_runner)
    merge_upsert(batch, **kw)
    n1_con = sqlite3.connect(db)
    try:
        n1 = n1_con.execute("SELECT count(*) FROM events_mart").fetchone()[0]
    finally:
        n1_con.close()
    merge_upsert(batch, **kw)  # idempotence: second pass must be a no-op
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT event_type, value FROM events_mart"
        ).fetchall()
    finally:
        con.close()
    back = spark.createDataFrame(rows, "event_type string, value double")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    ).withColumn("idempotent", F.lit(len(rows) == n1))


@query(
    "q340_rest_flatten_parity",
    oracle="""
    WITH nums AS (
      SELECT unnest(range(0, 35)) AS slot
    ), src AS (  -- corpus(): slot 10 re-serves item 0 (cross-page dup)
      SELECT CASE WHEN slot = 10 THEN 0 ELSE slot END AS i FROM nums
    ), raw AS (
      SELECT i,
             'L-' || lpad(cast(i as varchar), 5, '0') AS lead_id,
             'https://x.test/p' || i || '?utm=1' AS url,
             CASE WHEN i % 11 = 0 THEN NULL ELSE 'S-' || (i % 7) END
               AS session_id,
             CASE WHEN i % 11 = 0 THEN NULL ELSE cast(i % 3 as varchar) END
               AS order_key,
             'T' || (i % 5) AS type_id,
             'web' AS event_category,
             CASE WHEN i % 13 = 0 THEN repeat('x', 300) || '?trailing'
                  ELSE 'page_view_' || i || '?utm_source=mail&x=y' END
               AS raw_event_name,
             CASE WHEN i % 17 = 0 THEN 'not-a-date'
                  ELSE ((i % 12) + 1) || '/' || ((i % 27) + 1) || '/2025 '
                       || ((i % 12) + 1) || ':07:09 PM' END AS raw_date
      FROM src
    ), dedup AS (
      SELECT DISTINCT * FROM raw
    )
    SELECT lead_id, url,
           coalesce(session_id, '') AS session_id,
           coalesce(order_key, '') AS order_key,
           try_strptime(raw_date, '%-m/%-d/%Y %-I:%M:%S %p') AS event_date,
           type_id, event_category,
           substr(string_split(raw_event_name, '?')[1], 1, 256) AS event_name
    FROM dedup
    """,
    tags=("etl", "source", "parity"),
)
def q340_rest_flatten_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q83: the FULL reference dataflow
    — Bearer-auth paginated REST DataSource (one InputPartition per
    page) → nested flatten with missing-key defaults → query-string
    strip + 256-char cap → null-safe date parse → content-hash dedup
    across the page-boundary duplicate — value-hashed by the driver
    against an INDEPENDENT oracle that regenerates the mock corpus
    formulaically in SQL (sources/mock_sfmc.py:24-54 is pure modular
    arithmetic) and applies the reference's cleaning rules
    (salesforce_extractor.py:138-181) in DuckDB. 35 items minus the
    planted duplicate = 34 rows; every R5-R10 edge (missing keys,
    oversized names, unparseable dates, 12-hour date format) lands in
    the hashed values. The hash column itself stays internal (engine-
    specific digest); dedup-by-hash equals dedup-by-content because
    the hash is a pure function of the raw fields."""
    from ..etl.lead_activity import flatten_lead_activity, read_lead_activity
    from ..sources.mock_sfmc import PAGE_SIZE, MockSfmcServer

    out = scratch_dir("q340") + "/flat"
    with MockSfmcServer(n_items=35) as server:
        items = read_lead_activity(
            spark,
            base_url=server.base_url,
            auth_url=server.auth_url,
            client_id="demo",
            client_secret="demo",
            page_size=PAGE_SIZE,
        )
        flat = flatten_lead_activity(items).dropDuplicates(["hash"]).select(
            "lead_id", "url", "session_id",
            F.col("order").alias("order_key"),
            F.col("date").alias("event_date"),
            "type_id", "event_category", "event_name",
        )
        flat.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "q341_rest_stream_parity",
    oracle="""
    WITH nums AS (
      SELECT unnest(range(0, 30)) AS slot  -- pages 1-3 only: the
        -- still-filling page 4 (items 30-34) is deferred by the
        -- complete-pages offset protocol
    ), src AS (
      SELECT slot, CASE WHEN slot = 10 THEN 0 ELSE slot END AS i FROM nums
    )
    SELECT 'L-' || lpad(cast(i as varchar), 5, '0') AS lead_id,
           CASE WHEN i % 13 = 0 THEN repeat('x', 300) || '?trailing'
                ELSE 'page_view_' || i || '?utm_source=mail&x=y' END
             AS event_name,
           cast(slot // 10 + 1 as int) AS page
    FROM src
    """,
    tags=("etl", "source", "streaming", "parity"),
)
def q341_rest_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q148: the STREAMING REST source
    end-to-end (availableNow micro-batches, complete-pages offset
    protocol, foreachBatch parquet sink) value-hashed against an
    oracle that regenerates the servable corpus formulaically. The
    protocol's exactly-once claim becomes hashed evidence: exactly 30
    rows (pages 1-3), the still-filling page 4 never fetched, the
    cross-page duplicate at slot 10 present ONCE AS A ROW (page-level
    exactly-once, not content dedup — that's the batch path's
    anti-join, q340), raw uncleaned event_name proving the stream
    carries source fidelity."""
    from ..sources.mock_sfmc import PAGE_SIZE, MockSfmcServer
    from ..sources.rest import register_rest_source, slot_options

    register_rest_source(spark)
    base = scratch_dir("q341")
    out_dir, ck = f"{base}/rows", f"{base}/ck"

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    with MockSfmcServer(n_items=35) as server:
        q = (
            spark.readStream.format("rest_pages")
            .options(
                base_url=server.base_url,
                auth_url=server.auth_url,
                client_id="demo",
                client_secret="demo",
                page_size=PAGE_SIZE,
                **slot_options(spark),
            )
            .load()
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "keys.lead_id",
        F.col("values.event_name").alias("event_name"),
        F.col("page").cast("int").alias("page"),
    )


@query(
    "q98_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("etl", "source"),
)
def q98_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC file source/sink: write orders to ORC, read it back, and
    aggregate — the oracle computes the identical aggregate straight
    from parquet, so any round-trip drift (type mapping, date/decimal
    encoding) breaks the hash match. ORC is Spark-native columnar with
    predicate pushdown, the common interchange with Hive warehouses."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    base, _ = query_state("q98_orc_roundtrip", sf_dir, lambda d: o.write.mode("overwrite").orc(d))
    back = spark.read.orc(base)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice", 18, 2)).cast("double").alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "q106_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
      FROM events WHERE event_id < 5000
      UNION ALL
      SELECT event_id, event_type, value
      FROM events WHERE event_id >= 5000
    )
    SELECT event_type,
           count(*) AS n,
           cast(count(value) as bigint) AS n_with_value,
           cast(sum(cast(coalesce(value, 0.0) as decimal(14,2))) as double) AS total_value
    FROM unioned GROUP BY event_type
    """,
    tags=("etl", "source"),
)
def q106_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a file-backed table: an old batch written
    without the ``value`` column and a new batch with it, read back as
    ONE table via mergeSchema — old rows surface NULL for the added
    column (the additive-evolution contract every long-lived 100 TB
    dataset relies on). The oracle builds the same union explicitly,
    so a wrong merge (dropped column, misaligned rows) breaks the
    hash."""
    e = table(spark, sf_dir, "events")
    old = e.filter(F.col("event_id") < 5000).select("event_id", "event_type")
    new = e.filter(F.col("event_id") >= 5000).select("event_id", "event_type", "value")

    def build(d: str) -> None:
        old.write.parquet(f"{d}/old")
        new.write.parquet(f"{d}/new")

    base, _ = query_state("q106_schema_evolution", sf_dir, build)
    merged = spark.read.option("mergeSchema", True).parquet(f"{base}/old", f"{base}/new")
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n_with_value"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(14,2)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q113_training_export",
    oracle="""
    WITH sharded AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::BIGINT % 8 AS shard
      FROM documents
    )
    SELECT shard,
           cast(count(*) as bigint) AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           cast(sum(n_chars) as bigint) AS total_chars
    FROM sharded GROUP BY shard
    """,
    tags=("etl", "sink", "llm-pipeline"),
)
def q113_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export layout: the corpus written as N hash shards
    (stable membership: md5 fold of doc_id, so a re-export lands every
    doc in the same shard), each shard sorted by doc_id and split into
    size-bounded files (maxRecordsPerFile) — the layout a trainer
    streams sequentially without a sort or shuffle at read time. The
    returned manifest aggregates the RE-READ export, so the oracle
    (same shard math straight from the source table) catches any
    write/read drift, dropped rows, or shard misassignment.

    Scale shape: one repartition(shard) shuffle, in-partition sort
    (no global ordering), bounded file sizes for object-store-friendly
    parallel reads. At 100 TB this is exactly `repartition(4096,
    shard)` + the same write."""
    shard = F.pmod(
        F.expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"),
        F.lit(8),
    )
    base, _ = query_state(
        "q113_training_export",
        sf_dir,
        lambda d: (
            table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .withColumn("shard", shard)
            .repartition(8, "shard")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 5000)
            .partitionBy("shard")
            .parquet(d)
        ),
    )
    back = spark.read.parquet(base)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "q114_global_row_ids",
    oracle="""
    SELECT doc_id, source,
           row_number() OVER (ORDER BY source, doc_id) - 1 AS row_id
    FROM documents
    """,
    tags=("etl", "llm-pipeline"),
)
def q114_global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based global row ids in (source, doc_id) order —
    the scale-safe replacement for zipWithIndex / a single global
    row_number window (which funnels the corpus through ONE partition).

    Two-pass pattern: (1) count rows per source — a tiny aggregate;
    (2) turn counts into cumulative start offsets with a broadcast
    self-join of the counts frame (n_sources² rows — driver-sized by
    definition, and unlike a running-sum window it plans NO
    single-partition exchange, so the whole query is provably free of
    them); (3) broadcast the offsets back and add the within-source
    row_number. The only corpus-sized shuffle is the per-source window
    — same key as q107's packing, embarrassingly parallel across
    sources."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.lit(True))
        .groupBy(F.col("x.source").alias("source"))
        .agg(
            F.sum(
                F.when(F.col("y.source") < F.col("x.source"), F.col("y.n")).otherwise(0)
            ).alias("offset")
        )
    )
    w_src = W.partitionBy("source").orderBy("doc_id")
    return (
        d.join(F.broadcast(offsets), "source")
        .select(
            "doc_id",
            "source",
            (F.col("offset") + F.row_number().over(w_src) - 1).alias("row_id"),
        )
    )


@query(
    "q140_binaryfile_ingest",
    oracle="""
    SELECT doc_id,
           cast(octet_length(encode(text)) as bigint) AS n_bytes,
           md5(text) AS digest
    FROM documents WHERE doc_id < 40
    """,
    tags=("etl", "source", "multimodal"),
)
def q140_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingestion through Spark's ``binaryFile`` source — the
    entry point of every multimodal pipeline (images/audio land as
    files, not rows). Fixture docs are materialized once per process
    as one file per document (``io.query_state``); the
    query then does what a 100 TB media ingest does: scan the
    directory as (path, length, content) rows, parse the record key
    out of the path, fingerprint the payload. The oracle recomputes
    byte length + md5 from the same text — so the file write, the
    binary read, and the digest all round-trip exactly. At scale the
    directory listing parallelizes across executors and ``content``
    stays columnar binary; everything downstream is q54/q73's
    payload-column machinery."""

    def write_files(d: str) -> None:
        # sandbox-fixture shim: materialize 40 small files (a real
        # deployment ingests files that already exist). Driver-side by
        # construction — the fixture is 40 rows.
        rows = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(d, f"{r.doc_id}.txt"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    src_dir, _ = query_state("q140_binaryfile_ingest", sf_dir, write_files)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(src_dir)
    )
    return bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


@query(
    "q120_compaction",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(event_id as bigint)) as bigint) AS id_sum,
           cast(sum(cast(coalesce(value, 0.0) as decimal(14,2))) as double)
             AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("etl", "layout"),
)
def q120_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the object-store hygiene job every
    long-lived 100 TB table needs. A deliberately fragmented copy of
    events (64 tiny files, the streaming-sink pathology) is rewritten
    to size-targeted files: output file count = ceil(bytes / target),
    applied with coalesce() — a NARROW merge of input splits, no
    shuffle, because compaction must not pay a full exchange just to
    glue files together. The oracle aggregates the original table, so
    any row lost or duplicated by the rewrite breaks the hash; the
    file-count contract (fewer, bounded files) is pinned in
    tests/test_operators.py."""
    from ..sinks.upsert import compact_parquet

    def build(d: str) -> None:
        table(spark, sf_dir, "events").repartition(64).write.parquet(f"{d}/frag")
        compact_parquet(spark, f"{d}/frag", f"{d}/compact")

    base, _ = query_state("q120_compaction", sf_dir, build)
    back = spark.read.parquet(f"{base}/compact")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("event_id").cast("long")).alias("id_sum"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(14,2)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q122_snapshot_cdc_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 != 3
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 != 7
    ), diff AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN o.o_totalprice != n.o_totalprice THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             coalesce(n.o_totalprice, o.o_totalprice) AS price
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(price as decimal(18,2))) as double) AS total_price
    FROM diff GROUP BY change_type
    """,
    tags=("etl", "cdc"),
)
def q122_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff change-data-capture: given yesterday's and today's
    full snapshots of a keyed table, classify every key as
    insert/delete/update/unchanged — the batch-CDC primitive for
    sources with no changelog (the reference's incremental watermark
    R16 only catches appends; this catches mutation and deletion too).

    One full outer join on the key — co-partitioned, single shuffle
    per side — then a partial-aggregated classification count. At
    100 TB both snapshots would be bucketed on the key, making the
    diff exchange-free (the q70 layout). The simulated old/new
    snapshots derive from deterministic key arithmetic so the oracle
    reproduces them exactly."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = o.filter(F.col("o_orderkey") % 10 != 3)
    new = o.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    diff = j.select(
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(F.col("o.o_totalprice") != F.col("n.o_totalprice"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce(F.col("n.o_totalprice"), F.col("o.o_totalprice")).alias("price"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("price", 18, 2)).cast("double").alias("total_price"),
    )


@query(
    "q124_scd1_merge",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_mktsegment, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ), merged AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
      FROM customer c WHERE c.c_custkey % 7 != 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal FROM upd
    )
    SELECT c_mktsegment,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(c_acctbal as decimal(18,2))) as double) AS total_acctbal
    FROM merged GROUP BY c_mktsegment
    """,
    tags=("etl", "sink"),
)
def q124_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-1 merge (sinks/upsert.py::scd1_merge): an update batch
    replaces same-key target rows, last-write-wins — the MERGE ... WHEN
    MATCHED THEN UPDATE counterpart to q40's insert-ignore and q87's
    versioned SCD2. One key-partitioned anti-join + union; the oracle
    rebuilds the merged table arithmetically and aggregates it."""
    from ..sinks.upsert import scd1_merge

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") + 100.0).alias("c_acctbal")
    )
    merged = scd1_merge(cust, updates, "c_custkey")
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("c_acctbal", 18, 2)).cast("double").alias("total_acctbal"),
    )


@query(
    "q125_quarantine_routing",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 83 = 0 THEN NULL ELSE user_id END AS user_id,
             CASE WHEN event_id % 89 = 0 THEN -1.0 ELSE value END AS value,
             CASE WHEN event_id % 97 = 0 THEN '{bad' ELSE props END AS props
      FROM events
    ), routed AS (
      SELECT *,
             CASE WHEN user_id IS NULL THEN 'missing_user'
                  WHEN value < 0 THEN 'negative_value'
                  WHEN (CASE WHEN json_valid(props)
                             THEN json_extract_string(props, '$.k')
                             ELSE NULL END) IS NULL THEN 'bad_props'
                  ELSE 'ok' END AS reason
      FROM raw
    )
    SELECT reason,
           cast(count(*) as bigint) AS n,
           cast(min(event_id) as bigint) AS first_event,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value
    FROM routed GROUP BY reason
    """,
    tags=("etl", "quality"),
)
def q125_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: every record passes a validation battery
    (key present, measure in range, payload parses) and lands in 'ok'
    or a quarantine bucket tagged with the FIRST failing rule — the
    production alternative to the reference's silent null-on-parse
    (R9, salesforce_extractor.py:149-151): nothing is dropped, bad
    rows stay queryable with their failure reason.

    Corruption is planted deterministically (key-mod arithmetic) so
    the oracle reproduces the same dirty input. One pass, pure
    conditional expressions, partial-aggregated counts — the routing
    adds zero shuffles beyond the final rollup."""
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "value", "props")
    raw = e.select(
        "event_id",
        F.when(F.col("event_id") % 83 == 0, F.lit(None)).otherwise(F.col("user_id")).alias("user_id"),
        F.when(F.col("event_id") % 89 == 0, F.lit(-1.0)).otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_id") % 97 == 0, F.lit("{bad")).otherwise(F.col("props")).alias("props"),
    )
    routed = raw.withColumn(
        "reason",
        F.when(F.col("user_id").isNull(), "missing_user")
        .when(F.col("value") < 0, "negative_value")
        .when(F.get_json_object("props", "$.k").isNull(), "bad_props")
        .otherwise("ok"),
    )
    return routed.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_event"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )


@query(
    "q156_xml_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price,
           min(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS first_order
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("etl", "source"),
)
def q156_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML file source/sink (Spark 4 built-in, formerly spark-xml):
    write orders as row-tagged XML, read it back with an EXPLICIT
    schema, and aggregate — the oracle computes the same aggregate from
    parquet, so any round-trip drift (escaping, type re-inference,
    timestamp formatting) breaks the hash. Timestamps cross the text
    format as pinned strings (XML has no timestamp type); the explicit
    read schema is the production posture — inference is a full extra
    pass at scale. XML is the interchange the reference's SFMC world
    (SOAP-era Salesforce APIs) still speaks."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
    )
    base, _ = query_state(
        "q156_xml_roundtrip",
        sf_dir,
        lambda d: o.write.format("xml").option("rowTag", "order").mode("overwrite").save(d),
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey bigint, o_orderpriority string, "
            "o_totalprice double, o_orderdate_s string"
        )
        .load(base)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice", 18, 2)).cast("double").alias("total_price"),
        F.min("o_orderdate_s").alias("first_order"),
    )


_Z16 = """
cast(
  (CASE WHEN (zx & 1)  > 0 THEN 1        ELSE 0 END) |
  (CASE WHEN (zx & 2)  > 0 THEN 4        ELSE 0 END) |
  (CASE WHEN (zx & 4)  > 0 THEN 16       ELSE 0 END) |
  (CASE WHEN (zx & 8)  > 0 THEN 64       ELSE 0 END) |
  (CASE WHEN (zx & 16) > 0 THEN 256      ELSE 0 END) |
  (CASE WHEN (zx & 32) > 0 THEN 1024     ELSE 0 END) |
  (CASE WHEN (zx & 64) > 0 THEN 4096     ELSE 0 END) |
  (CASE WHEN (zx & 128) > 0 THEN 16384   ELSE 0 END) |
  (CASE WHEN (zy & 1)  > 0 THEN 2        ELSE 0 END) |
  (CASE WHEN (zy & 2)  > 0 THEN 8        ELSE 0 END) |
  (CASE WHEN (zy & 4)  > 0 THEN 32       ELSE 0 END) |
  (CASE WHEN (zy & 8)  > 0 THEN 128      ELSE 0 END) |
  (CASE WHEN (zy & 16) > 0 THEN 512      ELSE 0 END) |
  (CASE WHEN (zy & 32) > 0 THEN 2048     ELSE 0 END) |
  (CASE WHEN (zy & 64) > 0 THEN 8192     ELSE 0 END) |
  (CASE WHEN (zy & 128) > 0 THEN 32768   ELSE 0 END)
as bigint)"""


@query(
    "q167_zorder_skipping",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             cast(o_custkey % 256 as int) AS zx,
             cast(date_diff('day', DATE '1995-01-01',
                            cast(o_orderdate as date)) % 256 as int) AS zy
      FROM orders
    ), keyed AS (
      SELECT o_orderkey, zx, zy, {_Z16} AS zval FROM base
    ), laid AS (
      SELECT zx, zy,
             ntile(64) OVER (ORDER BY zval, o_orderkey) AS zfile,
             ntile(64) OVER (ORDER BY zx, o_orderkey)   AS lfile
      FROM keyed
    ), zstats AS (
      SELECT 'zorder' AS layout, zfile AS file_id,
             min(zx) AS min_x, max(zx) AS max_x,
             min(zy) AS min_y, max(zy) AS max_y
      FROM laid GROUP BY zfile
      UNION ALL
      SELECT 'linear', lfile, min(zx), max(zx), min(zy), max(zy)
      FROM laid GROUP BY lfile
    )
    SELECT layout,
           cast(count(*) as bigint) AS n_files,
           cast(sum(CASE WHEN max_x >= 64 AND min_x <= 95
                          AND max_y >= 128 AND min_y <= 159
                     THEN 1 ELSE 0 END) as bigint) AS files_overlapping_box
    FROM zstats GROUP BY layout
    """,
    tags=("etl", "layout", "scale"),
)
def q167_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-curve) layout for multi-column data skipping —
    the clustering strategy behind Delta OPTIMIZE ZORDER BY: interleave
    the bits of two filter columns (customer bucket × order-day bucket,
    8 bits each) into one sort key, range-split into 64 'files', and
    compare per-file min/max bounding boxes against a plain
    single-column sort for a 2-D box predicate. The z-curve keeps BOTH
    dimensions locally bounded per file, so far fewer files overlap the
    box — the oracle reproduces the identical integer bit-math, ntile
    file assignment (deterministic tiebreak on o_orderkey), and
    overlap count, making the skipping advantage itself the verified
    result. At 100 TB this ntile is `repartitionByRange(zval)` +
    per-file parquet min/max stats; the plan here is the same two-pass
    shape (distributed sort by interleaved key, then per-file stats)."""
    from ..operators.ranking import distributed_ntile, pin_cache

    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("int").alias("zx"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            % 256
        ).cast("int").alias("zy"),
    )
    # pinned: keyed feeds BOTH layout branches, and each branch's
    # range exchange runs a sampling pass before its shuffle — four
    # executions of the scan + bit-interleave expression without the cut
    keyed = pin_cache(base.withColumn("zval", F.expr(_Z16)))
    # independent branches, NOT a chained ntile: chaining made the union
    # below re-run BOTH range exchanges in each branch (laid had two
    # consumers), and the second sort pointlessly re-shuffled the first
    # label column. Branched, each layout's ntile runs exactly once.
    zlaid = distributed_ntile(keyed, 64, ["zval", "o_orderkey"], "zfile").select(
        "zx", "zy", "zfile"
    )
    llaid = distributed_ntile(keyed, 64, ["zx", "o_orderkey"], "lfile").select(
        "zx", "zy", "lfile"
    )
    zstats = (
        zlaid.groupBy(F.lit("zorder").alias("layout"), F.col("zfile").alias("file_id"))
        .agg(
            F.min("zx").alias("min_x"), F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"), F.max("zy").alias("max_y"),
        )
        .unionByName(
            llaid.groupBy(F.lit("linear").alias("layout"), F.col("lfile").alias("file_id")).agg(
                F.min("zx").alias("min_x"), F.max("zx").alias("max_x"),
                F.min("zy").alias("min_y"), F.max("zy").alias("max_y"),
            )
        )
    )
    overlap = (
        (F.col("max_x") >= 64) & (F.col("min_x") <= 95)
        & (F.col("max_y") >= 128) & (F.col("min_y") <= 159)
    )
    return zstats.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(overlap, 1).otherwise(0)).alias("files_overlapping_box"),
    )


@query(
    "q168_pydatasource_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value,
           true AS manifest_matches
    FROM events GROUP BY event_type
    """,
    tags=("etl", "sink"),
)
def q168_pydatasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (sinks/pydatasource.py): events
    stream from every task into a staged JSON-lines sink, a two-phase
    commit renames parts + writes a _SUCCESS manifest, and the query
    READS THE SINK BACK and aggregates — so the oracle (the same
    aggregate straight from parquet) verifies the full write→commit→
    read loop, and the ``manifest_matches`` boolean pins the manifest's
    committed row count against the re-read. Completes the DataSource
    surface: batch reader (q83) + stream reader (q148) + this writer."""
    from ..sinks.pydatasource import JsonLinesSinkDataSource, read_manifest

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass  # already registered in this session
    base = scratch_dir("q168")
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.format("mcetl_jsonl_sink").option("path", base).mode("overwrite").save()
    manifest = read_manifest(base)
    back = spark.read.schema("event_id bigint, event_type string, value double").json(
        [os.path.join(base, f) for f in manifest["files"]]
    )
    agg = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )
    total = agg.agg(F.sum("n").alias("__t")).collect()[0]["__t"]
    return agg.withColumn("manifest_matches", F.lit(manifest["n_rows"] == total))


@query(
    "q343_pydatasource_stream_sink",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(value as decimal(14,2))) as double) AS total_value,
           true AS manifest_matches
    FROM events GROUP BY event_type
    """,
    tags=("etl", "sink", "streaming"),
)
def q343_pydatasource_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource STREAM WRITER — the last cell of the
    DataSource matrix (batch reader q83 / stream reader q148 / batch
    writer q168 / this): events replay as a file stream and land in
    the JSON-lines sink through the per-micro-batch two-phase commit
    (``sinks/pydatasource.py::_JsonLinesStreamWriter`` — batchId is
    the idempotence key, ``_SUCCESS.<batchId>`` manifests gate
    visibility). The query reads the MANIFESTED files back and
    aggregates; the oracle computes the identical aggregate straight
    from parquet, so a dropped batch, duplicated re-run, or
    half-visible commit breaks the hash, and ``manifest_matches`` pins
    the summed per-batch manifest counts against the re-read. The
    reference's closest analogue is its per-2500-row INSERT loop
    (salesforce_extractor.py:197-230) — here each epoch is one
    distributed transactional append."""
    from ..sinks.pydatasource import JsonLinesSinkDataSource, read_stream_manifests
    from ..streaming.jobs import events_stream

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass  # already registered in this session
    # Per-invocation dir (not fixture-keyed): a driver verification run
    # and a concurrent pytest run on the same fixture must not rmtree
    # each other's in-flight sink/checkpoint dirs.
    base = scratch_dir("q343") + "/sink"
    src = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = (
        src.writeStream.format("mcetl_jsonl_sink")
        .option("path", base)
        .option("checkpointLocation", f"{base}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    manifest = read_stream_manifests(base)
    back = spark.read.schema("event_id bigint, event_type string, value double").json(
        [os.path.join(base, f) for f in manifest["files"]]
    )
    agg = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value", 14, 2)).cast("double").alias("total_value"),
    )
    total = agg.agg(F.sum("n").alias("__t")).collect()[0]["__t"]
    return agg.withColumn("manifest_matches", F.lit(manifest["n_rows"] == total))


@query(
    "q179_csv_corrupt_records",
    oracle="""
    WITH src AS (SELECT event_id, value FROM events WHERE event_id < 2000)
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(sum(CASE WHEN event_id % 50 = 0 THEN 1 ELSE 0 END) as bigint)
             AS n_corrupt,
           cast(sum(CASE WHEN event_id % 50 <> 0 THEN 1 ELSE 0 END) as bigint)
             AS n_valid,
           cast(sum(CASE WHEN event_id % 50 <> 0
                         THEN cast(round(value * 100) as bigint) ELSE 0 END) as bigint)
             AS valid_cents
    FROM src
    """,
    tags=("etl", "source", "quality"),
)
def q179_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV malformed-record handling (PERMISSIVE +
    ``columnNameOfCorruptRecord``) — the ingest posture for dirty
    feeds: a fixture CSV is planted with a malformed numeric on every
    50th event, the read captures each bad line in the corrupt-record
    column INSTEAD of failing the job (FAILFAST) or silently dropping
    rows (DROPMALFORMED), and the aggregate proves nothing was lost:
    corrupt + valid = total, and the valid-side cents match the
    oracle's reconstruction of the same planted rule. The quarantine
    router (q125) is the downstream consumer of exactly this column."""
    src = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "value")
    )

    def write_fixture(d: str) -> None:
        # plant the corruption while WRITING the text lines (driver-side
        # — this builds a small source fixture, the same role as the
        # mock REST server)
        rows = src.collect()
        with open(os.path.join(d, "part-0.csv"), "w") as f:
            for r in rows:
                if r.event_id % 50 == 0:
                    f.write(f"{r.event_id},notanumber\n")
                else:
                    f.write(f"{r.event_id},{r.value!r}\n")

    base, _ = query_state("q179_csv_corrupt_records", sf_dir, write_fixture)
    back = (
        spark.read.schema("event_id bigint, value double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(base, "part-0.csv"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).alias("n_valid"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        ).alias("valid_cents"),
    )


@query(
    "q180_file_provenance",
    oracle="""
    SELECT cast(extract(year from o_orderdate) as int) AS order_year,
           cast(count(*) as bigint) AS n_rows,
           true AS has_files, true AS paths_consistent
    FROM orders GROUP BY order_year
    """,
    tags=("etl", "scan", "lineage"),
)
def q180_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file-provenance columns — per-row lineage
    back to the physical file, free at scan time (no extra column in
    the data). Over the hive-partitioned orders layout (q176's),
    the query proves partition-layout integrity file by file: every
    file's rows carry exactly the partition value its directory
    encodes (``paths_consistent``), and per-partition row counts equal
    the logical group-by — which is what the oracle checks. At 100 TB
    this is the debugging primitive for bad-file isolation (find the
    one corrupt file among 10⁵ by provenance, reprocess only it)."""
    fact = spark.read.parquet(orders_by_year_dir(spark, sf_dir))
    return (
        fact.select("order_year", F.col("_metadata.file_path").alias("fp"))
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("fp").alias("n_files"),
            F.min(
                F.col("fp").contains(
                    F.concat(F.lit("order_year="), F.col("order_year").cast("string"))
                )
            ).alias("paths_consistent"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_rows",
            (F.col("n_files") >= 1).alias("has_files"),
            "paths_consistent",
        )
    )


@query(
    "q186_incremental_agg_merge",
    oracle="""
    SELECT user_id, cast(count(*) as bigint) AS n_events,
           cast(sum(cast(round(value*100) as bigint)) as bigint) AS total_cents,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events GROUP BY user_id
    """,
    tags=("etl", "agg", "incremental"),
)
def q186_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the summary-table pattern:
    yesterday's stored per-user partials (count / exact-cents sum /
    max-ts) merge with the new day's partials by ALGEBRAIC merge
    (sum+sum, max+max) instead of rescanning history. Here the fixture
    is split at a date cutoff into "stored" and "arriving" halves,
    each aggregated independently, then merged; the oracle computes
    the same totals from the full table in one pass — equality proves
    the merge is lossless. At 100 TB this is the difference between
    scanning one day and scanning three years; every aggregate in the
    merged schema must stay algebraic (no raw AVG — keep (sum, n))."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.max("ts").alias("last_ts"),
        )

    stored = partials(ev.filter(F.col("ts") < cutoff))
    arriving = partials(ev.filter(F.col("ts") >= cutoff))
    return (
        stored.unionByName(arriving)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("total_cents"),
            F.date_format(F.max("last_ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        )
    )


@query(
    "q195_sorted_layout",
    oracle="""
    SELECT (SELECT count(*) FROM orders) AS total_rows,
           true AS multi_file, true AS files_disjoint
    """,
    tags=("etl", "layout", "scale"),
)
def q195_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR sort-ordered table layout with verified data-skipping
    structure — the 1-D complement of q167's Z-order: orders written
    via ``repartitionByRange(o_orderdate) + sortWithinPartitions``, so
    each output file owns a DISJOINT date range and any date-predicate
    scan can skip every non-overlapping file on parquet footer min/max
    alone. The disjointness is not assumed — the query reads the
    layout back, derives per-file (min, max) from ``_metadata`` +
    aggregation, counts overlapping file pairs declaratively (a
    file-count-sized self-join, no driver loop), and emits it as a
    checked boolean beside exact row conservation. At 100 TB this
    layout decision (which column to range-sort on) is the single
    biggest scan-cost lever after partitioning."""
    o = table(spark, sf_dir, "orders")
    # range-partition on the sort column ALONE: the range partitioner
    # sends equal keys to one partition, so no date can straddle two
    # files (adding a tiebreak key to the range would let a boundary
    # date appear in two adjacent files and break disjointness); the
    # tiebreak still orders rows WITHIN each file for determinism.
    # One dominant date → one fat partition is the accepted skew
    # tradeoff of any value-disjoint layout.
    base, _ = query_state(
        "q195_sorted_layout",
        sf_dir,
        lambda d: o.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate", "o_orderkey")
        .write.mode("overwrite")
        .parquet(d),
    )
    rb = spark.read.parquet(base)
    fstats = rb.groupBy(F.col("_metadata.file_name").alias("fname")).agg(
        F.min("o_orderdate").alias("lo"),
        F.max("o_orderdate").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b = fstats.alias("a"), fstats.alias("b")
    n_overlap = (
        a.join(
            F.broadcast(b),
            (F.col("a.fname") < F.col("b.fname"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        fstats.agg(
            F.sum("n").alias("total_rows"),
            F.count(F.lit(1)).alias("n_files"),
        )
        .crossJoin(F.broadcast(n_overlap))
        .select(
            "total_rows",
            (F.col("n_files") >= 2).alias("multi_file"),
            (F.col("n_overlap") == 0).alias("files_disjoint"),
        )
    )


@query(
    "q197_text_source_logparse",
    oracle="""
    SELECT o_orderpriority AS priority,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) AS total_cents,
           true AS keys_parsed
    FROM orders GROUP BY priority
    """,
    tags=("etl", "source", "text"),
)
def q197_text_source_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured ``text`` source + regex field extraction — the raw
    log-file ingestion path (one line = one row, schema recovered by
    ``regexp_extract``, exact integer cents). A deterministic log
    fixture is rendered once from orders; the parse must recover every
    key and amount exactly — the oracle recomputes the aggregate from
    the structured source, and ``keys_parsed`` pins that no line
    failed extraction (null key). The 100 TB shape: text scan is
    splittable by line, the regexes run inside codegen, and the
    aggregate is the only shuffle."""
    o = table(spark, sf_dir, "orders")

    def write_logs(d: str) -> None:
        import math

        rows = o.select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
        with open(os.path.join(d, "part-0.log"), "w") as f:
            for r in rows:
                # half-AWAY-from-zero cents (prices non-negative), the
                # DuckDB/Spark round() convention — python round() is
                # half-to-even and would drift on exact half cents
                cents = math.floor(r.o_totalprice * 100 + 0.5)
                f.write(
                    f"[{r.o_orderpriority}] order={r.o_orderkey} "
                    f"amount_cents={cents}\n"
                )

    base, _ = query_state("q197_text_source_logparse", sf_dir, write_logs)
    lines = spark.read.text(os.path.join(base, "part-0.log"))
    parsed = lines.select(
        F.regexp_extract("value", r"^\[([^\]]+)\]", 1).alias("priority"),
        F.nullif(F.regexp_extract("value", r"order=(\d+)", 1), F.lit(""))
        .cast("bigint")
        .alias("okey"),
        F.regexp_extract("value", r"amount_cents=(-?\d+)", 1).cast("bigint").alias("cents"),
    )
    return parsed.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.min(F.col("okey").isNotNull()).alias("keys_parsed"),
    )


def _overwrite_days(df: DataFrame, base: str) -> None:
    """Write ``df`` day-partitioned under ``base``, replacing only the
    day partitions ``df`` holds (the writer's dynamic overwrite mode;
    the session's partitionOverwriteMode is left as it is)."""
    (
        df.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(base)
    )


@query(
    "q198_dynamic_partition_overwrite",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           cast(count(*) as bigint) AS n,
           cast(sum(CASE WHEN date_trunc('day', ts) = timestamp '2024-01-10'
                    THEN cast(round(value*2*100) as bigint)
                    ELSE cast(round(value*100) as bigint) END) as bigint) AS cents
    FROM events GROUP BY day
    """,
    tags=("etl", "sink", "partitioned"),
)
def q198_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the warehouse backfill primitive:
    rewriting one bad day must replace ONLY the partitions present in
    the incoming frame, never truncate the table (static overwrite
    semantics would). The fixture lands events day-partitioned, then a
    corrected 2024-01-10 (values doubled) is overwritten dynamically;
    the read-back per-day aggregate must show exactly one day changed
    and every other day byte-identical — which is what the oracle
    encodes. At 100 TB this is how daily reprocessing avoids rewriting
    three years of history. The mode is a writer option, so the session
    conf is untouched; the overwrite itself is atomic per partition
    directory."""
    base = scratch_dir("q198")
    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    _overwrite_days(ev, base)
    patch = ev.filter(F.col("day") == "2024-01-10").withColumn(
        "value", F.col("value") * 2
    )
    _overwrite_days(patch, base)
    back = spark.read.parquet(base)
    return (
        back.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "n", "cents")
    )


@query(
    "q203_targeted_delete",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows_after,
           true AS target_erased,
           cast(sum(cast(round(value*100) as bigint)) as bigint) AS cents_after,
           true AS partial_rewrite
    FROM events WHERE user_id != 7
    """,
    tags=("etl", "sink", "compliance"),
)
def q203_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED subject deletion (the right-to-be-forgotten rewrite):
    erase one user from a day-partitioned table by rewriting ONLY the
    partitions that contain them — locate hit days, rebuild those
    days from the source minus the subject, land them with dynamic
    partition overwrite (q198's primitive), leave every other
    partition's files untouched. The read-back must show the subject
    gone, every other row's cents conserved, and ``partial_rewrite``
    pins that the rewrite really did touch a strict subset of
    partitions (a full-table rewrite would pass the other checks).
    At 100 TB this is the difference between rewriting a handful of
    day directories and the whole table. The patch is built from the
    SOURCE frame — never read-modify-write of the path being
    overwritten — and the hit-day set moves as a broadcast join."""
    TARGET = 7
    base = scratch_dir("q203")
    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    _overwrite_days(ev, base)
    hit_days = ev.filter(F.col("user_id") == TARGET).select("day").distinct()
    n_hit = hit_days.count()
    n_days_total = ev.select("day").distinct().count()
    rewrite = ev.join(F.broadcast(hit_days), "day").filter(
        F.col("user_id") != TARGET
    )
    _overwrite_days(rewrite, base)
    after = spark.read.parquet(base)
    return after.agg(
        F.count(F.lit(1)).alias("n_rows_after"),
        F.sum(F.when(F.col("user_id") == TARGET, 1).otherwise(0)).alias("n_left"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents_after"),
    ).select(
        "n_rows_after",
        (F.col("n_left") == 0).alias("target_erased"),
        "cents_after",
        F.lit(n_hit < n_days_total).alias("partial_rewrite"),
    )


@query(
    "q212_scd2_asof_lookup",
    oracle="""
    WITH scd AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             event_type AS state
      FROM events WHERE event_type IN ('signup', 'purchase')
    )
    SELECT user_id, strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS since, state
    FROM scd
    WHERE valid_from <= timestamp '2024-01-15 00:00:00'
      AND (valid_to IS NULL OR valid_to > timestamp '2024-01-15 00:00:00')
    """,
    tags=("etl", "scd", "temporal"),
)
def q212_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (AS OF) lookup over the SCD2 dimension q87 builds:
    reconstruct every entity's state as it was at an arbitrary past
    instant by half-open [valid_from, valid_to) interval containment —
    the query that makes dimension history USEFUL (training-data
    time-travel, audit reconstruction, "what did the model see"). At
    most one version per entity matches by construction; the validity
    predicate is sargable, so a valid_from-sorted layout (q195) skips
    every file newer than the as-of instant."""
    from pyspark.sql.window import Window as W

    AS_OF = F.lit("2024-01-15 00:00:00").cast("timestamp")
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    scd = e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("event_type").alias("state"),
    )
    return scd.filter(
        (F.col("valid_from") <= AS_OF)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > AS_OF))
    ).select(
        "user_id",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("since"),
        "state",
    )


@query(
    "q214_dq_expectations",
    oracle="""
    SELECT 'orders_key_not_null' AS expectation,
           cast(count(*) FILTER (WHERE o_orderkey IS NULL) as bigint) AS n_violations,
           count(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'orders_key_unique',
           cast((SELECT count(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) as bigint),
           (SELECT count(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) = 0
    UNION ALL
    SELECT 'orders_status_accepted',
           cast(count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) as bigint),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) = 0
    FROM orders
    UNION ALL
    SELECT 'orders_price_non_negative',
           cast(count(*) FILTER (WHERE o_totalprice < 0) as bigint),
           count(*) FILTER (WHERE o_totalprice < 0) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_order_fk',
           cast((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) as bigint),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
    """,
    tags=("etl", "quality"),
)
def q214_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY expectations suite (the dbt-tests / Great-
    Expectations contract shape): one audited row per expectation —
    not-null key, key uniqueness, accepted status values, value
    bounds, and lineitem→orders referential integrity — each with its
    exact violation count, so a failure is immediately sized, not just
    flagged. Plan shape: the three row-level checks share ONE orders
    scan (conditional aggregates in a single pass), uniqueness is one
    self-groupBy, and the FK check is a broadcast-key anti-join —
    nothing scans a table more than the contract requires; at 100 TB
    the suite rides the scans the load job already pays for (q144's
    observe() is the zero-extra-pass variant for inline metrics)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def row(name, viol_col):
        return F.struct(F.lit(name).alias("expectation"), viol_col.alias("n_violations"))

    # three row-level expectations in ONE pass over orders
    scans = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("v_null"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("v_status"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("v_price"),
    )
    dup = o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") > 1
    ).agg(F.count(F.lit(1)).alias("v_dup"))
    orphan = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v_fk"))
    )
    wide = scans.crossJoin(F.broadcast(dup)).crossJoin(F.broadcast(orphan))
    report = wide.select(
        F.explode(
            F.array(
                row("orders_key_not_null", F.col("v_null").cast("bigint")),
                row("orders_key_unique", F.col("v_dup").cast("bigint")),
                row("orders_status_accepted", F.col("v_status").cast("bigint")),
                row("orders_price_non_negative", F.col("v_price").cast("bigint")),
                row("lineitem_order_fk", F.col("v_fk").cast("bigint")),
            )
        ).alias("e")
    )
    return report.select(
        F.col("e.expectation").alias("expectation"),
        F.col("e.n_violations").alias("n_violations"),
        (F.col("e.n_violations") == 0).alias("passed"),
    )


@query(
    "q215_temporal_enrich",
    oracle="""
    WITH scd AS (
      SELECT user_id AS d_user, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             event_type AS state
      FROM events WHERE event_type IN ('signup', 'purchase')
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT coalesce(s.state, 'none') AS state_at_click,
           cast(count(*) as bigint) AS n_clicks
    FROM clicks c LEFT JOIN scd s
      ON c.user_id = s.d_user AND c.ts >= s.valid_from
     AND (s.valid_to IS NULL OR c.ts < s.valid_to)
    GROUP BY state_at_click
    """,
    tags=("etl", "temporal", "join"),
)
def q215_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL enrichment — join every fact row to the dimension
    version that was valid AT ITS OWN event time (q212 answers one
    instant; this answers all of them at once): clicks left-join the
    SCD2 state table on user + half-open interval containment, clicks
    before any version get the explicit 'none' state (the LEFT join
    semantics a naive inner temporal join silently drops). The join is
    EQUI on user_id — the interval predicate only filters within a
    user's handful of versions, so there is no range-join blowup; at
    100 TB both sides shuffle once on the user key (or co-locate via
    bucketing, q70) and the per-key interval scan is O(versions)."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type").isin("signup", "purchase"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    scd = dim.select(
        F.col("user_id").alias("d_user"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.col("event_type").alias("state"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return (
        clicks.join(
            scd,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        )
        .groupBy(F.coalesce(F.col("state"), F.lit("none")).alias("state_at_click"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@query(
    "q223_event_debounce",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_type,
           cast(count(*) as bigint) AS n_kept,
           cast(sum(CASE WHEN prev_ts IS NOT NULL
                          AND epoch_us(ts) - epoch_us(prev_ts) < 60000000
                     THEN 1 ELSE 0 END) as bigint) AS n_bounced
    FROM lagged GROUP BY event_type
    """,
    tags=("etl", "dedup", "timeseries"),
)
def q223_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event DEBOUNCE — the double-fire filter for click/sensor feeds:
    an event is a bounce when the previous event of the same
    (user, type) landed under 60 seconds earlier (lag semantics:
    distance to the previous RAW event — the one-pass variant;
    chain-collapsing to the previous KEPT event is q161's iterative
    family). One window per (user, type) partition, total order, and
    the per-type keep/bounce counts are exact. At scale this is one
    key-partitioned window pass — the dedup cousin of q61's streaming
    watermark dedup, with time distance instead of key identity."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_ts", F.lag("ts").over(w))
    bounced = F.when(
        F.col("prev_ts").isNotNull()
        & ((F.unix_micros("ts") - F.unix_micros("prev_ts")) < 60_000_000),
        1,
    ).otherwise(0)
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(bounced).alias("n_bounced"),
    )


@query(
    "q225_rolling_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, cast(date_trunc('day', ts) as date) AS day,
             sum(cast(round(value*100) as bigint)) AS cents
      FROM events GROUP BY event_type, day
    ), roll AS (
      SELECT event_type, day, cents,
             count(*) OVER w AS sz,
             sum(cents) OVER w AS s1,
             sum(cents * cents) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cast(cents as bigint) AS cents,
           cast(sz as int) AS window_n,
           CASE WHEN sz >= 3 THEN
             (cents*sz - s1) * (cents*sz - s1) * (sz - 1) > 4 * sz * (sz*s2 - s1*s1)
           ELSE false END AS is_anomaly
    FROM roll
    """,
    tags=("etl", "timeseries", "quality"),
)
def q225_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window ANOMALY flags on daily revenue — the monitoring
    sentinel: each (type, day) is compared to its trailing-7-day mean
    ± 2 sample standard deviations. The test is evaluated in EXACT
    integer algebra — (x·n − Σx)²·(n−1) > 4·n·(n·Σx² − (Σx)²) is
    |x−μ| > 2σ cleared of divisions — so the boolean can never flip
    on a float last-ulp between engines (the failure mode a rounded
    stddev comparison invites). One bounded-frame window per type
    partition over day-cardinality rows; warm-up days (n < 3) are
    never flagged."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    wf = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    roll = daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        F.count(F.lit(1)).over(wf).alias("sz"),
        F.sum("cents").over(wf).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(wf).alias("s2"),
    )
    dev = F.col("cents") * F.col("sz") - F.col("s1")
    return roll.select(
        "event_type",
        "day",
        "cents",
        F.col("sz").cast("int").alias("window_n"),
        F.when(
            F.col("sz") >= 3,
            (dev * dev * (F.col("sz") - 1))
            > (4 * F.col("sz") * (F.col("sz") * F.col("s2") - F.col("s1") * F.col("s1"))),
        )
        .otherwise(False)
        .alias("is_anomaly"),
    )


@query(
    "q247_source_drift_monitor",
    oracle="""
    WITH ref AS (
      SELECT source, count(*) AS n_ref FROM documents GROUP BY source
    ), cur AS (
      SELECT source, count(*) AS n_cur FROM documents
      WHERE doc_id % 5 = 0 GROUP BY source
    ), tot AS (
      SELECT (SELECT sum(n_ref) FROM ref) AS t_ref,
             (SELECT sum(n_cur) FROM cur) AS t_cur
    ), terms AS (
      SELECT r.source,
             cast(coalesce(c.n_cur, 0) as bigint) AS n_cur,
             cast(r.n_ref as bigint) AS n_ref,
             (coalesce(c.n_cur, 0) / cast(t.t_cur as double)) AS p_cur,
             (r.n_ref / cast(t.t_ref as double)) AS p_ref
      FROM ref r LEFT JOIN cur c USING (source) CROSS JOIN tot t
    ), folded AS (
      SELECT
        list_reduce(list_sort(list(CASE WHEN p_cur > 0
                                        THEN p_cur * ln(p_cur / p_ref)
                                        ELSE 0.0 END)), (a, b) -> a + b) AS kl,
        list_reduce(list_sort(list((p_cur - p_ref) * ln(
              CASE WHEN p_cur > 0 THEN p_cur ELSE 1e-12 END / p_ref))),
            (a, b) -> a + b) AS psi
      FROM terms
    )
    SELECT (SELECT cast(count(*) as bigint) FROM terms) AS n_sources,
           round(kl, 9) AS kl_divergence,
           round(psi, 9) AS psi,
           psi < 0.25 AS stable
    FROM folded
    """,
    tags=("etl", "quality", "monitoring"),
)
def q247_source_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-MIX DRIFT monitor — the pipeline-health check that runs
    before every training-data refresh: KL divergence and PSI
    (population stability index, the industry drift score with its
    conventional 0.25 alarm line) between the incoming batch's source
    distribution (here the deterministic doc_id%5 slice) and the
    reference corpus distribution. Two count aggregations (one per
    distribution — the reference side would be a stored profile in
    production, q186's incremental-merge shape), a broadcast join of
    the ~|sources| rows, and the float log terms folded in sorted
    order (q217's float-order-proof protocol) so both engines sum
    identically."""
    d = table(spark, sf_dir, "documents")
    ref = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_ref"))
    cur = (
        d.filter(F.col("doc_id") % 5 == 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    j = ref.join(cur, "source", "left").na.fill({"n_cur": 0})
    tots = j.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    t = j.join(F.broadcast(tots), F.lit(True)).select(
        "source",
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        (F.col("n_cur") / F.col("t_cur").cast("double")).alias("p_cur"),
        (F.col("n_ref") / F.col("t_ref").cast("double")).alias("p_ref"),
    )
    kl_term = F.when(
        F.col("p_cur") > 0, F.col("p_cur") * F.log(F.col("p_cur") / F.col("p_ref"))
    ).otherwise(F.lit(0.0))
    psi_term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.when(F.col("p_cur") > 0, F.col("p_cur")).otherwise(F.lit(1e-12))
        / F.col("p_ref")
    )
    folded = t.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.aggregate(
            F.array_sort(F.collect_list(kl_term)),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("kl"),
        F.aggregate(
            F.array_sort(F.collect_list(psi_term)),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("psi"),
    )
    return folded.select(
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.round("kl", 9).alias("kl_divergence"),
        F.round("psi", 9).alias("psi"),
        (F.col("psi") < 0.25).alias("stable"),
    )


@query(
    "q251_binary_header_parse",
    oracle="""
    WITH built AS (
      SELECT vec_id,
             1280 + (vec_id % 8) * 80 AS width,
             720 + (vec_id % 8) * 45 AS height,
             24 + vec_id % 5 AS n_frames,
             (vec_id % 7 + 1) AS n_blocks,
             lower('4D434156'
               || lpad(hex(1280 + (vec_id % 8) * 80), 8, '0')
               || lpad(hex(720 + (vec_id % 8) * 45), 8, '0')
               || lpad(hex(24 + vec_id % 5), 8, '0')
               || repeat(md5(cast(vec_id as varchar)), vec_id % 7 + 1)) AS hx
      FROM embeddings
    )
    SELECT vec_id, 'MCAV' AS magic,
           cast(width as bigint) AS width,
           cast(height as bigint) AS height,
           cast(n_frames as bigint) AS n_frames,
           cast(16 + n_blocks * 16 as bigint) AS payload_bytes,
           md5(hx) AS payload_digest
    FROM built
    """,
    tags=("etl", "multimodal", "binary"),
)
def q251_binary_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY column construct→parse→digest round trip — the multimodal
    plumbing (q54/q73/q140) with a full VALUE oracle: a synthetic
    video-container payload (4-byte magic + 3 big-endian u32 header
    fields + a repeated 16-byte body block) is BUILT as a real
    BinaryType value (unhex), then the header is PARSED back out of
    the bytes (substring on binary + hex + conv — the typed-metadata
    extraction a real decoder front-end does before handing frames to
    mapInPandas), and the whole payload is digest-fingerprinted. The
    oracle reproduces every field and the digest from pure string
    arithmetic — it never needs a BLOB, which is the point: the Spark
    side's binary plumbing is what's under test. At scale this is the
    narrow per-row stage before q73's frame sampling; no shuffle."""
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    width = F.lit(1280) + (F.col("vec_id") % 8) * 80
    height = F.lit(720) + (F.col("vec_id") % 8) * 45
    n_frames = F.lit(24) + F.col("vec_id") % 5
    n_blocks = F.col("vec_id") % 7 + 1

    def be32(c):
        return F.lpad(F.hex(c), 8, "0")

    hx = F.concat(
        F.lit("4D434156"),
        be32(width),
        be32(height),
        be32(n_frames),
        F.repeat(F.md5(F.col("vec_id").cast("string")), n_blocks.cast("int")),
    )
    payload = F.unhex(hx)
    b = e.select("vec_id", payload.alias("payload"))
    # parse the header back OUT of the binary value
    return b.select(
        "vec_id",
        F.decode(F.substring("payload", 1, 4), "UTF-8").alias("magic"),
        F.conv(F.hex(F.substring("payload", 5, 4)), 16, 10).cast("bigint").alias("width"),
        F.conv(F.hex(F.substring("payload", 9, 4)), 16, 10).cast("bigint").alias("height"),
        F.conv(F.hex(F.substring("payload", 13, 4)), 16, 10).cast("bigint").alias("n_frames"),
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
        F.md5(F.lower(F.hex("payload"))).alias("payload_digest"),
    )


@query(
    "q258_table_checksum",
    oracle="""
    WITH h AS (
      SELECT ('0x' || substr(md5(
               cast(l_orderkey as varchar) || '\x1f' ||
               cast(l_linenumber as varchar) || '\x1f' ||
               cast(cast(round(l_extendedprice * 100) as bigint) as varchar) || '\x1f' ||
               l_returnflag), 1, 15))::BIGINT AS rh
      FROM lineitem
    )
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(sum(rh) % 2305843009213693951 as bigint) AS checksum_sum,
           cast(bit_xor(rh) as bigint) AS checksum_xor,
           cast(min(rh) as bigint) AS min_hash,
           cast(max(rh) as bigint) AS max_hash
    FROM h
    """,
    tags=("etl", "integrity"),
)
def q258_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT table checksum — the reconciliation primitive
    for cross-system copies (did the JDBC load, the parquet export and
    the source table all carry the same rows?): a 60-bit md5 prefix
    per row folded with BOTH a modular SUM and an XOR (sum catches
    value drift, xor catches duplicate-pair insertion that a sum can
    cancel only with probability 2⁻⁶⁰; together with count they make
    silent corruption detectable without moving any data between
    systems — each side computes its own digest). Commutative folds ⇒
    partition-order-proof, one aggregation, no shuffle beyond the
    final combine. The reference's R10 content hash lifted from row to
    TABLE granularity."""
    li = table(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "\x1f",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        F.col("l_returnflag"),
    )
    rh = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    h = li.select(rh.alias("rh"))
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.col("rh").cast("decimal(38,0)")) % F.lit((1 << 61) - 1))
        .cast("bigint")
        .alias("checksum_sum"),
        F.bit_xor("rh").cast("bigint").alias("checksum_xor"),
        F.min("rh").alias("min_hash"),
        F.max("rh").alias("max_hash"),
    )


@query(
    "q259_lambda_reconciliation",
    oracle="""
    WITH cutoff AS (
      SELECT date_trunc('day', max(ts)) - INTERVAL 3 DAYS AS cut FROM events
    ), batch_hist AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n,
             sum(cast(round(value * 100) as bigint)) AS cents
      FROM events, cutoff WHERE ts < cut
      GROUP BY day, event_type
    ), speed AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n,
             sum(cast(round(value * 100) as bigint)) AS cents
      FROM events, cutoff WHERE ts >= cut
      GROUP BY day, event_type
    ), merged AS (
      SELECT day, event_type, n, cents, 'batch' AS layer FROM batch_hist
      UNION ALL
      SELECT day, event_type, n, cents, 'speed' AS layer FROM speed
    )
    SELECT day, event_type,
           cast(sum(n) as bigint) AS n,
           cast(sum(cents) as bigint) AS cents,
           min(layer) AS layer
    FROM merged GROUP BY day, event_type
    """,
    tags=("etl", "lambda", "incremental"),
)
def q259_lambda_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAMBDA-architecture serving merge — the batch layer owns every
    day strictly before the reprocessing cutoff (max day − 3), the
    speed layer owns the live tail, and the serving view is their
    disjoint UNION with per-(day, type) totals. The cutoff day itself
    can straddle both layers (the batch run started mid-day) — the
    merge SUMS the partials, which is only correct because count/cents
    are algebraic merges (q186's property); the `layer` column
    ('batch' when any batch partial exists) makes ownership auditable.
    At scale the batch side reads a pre-aggregated table, not history
    — both sides here derive from events so the oracle can see the
    same world."""
    e = table(spark, sf_dir, "events")
    cut = e.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 3 DAYS")).alias("cut")
    )
    ec = e.join(F.broadcast(cut), F.lit(True))
    cents = F.round(F.col("value") * 100).cast("bigint")

    def layer(df, name):
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
        ).withColumn("layer", F.lit(name))

    batch_hist = layer(ec.filter(F.col("ts") < F.col("cut")), "batch")
    speed = layer(ec.filter(F.col("ts") >= F.col("cut")), "speed")
    merged = batch_hist.unionByName(speed)
    return merged.groupBy("day", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("cents").alias("cents"),
        F.min("layer").alias("layer"),
    )


@query(
    "q262_freshness_monitor",
    oracle="""
    WITH now_proxy AS (
      SELECT max(ts) AS now_ts FROM events
    ), per_type AS (
      SELECT event_type, max(ts) AS last_seen, count(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT p.event_type,
           cast(p.n as bigint) AS n,
           p.last_seen,
           cast(floor((epoch_us(n.now_ts) - epoch_us(p.last_seen))
                      / 60000000.0) as bigint) AS lag_minutes,
           (epoch_us(n.now_ts) - epoch_us(p.last_seen)) > 43200000000 AS stale_12h
    FROM per_type p CROSS JOIN now_proxy n
    """,
    tags=("etl", "monitoring"),
)
def q262_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEED-FRESHNESS monitor — the dead-man's switch every ingestion
    pipeline needs (the reference's incremental mode assumes the feed
    is alive; this is what tells you it isn't): per-source-type last
    event time and staleness lag against a now-proxy (the corpus max —
    in production, current_timestamp; a data-derived proxy keeps the
    check deterministic and oracle-able). One aggregation, a broadcast
    of the 1-row now-proxy, exact µs lag arithmetic, and a 12-hour
    alarm boolean per feed."""
    e = table(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("now_ts"))
    pt = e.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("n")
    )
    j = pt.join(F.broadcast(now), F.lit(True))
    lag_us = F.unix_micros("now_ts") - F.unix_micros("last_seen")
    return j.select(
        "event_type",
        "n",
        "last_seen",
        F.floor(lag_us / F.lit(60000000.0)).cast("bigint").alias("lag_minutes"),
        (lag_us > F.lit(43200000000)).alias("stale_12h"),
    )


@query(
    "q265_nested_schema_merge",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, 'v1' AS src,
             cast(round(o_totalprice * 100) as bigint) AS cents,
             NULL AS channel
      FROM orders WHERE o_orderkey % 2 = 0
    ), v2 AS (
      SELECT o_orderkey, 'v2' AS src,
             cast(round(o_totalprice * 100) as bigint) AS cents,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'app' END AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderkey, src, cents, channel FROM v1
    UNION ALL SELECT o_orderkey, src, cents, channel FROM v2
    """,
    tags=("etl", "schema-evolution"),
)
def q265_nested_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema evolution — q106 covers adding a TOP-LEVEL column;
    this evolves a field INSIDE a struct: v1 files carry
    meta:struct<cents>, v2 files add meta.channel, and a mergeSchema
    read must unify the STRUCT TYPE itself (not just the column list),
    back-filling v1's missing nested field with NULL — the failure
    mode that silently truncates structs in naive readers. The writes
    happen once per process (``io.query_state``); the read flattens
    the merged struct so the oracle can reproduce it relationally."""

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def build(d: str) -> None:
        v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            F.lit("v1").alias("src"),
            F.struct(cents.alias("cents")).alias("meta"),
        )
        v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.lit("v2").alias("src"),
            F.struct(
                cents.alias("cents"),
                F.when(F.col("o_orderkey") % 3 == 0, "web")
                .otherwise("app")
                .alias("channel"),
            ).alias("meta"),
        )
        v1.write.parquet(os.path.join(d, "part=v1"))
        v2.write.parquet(os.path.join(d, "part=v2"))

    path, _ = query_state("q265_nested_schema_merge", sf_dir, build)
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return merged.select(
        "o_orderkey",
        "src",
        F.col("meta.cents").alias("cents"),
        F.col("meta.channel").alias("channel"),
    )


@query(
    "q270_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY event_type, day
    ), base AS (
      SELECT event_type,
             sum(n) FILTER (WHERE rk <= 10) AS sum10
      FROM (SELECT event_type, n,
                   row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
            FROM daily)
      GROUP BY event_type
    ), cusum AS (
      SELECT d.event_type, d.day, d.n, b.sum10,
             sum(10 * d.n - b.sum10)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS s
      FROM daily d JOIN base b USING (event_type)
    )
    SELECT event_type, day, cast(n as bigint) AS n,
           cast(s as bigint) AS cusum_scaled,
           abs(s) >= 2 * sum10 AS drift_alarm
    FROM cusum
    """,
    tags=("etl", "monitoring", "stats"),
)
def q270_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection — q225 flags single-day spikes; CUSUM
    catches the SLOW drift a per-day test never trips on: cumulative
    sum of (day count − baseline mean), alarming when the cumulated
    deviation crosses a multiple of the baseline. Everything is EXACT
    integer algebra (the mean is kept as sum10/10 by scaling the
    deviation by 10 — q225's no-float-ulp discipline), so the alarm
    boolean cannot flip between engines. Baseline = first 10 days per
    type; per-type ordered windows over the tiny daily frame."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    rk = W.partitionBy("event_type").orderBy("day")
    base = (
        daily.withColumn("rk", F.row_number().over(rk))
        .groupBy("event_type")
        .agg(F.sum(F.when(F.col("rk") <= 10, F.col("n"))).alias("sum10"))
    )
    j = daily.join(F.broadcast(base), "event_type")
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    c = j.withColumn("s", F.sum(10 * F.col("n") - F.col("sum10")).over(w))
    return c.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("cusum_scaled"),
        (F.abs("s") >= 2 * F.col("sum10")).alias("drift_alarm"),
    )


@query(
    "q274_cdc_apply_deletes",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, o_orderstatus,
             cast(round(o_totalprice * 100) as bigint) AS cents
      FROM orders WHERE o_orderkey % 7 != 0
    ), changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                  WHEN o_orderkey % 7 = 0 THEN 'I'
                  WHEN o_orderkey % 5 = 0 THEN 'U' END AS op,
             o_orderstatus,
             cast(round(o_totalprice * 100) as bigint) + 500 AS new_cents
      FROM orders
      WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 = 0 OR o_orderkey % 5 = 0
    ), applied AS (
      SELECT coalesce(c.o_orderkey, s.o_orderkey) AS k,
             coalesce(c.o_orderstatus, s.o_orderstatus) AS status,
             CASE WHEN c.op = 'D' THEN NULL
                  WHEN c.op IN ('I', 'U') THEN c.new_cents
                  ELSE s.cents END AS cents
      FROM snap s FULL JOIN changes c ON s.o_orderkey = c.o_orderkey
    )
    SELECT status AS o_orderstatus,
           cast(count(*) as bigint) AS n_rows,
           cast(sum(cents) as bigint) AS total_cents
    FROM applied WHERE cents IS NOT NULL
    GROUP BY status
    """,
    tags=("etl", "cdc", "merge"),
)
def q274_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CDC APPLY — q122 classifies a diff, q124 merges upserts;
    this applies a mixed insert/update/DELETE batch to a snapshot in
    one full-outer-join pass (the plan-level MERGE WHEN MATCHED THEN
    DELETE): deletes drop the row, updates replace the payload,
    inserts add previously-absent keys, untouched rows pass through.
    Tombstones matter because they're what RTBF (q203) and source
    hard-deletes emit — an upsert-only pipeline silently resurrects
    them. Result summarized per status in exact cents; the key-keyed
    shuffle is the only wide op."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    snap = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    changes = (
        o.filter(
            (F.col("o_orderkey") % 11 == 0)
            | (F.col("o_orderkey") % 7 == 0)
            | (F.col("o_orderkey") % 5 == 0)
        )
        .select(
            F.col("o_orderkey").alias("c_key"),
            F.when(F.col("o_orderkey") % 11 == 0, "D")
            .when(F.col("o_orderkey") % 7 == 0, "I")
            .when(F.col("o_orderkey") % 5 == 0, "U")
            .alias("op"),
            F.col("o_orderstatus").alias("c_status"),
            (cents + 500).alias("new_cents"),
        )
    )
    j = snap.join(changes, snap.o_orderkey == changes.c_key, "full")
    applied = j.select(
        F.coalesce("c_status", "o_orderstatus").alias("status"),
        F.when(F.col("op") == "D", F.lit(None).cast("bigint"))
        .when(F.col("op").isin("I", "U"), F.col("new_cents"))
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    return (
        applied.filter(F.col("cents").isNotNull())
        .groupBy(F.col("status").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
    )


@query(
    "q282_numeric_drift_bins",
    oracle="""
    WITH halves AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
             least(cast(floor(o_totalprice / 25000.0) as bigint), 9) AS bin
      FROM orders
    ), counts AS (
      SELECT half, bin, count(*) AS n FROM halves GROUP BY half, bin
    ), tot AS (
      SELECT half, sum(n) AS t FROM counts GROUP BY half
    ), grid AS (
      SELECT unnest(range(0, 10)) AS bin
    ), probs AS (
      SELECT g.bin,
             coalesce(r.n, 0) / cast(rt.t as double) AS p_ref,
             coalesce(c.n, 0) / cast(ct.t as double) AS p_cur
      FROM grid g
      LEFT JOIN counts r ON r.half = 'ref' AND r.bin = g.bin
      LEFT JOIN counts c ON c.half = 'cur' AND c.bin = g.bin
      CROSS JOIN (SELECT t FROM tot WHERE half = 'ref') rt
      CROSS JOIN (SELECT t FROM tot WHERE half = 'cur') ct
    )
    SELECT cast(count(*) as bigint) AS n_bins,
           round(list_reduce(list_sort(list(
             (p_cur - p_ref) * ln((p_cur + 1e-6) / (p_ref + 1e-6)))),
             (a, b) -> a + b), 9) AS psi,
           round(list_reduce(list_sort(list(abs(p_cur - p_ref))),
             (a, b) -> a + b) / 2, 9) AS tv_distance
    FROM probs
    """,
    tags=("etl", "monitoring", "stats"),
)
def q282_numeric_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUMERIC-feature drift — q247 covers categorical mix, q276 the
    embedding space; this covers continuous measures (price, latency,
    length): fixed-width bins (clamped top bin) over two cohorts, PSI
    with ε-smoothing (bins can be EMPTY on one side — the case
    unsmoothed KL blows up on, handled by the same +1e-6 both
    engines), plus total-variation distance. A fixed bin GRID (0..9)
    joins both sides so absent bins contribute their full probability
    mass instead of silently vanishing. Sorted-fold float protocol
    throughout."""
    o = table(spark, sf_dir, "orders")
    half = F.when(F.col("o_orderkey") % 2 == 0, "ref").otherwise("cur")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 25000.0).cast("bigint"), F.lit(9))
    counts = o.select(half.alias("half"), bin_.alias("bin")).groupBy(
        "half", "bin"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("half").agg(F.sum("n").alias("t"))
    grid = table(spark, sf_dir, "region").sparkSession.range(0, 10).select(
        F.col("id").alias("bin")
    )
    r = counts.filter(F.col("half") == "ref").select("bin", F.col("n").alias("rn"))
    c = counts.filter(F.col("half") == "cur").select("bin", F.col("n").alias("cn"))
    rt = tot.filter(F.col("half") == "ref").select(F.col("t").alias("rt"))
    ct = tot.filter(F.col("half") == "cur").select(F.col("t").alias("ct"))
    probs = (
        grid.join(F.broadcast(r), "bin", "left")
        .join(F.broadcast(c), "bin", "left")
        .join(F.broadcast(rt), F.lit(True))
        .join(F.broadcast(ct), F.lit(True))
        .select(
            "bin",
            (F.coalesce("rn", F.lit(0)) / F.col("rt").cast("double")).alias("p_ref"),
            (F.coalesce("cn", F.lit(0)) / F.col("ct").cast("double")).alias("p_cur"),
        )
    )
    psi_term = (F.col("p_cur") - F.col("p_ref")) * F.log(
        (F.col("p_cur") + 1e-6) / (F.col("p_ref") + 1e-6)
    )
    return probs.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(psi_term)), F.lit(0.0), lambda a, b: a + b
            ),
            9,
        ).alias("psi"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.abs(F.col("p_cur") - F.col("p_ref")))),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / 2,
            9,
        ).alias("tv_distance"),
    )


@query(
    "q289_schema_contract",
    oracle="""
    SELECT * FROM (VALUES
      ('event_id',  'bigint',    true),
      ('ts',        'timestamp', true),
      ('user_id',   'bigint',    true),
      ('event_type','string',    true),
      ('value',     'double',    true),
      ('props',     'string',    true)
    ) AS t(col_name, spark_type, contract_ok)
    """,
    tags=("etl", "contract", "schema"),
)
def q289_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA CONTRACT check — the producer/consumer handshake run as a
    query: the events table's ACTUAL schema (name, Spark type, column
    order) is emitted row-per-column and compared against the declared
    contract (the oracle's literal table IS the contract document).
    Any renamed, retyped, reordered, added or dropped column breaks
    the hash match — which is precisely the alert a contract check
    exists to raise. Zero data rows are read (schema comes from the
    parquet footer); pairs with q125's row-level validation and
    q106/q265's evolution handling."""
    df = table(spark, sf_dir, "events")
    contract = {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    }
    rows = [
        (f.name, f.dataType.simpleString(), contract.get(f.name) == f.dataType.simpleString())
        for f in df.schema.fields
    ]
    return spark.createDataFrame(
        rows, "col_name string, spark_type string, contract_ok boolean"
    )


_IVM_VOL = (
    "cast(l_extendedprice as decimal(12,2)) * (1.00 - cast(l_discount as decimal(4,2)))"
)


@query(
    "q304_ivm_join_delta",
    oracle=f"""
    WITH a_old AS (SELECT * FROM orders   WHERE o_orderdate < TIMESTAMP '2000-01-01'),
         a_new AS (SELECT * FROM orders   WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
         b_old AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'),
         b_new AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'),
         v1 AS (
           SELECT o_orderpriority AS prio, sum({_IVM_VOL}) AS rev, count(*) AS n
           FROM a_old JOIN b_old ON o_orderkey = l_orderkey GROUP BY prio
         ),
         dv AS (
           SELECT o_orderpriority AS prio, sum({_IVM_VOL}) AS rev, count(*) AS n
           FROM (
             SELECT o_orderpriority, l_extendedprice, l_discount
             FROM a_old JOIN b_new ON o_orderkey = l_orderkey
             UNION ALL
             SELECT o_orderpriority, l_extendedprice, l_discount
             FROM a_new JOIN b_old ON o_orderkey = l_orderkey
             UNION ALL
             SELECT o_orderpriority, l_extendedprice, l_discount
             FROM a_new JOIN b_new ON o_orderkey = l_orderkey
           ) GROUP BY prio
         ),
         v2_inc AS (
           SELECT coalesce(v1.prio, dv.prio) AS prio,
                  coalesce(v1.rev, 0) + coalesce(dv.rev, 0) AS rev,
                  coalesce(v1.n, 0) + coalesce(dv.n, 0) AS n
           FROM v1 FULL OUTER JOIN dv ON v1.prio = dv.prio
         ),
         v2_full AS (
           SELECT o_orderpriority AS prio, sum({_IVM_VOL}) AS rev, count(*) AS n
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY prio
         )
    SELECT f.prio AS o_orderpriority,
           cast(f.rev as double) AS full_revenue,
           cast(i.rev as double) AS inc_revenue,
           cast(f.n as bigint) AS full_lines,
           cast(i.n as bigint) AS inc_lines,
           (f.rev = i.rev AND f.n = i.n) AS ivm_consistent
    FROM v2_full f JOIN v2_inc i ON f.prio = i.prio
    ORDER BY o_orderpriority
    """,
    tags=("etl", "incremental"),
)
def q304_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of a join view — the delta-join
    algebra that keeps a materialized join aggregate current without
    recomputing it: with base snapshots A,B and arriving deltas dA,dB,
    the view delta is dV = A⋈dB ∪ dA⋈B ∪ dA⋈dB, merged into V by an
    algebraic partial-sum full-outer merge (the same mergeability the
    lambda serving layer q259 exploits). Both the incrementally
    maintained view AND the full recompute are produced, and the
    ivm_consistent flag compares them in EXACT decimal — the query is
    its own proof of correctness. At 100 TB only the deltas (and the
    delta-side of each join) are new work per refresh; every join keys
    on o_orderkey, so the three delta joins reuse one partitioning."""
    cutoff = "2000-01-01"
    vol = dec("l_extendedprice", 12, 2) * (
        F.lit(1.00).cast("decimal(4,2)") - dec("l_discount", 4, 2)
    )
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    a_old = o.filter(F.col("o_orderdate") < cutoff)
    a_new = o.filter(F.col("o_orderdate") >= cutoff)
    b_old = li.filter(F.col("l_shipdate") < cutoff)
    b_new = li.filter(F.col("l_shipdate") >= cutoff)

    def view(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy(F.col("o_orderpriority").alias("prio"))
            .agg(F.sum(vol).alias("rev"), F.count(F.lit(1)).alias("n"))
        )

    proj = ["o_orderpriority", "l_extendedprice", "l_discount"]
    delta_rows = (
        a_old.join(b_new, a_old.o_orderkey == b_new.l_orderkey).select(*proj)
        .unionAll(a_new.join(b_old, a_new.o_orderkey == b_old.l_orderkey).select(*proj))
        .unionAll(a_new.join(b_new, a_new.o_orderkey == b_new.l_orderkey).select(*proj))
    )
    dv = delta_rows.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.sum(vol).alias("rev"), F.count(F.lit(1)).alias("n")
    )
    v1 = view(a_old, b_old)
    zero_rev = F.lit(0).cast(dict(v1.dtypes)["rev"])
    v2_inc = (
        v1.withColumnsRenamed({"prio": "p1", "rev": "r1", "n": "n1"})
        .join(
            dv.withColumnsRenamed({"prio": "p2", "rev": "r2", "n": "n2"}),
            F.col("p1") == F.col("p2"),
            "full_outer",
        )
        .select(
            F.coalesce("p1", "p2").alias("prio"),
            (
                F.coalesce(F.col("r1"), zero_rev) + F.coalesce(F.col("r2"), zero_rev)
            ).alias("rev"),
            (
                F.coalesce(F.col("n1"), F.lit(0)) + F.coalesce(F.col("n2"), F.lit(0))
            ).alias("n"),
        )
    )
    v2_full = view(o, li)
    f = v2_full.withColumnsRenamed({"prio": "fp", "rev": "frev", "n": "fn"})
    i = v2_inc.withColumnsRenamed({"prio": "ip", "rev": "irev", "n": "in_"})
    return (
        f.join(i, F.col("fp") == F.col("ip"))
        .select(
            F.col("fp").alias("o_orderpriority"),
            F.col("frev").cast("double").alias("full_revenue"),
            F.col("irev").cast("double").alias("inc_revenue"),
            F.col("fn").cast("bigint").alias("full_lines"),
            F.col("in_").cast("bigint").alias("inc_lines"),
            ((F.col("frev") == F.col("irev")) & (F.col("fn") == F.col("in_"))).alias(
                "ivm_consistent"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q311_manifest_snapshot_read",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(event_id as bigint)) as bigint) AS id_sum,
           cast(sum(cast(coalesce(value, 0.0) as decimal(14,2))) as double)
             AS total_value,
           2 AS snapshot_version
    FROM events
    WHERE event_id % 3 <= 1
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("etl", "lakehouse"),
)
def q311_manifest_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-PINNED SNAPSHOT READ — the lakehouse time-travel
    primitive (Iceberg/Delta snapshot isolation reduced to its
    essence): each commit appends a data file AND a new manifest
    listing exactly the files visible at that version; a reader binds
    to ONE manifest and scans only its files, so concurrent appends
    can never tear a query. Three deterministic commits are staged
    (batch k = events with event_id ≡ k mod 3); the query reads AS OF
    version 2 by loading that manifest (driver-side metadata, bytes not
    data) and scanning only its two files. The oracle recomputes the
    same snapshot from the predicate — any file over- or under-read
    breaks the hash. At 100 TB the manifest read stays O(files) on the
    driver while the data scan parallelizes over exactly the pinned
    files."""
    import json

    def _stage(d: str) -> None:
        e = table(spark, sf_dir, "events")
        files = []
        for k in range(3):
            e.filter(F.col("event_id") % 3 == k).write.parquet(os.path.join(d, f"batch_{k}.parquet"))
            files.append(f"batch_{k}.parquet")
            with open(os.path.join(d, f"manifest_v{k + 1}.json"), "w") as fh:
                json.dump({"version": k + 1, "files": list(files)}, fh)

    root, _ = query_state("q311_manifest_snapshot_read", sf_dir, _stage)
    with open(os.path.join(root, "manifest_v2.json")) as fh:
        manifest = json.load(fh)
    snap = spark.read.parquet(
        *[os.path.join(root, f) for f in manifest["files"]]
    )
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("event_id").cast("bigint")).cast("bigint").alias("id_sum"),
            F.sum(dec(F.coalesce(F.col("value"), F.lit(0.0)), 14, 2))
            .cast("double")
            .alias("total_value"),
        )
        .withColumn("snapshot_version", F.lit(manifest["version"]))
        .orderBy("event_type")
    )


@query(
    "q313_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT cast(substr(cast(cast(round(o_totalprice * 100) as bigint) as varchar), 1, 1)
                  as int) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ), counts AS (
      SELECT digit, cast(count(*) as bigint) AS n FROM digits GROUP BY digit
    ), tot AS (
      SELECT cast(sum(n) as bigint) AS total FROM counts
    )
    SELECT d.digit, coalesce(c.n, 0) AS n,
           coalesce(c.n, 0) * 1000000 // t.total AS observed_ppm,
           round(log10(1.0 + 1.0 / d.digit), 6) AS benford_p,
           round(abs(cast(coalesce(c.n, 0) as double) / t.total
                     - log10(1.0 + 1.0 / d.digit)), 6) AS abs_dev
    FROM range(1, 10) AS d(digit)
    LEFT JOIN counts c ON c.digit = d.digit
    CROSS JOIN tot t
    ORDER BY d.digit
    """,
    tags=("etl", "forensics"),
)
def q313_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit — the fraud/data-forensics
    screen for fabricated or truncated monetary columns: the observed
    first-significant-digit distribution of order totals against the
    log10(1+1/d) reference. Digits come from exact integer cents (no
    float formatting), observed shares are integer ppm (exact integer
    division), and the only floats are one log10 and one division per
    OUTPUT row (9 rows) — the digit spine is generated so digits with
    zero observations still appear. One partial-agg pass; everything
    downstream is 9 rows at any scale."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    return (
        spine.join(F.broadcast(counts), spine.d == counts.digit, "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000000 div total").alias("observed_ppm"),
            F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_p"),
            F.round(
                F.abs(
                    F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
                    - F.log10(1.0 + 1.0 / F.col("d"))
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "q314_referential_integrity_audit",
    oracle="""
    SELECT 'orphan_lineitems' AS check_name,
           cast((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) as bigint)
             AS n_violations
    UNION ALL
    SELECT 'childless_orders',
           cast((SELECT count(*) FROM orders
                 WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)) as bigint)
    UNION ALL
    SELECT 'orders_bad_custkey',
           cast((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) as bigint)
    UNION ALL
    SELECT 'lineitem_dup_composite_key',
           cast((SELECT count(*) FROM (
              SELECT l_orderkey, l_linenumber FROM lineitem
              GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) as bigint)
    UNION ALL
    SELECT 'orders_fd_orderkey_custkey',
           cast((SELECT count(*) FROM (
              SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(DISTINCT o_custkey) > 1)) as bigint)
    ORDER BY check_name
    """,
    tags=("etl", "data-quality"),
)
def q314_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE referential-integrity audit — q214 checks live
    inside one table (nulls, uniqueness, ranges); this suite checks the
    contracts BETWEEN tables that silently corrupt joins at scale:
    foreign-key orphans in both directions (anti-joins on the join
    keys), duplicate composite primary keys, and the functional
    dependency o_orderkey → o_custkey whose violation turns every
    downstream join into a fan-out. Each check is one anti-join or
    grouped HAVING — the same shuffle keys the production joins use, so
    the audit costs no more than the joins it protects."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")

    def one(name: str, n_col: F.Column) -> DataFrame:
        return spark.range(1).select(
            F.lit(name).alias("check_name"), n_col.alias("n_violations")
        )

    orphan_li = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count()
    childless = o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").count()
    bad_cust = o.join(c, o.o_custkey == c.c_custkey, "left_anti").count()
    dup_key = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    fd_viol = (
        o.groupBy("o_orderkey")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .filter(F.col("d") > 1)
        .count()
    )
    out = (
        one("childless_orders", F.lit(childless).cast("bigint"))
        .unionByName(one("lineitem_dup_composite_key", F.lit(dup_key).cast("bigint")))
        .unionByName(one("orders_bad_custkey", F.lit(bad_cust).cast("bigint")))
        .unionByName(one("orders_fd_orderkey_custkey", F.lit(fd_viol).cast("bigint")))
        .unionByName(one("orphan_lineitems", F.lit(orphan_li).cast("bigint")))
    )
    return out.orderBy("check_name")


@query(
    "q317_source_priority_conflation",
    oracle="""
    WITH multi AS (
      SELECT c_custkey, 1 AS prio, 'crm' AS src, c_name AS name
      FROM customer WHERE c_custkey % 3 != 0
      UNION ALL
      SELECT c_custkey, 2, 'warehouse', 'wh_' || c_name FROM customer
      UNION ALL
      SELECT c_custkey, 3, 'legacy', 'lg_' || c_name
      FROM customer WHERE c_custkey % 5 = 0
    ), golden AS (
      SELECT c_custkey,
             arg_min(src, prio) AS chosen_source,
             arg_min(name, prio) AS name
      FROM multi GROUP BY c_custkey
    )
    SELECT chosen_source, cast(count(*) as bigint) AS n_records,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM golden GROUP BY chosen_source ORDER BY chosen_source
    """,
    tags=("etl", "conflation"),
)
def q317_source_priority_conflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE GOLDEN-RECORD CONFLATION — the master-data pattern
    behind every warehouse that ingests the same entity from several
    systems: three overlapping feeds carry explicit priorities (CRM
    beats warehouse beats legacy) and the golden record takes every
    attribute from the highest-priority source that has the key —
    min_by/arg_min keyed on priority, ONE aggregation, no N-way
    left-join ladder (the naive formulation that adds a shuffle per
    source). Priorities are unique per (key, source) so the pick is
    deterministic without a tiebreak."""
    c = table(spark, sf_dir, "customer")
    multi = (
        c.filter(F.col("c_custkey") % 3 != 0).select(
            "c_custkey", F.lit(1).alias("prio"), F.lit("crm").alias("src"),
            F.col("c_name").alias("name"),
        )
        .unionByName(
            c.select(
                "c_custkey", F.lit(2).alias("prio"), F.lit("warehouse").alias("src"),
                F.concat(F.lit("wh_"), F.col("c_name")).alias("name"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 5 == 0).select(
                "c_custkey", F.lit(3).alias("prio"), F.lit("legacy").alias("src"),
                F.concat(F.lit("lg_"), F.col("c_name")).alias("name"),
            )
        )
    )
    golden = multi.groupBy("c_custkey").agg(
        F.min_by("src", "prio").alias("chosen_source"),
        F.min_by("name", "prio").alias("name"),
    )
    return (
        golden.groupBy("chosen_source")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("chosen_source")
    )


@query(
    "q318_late_arriving_dimension",
    oracle="""
    WITH phase AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CASE WHEN o_custkey % 4 != 0 THEN 1 ELSE 2 END AS resolved_phase
      FROM orders
    )
    SELECT p.resolved_phase, c.c_mktsegment,
           cast(count(*) as bigint) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(14,2))) as double) AS revenue
    FROM phase p JOIN customer c ON p.o_custkey = c.c_custkey
    GROUP BY p.resolved_phase, c.c_mktsegment
    ORDER BY p.resolved_phase, c.c_mktsegment
    """,
    tags=("etl", "incremental"),
)
def q318_late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-ARRIVING DIMENSION handling — the early-facts problem: facts
    referencing dimension keys the warehouse hasn't loaded yet must not
    be dropped OR block the pipeline. Tranche 1 of the dimension (¾ of
    customers) joins normally; the orphans are PARKED via the same
    anti-join, and when tranche 2 lands the parked facts are
    re-processed against it — the final union is provably complete
    because the oracle recomputes both phases from the tranche
    predicate. The park-and-retry runs the identical custkey-keyed
    shuffle as the main join (no extra partitioning), and each fact is
    joined exactly once per phase it's alive in."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dim1 = c.filter(F.col("c_custkey") % 4 != 0)
    dim2 = c.filter(F.col("c_custkey") % 4 == 0)
    matched1 = o.join(dim1, o.o_custkey == dim1.c_custkey).select(
        F.lit(1).alias("resolved_phase"),
        "c_mktsegment",
        "o_totalprice",
    )
    parked = o.join(dim1, o.o_custkey == dim1.c_custkey, "left_anti")
    matched2 = parked.join(dim2, parked.o_custkey == dim2.c_custkey).select(
        F.lit(2).alias("resolved_phase"),
        "c_mktsegment",
        "o_totalprice",
    )
    return (
        matched1.unionByName(matched2)
        .groupBy("resolved_phase", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("revenue"),
        )
        .orderBy("resolved_phase", "c_mktsegment")
    )


@query(
    "q325_synthetic_data_generator",
    oracle="""
    WITH gen AS (
      SELECT r.range AS id,
             ('0x' || substr(md5(cast(r.range as varchar) || ':cat'), 1, 8))::BIGINT % 7
               AS category,
             ('0x' || substr(md5(cast(r.range as varchar) || ':amt'), 1, 8))::BIGINT % 100000
               AS amount_cents,
             DATE '2024-01-01'
               + cast(('0x' || substr(md5(cast(r.range as varchar) || ':day'), 1, 8))::BIGINT % 365
                      as int) AS event_date
      FROM range(0, 100000) r
    )
    SELECT category,
           cast(count(*) as bigint) AS n,
           cast(sum(amount_cents) as bigint) AS total_cents,
           min(event_date) AS first_date,
           max(event_date) AS last_date,
           cast(count(DISTINCT event_date) as bigint) AS n_days
    FROM gen GROUP BY category ORDER BY category
    """,
    tags=("etl", "datagen", "scale"),
)
def q325_synthetic_data_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC SYNTHETIC DATA GENERATION at scale — the
    load-test / staging-seed capability (dbldatagen's niche): columns
    are PURE FUNCTIONS of a distributed `range()` id through the
    catalog's md5-prefix integer protocol, so any cluster generates
    bit-identical data with NO seed coordination, no driver-side
    randomness, and embarrassing parallelism (range splits across
    executors; at 100 TB you raise the row count, nothing else
    changes). The oracle regenerates the same 100k rows from the same
    hash algebra and checks the grouped checksums — proving generator
    determinism across engines, not just across runs."""
    n_rows = 100_000
    g = spark.range(0, n_rows)

    def h(salt: str) -> F.Column:
        return F.expr(
            f"cast(conv(substring(md5(concat(cast(id as string), ':{salt}')), 1, 8), 16, 10) as bigint)"
        )

    gen = g.select(
        F.col("id"),
        (h("cat") % 7).alias("category"),
        (h("amt") % 100000).alias("amount_cents"),
        F.date_add(F.lit("2024-01-01").cast("date"), (h("day") % 365).cast("int")).alias(
            "event_date"
        ),
    )
    return (
        gen.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount_cents").cast("bigint").alias("total_cents"),
            F.min("event_date").alias("first_date"),
            F.max("event_date").alias("last_date"),
            F.countDistinct("event_date").alias("n_days"),
        )
        .orderBy("category")
    )


@query(
    "q326_end_to_end_revenue_pipeline",
    oracle="""
    WITH deduped AS (
      SELECT * FROM (
        SELECT e.*, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
        FROM events e WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ), enriched AS (
      SELECT d.user_id, cast(d.ts as date) AS day,
             cast(round(d.value * 100) as bigint) AS cents,
             CASE WHEN d.user_id % 10 < 2 THEN 'vip'
                  WHEN d.user_id % 10 < 6 THEN 'regular'
                  ELSE 'casual' END AS tier
      FROM deduped d
    ), rollup_t AS (
      SELECT tier, day,
             cast(count(*) as bigint) AS n_purchases,
             cast(sum(cents) as bigint) AS rev_cents
      FROM enriched GROUP BY tier, day
    ), audit AS (
      SELECT cast(sum(rev_cents) as bigint) AS rolled_total FROM rollup_t
    ), direct AS (
      SELECT cast(sum(cents) as bigint) AS direct_total FROM enriched
    )
    SELECT r.tier, r.day, r.n_purchases, r.rev_cents,
           (a.rolled_total = d.direct_total) AS reconciled
    FROM rollup_t r CROSS JOIN audit a CROSS JOIN direct d
    ORDER BY r.tier, r.day
    """,
    tags=("etl", "pipeline", "headline"),
)
def q326_end_to_end_revenue_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END revenue pipeline COMPOSITION — ingest → idempotent
    dedup (keep-first by event id, the reference's R12 semantics) →
    tier enrichment (derived dimension, no extra shuffle: a pure
    expression) → daily tier rollup → RECONCILIATION: the rolled-up
    grand total must equal the pre-rollup total, and that equality
    rides every output row as a boolean — the conservation audit
    production finance pipelines bolt on, here inside the query
    itself. One user-grain shuffle for dedup, one (tier, day) shuffle
    for the rollup; the audit sides are one-row broadcasts. The text
    twin is q90's curation pipeline; this is the revenue DAG."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("event_id").orderBy("ts", "user_id")
    deduped = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    enriched = deduped.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("user_id") % 10 < 2, "vip")
        .when(F.col("user_id") % 10 < 6, "regular")
        .otherwise("casual")
        .alias("tier"),
    )
    rollup_t = enriched.groupBy("tier", "day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )
    audit = rollup_t.agg(F.sum("rev_cents").cast("bigint").alias("rolled_total"))
    direct = enriched.agg(F.sum("cents").cast("bigint").alias("direct_total"))
    return (
        rollup_t.crossJoin(F.broadcast(audit))
        .crossJoin(F.broadcast(direct))
        .select(
            "tier",
            "day",
            "n_purchases",
            "rev_cents",
            (F.col("rolled_total") == F.col("direct_total")).alias("reconciled"),
        )
        .orderBy("tier", "day")
    )


@query(
    "q327_bitemporal_asof",
    oracle="""
    WITH versions AS (
      SELECT c_custkey, c_mktsegment, c_name AS name,
             DATE '1995-01-01' AS valid_from, DATE '2000-01-01' AS valid_to,
             DATE '1995-01-01' AS tx_from
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment, 'v2_' || c_name,
             DATE '2000-01-01', DATE '9999-12-31', DATE '2000-01-01'
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment, 'fix_' || c_name,
             DATE '2000-01-01', DATE '9999-12-31', DATE '2001-01-01'
      FROM customer WHERE c_custkey % 7 = 0
    ), pick AS (
      SELECT c_custkey, c_mktsegment, name,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY tx_from DESC, name) AS rn
      FROM versions
      WHERE valid_from <= DATE '2000-06-15' AND DATE '2000-06-15' < valid_to
        AND tx_from <= DATE '2001-06-15'
    )
    SELECT c_mktsegment,
           cast(count(*) as bigint) AS n_entities,
           cast(count(*) FILTER (WHERE name LIKE 'fix_%') as bigint) AS n_corrected,
           cast(count(*) FILTER (WHERE name LIKE 'v2_%') as bigint) AS n_v2
    FROM pick WHERE rn = 1
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("etl", "temporal"),
)
def q327_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL AS-OF query — the two-axis temporal model q212's
    SCD2 (one axis) can't answer: 'what did we BELIEVE on tx-date T
    about the state VALID on date V?'. The version store carries
    valid-time intervals AND transaction-time stamps (v1, v2, and a
    later CORRECTION of v2 for some entities); the as-of read filters
    both axes then takes the latest-known record per entity
    (tx_from DESC with a deterministic tiebreak). Reproducible
    auditing/backtesting: moving T replays exactly what any past
    report saw. One custkey-partitioned window over the ~2–3 rows per
    entity that survive the interval filters."""
    c = table(spark, sf_dir, "customer")
    d = lambda s: F.lit(s).cast("date")  # noqa: E731
    v1 = c.select(
        "c_custkey", "c_mktsegment", F.col("c_name").alias("name"),
        d("1995-01-01").alias("valid_from"), d("2000-01-01").alias("valid_to"),
        d("1995-01-01").alias("tx_from"),
    )
    v2 = c.select(
        "c_custkey", "c_mktsegment", F.concat(F.lit("v2_"), "c_name").alias("name"),
        d("2000-01-01").alias("valid_from"), d("9999-12-31").alias("valid_to"),
        d("2000-01-01").alias("tx_from"),
    )
    fix = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_mktsegment", F.concat(F.lit("fix_"), "c_name").alias("name"),
        d("2000-01-01").alias("valid_from"), d("9999-12-31").alias("valid_to"),
        d("2001-01-01").alias("tx_from"),
    )
    versions = v1.unionByName(v2).unionByName(fix)
    valid_at, known_at = d("2000-06-15"), d("2001-06-15")
    qualifying = versions.filter(
        (F.col("valid_from") <= valid_at)
        & (valid_at < F.col("valid_to"))
        & (F.col("tx_from") <= known_at)
    )
    w = W.partitionBy("c_custkey").orderBy(F.col("tx_from").desc(), "name")
    pick = qualifying.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pick.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.count_if(F.col("name").like("fix_%")).cast("bigint").alias("n_corrected"),
            F.count_if(F.col("name").like("v2_%")).cast("bigint").alias("n_v2"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q328_csv_multiline_roundtrip",
    oracle="""
    WITH noted AS (
      SELECT c_custkey, c_mktsegment,
             c_name || chr(10) || '"' || c_mktsegment || '";tail' AS note
      FROM customer
    )
    SELECT c_mktsegment,
           cast(count(*) as bigint) AS n,
           cast(sum(length(note)) as bigint) AS note_chars,
           cast(count(*) FILTER (WHERE contains(note, chr(10))) as bigint)
             AS n_multiline,
           cast(sum(c_custkey) as bigint) AS key_sum
    FROM noted GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("etl", "io"),
)
def q328_csv_multiline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV MULTILINE/QUOTING round trip — the parser path q67's plain
    round trip never exercises: every note field embeds a literal
    NEWLINE, a RFC-4180 doubled QUOTE, and the ';' delimiter itself,
    written with quoteAll + quote-escape and read back with
    multiLine=true (the whole-file parse mode that cannot split
    records on newlines — per-FILE parallelism instead of per-split,
    the documented scale trade-off of quoted-newline CSV). The oracle
    recomputes the aggregates from the SOURCE derivation, so any
    mis-quoted, split, or dropped record breaks count, char-length
    sum, and key checksum."""
    c = table(spark, sf_dir, "customer")
    noted = c.select(
        "c_custkey",
        "c_mktsegment",
        F.concat(
            F.col("c_name"), F.lit("\n\""), F.col("c_mktsegment"), F.lit("\";tail")
        ).alias("note"),
    )
    base, _ = query_state(
        "q328_csv_multiline_roundtrip",
        sf_dir,
        lambda d: noted.write.mode("overwrite")
        .option("header", "true")
        .option("delimiter", ";")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(d),
    )
    back = (
        spark.read.option("header", "true")
        .option("delimiter", ";")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("c_custkey bigint, c_mktsegment string, note string")
        .csv(base)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("note")).cast("bigint").alias("note_chars"),
            F.count_if(F.col("note").contains("\n")).cast("bigint").alias("n_multiline"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("c_mktsegment")
    )


# Fellegi-Sunter integer log-weights (×10⁶, precomputed from declared
# m/u probabilities so the score is EXACT integer arithmetic):
#   name:    m=0.95 u=0.05 → agree ln(19)=+2944439   disagree ln(1/19)=−2944439
#   segment: m=0.90 u=0.20 → agree ln(4.5)=+1504077  disagree ln(0.125)=−2079442
#   balance: m=0.85 u=0.01 → agree ln(85)=+4442651   disagree ln(0.1515…)=−1887070
_FS_W = {
    "name": (2944439, -2944439),
    "seg": (1504077, -2079442),
    "bal": (4442651, -1887070),
}


@query(
    "q332_record_linkage_fs",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey AS r_id, c_nationkey,
             CASE WHEN c_custkey % 4 = 0 THEN upper(c_name) ELSE c_name END AS r_name,
             CASE WHEN c_custkey % 9 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS r_seg,
             CASE WHEN c_custkey % 6 = 0
                  THEN cast(round(c_acctbal / 100) * 10000 as bigint)
                  ELSE cast(round(c_acctbal * 100) as bigint) END AS r_cents
      FROM customer
    ), clean AS (
      SELECT c_custkey, c_nationkey, c_name, c_mktsegment,
             cast(round(c_acctbal * 100) as bigint) AS cents
      FROM customer
    ), pairs AS (
      SELECT c.c_custkey, d.r_id,
             (CASE WHEN c.c_name = d.r_name THEN {_FS_W["name"][0]} ELSE {_FS_W["name"][1]} END
              + CASE WHEN c.c_mktsegment = d.r_seg THEN {_FS_W["seg"][0]} ELSE {_FS_W["seg"][1]} END
              + CASE WHEN c.cents = d.r_cents THEN {_FS_W["bal"][0]} ELSE {_FS_W["bal"][1]} END)
               AS score
      FROM clean c JOIN dirty d ON c.c_nationkey = d.c_nationkey
    ), classed AS (
      SELECT c_custkey, r_id, score,
             CASE WHEN score >= 3000000 THEN 'match'
                  WHEN score >= 0 THEN 'review'
                  ELSE 'non-match' END AS decision
      FROM pairs
    )
    SELECT decision,
           cast(count(*) as bigint) AS n_pairs,
           cast(count(*) FILTER (WHERE c_custkey = r_id) as bigint) AS n_true,
           cast(min(score) as bigint) AS min_score,
           cast(max(score) as bigint) AS max_score
    FROM classed GROUP BY decision ORDER BY decision
    """,
    tags=("etl", "entity-resolution"),
)
def q332_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER probabilistic record linkage — the principled
    upgrade over q115's edit-distance fuzzy match: field agreements
    weighted by ln(m/u) log-likelihood ratios (m/u declared per field;
    production systems EM-estimate them) and summed into a match
    score, thresholded into match / review / non-match. Weights are
    pre-scaled INTEGER micro-nats, so scoring, thresholds, and class
    extrema are exact integer arithmetic end to end. Candidate pairs
    come from nation blocking — the quadratic all-pairs stays inside
    blocks (the standard ER scale lever, same role as LSH bands in
    q50); the dirty side is a deterministic perturbation of the clean
    side so ground truth (id equality) rides along and the class
    purity is itself verified."""
    c = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    dirty = c.select(
        F.col("c_custkey").alias("r_id"),
        F.col("c_nationkey").alias("r_nat"),
        F.when(F.col("c_custkey") % 4 == 0, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("r_name"),
        F.when(F.col("c_custkey") % 9 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("r_seg"),
        F.when(
            F.col("c_custkey") % 6 == 0,
            (F.round(F.col("c_acctbal") / 100) * 10000).cast("bigint"),
        )
        .otherwise(cents)
        .alias("r_cents"),
    )
    clean = c.select(
        "c_custkey", "c_nationkey", "c_name", "c_mktsegment", cents.alias("cents")
    )
    wn, ws, wb = _FS_W["name"], _FS_W["seg"], _FS_W["bal"]
    score = (
        F.when(F.col("c_name") == F.col("r_name"), wn[0]).otherwise(wn[1])
        + F.when(F.col("c_mktsegment") == F.col("r_seg"), ws[0]).otherwise(ws[1])
        + F.when(F.col("cents") == F.col("r_cents"), wb[0]).otherwise(wb[1])
    )
    pairs = clean.join(dirty, clean.c_nationkey == dirty.r_nat).select(
        "c_custkey", "r_id", score.alias("score")
    )
    classed = pairs.withColumn(
        "decision",
        F.when(F.col("score") >= 3000000, "match")
        .when(F.col("score") >= 0, "review")
        .otherwise("non-match"),
    )
    return (
        classed.groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_if(F.col("c_custkey") == F.col("r_id"))
            .cast("bigint")
            .alias("n_true"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
        )
        .orderBy("decision")
    )


@query(
    "q335_k_anonymity",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment, c_nationkey,
             cast(round(c_acctbal * 100) as bigint) AS cents
      FROM customer
    ), leveled AS (
      SELECT 0 AS level, c_mktsegment, c_nationkey,
             cast(floor(cents / 10000.0) as bigint) AS bal_bucket
      FROM base
      UNION ALL
      SELECT 1, c_mktsegment, c_nationkey, cast(floor(cents / 100000.0) as bigint)
      FROM base
      UNION ALL
      SELECT 2, c_mktsegment, c_nationkey,
             CASE WHEN cents >= 0 THEN 1 ELSE -1 END
      FROM base
    ), groups AS (
      SELECT level, c_mktsegment, c_nationkey, bal_bucket,
             cast(count(*) as bigint) AS grp_size
      FROM leveled GROUP BY level, c_mktsegment, c_nationkey, bal_bucket
    )
    SELECT level,
           cast(count(*) as bigint) AS n_groups,
           cast(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0 END) as bigint)
             AS n_rows_at_risk,
           cast(min(grp_size) as bigint) AS min_group,
           sum(CASE WHEN grp_size < 5 THEN 1 ELSE 0 END) = 0 AS k5_satisfied
    FROM groups GROUP BY level ORDER BY level
    """,
    tags=("etl", "privacy"),
)
def q335_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT with a generalization ladder — the
    release-gate check that complements q97 (PII redaction) and q203
    (RTBF deletion): every quasi-identifier combination (segment ×
    nation × balance bucket) must describe at least k=5 people, and
    when it doesn't, the balance axis is GENERALIZED one rung (100-unit
    → 1000-unit → sign-only) until it does. All three rungs are
    audited in one pass (rows-at-risk, smallest group, the k-satisfied
    verdict per rung) so the query outputs exactly how much
    generalization this release needs. Bucketing is explicit floor()
    on exact cents — truncating integer division would disagree
    between engines on negative balances."""
    c = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    base = c.select("c_mktsegment", "c_nationkey", cents.alias("cents"))

    def rung(level: int, bucket: F.Column) -> DataFrame:
        return base.select(
            F.lit(level).alias("level"),
            "c_mktsegment",
            "c_nationkey",
            bucket.cast("bigint").alias("bal_bucket"),
        )

    leveled = (
        rung(0, F.floor(F.col("cents") / 10000.0))
        .unionByName(rung(1, F.floor(F.col("cents") / 100000.0)))
        .unionByName(
            rung(2, F.when(F.col("cents") >= 0, F.lit(1)).otherwise(F.lit(-1)))
        )
    )
    groups = leveled.groupBy(
        "level", "c_mktsegment", "c_nationkey", "bal_bucket"
    ).agg(F.count(F.lit(1)).alias("grp_size"))
    return (
        groups.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
            F.min("grp_size").cast("bigint").alias("min_group"),
            (F.sum(F.when(F.col("grp_size") < 5, 1).otherwise(0)) == 0).alias(
                "k5_satisfied"
            ),
        )
        .orderBy("level")
    )


@query(
    "q354_audio_energy_windows",
    oracle="""
    WITH s AS (
      SELECT v.vec_id, cast(t.i as bigint) AS i,
             ('0x' || substr(md5(cast(v.vec_id * 100000 + t.i as varchar)),
                             1, 8))::BIGINT % 65536 - 32768 AS smp
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < 64) v,
           unnest(range(0, 256)) AS t(i)
    ), w AS (
      SELECT vec_id, cast(i // 64 as int) AS window_idx,
             sum(smp * smp) AS ss
      FROM s GROUP BY vec_id, i // 64
    )
    SELECT vec_id, window_idx,
           cast(floor(sqrt(ss / 64.0) * 1000.0) as bigint) AS energy_milli,
           floor(sqrt(ss / 64.0) * 1000.0) < 18918000 AS is_quiet,
           64 AS n_samples
    FROM w
    """,
    tags=("multimodal", "audio", "parity"),
)
def q354_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO multimodal end-to-end: a 256-sample little-endian 16-bit
    PCM payload per vec_id is BUILT as a real BinaryType value (sample
    i = md5-derived h32 mod 2¹⁶ − 2¹⁵, hex-assembled byte-swapped,
    unhex — q251's container protocol applied to audio), then DECODED
    byte-for-byte with np.frombuffer inside mapInPandas
    (operators/multimodal.py::pcm_window_energy) into 64-sample RMS
    energy windows with a silence flag — the voice-activity prefilter
    an audio curation pipeline runs before transcription. The oracle
    regenerates every sample from the md5 formula and recomputes each
    window in SQL: integer squares sum exactly in float64 (< 2⁵³, so
    addition order can't matter), /64 is a power-of-two division, IEEE
    sqrt is correctly rounded — both engines floor the identical
    double, so a single mis-decoded byte, swapped endianness, or
    off-by-one window boundary breaks the hash. 64 payloads × 4
    windows; the decode stage is per-row narrow, no shuffle."""
    from ..operators.multimodal import pcm_window_energy

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    # u(i) = h32(vec_id·1e5 + i) mod 65536; payload = LE bytes of u − 32768
    hx = F.expr(
        """
        array_join(
          transform(sequence(0, 255), i ->
            concat(
              substring(lpad(hex(
                (cast(conv(substring(md5(cast(vec_id * 100000 + i as string)),
                                    1, 8), 16, 10) as bigint) % 65536
                 + 32768) % 65536), 4, '0'),
                3, 2),
              substring(lpad(hex(
                (cast(conv(substring(md5(cast(vec_id * 100000 + i as string)),
                                    1, 8), 16, 10) as bigint) % 65536
                 + 32768) % 65536), 4, '0'),
                1, 2))),
          '')
        """
    )
    b = e.select("vec_id", F.unhex(hx).alias("payload"))
    return pcm_window_energy(b, id_col="vec_id", payload_col="payload")


@query(
    "q370_binseg_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             cast(count(*) as bigint) AS y
      FROM events GROUP BY event_type, day
    ), pre AS (
      SELECT event_type, day, y,
             cast(row_number() OVER w as bigint) AS k,
             cast(sum(y) OVER w as bigint) AS sk,
             cast(count(*) OVER (PARTITION BY event_type) as bigint) AS n,
             cast(sum(y) OVER (PARTITION BY event_type) as bigint) AS sn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING)
    ), scored AS (
      SELECT event_type, day, k, n,
             sk * 1000000 // k AS mean_left_ppm,
             (sn - sk) * 1000000 // (n - k) AS mean_right_ppm,
             cast(n * sk - k * sn as double) * cast(n * sk - k * sn as double)
               / (cast(k as double) * n * (n - k)) AS reduction
      FROM pre WHERE k < n
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY reduction DESC, k) AS rn
      FROM scored
    )
    SELECT event_type, day AS split_day, k AS split_k, n AS n_days,
           mean_left_ppm, mean_right_ppm,
           round(reduction, 4) AS sse_reduction
    FROM best WHERE rn = 1
    """,
    tags=("etl", "monitoring", "stats"),
)
def q370_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SEGMENTATION change-point detection — the OFFLINE
    complement to q270's sequential CUSUM: for each event-type daily
    series, find the split k that maximizes the between-segment SSE
    reduction n·(ȳ₁−ȳ₂)²·k(n−k)/n² = (n·S_k − k·S_n)²/(k·n·(n−k)) —
    the first step of the classic recursive segmentation, and the
    least-squares answer to "when did this series change level?".

    Cross-engine protocol: prefix sums and totals are EXACT bigints
    (one per-series ordered window over the tiny daily frame); the
    score's numerator n·S_k − k·S_n is an exact bigint that fits a
    double losslessly (< 2⁵³ up to ~10¹⁵-event series), so the score
    is ONE correctly-rounded multiply + divide — bit-identical IEEE
    on both engines — and the argmax breaks ties on k. Segment means
    ship as ppm floor-divisions (pure integer), never floats.

    Scale: the corpus is touched once by the daily rollup
    (map-side-combined); everything after is windows PARTITIONED BY
    series key over n_days-sized frames — thousands of series scale
    out across executors, and no single-partition exchange exists in
    the plan. The day the argmax stops being a real level shift,
    recursing into [1,k),[k,n) segments reuses this exact shape."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    wt = W.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(W.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("k"),
        F.sum("y").over(w).cast("bigint").alias("sk"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
        F.sum("y").over(wt).cast("bigint").alias("sn"),
    )
    num = F.col("n") * F.col("sk") - F.col("k") * F.col("sn")
    scored = pre.filter(F.col("k") < F.col("n")).select(
        "event_type",
        "day",
        "k",
        "n",
        F.expr("sk * 1000000 div k").alias("mean_left_ppm"),
        F.expr("(sn - sk) * 1000000 div (n - k)").alias("mean_right_ppm"),
        (
            num.cast("double")
            * num.cast("double")
            / (F.col("k").cast("double") * F.col("n") * (F.col("n") - F.col("k")))
        ).alias("reduction"),
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("reduction"), "k")
        ),
    )
    return best.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("split_day"),
        F.col("k").alias("split_k"),
        F.col("n").alias("n_days"),
        "mean_left_ppm",
        "mean_right_ppm",
        F.round("reduction", 4).alias("sse_reduction"),
    )


@query(
    "q377_l_diversity",
    oracle="""
    WITH base AS (
      SELECT c_nationkey,
             cast(floor(cast(round(c_acctbal * 100) as bigint) / 100000.0)
               as bigint) AS bal_bucket,
             c_mktsegment AS sensitive
      FROM customer
    ), cells AS (
      SELECT c_nationkey, bal_bucket, sensitive,
             cast(count(*) as bigint) AS n
      FROM base GROUP BY c_nationkey, bal_bucket, sensitive
    )
    SELECT c_nationkey, bal_bucket,
           cast(sum(n) as bigint) AS grp_size,
           cast(count(*) as bigint) AS n_sensitive,
           cast(max(n) * 1000000 // sum(n) as bigint) AS top_share_ppm,
           count(*) >= 3 AS l3_ok
    FROM cells GROUP BY c_nationkey, bal_bucket
    """,
    tags=("etl", "privacy"),
)
def q377_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY AUDIT — the disclosure check k-anonymity (q335)
    misses: a group can be k-large yet reveal everyone's sensitive
    value if the group is HOMOGENEOUS. Per quasi-identifier group
    (nation × coarse balance bucket, q335's level-1 ladder rung), how
    many DISTINCT sensitive values (market segment) appear, the
    attacker's best-guess success rate (top sensitive share, integer
    ppm floor-division), and the l=3 gate. All counts exact; the
    sensitive-value cell table is the only shuffle (map-side combined,
    bounded by QI-groups × |sensitive domain|). The release decision
    reads BOTH audits: q335 for re-identification, this for attribute
    disclosure."""
    base = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("bigint") / F.lit(100000.0)
        )
        .cast("bigint")
        .alias("bal_bucket"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cells = base.groupBy("c_nationkey", "bal_bucket", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cells.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n").cast("bigint").alias("grp_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_sensitive"),
        F.expr("max(n) * 1000000 div sum(n)").cast("bigint").alias("top_share_ppm"),
        (F.count(F.lit(1)) >= 3).alias("l3_ok"),
    )


@query(
    "q400_incremental_distinct_state",
    oracle="""
    WITH hist AS (
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS h
      FROM orders WHERE o_orderdate < DATE '1997-01-01'
      GROUP BY o_orderpriority
    ), allx AS (
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS a
      FROM orders GROUP BY o_orderpriority
    )
    SELECT a.o_orderpriority,
           cast(a.a as bigint) AS n_customers,
           cast(a.a - coalesce(h.h, 0) as bigint) AS n_new_customers
    FROM allx a LEFT JOIN hist h USING (o_orderpriority)
    """,
    tags=("etl", "incremental", "state", "sketch"),
)
def q400_incremental_distinct_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-SKETCH STATE — incremental COUNT(DISTINCT) across
    batches, the metric plain incremental view maintenance (q304)
    cannot carry with additive partials: distinct counts don't sum, but
    their BITMAPS union. The history's per-(priority, bucket) bitmap
    registers (q158's exact roaring-style layout: o_custkey buckets by
    ``bitmap_bucket_number`` into 32768-bit words, folds via
    ``bitmap_construct_agg``) persist as the STATE table; an arriving
    batch (orders from 1997 on) aggregates ITS OWN bitmaps and merges
    into the state with ``bitmap_or_agg`` — associative, map-side
    combinable, exact — and the report (per-priority total distinct
    customers + customers never seen in history) reads from bitmaps
    alone. The history fact rows are NEVER rescanned: n_new falls out
    of popcount(merged) − popcount(state), both state-sized reads.

    Exactness is the whole trick (same as q158): bitmap registers are
    an exact distinct representation, so the oracle is plain
    COUNT(DISTINCT ...) over raw history/full slices — hash-verifiable
    where HLL-style sketches (q60) are engine-specific estimates.

    100 TB story: state is O(groups × keyspace/32768) rows of ≤4 KB
    binary — bounded by the KEY DOMAIN, not the fact table; the merge
    shuffles only (group, bucket) state+batch rows, and the OR partial
    combines map-side. This is R16's count-watermark posture applied
    to the one aggregate incremental pipelines most often get wrong
    (re-scanning history for every daily distinct-users report)."""
    o = table(spark, sf_dir, "orders")

    def bitmaps(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "o_orderpriority",
                F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
                F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
            )
            .groupBy("o_orderpriority", "bucket")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        )

    def build(sd: str) -> None:
        hist = o.filter(F.col("o_orderdate") < "1997-01-01")
        bitmaps(hist).write.parquet(sd + "/bitmap_state")

    state = spark.read.parquet(query_state("q400", sf_dir, build)[0] + "/bitmap_state")

    batch = o.filter(F.col("o_orderdate") >= "1997-01-01")
    merged = (
        state.unionByName(bitmaps(batch))
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
    )
    merged_cnt = merged.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_customers")
    )
    hist_cnt = state.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("h")
    )
    return merged_cnt.join(hist_cnt, "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_customers",
        (F.col("n_customers") - F.coalesce(F.col("h"), F.lit(0)))
        .cast("bigint")
        .alias("n_new_customers"),
    )


@query(
    "q406_ivm_retraction",
    oracle="""
    WITH live AS (
      SELECT * FROM orders
      WHERE (o_orderkey % 5 <> 0 AND o_orderkey % 13 <> 5)
         OR o_orderkey % 5 = 0
    ), j AS (
      SELECT c.c_nationkey,
             cast(round(o.o_totalprice * 100) as bigint) AS cents
      FROM live o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_nationkey,
           cast(count(*) as bigint) AS n_orders,
           cast(sum(cents) as bigint) AS revenue_cents
    FROM j GROUP BY c_nationkey
    """,
    tags=("etl", "incremental", "state", "ivm"),
)
def q406_ivm_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-AWARE VIEW MAINTENANCE — q304's delta-join IVM
    extended to DELETES, the half of change-data-capture insert-only
    maintenance can't absorb: every delta row carries a SIGNED
    multiplicity (+1 insert, −1 delete — the differential-dataflow /
    DBSP convention), deltas aggregate with sign-weighted sums, and
    the maintained view merges state ∪ delta in one keyed additive
    aggregation, dropping groups whose maintained support reaches
    zero (the count column exists exactly so disappearance is
    detectable — a sum alone can't distinguish 'zero total' from
    'gone'). The base view (per-nation order counts + exact-cents
    revenue over orders ⋈ customer) persists once; the mixed batch —
    inserts (o_orderkey % 5 = 0) and CDC deletes of base rows
    (% 13 = 5, arriving as full before-images, the Debezium shape) —
    joins the broadcast customer dimension, never the base fact.

    The oracle recomputes the view over (base − deletes) ∪ inserts
    from scratch, so the driver hash-checks the signed algebra
    end-to-end: maintain ∘ mixed-delta ≡ recompute, per nation, in
    integer cents (no float drift by construction).

    100 TB story: the refresh cost is |delta| (sign-weighted
    aggregation + one broadcast dim join) plus a group-domain-bounded
    state merge — the base fact is read ZERO times (the delete
    before-images come from the CDC feed; this fixture synthesizes
    them from the base slice, plan-visibly filter-pushed). Group
    disappearance (support hitting 0) is pinned by a planted unit
    test; q304 remains the insert-only delta-JOIN decomposition
    (dA⋈B ∪ A⋈dB ∪ dA⋈dB) — this query adds the retraction algebra
    both need at the aggregation layer."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def view_rows(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(c), df.o_custkey == c.c_custkey
        ).select(
            "c_nationkey",
            F.col("__sign").alias("sign"),
            (F.round(F.col("o_totalprice") * 100).cast("bigint") * F.col("__sign"))
            .alias("cents"),
        )

    def build(sd: str) -> None:
        base = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
            "__sign", F.lit(1).cast("bigint")
        )
        (
            view_rows(base)
            .groupBy("c_nationkey")
            .agg(
                F.sum("sign").cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
            )
            .write.parquet(sd + "/join_view")
        )

    state = spark.read.parquet(query_state("q406", sf_dir, build)[0] + "/join_view")

    # the mixed CDC batch: inserts (+1) and deletes of base rows (-1,
    # full before-images — the Debezium 'before' payload shape)
    inserts = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "__sign", F.lit(1).cast("bigint")
    )
    deletes = o.filter(
        (F.col("o_orderkey") % 5 != 0) & (F.col("o_orderkey") % 13 == 5)
    ).withColumn("__sign", F.lit(-1).cast("bigint"))
    delta = (
        view_rows(inserts.unionByName(deletes))
        .groupBy("c_nationkey")
        .agg(
            F.sum("sign").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
    from ..operators.state import signed_view_merge

    return signed_view_merge(
        state, delta, ["c_nationkey"], ["n_orders", "revenue_cents"]
    )


# ------------------------------------------------------- round-10 wave


@query(
    "q423_t_closeness",
    oracle="""
    WITH base AS (
      SELECT c_nationkey,
             floor(round(c_acctbal * 100) / 100000.0)::BIGINT AS bal_bucket,
             c_mktsegment AS sensitive
      FROM customer
    ), cls AS (
      SELECT DISTINCT c_nationkey, bal_bucket FROM base
    ), seg AS (
      SELECT sensitive, count(*) AS n_i FROM base GROUP BY sensitive
    ), tot AS (
      SELECT count(*) AS n FROM base
    ), cell AS (
      SELECT c_nationkey, bal_bucket, sensitive, count(*) AS n_ci
      FROM base GROUP BY ALL
    ), grid AS (
      SELECT c.c_nationkey, c.bal_bucket, s.sensitive, s.n_i,
             coalesce(x.n_ci, 0) AS n_ci
      FROM cls c CROSS JOIN seg s
      LEFT JOIN cell x USING (c_nationkey, bal_bucket, sensitive)
    ), ctot AS (
      SELECT c_nationkey, bal_bucket, sum(n_ci) AS n_c
      FROM grid GROUP BY c_nationkey, bal_bucket
    ), grp AS (
      SELECT g.c_nationkey, g.bal_bucket, any_value(c.n_c) AS n_c,
             sum(abs(g.n_ci * t.n - g.n_i * c.n_c)) AS num
      FROM grid g
      JOIN ctot c USING (c_nationkey, bal_bucket)
      CROSS JOIN tot t
      GROUP BY g.c_nationkey, g.bal_bucket
    )
    SELECT g.c_nationkey, g.bal_bucket,
           cast(g.n_c as bigint) AS grp_size,
           cast(1000000 * g.num // (2 * g.n_c * t.n) as bigint) AS t_ppm,
           (1000000 * g.num // (2 * g.n_c * t.n)) <= 250000 AS t_ok
    FROM grp g, tot t
    """,
    tags=("etl", "privacy", "audit"),
)
def q423_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS AUDIT — the third rung of the disclosure ladder
    (q335 k-anonymity: group size; q377 l-diversity: within-group
    variety): a group can be large AND varied yet still leak if its
    sensitive-value DISTRIBUTION diverges from the corpus-wide one
    (an attacker updates their prior by the divergence). Per
    quasi-identifier class (nation x coarse balance bucket, the same
    rung as q335/q377), t = the variational distance
    ½ Σᵢ |p(i|class) − p(i)| over the nominal sensitive attribute
    (market segment) — the categorical form of Li et al.'s
    t-closeness; the release gate is t ≤ 0.25.

    Exactness protocol: t is a ratio of integers, so both engines
    compute the INTEGER numerator Σᵢ |n_ci·N − n_i·N_c| and divide
    once with non-negative integer division into ppm — never a float
    sum of per-segment fractions. Zero cells matter (a segment ABSENT
    from a class contributes |0·N − n_i·N_c|): the class×segment grid
    is materialized by crossing the class list with the 5-row segment
    dim before the left join, so absent cells exist to be counted.

    100 TB story: two keyed aggregations (cells, then classes) plus a
    broadcast of the segment dim and the one-row total — the grid is
    |classes| × |segments|, bounded by the QI domain, never the fact
    table. Numerator magnitude is ≤ 2·N_c·N: past ~10¹² customers
    move the ppm step to decimal(38,0) (same escalation note as the
    checksum half-sums)."""
    base = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("bigint") / F.lit(100000.0)
        )
        .cast("bigint")
        .alias("bal_bucket"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cls = base.select("c_nationkey", "bal_bucket").distinct()
    seg = base.groupBy("sensitive").agg(F.count(F.lit(1)).alias("n_i"))
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    cell = base.groupBy("c_nationkey", "bal_bucket", "sensitive").agg(
        F.count(F.lit(1)).alias("n_ci")
    )
    from ..operators.ranking import pin_cache

    # the grid feeds two aggregation passes (class totals, then the
    # per-cell abs numerator, which needs those totals first) — pin it
    # or the distinct/cell-agg/join subtree runs twice
    grid = pin_cache(
        cls.join(F.broadcast(seg), F.lit(True))
        .join(cell, ["c_nationkey", "bal_bucket", "sensitive"], "left")
        .select(
            "c_nationkey",
            "bal_bucket",
            "n_i",
            F.coalesce("n_ci", F.lit(0)).alias("n_ci"),
        )
        .crossJoin(F.broadcast(tot))
    )
    grp = grid.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n_ci").alias("n_c"),
        F.max("n").alias("n"),
    )
    # second pass over the grid with the class totals joined back in:
    # the abs() is per-CELL, so it cannot fold in one agg over cells
    num = (
        grid.join(grp.select("c_nationkey", "bal_bucket", "n_c"),
                  ["c_nationkey", "bal_bucket"])
        .groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.sum(
                F.abs(F.col("n_ci") * F.col("n") - F.col("n_i") * F.col("n_c"))
            ).alias("num")
        )
    )
    return (
        grp.join(num, ["c_nationkey", "bal_bucket"])
        .select(
            "c_nationkey",
            "bal_bucket",
            F.col("n_c").cast("bigint").alias("grp_size"),
            F.expr("cast(1000000 * num div (2 * n_c * n) as bigint)").alias(
                "t_ppm"
            ),
            F.expr("1000000 * num div (2 * n_c * n) <= 250000").alias("t_ok"),
        )
    )


# Row digests route NULLs through the NULL_SENTINEL protocol (the
# audit_queries convention): Spark's concat_ws SKIPS null arguments
# while DuckDB's || chain nullifies the whole digest, so a NULL
# user_id/ts/value in a future events fixture would fork the q428/q430
# checksums cross-engine silently. Coalescing every field to the
# sentinel on BOTH engines makes the digest total. chr(0)||'NULL'||
# chr(0) spells functions.hashing.NULL_SENTINEL in both SQL dialects.
_CDC_NULL = "chr(0) || 'NULL' || chr(0)"
_CDC_DIG_DUCK = (
    f"('0x' || substr(md5("
    f"coalesce(user_id::VARCHAR, {_CDC_NULL}) || ':' || "
    f"coalesce(epoch_us(ts)::VARCHAR, {_CDC_NULL}) || ':' || "
    f"coalesce((floor(value * 100)::BIGINT)::VARCHAR, {_CDC_NULL})"
    f"), 1, 8))::BIGINT"
)
_CDC_DIG_SPARK = (
    f"cast(conv(substring(md5(concat_ws(':', "
    f"coalesce(cast(user_id as string), {_CDC_NULL}), "
    f"coalesce(cast(unix_micros(ts) as string), {_CDC_NULL}), "
    f"coalesce(cast(floor(value * 100) as string), {_CDC_NULL})"
    f")), 1, 8), 16, 10) as bigint)"
)


def _cdc_ops(ev: DataFrame) -> DataFrame:
    """The shared upsert/delete op log over events — q428 (compaction)
    and q430 (as-of reads) MUST classify identically or the snapshots
    de-correlate: op = delete for the deterministic md5 tenth of
    event_ids, upsert otherwise. One definition site."""
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.pmod(
                F.expr(
                    "cast(conv(substring(md5(cast(event_id as string)), 1, 8),"
                    " 16, 10) as bigint)"
                ),
                F.lit(10),
            )
            == 0,
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
    )


@query(
    "q428_cdc_log_compaction",
    oracle=f"""
    WITH ops AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ('0x' || substr(md5(cast(event_id as varchar)), 1, 8))::BIGINT
                       % 10 = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ), hor AS (
      SELECT date_trunc('day', max(ts)) - INTERVAL 6 DAY AS h FROM ops
    ), head AS (
      SELECT o.*, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ops o, hor WHERE o.ts < hor.h
    ), latest AS (
      SELECT * FROM head WHERE rn = 1
    ), snap AS (
      SELECT user_id % 8 AS bucket,
             count(*) AS n_keys,
             cast(sum(({_CDC_DIG_DUCK}) & 65535) as bigint) AS checksum_lo,
             cast(sum(({_CDC_DIG_DUCK}) >> 16) as bigint) AS checksum_hi
      FROM latest WHERE op = 'U' GROUP BY 1
    ), dels AS (
      SELECT user_id % 8 AS bucket, count(*) AS n_deleted
      FROM latest WHERE op = 'D' GROUP BY 1
    ), tail AS (
      SELECT user_id % 8 AS bucket, count(*) AS n_tail_ops
      FROM ops o, hor WHERE o.ts >= hor.h GROUP BY 1
    ), spine AS (
      SELECT unnest(range(8)) AS bucket
    )
    SELECT s.bucket::BIGINT AS bucket,
           cast(coalesce(p.n_keys, 0) as bigint) AS n_keys,
           cast(coalesce(d.n_deleted, 0) as bigint) AS n_deleted,
           cast(coalesce(t.n_tail_ops, 0) as bigint) AS n_tail_ops,
           cast(coalesce(p.checksum_lo, 0) as bigint) AS checksum_lo,
           cast(coalesce(p.checksum_hi, 0) as bigint) AS checksum_hi
    FROM spine s
    LEFT JOIN snap p USING (bucket)
    LEFT JOIN dels d USING (bucket)
    LEFT JOIN tail t USING (bucket)
    """,
    tags=("etl", "cdc", "compaction", "state"),
)
def q428_cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC LOG COMPACTION — Kafka-style compacted-topic semantics on a
    lake table: an upsert/delete op log (events as ops on key user_id;
    a deterministic tenth of ops are deletes) splits at a horizon
    (six days before the latest op's day) into a HEAD that collapses to
    latest-op-per-key — upserts become the snapshot, keys whose latest
    head op is a delete vanish — and a TAIL retained verbatim for
    replay/late-consumer catch-up. This completes the CDC family:
    q122 diffs snapshots, q124/q274 APPLY a change set, q87 keeps full
    history; compaction is the retention operation that keeps the log
    itself bounded. Report per key-bucket: snapshot keys, deleted
    keys, tail ops, and the snapshot content checksum (half-sum
    protocol) so the compacted state is value-verified, not just
    counted.

    100 TB story: one key-partitioned window over the HEAD slice only
    (the horizon predicate prunes the tail before the shuffle), tail
    summary is a map-side-combinable count, the horizon is a one-row
    aggregate broadcast — no driver round-trip. Snapshot size is
    bounded by the KEY domain; with a billion keys the same
    latest-per-key collapses via max_by-style aggregation instead of
    the window if rank ties never matter (they do here: ties broken
    by event_id for a deterministic checksum)."""
    from ..functions.hashing import checksum_half_sums

    ops = _cdc_ops(table(spark, sf_dir, "events"))
    hor = ops.agg(
        (F.date_trunc("day", F.max("ts")) - F.expr("INTERVAL 6 DAYS")).alias("h")
    )
    opsh = ops.crossJoin(F.broadcast(hor))
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        opsh.filter(F.col("ts") < F.col("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    bucket = F.pmod(F.col("user_id"), F.lit(8)).alias("bucket")
    dig = F.expr(_CDC_DIG_SPARK)
    is_u = F.col("op") == "U"
    # ONE pass over the (expensive) latest-per-key window: snapshot and
    # delete counts are conditional aggregates of the same frame — a
    # U/D split into two aggregations would run the keyed window twice
    snap = latest.groupBy(bucket).agg(
        F.sum(is_u.cast("bigint")).cast("bigint").alias("n_keys"),
        F.sum((~is_u).cast("bigint")).cast("bigint").alias("n_deleted"),
        *checksum_half_sums(F.when(is_u, dig)),
    )
    tail = opsh.filter(F.col("ts") >= F.col("h")).groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_tail_ops")
    )
    spine = spark.range(8).select(F.col("id").alias("bucket"))
    return (
        spine.join(snap, "bucket", "left")
        .join(tail, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_keys", F.lit(0)).cast("bigint").alias("n_keys"),
            F.coalesce("n_deleted", F.lit(0)).cast("bigint").alias("n_deleted"),
            F.coalesce("n_tail_ops", F.lit(0)).cast("bigint").alias("n_tail_ops"),
            F.coalesce("checksum_lo", F.lit(0)).cast("bigint").alias("checksum_lo"),
            F.coalesce("checksum_hi", F.lit(0)).cast("bigint").alias("checksum_hi"),
        )
    )


@query(
    "q424_mv_rewrite_routing",
    oracle="""
    SELECT year(o_orderdate)::INT AS yr,
           quarter(o_orderdate)::INT AS qtr,
           r_name,
           cast(sum(cast(l_extendedprice as decimal(12,2))
                    * (1 - cast(l_discount as decimal(4,2)))) as double)
             AS revenue,
           cast(count(*) as bigint) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2, 3
    """,
    tags=("etl", "mv", "rewrite", "serving"),
)
def q424_mv_rewrite_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-VIEW REWRITE (aggregate navigator) — the serving
    half of the IVM family: q304/q406 MAINTAIN an aggregate; this
    query ANSWERS from one. A (month × nation) revenue MV is built
    once per corpus and persisted; the quarterly-by-region report is
    then computed ENTIRELY from the MV plus the two dim tables — the
    lineitem fact is not in the routed plan (pinned by a plan test) —
    because the requested grain is a ROLLUP of the MV's grain on both
    axes: month → quarter is functional, nation → region is the dim
    hierarchy. The rewrite-soundness conditions are the classic
    summary-table ones (Gupta/Mumick): the MV's grouping keys
    functionally determine the query's, and the measures are
    re-aggregable (SUM of SUMs, SUM of COUNTs).

    Exactness: the MV stores the per-cell revenue as the EXACT
    decimal sum (never a double) — decimal addition is associative,
    so re-aggregating cells equals the one-shot base aggregation the
    oracle runs, to the bit, after the single final double cast.

    100 TB story: the report scans |months × nations| MV rows
    (~2.1k for seven years) instead of the 100 TB fact — the 10⁶×
    read reduction is the entire point of summary tables; both dim
    joins broadcast, and MV maintenance (not re-derivation) is
    already covered by the signed-delta machinery of q304/q406."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")

    def build(sd: str) -> None:
        rev = dec("l_extendedprice", 12, 2) * (
            F.lit(1).cast("decimal(3,2)") - dec("l_discount", 4, 2)
        )
        (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy(
                F.year("o_orderdate").alias("yr"),
                F.quarter("o_orderdate").alias("qtr"),
                F.month("o_orderdate").alias("mo"),
                "c_nationkey",
            )
            .agg(
                F.sum(rev).alias("rev_dec"),
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
            )
            .write.parquet(sd + "/mv_month_nation")
        )

    mv = spark.read.parquet(query_state("q424", sf_dir, build)[0] + "/mv_month_nation")
    return (
        mv.join(F.broadcast(n), mv.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("yr", "qtr", "r_name")
        .agg(
            F.sum("rev_dec").cast("double").alias("revenue"),
            F.sum("n_items").cast("bigint").alias("n_items"),
        )
    )


# revenue as an exact x10^4 integer: l_extendedprice is 2-decimal and
# (1 - l_discount) is 2-decimal, so cents x discount-cents is exact —
# the integer twin of the decimal-money protocol that signed_view_merge
# (bigint additive algebra) can carry. Overflow headroom: ~1e9 per row
# => int64 safe to ~6e9 rows per cell-group; past that, decimal(38,0).
_REV_E4_SPARK = (
    "cast(round(l_extendedprice * 100) as bigint)"
    " * cast(round((1 - l_discount) * 100) as bigint)"
)
_REV_E4_DUCK = (
    "round(l_extendedprice * 100)::BIGINT * round((1 - l_discount) * 100)::BIGINT"
)


@query(
    "q429_mv_incremental_refresh",
    oracle=f"""
    SELECT year(o_orderdate)::INT AS yr,
           quarter(o_orderdate)::INT AS qtr,
           r_name,
           cast(count(*) as bigint) AS n_items,
           cast(sum({_REV_E4_DUCK}) as bigint) AS revenue_e4
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= timestamp '1998-01-01 00:00:00'
       OR o_orderkey % 97 <> 0
    GROUP BY 1, 2, 3
    """,
    tags=("etl", "mv", "ivm", "incremental", "state"),
)
def q429_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAIN-then-SERVE — closes the loop q424 opened: the same
    (month × nation) revenue MV is REFRESHED with a signed delta
    (operators/state.py::signed_view_merge, the q304/q406 retraction
    algebra) and then ANSWERS the quarterly-by-region report from the
    refreshed state. The delta carries both directions at once: the
    1998+ order batch as +1 rows AND a correction slice (history
    orders with o_orderkey % 97 = 0, a recall/chargeback wave) as −1
    retractions — one keyed additive merge, support-counted so
    fully-retracted cells vanish rather than lingering as zeros.

    Exactness: revenue rides the ×10⁴ integer protocol (cents ×
    discount-cents — exact because both factors are 2-decimal), so
    the signed algebra is pure int64 addition and the refreshed MV
    bit-equals the from-scratch aggregate the oracle computes over
    (history − retracted) ∪ batch.

    100 TB story: the history fact is read ZERO times at refresh —
    the delta aggregates only the batch and the (tiny) retraction
    slice, the merge shuffles only MV-domain rows, and the report
    reads the refreshed MV + broadcast dims exactly like q424. This
    is the full lifecycle of a production summary table: build once
    (setup), maintain by delta, serve by rollup."""
    from ..operators.state import signed_view_merge

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")

    grain = [
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mo"),
        "c_nationkey",
    ]

    def cells(orders_slice: DataFrame, sign: int) -> DataFrame:
        return (
            li.join(orders_slice, li.l_orderkey == orders_slice.o_orderkey)
            .join(c, F.col("o_custkey") == c.c_custkey)
            .groupBy(*grain)
            .agg(
                F.sum(F.lit(sign)).cast("bigint").alias("n_items"),
                F.sum(F.lit(sign) * F.expr(_REV_E4_SPARK))
                .cast("bigint")
                .alias("rev_e4"),
            )
        )

    hist = o.filter(F.col("o_orderdate") < "1998-01-01")

    def build(sd: str) -> None:
        cells(hist, +1).write.parquet(sd + "/mv_signed")

    state = spark.read.parquet(query_state("q429", sf_dir, build)[0] + "/mv_signed")

    batch = cells(o.filter(F.col("o_orderdate") >= "1998-01-01"), +1)
    retract = cells(hist.filter(F.col("o_orderkey") % 97 == 0), -1)
    refreshed = signed_view_merge(
        state,
        batch.unionByName(retract),
        ["yr", "qtr", "mo", "c_nationkey"],
        ["n_items", "rev_e4"],
    )
    return (
        refreshed.join(F.broadcast(n), refreshed.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("yr", "qtr", "r_name")
        .agg(
            F.sum("n_items").cast("bigint").alias("n_items"),
            F.sum("rev_e4").cast("bigint").alias("revenue_e4"),
        )
    )


@query(
    "q430_asof_snapshot_read",
    oracle=f"""
    WITH ops AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ('0x' || substr(md5(cast(event_id as varchar)), 1, 8))::BIGINT
                       % 10 = 0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ), vers AS (
      SELECT unnest([timestamp '2024-01-10 00:00:00',
                     timestamp '2024-01-20 00:00:00']) AS v
    ), head AS (
      SELECT v, o.*, row_number() OVER (PARTITION BY v, user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ops o JOIN vers ON o.ts < vers.v
    ), latest AS (
      SELECT * FROM head WHERE rn = 1
    )
    SELECT strftime(v, '%Y-%m-%d') AS version,
           user_id % 4 AS bucket,
           cast(count(*) FILTER (op = 'U') as bigint) AS n_keys,
           cast(count(*) FILTER (op = 'D') as bigint) AS n_deleted,
           cast(coalesce(sum(({_CDC_DIG_DUCK}) & 65535) FILTER (op = 'U'), 0)
                as bigint) AS checksum_lo,
           cast(coalesce(sum(({_CDC_DIG_DUCK}) >> 16) FILTER (op = 'U'), 0)
                as bigint) AS checksum_hi
    FROM latest
    GROUP BY 1, 2
    """,
    tags=("etl", "cdc", "timetravel", "mvcc"),
)
def q430_asof_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL TIME TRAVEL — the MVCC complement of q415's
    generation-level reads: over the same upsert/delete op log as
    q428, reconstruct the keyed snapshot AS OF two version timestamps
    at once (`VERSION AS OF` semantics reduced to the primitive:
    latest op per key among ops strictly before T, delete-latest keys
    absent). Both versions are value-verified per key-bucket with the
    q428 digest (half-sum protocol), so a wrong tie-break or boundary
    (< vs ≤) hash-mismatches rather than merely miscounting.

    100 TB story: one window partitioned by (version, key) over the
    version-pruned log slice — reading as-of T scans only ops before
    T (the predicate reaches the scan), and a production layout would
    partition the log by day so version pruning is partition pruning.
    K simultaneous versions cost one K-way fan-out of the pruned
    slice, not K scans — how backfill jobs diff a pipeline against
    its last-known-good snapshot without replaying the log twice."""
    from ..functions.hashing import checksum_half_sums

    ops = _cdc_ops(table(spark, sf_dir, "events"))
    vers = spark.range(1).select(
        F.explode(
            F.array(
                F.lit("2024-01-10 00:00:00").cast("timestamp"),
                F.lit("2024-01-20 00:00:00").cast("timestamp"),
            )
        ).alias("v")
    )
    head = ops.join(F.broadcast(vers), ops.ts < vers.v)
    w = W.partitionBy("v", "user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = head.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    dig = F.expr(_CDC_DIG_SPARK)
    is_u = F.col("op") == "U"
    return latest.groupBy(
        F.date_format("v", "yyyy-MM-dd").alias("version"),
        F.pmod(F.col("user_id"), F.lit(4)).alias("bucket"),
    ).agg(
        F.sum(is_u.cast("bigint")).cast("bigint").alias("n_keys"),
        F.sum((~is_u).cast("bigint")).cast("bigint").alias("n_deleted"),
        *[
            F.coalesce(c, F.lit(0)).cast("bigint").alias(name)
            for c, name in zip(
                checksum_half_sums(F.when(is_u, dig)),
                ["checksum_lo", "checksum_hi"],
            )
        ],
    )
