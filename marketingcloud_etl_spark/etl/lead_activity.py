"""Lead-activity pipeline — reference parity (R5-R16), Spark-native.

The reference (/root/reference/app/salesforce_extractor.py) runs:
fetch pages → flatten {keys,values} (:153-181) → clean (:171) → parse
date (:138-151) → content-hash (:179-181) → batch upsert with
insert-ignore (:197-230) — in two modes, ``bulk`` (TRUNCATE+reload,
:332-371) and ``incremental`` (COUNT watermark → page offset,
:373-395).

Here the same dataflow is one declarative plan: the REST DataSource
emits page-partitioned nested rows, ``flatten_lead_activity`` is a
single select (Catalyst fuses it into the scan projection), dedup is
dropDuplicates + anti-join against the target, and the sink is
overwrite/append parquet (JDBC variant in sinks/upsert.py). Pages
fetch in parallel, one contiguous page range per task slot — the
reference's sequential loop (:276-278) becomes the cluster's fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import content_hash
from ..sinks.upsert import overwrite_parquet, upsert_parquet
from ..sources.rest import check_page_size, register_rest_source, slot_options

# reference date format "%m/%d/%Y %I:%M:%S %p" (:140) → Spark pattern;
# both parsers accept non-padded month/day/hour and return null on
# failure (non-ANSI), matching _parse_date's None-on-error (:149-151)
DATE_FMT = "M/d/yyyy h:mm:ss a"

_RAW_FIELDS = (
    "keys.lead_id",
    "keys.url",
    "keys.session_id",
    "keys.order",
    "values.type_id",
    "values.event_category",
    "values.event_name",
    "values.date",
)


def flatten_lead_activity(items: DataFrame) -> DataFrame:
    """R5-R10 as one projection over the nested item rows.

    * missing keys → "" (R6, :163-168)
    * event_name: strip query string + cap at 256 chars (R7/R8, :171)
    * date: null-safe timestamp parse (R9, :138-151)
    * hash: deterministic content hash over the raw record (R10,
      :179-181) — computed BEFORE cleaning, like the reference (which
      hashes the raw item dict), so a re-fetch of the same raw item
      always dedups regardless of cleaning rules.
    """
    g = lambda p: F.col(p)  # noqa: E731
    raw_hash = content_hash([F.col(f) for f in _RAW_FIELDS], alias="hash")
    return items.select(
        raw_hash,
        F.coalesce(g("keys.lead_id"), F.lit("")).alias("lead_id"),
        F.coalesce(g("keys.url"), F.lit("")).alias("url"),
        F.coalesce(g("keys.session_id"), F.lit("")).alias("session_id"),
        F.coalesce(g("keys.order"), F.lit("")).alias("order"),
        # try_to_timestamp: null on parse failure regardless of the
        # session's ANSI setting (Spark 4 defaults ANSI on; plain
        # to_timestamp would throw) — the reference's None-on-error
        F.try_to_timestamp(g("values.date"), F.lit(DATE_FMT)).alias("date"),
        F.coalesce(g("values.type_id"), F.lit("")).alias("type_id"),
        F.coalesce(g("values.event_category"), F.lit("")).alias("event_category"),
        F.substring(
            F.split(F.coalesce(g("values.event_name"), F.lit("")), r"\?").getItem(0), 1, 256
        ).alias("event_name"),
    )


def read_lead_activity(
    spark: SparkSession,
    base_url: str,
    auth_url: str = "",
    client_id: str = "",
    client_secret: str = "",
    db_count: int = 0,
    page_size: int = 2500,
) -> DataFrame:
    check_page_size(page_size)
    register_rest_source(spark)
    return (
        spark.read.format("rest_pages")
        .option("base_url", base_url)
        .option("auth_url", auth_url)
        .option("client_id", client_id)
        .option("client_secret", client_secret)
        .option("db_count", str(db_count))
        .option("page_size", str(page_size))
        .options(**slot_options(spark))
        .load()
    )


def bulk_extract(
    spark: SparkSession,
    base_url: str,
    target_path: str,
    auth_url: str = "",
    client_id: str = "",
    client_secret: str = "",
    page_size: int = 2500,
) -> int:
    """R15: full refresh — fetch everything, dedup in-batch, overwrite
    the target (the declarative TRUNCATE+reload)."""
    items = read_lead_activity(
        spark, base_url, auth_url, client_id, client_secret, db_count=0, page_size=page_size
    )
    flat = flatten_lead_activity(items).dropDuplicates(["hash"])
    return overwrite_parquet(flat, target_path)


def incremental_extract(
    spark: SparkSession,
    base_url: str,
    target_path: str,
    auth_url: str = "",
    client_id: str = "",
    client_secret: str = "",
    page_size: int = 2500,
) -> dict:
    """R16: count-watermark incremental — the target row count seeds
    the source's page pruning (only pages ≥ count/page_size fetch; a
    partially-ingested boundary page re-fetches and its duplicates die
    in the anti-join, exactly the reference's unique-constraint safety
    net at :214-217)."""
    from .._compat import parquet_count

    db_count = parquet_count(spark, target_path)
    items = read_lead_activity(
        spark, base_url, auth_url, client_id, client_secret, db_count=db_count, page_size=page_size
    )
    flat = flatten_lead_activity(items)
    return upsert_parquet(flat, target_path, key="hash")
