"""End-to-end tests for the REST DataSource + lead-activity pipeline —
the engine's reference-parity surface (R1-R16), driven against the
deterministic mock SFMC server.

Pins: flatten/clean semantics (R5-R9), cross-page dedup (R10/R12),
count-watermark page pruning (R3/R16), 401 re-auth retry (R2), page
ranges packed one per task slot, and idempotence (re-running
incremental inserts nothing) — the reference pipeline's core
invariant (unique hash constraint + insert-ignore,
/root/reference/app/salesforce_extractor.py:66,214-217).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import marketingcloud_etl_spark.etl.lead_activity as la
from marketingcloud_etl_spark.etl.cli import main as cli_main
from marketingcloud_etl_spark.etl.lead_activity import bulk_extract, incremental_extract, read_lead_activity
from marketingcloud_etl_spark.sinks.upsert import overwrite_parquet
from marketingcloud_etl_spark.sources.mock_sfmc import PAGE_SIZE, MockSfmcServer
from marketingcloud_etl_spark.sources.rest import _PagePartition, plan_pages, split_pages

N_ITEMS = 35  # 4 pages of 10; item[10] duplicates item[0]


@pytest.fixture()
def server():
    with MockSfmcServer(n_items=N_ITEMS) as s:
        yield s


def _bulk(spark, server, target) -> int:
    return bulk_extract(
        spark,
        base_url=server.base_url,
        target_path=str(target),
        auth_url=server.auth_url,
        client_id="id",
        client_secret="secret",
        page_size=PAGE_SIZE,
    )


def test_plan_pages_pruning_math():
    # R3: resume at the page holding the first un-ingested record
    assert plan_pages(35, 0, 10) == [1, 2, 3, 4]
    assert plan_pages(35, 34, 10) == [4]  # partial boundary page refetches
    assert plan_pages(35, 35, 10) == []  # nothing new → no fetch at all
    assert plan_pages(0, 0, 10) == []
    # exact page boundary: page 1 fully ingested → start at page 2
    assert plan_pages(2500 * 3, 2500, 2500) == [2, 3]


def test_bulk_flatten_clean_dedup(spark, server, tmp_path):
    target = tmp_path / "lead_activity"
    rows = _bulk(spark, server, target)
    # 35 raw items, one exact duplicate planted across the page boundary
    assert rows == N_ITEMS - 1

    df = spark.read.parquet(str(target))
    out = {r["lead_id"]: r for r in df.collect()}
    # R7: query strings stripped; R8: 256-char cap
    assert all("?" not in r["event_name"] for r in out.values())
    assert max(len(r["event_name"]) for r in out.values()) == 256
    # R6: missing keys → "" (never null)
    assert out["L-00011"]["session_id"] == ""
    assert df.filter(F.col("session_id").isNull()).count() == 0
    # R9: unparseable date → null, parseable → real timestamp
    assert out["L-00017"]["date"] is None
    assert out["L-00001"]["date"] is not None


def test_incremental_idempotent_and_pruned(spark, server, tmp_path):
    target = tmp_path / "lead_activity"
    rows = _bulk(spark, server, target)
    assert rows == N_ITEMS - 1

    server.page_calls.clear()
    result = incremental_extract(
        spark,
        base_url=server.base_url,
        target_path=str(target),
        auth_url=server.auth_url,
        client_id="id",
        client_secret="secret",
        page_size=PAGE_SIZE,
    )
    # idempotence: everything already present → nothing inserted
    assert result["inserted"] == 0
    # R3/R16 pruning: db_count=34 → only the probe (page 1) and the
    # boundary page (page 4) are ever fetched — pages 2-3 are pruned
    # inside the source's partition planning
    assert set(server.page_calls) <= {1, 4}
    assert spark.read.parquet(str(target)).count() == N_ITEMS - 1


def test_rest_source_401_reauth_retry(spark, server_factory=None):
    with MockSfmcServer(n_items=N_ITEMS, fail_first_with_401=True) as s:
        df = read_lead_activity(
            spark,
            base_url=s.base_url,
            auth_url=s.auth_url,
            client_id="id",
            client_secret="secret",
            page_size=PAGE_SIZE,
        )
        assert df.count() == N_ITEMS  # raw items (pre-dedup)
        # R2: the 401 triggered a re-auth — at least the initial auth + retry
        assert s.auth_calls >= 2


def test_cli_demo_bulk_then_incremental(spark, tmp_path):
    target = str(tmp_path / "cli_demo")
    r1 = cli_main(["bulk", "--demo", "--target", target])
    assert r1 == {"mode": "bulk", "rows": N_ITEMS - 1}
    r2 = cli_main(["incremental", "--demo", "--target", target])
    assert r2["mode"] == "incremental"
    assert r2["inserted"] == 0


def test_cli_env_var_config(spark, tmp_path, monkeypatch):
    """R18 parity: the reference reads its whole connection config from
    env (salesforce_extractor.py:36-44) — the CLI must accept the same
    variables as fallback for unset flags, and db_config_from_env must
    mirror USERNAME/PASSWORD/HOST/PORT/SCHEMA with the dotenv default
    schema 'uat'."""
    from marketingcloud_etl_spark.etl.cli import db_config_from_env
    from marketingcloud_etl_spark.sources.mock_sfmc import MockSfmcServer

    with MockSfmcServer(n_items=7) as s:
        monkeypatch.setenv("MKT_CLOUD_DATA_ENDPOINT", s.base_url)
        monkeypatch.setenv("MKT_CLOUD_AUTH_ENDPOINT", s.auth_url)
        monkeypatch.setenv("CLIENT_ID", "demo")
        monkeypatch.setenv("CLIENT_SECRET", "demo")
        target = str(tmp_path / "cli_env")
        # no --base-url/--auth-url/--client-* flags: env supplies them all
        r = cli_main(["bulk", "--target", target, "--page-size", "3"])
        assert r["mode"] == "bulk" and r["rows"] >= 1

    monkeypatch.setenv("USERNAME", "u")
    monkeypatch.setenv("PASSWORD", "p")
    monkeypatch.setenv("HOST", "db.internal")
    monkeypatch.setenv("PORT", "3306")
    monkeypatch.delenv("SCHEMA", raising=False)
    cfg = db_config_from_env()
    assert cfg["schema"] == "uat"  # the reference's dotenv default
    assert cfg["url"] == "jdbc:mysql://db.internal:3306/uat"
    monkeypatch.setenv("SCHEMA", "prod")
    assert db_config_from_env()["schema"] == "prod"


def test_partitioned_upsert_idempotent(spark, sf_dir, tmp_path):
    """Partitioned target (top level holds only partition dirs): the
    existence probe must still see it, or a re-run would double every
    row — the reviewer-found _SUCCESS-marker gap."""
    import os

    from marketingcloud_etl_spark.io import table as iotable
    from marketingcloud_etl_spark.sinks.upsert import upsert_parquet

    target = str(tmp_path / "events_part")
    e = iotable(spark, sf_dir, "events").select("event_id", "event_type", "value")
    r1 = upsert_parquet(e, target, key="event_id", partition_cols=["event_type"])
    assert r1["inserted"] > 0
    # simulate a committer that writes no top-level _SUCCESS marker
    marker = os.path.join(target, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    r2 = upsert_parquet(e, target, key="event_id", partition_cols=["event_type"])
    assert r2["inserted"] == 0
    assert spark.read.parquet(target).count() == r1["inserted"]


def test_streaming_rest_source_complete_pages(spark, server, tmp_path):
    """Streaming REST ingestion (rest_pages streamReader): the offset
    advances by COMPLETE pages only, so with 35 items / page size 10
    exactly 30 rows (pages 1-3) arrive and the still-filling page 4 is
    never fetched — no duplicate fetch, no partial-page re-read. A
    restart from the checkpoint ingests nothing new (offsets fully
    define progress)."""
    from marketingcloud_etl_spark.sources.rest import register_rest_source

    register_rest_source(spark)
    ck = str(tmp_path / "ck")

    def run_once(name):
        # memory sink refuses checkpoint recovery; foreachBatch +
        # parquet-append supports it (same pattern as the tws test)
        out_dir = str(tmp_path / name)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            spark.readStream.format("rest_pages")
            .options(
                base_url=server.base_url,
                auth_url=server.auth_url,
                client_id="id",
                client_secret="secret",
                page_size=PAGE_SIZE,
            )
            .load()
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(out_dir)
        except Exception:
            return spark.createDataFrame([], "page int")  # nothing written

    out = run_once("rest_stream_1")
    assert out.count() == 30  # 3 complete pages; partial page 4 deferred
    pages = {r.page for r in out.select("page").distinct().collect()}
    assert pages == {1, 2, 3}
    # every page fetched exactly once: 30 raw rows, 29 distinct leads
    # (the corpus plants item[10] = item[0] across the page boundary —
    # the source delivers raw rows; dedup is the sink's job, R10/R12)
    assert out.select("keys.lead_id").distinct().count() == 29

    again = run_once("rest_stream_2")
    assert again.count() == 0  # restart: offset already at 3 complete pages


def _with_slots(monkeypatch, slots: str | None) -> None:
    """Make ``read_lead_activity`` pass ``slots`` (None: no option)."""
    monkeypatch.setattr(la, "slot_options", lambda spark: {"slots": slots} if slots else {})


@pytest.mark.parametrize("slots", [1, 2, 3, 4, 7])
@pytest.mark.parametrize(
    "plan",
    [(35, db_count, 10) for db_count in (0, 9, 10, 15, 25, 34, 35)] + [(2500 * 47 + 1, 0, 2500)],
)
def test_split_pages_contiguous_balanced_ranges(slots, plan):
    pages = plan_pages(*plan)
    runs = split_pages(pages, slots)
    assert len(runs) == min(slots, len(pages))
    # contiguous runs, in order, that together are exactly the plan
    assert [p for run in runs for p in run] == pages
    assert all(list(run) == list(range(run[0], run[-1] + 1)) for run in runs)
    sizes = [len(run) for run in runs]
    assert not sizes or max(sizes) - min(sizes) <= 1
    # no slot count → one page per partition, as the one-page form builds
    assert [list(run) for run in split_pages(pages, None)] == [[p] for p in pages]
    assert [list(_PagePartition(p).pages) for p in pages] == [[p] for p in pages]


def test_bulk_rows_identical_for_any_slot_count(spark, server, tmp_path, monkeypatch):
    """Packing pages into fewer tasks changes neither the source rows
    (``page`` included), nor the target rows, nor the fetches: every
    planned page exactly once, plus the count probe of page 1."""
    planned = plan_pages(N_ITEMS, 0, PAGE_SIZE)
    results = {}
    for slots in ("1", "2", None):
        _with_slots(monkeypatch, slots)
        server.page_calls.clear()
        target = str(tmp_path / f"slots_{slots}")
        assert _bulk(spark, server, target) == N_ITEMS - 1
        assert sorted(server.page_calls) == sorted([1] + planned)
        items = read_lead_activity(
            spark, server.base_url, server.auth_url, "id", "secret", page_size=PAGE_SIZE
        ).collect()
        assert {r["page"] for r in items} == set(planned)
        results[slots] = (
            sorted(map(str, items)),
            sorted(tuple(r) for r in spark.read.parquet(target).collect()),
        )
    assert results["1"] == results["2"] == results[None]


def test_rest_source_reauth_mid_partition(spark, monkeypatch):
    """A token that goes stale between two pages of one partition is
    refreshed once and the partition carries on: every page fetched
    once, every raw item delivered with its own page number."""
    _with_slots(monkeypatch, "1")  # one partition holding pages 1-4
    with MockSfmcServer(n_items=N_ITEMS, expire_token_on_page=3) as s:
        df = read_lead_activity(
            spark, base_url=s.base_url, auth_url=s.auth_url, client_id="id", client_secret="secret", page_size=PAGE_SIZE
        )
        assert df.rdd.getNumPartitions() == 1
        pages = [r["page"] for r in df.select("page").collect()]
        assert s.expire_token_on_page is None  # the token did rotate
        assert s.auth_calls >= 2  # the probe's auth, then the re-auth
        assert sorted(s.page_calls[1:]) == [1, 2, 3, 4]  # after the probe
    assert pages == sorted(pages) and len(pages) == N_ITEMS
    assert {p: pages.count(p) for p in set(pages)} == {1: 10, 2: 10, 3: 10, 4: 5}


def test_rest_scan_fans_out_at_most_default_parallelism(spark):
    """Fan-out guard: the REST scan stage runs at most one task per
    slot, however many pages are planned — a return to one task per
    page fails here instead of silently costing a Python task each."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    n_pages = 2 * slots + 3
    group = "test-rest-fanout"
    with MockSfmcServer(n_items=n_pages * PAGE_SIZE) as s:
        sc.setJobGroup(group, group)
        try:
            n = read_lead_activity(
                spark, base_url=s.base_url, auth_url=s.auth_url, client_id="id", client_secret="secret",
                page_size=PAGE_SIZE,
            ).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sorted(s.page_calls[1:]) == list(range(1, n_pages + 1))
    assert n == n_pages * PAGE_SIZE
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert max(tasks) == slots, tasks


@pytest.mark.parametrize("partition_cols", [None, ["p"]])
def test_overwrite_parquet_returns_written_rows(spark, tmp_path, partition_cols):
    """The count observed on the write equals a re-read of the target,
    after an in-batch dedup, for a plain and a partitioned target."""
    target = str(tmp_path / "t")
    df = spark.range(1000).selectExpr("id % 317 AS k", "id % 3 AS p").dropDuplicates(["k"])
    assert overwrite_parquet(df, target, partition_cols) == spark.read.parquet(target).count() == 317
    # overwriting with an empty frame writes, and returns, 0 rows
    empty = df.filter("k < 0")
    assert overwrite_parquet(empty, target, partition_cols) == 0


def test_failed_overwrite_keeps_the_old_target(spark, tmp_path):
    """An overwrite whose task raises leaves the old target whole and
    readable: the new rows are staged beside it and swapped in only once
    they are complete. A narrow plan (no shuffle) is the case where
    Spark's own overwrite deletes the target before any task runs."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    target = str(tmp_path / "t")
    assert overwrite_parquet(spark.range(1000), target) == 1000
    bad = spark.range(10).withColumn("x", F.raise_error(F.lit("task failed")))
    with pytest.raises((PySparkException, Py4JJavaError)):
        overwrite_parquet(bad, target)
    assert spark.read.parquet(target).count() == 1000
    # the next overwrite replaces it and leaves no staging dir behind
    assert overwrite_parquet(spark.range(5), target) == 5
    assert spark.read.parquet(target).count() == 5
    assert [p.name for p in tmp_path.iterdir()] == ["t"]


def _target_state(spark, target):
    files = sorted((p.name, p.stat().st_size) for p in target.iterdir())
    rows = sorted(repr(r) for r in spark.read.parquet(str(target)).collect())
    return files, rows


def test_read_with_nothing_new_returns_no_rows(spark, server):
    """R3's skip-everything: API count ≤ target count plans no pages,
    and the scan yields no rows instead of failing."""
    items = read_lead_activity(
        spark, base_url=server.base_url, auth_url=server.auth_url, client_id="id",
        client_secret="secret", db_count=N_ITEMS, page_size=PAGE_SIZE,
    )
    assert items.count() == 0


def test_noop_incremental_leaves_target_unchanged(spark, server, tmp_path):
    """An incremental run against an API that holds fewer items than
    the target inserts nothing and leaves the target's files and rows
    as they were."""
    target = tmp_path / "lead_activity"
    assert _bulk(spark, server, target) == N_ITEMS - 1
    before = _target_state(spark, target)
    with MockSfmcServer(n_items=20) as small:
        result = incremental_extract(
            spark, base_url=small.base_url, target_path=str(target), auth_url=small.auth_url,
            client_id="id", client_secret="secret", page_size=PAGE_SIZE,
        )
    assert result["inserted"] == 0
    assert _target_state(spark, target) == before


@pytest.mark.parametrize("page_size", [0, -1])
def test_bad_page_size_rejected_before_overwrite(spark, server, tmp_path, page_size):
    target = tmp_path / "lead_activity"
    assert _bulk(spark, server, target) == N_ITEMS - 1
    before = _target_state(spark, target)
    with pytest.raises(ValueError, match="page_size"):
        bulk_extract(
            spark, base_url=server.base_url, target_path=str(target), auth_url=server.auth_url,
            client_id="id", client_secret="secret", page_size=page_size,
        )
    with pytest.raises(ValueError, match="page_size"):
        plan_pages(120000, 0, page_size)
    assert _target_state(spark, target) == before
