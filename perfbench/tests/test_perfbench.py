"""The benchmark's own tests: seeded inputs, the mock API's page plan,
the event-log fold, the oracle comparator, and a toy-size run of every
workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.loadgen import PAGE_SIZE, SfmcServer, Timeline  # noqa: E402
from perfbench.oracle import mismatch  # noqa: E402
from perfbench.trace import Spans, fold_event_log  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _timeline(seed: int) -> Timeline:
    return Timeline(seed, n_initial=6_000, n_deltas=2, resend_per_delta=30)


def test_timeline_is_deterministic_per_seed():
    a, b, c = _timeline(5), _timeline(5), _timeline(6)
    assert a.item_ids.tolist() == b.item_ids.tolist()
    assert a.page_payload(0, a.stage_len[-1]) == b.page_payload(0, b.stage_len[-1])
    assert a.page_payload(0, a.stage_len[-1]) != c.page_payload(0, c.stage_len[-1])


def test_timeline_shares_and_expectations():
    t = Timeline(3, n_initial=20_000, n_deltas=3, delta_share=0.05, resend_per_delta=40, dup_share=0.01)
    assert t.stage_len[0] == 20_000
    assert t.new_distinct == [19_800, 990, 990, 990, 0]
    # every stage after the first adds its new items plus the re-sends
    assert [b - a for a, b in zip(t.stage_len, t.stage_len[1:])] == [1030, 1030, 1030, 40]
    ids = t.item_ids.tolist()
    for stage in range(t.n_stages):
        assert len(set(ids[: t.stage_len[stage]])) == t.distinct_through(stage)
    # the edge cases the reference handles are all present
    assert 0.05 < t.missing_keys.mean() < 0.11
    assert 0.03 < t.long_name.mean() < 0.07
    assert 0.02 < t.bad_date.mean() < 0.06
    item = json.loads(b"[" + t.page_payload(0, 50) + b"]")[0]
    assert set(item) == {"keys", "values"}


def test_fixture_tables_are_deterministic_per_seed():
    a, b, c = datagen.build_tables(0.001, 4), datagen.build_tables(0.001, 4), datagen.build_tables(0.001, 5)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == datagen.row_counts(0.001)[name]
    assert not a["lineitem"].equals(c["lineitem"])


def test_served_pages_match_plan_pages():
    """Each stage's read serves the count probe plus exactly the pages
    ``plan_pages`` predicts from the target's row count."""
    from marketingcloud_etl_spark.sources.rest import _RestPagesReader, plan_pages

    t = _timeline(7)
    with SfmcServer(t, max_conns=2) as srv:
        for stage in range(t.n_stages):
            db_count = 0 if stage == 0 else t.distinct_through(stage - 1)
            srv.publish(stage)
            srv.reset_counters()
            reader = _RestPagesReader(
                None,
                {"base_url": srv.base_url, "auth_url": srv.auth_url, "client_id": "c", "client_secret": "s",
                 "db_count": str(db_count), "page_size": str(PAGE_SIZE)},
            )
            rows = sum(len(list(reader.read(p))) for p in reader.partitions())
            served = srv.counters()["page_requests"]
            planned = plan_pages(t.stage_len[stage], db_count)
            assert served[0] == 1  # the count probe
            assert sorted(served[1:]) == planned
            first = (planned[0] - 1) * PAGE_SIZE if planned else t.stage_len[stage]
            assert rows == t.stage_len[stage] - first


def test_fold_on_recorded_log():
    """A recorded log (AQE off, 4 shuffle partitions): a ``probe:demo``
    count the fold must leave out; ``op:demo:build`` runs two filtered
    scans of a one-file table (each a listing job plus a one-task scan
    job); ``op:demo:collect`` runs a grouped count (a listing job plus a
    one-task scan stage and a four-task shuffle stage)."""
    m = fold_event_log(os.path.join(DATA, "eventlog"), wall_s=2.0, cores=4)
    assert m["spark.jobs"] == 6
    assert m["plans.eager_jobs"] == 4
    assert m["spark.stages"] == 7
    assert m["spark.tasks"] == 10
    assert m["io.scan_tasks"] == 3
    assert m["io.single_task_scan_stages"] == 3
    assert m["spark.shuffle_write_mb"] > 0 and m["spark.shuffle_read_mb"] > 0
    assert m["spark.executor_run_s"] > 0
    assert m["spark.slot_utilization"] == pytest.approx(m["spark.executor_run_s"] / 8.0)


def test_span_self_times():
    spans = Spans()
    with spans.span("outer"):
        with spans.span("inner"):
            pass
        with spans.span("inner"):
            pass
    for r, (start, end) in zip(spans.records, ((0.0, 10.0), (1.0, 3.0), (4.0, 8.0))):
        r["start"], r["end"] = start, end
    assert spans.self_times() == {"outer": 4.0, "inner": 6.0}


def test_oracle_comparator():
    a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, None], "s": ["x", "y"]})
    b = pd.DataFrame({"s": ["y", "x"], "v": [None, 0.3], "k": [1, 2]})
    assert mismatch(a, b) is None
    assert "rows" in mismatch(a, b.iloc[:1])
    assert "row" in mismatch(a, b.assign(s=["y", "z"]))


def test_smoke_runs_every_workload():
    """Toy sizes (sf0.001, small corpus): every workload end to end."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "all", "--seed", "3", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 4 + 10 + 10
    for w in ("etl_lead_activity", "query_analytic", "query_stateful"):
        for m in ("setup_s", "total_s", "geomean_s", "peak_rss_mb"):
            assert result["metrics"][f"{w}.{m}"]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(ROOT, "perfbench", name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_analytic", "--seed", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
