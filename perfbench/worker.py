"""One measured workload run, in a fresh process.

``python -m perfbench.worker --workload W --seed N --trace 0|1 --work DIR
--out FILE [--smoke] [--no-check]`` is started by ``run.py`` with its
own ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under DIR. It builds the inputs
from the seed, starts one Spark session on ``local[cores]``, runs the
workload's set-up, times its operations one after another (a closed
loop: each call waits for the previous one), checks every result
untimed, and writes one JSON document to FILE.

With ``--trace 1`` it also records spans around calls into the
program's public functions, tags each operation with a Spark job group,
listens to streaming progress, writes Spark's event log, and folds all
of it into per-layer numbers (``layers`` in the output).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.perf_counter()

# q129 (set-similarity join) and q132 (RFM segmentation) are left out to
# fit the time budget of a run: q129's DuckDB oracle alone takes ~6 s,
# q132 took 5-7 s and was the least steady query, and its window shape is
# also q22's
ANALYTIC = (
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q22_window_topk",
    "q42_tfidf",
    "q119_median_mad_outliers",
    "q294_market_share",
    "q357_grouped_quantile_scalable",
    "q365_iqr_outlier_fences",
    "q408_table_checksum_reconcile",
    "q409_column_profile_audit",
)
STATEFUL = (
    "q342_pagerank_exact",
    "q360_label_propagation",
    "q388_incremental_minhash_state",
    "q391_incremental_components_state",
    "q392_stream_incremental_dedup",
    "q395_corpus_refresh_pipeline",
    "q402_incremental_quantile_state",
    "q414_warm_start_pagerank",
    "q437_stream_semantic_dedup",
    "q443_stream_bm25_maintenance",
)
# Untimed set-up calls before the timed pass. query_stateful calls every
# query once at its own scale: a state query's first call at a scale
# builds the persisted state later calls reuse (the split bench.py makes
# with SETUP_QUERIES). query_analytic warms the JVM, codegen and Python
# workers with three toy-scale queries (aggregate, join, window).
WARMUP = ("q01_pricing_summary", "q05_revenue_by_nation", "q22_window_topk")
SIZES = {
    # initial corpus items, timed deltas, query scale factors
    "full": {"items": 120_000, "deltas": 2, "analytic_sf": 0.01, "stateful_sf": 0.02},
    "smoke": {"items": 10_000, "deltas": 2, "analytic_sf": 0.001, "stateful_sf": 0.001},
}
# toy corpus of two pages per core, so the warm-up starts every Python
# worker the timed bulk load will use
TOY_PAGES_PER_CORE = 2
TOY_SF = 0.001
CLIENT = ("perfbench-client", "perfbench-secret")
SETTLE_S = 0.15
DRIVER_MEMORY = "2g"


def _cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def start_spark(work: str, app: str, trace: bool):
    from marketingcloud_etl_spark.session import get_spark

    tmp = os.environ.get("TMPDIR", os.path.join(work, "tmp"))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a heap fixed at its maximum from the start: no run pays for (or
        # varies with) the collections that grow it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                # no zstd module in the image: write the log uncompressed
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name=app, master=f"local[{_cores()}]", extra_conf=conf)


def _job_group(spark, group: str | None) -> None:
    if group is None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    else:
        spark.sparkContext.setJobGroup(group, group)


@contextmanager
def timed_window(out: dict):
    """Record the wall-clock bounds of the timed phase; ``run.py``, which
    samples this process tree's memory from outside, reports the peak
    within them."""
    start = time.time()
    try:
        yield
    finally:
        out["timed_wall"] = [start, time.time()]


def _settle(spark) -> None:
    """Untimed, between operations: collect garbage on both sides, then
    give Spark's asynchronous clean-up (shuffle files and broadcasts
    freed by that collection) time to finish, so the next operation is
    not charged for the previous one's clean-up."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


# ---------------------------------------------------------------------------
# etl_lead_activity
# ---------------------------------------------------------------------------


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def run_etl(spark, work: str, seed: int, size: dict, trace: bool, check: bool, out: dict) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import marketingcloud_etl_spark._compat as compat
    import marketingcloud_etl_spark.etl.lead_activity as la
    from marketingcloud_etl_spark.sources.rest import plan_pages

    from .loadgen import PAGE_SIZE, SfmcServer, Timeline
    from .trace import Spans, wrap

    cores = _cores()
    timeline = Timeline(seed, n_initial=size["items"], n_deltas=size["deltas"])
    toy = Timeline(seed + 7919, n_initial=TOY_PAGES_PER_CORE * cores * PAGE_SIZE, n_deltas=1)
    server, toy_server = SfmcServer(timeline, cores), SfmcServer(toy, cores)
    target = os.path.join(work, "target")

    def call(srv, stage: int, path: str):
        srv.publish(stage)
        fn = la.bulk_extract if stage == 0 else la.incremental_extract
        return fn(spark, srv.base_url, path, srv.auth_url, *CLIENT)

    spans = Spans()
    with server, toy_server:
        # warm-up: one bulk and one append on a toy corpus; warming all
        # three appends took ~0.3 s off the first timed append but cost
        # 4 s, twice in a traced run, which must end within run.py's
        # RUN_LIMIT_S on a slow box
        toy_target = os.path.join(work, "toy_target")
        call(toy_server, 0, toy_target)
        call(toy_server, 1, toy_target)
        shutil.rmtree(toy_target, ignore_errors=True)
        _settle(spark)
        out["setup_s"] = time.perf_counter() - T_START

        if trace:
            wrap(spans, la, "overwrite_parquet", "sinks.overwrite")
            wrap(spans, la, "upsert_parquet", "sinks.upsert")
            wrap(spans, compat, "parquet_count", "sinks.watermark_count")
        layers = dict.fromkeys(
            (
                "sources.fetch_s", "sources.pages_fetched", "sources.pages_needed", "sources.auth_calls",
                "sources.bytes_served", "loadgen.serve_s", "etl.flatten_dedup_s", "etl.rows_fetched",
                "etl.rows_flattened", "etl.rows_deduplicated", "sinks.rows_written", "sinks.rows_skipped",
                "sinks.overwrite_s", "sinks.upsert_s", "sinks.bytes_written", "sinks.files_written",
            ),
            0.0,
        )
        scanned = inserted_total = 0
        with timed_window(out):
            for stage in range(timeline.n_stages):
                name = "bulk" if stage == 0 else f"append{stage}"
                db_count = 0 if stage == 0 else timeline.distinct_through(stage - 1)
                before = _dir_stats(target)
                op = {"name": name, "ok": True}
                server.reset_counters()
                if trace:
                    _job_group(spark, f"op:{name}")
                t0 = time.perf_counter()
                try:
                    with spans.span("etl.pipeline"):
                        result = call(server, stage, target)
                except Exception as e:  # a failed operation is counted, not fatal
                    _job_group(spark, None)
                    op.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
                    out["ops"].append(op)
                    continue
                op["seconds"] = time.perf_counter() - t0
                _job_group(spark, None)
                served = server.counters()
                after = _dir_stats(target)
                expect_new = timeline.new_distinct[stage]
                got = result if stage == 0 else result["inserted"]
                if check and got != expect_new:
                    op.update(ok=False, error=f"inserted {got} != {expect_new} new distinct items")
                out["ops"].append(op)
                pages_needed = len(plan_pages(timeline.stage_len[stage], db_count))
                layers["sources.pages_fetched"] += len(served["page_requests"])
                layers["sources.pages_needed"] += pages_needed
                layers["sources.auth_calls"] += served["auth_calls"]
                layers["sources.bytes_served"] += served["bytes_served"]
                layers["loadgen.serve_s"] += served["serve_s"]
                layers["sinks.bytes_written"] += max(0, after[0] - before[0]) if stage else after[0]
                layers["sinks.files_written"] += max(0, after[1] - before[1]) if stage else after[1]
                layers["sinks.rows_written"] += got
                if stage:
                    layers["sinks.rows_skipped"] += result["skipped"]
                    scanned += db_count
                    inserted_total += got
                if trace:
                    # untimed probes under their own job group: the fetch
                    # alone (cached, so the next probe does not fetch
                    # again), then flatten + dedup of the cached items
                    # into a noop sink
                    _job_group(spark, f"probe:{name}")
                    items = la.read_lead_activity(
                        spark, server.base_url, server.auth_url, *CLIENT, db_count=db_count
                    ).cache()
                    t1 = time.perf_counter()
                    fetched = items.count()
                    fetch_s = time.perf_counter() - t1
                    o_flat, o_dedup = Observation(f"flat_{name}"), Observation(f"dedup_{name}")
                    flat = la.flatten_lead_activity(items).observe(o_flat, F.count(F.lit(1)).alias("n"))
                    dedup = flat.dropDuplicates(["hash"]).observe(o_dedup, F.count(F.lit(1)).alias("n"))
                    t1 = time.perf_counter()
                    dedup.write.format("noop").mode("overwrite").save()
                    flatten_s = time.perf_counter() - t1
                    items.unpersist()
                    _job_group(spark, None)
                    layers["sources.fetch_s"] += fetch_s
                    layers["etl.flatten_dedup_s"] += flatten_s
                    layers["etl.rows_fetched"] += fetched
                    layers["etl.rows_flattened"] += o_flat.get["n"]
                    layers["etl.rows_deduplicated"] += o_dedup.get["n"]
                    # the sink call runs the lazy fetch and flatten too;
                    # its self time is what remains after both
                    sink = "sinks.overwrite" if stage == 0 else "sinks.upsert"
                    sink_s = [r["end"] - r["start"] for r in spans.records if r["name"] == sink][-1]
                    layers[f"{sink}_s"] += max(0.0, sink_s - fetch_s - flatten_s)
                _settle(spark)

        # the target only ever grows, so one check of the final table
        # covers every append: no duplicate hash, every distinct item once,
        # dates parsed and event names cleaned
        if check and all(op["ok"] for op in out["ops"]):
            last = timeline.n_stages - 1
            row = spark.read.parquet(target).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("hash").alias("d"),
                F.sum(F.col("date").isNull().cast("int")).alias("null_dates"),
                F.max(F.length("event_name")).alias("max_name"),
                F.sum(F.col("event_name").contains("?").cast("int")).alias("with_query"),
            ).first()
            want_total, want_null = timeline.distinct_through(last), timeline.bad_dates_through(last)
            got = (row["n"], row["d"], row["null_dates"], row["with_query"])
            if got != (want_total, want_total, want_null, 0) or row["max_name"] > 256:
                out["ops"][-1].update(
                    ok=False,
                    error=f"target rows/distinct hash {row['n']}/{row['d']} (want {want_total}), "
                    f"null dates {row['null_dates']} (want {want_null}), "
                    f"max event_name {row['max_name']}, with '?' {row['with_query']}",
                )

    if trace:
        selfs = spans.self_times()
        layers["sinks.watermark_count_s"] = selfs.get("sinks.watermark_count", 0.0)
        layers["etl.pipeline_self_s"] = selfs.get("etl.pipeline", 0.0)
        layers["sources.page_fetch_ratio"] = layers["sources.pages_needed"] / max(1, layers["sources.pages_fetched"])
        layers["sinks.target_rows_scanned_per_inserted"] = scanned / max(1, inserted_total)
        layers["sinks.target_files"] = _dir_stats(target)[1]
        layers["accounted_s"] = sum(
            layers[k]
            for k in (
                "sources.fetch_s", "etl.flatten_dedup_s", "sinks.overwrite_s", "sinks.upsert_s",
                "sinks.watermark_count_s", "etl.pipeline_self_s",
            )
        )
        out["layers"] = layers


# ---------------------------------------------------------------------------
# query_analytic / query_stateful
# ---------------------------------------------------------------------------


def run_queries(
    spark, work: str, seed: int, names: tuple, sf: float, warm_at_scale: bool, trace: bool, check: bool, out: dict
) -> None:
    import pandas as pd

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.operators.ranking import release_ranking_caches, release_sticky_caches
    from marketingcloud_etl_spark.plans.catalog import load_all

    from .datagen import write_fixtures
    from .oracle import duck_connection, mismatch
    from .trace import catalyst_phases, storage_mb, stream_listener

    registry = load_all()
    sf_dir, toy_dir = os.path.join(work, "data", f"sf{sf}"), os.path.join(work, "data", "toy")
    write_fixtures(sf_dir, sf, seed)
    if warm_at_scale:
        warm_dir, warm_names = sf_dir, names
    else:
        warm_dir, warm_names = toy_dir, WARMUP
        write_fixtures(toy_dir, TOY_SF, seed)

    table(spark, sf_dir, "events").count()  # one-time events normalization
    for name in warm_names:
        registry[name].fn(spark, warm_dir).collect()
        release_ranking_caches()
    release_sticky_caches()
    _settle(spark)
    out["setup_s"] = time.perf_counter() - T_START

    stream = {"batches": 0, "trigger_ms": 0.0}
    layers = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0, "operators.cached_mb_peak": 0.0}
    if trace:
        stream_listener(spark, stream)
    results = {}
    # catalog order, the same for every seed: a query's first call in a
    # process also pays for codegen its shape has not needed before, so a
    # seeded order moved the first query's time by up to 2 s
    with timed_window(out):
        for name in names:
            op = {"name": name, "ok": True}
            out["ops"].append(op)
            try:
                if trace:
                    _job_group(spark, f"op:{name}:build")
                t0 = time.perf_counter()
                df = registry[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                if trace:
                    _job_group(spark, f"op:{name}:collect")
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # a failed query is counted, not fatal
                op.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
                _job_group(spark, None)
                release_ranking_caches()
                release_sticky_caches()
                _settle(spark)
                continue
            _job_group(spark, None)
            op.update(seconds=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1)
            results[name] = (list(df.columns), [tuple(r) for r in rows])
            if trace:
                for k, v in catalyst_phases(df).items():
                    layers[f"catalyst.{k}_ms"] += v
                layers["operators.cached_mb_peak"] = max(layers["operators.cached_mb_peak"], storage_mb(spark))
            del df, rows
            # every query starts with no frame pinned by an earlier one,
            # so its time does not depend on the query before it
            release_ranking_caches()
            release_sticky_caches()
            _settle(spark)

    if check:
        con = duck_connection(sf_dir, _cores())
        for op in out["ops"]:
            if op["name"] not in results:
                continue
            cols, rows = results[op["name"]]
            spark_pdf = pd.DataFrame.from_records(rows, columns=cols)
            reason = mismatch(spark_pdf, con.sql(registry[op["name"]].oracle).df())
            if reason:
                op.update(ok=False, error=f"oracle mismatch: {reason}"[:500])
        con.close()

    if trace:
        timed = [op for op in out["ops"] if "seconds" in op]
        layers["plans.build_s"] = sum(op["build_s"] for op in timed)
        layers["collect_s"] = sum(op["collect_s"] for op in timed)
        layers["streaming.batches"] = stream["batches"]
        layers["streaming.trigger_ms"] = stream["trigger_ms"]
        for op in timed:
            layers[f"query.{op['name'].split('_')[0]}_s"] = op["seconds"]
        layers["accounted_s"] = layers["plans.build_s"] + layers["collect_s"]
        out["layers"] = layers


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("etl_lead_activity", "query_analytic", "query_stateful"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--no-check", action="store_true")
    args = ap.parse_args()
    size = SIZES["smoke" if args.smoke else "full"]
    trace, check = bool(args.trace), not args.no_check
    out: dict = {"workload": args.workload, "seed": args.seed, "trace": trace, "cores": _cores(), "ops": []}

    spark = start_spark(args.work, f"perfbench-{args.workload}", trace)
    try:
        if args.workload == "etl_lead_activity":
            run_etl(spark, args.work, args.seed, size, trace, check, out)
        elif args.workload == "query_analytic":
            run_queries(spark, args.work, args.seed, ANALYTIC, size["analytic_sf"], False, trace, check, out)
        else:
            run_queries(spark, args.work, args.seed, STATEFUL, size["stateful_sf"], True, trace, check, out)
    except Exception:
        out["fatal"] = traceback.format_exc()[-2000:]
    finally:
        spark.stop()

    if trace and "layers" in out:
        from .trace import fold_event_log

        wall = sum(op.get("seconds", 0.0) for op in out["ops"])
        out["layers"].update(fold_event_log(os.path.join(args.work, "eventlog"), wall, _cores()))
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0 if "fatal" not in out else 1


if __name__ == "__main__":
    sys.exit(main())
