#!/usr/bin/env python
"""Isolated per-query measurement — the guide §1 workflow in one tool.

Runs one or more catalog queries in a FRESH SparkSession at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1), timing the same end-to-end
action the bench uses (plan + execute + collect of the small result)
after a sf0.001 warm-up, so numbers are comparable with bench.py while
isolating the query from sweep effects (GC pressure, cache residue).
Every frame a run pins is released before the next run starts, so
each run computes from scratch: no run reuses an earlier run's (or an
earlier query's) cached frames.

Usage:
    python tools/isolate.py q357_grouped_quantile_scalable [more...] \
        [--runs 3] [--explain plans/r13:suffix] [--noop]

--explain DIR:SUFFIX  write <query>_<SUFFIX>.txt with
                      .explain("formatted") into DIR (the part before
                      the last ':'); a bare DIR uses suffix "plan"
--noop          additionally time a noop-sink write (guide §1.4)
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from marketingcloud_etl_spark.operators.ranking import release_ranking_caches  # noqa: E402
from marketingcloud_etl_spark.plans.catalog import load_all  # noqa: E402
from marketingcloud_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, metavar="DIR:SUFFIX")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    registry = load_all()
    spark = get_spark(app_name="isolate")

    for name in args.queries:
        qd = registry[name]
        if not args.no_warm and os.path.isdir(warm_dir):
            qd.fn(spark, warm_dir).collect()
            release_ranking_caches()
        times = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).collect()
            times.append(round(time.perf_counter() - t0, 3))
            release_ranking_caches()
            spark.sparkContext.setJobDescription(None)
        if args.noop:
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_t = round(time.perf_counter() - t0, 3)
            release_ranking_caches()
            print(f"{name}: runs={times} min={min(times)} noop={noop_t}")
        else:
            print(f"{name}: runs={times} min={min(times)}")
        if args.explain:
            if ":" in args.explain:
                d, suffix = args.explain.rsplit(":", 1)
            else:
                d, suffix = args.explain, "plan"
            os.makedirs(d, exist_ok=True)
            df = qd.fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(d, f"{name}_{suffix}.txt")
            with open(out, "w") as fh:
                fh.write(txt)
            release_ranking_caches()
            print(f"  explain -> {out}")

    spark.stop()


if __name__ == "__main__":
    main()
