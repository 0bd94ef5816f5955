#!/usr/bin/env python3
"""perfbench — the repo's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. ``W`` is one of ``etl_lead_activity``,
``query_analytic``, ``query_stateful`` or ``all``. Each workload run is a
fresh worker process (``perfbench/worker.py``) with its own ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and target directory under ``.perfbench/``; all of
it is removed when the run ends. The worker is a closed loop: one
client, one Spark session on ``local[<cores>]``, each call waiting for
the previous one. A run always times its whole fixed list of operations
once; ``--seconds`` is accepted as part of the benchmark's command
line and does not change what is timed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
workload twice, untraced and then traced, and prints the per-layer
metrics, the tracing overhead between the two runs, and whether the
traced self times account for the untraced wall time within
``ACCOUNT_MARGIN``. Layers a workload does not exercise report 0.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Without the
program's package (``marketingcloud_etl_spark/``) next to ``perfbench/``
the script exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_lead_activity", "query_analytic", "query_stateful")
# a whole run, both workers of a traced run included, ends within 180 s
RUN_LIMIT_S = 170.0
# traced self times must cover the untraced wall time to within this share
ACCOUNT_MARGIN = 0.25
# seconds between samples of the worker's memory
PSS_INTERVAL_S = 0.25

# query_stateful is not in BENCHMARK.json; run by hand, it also reports
# the layers only it exercises
STATEFUL_LAYERS = {
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    **{f"query.{q}_s": "s" for q in "q342 q360 q388 q391 q392 q395 q402 q414 q437 q443".split()},
}


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _procs() -> dict[str, tuple[str, int]]:
    """pid -> (parent pid, process group) of every running process; a
    zombie has ended and is left out."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            if fields[0] != "Z":
                out[d] = (fields[1], int(fields[2]))
    return out


def _group_alive(pgid: int) -> bool:
    return any(pgrp == pgid for _, pgrp in _procs().values())


def _tree_pss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver, JVM,
    Python workers) as the sum of PSS: a page shared by n processes
    counts 1/n in each, so pages the forked Python workers share with
    Spark's worker daemon count once."""
    children: dict[str, list[str]] = {}
    for pid, (ppid, _) in _procs().items():
        children.setdefault(ppid, []).append(pid)
    total_kb, todo = 0, [str(root)]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
        except OSError:
            pass  # the process ended between the listing and the read
        todo.extend(children.get(pid, ()))
    return total_kb / 1024.0


def _reap(pgid: int) -> None:
    """Stop every process of the worker's process group (JVM and Python
    workers included) and wait until all have ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _du(path: str) -> tuple[float, int]:
    """(MB, top-level entries) under ``path``."""
    if not os.path.isdir(path):
        return 0.0, 0
    size = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return size / 2**20, len(os.listdir(path))


def run_worker(workload: str, seed: int, trace: bool, smoke: bool, check: bool, deadline: float) -> dict:
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-s{seed}-", dir=base)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(_cores()),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    out_file = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--workload", workload, "--seed", str(seed),
        "--trace", str(int(trace)), "--work", work, "--out", out_file,
    ]
    cmd += ["--smoke"] * smoke + ["--no-check"] * (not check)
    log_path = os.path.join(work, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
            # memory is sampled from here, not in the worker, so sampling
            # takes no time from the worker's own threads
            samples: list[tuple[float, float]] = []
            try:
                while time.monotonic() < deadline:
                    try:
                        proc.wait(timeout=PSS_INTERVAL_S)
                        break
                    except subprocess.TimeoutExpired:
                        samples.append((time.time(), _tree_pss_mb(proc.pid)))
            finally:
                _reap(proc.pid)
                proc.wait()
        if not os.path.exists(out_file):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{workload} worker ended with code {proc.returncode} and no result:\n{tail}")
        with open(out_file) as f:
            res = json.load(f)
        res["state.tmp_mb"], res["state.tmp_dirs"] = _du(tmp)
        if "timed_wall" in res:
            lo, hi = res["timed_wall"]
            timed = [mb for t, mb in samples if lo <= t <= hi]
            res["peak_rss_mb"] = max(timed or [mb for _, mb in samples] or [0.0])
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _op_times(res: dict) -> dict[str, float]:
    return {op["name"]: op["seconds"] for op in res["ops"] if "seconds" in op}


def _etl_headline(res: dict) -> dict[str, float]:
    """``bulk_s`` and ``incremental_s`` (the median append)."""
    secs = _op_times(res)
    appends = [t for name, t in secs.items() if name != "bulk"]
    out = {"bulk_s": secs["bulk"]} if "bulk" in secs else {}
    if appends:
        out["incremental_s"] = statistics.median(appends)
    return out


def end_to_end(res: dict) -> dict[str, float]:
    # geomean_s weighs each headline time equally: every query, or the
    # ETL's bulk load and median append (the appends' product moved twice
    # as much from run to run as the bulk load)
    secs = _op_times(res)
    headline = _etl_headline(res) if res["workload"] == "etl_lead_activity" else secs
    return {
        "setup_s": res["setup_s"],
        "total_s": sum(secs.values()),
        "geomean_s": _geomean(headline.values()),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(traced: dict, untraced: dict, units: dict[str, str]) -> dict[str, float]:
    layers = dict.fromkeys(units, 0.0)
    layers.update({k: v for k, v in traced.get("layers", {}).items() if k in units})
    layers["state.tmp_mb"] = traced["state.tmp_mb"]
    layers["state.tmp_dirs"] = traced["state.tmp_dirs"]
    base = sum(_op_times(untraced).values())
    layers["tracing.overhead_frac"] = sum(_op_times(traced).values()) / base - 1.0
    layers["tracing.accounted_frac"] = traced.get("layers", {}).get("accounted_s", 0.0) / base
    layers["failed_frac"] = sum(not op["ok"] for op in traced["ops"]) / max(1, len(traced["ops"]))
    return layers


def describe(res: dict) -> list[str]:
    """Human-readable lines: the workload's own end-to-end figures, its
    correctness verdict and any failed operation."""
    n, bad = len(res["ops"]), [op for op in res["ops"] if not op["ok"]]
    secs = _op_times(res)
    if res["workload"] == "etl_lead_activity":
        summary = _etl_headline(res)
    else:
        summary = {"query_total_s": sum(secs.values()), "query_geomean_s": _geomean(secs.values()) if secs else None}
    figures = ", ".join(f"{k}={v:.4g} s" for k, v in summary.items() if v is not None)
    lines = [
        f"{res['workload']} seed={res['seed']} trace={int(res['trace'])} cores={res['cores']}: {figures}, "
        f"setup_s={res.get('setup_s', float('nan')):.4g} s, peak_rss_mb={res.get('peak_rss_mb', float('nan')):.4g} MB, "
        f"failed_frac={len(bad) / max(1, n):.3g} ({len(bad)}/{n}), correct={'yes' if not bad and 'fatal' not in res else 'NO'}"
    ]
    lines.append("  ops: " + " ".join(f"{name.split('_')[0]}={t:.3g}" for name, t in secs.items()))
    lines += [f"  FAILED {op['name']}: {op.get('error')}" for op in bad]
    if "fatal" in res:
        lines.append(f"  FATAL: {res['fatal']}")
    return lines


def run_one(
    workload: str, seed: int, trace: bool, smoke: bool, deadline: float, units: dict[str, str]
) -> tuple[dict, dict, list[str]]:
    """One workload; returns (result, metrics, report lines)."""
    if not trace:
        res = run_worker(workload, seed, False, smoke, True, deadline)
        lines = describe(res)
        return res, (end_to_end(res) if _op_times(res) and "fatal" not in res else {}), lines
    untraced = run_worker(workload, seed, False, smoke, False, deadline)
    traced = run_worker(workload, seed, True, smoke, True, deadline)
    lines = describe(untraced) + describe(traced)
    if not (_op_times(untraced) and _op_times(traced)) or "fatal" in traced or "fatal" in untraced:
        return traced, {}, lines
    layers = per_layer(traced, untraced, units)
    share = layers["tracing.accounted_frac"]
    verdict = "ok" if abs(share - 1.0) <= ACCOUNT_MARGIN else "OUTSIDE MARGIN"
    lines.append(
        f"  self-time accounting: traced layer self times = {share:.1%} of untraced wall "
        f"(margin ±{ACCOUNT_MARGIN:.0%}): {verdict}; tracing overhead {layers['tracing.overhead_frac']:+.1%}"
    )
    return traced, layers, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy sizes (sf0.001, small corpus)")
    args = ap.parse_args()
    # a terminated run still stops its worker (run_worker reaps in finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "marketingcloud_etl_spark", "__init__.py")):
        print(f"perfbench: no marketingcloud_etl_spark package under {ROOT}", file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    limit = RUN_LIMIT_S * len(names)
    deadline = time.monotonic() + limit
    attempted = failed = 0
    correct = True
    metrics: dict[str, dict] = {}
    for w in names:
        units = _units("per_layer" if args.trace else "end_to_end")
        if args.trace and w == "query_stateful":
            units.update(STATEFUL_LAYERS)
        try:
            res, values, lines = run_one(w, args.seed, bool(args.trace), args.smoke, deadline, units)
        except Exception as e:
            print(f"perfbench: {w}: {e}", file=sys.stderr)
            return 1
        print("\n".join(lines), flush=True)
        if not values:
            print(f"perfbench: {w}: no timed operation completed", file=sys.stderr)
            return 1
        attempted += len(res["ops"])
        failed += sum(not op["ok"] for op in res["ops"])
        correct = correct and "fatal" not in res and all(op["ok"] for op in res["ops"])
        prefix = f"{w}." if args.workload == "all" else ""
        metrics.update({f"{prefix}{k}": {"value": v, "unit": units[k]} for k, v in values.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
