"""Tracing for the benchmark's traced run, all from outside the program:

* :class:`Spans` — in-memory spans around calls into the program's
  public functions (name, start, end, parent), with self time = duration
  minus the time covered by child spans;
* :func:`wrap` — patch a module attribute so each call records a span;
* :func:`stream_listener` — a ``StreamingQueryListener`` counting
  micro-batches and their trigger time;
* :func:`catalyst_phases` — analysis/optimization/planning time of a
  collected DataFrame;
* :func:`fold_event_log` — per-layer executor numbers from Spark's own
  event log, restricted to the jobs of timed operations.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# job groups of timed operations start with this prefix; anything else
# in the log (setup, warm-up, decomposition probes) is left out
OP_GROUP = "op:"


class Spans:
    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": self._stack[-1] if self._stack else None}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (children are sequential, so
        covered time is the sum of child durations)."""
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for i, r in enumerate(self.records):
            out[r["name"]] += (r["end"] - r["start"]) - child[i]
        return dict(out)


def wrap(spans: Spans, module, attr: str, name: str) -> None:
    """Replace ``module.attr`` with a wrapper that records a span."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def traced(*a, **kw):
        with spans.span(name):
            return fn(*a, **kw)

    setattr(module, attr, traced)


def stream_listener(spark, stats: dict):
    """Register a listener that adds each micro-batch to
    ``stats["batches"]`` and its trigger time to ``stats["trigger_ms"]``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            stats["batches"] += 1
            stats["trigger_ms"] += float(event.progress.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def catalyst_phases(df) -> dict[str, float]:
    """Milliseconds spent in each planning phase of ``df``'s last
    execution (``QueryPlanningTracker.phases``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    return out


def storage_mb(spark) -> float:
    """Memory held by cached/persisted blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def _read_events(log_dir: str):
    """Events of every application under ``log_dir``, in order: Spark
    writes ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _is_scan(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Name") in ("FileScanRDD", "PythonDataSourceRDD"):
            return True
        scope = rdd.get("Scope") or ""
        if '"name":"Scan' in scope.replace(" ", "") or "BatchScan" in scope:
            return True
    return False


def fold_event_log(log_dir: str, wall_s: float, cores: int) -> dict[str, float]:
    """Fold a Spark event log into per-layer numbers for the jobs whose
    job group starts with ``op:`` (the timed operations).

    ``plans.eager_jobs`` counts jobs of ``op:…:build`` groups — jobs a
    query function launched while building its plan."""
    op_stages: set[int] = set()
    jobs = eager = 0
    stage_info: dict[int, dict] = {}
    task = defaultdict(float)
    tasks_by_stage: dict[int, int] = defaultdict(int)
    for e in _read_events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(OP_GROUP):
                jobs += 1
                eager += group.endswith(":build")
                op_stages.update(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_info[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            if sid not in op_stages:
                continue
            tasks_by_stage[sid] += 1
            m = e.get("Task Metrics") or {}
            task["run_ms"] += m.get("Executor Run Time", 0)
            task["cpu_ns"] += m.get("Executor CPU Time", 0)
            task["gc_ms"] += m.get("JVM GC Time", 0)
            task["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            task["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            task["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = (acc.get("Name") or "").lower()
                if "python" in name and "time" in name:
                    # Python exec nodes report nanosecond timings
                    task["python_ns"] += float(acc.get("Update") or 0)
    ran = [s for s in op_stages if s in tasks_by_stage]
    scan = [s for s in ran if _is_scan(stage_info.get(s, {}))]
    mb = 2**20
    return {
        "spark.jobs": jobs,
        "spark.stages": len(ran),
        "spark.tasks": sum(tasks_by_stage.values()),
        "spark.executor_run_s": task["run_ms"] / 1e3,
        "spark.executor_cpu_s": task["cpu_ns"] / 1e9,
        "spark.gc_s": task["gc_ms"] / 1e3,
        "spark.slot_utilization": (task["run_ms"] / 1e3) / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mb": task["shuffle_write"] / mb,
        "spark.shuffle_read_mb": task["shuffle_read"] / mb,
        "spark.spill_mb": task["spill"] / mb,
        "io.scan_tasks": sum(tasks_by_stage[s] for s in scan),
        "io.single_task_scan_stages": sum(1 for s in scan if tasks_by_stage[s] == 1),
        "python_worker.s": task["python_ns"] / 1e9,
        "plans.eager_jobs": eager,
    }
