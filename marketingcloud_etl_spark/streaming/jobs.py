"""Structured Streaming jobs (SURVEY.md §2.B "Streaming").

The fixture ``events`` table is replayed as a file stream (multiple
parquet files + maxFilesPerTrigger → several micro-batches), then the
standard streaming surface runs on top: watermarked tumbling/sliding
windows, session windows, watermark-bounded dedup, stream-static joins,
and foreachBatch upsert (reference R12/R16 in streaming form).

None of this is oracle-expressible — correctness is pinned by
batch-equivalence tests (tests/test_streaming.py): the streamed result
must equal the same aggregation computed in batch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import query_state, table


def _cents_sum(values) -> int:
    """Exact integer cents for a pandas float Series, rounding each row
    HALF AWAY FROM ZERO — the convention of DuckDB's ``round()`` and
    Spark's ``F.round`` — not pandas' banker's half-to-even, which would
    drift one cent on values whose cents product is exactly .5 (e.g.
    0.125) versus the q81/q104 oracles."""
    import numpy as np

    c = values.to_numpy(dtype="float64") * 100.0
    return int((np.sign(c) * np.floor(np.abs(c) + 0.5)).astype("int64").sum())


def replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize events as an n-file parquet dir (µs timestamps) so a
    file-source stream replays it in n micro-batches. Built once per
    process and (sf_dir, n_files)."""
    return query_state(
        f"replay_{n_files}",
        sf_dir,
        lambda d: table(spark, sf_dir, "events")
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(d),
    )[0]


def events_stream(spark: SparkSession, sf_dir: str, files_per_trigger: int = 2) -> DataFrame:
    src = replay_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )


def ordered_replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Materialize events as n parquet files in EVENT-TIME order (file i
    holds time slice i, file mtimes strictly increasing) so the file
    source — which lists oldest-modified first — replays the feed
    roughly in order, the shape a production log/queue delivers. The
    watermark-sensitive operators (stream-stream OUTER joins, append-
    mode aggregations) need this: under :func:`replay_dir`'s random
    file order the watermark races ahead and drops whole files as
    late. It is :func:`late_replay_dir` with no shift."""
    return late_replay_dir(spark, sf_dir, n_files, shift_hours=0)


def late_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    shift_hours: int = 24,
    late_mod: int = 97,
) -> str:
    """:func:`ordered_replay_dir` with PLANTED LATE DATA: every row
    whose ``event_id % late_mod == 0`` has its event time shifted back
    ``shift_hours`` while keeping its ARRIVAL position (slicing uses
    the original timestamp) — the out-of-order feed shape watermark
    semantics exist for. Slice ``i`` holds the rows whose original
    timestamp falls in the ``i``-th of ``n_files`` equal µs spans, so
    an oracle can recompute batch membership, and therefore the
    watermark at each batch, in SQL."""

    def build(d: str) -> None:
        ev = table(spark, sf_dir, "events")
        # epoch-µs bounds computed IN Spark: a naive-datetime round trip
        # through Python .timestamp() would re-interpret in host-local TZ
        lo_us, hi_us = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).first()
        span_us = max(int(hi_us) - int(lo_us), 1) + 1
        bucket = F.floor(
            (F.unix_micros("ts") - F.lit(int(lo_us))) * n_files / F.lit(span_us)
        )
        # sequential per-slice writes: one file per slice, mtimes pinned
        # afterwards so the listing order equals event-time order even
        # on coarse-mtime filesystems
        now = time.time()
        for i in range(n_files):
            sub = os.path.join(d, f"slice={i:02d}")
            # bucket references the ORIGINAL ts via the pre-shift frame:
            # filter on ev's bucket, then apply the shift projection
            ev.filter(bucket == i).withColumn(
                "ts",
                F.when(
                    F.col("event_id") % late_mod == 0,
                    F.col("ts") - F.expr(f"INTERVAL {shift_hours} HOURS"),
                ).otherwise(F.col("ts")),
            ).coalesce(1).write.parquet(sub)
            for name in os.listdir(sub):
                if name.endswith(".parquet"):
                    os.utime(os.path.join(sub, name), (now + i, now + i))

    return query_state(f"replay_late_{n_files}_{shift_hours}_{late_mod}", sf_dir, build)[0]


def events_stream_ordered(
    spark: SparkSession, sf_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    src = ordered_replay_dir(spark, sf_dir)
    schema = spark.read.option("recursiveFileLookup", "true").parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .option("latestFirst", "false")
        .parquet(src)
    )


def tumbling_counts(stream: DataFrame, window: str = "1 hour", watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Gap-based session windows per user (streaming twin of
    operators/sessionize.py)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup bounded by watermark — the streaming form of the
    reference's insert-ignore upsert (R12): state never grows past the
    watermark horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def stream_static_join(stream: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Stream⋈static dimension join; the static side is broadcast so no
    stateful join state is needed."""
    return stream.join(F.broadcast(dim), on, how)


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion with availableNow and
    return the materialized result from the memory sink."""
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count and value total (in exact integer cents),
    re-emitted on every micro-batch that touches the user. The state
    row is the operator's whole memory — nothing grows with stream
    length, the at-scale property flatMapGroupsWithState exists for."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-row rounding BEFORE summing: one round over a float
            # batch-sum drifts with micro-batch boundaries
            cents += _cents_sum(pdf["value"])
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RUN_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
# the session conf a transformWithState query starts under (read at
# query start, so it is held with session.conf_scope around the run)
ROCKSDB_CONFS = {"spark.sql.streaming.stateStore.providerClass": RUN_ROCKSDB}


def enable_transform_with_state(spark: SparkSession) -> bool:
    """Make ``transformWithStateInPandas`` runnable on this session.

    Two prerequisites the API has beyond applyInPandasWithState:

    1. protobuf in every Python process that speaks the state-server
       protocol. ``_pbcompat`` resolves it (real distribution, or the
       pure-python runtime the base image's gcloud SDK bundles):
       ``addPyFile`` covers task workers; the PRE-INIT runner is a
       separate driver-side python process whose PYTHONPATH comes from
       the PythonFunction env vars (``sc.environment``), which is
       runtime-mutable — so this works on an externally-created
       session too.
    2. the RocksDB state store (multiple column families) — set
       ``spark.sql.streaming.stateStore.providerClass`` to
       :data:`RUN_ROCKSDB` before STARTING the query (per-query conf,
       read at query start; callers hold :data:`ROCKSDB_CONFS` with
       ``session.conf_scope`` around the run).

    Returns False only when no protobuf can be resolved at all (then
    callers skip — never silently compute something else).
    """
    import os as _os

    from .. import _pbcompat

    if not _pbcompat.ensure_workers(spark):
        return False
    if not _pbcompat.real_protobuf_available():
        z = _pbcompat.shim_zip()
        env = spark.sparkContext.environment
        prev = env.get("PYTHONPATH", "")
        if z not in prev.split(_os.pathsep):
            env["PYTHONPATH"] = z + (_os.pathsep + prev if prev else "")
    return True


def stateful_running_totals_tws(stream: DataFrame) -> DataFrame:
    """The same per-user running totals through ``transformWithState``
    (Spark 4's arbitrary-state API, successor to
    ``applyInPandasWithState``): typed ValueState survives across
    micro-batches, per-key emission on every batch that touches the
    key. Kept alongside q81's formulation so both stateful APIs stay
    covered — they must produce identical final state.

    Callers run :func:`enable_transform_with_state` first and start the
    query under the RocksDB state store provider (see q104 /
    tests/test_streaming.py::test_transform_with_state_matches_batch)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n bigint, cents bigint")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                # per-row rounding BEFORE summing (same protocol as the
                # applyInPandasWithState twin): batch-sum-then-round
                # drifts with micro-batch boundaries
                cents += _cents_sum(pdf["value"])
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def top3_events_tws(stream: DataFrame) -> DataFrame:
    """``transformWithState`` with LIST state: per user, keep the top-3
    events by (ts, event_id) across all micro-batches — the bounded
    "recent items per key" pattern (state is O(3) per key no matter the
    stream length). A ValueState row count rides along so the FINAL
    emission per user is identifiable (the one with the max count),
    exactly q81's protocol. Batch-order independence: the kept set is
    the global top-3 under a total order, so any batch boundary
    produces the same final state."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Top3(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("top3", "ts_us bigint, event_id bigint")
            self._n = handle.getValueState("processed", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            items = [tuple(t) for t in self._top.get()] if self._top.exists() else []
            (n,) = self._n.get() if self._n.exists() else (0,)
            for pdf in rows:
                n += len(pdf)
                s = pdf["ts"]
                if getattr(s.dtype, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                ts_us = (s.astype("datetime64[ns]").astype("int64") // 1000).tolist()
                items.extend(zip(ts_us, pdf["event_id"].tolist()))
                items = sorted(items, reverse=True)[:3]
            self._top.put([(int(t), int(e)) for t, e in items])
            self._n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "processed_n": [n],
                    "n_top": [len(items)],
                    "ids_sum": [int(sum(e for _, e in items))],
                    "latest_us": [int(items[0][0]) if items else None],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Top3(),
        outputStructType=(
            "user_id bigint, processed_n bigint, n_top bigint, "
            "ids_sum bigint, latest_us bigint"
        ),
        outputMode="Update",
        timeMode="None",
    )


def type_counts_tws(stream: DataFrame) -> DataFrame:
    """``transformWithState`` with MAP state: per user, a per-event-type
    counter map updated incrementally — the typed-state form of a
    grouped pivot, O(|types|) state per key. Emits the counts the
    map holds after each batch; final emission per user = max
    processed_n (ValueState row count, the q81 protocol)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState("counts", "t string", "n bigint")
            self._n = handle.getValueState("processed", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            (n,) = self._n.get() if self._n.exists() else (0,)
            for pdf in rows:
                n += len(pdf)
                for t, c in pdf.groupby("event_type").size().items():
                    prev = self._counts.getValue((t,)) if self._counts.containsKey((t,)) else None
                    base = int(prev[0]) if prev is not None else 0
                    self._counts.updateValue((t,), (base + int(c),))
            self._n.update((n,))
            kv = {k[0]: int(v[0]) for k, v in self._counts.iterator()}
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "processed_n": [n],
                    "n_types": [len(kv)],
                    "purchases": [kv.get("purchase", 0)],
                    "clicks": [kv.get("click", 0)],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCounts(),
        outputStructType=(
            "user_id bigint, processed_n bigint, n_types bigint, "
            "purchases bigint, clicks bigint"
        ),
        outputMode="Update",
        timeMode="None",
    )


def session_close_tws(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """``transformWithState`` with EVENT-TIME TIMERS: gap-based session
    closing. Gap detection happens in ``handleInputRows`` (a batch
    whose events start > gap after the stored session's end closes it
    and opens a new one — within a batch, timers fire AFTER input
    processing, so waiting for the timer would merge across the gap);
    the armed event-time timer is the "stream went quiet" FLUSH: it is
    REPLACED on every extension (deleteTimer + registerTimer — a stale
    timer would close the session at an old boundary) and fires only
    when the watermark passes last_event + gap with no newer input —
    emitting the final open session. O(1) state per key; the
    session-window operator rebuilt from the raw timer primitive."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_minutes * 60 * 1_000_000

    class SessionClose(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState(
                "sess", "n bigint, first_us bigint, last_us bigint, timer_ms bigint"
            )
            self._h = handle

        def handleInputRows(self, key, rows, timerValues):
            n, first, last, timer = (
                self._s.get() if self._s.exists() else (0, 0, 0, 0)
            )
            closed = []
            times: list[int] = []
            for pdf in rows:
                s = pdf["ts"]
                if getattr(s.dtype, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                times.extend((s.astype("datetime64[ns]").astype("int64") // 1000).tolist())
            for t in sorted(times):
                if n and t > last + gap_us:
                    closed.append((n, first, last))
                    n, first, last = 0, 0, 0
                n += 1
                first = first or t
                last = max(last, t)
            new_timer = last // 1000 + gap_us // 1000
            if timer and timer != new_timer:
                self._h.deleteTimer(timer)
            if timer != new_timer:
                self._h.registerTimer(new_timer)
            self._s.update((n, first, last, new_timer))
            for cn, cf, cl in closed:
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [cn],
                        "session_start_us": [cf],
                        "session_end_us": [cl],
                    }
                )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._s.exists():
                n, first, last, _ = self._s.get()
                self._s.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "session_start_us": [first],
                        "session_end_us": [last],
                    }
                )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionClose(),
        outputStructType=(
            "user_id bigint, n_events bigint, "
            "session_start_us bigint, session_end_us bigint"
        ),
        outputMode="Append",
        timeMode="EventTime",
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream⋈stream inner join: left rows match right rows
    with the same ``key`` whose timestamp falls in
    (left_ts - lookback, left_ts]. Both sides carry watermarks and the
    join condition bounds event time on BOTH inputs, so Spark can prune
    buffered state — without the time bound a stream-stream join's
    state grows forever, the thing that kills it at 100 TB/day."""
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return l.withWatermark(left_ts, left_watermark).join(
        r.withWatermark(right_ts, right_watermark), cond, "inner"
    )


def pattern_match_tws(stream: DataFrame) -> DataFrame:
    """q346's 3-state pattern automaton run INCREMENTALLY via
    ``transformWithState``: one tiny ValueState row per user carries
    (stage, anchor-µs, matches) across micro-batches; each batch's rows
    sort by (ts_us, event_id) before folding. Correct whenever batches
    arrive in event-time slices (ordered replay here; an event-time-
    ordered log/queue in production) — then the incremental fold equals
    the batch fold EXACTLY, which is what lets the streaming query hash
    against the same oracle as batch q346. State is O(1) per user
    however long the stream runs — the property the collected-array
    batch formulation can't offer on an unbounded feed.

    Callers run :func:`enable_transform_with_state` first and start
    the query under the RocksDB state store provider (see q350)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    CLICK_US = 86_400_000_000
    PURCHASE_US = 259_200_000_000

    class PatternAutomaton(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "autom", "stage int, anchor bigint, matches int"
            )

        def handleInputRows(self, key, rows, timerValues):
            stage, anchor, m = (
                self._st.get() if self._st.exists() else (0, 0, 0)
            )
            evs: list[tuple[int, int, str]] = []
            for pdf in rows:
                evs.extend(
                    zip(
                        (int(v) for v in pdf["ts_us"]),
                        (int(v) for v in pdf["eid"]),
                        pdf["et"],
                    )
                )
            evs.sort()
            for us, _eid, et in evs:
                if et == "view":
                    stage, anchor = 1, us
                elif et == "click" and stage == 1 and us - anchor <= CLICK_US:
                    stage, anchor = 2, us
                elif (
                    et == "purchase"
                    and stage == 2
                    and us - anchor <= PURCHASE_US
                ):
                    stage, anchor, m = 0, 0, m + 1
            self._st.update((stage, anchor, m))
            yield pd.DataFrame({"user_id": [key[0]], "matches": [m]})

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PatternAutomaton(),
        outputStructType="user_id bigint, matches int",
        outputMode="Update",
        timeMode="None",
    )
