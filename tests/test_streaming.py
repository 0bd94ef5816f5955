"""Batch-equivalence pins for the streaming surface (SURVEY.md §5.5):
a streamed aggregation must equal the same aggregation computed in
batch over the identical data."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from marketingcloud_etl_spark.io import table
from marketingcloud_etl_spark.plans.catalog import load_all
from marketingcloud_etl_spark.session import conf_scope
from marketingcloud_etl_spark.streaming.jobs import ROCKSDB_CONFS

REGISTRY = load_all()


def test_stream_tumbling_equals_batch(spark, sf_dir):
    streamed = REGISTRY["q58_stream_tumbling"].fn(spark, sf_dir)
    batch = REGISTRY["q57_batch_tumbling"].fn(spark, sf_dir)
    s = {(r.hour_start, r.event_type): (r.n, round(r.total_value, 2)) for r in streamed.collect()}
    b = {(r.hour_start, r.event_type): (r.n, round(r.total_value, 2)) for r in batch.collect()}
    assert s == b


def test_stream_sessions_equal_batch_sessionization(spark, sf_dir):
    streamed = REGISTRY["q59_stream_session_window"].fn(spark, sf_dir)
    batch = REGISTRY["q56_sessionization"].fn(spark, sf_dir)
    s = {(r.user_id): (r.n_sessions, r.n_events) for r in streamed.collect()}
    b = {(r.user_id): (r.n_sessions, r.n_events) for r in batch.collect()}
    assert s == b


def test_stream_dedup_bounded_and_complete(spark, sf_dir):
    out = REGISTRY["q61_stream_dedup"].fn(spark, sf_dir)
    got = {r.event_type: r.n_keys for r in out.collect()}
    # with an effectively-infinite watermark every (user,type) key
    # appears exactly once
    e = table(spark, sf_dir, "events")
    want = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_static_join(spark, sf_dir):
    from marketingcloud_etl_spark.streaming.jobs import (
        events_stream,
        run_to_memory,
        stream_static_join,
    )

    e = events_stream(spark, sf_dir)
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream_static_join(e, c, "user_id").groupBy("c_mktsegment").count()
    got = {r.c_mktsegment: r["count"] for r in run_to_memory(joined, "t_ssj").collect()}
    batch = (
        table(spark, sf_dir, "events")
        .join(c, "user_id")
        .groupBy("c_mktsegment")
        .count()
    )
    want = {r.c_mktsegment: r["count"] for r in batch.collect()}
    assert got == want

def test_watermark_drops_late_rows(spark, tmp_path):
    """The watermark semantic, pinned directly: a row arriving after
    its window was finalized is dropped, never merged into re-emitted
    results. Spark keeps TWO watermark values per batch — the previous
    batch's for late-event filtering, the current one for state
    eviction — so the drop requires the watermark to have been
    established one batch BEFORE the late row arrives (three files
    forced into three micro-batches via maxFilesPerTrigger=1 +
    file-mtime ordering)."""
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    schema = "event_id long, ts_s string, value double"

    def write_one(rows, name, mtime):
        staging = str(tmp_path / f"stage_{name}")
        (
            spark.createDataFrame(rows, schema)
            .select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))  # file source orders by mtime

    now = time.time()
    # batch 0: early-window row + noon row → watermark 11:00 after
    write_one([(0, "2025-06-01 02:15:00", 1.0), (1, "2025-06-01 12:00:00", 1.0)], "f1", now - 90)
    # batch 1: fresh row; establishes the filtering watermark
    write_one([(2, "2025-06-01 12:30:00", 1.0)], "f2", now - 45)
    # batch 2: late row targeting the finalized [02:00, 03:00) window
    write_one([(3, "2025-06-01 02:00:30", 1.0)], "f3", now)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the finalized early window keeps n=1 — the late row was dropped
    got = {str(r.ws): r.n for r in spark.table("t_late").collect()}
    assert got.get("2025-06-01 02:00:00") == 1, got
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in q.recentProgress
    )
    assert dropped == 1


def test_transform_with_state_matches_batch(spark, sf_dir):
    """transformWithState running totals == batch aggregate. Protobuf
    resolves through _pbcompat when no real distribution is installed
    (skips only when NEITHER source exists on the machine)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.streaming.jobs import (
        enable_transform_with_state,
        events_stream,
        run_to_memory,
        stateful_running_totals_tws,
    )

    if not enable_transform_with_state(spark):
        pytest.skip("no protobuf available (real or bundled)")
    with conf_scope(spark, ROCKSDB_CONFS):
        out = run_to_memory(
            stateful_running_totals_tws(events_stream(spark, sf_dir)),
            "tws_out",
            output_mode="update",
        )
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        out.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("user_id", "n_events", "total_cents")
    )
    from marketingcloud_etl_spark.io import table

    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        )
    )
    assert final.exceptAll(batch).count() == 0 and batch.exceptAll(final).count() == 0


def test_transform_with_state_checkpoint_recovery(spark, sf_dir, tmp_path):
    """transformWithState state must survive a query restart from the
    RocksDB checkpoint alone: run the running-totals processor over half
    the replay files, stop, add the rest, restart with the SAME
    checkpoint — users seen in both halves must emit CUMULATIVE totals
    in phase 2 (phase-1 counts included), and the final per-user row
    must equal the batch aggregate over the full table. Complements
    test_checkpoint_recovery_no_duplicates, which only covers source
    offsets for a stateless foreachBatch sink."""
    import os
    import shutil

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.streaming.jobs import (
        enable_transform_with_state,
        replay_dir,
        stateful_running_totals_tws,
    )

    if not enable_transform_with_state(spark):
        pytest.skip("no protobuf available (real or bundled)")

    full = replay_dir(spark, sf_dir)
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    src = str(tmp_path / "src"); os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(full).schema

    def run_phase(name: str):
        # memory sink refuses checkpoint recovery; foreachBatch +
        # parquet-append supports it and keeps every emitted row
        out_dir = str(tmp_path / name)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stateful_running_totals_tws(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    with conf_scope(spark, ROCKSDB_CONFS):
        for f in files[: len(files) // 2]:
            shutil.copy(os.path.join(full, f), src)
        p1 = run_phase("tws_ck1").localCheckpoint()  # snapshot before restart
        for f in files[len(files) // 2 :]:
            shutil.copy(os.path.join(full, f), src)
        p2 = run_phase("tws_ck2").localCheckpoint()

    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("total_cents"),
        )
    )
    # a user with events in both halves is the witness that phase 2
    # started from recovered state, not zero
    both = p1.select("user_id").intersect(p2.select("user_id"))
    assert both.count() > 0
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        p1.unionByName(p2)
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("user_id", "n_events", "total_cents")
    )
    assert final.exceptAll(batch).count() == 0 and batch.exceptAll(final).count() == 0


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """The streaming stream⋈stream join over the replayed files must
    produce exactly the batch join's pairs (generous watermarks so no
    out-of-order replay file advances the watermark past live state)."""
    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.plans.catalog import load_all
    from marketingcloud_etl_spark.streaming.jobs import (
        events_stream,
        run_to_memory,
        stream_stream_join,
    )

    batch = load_all()["q123_stream_stream_join"].fn(spark, sf_dir).collect()[0]

    s = events_stream(spark, sf_dir)
    p = s.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("p_ts"))
    c = s.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = stream_stream_join(
        p.withColumnRenamed("user_id", "key"),
        c.withColumnRenamed("c_user", "key"),
        key="key",
        left_ts="p_ts",
        right_ts="c_ts",
        lookback="30 minutes",
        left_watermark="100 days",
        right_watermark="100 days",
    )
    out = run_to_memory(joined, "q123_stream_out", output_mode="append")
    got = out.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("total_lead_us"),
    ).collect()[0]
    assert got.n_pairs == batch.n_pairs
    assert got.total_lead_us == batch.total_lead_us


def test_checkpoint_recovery_no_duplicates(spark, sf_dir, tmp_path):
    """Exactly-once across restart from the checkpoint alone: run a
    file stream over half the input with an APPEND sink (no key dedup
    to hide replays), stop, add the rest, restart with the SAME
    checkpoint — the second run must process only the new files and
    the final target must equal the source with zero duplicates."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.streaming.jobs import replay_dir

    full = replay_dir(spark, sf_dir)
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(files) == 8
    src = str(tmp_path / "src"); os.makedirs(src)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(full).schema

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in files[:4]:
        shutil.copy(os.path.join(full, f), src)
    run_stream()
    n_half = spark.read.parquet(target).count()

    for f in files[4:]:
        shutil.copy(os.path.join(full, f), src)
    run_stream()

    got = spark.read.parquet(target)
    want = spark.read.parquet(full)
    assert n_half < got.count() == want.count()
    # append sink + no dedup: equality proves offsets were not replayed
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    assert got.select(F.sum("event_id").cast("long")).collect()[0][0] == \
           want.select(F.sum("event_id").cast("long")).collect()[0][0]


def test_transform_with_state_event_time_timers(spark, tmp_path):
    """Event-time-timer sessionization (streaming/jobs.py::
    session_close_tws), pinned on a controlled in-order stream:

    * user 1 has two bursts separated by >30 min — the timer fires
      when the watermark passes burst1_end + 30min, emitting session 1
      with exactly its events; burst 2 re-opens state.
    * a session whose gap timer is still beyond the final watermark
      stays OPEN (no emission) — timers fire against the watermark,
      never wall clock.
    * re-arming must REPLACE the timer: burst 2 spans two batches
      <30 min apart, and a stale first-batch timer would split it.
    """
    import glob
    import os
    import shutil
    import time

    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.streaming.jobs import (
        enable_transform_with_state,
        session_close_tws,
    )

    if not enable_transform_with_state(spark):
        pytest.skip("no protobuf available (real or bundled)")

    src = str(tmp_path / "src"); os.makedirs(src)

    def write_one(rows, name, mtime):
        staging = str(tmp_path / f"stage_{name}")
        (
            spark.createDataFrame(rows, "user_id long, ts_s string")
            .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(staging)
        )
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dest = f"{src}/{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    now = time.time()
    # batch 0: user 1 burst 1 (3 events, 10:00-10:10)
    write_one(
        [(1, "2025-06-01 10:00:00"), (1, "2025-06-01 10:05:00"), (1, "2025-06-01 10:10:00")],
        "f1", now - 90,
    )
    # batch 1: user 1 burst 2 part A (11:30) — >30min after burst 1, so
    # the watermark (11:30 - 1min) passes 10:40 and closes session 1
    write_one([(1, "2025-06-01 11:30:00")], "f2", now - 60)
    # batch 2: burst 2 part B (11:45, <30min after part A — same session)
    write_one([(1, "2025-06-01 11:45:00")], "f3", now - 30)
    # batch 3: user 2 far in the future advances the watermark past
    # burst 2's gap timer (12:15) and closes session 2; user 2's own
    # session stays open (nothing after it)
    write_one([(2, "2025-06-01 20:00:00")], "f4", now)

    with conf_scope(spark, ROCKSDB_CONFS):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 minute")
        )
        q = (
            session_close_tws(stream, gap_minutes=30)
            .writeStream.format("memory")
            .queryName("timer_sessions")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    rows = sorted(
        spark.table("timer_sessions").collect(),
        key=lambda r: (r.user_id, r.session_start_us),
    )
    def us(s):
        import datetime
        return int(datetime.datetime.fromisoformat(s + "+00:00").timestamp() * 1_000_000)

    assert [(r.user_id, r.n_events, r.session_start_us, r.session_end_us) for r in rows] == [
        (1, 3, us("2025-06-01 10:00:00"), us("2025-06-01 10:10:00")),
        (1, 2, us("2025-06-01 11:30:00"), us("2025-06-01 11:45:00")),
    ]


def test_chained_stateful_checkpoint_recovery(spark, sf_dir, tmp_path):
    """q188's chained pipeline (dedup → windowed agg) must carry BOTH
    operators' state across a restart from the checkpoint alone: run
    the doubled feed's first half, stop, add the rest, restart with
    the same checkpoint — final per-window counts must equal the
    batch aggregate of the UN-doubled source (dedup state surviving
    the restart is what cancels the doubling; window state surviving
    is what keeps earlier counts)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.streaming.jobs import replay_dir

    full = replay_dir(spark, sf_dir)
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    src = str(tmp_path / "src"); os.makedirs(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(full).schema

    def run_stream():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        doubled = s.unionByName(s)
        win = (
            doubled.withWatermark("ts", "3650 days")
            .dropDuplicates(["event_id"])
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd").alias("day"), "event_type", "n"
            )
        )

        def sink_fn(bdf, epoch_id):
            bdf.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(sink)

        q = (
            win.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in files[:4]:
        shutil.copy(os.path.join(full, f), src)
    run_stream()
    for f in files[4:]:
        shutil.copy(os.path.join(full, f), src)
    run_stream()

    out = spark.read.parquet(sink)
    from pyspark.sql.window import Window as W

    last = (
        out.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("day", "event_type").orderBy(F.col("epoch").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("day", "event_type", "n")
    )
    want = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert last.exceptAll(want).count() == 0 and want.exceptAll(last).count() == 0


def test_pydatasource_stream_sink_restart_idempotent(spark, sf_dir, tmp_path):
    """The custom streaming writer's exactly-once contract: (1) an
    availableNow run lands every source row exactly once across
    per-batch manifests; (2) restarting from the same checkpoint with
    no new data commits nothing new; (3) re-committing the SAME batch
    id (the crash-between-commit-and-offset-ack case) replaces that
    batch's files instead of duplicating them."""
    import json
    import os

    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.sinks.pydatasource import (
        JsonLinesSinkDataSource,
        _JsonLinesStreamWriter,
        _PartCommit,
        read_stream_manifests,
    )
    from marketingcloud_etl_spark.streaming.jobs import events_stream

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass
    base, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    os.makedirs(base, exist_ok=True)

    def run():
        q = (
            events_stream(spark, sf_dir)
            .select("event_id", "event_type", "value")
            .writeStream.format("mcetl_jsonl_sink")
            .option("path", base)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    m1 = read_stream_manifests(base)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert m1["n_rows"] == n_src
    assert len(m1["batches"]) >= 2  # maxFilesPerTrigger=2 → multi-batch
    back = spark.read.json([os.path.join(base, f) for f in m1["files"]])
    assert back.count() == n_src
    assert back.select("event_id").distinct().count() == n_src

    run()  # restart, no new source files → no new manifests
    m2 = read_stream_manifests(base)
    assert m2 == m1

    # driver-side re-commit of an existing batch id replaces its files
    bid = m1["batches"][0]
    before = sorted(f for f in os.listdir(base) if f.startswith(f"batch-{bid}-part-"))
    w = _JsonLinesStreamWriter({"path": base})
    staged = os.path.join(base, "_staging")
    os.makedirs(staged, exist_ok=True)
    p = os.path.join(staged, "spart-retry.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({"event_id": -1, "event_type": "retry", "value": 0.0}) + "\n")
    w.commit([_PartCommit(staged_path=p, n_rows=1)], bid)
    after = sorted(f for f in os.listdir(base) if f.startswith(f"batch-{bid}-part-"))
    assert after == [f"batch-{bid}-part-00000.jsonl"]  # replaced, not appended
    rewritten = json.load(open(os.path.join(base, f"_SUCCESS.{bid}")))
    assert rewritten["n_rows"] == 1 and rewritten["batch_id"] == bid


def test_rocksdb_state_store_matches_batch(spark, sf_dir):
    """The RocksDB state store provider — the state backend that keeps
    100 TB-scale streaming state off the executor heap (spill to local
    disk, changelog checkpointing) — produces the same windowed counts
    as the default HDFS-backed provider and the batch aggregate. This
    pins that nothing in the engine assumes provider-specific
    semantics, so a production deployment can flip the conf."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.streaming.jobs import events_stream, run_to_memory

    with conf_scope(spark, ROCKSDB_CONFS):
        agg = (
            events_stream(spark, sf_dir)
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        got = run_to_memory(agg, "rocksdb_tumbling", output_mode="complete")
        want = (
            table(spark, sf_dir, "events")
            .groupBy(F.date_trunc("day", "ts").alias("ws"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_pattern_automaton_checkpoint_recovery(spark, sf_dir, tmp_path):
    """q350's pattern automaton must survive a restart from the RocksDB
    checkpoint alone: fold the FIRST half of the time-ordered slices,
    stop, add the rest, restart on the SAME checkpoint — the carried
    (stage, anchor, matches) state must stitch the two halves into
    exactly the batch fold (a view in phase 1 whose click lands in
    phase 2 still completes a match; dropped state would undercount,
    replayed batches would overcount)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.streaming.jobs import (
        enable_transform_with_state,
        ordered_replay_dir,
        pattern_match_tws,
    )

    if not enable_transform_with_state(spark):
        pytest.skip("no protobuf available (real or bundled)")

    full = ordered_replay_dir(spark, sf_dir)
    slices = sorted(d for d in os.listdir(full) if d.startswith("slice="))
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(full).schema
    )

    def run_phase(name: str):
        out_dir = str(tmp_path / name)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("latestFirst", "false")
            .parquet(src)
            .select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            )
        )
        q = (
            pattern_match_tws(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    with conf_scope(spark, ROCKSDB_CONFS):
        for d in slices[: len(slices) // 2]:
            shutil.copytree(os.path.join(full, d), os.path.join(src, d))
        run_phase("pat_ck1").localCheckpoint()
        for d in slices[len(slices) // 2 :]:
            shutil.copytree(os.path.join(full, d), os.path.join(src, d))
        p2 = run_phase("pat_ck2").localCheckpoint()

    # matches is nondecreasing, so max over all emissions = final state
    got = {
        r["user_id"]: r["m"]
        for r in p2.groupBy("user_id").agg(F.max("matches").alias("m")).collect()
    }
    # batch reference: the q346 fold over the full table
    ev = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        )
        .collect()
    )
    from collections import defaultdict

    seqs = defaultdict(list)
    for r in ev:
        seqs[r["user_id"]].append((r["ts_us"], r["eid"], r["et"]))
    V, P = 86_400_000_000, 259_200_000_000
    want = {}
    for u, s in seqs.items():
        stage = anchor = m = 0
        for us, _eid, et in sorted(s):
            if et == "view":
                stage, anchor = 1, us
            elif et == "click" and stage == 1 and us - anchor <= V:
                stage, anchor = 2, us
            elif et == "purchase" and stage == 2 and us - anchor <= P:
                stage, anchor, m = 0, 0, m + 1
        want[u] = m
    # phase 2 only re-emits users its slices touched, but each emission
    # carries the CUMULATIVE count — equality with the full-table batch
    # fold proves phase-1 state survived the restart (dropped state
    # undercounts, a replayed batch overcounts)
    for u, m in got.items():
        assert m == want[u], (u, m, want[u])
    assert got, "phase 2 emitted nothing"
