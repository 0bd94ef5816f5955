"""Behavioral pins for the round-6 wave (q229–q248) beyond oracle
parity: the threshold-top-k superset guarantee under adversarial ties,
CDC chunking's boundary-shift locality, watermark-drop non-triviality,
simhash identity/locality, reservoir stability under repartitioning,
and the UDTF-table-arg vs window-sessionization equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F

from marketingcloud_etl_spark.io import table
from marketingcloud_etl_spark.plans.catalog import load_all
from marketingcloud_etl_spark.session import conf_scope
from marketingcloud_etl_spark.streaming.jobs import ROCKSDB_CONFS

REG = load_all()


def test_threshold_topk_survives_adversarial_ties(spark):
    """All-equal values: the GK threshold degenerates to the tied value
    and the (value, key) tiebreak must still select a deterministic
    exact-k set."""
    n, k = 5000, 1000
    df = spark.range(n).select(
        F.col("id").alias("l_orderkey"),
        F.lit(1).cast("int").alias("l_linenumber"),
        F.lit(42.0).alias("l_extendedprice"),
    )
    acc = 10000
    thr = df.agg(
        F.percentile_approx(
            F.round(F.col("l_extendedprice") * 100).cast("bigint"),
            F.lit(max(0.0, 1.0 - (k + 1.0) / n - 2.0 / acc)),
            F.lit(acc),
        ).alias("t")
    ).first()["t"]
    cents = df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    survivors = cents.filter(F.col("price_cents") >= thr)
    assert survivors.count() >= k  # superset guarantee holds under ties
    top = survivors.orderBy(
        F.col("price_cents").desc(), "l_orderkey", "l_linenumber"
    ).limit(k)
    rows = top.collect()
    assert len(rows) == k
    # deterministic tiebreak: lowest k orderkeys at the tied value
    assert {r.l_orderkey for r in rows} == set(range(k))


def test_cdc_chunking_localizes_an_early_edit(spark):
    """THE content-defined-chunking property: prepending a word to a
    document changes only the first chunk's hash — every chunk after
    the first content-defined boundary is identical. A fixed-width
    chunker shifts every boundary and shares ~nothing."""
    text = " ".join(f"tok{i % 97}x{i % 13}" for i in range(120))
    edited = "inserted " + text
    df = spark.createDataFrame([(1, text), (2, edited)], "doc_id int, text string")
    th = F.transform(
        F.filter(F.split("text", r"\s+"), lambda t: t != ""),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    c = df.withColumn("h", th)
    n = F.size("h")
    c = c.withColumn(
        "e",
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (F.element_at("h", i) % 8 == 0) | (i == n),
        ),
    )
    b, p = 257, (1 << 31) - 1
    start = lambda j: F.when(j == 1, F.lit(1)).otherwise(  # noqa: E731
        F.element_at("e", (j - 1).cast("int")) + 1
    )
    chunk = lambda j: F.aggregate(  # noqa: E731
        F.slice("h", start(j), F.element_at("e", j.cast("int")) - start(j) + 1),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * b + x, F.lit(p)),
    )
    chunks = c.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.size("e")), chunk).alias("chunks"),
    ).collect()
    by_id = {r.doc_id: r.chunks for r in chunks}
    orig, edit = by_id[1], by_id[2]
    # all original chunks except (possibly) the first reappear verbatim
    assert orig[1:] == edit[len(edit) - len(orig) + 1 :]
    assert set(orig[1:]).issubset(set(edit))


def test_watermark_late_drop_is_nontrivial(spark, sf_dir, duck):
    """Guard against the evidence degenerating: the oracle's simulated
    drop set must be non-empty at the fixture scale (if a fixture or
    slice-count change made every planted row survive, q236 would
    silently stop testing drops)."""
    dropped = duck.sql(
        """
        WITH b AS (SELECT min(epoch_us(ts)) AS lo,
                          max(epoch_us(ts)) - min(epoch_us(ts)) + 1 AS span
                   FROM events),
        e AS (SELECT event_id,
                 make_timestamp(epoch_us(ts) - CASE WHEN event_id % 97 = 0
                                THEN 432000000000 ELSE 0 END) AS ts2,
                 cast(floor((epoch_us(ts) - b.lo) * 8.0 / b.span) as bigint) AS slice
              FROM events, b),
        sm AS (SELECT slice, make_timestamp((epoch_us(max(ts2)) // 1000) * 1000) AS m
               FROM e GROUP BY slice),
        wm AS (SELECT slice,
                      max(m) OVER (ORDER BY slice
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                        - INTERVAL 30 MINUTES AS wm_before
               FROM sm)
        SELECT count(*) FROM e JOIN wm USING (slice)
        WHERE wm.wm_before IS NOT NULL
          AND date_trunc('hour', e.ts2) + INTERVAL 1 HOUR <= wm.wm_before
        """
    ).fetchone()[0]
    assert dropped > 0


def test_simhash_identity_and_locality(spark):
    """Identical docs → identical simhash (hamming 0); a one-word edit
    moves few bits; unrelated random docs move many."""
    base = " ".join(f"w{i % 53}q{i % 7}" for i in range(80))
    near = base.replace("w1q1", "CHANGED", 1)
    far = " ".join(f"z{i * 17 % 101}" for i in range(80))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id int, text string"
    )
    th = F.transform(
        F.filter(F.split("text", r"\s+"), lambda t: t != ""),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    votes = (
        "aggregate(h, array_repeat(cast(0 as bigint), 32), "
        "(acc, x) -> zip_with(acc, sequence(0, 31), "
        "(c, b) -> c + (shiftright(x, b) & 1) * 2 - 1))"
    )
    sh_expr = (
        f"aggregate(zip_with({votes}, sequence(0, 31), "
        f"(v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    sh = {
        r.doc_id: r.sh
        for r in df.withColumn("h", th).select("doc_id", F.expr(sh_expr).alias("sh")).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) == 0
    assert ham(sh[1], sh[3]) <= 10
    assert ham(sh[1], sh[4]) >= 8


def test_grouped_reservoir_is_repartition_stable(spark, sf_dir):
    """The hash-ordered per-group sample must not depend on physical
    layout: 1-partition and 16-partition inputs select identical
    rows."""
    fn = REG["q245_grouped_hash_reservoir"].fn
    base = {(r.lang, r.doc_id) for r in fn(spark, sf_dir).collect()}
    d = table(spark, sf_dir, "documents").repartition(16)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    again = {
        (r.lang, r.doc_id)
        for r in d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    assert base == again


def test_udtf_table_arg_matches_window_sessionization(spark, sf_dir):
    """q248's per-partition UDTF must agree with q56's window/cumsum
    formulation on session counts for every user."""
    udtf_rows = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in REG["q248_udtf_table_arg"].fn(spark, sf_dir).collect()
    }
    q56_rows = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in REG["q56_sessionization"].fn(spark, sf_dir).collect()
    }
    assert udtf_rows == q56_rows


def test_update_mode_final_rows_equal_batch_counts(spark, sf_dir):
    """The LAST emission per key in q243's timeline must equal the
    plain batch aggregate (the timeline's fixed point)."""
    timeline = REG["q243_update_mode_timeline"].fn(spark, sf_dir)
    final = {
        r.event_type: r.n
        for r in timeline.groupBy("event_type").agg(F.max("n").alias("n")).collect()
    }
    batch = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == batch


def test_stream_stream_outer_join_survives_restart(spark, sf_dir, tmp_path):
    """Outer-join STATE must survive a checkpoint restart: run the
    q250 full-outer join over the first half of the ordered replay,
    stop, add the rest, restart from the SAME checkpoint — the union
    of emissions across both phases must equal a single uninterrupted
    run (same matched pairs, same null-padded rows, no duplicates):
    buffered not-yet-matched rows live in the join state, so a lost or
    double-restored state store would change the multiset."""
    import os
    import shutil

    from marketingcloud_etl_spark.streaming.jobs import ordered_replay_dir

    full = ordered_replay_dir(spark, sf_dir)
    slices = sorted(d for d in os.listdir(full) if d.startswith("slice="))

    def run(src: str, ckpt: str, out_dir: str):
        schema = (
            spark.read.option("recursiveFileLookup", "true").parquet(full).schema
        )
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("latestFirst", "false")
            .parquet(src)
        )
        p = (
            s.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("c_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        j = p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "fullOuter",
        ).select("user_id", "p_id", "c_user", "c_id")

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            j.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def rows(out_dir: str):
        if not os.path.isdir(out_dir):
            return []
        df = spark.read.parquet(out_dir)
        out = []
        for r in df.collect():
            out.append((r.user_id, r.p_id, r.c_user, r.c_id))
        return sorted(out, key=lambda t: tuple(-1 if v is None else v for v in t))

    # phased run: 4 slices, restart, all 8
    src = str(tmp_path / "src")
    os.makedirs(src)
    for sl in slices[:4]:
        shutil.copytree(os.path.join(full, sl), os.path.join(src, sl))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run(src, ckpt, out_dir)
    for sl in slices[4:]:
        shutil.copytree(os.path.join(full, sl), os.path.join(src, sl))
    run(src, ckpt, out_dir)

    # uninterrupted reference run
    ref_out = str(tmp_path / "ref_out")
    run(full, str(tmp_path / "ref_ckpt"), ref_out)

    phased, single = rows(out_dir), rows(ref_out)
    assert phased == single and len(single) > 0


def test_value_state_ttl_expires_across_phases(spark, sf_dir, tmp_path):
    """State TTL (Spark 4 transformWithState ttlDurationMs): a per-user
    counter with a 500ms processing-time TTL accumulates within a
    phase, but after a 2s pause and a restart from the same
    checkpoint, the expired state must READ AS ABSENT — users seen in
    both phases restart from zero in phase 2 (the bounded-state
    guarantee TTL exists for), unlike the no-TTL recovery test where
    totals are cumulative."""
    import os
    import shutil
    import time

    import pandas as pd
    import pytest
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from marketingcloud_etl_spark.streaming.jobs import (
        enable_transform_with_state,
        replay_dir,
    )

    if not enable_transform_with_state(spark):
        pytest.skip("no protobuf available (real or bundled)")

    class TTLCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint", ttlDurationMs=500)

        def handleInputRows(self, key, rows, timerValues):
            (n,) = self._n.get() if self._n.exists() else (0,)
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    full = replay_dir(spark, sf_dir)
    files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(full).schema

    with conf_scope(spark, ROCKSDB_CONFS):

        def run_phase(name: str):
            out_dir = str(tmp_path / name)

            def sink(batch_df, batch_id):
                batch_df.write.mode("append").parquet(out_dir)

            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", len(files))
                .parquet(src)
            )
            q = (
                stream.groupBy("user_id")
                .transformWithStateInPandas(
                    statefulProcessor=TTLCount(),
                    outputStructType="user_id bigint, n_events bigint",
                    outputMode="Update",
                    timeMode="ProcessingTime",
                )
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # ProcessingTime + TTL + availableNow keeps scheduling
            # "cleaning up state" no-data batches indefinitely, so the
            # trigger never self-terminates — wait until the DATA batch
            # has committed to the sink, then stop explicitly
            deadline = time.time() + 120
            while time.time() < deadline:
                if os.path.isdir(out_dir) and any(
                    f.endswith(".parquet") for f in os.listdir(out_dir)
                ):
                    progress = q.recentProgress
                    if progress and all(
                        p["numInputRows"] == 0 for p in progress[-2:]
                    ) and len(progress) >= 2:
                        break
                time.sleep(0.5)
            q.stop()
            q.awaitTermination()
            return out_dir

        half = len(files) // 2
        for f in files[:half]:
            shutil.copy(os.path.join(full, f), os.path.join(src, f))
        p1 = run_phase("p1")
        time.sleep(2.0)  # > 500ms TTL
        for f in files[half:]:
            shutil.copy(os.path.join(full, f), os.path.join(src, f))
        p2 = run_phase("p2")

        import pyspark.sql.functions as F

        phase1 = {r.user_id: r.n_events for r in spark.read.parquet(p1).collect()}
        phase2 = {r.user_id: r.n_events for r in spark.read.parquet(p2).collect()}
        # ground truth: rows per user in each half
        src_files = [os.path.join(full, f) for f in files]
        h1 = {
            r.user_id: r.n
            for r in spark.read.parquet(*src_files[:half])
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        h2 = {
            r.user_id: r.n
            for r in spark.read.parquet(*src_files[half:])
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert phase1 == h1  # phase 1 accumulates normally
        dual = set(h1) & set(h2)
        assert dual
        # expired state reads as absent: phase-2 counts restart at zero
        for u in dual:
            assert phase2[u] == h2[u], (u, phase2[u], h2[u])
