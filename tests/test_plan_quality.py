"""Plan-quality regression tests: the physical plans the engine is
designed around, pinned so a refactor can't silently regress them
(SURVEY.md §4). Complements test_operators.py::
test_bucketed_join_has_no_shuffle / test_partition_pruning_scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from marketingcloud_etl_spark.io import table
from marketingcloud_etl_spark.plans.catalog import load_all

REGISTRY = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_dim_join_broadcasts(spark, sf_dir):
    """q05 joins lineitem→orders→customer→nation: the small dims must
    come in as broadcast hash joins, never shuffle both sides."""
    plan = _plan(REGISTRY["q05_revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_filters_push_into_scan(spark, sf_dir):
    """A filter on a scanned column must reach the parquet reader
    (PushedFilters), not run post-scan only."""
    df = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan_columns(spark, sf_dir):
    """A two-column projection must read a two-column schema — a scan
    that reads everything for a narrow projection is wrong at any
    scale."""
    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_aggregate_is_partial_then_final(spark, sf_dir):
    """groupBy aggregates must map-side combine (two HashAggregate
    levels around one Exchange), so hot keys arrive pre-reduced."""
    df = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2 and "Exchange" in plan


def test_whole_stage_codegen_covers_scalar_pipeline(spark, sf_dir):
    """The flagship scan→flatten→hash pipeline stays inside whole-stage
    codegen (no interpreted projections in the hot path). AQE only
    shows the real physical tree after execution, so run it first."""
    df = REGISTRY["q00_flagship_ingest_dedup"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # "*(n)" node prefixes are the WholeStageCodegen subtree markers in
    # the compact plan string; the scan-side projection (stage 1, the
    # md5 flatten) and the aggregates must all carry one
    assert "isFinalPlan=true" in plan
    assert plan.count("*(") >= 3, plan


def test_topk_plans_take_ordered(spark, sf_dir):
    """q23 global sort+limit must plan TakeOrderedAndProject — never a
    full global sort of the table."""
    plan = _plan(REGISTRY["q23_sort_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark, sf_dir):
    """q07's EXISTS shape must execute as a semi join (no row
    multiplication then distinct)."""
    plan = _plan(REGISTRY["q07_join_semi"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_sequence_packing_single_shuffle(spark, sf_dir):
    """q107 packs per source: the window and the final (source, seq_id)
    aggregate must share ONE hashpartitioning(source) exchange — a
    second shuffle for the agg would mean Catalyst stopped recognizing
    the subset-key co-partitioning the query is designed around."""
    df = REGISTRY["q107_sequence_packing"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "Window" in final


def test_token_entropy_partial_aggs(spark, sf_dir):
    """q108's two aggregations must each map-side combine (partial_
    markers), so the Zipf-ish (doc_id, token) key arrives pre-reduced;
    and the tokenizer must stay a fused Generate, not a UDF."""
    df = REGISTRY["q108_token_entropy"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("partial_") >= 2, final
    assert "Generate explode" in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_funnel_step_filters_push_into_scan(spark, sf_dir):
    """q121: each funnel step's event_type filter must reach its own
    parquet scan — the funnel reads three pushdown-filtered slices,
    never three full passes."""
    plan = _plan(REGISTRY["q121_funnel_conversion"].fn(spark, sf_dir))
    # every events scan must carry an event_type equality in its
    # PushedFilters section (not merely in a post-scan Filter node)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans
    pushed = [s.split("PushedFilters:")[1] if "PushedFilters:" in s else "" for s in scans]
    assert all("EqualTo(event_type" in p for p in pushed), pushed
    for step in ("view", "click", "purchase"):
        assert any(step in p for p in pushed), step


def test_median_mad_stats_join_broadcasts(spark, sf_dir):
    """q119: the per-group median/MAD tables are tiny and must come
    back as broadcast joins, not a shuffle of the row side."""
    plan = _plan(REGISTRY["q119_median_mad_outliers"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_cdc_diff_scans_are_filtered_and_pruned(spark, sf_dir):
    """q122: both snapshot scans must push their key-mod filters and
    read only the two needed columns."""
    plan = _plan(REGISTRY["q122_snapshot_cdc_diff"].fn(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 2
    for s in scans:
        assert "o_orderkey" in s and "o_totalprice" in s
        assert "o_comment" not in s


def test_scd1_merge_broadcasts_update_keys(spark, sf_dir):
    """q124: the anti-join against the (small) update key set must be
    a broadcast, so the target table never shuffles just to find
    survivors."""
    plan = _plan(REGISTRY["q124_scd1_merge"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_every_oracle_query_has_driver_evidence_path():
    """Driver-contract discipline: each oracle-able catalog query must
    either hold a _PRIORITY slot (queued for a driver verdict this
    round) or already own a green CORRECTNESS row from ANY past round
    (r1∪r2∪...). A query in neither set would silently ship without
    driver evidence."""
    import glob
    import json
    import os

    from marketingcloud_etl_spark.plans.catalog import _PRIORITY

    green = set()
    for path in glob.glob(
        os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")
    ):
        rows = json.load(open(path))
        green |= {
            n
            for n, row in rows.items()
            if row.get("rows_match") and row.get("schema_match")
            and row.get("hash_match") and not row.get("err")
        }
    unevidenced = [
        n
        for n, d in REGISTRY.items()
        if d.oracle is not None and n not in _PRIORITY and n not in green
    ]
    assert not unevidenced, f"oracle queries with no driver-evidence path: {unevidenced}"


def test_priority_front_slots_cover_unevidenced_backlog():
    """The driver samples the FIRST 50 oracle-able names in catalog
    order each round. Any oracle-able query with no green CORRECTNESS
    row from a past round must therefore sit inside the first 50
    oracle-able _PRIORITY slots — otherwise its verdict is deferred
    forever (the exact failure mode of rounds 2–3)."""
    import glob
    import json
    import os

    green = set()
    for path in glob.glob(
        os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json")
    ):
        rows = json.load(open(path))
        green |= {
            n
            for n, row in rows.items()
            if row.get("rows_match") and row.get("schema_match")
            and row.get("hash_match") and not row.get("err")
        }
    if not green:
        return  # fresh checkout without driver artifacts
    oracle_order = [n for n, d in REGISTRY.items() if d.oracle is not None]
    first50 = set(oracle_order[:50])
    deferred = [
        n for n in oracle_order if n not in green and n not in first50
    ]
    # When unevidenced names outnumber the 50-slot window (a round that
    # registers more net-new queries than the driver samples — also the
    # r4-artifacts-never-written case), overflow is arithmetic, not the
    # rounds-2/3 failure mode (aged debt parked behind re-checks). The
    # meaningful invariants are then:
    #  1. the window is FULLY packed with unevidenced names — no
    #     already-green re-check occupies a slot while a first-timer
    #     waits outside;
    #  2. the order pays oldest debt first — every deferred name is
    #     NEWER (higher catalog position) than every unevidenced name
    #     inside the window.
    if deferred:
        stale_slots = [n for n in oracle_order[:50] if n in green]
        assert not stale_slots, (
            "already-verified queries hold window slots while unevidenced "
            f"ones wait outside: inside={stale_slots} deferred={deferred}"
        )
        pos = {n: i for i, n in enumerate(oracle_order)}
        in_window_unevidenced = [n for n in oracle_order[:50] if n not in green]
        oldest_deferred = min(pos[n] for n in deferred)
        newest_inside = max(pos[n] for n in in_window_unevidenced)
        assert oldest_deferred > newest_inside, (
            "priority order defers OLDER unevidenced queries while newer "
            f"ones occupy window slots: {deferred}"
        )


def test_no_unpartitioned_window_in_plans():
    """No catalog query may build a global (un-partitionBy'd) window —
    that's a single-partition sort of the whole frame at scale. The only
    sanctioned shapes: windows over frames bounded by construction
    (post-limit, per-source counts, per-partition counts), which must
    carry a `# global-window-ok:` justification on the same line, and
    operators/ranking.py's distributed substitutes for everything else."""
    import os
    import re

    plans_dir = os.path.join(
        os.path.dirname(__file__), "..", "marketingcloud_etl_spark", "plans"
    )
    pat = re.compile(r"(?:W|Window)\.orderBy\(")
    offenders = []
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        for i, line in enumerate(open(os.path.join(plans_dir, fname)), 1):
            if pat.search(line) and "global-window-ok:" not in line:
                offenders.append(f"{fname}:{i}: {line.strip()}")
    assert not offenders, (
        "unjustified global windows (use operators/ranking.py or add a "
        f"bounded-frame justification): {offenders}"
    )


def test_rfm_plan_has_no_single_partition_sort(spark, sf_dir):
    """q132's quartile scores must come from the distributed ntile: no
    window-function ntile, every Window node partitioned, and the ONLY
    Exchange SinglePartition allowed is the final stage of a global
    scalar aggregate (map-side partials -> one row — the canonical
    shape, which moves P partial rows, not data)."""
    df = REGISTRY["q132_rfm_segmentation"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    # the rewrite removed the window-function ntile entirely
    assert "ntile(" not in final
    import re

    lines = final.splitlines()
    for i, line in enumerate(lines):
        s = line.strip().lstrip(":+- ")
        if s.startswith("Window "):
            groups = re.findall(r"\[[^\[\]]*\]", s)
            assert len(groups) >= 3, f"unpartitioned data-sized window: {s}"
        if "Exchange SinglePartition" in line:
            # child must be a map-side partial aggregate (scalar agg)
            below = " ".join(lines[i + 1 : i + 3])
            assert "partial_" in below, f"data-sized single partition: {line}"


def test_global_row_ids_plan_free_of_single_partition(spark, sf_dir):
    """q114 (and the ranking operator generally) must plan ZERO
    single-partition exchanges: offsets come from a broadcast self-join
    of the per-source counts, not a running-sum window."""
    df = REGISTRY["q114_global_row_ids"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan


def test_shuffle_hash_hint_plans_shuffled_hash_join(spark, sf_dir):
    """q175's SHUFFLE_HASH hint must produce a ShuffledHashJoin — if
    Catalyst silently falls back to sort-merge, the query stops
    covering the strategy it exists to demonstrate."""
    plan = _plan(REGISTRY["q175_shuffle_hash_join"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dpp_scan_carries_runtime_pruning_filter(spark, sf_dir):
    """q176's partitioned-fact scan must carry a dynamic-pruning
    runtime filter on the partition column (the subquery-driven
    directory skip the query exists to demonstrate)."""
    plan = _plan(REGISTRY["q176_dynamic_partition_pruning"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_bloom_filter_join_injects_might_contain(spark, sf_dir):
    """q181: with broadcast disabled and the runtime-filter thresholds
    forced, the fact-side scan must carry the injected bloom-filter
    predicate (might_contain) — no false negatives, so results are
    unchanged (the oracle checks that); this pins the PLAN property."""
    from marketingcloud_etl_spark.plans.relational import bloom_join_frame

    frame, restore = bloom_join_frame(spark, sf_dir)
    try:
        plan = _plan(frame)
        assert "might_contain" in plan.lower()
        assert "SortMergeJoin" in plan  # broadcast really was disabled
    finally:
        restore()


def test_bloom_incremental_dedup_prefilters_before_join(spark, sf_dir):
    """q359: the batch side must pass through the explicit bloom probe
    (shiftleft bit tests against the broadcast word map) BEFORE the
    exact verify join — if the filter disappears the query degrades to
    the bare anti-join shape it exists to pre-prune."""
    plan = _plan(REGISTRY["q359_bloom_incremental_dedup"].fn(spark, sf_dir))
    assert "shiftleft" in plan.lower()
    assert "element_at" in plan.lower()


def test_file_provenance_reads_metadata_not_data(spark, sf_dir):
    """q180: the provenance aggregation must not read any payload
    column beyond the partition value — _metadata comes from the scan
    node itself."""
    plan = _plan(REGISTRY["q180_file_provenance"].fn(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("o_totalprice" not in s and "o_custkey" not in s for s in scans)


def test_time_hierarchy_rollup_single_scan(spark, sf_dir):
    """q185: both grains must come from ONE events scan — grouping
    sets share the read, the whole point vs one scan per resolution."""
    plan = _plan(REGISTRY["q185_time_hierarchy_rollup"].fn(spark, sf_dir))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, f"expected 1 scan, got {len(scans)}"


def test_jl_projection_is_narrow(spark, sf_dir):
    """q187: the projection itself must be shuffle-free — the only
    exchange is the final single-row aggregation."""
    plan = _plan(REGISTRY["q187_jl_random_projection"].fn(spark, sf_dir))
    assert plan.lower().count("exchange") <= 2  # partial->final agg only


def test_training_mix_selection_is_source_partitioned(spark, sf_dir):
    """q190: the selection window must partition by source — a global
    (unpartitioned) ranking window would single-partition the corpus.
    (The w_sum fold legitimately single-partitions its ≤|sources|-row
    aggregate; the corpus-sized window must not.)"""
    plan = _plan(REGISTRY["q190_training_mix_pipeline"].fn(spark, sf_dir))
    assert "windowspecdefinition(source" in plan
    # the single-partition exchanges may only feed the zero-key folds
    # over the per-source frame, never a Window. In the plan string the
    # CONSUMER of an exchange is printed on the lines ABOVE it, so look
    # upward from each Exchange SinglePartition for the nearest
    # operator — it must be an aggregate, not a Window/Sort
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        above = [l for l in lines[max(0, i - 3) : i] if l.strip()]
        assert above and not any("Window" in l or "Sort " in l for l in above), (
            f"single-partition exchange feeds a Window/Sort:\n" + "\n".join(above)
        )


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """q191: <=> must plan as a hash join (broadcast or shuffled), not
    fall back to BroadcastNestedLoopJoin — the null-safe comparison is
    sargable and the 100 TB cost profile must match a plain equi-join."""
    plan = _plan(REGISTRY["q191_null_safe_join"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan and "HashJoin" in plan


def test_bucketized_range_join_avoids_nested_loop(spark, sf_dir):
    """q209: the interval pairing must plan as an equi-join on the time
    bucket — a NestedLoop (the naive theta-join physical plan) defeats
    the whole rewrite."""
    plan = _plan(REGISTRY["q209_bucketized_range_join"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join mitigation must actually engage on a planted hot
    key: a join where one key owns ~90% of the probe side is executed
    with thresholds lowered to fixture scale, and the FINAL adaptive
    plan must mark the sort-merge join as skew-handled (skew=true) —
    the runtime defense operators/skew.py's manual salting exists to
    complement. Broadcast is disabled so the join can't sidestep the
    shuffle; all touched confs are restored."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        probe = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pay"),
        )
        build = spark.range(50_000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        joined = probe.join(build, "k").groupBy().count()
        [row] = joined.collect()
        assert row["count"] > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cached_frame_reuses_inmemory_scan(spark, sf_dir):
    """Explicit caching must actually serve downstream consumers from
    the in-memory columnar store: a cached aggregate consumed by two
    branches plans InMemoryTableScan in BOTH, and the cache is dropped
    afterwards (no block leakage into later tests)."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.io import table

    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    try:
        agg.count()  # materialize
        a = agg.filter(F.col("n") > 0)
        b = agg.agg(F.sum("n").alias("t"))
        for df in (a, b):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan[:2000]
    finally:
        agg.unpersist(blocking=True)


def test_oracle_query_outputs_are_driver_hashable(spark, sf_dir):
    """Every oracle-able query's FINAL projection must be scalar-only
    (string/numeric/bool/date/timestamp). The driver's comparator sorts
    a pandas frame by every column before hashing; a raw array / map /
    struct / binary cell raises `TypeError: unhashable type` inside its
    canonicalizer — q165's round-4 failure mode. List-shaped results
    must fold to a scalar (sorted-fold protocol, q108/q217/q282) or
    stringify (concat_ws, the q18/q165 pattern) BEFORE the final
    projection. Rows-only queries are NOT exempt — round 10's q117 red
    proved the driver canonicalizes rows-only output through the same
    pandas hasher before recording even the row count — but they are
    checked by test_rows_only_outputs_survive_driver_canonicalizer
    below on the SAME materialized frame, not here: for the streaming
    replays, merely building the DataFrame executes the whole
    foreachBatch job, so running both tests over them would pay every
    replay twice per session (the same reason plan_audit skips them).
    The scalar-only contract stays catalog-wide; only the execution is
    split."""
    from pyspark.sql import types as T

    scalar_ok = (
        T.StringType, T.BooleanType, T.DateType, T.TimestampType,
        T.TimestampNTZType, T.ByteType, T.ShortType, T.IntegerType,
        T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
    )
    bad = {}
    cartesian = []
    for name, qd in REGISTRY.items():
        if qd.oracle is None:
            continue  # covered by the rows-only replay test below
        df = qd.fn(spark, sf_dir)
        schema = df.schema
        hazards = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if not isinstance(f.dataType, scalar_ok)
        ]
        names = [f.name for f in schema.fields]
        if len(set(names)) != len(names):
            hazards.append(f"duplicate column names {names}")
        if hazards:
            bad[name] = hazards
        # piggybacked catalog-wide plan invariant (the frame is already
        # built — inspecting the physical plan costs nothing extra): no
        # query may plan a CartesianProduct. The deliberate crossJoins
        # all broadcast one-row/domain-sized frames and must plan as
        # BroadcastNestedLoopJoin; a CartesianProduct means a broadcast
        # hint got lost and the pair space explodes at scale.
        if "CartesianProduct" in _plan(df):
            cartesian.append(name)
    assert not bad, f"driver-comparator hazards in final projections: {bad}"
    assert not cartesian, f"CartesianProduct planned in: {cartesian}"


def test_bench_budgets_cover_headline():
    """Every pinned budget must name a current headline query (a rename
    would silently orphan its budget → phantom 'unpinned' pass), and —
    both directions, the round-11 lesson: a half-applied retirement
    left q407/q416 headlined but unpinned, which the one-way check
    missed — every headline query must carry a budget (newcomers get a
    provisional local pin the same commit they join HEADLINE)."""
    import bench

    orphaned = [n for n in bench.BUDGETS if n not in bench.HEADLINE]
    assert not orphaned, f"budgets for non-headline queries: {orphaned}"
    unpinned = [n for n in bench.HEADLINE if n not in bench.BUDGETS]
    assert not unpinned, f"headline queries with no budget: {unpinned}"
    assert all(b > 0 for b in bench.BUDGETS.values())
    # setup entries for retired queries keep paying their state build
    # every run without a measured query to show for it (q407's
    # round-11 near-miss): the setup pre-pass must stay inside HEADLINE
    stale_setup = [n for n in bench.SETUP_QUERIES if n not in bench.HEADLINE]
    assert not stale_setup, f"setup entries for non-headline queries: {stale_setup}"


def test_bench_stdout_line_fits_driver_artifact_window():
    """The driver archives only the last ~2,200 bytes of bench output
    (BENCH_r08 lost every per-query time before q391 to the window).
    Pin that the compact stdout line CANNOT outgrow it: serialize the
    worst-case line (every headline query at a 4-digit-seconds time,
    every short key at max observed width, budget pass) and require
    comfortable headroom. Headline growth that would re-break the
    artifact must fail here, not in the next VERDICT."""
    import json as _json

    import bench

    short = {n.split("_", 1)[0]: 9999.99 for n in bench.HEADLINE}
    assert len(short) == len(bench.HEADLINE), "qNNN short keys must be unique"
    # worst case INCLUDING the failure the gate exists to report: every
    # query over budget (bench caps the inline over/unpinned detail at
    # the 8 worst, carrying true counts in n_over/n_unpinned — so the
    # line is bounded even in an every-query-red catastrophe)
    ten = list(short)[:8]
    line = _json.dumps(
        {
            "metric": "headline_total",
            "value": 99999.999,
            "unit": "sec",
            "sf": 0.1,
            "setup_total": 9999.99,
            "queries": short,
            "budget": {
                "pass": False,
                "n_over": len(short),
                "over": {k: {"sec": 9999.99, "budget": 9999.99} for k in ten},
                "n_unpinned": len(short),
                "unpinned": ten,
                "n_watch": len(short),
            },
        },
        separators=(",", ":"),
    )
    assert len(line) <= 2100, (
        f"bench stdout line worst-case {len(line)} bytes — would truncate "
        "in the driver's ~2,200-byte artifact window; trim the headline "
        "set, lower the over/unpinned caps, or emit per-family subtotals"
    )


def test_tpch_battery_plans_have_no_cartesian_and_broadcast_dims(spark, sf_dir):
    """The TPC-H completion battery (q293-q302) is the catalog's most
    externally-comparable set of join shapes — pin the physical
    properties that matter at 100 TB: no CartesianProduct ever sneaks
    into a snowflake join (a mis-planned theta/dim join would), every
    dim-joining query broadcasts at least one side, and every lineitem
    scan carries pushed filters when the query filters lineitem."""
    tpch = [
        "q293_volume_shipping", "q294_market_share", "q295_product_profit",
        "q296_order_count_distribution", "q297_promo_share",
        "q298_top_supplier", "q299_small_qty_avg", "q300_large_orders",
        "q301_disjunctive_revenue", "q302_dormant_customers",
    ]
    broadcastless_ok = {
        # grouped-agg self-shapes where both sides are large by design
        "q296_order_count_distribution",
    }
    for name in tpch:
        plan = _plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        if name not in broadcastless_ok:
            assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
                f"{name}: expected at least one broadcast join in the snowflake"
            )


def test_heavy_hitters_candidate_phase_partial_aggs(spark, sf_dir):
    """q369: the raw token stream must fold MAP-SIDE in the candidate
    phase (partial_count before the (pid, token) exchange) and the
    exact phase must be a semi-join bounded by the broadcast candidate
    set — if either degrades, the query becomes the full-vocabulary
    groupBy it exists to avoid."""
    plan = _plan(REGISTRY["q369_sketchguided_heavy_hitters"].fn(spark, sf_dir))
    low = plan.lower()
    assert "partial_count" in low
    assert "leftsemi" in low.replace(" ", "")
    assert "spark_partition_id" in low


def test_binseg_changepoint_windows_stay_partitioned(spark, sf_dir):
    """q370: every window runs PARTITION BY event_type — no global
    sort, no Exchange SinglePartition anywhere in the plan."""
    plan = _plan(REGISTRY["q370_binseg_changepoint"].fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan


def test_soundex_key_is_narrow_codegen(spark, sf_dir):
    """q371: the phonetic key derivation (translate + replace chain)
    must run in the narrow pre-shuffle Project over the scan — if it
    drifted past an exchange, the raw names would ship instead of the
    4-char keys. count(DISTINCT w) legitimately plans a second
    (block_key, w)-keyed exchange; neither may be single-partition."""
    plan = _plan(REGISTRY["q371_soundex_blocking"].fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange") <= 2
    pre_shuffle = plan.split("Exchange")[-1]  # innermost = before 1st exchange
    assert "translate(" in pre_shuffle and "FileScan" in pre_shuffle


def test_vocab_growth_no_single_partition_window(spark, sf_dir):
    """q372: the cumulative columns run through global_prefix_sum —
    the plan must contain a range exchange and NO single-partition
    exchange."""
    plan = _plan(REGISTRY["q372_vocab_growth"].fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_grid_density_assignment_broadcasts_cell_dictionary(spark, sf_dir):
    """q376: the point-stream assignment must join against a BROADCAST
    labeled-cell dictionary — if it degrades to a shuffle join, the
    corpus-sized point stream re-shuffles for a grid-sized lookup."""
    plan = _plan(REGISTRY["q376_grid_density_clusters"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mmr_plan_is_single_fold_no_iteration_joins(spark, sf_dir):
    """q374: the greedy loop must live inside ONE aggregate expression
    — the plan may join for candidate generation but must NOT contain
    a per-step join chain (>3 joins would mean the chained-DataFrame
    formulation crept back; it OOMs the plan stringifier at k=6)."""
    plan = _plan(REGISTRY["q374_mmr_diversified_retrieval"].fn(spark, sf_dir))
    joins = plan.count("Join")
    assert joins <= 3, f"{joins} joins — greedy steps leaked into the plan"


def test_no_hugeint_column_in_any_oracle(duck):
    """The driver's value hash is DTYPE-sensitive: DuckDB types a bare
    ``sum(BIGINT)`` as HUGEINT (int128), which Spark cannot produce, so
    the hash goes red even when every value is identical — q230's only
    r6 failure was exactly this (VERDICT r6 §What's wrong #1). DuckDB's
    ``DESCRIBE`` binds without executing, so this scans the full
    catalog's oracle output schemas in milliseconds and pins the
    convention: every integral aggregate must be cast (the catalog's
    own ``cast(sum(…) as bigint)`` idiom, 93+ occurrences)."""
    offenders = []
    for name, qd in sorted(REGISTRY.items()):
        if qd.oracle is None:
            continue
        schema = duck.sql("DESCRIBE " + qd.oracle).fetchall()
        for col, typ, *_ in schema:
            if "HUGEINT" in typ.upper():
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns typed HUGEINT (Spark has no int128 — the driver "
        "hash can never match; wrap in cast(... as bigint)): "
        + "; ".join(offenders)
    )


def test_grouped_ols_accumulates_decimal_not_bigint(spark, sf_dir):
    """q364: the sufficient-statistic sums must ACCUMULATE in
    decimal(38,0) — i.e. the per-row product is cast before the
    partial aggregate. Summing bigint products and casting after wraps
    silently past 2^63 with ANSI off (~sf10 for the cross terms)."""
    plan = _plan(REGISTRY["q364_grouped_ols_trend"].fn(spark, sf_dir))
    assert "partial_sum(cast((x#" in plan.replace("\n", " ") or (
        "as decimal(38,0))" in plan and "partial_sum(cast(" in plan
    ), "sufficient-statistic sums no longer widen before aggregation"


def test_minhash_probe_broadcasts_batch_over_index(spark, sf_dir):
    """q388: the (band,bucket) probe join must BROADCAST the batch side
    — the arriving batch is orders of magnitude smaller than the
    corpus index, and broadcasting it means the state table is scanned
    map-side, never shuffled. A shuffle join here re-exchanges the
    corpus-sized index every batch."""
    plan = _plan(REGISTRY["q388_incremental_minhash_state"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_probe_broadcasts_batch_over_index(spark, sf_dir):
    """q389: like q388's probe, the cell-keyed join must broadcast the
    batch side so the corpus-sized semantic index is scanned map-side,
    never shuffled."""
    plan = _plan(REGISTRY["q389_incremental_semantic_state"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_serving_pushes_term_filter_into_postings_scan(spark, sf_dir):
    """q390: the query's term IN-predicate must reach the postings
    parquet scan (PushedFilters) — with the sorted-by-term layout this
    is what turns the probe into a row-group seek instead of a full
    postings read. Also: no corpus-sized doc-length join (len is
    denormalized into the postings) and the batch side broadcasts."""
    plan = _plan(REGISTRY["q390_bm25_index_serving"].fn(spark, sf_dir))
    assert "PushedFilters: [In(t, [" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_components_relabel_broadcasts(spark, sf_dir):
    """q391: the contracted CC and the relabel map are batch-sized, so
    every join in the merged plan should resolve to broadcast hash
    joins — a shuffle of the corpus-sized label table keyed on anything
    but its component would defeat the incremental posture. And never a
    cross product."""
    plan = _plan(REGISTRY["q391_incremental_components_state"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_label_prop_cone_broadcasts(spark, sf_dir):
    """q394: the affected set, the NEED closures, and the final
    anti-join against the persisted labelling are all batch-cone-sized
    — every membership join must broadcast the cone side, and the
    corpus-sized state is touched by exactly one (anti) join keyed on
    id. Never a cross product."""
    plan = _plan(REGISTRY["q394_incremental_label_prop"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_refresh_pipeline_plan_shape(spark, sf_dir):
    """q395: the composed refresh must keep each stage's scale shape —
    broadcast probe/cone joins, no cross product, and no
    single-partition ORDER BY (the sampler rides the distributed
    prefix sum, whose only Exchange is rangepartitioning)."""
    plan = _plan(REGISTRY["q395_corpus_refresh_pipeline"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" in plan


def test_bm25_compacted_serving_keeps_term_pushdown(spark, sf_dir):
    """q396: serving from the COMPACTED index must retain q390's whole
    point — the query-term IN-list reaching the postings scan
    (PushedFilters) so the re-sorted row groups give an index seek —
    plus broadcast probe joins and no cross product."""
    plan = _plan(REGISTRY["q396_bm25_index_compaction"].fn(spark, sf_dir))
    assert "PushedFilters: [In(t, [" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_compaction_reprobe_broadcasts(spark, sf_dir):
    """q397: the re-ingest probe against the compacted cell-partitioned
    index keeps q389's shape — batch side broadcast, state never
    shuffled, no cross product."""
    plan = _plan(REGISTRY["q397_semantic_index_compaction"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_distinct_never_rescans_history(spark, sf_dir):
    """q400: the incremental distinct merge must read the HISTORY only
    through its persisted bitmap state — the plan scans the orders
    fact exactly once (the batch slice, with the date filter pushed
    into the parquet scan) plus the state parquet; a second orders
    scan means the query recomputed history and the posture is
    broken."""
    plan = _plan(REGISTRY["q400_incremental_distinct_state"].fn(spark, sf_dir))
    flat = plan.replace("\n", " ")
    n_orders_scans = flat.count("orders.parquet")
    assert n_orders_scans == 1, f"{n_orders_scans} orders scans (want 1: batch only)"
    assert "bitmap_state" in flat, "state parquet not read"
    assert "PushedFilters:" in flat and "IsNotNull(o_orderdate)" in flat or (
        "GreaterThanOrEqual(o_orderdate" in flat
    ), "batch date filter not pushed into the orders scan"


def test_incremental_quantile_never_rescans_history(spark, sf_dir):
    """q402: the counts-state merge must read history only through the
    persisted (group, value, count) table. The pinned counts frame's
    cached child plan prints once per consumer, so counting scan LINES
    overcounts — instead pin that EVERY lineitem scan in the plan is
    the batch slice (date filter pushed into the parquet scan: a
    history re-scan would appear as a lineitem FileScan without it)
    and that the state parquet is read."""
    plan = _plan(REGISTRY["q402_incremental_quantile_state"].fn(spark, sf_dir))
    li_lines = [l for l in plan.splitlines() if "lineitem.parquet" in l]
    assert li_lines, "no lineitem scan at all?"
    for l in li_lines:
        assert "1997-01-01" in l, f"lineitem scan without the batch date filter: {l[:200]}"
    assert "quantile_counts" in plan, "state parquet not read"


def test_incremental_session_never_rescans_history(spark, sf_dir):
    """q403: the session-state merge must read history only through
    the persisted per-user state — every events scan in the plan is
    the batch slice (date filter pushed), plus the state parquet."""
    plan = _plan(REGISTRY["q403_incremental_session_state"].fn(spark, sf_dir))
    # events reach plans through io.table's normalized copy
    ev_lines = [l for l in plan.splitlines() if "events.parquet" in l]
    assert ev_lines, "no events scan at all?"
    for l in ev_lines:
        assert "2024-01-16" in l, f"events scan without the batch date filter: {l[:200]}"
    assert "session_state" in plan, "state parquet not read"


def test_incremental_heavy_hitters_never_rescans_history(spark, sf_dir):
    """q405: the counts merge must read history only through the
    persisted token-counts table. The pinned merged frame's cached
    child prints per consumer, so pin that EVERY documents scan is the
    batch slice (the %3=0 filter evaluates post-scan, but the state
    parquet must be present and the raw token stream must not be
    re-aggregated from the corpus side — one distinct documents-scan
    SUBTREE, textually identical across cache printouts)."""
    plan = _plan(REGISTRY["q405_incremental_heavy_hitters"].fn(spark, sf_dir))
    assert "token_counts" in plan, "state parquet not read"
    doc_lines = [l for l in plan.splitlines() if "documents.parquet" in l]
    assert doc_lines, "no documents scan at all?"
    for l in doc_lines:
        assert "% 3) = 0)" in l, (
            f"documents scan without the batch filter: {l.strip()[:200]}"
        )


def test_ivm_retraction_never_rescans_base(spark, sf_dir):
    """q406: the maintained view must read the base fact only through
    the persisted view parquet — the orders scans in the plan are the
    DELTA slices (inserts + delete before-images), never an unfiltered
    base scan; customer joins broadcast."""
    plan = _plan(REGISTRY["q406_ivm_retraction"].fn(spark, sf_dir))
    assert "join_view" in plan, "state parquet not read"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_sample_is_takeordered(spark, sf_dir):
    """q407: the bounded-sample merge must plan as TakeOrderedAndProject
    (a k-row reduction), never a global Sort materialization — the
    whole point of the k-row state posture."""
    plan = _plan(REGISTRY["q407_incremental_sample_state"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-k lost the TakeOrdered shape"
    assert "sample_state" in plan, "state parquet not read"


def test_salted_skew_join_plan_shape(spark, sf_dir):
    """q420: the salt must actually decompose the hot key — the join
    runs as a ShuffledHashJoin keyed on (skew_key, salt) with NO
    broadcast escape hatch anywhere in the plan (at the scale where
    salting matters, neither side broadcasts), and the profile side
    fans out exactly x_SALT_BUCKETS via an explode(sequence) Generate
    node (a dim-sized fan-out; fact rows are never duplicated)."""
    import re

    from marketingcloud_etl_spark.plans.audit_queries import _SALT_BUCKETS

    df = REGISTRY["q420_salted_skew_join"].fn(spark, sf_dir)
    plan = _plan(df)
    assert re.search(
        r"ShuffledHashJoin \[skew_key#\d+L?, salt#\d+\],"
        r" \[skew_key#\d+L?, salt#\d+\]",
        plan,
    ), f"salted join lost its (skew_key, salt) ShuffledHashJoin:\n{plan}"
    assert "Broadcast" not in plan, "salting demo must not broadcast"
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan, "profile-side salt fan-out missing"
    # pin the fan-out width itself (constant-folded to an opaque array
    # in the physical plan, still literal in the analyzed plan)
    ana = df._jdf.queryExecution().analyzed().toString()
    assert f"explode(sequence(0, {_SALT_BUCKETS - 1}" in ana, ana
    assert _SALT_BUCKETS == 8


def test_aqe_runtime_skew_split_demonstrated(spark):
    """The RUNTIME complement of q420's plan-time salting: with the
    session's AQE skew-join handling (session.py enables it; the
    thresholds here are scaled down to local fixture sizes), a planted
    hot key whose shuffle partition dwarfs the median is SPLIT at
    runtime — the final adaptive plan carries SortMergeJoin(skew=true)
    over an `AQEShuffleRead skewed` on the fact side, with the result
    unchanged. Pinned because each precondition silently disables the
    rule and turns the demo into a no-op: (a) BOTH join children must
    be plain sort-over-shuffle — any operator between the shuffle
    stage and the join (even a partial aggregate, e.g. building the
    dim via .distinct()) breaks OptimizeSkewedJoin's pattern match;
    (b) skew is measured on COMPRESSED map-output bytes — a constant
    hot key whose payload got column-pruned compresses below any
    threshold, so the payload must stay live through the consumer;
    (c) no broadcast escape (threshold -1) or the join never
    shuffles at this scale."""
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400000).select(
            F.when(F.col("id") % 2 == 0, F.lit(-1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )
        right = (
            spark.range(200000)
            .select((F.col("id") * 2 + 1).alias("k"))
            .union(spark.range(1).select(F.lit(-1).alias("k")))
            .select("k", F.md5(F.col("k").cast("string")).alias("w"))
        )
        j = left.join(right.hint("merge"), "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("v").alias("mx"),
            F.max("w").alias("mw"),
        )
        [row] = j.collect()
        assert row.n == 400000  # every left row matched exactly once
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, f"AQE did not split the hot key:\n{final}"
        assert "AQEShuffleRead skewed" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rebalance_hint_splits_skewed_write(spark, tmp_path):
    """The WRITE-side skew surface, completing the trio (q420 = plan-
    time salted join, AQE skew-split test = runtime join): landing a
    hot-keyed table with plain repartition(key) serializes the hot
    key's entire mass through ONE writer task and one straggler file —
    at 100 TB that file is half the table and the write runs on one
    core. The REBALANCE(key) hint keeps key clustering for downstream
    readers but lets AQE split oversized partitions
    (optimizeSkewsInRebalancePartitions, on by default) and coalesce
    tiny ones toward the advisory size: more writer tasks, bounded
    file sizes, same rows."""
    import glob
    import os

    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor": "0.2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.range(400000).select(
            F.when(F.col("id") % 2 == 0, F.lit(-1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),
        )
        rep_dir, reb_dir = str(tmp_path / "rep"), str(tmp_path / "reb")
        df.repartition("k").write.parquet(rep_dir)
        df.hint("rebalance", "k").write.parquet(reb_dir)
        rep = sorted(
            os.path.getsize(f) for f in glob.glob(rep_dir + "/*.parquet")
        )
        reb = sorted(
            os.path.getsize(f) for f in glob.glob(reb_dir + "/*.parquet")
        )
        # straggler file split: the biggest rebalanced file is a small
        # fraction of the repartition straggler (hot key = 50% of rows
        # in ONE file there), and writer parallelism rose with it
        assert reb[-1] < rep[-1] / 2, (rep[-1], reb[-1])
        assert len(reb) > len(rep), (len(rep), len(reb))
        # same rows landed
        n_rep = spark.read.parquet(rep_dir).count()
        n_reb = spark.read.parquet(reb_dir).count()
        assert n_rep == n_reb == 400000
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_mv_routing_never_scans_the_fact_table(spark, sf_dir):
    """q424: the quarterly-by-region report must be answered from the
    persisted (month x nation) MV plus broadcast dims — the routed
    physical plan scans the MV parquet and must contain NO scan of
    lineitem (or orders/customer: the MV already joined them). That
    read-reduction IS the materialized-view rewrite; a plan that
    touches the fact table has silently fallen back to re-derivation."""
    plan = _plan(REGISTRY["q424_mv_rewrite_routing"].fn(spark, sf_dir))
    assert "mv_month_nation" in plan
    for base in ("lineitem", "orders.parquet", "customer"):
        assert base not in plan, f"routed plan scans base table: {base}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_is_bucketed_not_cartesian(spark, sf_dir):
    """q425: the interval-overlap theta join must compile to the
    week-bucket EQUI-join (explode + shuffle on wk) — never a
    CartesianProduct / BroadcastNestedLoopJoin, which is what a naive
    range-predicate join between two independent interval sets plans
    as."""
    plan = _plan(REGISTRY["q425_interval_overlap_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan


def test_lsh_bucket_split_is_broadcast_maintenance(spark, sf_dir):
    """q426: the split rewrite must join index rows to the bucket-size
    registry via BROADCAST (the registry is bucket-domain-sized) and
    plan no cross product — state rows shuffle only for the keyed
    size/report aggregations."""
    plan = _plan(REGISTRY["q426_lsh_bucket_split"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rows_only_outputs_survive_driver_canonicalizer(spark, sf_dir):
    """The rows-only half of the catalog-wide driver-recordability
    contract, in ONE execution per query (streaming replays are
    expensive to even build — see the oracle-able test above): builds
    each rows-only query once, then (a) applies the same scalar-only
    schema + duplicate-name + no-CartesianProduct checks the oracle
    half gets, and (b) pushes the real pandas frame through the
    driver's exact crash site — sort_values over every column (pandas
    lexsort → Categorical.factorize raises `TypeError: unhashable
    type` on any container cell; round 10's q117 red happened there,
    before even the row count was recorded) — plus the repo's own
    comparator canonicalization. A green here means every rows-only
    query's actual output is recordable."""
    from pyspark.sql import types as T

    from .oracle import canonical

    scalar_ok = (
        T.StringType, T.BooleanType, T.DateType, T.TimestampType,
        T.TimestampNTZType, T.ByteType, T.ShortType, T.IntegerType,
        T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
    )
    bad = {}
    cartesian = []
    for name, qd in REGISTRY.items():
        if qd.oracle is not None:
            continue
        df = qd.fn(spark, sf_dir)
        hazards = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if not isinstance(f.dataType, scalar_ok)
        ]
        names = [f.name for f in df.schema.fields]
        if len(set(names)) != len(names):
            hazards.append(f"duplicate column names {names}")
        if hazards:
            bad[name] = hazards
            continue  # the value replay below would crash on these
        if "CartesianProduct" in _plan(df):
            cartesian.append(name)
        pdf = df.toPandas()
        if len(pdf):
            # the driver's exact crash site: sort_values over all columns
            pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        canonical(pdf)
    assert not bad, f"driver-comparator hazards in final projections: {bad}"
    assert not cartesian, f"CartesianProduct planned in: {cartesian}"
