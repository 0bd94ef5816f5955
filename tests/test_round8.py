"""Behavioral pins for the wave-7/8 operators (q369–q376) beyond
oracle parity: exact Python-reference replays — the Mann-Whitney U
integers from first principles, the binseg argmax against an
EXACT-RATIONAL scorer (stronger than the engines' double scoring: it
proves the IEEE argmax picked the true least-squares split), and the
MMR greedy path — plus structural invariants for the ER pipeline and
the density clusters."""

from __future__ import annotations

from fractions import Fraction

from marketingcloud_etl_spark.plans.audit_queries import fk_audit
from marketingcloud_etl_spark.plans.catalog import load_all

REG = load_all()


def test_mann_whitney_equals_python_reference(spark, sf_dir, duck):
    rows = duck.sql(
        """SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END,
                  cast(round(value * 100) as bigint)
           FROM events WHERE event_type IN ('purchase', 'click')"""
    ).fetchall()
    from collections import Counter

    n_v: Counter = Counter()
    a_v: Counter = Counter()
    for a, c in rows:
        n_v[c] += 1
        a_v[c] += a
    cum = 0
    r1_x2 = 0
    t_ties = 0
    for c in sorted(n_v):
        r1_x2 += a_v[c] * (2 * cum + n_v[c] + 1)
        t_ties += n_v[c] ** 3 - n_v[c]
        cum += n_v[c]
    n1 = sum(a_v.values())
    n = sum(n_v.values())
    n2 = n - n1
    (got,) = REG["q373_mann_whitney_u"].fn(spark, sf_dir).collect()
    assert (got["n1"], got["n2"]) == (n1, n2)
    assert got["u1_x2"] == r1_x2 - n1 * (n1 + 1)
    assert got["t_ties"] == t_ties
    import math

    z = (float(r1_x2 - n1 * (n1 + 1)) - float(n1 * n2)) / (
        2.0
        * math.sqrt(
            (float(n1) * float(n2) / 12.0)
            * (float(n + 1) - float(t_ties) / (float(n) * float(n - 1)))
        )
    )
    assert abs(got["z_score"] - round(z, 6)) < 1e-9


def test_binseg_argmax_matches_exact_rational_scorer(spark, sf_dir, duck):
    """The engines rank splits by a DOUBLE score; this replay scores
    every split as an exact Fraction (n·S_k − k·S_n)²/(k·n·(n−k)) and
    asserts the query still picked the true argmax — i.e. the double
    rounding never flipped the comparison on this data."""
    daily = duck.sql(
        """SELECT event_type, date_trunc('day', ts) AS day,
                  cast(count(*) as bigint) AS y
           FROM events GROUP BY event_type, day ORDER BY event_type, day"""
    ).fetchall()
    series: dict = {}
    for et, _day, y in daily:
        series.setdefault(et, []).append(y)
    want = {}
    for et, ys in series.items():
        n, sn = len(ys), sum(ys)
        best_k, best_score = None, None
        sk = 0
        for k in range(1, n):
            sk += ys[k - 1]
            score = Fraction((n * sk - k * sn) ** 2, k * n * (n - k))
            if best_score is None or score > best_score:
                best_k, best_score = k, score
        want[et] = best_k
    got = {
        r["event_type"]: r["split_k"]
        for r in REG["q370_binseg_changepoint"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_mmr_greedy_path_equals_python_reference(spark, sf_dir, duck):
    import math

    rows = duck.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    embs = {i: [float(x) for x in v] for i, v in rows}

    def cos(a, b):
        dot = da = db = 0.0
        for x, y in zip(a, b):
            dot += x * y
            da += x * x
            db += y * y
        d = math.sqrt(da) * math.sqrt(db)
        return dot / d if d > 0 else 0.0

    q = embs[0]
    rel = {i: cos(v, q) for i, v in embs.items()}
    cand = sorted(embs, key=lambda i: (-rel[i], i))[:12]
    sel = [min(cand, key=lambda i: (-rel[i], i))]
    for _ in range(5):
        rest = [c for c in cand if c not in sel]
        best = min(
            rest,
            key=lambda c: (
                -(0.7 * rel[c] - 0.3 * max(cos(embs[c], embs[s]) for s in sel)),
                c,
            ),
        )
        sel.append(best)
    got = [
        r["vec_id"]
        for r in REG["q374_mmr_diversified_retrieval"]
        .fn(spark, sf_dir)
        .orderBy("step")
        .collect()
    ]
    assert got == sel


def test_er_pipeline_conserves_records_and_respects_blocks(spark, sf_dir, duck):
    """Σ n_records over clusters must equal the part row count
    (nothing lost or double-counted by blocking/CC/survivorship), and
    every cluster's canonical must be one of its member names."""
    out = REG["q375_er_pipeline"].fn(spark, sf_dir).collect()
    (n_parts,) = duck.sql("SELECT count(*) FROM part").fetchone()
    assert sum(r["n_records"] for r in out) == n_parts
    (n_names,) = duck.sql("SELECT count(DISTINCT p_name) FROM part").fetchone()
    assert sum(r["n_entities"] for r in out) == n_names


def test_grid_density_clusters_conserve_points(spark, sf_dir, duck):
    """Every vector lands in exactly one cluster or noise; dense-cell
    counts are consistent with the minPts threshold."""
    out = REG["q376_grid_density_clusters"].fn(spark, sf_dir).collect()
    (n_vecs,) = duck.sql("SELECT count(*) FROM embeddings").fetchone()
    assert sum(r["n_points"] for r in out) == n_vecs
    for r in out:
        if r["component"] == -1:
            assert r["n_cells"] == 0
        else:
            # a dense cell holds >= 4 points, so a cluster with c cells
            # holds >= 4c points
            assert r["n_points"] >= 4 * r["n_cells"]


def test_holt_smoothing_equals_python_reference(spark, sf_dir, duck):
    """Pure-Python replay of the α=β=0.5 Holt recurrence — IEEE
    doubles stepped in the same order must reproduce the query's
    level/trend/forecast exactly (before the 6-decimal round)."""
    daily = duck.sql(
        """SELECT event_type, date_trunc('day', ts) AS day,
                  cast(count(*) as double) AS y
           FROM events GROUP BY event_type, day ORDER BY event_type, day"""
    ).fetchall()
    series: dict = {}
    for et, _d, y in daily:
        series.setdefault(et, []).append(y)
    want = {}
    for et, ys in series.items():
        l = 0.5 * ys[1] + 0.5 * (ys[0] + (ys[1] - ys[0]))
        b = 0.5 * (l - ys[0]) + 0.5 * (ys[1] - ys[0])
        for y in ys[2:]:
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
        want[et] = (len(ys), round(l, 6), round(b, 6), round(l + 7 * b, 6))
    got = {
        r["event_type"]: (r["n_days"], r["level"], r["trend"], r["forecast_h7"])
        for r in REG["q379_holt_smoothing"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_holt_winters_equals_python_reference(spark, sf_dir, duck):
    """Pure-Python replay of the α=β=γ=0.5 weekly Holt-Winters fold,
    including the two-week seed and the per-day seasonal-slot update —
    every IEEE intermediate stepped in the engines' order."""
    daily = duck.sql(
        """SELECT event_type, date_trunc('day', ts) AS day,
                  cast(count(*) as double) AS y
           FROM events GROUP BY event_type, day ORDER BY event_type, day"""
    ).fetchall()
    series: dict = {}
    for et, _d, y in daily:
        series.setdefault(et, []).append(y)
    want = {}
    for et, ys in series.items():
        if len(ys) < 14:
            continue
        a1 = a2 = 0.0
        for y in ys[0:7]:
            a1 += y
        for y in ys[7:14]:
            a2 += y
        a1 /= 7.0
        a2 /= 7.0
        l, b = a1, (a2 - a1) / 7.0
        s = [y - a1 for y in ys[0:7]]
        for i in range(8, len(ys) + 1):  # 1-based day index
            slot = (i - 1) % 7
            l_new = 0.5 * (ys[i - 1] - s[slot]) + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            s[slot] = 0.5 * (ys[i - 1] - l_new) + 0.5 * s[slot]
            l = l_new
        slot7 = len(ys) % 7
        want[et] = (
            len(ys),
            round(l, 6),
            round(b, 6),
            round(s[slot7], 6),
            round(l + 7 * b + s[slot7], 6),
        )
    got = {
        r["event_type"]: (
            r["n_days"],
            r["level"],
            r["trend"],
            r["season_h7"],
            r["forecast_h7"],
        )
        for r in REG["q380_holt_winters"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_theil_decomposition_additivity(spark, sf_dir):
    """T_total (q386, direct global fold) must equal
    Σ share·T_within + Σ between (q387) up to float summation noise —
    the additivity property the decomposition exists for — and the
    exact-integer income shares must telescope to ~10⁶ ppm."""
    (tot_row,) = REG["q386_theil_index"].fn(spark, sf_dir).collect()
    rows = REG["q387_theil_decomposition"].fn(spark, sf_dir).collect()
    within = sum(
        (r["income_share_ppm"] / 1e6) * r["theil_within"] for r in rows
    )
    between = sum(r["between_term"] for r in rows)
    assert abs(tot_row["theil_t"] - (within + between)) < 1e-3
    assert abs(sum(r["income_share_ppm"] for r in rows) - 1_000_000) < len(rows)


# ---------------------------------------------------------------- wave 4
# audit/reconciliation family (q408-q413) + warm-start PageRank (q414)


def test_table_checksum_is_order_insensitive_and_content_sensitive(spark):
    """q408's digest-sum protocol: the checksum must be invariant to
    partitioning/row order (it reconciles engines that share no layout)
    and must move when any single field of any single row changes —
    the two properties that make it a migration-validation primitive."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.plans.audit_queries import _row_digest_spark

    cols = [("k", "int"), ("name", "str"), ("amt", "double")]
    rows = [(i, f"n{i}", i * 1.01) for i in range(1000)]
    df = spark.createDataFrame(rows, "k bigint, name string, amt double")

    from marketingcloud_etl_spark.functions.hashing import checksum_half_sums

    def checksum(frame):
        r = frame.agg(*checksum_half_sums(_row_digest_spark(cols))).first()
        return (r["checksum_lo"], r["checksum_hi"])

    base = checksum(df)
    assert checksum(df.repartition(13)) == base
    assert checksum(df.orderBy(F.desc("k"))) == base
    mutated = df.withColumn(
        "amt", F.when(F.col("k") == 500, F.col("amt") + 0.01).otherwise(F.col("amt"))
    )
    assert checksum(mutated) != base
    # one extra / one missing row must also move it
    assert checksum(df.limit(999)) != base


def test_checksum_canonical_double_is_subcent_aware_and_null_safe(spark):
    """floor(x*100) cents distinguish sub-cent doubles that round to
    the same cent only when they floor apart — and NULL canonicalizes
    to the hash sentinel, not to the empty string (functions/hashing.py
    semantics)."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.plans.audit_queries import _row_digest_spark

    cols = [("v", "double")]
    d = spark.createDataFrame(
        [(2.674,), (2.675,), (2.68,), (None,)], "v double"
    ).select(_row_digest_spark(cols).alias("h"))
    hs = [r["h"] for r in d.collect()]
    # canonical form IS floor-of-cents: 2.674 and 2.675 both floor to
    # 267 (2.675*100 = 267.4999… in IEEE) and so must COLLIDE — the
    # defined contract, identical in DuckDB — while 2.68 floors to 268
    assert hs[0] == hs[1]
    assert hs[1] != hs[2]
    assert hs[3] is not None and hs[3] not in hs[:3]


def test_referential_integrity_plan_broadcasts_and_counts_orphans(spark, sf_dir):
    """q410: the parent-side existence checks must be broadcast joins
    (dimensions are broadcast-sized at every scale the audit targets)
    and a planted orphan must be counted exactly once per child row."""
    plan = (
        REG["q410_referential_integrity_audit"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    # planted orphan probe on constructed frames, through the operator
    child = spark.createDataFrame([(1,), (1,), (7,)], "c bigint")
    parent = spark.createDataFrame([(1,), (2,)], "p bigint")
    row = fk_audit(child, "c", parent, "p").first().asDict()
    assert row == {"n_child": 3, "n_orphan": 1, "n_parent": 2, "n_unreferenced": 1}


def test_fk_audit_builds_lazily(spark, sf_dir):
    """q314 takes its FK counts from q410's fk_audit and keeps every
    check lazy: building it runs no job beyond the schema reads of its
    three tables."""
    from marketingcloud_etl_spark.io import table

    sc = spark.sparkContext

    def jobs(build, group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    tables = ("orders", "lineitem", "customer")
    reads = jobs(lambda: [table(spark, sf_dir, t) for t in tables], "fk-audit-reads")
    q314 = REG["q314_referential_integrity_audit"].fn
    assert jobs(lambda: q314(spark, sf_dir), "fk-audit-build") == reads


def test_column_profile_is_single_scan(spark, sf_dir):
    """q409 promises one pass over orders, and q126 runs the same
    column_profile: each executed plan must contain exactly one parquet
    scan of the orders fixture."""
    for name in ("q409_column_profile_audit", "q126_column_profile"):
        plan = REG[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1, name


def test_warm_start_pagerank_continuation_identity(spark, sf_dir):
    """The warm-start protocol identity: 2 rounds from the state that
    2 rounds produced over the SAME graph must equal 4 rounds from
    uniform — bigint-exact, any partitioning. (q414's oracle proves
    the old-graph -> union-graph case; this pins the operator's init
    path itself.)"""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.operators.pagerank import pagerank_fixed_point

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    e0 = li.select(
        (F.col("l_partkey") * 2).alias("id_a"),
        (F.col("l_suppkey") * 2 + 1).alias("id_b"),
    )
    sym = e0.unionByName(
        e0.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    two = pagerank_fixed_point(sym, iters=2, symmetric=True)
    warm = pagerank_fixed_point(sym, iters=2, symmetric=True, init=two)
    four = pagerank_fixed_point(sym, iters=4, symmetric=True)
    got = {r["id"]: r["rank_micro"] for r in warm.collect()}
    want = {r["id"]: r["rank_micro"] for r in four.collect()}
    assert got == want and len(got) > 0


def test_manifest_history_enables_time_travel_and_rollback(tmp_path, spark):
    """q415's substrate: every publish appends to the manifest history;
    past generations stay addressable via read_generation after later
    publishes; rollback is re-publishing a historical dir."""
    from marketingcloud_etl_spark.sinks.manifest import (
        current_generation,
        generation_at,
        publish_generation,
        read_generation,
    )

    g0, g1 = str(tmp_path / "g0"), str(tmp_path / "g1")
    spark.range(3).write.parquet(g0)
    spark.range(10, 15).write.parquet(g1)
    man = str(tmp_path / "MANIFEST.json")
    publish_generation(man, g0, {"generation": 0})
    publish_generation(man, g1, {"generation": 1})
    assert current_generation(man) == g1
    assert generation_at(man, 0) == g0 and generation_at(man, -1) == g1
    assert sorted(r["id"] for r in read_generation(spark, man, 0).collect()) == [0, 1, 2]
    # rollback: re-publish the old dir; history keeps the full ledger
    publish_generation(man, g0, {"generation": 0, "rollback": True})
    assert current_generation(man) == g0
    assert [generation_at(man, i) for i in range(3)] == [g0, g1, g0]


def test_split_release_audit_is_exhaustive_and_disjoint(spark, sf_dir, duck):
    """q416: every document lands in exactly one split (counts
    telescope to the table size) and the split assignment is a pure
    function of doc_id (re-running assigns identically)."""
    total = duck.sql("SELECT count(*) FROM documents").fetchone()[0]
    rows = {
        r["split"]: r for r in REG["q416_split_release_audit"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows.values()) == total
    again = {
        r["split"]: r for r in REG["q416_split_release_audit"].fn(spark, sf_dir).collect()
    }
    assert {k: (v["checksum_lo"], v["checksum_hi"]) for k, v in rows.items()} == {
        k: (v["checksum_lo"], v["checksum_hi"]) for k, v in again.items()
    }


def test_incremental_checksum_never_rescans_history(spark, sf_dir):
    """q417: the checksum merge reads history only through the
    persisted per-source state — exactly one events scan (the batch
    slice, ts filter pushed into the parquet scan) plus the state
    parquet; additivity means state + batch must equal the full-table
    triple (which the oracle recomputes)."""
    plan = (
        REG["q417_incremental_checksum_state"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    ev = [l for l in scans if "event_id" in l]
    st = [l for l in scans if "checksum_lo" in l and "event_id" not in l]
    assert len(ev) == 1, f"{len(ev)} events scans (want 1: batch only)"
    assert st, "state parquet not read"
    # the predicate must reach PushedFilters (DataFilters alone would
    # still row-filter but read every history row group)
    assert "PushedFilters" in ev[0] and "GreaterThanOrEqual(ts" in ev[0], (
        "batch ts filter not pushed into the parquet scan"
    )


def test_partition_checksums_roll_up_to_table_checksum(spark, sf_dir):
    """q418's day triples must telescope to q408's events row — the
    tree-hash property that makes partition-level diff localization
    sound (mismatch in any day surfaces in the table total)."""
    days = REG["q418_partition_checksum_diff"].fn(spark, sf_dir).collect()
    table_rows = {
        r["tbl"]: r for r in REG["q408_table_checksum_reconcile"].fn(spark, sf_dir).collect()
    }
    ev = table_rows["events"]
    assert sum(r["n_rows"] for r in days) == ev["n_rows"]
    assert sum(r["checksum_lo"] for r in days) == ev["checksum_lo"]
    assert sum(r["checksum_hi"] for r in days) == ev["checksum_hi"]
