"""Behavioral pins for the algorithmic (non-oracle) operators:
planted-duplicate recall for MinHash/SimHash, ANN recall vs brute
force, merge_asof vs the window formulation, multimodal determinism,
salting equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from marketingcloud_etl_spark.io import table
from marketingcloud_etl_spark.operators.asof import asof_join
from marketingcloud_etl_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_band_candidates,
)
from marketingcloud_etl_spark.operators.multimodal import attach_binary_payload, extract_features
from marketingcloud_etl_spark.operators.similarity import ann_lsh_topk, knn_bruteforce
from marketingcloud_etl_spark.operators.skew import salted_join_key


@pytest.fixture(scope="module")
def docs_with_neardups(spark, sf_dir):
    """Fixture docs + planted near-duplicates: doc N+id gets doc id's
    text with one word appended — near-dup but not exact-dup."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("doc_id") < 50)
    max_id = 100000
    dups = d.select(
        (F.col("doc_id") + max_id).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appendedword")).alias("text"),
    )
    return d.unionByName(dups)


def test_minhash_lsh_finds_planted_neardups(docs_with_neardups):
    cand = minhash_lsh_candidates(docs_with_neardups, num_perm=32, bands=8)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    planted = {(i, i + 100000) for i in range(50)}
    found = planted & pairs
    # banded MinHash at 32/8 catches the overwhelming majority of
    # ~0.95-jaccard pairs; demand >= 80% recall
    assert len(found) >= 40, f"LSH recall too low: {len(found)}/50"


def test_minhash_verify_stage_jaccard(docs_with_neardups):
    cand = minhash_lsh_candidates(docs_with_neardups, num_perm=32, bands=8)
    verified = ngram_jaccard_pairs(docs_with_neardups, cand)
    planted = verified.filter(F.col("id_b") - F.col("id_a") == 100000)
    rows = planted.collect()
    assert rows, "no planted pairs survived to verify stage"
    assert all(r.jaccard > 0.8 for r in rows)


def test_minhash_index_probe_incremental(spark, sf_dir, tmp_path):
    """Cross-batch minhash state (q388's operator layer): (1) the index
    is built ONCE and probed from its parquet form — the probe plan
    must not reference the corpus; (2) re-ingested docs verify as dups
    via the stored fingerprint; (3) true NEAR-dups (one word appended)
    surface as candidates but not fingerprint-dups; (4) appending the
    batch survivors' index rows makes a later batch dedup against
    batch-1 docs — the incremental loop closes."""
    from marketingcloud_etl_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    corpus = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 50)
    )
    state = str(tmp_path / "minhash_index")
    build_minhash_index(corpus).write.partitionBy("band").parquet(state)
    index = spark.read.parquet(state)

    reingest = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    neardup = corpus.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" appendedword")).alias("text"),
    )
    batch1 = reingest.unionByName(neardup)
    res1 = {r.id: r for r in probe_minhash_index(batch1, index).collect()}
    assert all(res1[i + 1000].is_dup for i in range(10))          # exact re-ingest
    assert all(res1[i + 1000].dup_of == i for i in range(10))     # provenance
    near = [res1[i + 2000] for i in range(10, 20)]
    assert not any(r.is_dup for r in near)                        # not set-identical
    # near-dups still surface through the same index as candidates
    assert sum(1 for r in near if r.n_candidates > 0) >= 8

    # incremental append: survivors' bands extend the state
    survivors = batch1.join(
        probe_minhash_index(batch1, index).filter(~F.col("is_dup")).select("id"),
        batch1.doc_id == F.col("id"),
    ).select("doc_id", "text")
    build_minhash_index(survivors).write.mode("append").partitionBy("band").parquet(state)
    index2 = spark.read.parquet(state)
    batch2 = neardup.select((F.col("doc_id") + 3000).alias("doc_id"), "text")
    res2 = {r.id: r for r in probe_minhash_index(batch2, index2).collect()}
    assert all(res2[i + 5000].is_dup for i in range(10, 20))      # dup of batch-1 docs
    assert all(res2[i + 5000].dup_of == i + 2000 for i in range(10, 20))


def _minhash_compaction_case(spark, sf_dir):
    from marketingcloud_etl_spark.operators.dedup import (
        MINHASH_LAYOUT,
        build_minhash_index,
        probe_minhash_index,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    return MINHASH_LAYOUT, docs, "doc_id", build_minhash_index, probe_minhash_index


def _semantic_compaction_case(spark, sf_dir):
    from marketingcloud_etl_spark.operators.semantic_dedup import (
        SEMANTIC_LAYOUT,
        build_semantic_index,
        probe_semantic_index,
    )
    from marketingcloud_etl_spark.operators.similarity import train_ivf_codebook

    vecs = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
    )
    cb = train_ivf_codebook(vecs, n_cells=4, refine_iters=1)
    return (
        SEMANTIC_LAYOUT,
        vecs,
        "vec_id",
        lambda f: build_semantic_index(f, cb),
        lambda batch, index: probe_semantic_index(batch, index, cb),
    )


@pytest.mark.parametrize(
    "case",
    [_minhash_compaction_case, _semantic_compaction_case],
    ids=["minhash", "semantic"],
)
def test_minhash_index_compaction_ttl(spark, sf_dir, tmp_path, case):
    """compact_bucket_index (q393's and q397's operator), for the
    minhash band index and the semantic cell index: (1) an
    append-grown state collapses to ONE file per partition; (2)
    probing the compacted index equals probing the original for every
    item whose matches were not TTL'd; (3) TTL'd items stop matching —
    their re-ingests come back NEW."""
    import os

    from marketingcloud_etl_spark.operators.state import (
        compact_bucket_index,
        read_bucket_index,
        write_bucket_index,
    )

    layout, docs, id_col, build, probe = case(spark, sf_dir)
    part = layout.partition
    state = str(tmp_path / "idx")
    gen1 = docs.filter(F.col(id_col) < 30)
    gen2 = docs.filter(F.col(id_col) >= 30)
    write_bucket_index(build(gen1), layout, state)
    write_bucket_index(build(gen2), layout, state, mode="append")
    part_dirs = [p for p in os.listdir(state) if p.startswith(f"{part}=")]
    assert part_dirs, f"no {part} partitions written"
    n_files_before = sum(
        len([f for f in os.listdir(os.path.join(state, b)) if f.endswith(".parquet")])
        for b in part_dirs
    )
    assert n_files_before >= 2 * len(part_dirs)  # two generations of files

    # TTL: drop items 0..9; compact the rest
    out = str(tmp_path / "idx_compacted")
    compacted = compact_bucket_index(spark, layout, state, out, keep=F.col("id") >= 10)
    for b in [p for p in os.listdir(out) if p.startswith(f"{part}=")]:
        files = [f for f in os.listdir(os.path.join(out, b)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{b}: {len(files)} files after compaction"

    # probe equivalence: re-ingest every item under fresh (negated-odd)
    # ids; kept items still verify as dups, TTL'd items come back new
    reingest = docs.withColumn(id_col, -F.col(id_col) - 1)
    original = read_bucket_index(spark, layout, state)
    before = {r.id: r for r in probe(reingest, original).collect()}
    after = {r.id: r for r in probe(reingest, compacted).collect()}
    for i in range(60):
        rid = -i - 1
        assert before[rid].is_dup, f"item {i} should dup pre-compaction"
        if i >= 10:
            assert after[rid].is_dup and after[rid].dup_of == before[rid].dup_of
        else:
            assert not after[rid].is_dup, f"TTL'd item {i} still matches"


def test_recrawl_id_minting_collision_free(spark):
    """q388/q389 mint synthetic ids for re-crawled docs by NEGATION.
    probe_minhash_index/probe_semantic_index REQUIRE unique batch ids
    (duplicate ids cross one doc's buckets with the other's fingerprint
    and merge both under the per-id agg), and an additive shift
    (doc_id + K) collides with a genuine %3=0 id as soon as the table
    outgrows K — at the fixtures' growth rate, sf >= ~0.2. Negated ids
    can never meet non-negative genuine ids at ANY scale. This pins the
    minting rule on an id domain PAST the old collision point."""
    d = spark.range(0, 200_000).withColumnRenamed("id", "doc_id")
    recrawl = d.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 1))
    genuine = d.filter(F.col("doc_id") % 3 == 0)
    minted = recrawl.select((-F.col("doc_id")).alias("doc_id")).unionByName(genuine)
    assert minted.count() == minted.select("doc_id").distinct().count()
    # the OLD additive rule collides on this domain — the scenario the
    # negation rule exists to rule out (x = 100_011: shifted 11 ≡ 11
    # mod 15 meets genuine 100_011 ≡ 0 mod 3)
    shifted = recrawl.select((F.col("doc_id") + 100_000).alias("doc_id")).unionByName(
        genuine
    )
    assert shifted.count() > shifted.select("doc_id").distinct().count()


def test_simhash_bands_find_planted_neardups(docs_with_neardups):
    cand = simhash_band_candidates(docs_with_neardups, bands=4)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    planted = {(i, i + 100000) for i in range(50)}
    assert len(planted & pairs) >= 35, f"simhash recall too low: {len(planted & pairs)}/50"


def test_dedup_exact_idempotent(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    once = dedup_exact(d, ["text", "lang", "source"]).count()
    twice = dedup_exact(d.unionByName(d), ["text", "lang", "source"]).count()
    assert once == twice


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(e, q, k=5).select("query_id", "neighbor_id")
    approx = ann_lsh_topk(e, q, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"ANN recall {recall:.2f} below floor"
    # and the approximate ranks must be genuinely high-cosine: every
    # returned neighbor must be in the exact top-50
    top50 = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=50).collect()}
    assert approx_set <= top50 | exact_set


def test_asof_join_matches_window_formulation(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    got = asof_join(purchases, clicks, on="ts", by="user_id").select(
        "event_id", F.col("ts_right").alias("last_click_ts")
    )
    # window/aggregate formulation as the reference answer
    p = purchases.alias("p")
    c = clicks.alias("c")
    want = (
        p.join(c, (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") <= F.col("p.ts")), "left")
        .groupBy("p.event_id")
        .agg(F.max("c.ts").alias("last_click_ts"))
    )
    got_m = {r.event_id: r.last_click_ts for r in got.collect()}
    want_m = {r.event_id: r.last_click_ts for r in want.collect()}
    assert got_m == want_m


def test_multimodal_features_deterministic(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(100)
    f1 = extract_features(attach_binary_payload(d)).orderBy("doc_id").collect()
    f2 = extract_features(attach_binary_payload(d)).orderBy("doc_id").collect()
    assert f1 == f2
    assert all(r.n_bytes >= 0 and 1 <= r.width <= 1920 for r in f1)


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
    li_s, o_s = salted_join_key(li, o, n_salts=4)
    salted = (
        li_s.join(o_s, (li_s.l_orderkey == o_s.o_orderkey) & (li_s.__salt == o_s.__salt))
        .groupBy("o_orderstatus")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from marketingcloud_etl_spark.operators.similarity import ann_ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(e, q, k=5).select("query_id", "neighbor_id")
    approx = ann_ivf_topk(e, q, k=5, n_cells=16, n_probe=6)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"
    # every surfaced neighbor must be genuinely high-cosine (exact top-50)
    top50 = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=50).collect()}
    assert approx_set <= top50 | exact_set


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """q70's point: bucketed+sorted tables sort-merge-join with zero
    exchanges — the plan that survives a 100x scale-up."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    load_all()["q70_bucketed_join"].fn(spark, sf_dir)  # materializes tables
    from marketingcloud_etl_spark.io import fixture_tag
    tag = fixture_tag(sf_dir)
    li, o = spark.table(f"li_bkt_{tag}"), spark.table(f"ord_bkt_{tag}")
    joined = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"


def test_partition_pruning_scan(spark, sf_dir):
    """q76's layout claim: the single-type query scans one partition
    directory (partition filters present, no full-table scan)."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    load_all()["q76_partition_pruning"].fn(spark, sf_dir)  # materializes layout
    from marketingcloud_etl_spark.io import query_state

    path, _ = query_state(
        "q76_partition_pruning", sf_dir, lambda d: pytest.fail("q76 layout not built")
    )
    df = (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "purchase")
        .select("event_id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    n_all = spark.read.parquet(path).count()
    assert df.count() < n_all  # genuinely pruned subset


def test_punct_ratio_computation(spark):
    """The fixture corpus contains no punctuation, so q45's punct
    feature would otherwise be vacuously tested — pin the computation
    on synthetic text here (class uses literal whitespace chars, which
    Java regex and RE2 agree on, unlike \\s)."""
    df = spark.createDataFrame(
        [("a b, c!", 2), ("clean text", 0), ("x\ty?!.", 3), ("", 0)],
        "text string, expected int",
    )
    got = df.select(
        "expected",
        F.length(F.regexp_replace("text", "[A-Za-z0-9 \t\n\r]", "")).alias("n_punct"),
    ).collect()
    for r in got:
        assert r.n_punct == r.expected, r


def test_salted_count_distinct_zipf(spark):
    """Salted two-phase COUNT(DISTINCT) equals the plain form on a
    synthetic Zipf corpus (hot token in ~every doc, long rare tail) —
    the q42 document-frequency shape."""
    import random

    from marketingcloud_etl_spark.operators.skew import salted_count_distinct

    rng = random.Random(7)
    rows = []
    for doc in range(300):
        for _ in range(30):
            # Zipf-ish: token rank r with weight 1/r over 50 tokens
            r = rng.choices(range(1, 51), weights=[1.0 / i for i in range(1, 51)])[0]
            rows.append((doc, f"tok{r}"))
    df = spark.createDataFrame(rows, "doc_id int, t string")
    got = {
        (r.t, r.df)
        for r in salted_count_distinct(df, ["t"], "doc_id", n_salts=8, out="df").collect()
    }
    want = {
        (r.t, r.df)
        for r in df.groupBy("t").agg(F.count_distinct("doc_id").alias("df")).collect()
    }
    assert got == want and len(want) == 50


def test_salted_join_zipf_equals_plain(spark):
    """Salted join (q89 shape: skewed fact × replicated dim) equals the
    plain join on a Zipf-hot key distribution."""
    import random

    from marketingcloud_etl_spark.operators.skew import salted_join_key

    rng = random.Random(11)
    facts = [(i, f"g{rng.choices(range(1, 40), weights=[1.0 / k for k in range(1, 40)])[0]}") for i in range(2000)]
    fact = spark.createDataFrame(facts, "doc_id int, gram string")
    dim = spark.createDataFrame([(f"g{i}",) for i in range(1, 20)], "gram string")
    fact_s, dim_s = salted_join_key(fact, dim, n_salts=8)
    got = sorted(r.doc_id for r in fact_s.join(dim_s, ["gram", "__salt"]).select("doc_id").collect())
    want = sorted(r.doc_id for r in fact.join(dim, "gram").select("doc_id").collect())
    assert got == want and len(want) > 0


def _sqlite_harness(db_path):
    """DBAPI stand-ins for the JDBC staging write + statement runner
    (no JDBC driver jar in the sandbox)."""
    import sqlite3

    def stage_writer(batch, table):
        con = sqlite3.connect(db_path)
        try:
            batch.toPandas().to_sql(table, con, if_exists="replace", index=False)
        finally:
            con.close()

    def statement_runner(statements):
        con = sqlite3.connect(db_path)
        try:
            for s in statements:
                con.execute(s)
            con.commit()
        finally:
            con.close()

    return stage_writer, statement_runner


def test_merge_upsert_idempotent(spark, tmp_path):
    """Staging+merge upsert (reference R12) against a live SQL target:
    re-running the same batch is a no-op; update_on_match=True gives
    last-write-wins on non-key columns."""
    import sqlite3

    from marketingcloud_etl_spark.sinks.jdbc_merge import merge_upsert

    db = str(tmp_path / "warehouse.db")
    sw, sr = _sqlite_harness(db)
    batch = spark.createDataFrame(
        [("h1", "lead1", 1.0), ("h2", "lead2", 2.0), ("h2", "lead2", 2.0)],
        "hash string, lead_id string, value double",
    )
    kw = dict(url="jdbc:sqlite:unused", target_table="lead_activity",
              key_cols=("hash",), dialect="sqlite",
              stage_writer=sw, statement_runner=sr)
    merge_upsert(batch, **kw)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM lead_activity").fetchone()[0] == 2
    # idempotence: same batch again -> same table
    merge_upsert(batch, **kw)
    assert con.execute("SELECT count(*) FROM lead_activity").fetchone()[0] == 2
    assert con.execute(
        "SELECT value FROM lead_activity WHERE hash='h1'"
    ).fetchone()[0] == 1.0
    # staging table dropped
    assert con.execute(
        "SELECT count(*) FROM sqlite_master WHERE name LIKE '%__stg'"
    ).fetchone()[0] == 0
    # insert-ignore (reference semantics): changed payload, same key -> kept old
    batch2 = spark.createDataFrame(
        [("h1", "lead1", 99.0), ("h3", "lead3", 3.0)],
        "hash string, lead_id string, value double",
    )
    merge_upsert(batch2, **kw)
    assert con.execute("SELECT value FROM lead_activity WHERE hash='h1'").fetchone()[0] == 1.0
    assert con.execute("SELECT count(*) FROM lead_activity").fetchone()[0] == 3
    # last-write-wins variant
    merge_upsert(batch2, update_on_match=True, **kw)
    assert con.execute("SELECT value FROM lead_activity WHERE hash='h1'").fetchone()[0] == 99.0
    con.close()


def test_merge_sql_dialects(spark):
    """The generated merge statements carry the reference's shape per
    dialect (no DB needed — string contract)."""
    from marketingcloud_etl_spark.sinks.jdbc_merge import create_table_sql, merge_sql

    cols = ["hash", "lead_id", "value"]
    my = merge_sql("t", "t__stg", cols, ["hash"], "mysql")
    assert "ON DUPLICATE KEY UPDATE `hash`=`hash`" in my  # the no-op form
    my_u = merge_sql("t", "t__stg", cols, ["hash"], "mysql", update_on_match=True)
    assert "`lead_id`=VALUES(`lead_id`)" in my_u
    pg = merge_sql("t", "t__stg", cols, ["hash"], "postgres")
    assert 'ON CONFLICT ("hash") DO NOTHING' in pg
    an = merge_sql("t", "t__stg", cols, ["hash"], "ansi")
    assert an.startswith('MERGE INTO "t" t USING "t__stg" s ON t."hash" = s."hash"')
    df = spark.createDataFrame([("a", 1, 2.0)], "hash string, n bigint, v double")
    ddl = create_table_sql(df, "t", ["hash"])
    assert "CREATE TABLE IF NOT EXISTS `t`" in ddl and "UNIQUE (`hash`)" in ddl


def test_merge_sql_schema_qualified_tables(spark):
    """A schema-qualified target (the shape db_config_from_env's
    MKT_CLOUD_SCHEMA produces, e.g. 'uat.lead_activity') must quote
    each dot-part separately — quoting the whole string as ONE
    identifier names a single table literally containing a dot."""
    from marketingcloud_etl_spark.sinks.jdbc_merge import (
        create_table_sql,
        merge_sql,
        quote_table,
    )

    assert quote_table("uat.lead_activity", "mysql") == "`uat`.`lead_activity`"
    assert quote_table("uat.lead_activity", "postgres") == '"uat"."lead_activity"'
    assert quote_table("lead_activity", "mysql") == "`lead_activity`"
    my = merge_sql(
        "uat.lead_activity", "uat.lead_activity__stg", ["hash"], ["hash"], "mysql"
    )
    assert "INSERT INTO `uat`.`lead_activity` " in my
    assert "FROM `uat`.`lead_activity__stg` " in my
    assert "`uat.lead_activity`" not in my
    df = spark.createDataFrame([("a",)], "hash string")
    ddl = create_table_sql(df, "uat.lead_activity", ["hash"], "postgres")
    assert 'CREATE TABLE IF NOT EXISTS "uat"."lead_activity"' in ddl


def test_create_table_sql_reference_widths_and_reserved_words(spark):
    """Width-faithful DDL (reference salesforce_extractor.py:62-76) and
    identifier quoting: the lead-activity schema's own `order` column is
    a reserved word in every dialect — unquoted DDL is a syntax error."""
    from marketingcloud_etl_spark.sinks.jdbc_merge import (
        LEAD_ACTIVITY_COLUMN_TYPES,
        create_table_column_types,
        create_table_sql,
    )

    df = spark.createDataFrame(
        [("h", "l", "u", "s", "1", "t", "c", "n")],
        "hash string, lead_id string, url string, session_id string, "
        "`order` string, type_id string, event_category string, event_name string",
    )
    ddl = create_table_sql(
        df, "lead_activity", ["hash"], "mysql", LEAD_ACTIVITY_COLUMN_TYPES
    )
    # reference widths, verbatim
    assert "`hash` VARCHAR(16)" in ddl
    assert "`url` VARCHAR(1024)" in ddl
    assert "`order` VARCHAR(50)" in ddl
    assert "`event_name` VARCHAR(256)" in ddl
    # Spark JDBC createTableColumnTypes option string carries the widths
    opt = create_table_column_types(df)
    assert "hash VARCHAR(16)" in opt and "order VARCHAR(50)" in opt


def test_merge_upsert_reserved_word_column(spark, tmp_path):
    """End-to-end stand-in merge with a column literally named `order`
    (the reference schema's own reserved word) — quoting must hold
    through CREATE, INSERT...SELECT, and ON CONFLICT."""
    import sqlite3

    from marketingcloud_etl_spark.sinks.jdbc_merge import merge_upsert

    db = str(tmp_path / "wh_order.db")
    sw, sr = _sqlite_harness(db)
    batch = spark.createDataFrame(
        [("h1", "3"), ("h2", "1")], "hash string, `order` string"
    )
    kw = dict(url="jdbc:sqlite:unused", target_table="lead_activity",
              key_cols=("hash",), dialect="sqlite",
              stage_writer=sw, statement_runner=sr)
    merge_upsert(batch, **kw)
    merge_upsert(batch, **kw)  # idempotent through the quoted path too
    con = sqlite3.connect(db)
    rows = con.execute(
        'SELECT "hash", "order" FROM lead_activity ORDER BY "hash"'
    ).fetchall()
    con.close()
    assert rows == [("h1", "3"), ("h2", "1")]


def test_connected_components_planted(spark):
    """Planted topology: a 5-chain, a star, a 2-cycle, and an isolated
    pair — min-label components with pointer jumping must label every
    node with its component minimum."""
    from marketingcloud_etl_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),          # chain -> comp 1
            (10, 11), (10, 12), (10, 13),             # star  -> comp 10
            (20, 21), (21, 20),                       # cycle (dup edge reversed)
            (30, 31),                                 # pair
        ],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        30: 30, 31: 30,
    }
    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    decisions = dedup_clusters(docs, edges).collect()
    assert len(decisions) == 40  # one verdict per doc, paired or not
    keep = {r.doc_id for r in decisions if r.keep}
    dropped = {2, 3, 4, 5, 11, 12, 13, 21, 31}  # non-minimum cluster members
    assert keep == set(range(40)) - dropped


def test_connected_components_long_chain_converges(spark):
    """A 64-node chain converges well inside max_iter thanks to pointer
    jumping (plain propagation would need 63 rounds)."""
    from marketingcloud_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint"
    )
    got = connected_components(edges, max_iter=12).collect()
    assert len(got) == 64 and all(r.component == 0 for r in got)


@pytest.mark.parametrize("id_type", ["double", "string"])
def test_connected_components_rejects_inexact_ids_before_materializing(spark, id_type):
    """Float/double and string ids raise TypeError at entry. The edge
    columns raise if evaluated, so the TypeError also proves no edge
    was materialized first."""
    from marketingcloud_etl_spark.operators.components import connected_components

    boom = F.raise_error(F.lit("edges materialized")).cast(id_type)
    edges = spark.range(3).select(boom.alias("id_a"), boom.alias("id_b"))
    with pytest.raises(TypeError, match="integral node ids"):
        connected_components(edges)


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    """PQ ADC scan + exact rerank: recall floor vs brute force, and
    candidate sanity (surfaced neighbors genuinely high-cosine)."""
    from marketingcloud_etl_spark.operators.similarity import ann_pq_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(e, q, k=5).select("query_id", "neighbor_id")
    approx = ann_pq_topk(e, q, k=5, m=8, n_codes=16, rerank=50)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"PQ recall {recall:.2f} below floor"
    top100 = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=100).collect()}
    assert approx_set <= top100 | exact_set
    # deterministic: trained codebooks are a pure function of the corpus
    again = {(r.query_id, r.neighbor_id) for r in ann_pq_topk(e, q, k=5, m=8, n_codes=16, rerank=50).collect()}
    assert again == approx_set


def test_approx_quantiles_rank_error_bound(spark, sf_dir, duck):
    """q112's GK sketch guarantees rank error <= n/accuracy; with
    accuracy=10000 every reported quantile must lie between the exact
    quantiles at p +/- 0.01 (computed by DuckDB on the same data)."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    rows = load_all()["q112_approx_quantiles"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for p, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            lo, hi = duck.sql(
                f"""SELECT quantile_disc(l_extendedprice, {max(p - 0.01, 0.0)}),
                           quantile_disc(l_extendedprice, {min(p + 0.01, 1.0)})
                    FROM lineitem WHERE l_returnflag = '{r.l_returnflag}'"""
            ).fetchone()
            assert lo <= getattr(r, col) <= hi, (r.l_returnflag, col)


def test_freq_items_includes_all_true_heavy_hitters(spark, sf_dir, duck):
    """q117's sketch guarantee: every token whose true share STRICTLY
    exceeds the support threshold must appear in the returned superset
    (the Karp et al. bound is strict — an exactly-threshold item may
    legitimately be dropped)."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    row = load_all()["q117_freq_items"].fn(spark, sf_dir).collect()[0]
    # frequent_tokens is a space-joined STRING since round 11 (the
    # driver canonicalizes rows-only output too — scalar-only contract)
    got = set(row.frequent_tokens.split())
    assert len(got) == row.n_frequent
    truth = {
        t
        for (t, share) in duck.sql(
            """WITH toks AS (
                 SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                           t -> t != '')) AS t
                 FROM documents)
               SELECT t, count(*) / (SELECT count(*) FROM toks) FROM toks GROUP BY t"""
        ).fetchall()
        if share > 0.02
    }
    assert truth <= got, truth - got


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    """q120's layout contract: the compacted rewrite yields strictly
    fewer, size-bounded files than the 64-file fragmented input — and
    with a target small enough to demand MULTIPLE output files, the
    ceil-based packing actually splits (the n_out>1 path the default
    target can't reach at tiny fixture scale)."""
    import os

    from marketingcloud_etl_spark.io import query_state
    from marketingcloud_etl_spark.plans.catalog import load_all
    from marketingcloud_etl_spark.sinks.upsert import (
        COMPACTION_TARGET_BYTES,
        compact_parquet,
    )

    load_all()["q120_compaction"].fn(spark, sf_dir).collect()
    base, _ = query_state(
        "q120_compaction", sf_dir, lambda d: pytest.fail("q120 layout not built")
    )
    frag = [f for f in os.listdir(f"{base}/frag") if f.endswith(".parquet")]
    comp = [f for f in os.listdir(f"{base}/compact") if f.endswith(".parquet")]
    assert len(frag) == 64
    assert 1 <= len(comp) < len(frag) / 4, f"{len(comp)} files after compaction"
    for f in comp:
        # coalesce packs whole input splits, so allow 2x the target
        assert os.path.getsize(f"{base}/compact/{f}") <= 2 * COMPACTION_TARGET_BYTES

    # force multi-file packing: a target far below the fragment total
    frag_bytes = sum(
        os.path.getsize(f"{base}/frag/{f}") for f in frag
    )
    small = max(1, frag_bytes // 7)
    multi_dir = str(tmp_path / "compact_multi")
    n_out = compact_parquet(spark, f"{base}/frag", multi_dir, small)
    multi = [f for f in os.listdir(multi_dir) if f.endswith(".parquet")]
    assert n_out >= 7 and len(multi) == n_out, (n_out, len(multi))
    total_rows = spark.read.parquet(f"{base}/frag").count()
    assert spark.read.parquet(multi_dir).count() == total_rows


def test_scd1_merge_semantics(spark):
    from marketingcloud_etl_spark.sinks.upsert import scd1_merge

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, seg string, bal double"
    )
    updates = spark.createDataFrame(
        [(2, "b", 99.0), (2, "b", 77.0), (4, "d", 40.0)], "k int, seg string, bal double"
    )
    got = {r.k: r.bal for r in scd1_merge(target, updates, "k").collect()}
    assert got[1] == 10.0 and got[3] == 30.0      # untouched pass through
    assert got[2] == 99.0                         # deterministic tie-break: max wins
    assert got[4] == 40.0                         # brand-new key inserted
    assert len(got) == 4
    # explicit version column overrides the canonical pick
    versioned = spark.createDataFrame(
        [(2, "b", 99.0, 1), (2, "b", 77.0, 5)], "k int, seg string, bal double, v int"
    )
    got_v = {r.k: r.bal for r in scd1_merge(
        target.withColumn("v", F.lit(0)), versioned, "k", version_col="v"
    ).collect()}
    assert got_v[2] == 77.0                       # higher version wins, not higher value


def test_pagerank_matches_numpy_reference(spark):
    """operators/pagerank.py vs a dense numpy power iteration on the
    same graph: identical damping, iterations, and dangling handling."""
    import numpy as np

    from marketingcloud_etl_spark.operators.pagerank import pagerank

    # node 6 is DANGLING (in-edges only): its mass must drop each round,
    # pinning the documented simplified-model semantics
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 2), (2, 6)]
    edges = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r.id: r.rank for r in pagerank(edges, damping=0.85, iters=5).collect()}

    n, d = 7, 0.85
    out_deg = np.zeros(n)
    for a, _ in pairs:
        out_deg[a] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, (1 - d) / n)
        for a, b in pairs:
            nxt[b] += d * r[a] / out_deg[a]  # dangling sources never appear here
        r = nxt
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert got[6] < 1.0 / n  # the dangling node's rank decayed

    # empty edge set degrades cleanly instead of dividing by zero
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert pagerank(empty).count() == 0


def test_pagerank_symmetric_flag_matches_general_path(spark):
    """symmetric=True must be a pure plan declaration: identical ranks
    (float and fixed-point) to the general path on a symmetric-fed edge
    set, including a multi-component graph with an isolated pair."""
    from marketingcloud_etl_spark.operators.pagerank import (
        pagerank,
        pagerank_fixed_point,
    )

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (4, 5)]
    e = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    sym = e.unionByName(e.selectExpr("id_b as id_a", "id_a as id_b"))

    base = {r.id: r.rank for r in pagerank(sym, iters=4).collect()}
    fast = {r.id: r.rank for r in pagerank(sym, iters=4, symmetric=True).collect()}
    assert base.keys() == fast.keys()
    for k in base:
        assert abs(base[k] - fast[k]) < 1e-12, (k, base[k], fast[k])

    base_i = {
        r.id: r.rank_micro for r in pagerank_fixed_point(sym, iters=3).collect()
    }
    fast_i = {
        r.id: r.rank_micro
        for r in pagerank_fixed_point(sym, iters=3, symmetric=True).collect()
    }
    assert base_i == fast_i


def test_shapley_attribution_efficiency(spark, sf_dir):
    """q366: the Shapley EFFICIENCY axiom — channel credits sum exactly
    to the grand-coalition gain, Σ phi_x6 = 6·(v(all) − v(∅)) — checked
    against an independent Python replay of the coalition counts; every
    marginal is non-negative (containment monotonicity)."""
    import duckdb

    from marketingcloud_etl_spark.plans.catalog import load_all

    rows = load_all()["q366_shapley_attribution"].fn(spark, sf_dir).collect()
    assert all(r.phi_x6 >= 0 for r in rows)

    masks = duckdb.sql(
        f"""
        WITH conv AS (
          SELECT user_id, min(ts) AS pts
          FROM '{sf_dir}/events.parquet'
          WHERE event_type = 'purchase' GROUP BY user_id
        ), touch AS (
          SELECT e.user_id,
                 max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
                 AS mask
          FROM '{sf_dir}/events.parquet' e JOIN conv c
            ON e.user_id = c.user_id AND e.ts < c.pts
          WHERE e.event_type IN ('view', 'click', 'signup')
          GROUP BY e.user_id
        )
        SELECT coalesce(t.mask, 0) AS mask, count(*) AS n
        FROM conv c LEFT JOIN touch t ON c.user_id = t.user_id
        GROUP BY 1
        """
    ).fetchall()
    counts = dict(masks)
    v_all = sum(counts.values())  # every T fits in the full coalition
    v_empty = counts.get(0, 0)
    assert sum(r.phi_x6 for r in rows) == 6 * (v_all - v_empty)


def test_weighted_systematic_sample_conservation(spark, sf_dir):
    """q363: multiplicities telescope to exactly k=25 (every selection
    point lands on exactly one document), and each multiplicity matches
    a brute-force walk of the selection points in Python."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    rows = (
        load_all()["q363_weighted_systematic_sample"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert sum(r.multiplicity for r in rows) == 25

    import duckdb

    w = duckdb.sql(
        f"SELECT doc_id, n_chars FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    total = sum(c for _, c in w)
    points = [(j * total) // 25 for j in range(25)]
    expect: dict[int, int] = {}
    cum = 0
    for doc_id, wt in w:
        lo, cum = cum, cum + wt
        m = sum(1 for p in points if lo <= p < cum)
        if m:
            expect[doc_id] = m
    assert {r.doc_id: r.multiplicity for r in rows} == expect


def test_bloom_words_probe_contract(spark):
    """bloom_words/bloom_might_contain: NO false negatives ever (every
    member key probes true), fpp on non-members stays near the sized
    expectation, and the build output is word-bounded (≤ n_bits/64 map
    entries) however many keys go in."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.dedup import (
        bloom_might_contain,
        bloom_words,
    )

    corpus = spark.range(1000).selectExpr("concat('key_', id) AS k")
    bloom = bloom_words(corpus, "k", n_bits=16_384, n_hashes=3)
    row = bloom.collect()[0]
    assert len(row["bloom"]) <= 16_384 // 64

    probe = spark.range(5000).selectExpr(
        "concat('key_', id) AS k", "id < 1000 AS is_member"
    )
    hits = (
        probe.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain("k", n_bits=16_384, n_hashes=3))
        .groupBy("is_member")
        .count()
        .collect()
    )
    by = {r.is_member: r["count"] for r in hits}
    assert by.get(True, 0) == 1000  # zero false negatives — the contract
    assert by.get(False, 0) / 4000 < 0.05  # ~0.4% expected at this sizing

    # mismatched parameters must raise, not silently mis-probe
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bloom_words(corpus, "k", n_bits=1000)


def test_setsim_join_matches_allpairs_and_prunes(spark):
    """Prefix filtering must return EXACTLY the all-pairs result (no
    recall loss) while generating far fewer candidates than the cross
    product on a corpus with rare-token structure."""
    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.operators.setsim import setsim_join

    # 40 mostly-disjoint sets + 5 planted near-dup pairs
    rows = []
    for i in range(40):
        rows.append((i, [f"tok{i}_{j}" for j in range(10)]))
    for i in range(5):
        base = [f"tok{i}_{j}" for j in range(10)]
        rows.append((100 + i, base[:9] + [f"extra{i}"]))  # jaccard 9/11 ≈ 0.82
    docs = spark.createDataFrame(rows, "doc_id bigint, toks array<string>")

    got = {
        (r.id_a, r.id_b): r.jaccard_ppm
        for r in setsim_join(docs, threshold=0.5).collect()
    }
    # brute force reference
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("sa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    want = {
        (r.id_a, r.id_b): r.ppm
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(inter.cast("double") / union >= 0.5)
        .select(
            "id_a", "id_b",
            F.floor(inter.cast("double") * 1000000.0 / union).cast("long").alias("ppm"),
        )
        .collect()
    }
    assert got == want and len(got) == 5


@pytest.mark.parametrize("n_rows", [1, 3, 4, 7, 97, 1000])
def test_distributed_ntile_matches_window_ntile(spark, n_rows):
    """operators/ranking.py must reproduce SQL ntile/row_number
    EXACTLY — including the first-r-buckets-get-one-extra tie protocol —
    for frame sizes that exercise every N mod buckets branch, compared
    against Spark's own (single-partition) window functions."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.operators.ranking import (
        distributed_ntile,
        global_row_number,
    )

    # keys deliberately non-monotonic in insertion order, with duplicates
    # in the primary key so the tiebreak column decides placement
    df = spark.range(n_rows).select(
        F.col("id").alias("uid"), ((F.col("id") * 37) % 11).alias("k")
    )
    order = [F.col("k").asc(), F.col("uid").asc()]
    expect = df.select(
        "uid",
        F.ntile(4).over(W.orderBy(*order)).alias("want_nt"),
        F.row_number().over(W.orderBy(*order)).alias("want_rn"),
    )
    got_nt = distributed_ntile(df, 4, order, "nt")
    got_rn = global_row_number(df, order, "rn")
    joined = (
        expect.join(got_nt.select("uid", "nt"), "uid")
        .join(got_rn.select("uid", "rn"), "uid")
    )
    bad = joined.filter(
        (F.col("nt") != F.col("want_nt")) | (F.col("rn") != F.col("want_rn"))
    )
    assert bad.count() == 0, bad.limit(10).collect()
    assert dict(got_nt.dtypes)["nt"] == "int"  # matches Spark ntile's type


def test_distributed_ntile_adversarial_scale(spark):
    """10⁶ rows through the distributed ranking at awkward bucket
    counts (1, a prime, and a prime ~n so nearly every bucket holds one
    row). No window oracle at this size — the checks are the ntile
    DEFINITION itself, all computed distributed:

    * bucket sizes follow the q+1/q protocol exactly (first r=N mod b
      buckets get one extra row);
    * bucket ids cover 1..min(b, N) with nothing outside;
    * ORDER is respected: bucket i's max (key, tiebreak) precedes
      bucket i+1's min — verified by a self-join of the per-bucket
      min/max stats, never a global sort.
    """
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        distributed_ntile,
        release_ranking_caches,
    )

    n = 1_000_000
    df = spark.range(n).select(
        F.col("id").alias("uid"),
        ((F.col("id") * 2654435761) % 1000003).alias("k"),
    )
    order = [F.col("k").asc(), F.col("uid").asc()]
    try:
        for b in (1, 97, 999983):
            got = distributed_ntile(df, b, order, "nt")
            q, r = divmod(n, b)
            sizes = got.groupBy("nt").agg(F.count(F.lit(1)).alias("c"))
            bad_size = sizes.filter(
                ((F.col("nt") <= r) & (F.col("c") != q + 1))
                | ((F.col("nt") > r) & (F.col("c") != q))
                | (F.col("nt") < 1)
                | (F.col("nt") > min(b, n))
            ).count()
            assert bad_size == 0, (b, sizes.orderBy("nt").limit(5).collect())
            assert sizes.count() == min(b, n), b
            stats = got.groupBy("nt").agg(
                F.min(F.struct("k", "uid")).alias("mn"),
                F.max(F.struct("k", "uid")).alias("mx"),
            )
            viol = (
                stats.alias("a")
                .join(stats.alias("b"), F.col("b.nt") == F.col("a.nt") + 1)
                .filter(F.col("a.mx") >= F.col("b.mn"))
                .count()
            )
            assert viol == 0, b
    finally:
        release_ranking_caches()


def test_distributed_ranking_plan_has_no_single_partition_exchange(spark):
    """The whole point of operators/ranking.py: NOTHING in its physical
    plan may funnel data through one partition — not even the offsets
    frame (computed via a broadcast self-join of per-partition counts,
    not a running-sum window)."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        distributed_ntile,
        release_ranking_caches,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("uid"), (F.col("id") % 113).alias("k")
    )
    try:
        got = distributed_ntile(df, 4, [F.col("k"), F.col("uid")], "nt")
        got.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan, plan
    finally:
        release_ranking_caches()


def test_ann_ivfpq_recall_and_membership(spark, sf_dir):
    """Composed IVF-PQ: recall above the q139 floor on worst-case
    (uniform random) vectors, and every returned neighbor must be a
    genuinely high-cosine vector (exact top-50) — the rerank stage
    guarantees no ADC-score impostor survives to the final top-k."""
    from marketingcloud_etl_spark.operators.similarity import (
        ann_ivf_pq_topk,
        knn_bruteforce,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=5).collect()}
    got = {(r.query_id, r.neighbor_id) for r in ann_ivf_pq_topk(e, q, k=5, n_probe=6).collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.2, f"IVF-PQ recall {recall:.2f} below floor"
    top50 = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(e, q, k=50).collect()}
    assert got <= top50 | exact


def test_bin_pack_ffd_known_case(spark):
    """FFD on a hand-built case with a known packing: capacity 10,
    sizes [7,6,4,3,3,2] → FFD bins {7,3}, {6,4}, {3,2} (3 bins, two
    exactly full); an oversize item (12) gets a singleton flagged bin
    and never absorbs others. Determinism: identical re-run."""
    from marketingcloud_etl_spark.operators.packing import bin_pack_ffd

    rows = [("s", i, sz) for i, sz in enumerate([7, 6, 4, 3, 3, 2, 12])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    packed = {r.doc_id: r for r in bin_pack_ffd(df, capacity=10).collect()}
    assert len(packed) == 7
    # oversize item isolated + flagged
    assert packed[6].oversize and sum(1 for r in packed.values() if r.bin_id == packed[6].bin_id) == 1
    # FFD placement: sizes desc = 12,7,6,4,3,3,2
    by_bin: dict = {}
    for r in packed.values():
        by_bin.setdefault(r.bin_id, []).append(r.n_tokens)
    non_oversize = [sorted(v) for b, v in by_bin.items() if b != packed[6].bin_id]
    assert sorted(map(tuple, non_oversize)) == [(2, 3), (3, 7), (4, 6)]
    again = {r.doc_id: (r.bin_id, r.oversize) for r in bin_pack_ffd(df, capacity=10).collect()}
    assert again == {k: (v.bin_id, v.oversize) for k, v in packed.items()}


def test_kmeans_matches_numpy_reference(spark):
    """Lloyd's k-means (operators/similarity.py::kmeans_euclidean) must
    produce the SAME centroids and inertia history as a plain numpy
    implementation seeded identically — pins assignment tie-breaks,
    empty-cell handling, and the mean update."""
    import numpy as np

    from marketingcloud_etl_spark.operators.similarity import kmeans_euclidean

    rng = np.random.RandomState(7)
    pts = np.vstack(
        [rng.normal(loc, 0.3, size=(20, 4)) for loc in (0.0, 5.0, 10.0)]
    )
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    cents, history = kmeans_euclidean(df, k=3, iters=3)

    # numpy twin with the same hash-ordered seeding
    import pandas as pd

    seed_order = (
        df.selectExpr("vec_id", "xxhash64(vec_id) as h").orderBy("h").limit(3).collect()
    )
    seed_ids = sorted(r.vec_id for r in seed_order)
    c = pts[seed_ids].astype(float)
    hist_np = []
    for _ in range(3):
        d2 = ((pts[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        hist_np.append(float(d2.min(axis=1).sum()))
        assign = d2.argmin(axis=1)  # ties -> lowest index, same as argmin expr
        for j in range(3):
            if (assign == j).any():
                c[j] = pts[assign == j].mean(axis=0)
    assert np.allclose(np.array(cents), c, rtol=1e-9, atol=1e-9)
    assert np.allclose(np.array(history), np.array(hist_np), rtol=1e-9)
    # the Lloyd invariant the catalog query relies on
    assert all(b <= a * (1 + 1e-12) for a, b in zip(history, history[1:]))


def test_countmin_never_undercounts_any_word(spark, sf_dir):
    """The CMS grid built by q164's formulation must satisfy
    estimate >= exact for EVERY word in the corpus (one-sided error),
    not just the top-20 the catalog query reports."""
    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.functions.text import tokens
    from marketingcloud_etl_spark.io import table

    toks = table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("word")
    )
    D, Wd = 4, 2048
    hashes = F.array(
        *[F.pmod(F.xxhash64(F.lit(i), F.col("word")), F.lit(Wd)) for i in range(D)]
    )
    grid = (
        toks.select(F.posexplode(hashes).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select("word", "n_exact", F.posexplode(hashes).alias("row", "bucket"))
    est = (
        probes.join(F.broadcast(grid), ["row", "bucket"])
        .groupBy("word", "n_exact")
        .agg(F.min("c").alias("est"))
    )
    bad = est.filter(F.col("est") < F.col("n_exact")).count()
    assert bad == 0


def test_pydatasource_sink_commit_and_abort(spark, tmp_path):
    """Two-phase commit of the custom Python DataSource writer: a
    successful write is atomic + re-readable and overwrite replaces
    committed parts; a failing write leaves NO _SUCCESS manifest."""
    import os

    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.sinks.pydatasource import (
        JsonLinesSinkDataSource,
        read_manifest,
    )

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass
    target = str(tmp_path / "sink")
    os.makedirs(target, exist_ok=True)
    df = spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).cast("string").alias("k")
    )
    df.write.format("mcetl_jsonl_sink").option("path", target).mode("overwrite").save()
    m1 = read_manifest(target)
    assert m1["n_rows"] == 100
    back = spark.read.schema("event_id bigint, k string").json(
        [os.path.join(target, f) for f in m1["files"]]
    )
    assert back.count() == 100

    # overwrite: commit replaces the old parts, manifest reflects only
    # the new write
    df.limit(40).write.format("mcetl_jsonl_sink").option("path", target).mode(
        "overwrite"
    ).save()
    m2 = read_manifest(target)
    assert m2["n_rows"] == 40
    part_files = [f for f in os.listdir(target) if f.startswith("part-")]
    assert sorted(part_files) == m2["files"]

    # abort path: a task that throws must not publish a manifest
    fail_target = str(tmp_path / "sink_fail")
    os.makedirs(fail_target, exist_ok=True)
    failing = spark.range(10).select(
        F.udf(lambda x: (_ for _ in ()).throw(RuntimeError("boom")))(F.col("id")).alias("v")
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        failing.write.format("mcetl_jsonl_sink").option("path", fail_target).mode(
            "overwrite"
        ).save()
    assert not os.path.exists(os.path.join(fail_target, "_SUCCESS"))


def test_zorder_layout_never_scans_more_than_linear(spark, sf_dir):
    """The z-order layout's verified skipping metric: for the catalog
    box predicate, the z-ordered layout must overlap no more files than
    the single-column sort at every tested scale."""
    from marketingcloud_etl_spark.plans.catalog import load_all

    rows = {
        r["layout"]: r["files_overlapping_box"]
        for r in load_all()["q167_zorder_skipping"].fn(spark, sf_dir).collect()
    }
    assert rows["zorder"] <= rows["linear"]


def test_weighted_sample_is_size_biased(spark, sf_dir):
    """A-ES weighted sampling (q162): long documents must be sampled at
    a higher rate than short ones — compare inclusion rates of the top
    and bottom length terciles in the k=50 sample."""
    import pyspark.sql.functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.plans.catalog import load_all

    sample = load_all()["q162_weighted_sample"].fn(spark, sf_dir)
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    med = d.approxQuantile("n_chars", [0.5], 0.0)[0]
    n_long_corpus = d.filter(F.col("n_chars") > med).count()
    n_short_corpus = d.filter(F.col("n_chars") <= med).count()
    s = sample.cache()
    n_long = s.filter(F.col("n_chars") > med).count()
    n_short = s.filter(F.col("n_chars") <= med).count()
    s.unpersist()
    assert n_long + n_short == 50
    # size-biased: long-doc inclusion rate strictly exceeds short-doc rate
    assert n_long / max(n_long_corpus, 1) > n_short / max(n_short_corpus, 1)


def test_line_dedup_keeps_first_occurrence_only(spark):
    """Planted case for the q161 protocol: a boilerplate chunk repeated
    across documents survives only in the earliest (doc_id, pos) home;
    unique prose is untouched."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window as W

    boiler = " ".join(f"nav{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq_a}"),
            (2, f"{boiler} {uniq_b}"),
            (3, boiler),
        ],
        "doc_id bigint, text string",
    )
    words = F.split(F.col("text"), " ")
    chunks = docs.select(
        "doc_id",
        F.size(words).alias("nw"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(split(text, ' '))/10.0) as int) - 1), "
                "i -> concat_ws(' ', slice(split(text, ' '), i*10+1, 10)))"
            )
        ).alias("pos", "chunk"),
    )
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "pos"))
    kept = chunks.select("doc_id", "pos", "chunk", rn.alias("rn")).filter(F.col("rn") == 1)
    rows = {(r.doc_id, r.pos): r.chunk for r in kept.collect()}
    assert (1, 0) in rows and rows[(1, 0)] == boiler  # first home keeps it
    assert (1, 1) in rows and (2, 1) in rows  # unique chunks survive
    assert (2, 0) not in rows and (3, 0) not in rows  # later copies dedup


def test_substring_dup_spans_planted_case(spark):
    """q173's protocol on a constructed corpus: a 10-word span shared
    by two docs at DIFFERENT alignments is caught (stride-1), while a
    fully unique doc reports zero duplicated windows."""
    import pyspark.sql.functions as F

    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 x3 {shared} x4"),
            (2, f"{shared} y1 y2"),
            (3, " ".join(f"z{i}" for i in range(12))),
        ],
        "doc_id bigint, text string",
    )
    words = F.split(F.col("text"), " ")
    spans = (
        docs.select("doc_id", words.alias("words"))
        .filter(F.size("words") >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(words) - 8), "
                    "i -> concat_ws(' ', slice(words, i + 1, 8)))"
                )
            ).alias("pos", "span"),
        )
    )
    freq = spans.groupBy("span").agg(F.count(F.lit(1)).alias("c"))
    per_doc = {
        r.doc_id: (r.n, r.dups)
        for r in spans.join(freq, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("dups"),
        )
        .collect()
    }
    # shared 10-word run yields three 8-grams entirely inside it; both
    # docs carry them despite different offsets
    assert per_doc[1][1] == 3 and per_doc[2][1] == 3
    assert per_doc[3][1] == 0  # unique doc: zero duplicated windows


def test_int8_quantization_bounds_hold_on_extremes(spark):
    """q174's guarantees on a hand-built dimension containing the exact
    min/max and a constant (zero-range) dimension: codes span [0, 255],
    endpoints reconstruct exactly, and the degenerate dimension takes
    the scale=0 branch with zero error."""
    from marketingcloud_etl_spark.plans.catalog import load_all
    import pandas as pd

    df = spark.createDataFrame(
        [(i, [float(i), 7.5]) for i in range(256)],
        "vec_id bigint, embedding array<float>",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = load_all()["q174_int8_quantization"].fn(spark, d).toPandas()
    out = out.set_index("pos")
    assert bool(out.loc[0, "within_half_step"]) and bool(out.loc[0, "codes_in_range"])
    # dim 0 is exactly the 256 code points: reconstruction is exact
    assert out.loc[0, "max_abs_err"] == 0.0
    # dim 1 is constant: scale=0 branch, zero error, in-range codes
    assert out.loc[1, "max_abs_err"] == 0.0 and bool(out.loc[1, "within_half_step"])


def test_winnowing_guarantees_shared_fingerprint_on_planted_overlap(spark):
    """The winnowing guarantee (Schleimer et al. 2003): two documents
    sharing any substring of >= w+k-1 = 7 tokens MUST share at least
    one selected fingerprint — that is the property that makes the
    scheme usable for dedup (no false-negative window). Planted case:
    distinct cover texts around an identical 9-token span."""
    import pandas as pd
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "alpha beta gamma " + shared + " delta epsilon",
                    "one two three four " + shared + " five six seven eight nine",
                ],
            }
        )
    )
    k, b, p, wsel = 4, 257, (1 << 31) - 1, 4
    from marketingcloud_etl_spark.functions.text import tokens

    th = F.transform(
        tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    d = docs.withColumn("h", th)
    wh = F.transform(
        F.sequence(F.lit(1), F.size("h") - (k - 1)),
        lambda i: F.aggregate(
            F.slice("h", i, k),
            F.lit(0).cast("bigint"),
            lambda acc, x: F.pmod(acc * b + x, F.lit(p)),
        ),
    )
    fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("wh") - (wsel - 1)),
            lambda i: F.array_min(F.slice("wh", i, wsel)),
        )
    )
    rows = d.withColumn("wh", wh).withColumn("fp", fp).select("doc_id", "fp").collect()
    fps = {r.doc_id: set(r.fp) for r in rows}
    assert fps[1] & fps[2], "planted 9-token overlap must share a fingerprint"


def test_distributed_pca_recovers_low_rank_subspace_exactly(spark):
    """On data lying in a 3-dim subspace of R^64, the K=8 principal
    subspace must absorb ALL variance: rank-k residual ~ 0. Pins the
    sufficient-statistics merge and the eigenvector math end-to-end
    (the q199 booleans only bound it)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    basis = rng.normal(size=(3, 64))
    coef = rng.normal(size=(500, 3))
    X = coef @ basis + 5.0  # constant offset exercises mean-centering
    pdf = pd.DataFrame({"vec_id": range(500), "embedding": list(X.astype("float64"))})
    emb = spark.createDataFrame(pdf)

    D = 64

    def partial_stats(batches):
        n, s, g = 0, np.zeros(D), np.zeros((D, D))
        for b in batches:
            M = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
            n += M.shape[0]
            s += M.sum(axis=0)
            g += M.T @ M
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]})

    rows = emb.select("embedding").mapInPandas(
        partial_stats, "n bigint, s array<double>, g array<double>"
    ).collect()
    n_tot = sum(r.n for r in rows)
    s_tot = np.sum([np.array(r.s) for r in rows], axis=0)
    g_tot = np.sum([np.array(r.g).reshape(D, D) for r in rows], axis=0)
    mu = s_tot / n_tot
    cov = g_tot / n_tot - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    W = evecs[:, ::-1][:, :8]
    Xc = X - mu
    resid = Xc - (Xc @ W) @ W.T
    assert float((resid**2).sum()) / float((Xc**2).sum()) < 1e-9


def test_ordered_replay_files_arrive_in_event_time_order(spark, sf_dir):
    """ordered_replay_dir: listing the replay by mtime must yield files
    whose event-time ranges are non-overlapping and increasing — the
    property the outer stream-stream join (q196) depends on."""
    import os

    from marketingcloud_etl_spark.streaming.jobs import ordered_replay_dir

    src = ordered_replay_dir(spark, sf_dir)
    files = []
    for root, _dirs, names in os.walk(src):
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.join(root, n))
    files.sort(key=lambda f: os.path.getmtime(f))
    assert len(files) >= 2
    prev_hi = None
    for f in files:
        lo, hi = (
            spark.read.parquet(f)
            .selectExpr("min(ts)", "max(ts)")
            .first()
        )
        if prev_hi is not None:
            assert lo >= prev_hi, f"file {f} overlaps the previous slice"
        prev_hi = hi


def test_global_prefix_sum_matches_window_cumsum(spark):
    """operators/ranking.global_prefix_sum must reproduce
    SUM(v) OVER (ORDER BY ...) exactly on a frame spread across many
    range partitions, including the grand-total passenger column."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.operators.ranking import (
        global_prefix_sum,
        release_ranking_caches,
    )

    n = 5000
    pdf = pd.DataFrame(
        {"k": [(i * 2654435761) % 100003 for i in range(n)], "v": [(i % 97) + 1 for i in range(n)]}
    )
    df = spark.createDataFrame(pdf).repartition(16)
    got = global_prefix_sum(df, [F.col("k"), F.lit(0)], "v", out_col="cum", with_total=True)
    rows = {r["k"]: (r["cum"], r["__mcetl_n"]) for r in got.collect()}
    release_ranking_caches()
    want = (
        df.withColumn(
            "cum",
            F.sum("v").over(
                W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .collect()
    )
    tot = sum(p for p in pdf["v"])
    for r in want:
        assert rows[r.k][0] == r.cum, r.k
        assert rows[r.k][1] == tot


@pytest.mark.parametrize("n_rows", [1, 2, 7, 97, 1000])
def test_global_prefix_max_matches_window(spark, n_rows):
    """global_prefix_max must reproduce MAX(v) OVER (ORDER BY ...) for
    both the inclusive and the exclusive (UNBOUNDED PRECEDING, -1)
    frame — including the NULL first row of the exclusive form —
    compared against Spark's own single-partition window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.operators.ranking import global_prefix_max

    df = spark.range(n_rows).select(
        F.col("id").alias("uid"),
        ((F.col("id") * 37) % 11).alias("k"),
        ((F.col("id") * 13) % 29).alias("v"),
    )
    order = [F.col("k").asc(), F.col("uid").asc()]
    expect = df.select(
        "uid",
        F.max("v").over(W.orderBy(*order)).alias("want_inc"),
        F.max("v")
        .over(W.orderBy(*order).rowsBetween(W.unboundedPreceding, -1))
        .alias("want_exc"),
    )
    got_inc = global_prefix_max(df, order, "v", "inc")
    got_exc = global_prefix_max(df, order, "v", "exc", exclusive=True)
    joined = (
        expect.join(got_inc.select("uid", "inc"), "uid")
        .join(got_exc.select("uid", "exc"), "uid")
    )
    bad = joined.filter(
        (F.col("inc") != F.col("want_inc"))
        | ~(
            F.col("exc").eqNullSafe(F.col("want_exc"))
        )
    )
    assert bad.count() == 0, bad.limit(10).collect()


def test_global_prefix_max_plan_has_no_single_partition(spark):
    """The staircase operator must never plan Exchange SinglePartition."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import global_prefix_max

    df = spark.range(10_000).select(
        F.col("id").alias("uid"), (F.col("id") % 997).alias("v")
    )
    got = global_prefix_max(df, [F.col("uid").asc()], "v", "m", exclusive=True)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_global_prefix_sum_multi_column_matches_window(spark):
    """The multi-measure prefix sum (one range exchange for N running
    totals) must equal per-column SUM OVER (ORDER BY) windows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from marketingcloud_etl_spark.operators.ranking import global_prefix_sum

    df = spark.range(500).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    got = global_prefix_sum(df, [F.col("k")], ["a", "b"], out_col=["ca", "cb"])
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select(
        "k",
        F.sum("a").over(w).alias("wa"),
        F.sum("b").over(w).alias("wb"),
    )
    bad = (
        got.select("k", "ca", "cb")
        .join(want, "k")
        .filter((F.col("ca") != F.col("wa")) | (F.col("cb") != F.col("wb")))
    )
    assert bad.count() == 0, bad.limit(5).collect()


@pytest.mark.parametrize("p", [0.0, 0.123, 0.25, 0.5, 0.75, 1.0])
def test_grouped_quantile_cont_matches_builtin_percentile(spark, p):
    """grouped_quantile_cont must be BITWISE equal to Spark's
    ``percentile`` aggregate (same interpolation arithmetic, operation
    for operation) on a frame with duplicate values, a singleton group,
    and both even- and odd-sized groups."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    rows = []
    for i in range(997):  # group g0: odd n, collisions every 13
        rows.append(("g0", float((i * 31) % 13) + 0.25))
    for i in range(500):  # group g1: even n, near-unique doubles
        rows.append(("g1", ((i * 2654435761) % 9973) / 7.0))
    rows.append(("g2", 42.5))  # singleton group
    df = spark.createDataFrame(rows, "g string, v double").repartition(16)
    want = {
        r.g: (r.q, r.n)
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.lit(p)).alias("q"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r.g: (r.q, r.n)
        for r in grouped_quantile_cont(df, ["g"], "v", p).collect()
    }
    release_ranking_caches()
    assert got == want  # exact ==, no tolerance: bitwise contract


def test_grouped_quantile_cont_multi_p_one_pass(spark):
    """The list form must equal per-p single calls AND Spark's builtin,
    sharing one counts/prefix machinery for the whole battery."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    df = spark.range(3001).select(
        (F.col("id") % 4).cast("string").alias("g"),
        ((F.col("id") * 2654435761) % 9973).cast("double").alias("v"),
    )
    want = {
        r.g: (r.q25, r.q50, r.q75)
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(0.25)).alias("q25"),
            F.percentile("v", F.lit(0.5)).alias("q50"),
            F.percentile("v", F.lit(0.75)).alias("q75"),
        )
        .collect()
    }
    got = {
        r.g: (r.q25, r.q50, r.q75)
        for r in grouped_quantile_cont(
            df, ["g"], "v", [0.25, 0.5, 0.75], ["q25", "q50", "q75"]
        ).collect()
    }
    release_ranking_caches()
    assert got == want


def test_grouped_quantile_cont_ignores_nulls_like_builtin(spark):
    """NULL values carry no rank in the builtin ``percentile``
    aggregate; the counts-based operator must exclude them BEFORE
    ranking (unfiltered they'd sort lowest and shift every rank) and
    report n as the NON-NULL count, exactly like the builtin."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    rows = []
    for i in range(101):
        rows.append(("a", float(i)))
        if i % 3 == 0:
            rows.append(("a", None))  # interleaved nulls
    rows += [("b", None), ("b", 7.0), ("b", None)]  # mostly-null group
    rows += [("z", None), ("z", None)]  # ALL-null group: documented to
    # produce no output row (the builtin would emit a NULL quantile)
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    for p in (0.25, 0.5, 0.9):
        want = {
            r.g: (r.q, r.n)
            for r in df.groupBy("g")
            .agg(
                F.percentile("v", F.lit(p)).alias("q"),
                F.count("v").alias("n"),  # count(col) skips nulls
            )
            .collect()
        }
        got = {
            r.g: (r.q, r.n)
            for r in grouped_quantile_cont(df, ["g"], "v", p).collect()
        }
        release_ranking_caches()
        assert "z" not in got  # all-null group: documented omission
        want.pop("z")  # builtin emits (None, 0) for it
        assert got == want, p


def test_grouped_quantile_cont_adversarial_scale(spark):
    """10⁶ rows, 3 heavy groups (the regime the operator exists for):
    the distributed result must still be BITWISE the builtin's at the
    quartile points — a size where a wrong rank-cover or offset bug
    would certainly surface, and small enough for the builtin to serve
    as the oracle."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    n = 1_000_000
    df = spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # ~250k distinct doubles per group, with collisions
        (((F.col("id") * 2654435761) % 750019) / 7.0).alias("v"),
    )
    want = {
        r.g: (r.q25, r.q50, r.q75, r.n)
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(0.25)).alias("q25"),
            F.percentile("v", F.lit(0.5)).alias("q50"),
            F.percentile("v", F.lit(0.75)).alias("q75"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {
        r.g: (r.q25, r.q50, r.q75, r.n)
        for r in grouped_quantile_cont(
            df, ["g"], "v", [0.25, 0.5, 0.75], ["q25", "q50", "q75"]
        ).collect()
    }
    release_ranking_caches()
    assert got == want


def test_grouped_quantile_cont_plan_has_no_single_partition(spark):
    """The whole point of the operator: exact per-group quantiles with
    no group-sized or single-partition stage anywhere in the plan."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7 % 997).cast("double").alias("v"),
    )
    got = grouped_quantile_cont(df, ["g"], "v", 0.5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    release_ranking_caches()
    assert "Exchange SinglePartition" not in plan, plan


def test_range_clustered_counts_pid_ranges_are_disjoint_and_ascending(spark):
    """Planner contract of the fused quantile path: the partition id
    captured after the counts aggregation must be the RANGE partition
    id, i.e. max key of pid i < min key of pid i+1. If the planner ever
    puts an exchange between the range repartition and the aggregate,
    this fails instead of the quantiles going silently wrong."""
    from marketingcloud_etl_spark.operators.ranking import (
        _PID,
        _range_clustered_counts,
    )
    from marketingcloud_etl_spark.session import conf_scope

    df = spark.range(60_000).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 2654435761) % 20011).alias("v"),
    )
    # at test scale AQE would coalesce every range partition into one
    with conf_scope(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        for cnt in (F.count(F.lit(1)), F.sum(F.lit(1)).cast("long")):
            spans = (
                _range_clustered_counts(df, ["g"], "v", cnt)
                .groupBy(_PID)
                .agg(
                    F.min(F.struct("g", "v")).alias("lo"),
                    F.max(F.struct("g", "v")).alias("hi"),
                )
                .orderBy(_PID)
                .collect()
            )
            assert len(spans) > 1, "needs several range partitions to test"
            for a, b in zip(spans, spans[1:]):
                assert tuple(a.hi) < tuple(b.lo), (a, b)


def test_release_frees_every_quantile_pin(spark):
    """Pins never outlive a release: after two grouped_quantile_cont
    calls over the same input, one release_ranking_caches() leaves
    Spark's cache manager empty, so no query can be served another
    query's cached counts or prefix frames."""
    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_cont,
        release_ranking_caches,
    )

    release_ranking_caches()
    spark.catalog.clearCache()
    df = spark.range(5_000).select(
        (F.col("id") % 3).alias("g"), ((F.col("id") * 7919) % 1009).alias("v")
    )
    first = grouped_quantile_cont(df, ["g"], "v", [0.25, 0.75], ["q1", "q3"])
    second = grouped_quantile_cont(df, ["g"], "v", [0.25, 0.75], ["q1", "q3"])
    assert sorted(first.collect()) == sorted(second.collect())
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    assert release_ranking_caches() == 4  # counts + prefix frame, per call
    assert cache.isEmpty()


_RESTART_SCRIPT = """
from marketingcloud_etl_spark.operators import dedup, ranking
from marketingcloud_etl_spark.session import get_spark

DOCS = [(i, f"alpha beta gamma delta word{i % 7} omega") for i in range(40)]
KEY = ("sig", "text", 32, 3, 42)


def start():
    return get_spark(app_name="restart", master="local[2]", shuffle_partitions=4)


def signatures(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return sorted(tuple(r) for r in dedup.minhash_signature(df).collect())


spark = start()
before, expr = signatures(spark), dedup._EXPR_CACHE[KEY]
ranking.pin_cache(spark.range(100)).count()
spark.stop()

spark = start()
# the old session's pin is dropped without touching its dead context
assert ranking.release_ranking_caches() == 1 and not ranking._PINNED
# the memoized expression tree is reused and gives the same rows
assert signatures(spark) == before and dedup._EXPR_CACHE[KEY] is expr
cache = spark._jsparkSession.sharedState().cacheManager()
ranking.pin_cache(spark.range(50)).count()
assert not cache.isEmpty()
assert ranking.release_ranking_caches() == 1 and cache.isEmpty()
spark.stop()
print("restart-ok")
"""


def test_release_and_expression_memo_survive_a_session_restart(tmp_path):
    """A frame pinned in a session that is later stopped must not break
    the release point, and dedup's expression memo stays valid in the
    next session. Runs in its own interpreter: the suite shares one
    session that this test must not stop."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = dict(os.environ, PYTHONPATH=repo, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "restart-ok" in out.stdout


def test_pagerank_fixed_point_matches_integer_reference(spark):
    """pagerank_fixed_point vs a pure-Python integer power iteration on
    the same graph: EXACT equality (the operator's whole point is
    bit-identical integer arithmetic under any partitioning), plus
    rank-order agreement with the float operator."""
    from marketingcloud_etl_spark.operators.pagerank import (
        pagerank,
        pagerank_fixed_point,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 2), (2, 6)]
    edges = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {
        r.id: r.rank_micro
        for r in pagerank_fixed_point(edges, iters=3).collect()
    }

    scale, n, dpct = 1_000_000_000_000, 7, 85
    out_deg = {}
    for a, _ in pairs:
        out_deg[a] = out_deg.get(a, 0) + 1
    r = {i: scale // n for i in range(n)}
    base = (scale * (100 - dpct) // 100) // n
    for _ in range(3):
        s = {i: 0 for i in range(n)}
        for a, b in pairs:
            s[b] += r[a] // out_deg[a]
        r = {i: base + (dpct * s[i]) // 100 for i in range(n)}
    assert got == r, (got, r)

    # order agreement with the float operator at the same iteration count
    f = {x.id: x.rank for x in pagerank(edges, iters=3).collect()}
    order_int = sorted(range(n), key=lambda i: (-got[i], i))
    order_flt = sorted(range(n), key=lambda i: (-f[i], i))
    assert order_int == order_flt

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert pagerank_fixed_point(empty).count() == 0


def test_io_table_error_contracts(spark, sf_dir):
    """The fixture-loader's failure modes stay clean: unknown table →
    KeyError naming the valid set (not a cryptic path error); bad
    sf_dir → Spark's PATH_NOT_FOUND AnalysisException."""
    import pytest
    from pyspark.errors import AnalysisException

    from marketingcloud_etl_spark.io import table

    with pytest.raises(KeyError, match="unknown fixture table"):
        table(spark, sf_dir, "nope")
    with pytest.raises(AnalysisException):
        table(spark, sf_dir.rstrip("/") + "-does-not-exist", "orders").count()


def test_soundex_expr_known_values(spark):
    """The generated simplified-soundex agrees with classic soundex on
    the canonical textbook examples (none of which exercise the H/W
    continuation rule this variant intentionally simplifies)."""
    from marketingcloud_etl_spark.plans.dedup_queries import _soundex_expr

    import duckdb

    cases = {
        "Robert": "R163",
        "Rupert": "R163",
        "Tymczak": "T522",
        "Pfister": "P236",  # first-letter run collapse: P,F share code 1
        "Jackson": "J250",
        "lemon": "L550",
        "O'Brien-2": "O165",  # punctuation stripped before coding
        "a": "A000",  # pad to 4
    }
    df = spark.createDataFrame([(w,) for w in cases], ["w"])
    got = {
        r["w"]: r["sdx"]
        for r in df.selectExpr(
            "w", f"{_soundex_expr('w', duck=False)} AS sdx"
        ).collect()
    }
    assert got == cases
    con = duckdb.connect()
    for w, want in cases.items():
        ww = w.replace("'", "''")
        (got_d,) = con.sql(
            f"SELECT {_soundex_expr(chr(39) + ww + chr(39), duck=True)}"
        ).fetchone()
        assert got_d == want, (w, got_d, want)


def test_sketchguided_heavy_hitters_partition_invariant(spark, sf_dir):
    """q369's candidate set depends on the partition layout
    (pigeonhole prefilter), but the exact-verify phase must erase
    that: whatever layout the session picked, the final heavy-hitter
    set equals the plain full-vocabulary groupBy/HAVING answer —
    token-for-token and count-for-count."""
    from marketingcloud_etl_spark.functions.text import tokens
    from marketingcloud_etl_spark.io import table
    from pyspark.sql import functions as F

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("token"))
    )
    total = toks.count()
    plain = {
        (r["token"], r["cnt"])
        for r in toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 200 > total)
        .collect()
    }
    from marketingcloud_etl_spark.plans.catalog import load_all

    qd = load_all()["q369_sketchguided_heavy_hitters"]
    got = {(r["token"], r["cnt"]) for r in qd.fn(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_bm25_index_serving_matches_inline_and_appends(spark, sf_dir, tmp_path):
    """q390's operator layer: (1) index-served BM25 is VALUE-identical
    to the from-scratch inline computation (the index changes where
    numbers come from, never what they are); (2) appending a new doc's
    postings + re-folding df/stats makes it retrievable — the
    maintenance path."""
    from marketingcloud_etl_spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
        write_bm25_index,
    )

    corpus = table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 200
    )
    base = str(tmp_path / "bm25")
    write_bm25_index(corpus, base)
    postings = spark.read.parquet(base + "/postings")
    dfreq = spark.read.parquet(base + "/df")
    stats = spark.read.parquet(base + "/stats")
    qt = spark.createDataFrame([(1, "spark"), (1, "stream")], "query_id int, t string")

    served = bm25_serve(qt, postings, dfreq, stats, top_k=10, terms=["spark", "stream"])
    p2, d2, s2 = build_bm25_index(corpus)
    inline = bm25_serve(qt, p2, d2, s2, top_k=10)
    a = [(r.rank, r.doc_id, r.bm25) for r in served.orderBy("rank").collect()]
    b = [(r.rank, r.doc_id, r.bm25) for r in inline.orderBy("rank").collect()]
    assert a == b and len(a) == 10  # bitwise score parity, index vs inline

    # maintenance: append one saturated new doc, re-fold df/stats
    new = spark.createDataFrame(
        [(999000, "spark stream spark stream spark stream spark stream")],
        "doc_id bigint, text string",
    )
    np_, _, _ = build_bm25_index(new)
    np_.write.mode("append").parquet(base + "/postings")
    postings2 = spark.read.parquet(base + "/postings")
    dfreq2 = postings2.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    stats2 = (
        postings2.select("doc_id", "len").distinct()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("len").alias("total_len"),
        )
    )
    served2 = bm25_serve(qt, postings2, dfreq2, stats2, top_k=3, terms=["spark", "stream"])
    top = served2.orderBy("rank").first()
    assert top.doc_id == 999000 and top.n_terms_hit == 2  # all-query-term doc wins


def test_incremental_components_equals_full_cc(spark):
    """q391's operator layer: merging batches of edges through the
    contracted supergraph must label EXACTLY like a from-scratch CC on
    the union — including batches that merge two old components through
    a new node, attach new chains, arrive internal to one component,
    and bring a brand-new disjoint pair."""
    from marketingcloud_etl_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    old_edges = spark.createDataFrame(
        [(5, 6), (6, 7), (10, 11), (20, 21), (30, 31)],
        "id_a bigint, id_b bigint",
    )
    labels = connected_components(old_edges)
    new_edges = spark.createDataFrame(
        [
            (7, 10),    # merges comp 5 with comp 10
            (3, 11),    # new node 3 < all labels joins (and renames) that comp
            (40, 41),   # brand-new disjoint pair
            (20, 21),   # internal to an existing component (self-loop after map)
            (31, 50),   # new chain node onto comp 30
        ],
        "id_a bigint, id_b bigint",
    )
    inc = {
        (r.id, r.component)
        for r in incremental_components(labels, new_edges).collect()
    }
    full = {
        (r.id, r.component)
        for r in connected_components(old_edges.unionByName(new_edges)).collect()
    }
    assert inc == full
    # and the merged 3-5-6-7-10-11 component is labelled by its min, 3
    assert (11, 3) in inc and (5, 3) in inc

    # second increment on top of the first — state keeps composing
    labels2 = incremental_components(labels, new_edges)
    newer = spark.createDataFrame([(41, 30), (60, 61)], "id_a bigint, id_b bigint")
    inc2 = {
        (r.id, r.component)
        for r in incremental_components(labels2, newer).collect()
    }
    full2 = {
        (r.id, r.component)
        for r in connected_components(
            old_edges.unionByName(new_edges).unionByName(newer)
        ).collect()
    }
    assert inc2 == full2


def _sym(spark, pairs):
    e = spark.createDataFrame(pairs, "src bigint, dst bigint")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def test_incremental_label_prop_equals_full(spark):
    """q394's operator layer: cone-recompute LP must label EXACTLY like
    from-scratch label_propagation on the union graph — including a
    bridge edge between two old communities, a new pendant node, and a
    brand-new disjoint pair."""
    from marketingcloud_etl_spark.operators.components import (
        incremental_label_prop,
        label_propagation,
    )

    old = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]
    new = [(4, 10), (12, 50), (70, 71)]
    old_e = _sym(spark, old)
    full_e = _sym(spark, old + new)
    new_e = full_e.exceptAll(old_e)
    state = label_propagation(old_e, rounds=2)
    inc = {
        (r.id, r.lab)
        for r in incremental_label_prop(state, full_e, new_e, rounds=2).collect()
    }
    full = {(r.id, r.lab) for r in label_propagation(full_e, rounds=2).collect()}
    assert inc == full


def test_incremental_label_prop_is_actually_incremental(spark):
    """Nodes outside the new edges' dependency cone must take their
    label from the STATE TABLE, not a recompute — probed by corrupting
    the state label of a far-away node and observing the corruption
    survive the merge (a from-scratch recompute would repair it)."""
    from marketingcloud_etl_spark.operators.components import (
        incremental_label_prop,
        label_propagation,
    )

    # path 1-2-3-4-5-6; new edge attaches 100 at node 6: with K=2 the
    # affected out-ball of {6, 100} is {6, 100, 5} — nodes 1..3 are
    # outside every cone set
    old = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    new = [(6, 100)]
    old_e = _sym(spark, old)
    full_e = _sym(spark, old + new)
    new_e = full_e.exceptAll(old_e)
    state = label_propagation(old_e, rounds=2).withColumn(
        "lab", F.when(F.col("id") == 1, F.lit(999)).otherwise(F.col("lab"))
    )
    merged = {
        (r.id, r.lab)
        for r in incremental_label_prop(state, full_e, new_e, rounds=2).collect()
    }
    assert (1, 999) in merged  # state label rode through untouched


def test_bm25_index_compaction_restores_layout_and_drops_ttl(spark, sf_dir, tmp_path):
    """compact_bm25_index (q396's operator): an appended postings dir
    holds more files than shards (and unsorted tails); compaction
    restores exactly n_shards sorted files, re-derives df/stats from
    the surviving postings, and TTL'd docs vanish from served
    results."""
    import os

    from marketingcloud_etl_spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
        compact_bm25_index,
        write_bm25_index,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 80)
    )
    base = str(tmp_path / "bm25")
    write_bm25_index(docs.filter(F.col("doc_id") < 40), base, n_shards=4)
    newp, _, _ = build_bm25_index(docs.filter(F.col("doc_id") >= 40))
    newp.repartition(4, "t").sortWithinPartitions("t", "doc_id").write.mode(
        "append"
    ).parquet(base + "/postings")
    n_before = len([f for f in os.listdir(base + "/postings") if f.endswith(".parquet")])
    assert n_before > 4  # two generations of shard files

    out = str(tmp_path / "bm25c")
    postings, dfreq, stats = compact_bm25_index(
        spark, base, out, keep=F.col("doc_id") >= 10, n_shards=4
    )
    n_after = len([f for f in os.listdir(out + "/postings") if f.endswith(".parquet")])
    assert n_after == 4
    # df/stats re-derived over survivors only
    assert postings.filter(F.col("doc_id") < 10).count() == 0
    srow = stats.first()
    live_docs = postings.select("doc_id").distinct().count()
    assert srow.n_docs == live_docs
    # a term query never returns a TTL'd doc
    qt = spark.createDataFrame([(1, "data"), (1, "spark")], "query_id int, t string")
    served = bm25_serve(qt, postings, dfreq, stats, top_k=50, terms=["data", "spark"])
    assert served.filter(F.col("doc_id") < 10).count() == 0


def test_generation_manifest_atomic_publish(spark, tmp_path):
    """q398's protocol layer: readers address state ONLY through the
    manifest pointer — a publish flips it atomically, a torn publish
    (dangling .tmp, crash before rename) changes nothing, and the
    previous generation stays intact on disk for rollback."""
    import json
    import os

    from marketingcloud_etl_spark.sinks.manifest import (
        current_generation,
        publish_generation,
        read_current,
    )

    g0, g1 = str(tmp_path / "gen0"), str(tmp_path / "gen1")
    spark.range(0, 10).write.parquet(g0)
    spark.range(100, 105).write.parquet(g1)
    man = str(tmp_path / "MANIFEST.json")

    publish_generation(man, g0, {"generation": 0})
    assert current_generation(man) == g0
    assert read_current(spark, man).count() == 10

    # torn publish: a writer crashed after writing the temp file but
    # before the rename — readers must still see gen0
    with open(man + ".tmp", "w") as f:
        f.write(json.dumps({"current": g1}))
    assert current_generation(man) == g0

    publish_generation(man, g1, {"generation": 1})
    assert current_generation(man) == g1
    assert read_current(spark, man).count() == 5
    # rollback is repointing; the old generation is still readable
    assert os.path.isdir(g0) and spark.read.parquet(g0).count() == 10
    publish_generation(man, g0)
    assert read_current(spark, man).count() == 10


def test_erase_from_state_tombstones(spark, tmp_path):
    """erase_from_state (q399's operator): (1) exactly the tombstoned
    ids' rows leave the state — kept ids survive untouched; (2) probe
    behavior flips correctly: an erased doc re-ingests as NEW unless a
    content-identical twin survives under another id (id-keyed erasure
    removes the RECORD; removing content requires tombstoning every
    carrier); (3) the anti-join is broadcast (state never shuffled)
    and the one-file-per-band layout survives the rewrite."""
    import os

    from marketingcloud_etl_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )
    from marketingcloud_etl_spark.operators.state import erase_from_state

    twin = "the same content lives under two distinct ids here today"
    rows = [(i, f"alpha beta gamma delta doc{i} epsilon zeta") for i in range(20)]
    rows += [(100, twin), (101, twin)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "idx")
    build_minhash_index(docs).repartition("band").write.partitionBy("band").parquet(
        state
    )

    tomb = spark.createDataFrame([(5,), (7,), (100,)], "doc_id long")
    out = str(tmp_path / "erased")
    erased = erase_from_state(
        spark, state, out, tomb, id_col="id", partition_col="band"
    )

    ids = {r.id for r in erased.select("id").distinct().collect()}
    assert ids == ({i for i in range(20)} | {100, 101}) - {5, 7, 100}

    # probe semantics under negated re-ingest ids (rid = -doc_id - 1)
    reingest = docs.select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    res = {r.id: r for r in probe_minhash_index(reingest, erased).collect()}
    assert not res[-6].is_dup, "erased unique doc 5 must come back NEW"
    assert not res[-8].is_dup, "erased unique doc 7 must come back NEW"
    assert res[-1].is_dup and res[-1].dup_of == 0, "kept doc 0 must still match"
    assert res[-101].is_dup and res[-101].dup_of == 101, (
        "erased doc 100's content survives under twin id 101 — still a dup"
    )
    assert res[-102].is_dup, "kept twin 101 must still match"

    # layout: still exactly one file per band partition
    for b in [p for p in os.listdir(out) if p.startswith("band=")]:
        files = [
            f for f in os.listdir(os.path.join(out, b)) if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{b}: {len(files)} files after erase"

    # plan: the state side joins via BroadcastHashJoin LeftAnti — the
    # state table itself is never shuffled by the erasure pass
    tname = tomb.columns[0]
    kept_plan = (
        spark.read.parquet(state)
        .join(
            F.broadcast(tomb.select(F.col(tname).alias("id")).distinct()),
            "id",
            "left_anti",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in kept_plan and "LeftAnti" in kept_plan


def test_grouped_quantile_from_counts_matches_builtin(spark):
    """grouped_quantile_from_bounded_counts (q402's operator) over a
    pre-aggregated counts frame — including DUPLICATE (group, value)
    rows, the state ∪ batch shape before the merge agg — must be
    bitwise equal to the builtin ``percentile`` over the expanded raw
    rows, for the whole quartile battery."""
    import random

    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.ranking import (
        grouped_quantile_from_bounded_counts,
    )

    rng = random.Random(7)
    raw = []
    counts = {}
    for g in ("a", "b"):
        for _ in range(400):
            v = rng.randrange(1, 50)
            raw.append((g, v))
            counts[(g, v)] = counts.get((g, v), 0) + 1
    raw_df = spark.createDataFrame(raw, "g string, v long")
    # split each count into two partial rows (state + batch shape)
    split_rows = []
    for (g, v), c in counts.items():
        h = c // 2
        if h:
            split_rows.append((g, v, h))
        split_rows.append((g, v, c - h))
    cdf = spark.createDataFrame(split_rows, "g string, v long, cnt long")

    want = {
        r.g: (r.q25, r.q50, r.q75, r.n)
        for r in raw_df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(0.25)).alias("q25"),
            F.percentile("v", F.lit(0.50)).alias("q50"),
            F.percentile("v", F.lit(0.75)).alias("q75"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got_bounded = {
        r.g: (r.q25, r.q50, r.q75, r.n)
        for r in grouped_quantile_from_bounded_counts(
            cdf, ["g"], "v", "cnt", [0.25, 0.5, 0.75], ["q25", "q50", "q75"]
        ).collect()
    }
    assert got_bounded == want  # exact ==, no tolerance: bitwise contract


def test_merge_session_state_boundary_semantics(spark):
    """merge_session_state (q403's operator): the per-user constant
    state row continues sessionization exactly across a batch
    boundary — bridge under the gap, NEW session at exactly the gap
    (session_window's [start, last+gap) interval), new-user and
    history-only users pass through — and the merged state equals
    folding the union stream from scratch."""
    from datetime import datetime, timedelta

    from marketingcloud_etl_spark.operators.sessionize import (
        merge_session_state,
        session_state,
    )

    t0 = datetime(2024, 1, 10, 12, 0, 0)
    m = timedelta(minutes=1)
    hist = [
        # user 1: two history sessions, last event t0
        (1, t0 - 120 * m), (1, t0 - 115 * m), (1, t0),
        # user 2: one history session ending t0
        (2, t0 - 5 * m), (2, t0),
        # user 4: history only
        (4, t0 - 50 * m),
    ]
    batch = [
        # user 1: first batch event 29 min after -> BRIDGES, then a
        # second internal session 31 min later
        (1, t0 + 29 * m), (1, t0 + 60 * m), (1, t0 + 61 * m),
        # user 2: exactly 30 min after -> NO bridge (>= gap opens new)
        (2, t0 + 30 * m),
        # user 3: new user, two internal sessions
        (3, t0 + 1 * m), (3, t0 + 40 * m),
    ]
    hdf = spark.createDataFrame(hist, "user_id long, ts timestamp")
    bdf = spark.createDataFrame(batch, "user_id long, ts timestamp")

    merged = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in merge_session_state(session_state(hdf), bdf).collect()
    }
    assert merged[1] == (3, 6)   # 2 hist, bridge, +1 new internal
    assert merged[2] == (2, 3)   # exact-gap boundary opens a session
    assert merged[3] == (2, 2)   # new user, batch-internal split
    assert merged[4] == (1, 1)   # history-only user passes through

    # decomposition contract: merge(state(A), B) == state(A ++ B)
    want = {
        r.user_id: (r.n_sessions, r.n_events, r.last_ts)
        for r in session_state(hdf.unionByName(bdf)).collect()
    }
    got = {
        r.user_id: (r.n_sessions, r.n_events, r.last_ts)
        for r in merge_session_state(session_state(hdf), bdf).collect()
    }
    assert got == want


def test_signed_view_merge_group_disappearance(spark):
    """signed_view_merge (q406's operator): deleting every row of a
    group drives its maintained support to zero and the group VANISHES
    from the view (the retraction case insert-only IVM can't express);
    partial deletes subtract exactly; inserts into new groups appear."""
    from marketingcloud_etl_spark.operators.state import signed_view_merge

    state = spark.createDataFrame(
        [("a", 2, 300), ("b", 1, 50), ("c", 3, 999)],
        "g string, n bigint, total bigint",
    )
    delta = spark.createDataFrame(
        [
            ("a", -2, -300),   # full retraction: group must disappear
            ("b", 1, 25),      # one more row
            ("c", -1, -9),     # partial retraction
            ("d", 2, 40),      # brand-new group
        ],
        "g string, n bigint, total bigint",
    )
    got = {
        r.g: (r.n, r.total)
        for r in signed_view_merge(state, delta, ["g"], ["n", "total"]).collect()
    }
    assert got == {"b": (2, 75), "c": (2, 990), "d": (2, 40)}


def test_gc_generations_retention(spark, tmp_path):
    """gc_generations (q421's operator): (1) dirs outside the keep
    window leave disk and their history entries are tombstoned, while
    kept generations stay BYTE-INTACT (same files, same sizes); (2)
    the ``current`` pointer's dir is always kept, even at
    keep_last=0; (3) read_generation refuses a gc'd entry with
    LookupError instead of a dangling-path read; (4) the pass is
    idempotent; (5) a dir republished back inside the window
    (rollback-by-republish) survives its older out-of-window entry."""
    import os

    import pytest

    from marketingcloud_etl_spark.sinks.manifest import (
        current_generation,
        gc_generations,
        publish_generation,
        read_generation,
    )

    g = [str(tmp_path / f"gen{i}") for i in range(3)]
    for i, d in enumerate(g):
        spark.range(i * 10, i * 10 + 10 + i).write.parquet(d)
    man = str(tmp_path / "MANIFEST.json")
    for i, d in enumerate(g):
        publish_generation(man, d, {"generation": i})

    def listing(d):
        return sorted(
            (f, os.path.getsize(os.path.join(d, f))) for f in os.listdir(d)
        )

    before = {d: listing(d) for d in g[1:]}

    rep = gc_generations(man, keep_last=2)
    assert rep["deleted"] == [g[0]] and not os.path.exists(g[0])
    assert rep["kept"] == sorted(g[1:])
    assert current_generation(man) == g[2]
    for d in g[1:]:
        assert listing(d) == before[d], "kept generation not bit-intact"
    with pytest.raises(LookupError):
        read_generation(spark, man, 0)
    assert read_generation(spark, man, 1).count() == 11

    rep2 = gc_generations(man, keep_last=2)
    assert rep2["deleted"] == [] and rep2["kept"] == sorted(g[1:])

    # rollback-by-republish: gen1 becomes current again; keep_last=0
    # keeps ONLY the current dir — gen2 goes, gen1 survives through
    # its in-window (current) reference despite the older entry
    publish_generation(man, g[1], {"generation": 1, "rollback": True})
    rep3 = gc_generations(man, keep_last=0)
    assert current_generation(man) == g[1]
    assert os.path.isdir(g[1]) and not os.path.exists(g[2])
    assert rep3["deleted"] == [g[2]]
    assert read_generation(spark, man, -1).count() == 11


def test_gc_generations_finishes_crashed_delete(spark, tmp_path):
    """The crash-recovery half of gc_generations' publish-first
    contract: a prior pass that died AFTER publishing the gc-marked
    manifest but BEFORE its rmtree loop leaves a marked-but-present
    dir — the next pass must finish the delete (and report it), not
    skip it as already-handled and leak the storage forever."""
    import json
    import os

    from marketingcloud_etl_spark.sinks.manifest import (
        gc_generations,
        publish_generation,
    )

    g = [str(tmp_path / f"gen{i}") for i in range(3)]
    for i, d in enumerate(g):
        spark.range(5).write.parquet(d)
    man = str(tmp_path / "MANIFEST.json")
    for i, d in enumerate(g):
        publish_generation(man, d, {"generation": i})

    # simulate the crash: gen0's entry is gc-marked on disk but its
    # directory still exists (the prior run died before rmtree)
    with open(man) as f:
        doc = json.load(f)
    doc["history"][0]["gc"] = True
    with open(man, "w") as f:
        json.dump(doc, f)
    assert os.path.isdir(g[0])

    rep = gc_generations(man, keep_last=2)
    assert rep["deleted"] == [g[0]], "recovery pass must finish the delete"
    assert not os.path.exists(g[0])
    assert os.path.isdir(g[1]) and os.path.isdir(g[2])


def test_manifest_rejects_reserved_meta_keys(spark, tmp_path):
    """publish_generation must refuse meta that collides with the
    manifest's own keys — meta={'dir': X} would record a history entry
    pointing at a path the manifest never owned (and gc would later
    DELETE X), meta={'gc': True} would make the fresh entry refuse
    time-travel reads."""
    import pytest

    from marketingcloud_etl_spark.sinks.manifest import publish_generation

    g = str(tmp_path / "gen0")
    spark.range(3).write.parquet(g)
    man = str(tmp_path / "MANIFEST.json")
    for bad in ({"dir": "/elsewhere"}, {"gc": True}, {"current": g}, {"history": []}):
        with pytest.raises(ValueError, match="reserved"):
            publish_generation(man, g, bad)
    publish_generation(man, g, {"generation": 0})  # normal meta fine


def _erase_pass(spark, state, out):
    from marketingcloud_etl_spark.operators.state import erase_from_state

    erase_from_state(spark, state, out, spark.createDataFrame([(1,)], "id long"))


def _compact_pass(spark, state, out):
    from marketingcloud_etl_spark.operators.dedup import MINHASH_LAYOUT
    from marketingcloud_etl_spark.operators.state import compact_bucket_index

    compact_bucket_index(spark, MINHASH_LAYOUT, state, out)


def _compact_bm25_pass(spark, state, out):
    from marketingcloud_etl_spark.operators.retrieval import compact_bm25_index

    compact_bm25_index(spark, state, out)


_REWRITE_PASSES = pytest.mark.parametrize(
    "rewrite",
    [_erase_pass, _compact_pass, _compact_bm25_pass],
    ids=["erase", "compact", "compact_bm25"],
)


def _one_row_state(spark, state):
    # a one-row table at the state dir and at its postings/ (BM25's
    # table) with the columns each pass plans on
    for d in (state, f"{state}/postings"):
        spark.createDataFrame([(1, "a", 1)], "id long, t string, doc_id long").write.parquet(d)


@_REWRITE_PASSES
def test_erase_from_state_rejects_in_place_rewrite(spark, tmp_path, rewrite):
    """Every maintenance pass (erasure, bucket compaction, BM25
    compaction) writes through state.write_generation, whose overwrite
    would destroy the state mid-read if pointed back at the source —
    the in-place rewrite the state contract forbids must be rejected,
    not executed."""
    import os

    state = str(tmp_path / "idx")
    _one_row_state(spark, state)
    before = sorted(os.listdir(state))
    with pytest.raises(ValueError, match="FRESH generation"):
        rewrite(spark, state, state)
    assert sorted(os.listdir(state)) == before


def test_gc_generations_before_first_publish_is_noop(tmp_path):
    """Running retention against a manifest that has never been
    published is a legitimate no-op (cron fires before the first
    publish lands) — empty report, no FileNotFoundError — while a
    CORRUPT manifest must still raise: deleting dirs against a
    half-read history is the one failure mode gc must never have."""
    import json

    import pytest

    from marketingcloud_etl_spark.sinks.manifest import gc_generations

    man = str(tmp_path / "MANIFEST.json")
    rep = gc_generations(man, keep_last=2)
    assert rep == {"current": None, "kept": [], "deleted": []}

    with open(man, "w") as f:
        f.write("{not json")
    with pytest.raises(json.JSONDecodeError):
        gc_generations(man, keep_last=2)


def test_gc_generations_legacy_manifest_without_current(spark, tmp_path):
    """A hand-written / pre-pointer manifest with history entries but
    no ``current`` key: the absent pointer must not leak a ``None``
    into the keep set — the keep window alone decides, and the report
    carries current=None."""
    import json
    import os

    from marketingcloud_etl_spark.sinks.manifest import gc_generations

    g = [str(tmp_path / f"gen{i}") for i in range(2)]
    for d in g:
        spark.range(3).write.parquet(d)
    man = str(tmp_path / "MANIFEST.json")
    with open(man, "w") as f:
        json.dump({"history": [{"dir": g[0]}, {"dir": g[1]}]}, f)

    rep = gc_generations(man, keep_last=1)
    assert rep["current"] is None
    assert rep["deleted"] == [g[0]] and not os.path.exists(g[0])
    assert rep["kept"] == [g[1]] and os.path.isdir(g[1])


def test_read_generation_detects_gc_winning_the_race(spark, tmp_path, monkeypatch):
    """Readers are lock-free, so a concurrent gc can tombstone the
    generation WHILE the time-travel read is being planned.
    read_generation re-checks the entry after planning and must
    surface the same LookupError as a pre-deleted read — never return
    a DataFrame whose files a finished gc already removed. Simulated
    by running the gc inside the planning call itself."""
    import pytest
    from pyspark.sql.readwriter import DataFrameReader

    from marketingcloud_etl_spark.sinks.manifest import (
        gc_generations,
        publish_generation,
        read_generation,
    )

    g = [str(tmp_path / f"gen{i}") for i in range(2)]
    for d in g:
        spark.range(4).write.parquet(d)
    man = str(tmp_path / "MANIFEST.json")
    for i, d in enumerate(g):
        publish_generation(man, d, {"generation": i})

    orig = DataFrameReader.parquet

    def gc_wins_mid_planning(self, *paths):
        df = orig(self, *paths)
        gc_generations(man, keep_last=1)  # lands after listing, before return
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", gc_wins_mid_planning)
    with pytest.raises(LookupError, match="garbage-collected"):
        read_generation(spark, man, 0)


@_REWRITE_PASSES
def test_erase_from_state_rejects_symlinked_alias(spark, tmp_path, rewrite):
    """The in-place-rewrite guard must compare RESOLVED paths: a
    symlink pointing back at the state dir is the same storage under a
    different spelling, and writing through it destroys the live state
    exactly like out_dir == state_dir does."""
    import os

    state = str(tmp_path / "idx")
    _one_row_state(spark, state)
    alias = str(tmp_path / "idx_alias")
    os.symlink(state, alias)
    with pytest.raises(ValueError, match="FRESH generation"):
        rewrite(spark, state, alias)


def test_merge_checksum_triples_null_key_is_one_group(spark):
    """q417's merge must be null-safe: a NULL event_type group present
    in both the state and the batch folds into ONE output row (as the
    oracle's GROUP BY does) — a key-equality full-outer join would
    leave the two NULL rows unmatched and emit both."""
    from marketingcloud_etl_spark.plans.audit_queries import (
        merge_checksum_triples,
    )

    schema = "event_type string, n_rows long, checksum_lo long, checksum_hi long"
    state = spark.createDataFrame([(None, 5, 100, 200), ("a", 2, 10, 20)], schema)
    batch = spark.createDataFrame([(None, 3, 50, 60), ("b", 1, 1, 2)], schema)
    out = {r["event_type"]: r for r in merge_checksum_triples(state, batch).collect()}
    assert len(out) == 3
    assert out[None]["n_rows"] == 8 and out[None]["checksum_lo"] == 150
    assert out["a"]["n_rows"] == 2 and out["b"]["checksum_hi"] == 2


def test_split_hot_buckets_probe_equivalence(spark, sf_dir):
    """The q426 contract: splitting hot buckets and fanning the probe
    out over the split registry must return EXACTLY the per-doc probe
    results of the unsplit index — same candidates counted, same
    is_dup verdicts, same dup_of winners — while every over-cap
    bucket's population at least halves-ish (no bucket above cap
    keeps its full size). Run on the real xxhash production index."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.io import table
    from marketingcloud_etl_spark.operators.dedup import (
        MINHASH_LAYOUT,
        build_minhash_index,
        fan_out_probe_rows,
        split_hot_buckets,
    )
    from marketingcloud_etl_spark.operators.state import probe_bucket_rows

    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")

    # coarsen the bucket space on BOTH sides (a valid LSH layout — a
    # coarser bucket is a candidate super-set) so the small fixture
    # actually produces over-cap buckets like production boilerplate
    coarse = lambda df: df.withColumn("bucket", F.pmod("bucket", F.lit(8)))  # noqa: E731
    index = coarse(build_minhash_index(corpus))
    batch_rows = coarse(build_minhash_index(batch))

    # tiny cap so the fixture actually exercises the split path
    cap = 2
    split_index, registry = split_hot_buckets(index, cap)
    n_hot = registry.filter("split").count()
    assert n_hot > 0, "fixture produced no hot buckets — cap too high"

    base = {
        r["id"]: (r["n_candidates"], r["is_dup"], r["dup_of"])
        for r in probe_bucket_rows(batch_rows, index, MINHASH_LAYOUT).collect()
    }
    fanned = fan_out_probe_rows(batch_rows, registry)
    split_res = {
        r["id"]: (r["n_candidates"], r["is_dup"], r["dup_of"])
        for r in probe_bucket_rows(fanned, split_index, MINHASH_LAYOUT).collect()
    }
    assert split_res == base

    # every formerly-hot bucket's halves are smaller than the original
    before = {
        (r["band"], r["bucket"]): r["__sz"]
        for r in index.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .join(registry.filter("split"), ["band", "bucket"])
        .collect()
    }
    after = {
        (r["band"], r["bucket"]): r["n"]
        for r in split_index.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for (band, bucket), sz in before.items():
        halves = after.get((band, 2 * bucket), 0) + after.get((band, 2 * bucket + 1), 0)
        assert halves == sz, "split lost or duplicated index rows"
        assert max(
            after.get((band, 2 * bucket), 0), after.get((band, 2 * bucket + 1), 0)
        ) < sz or sz == 1


def test_read_generation_gc_completed_before_planning(spark, tmp_path, monkeypatch):
    """The other side of the race window: gc finishes AFTER the
    manifest lookup but BEFORE spark.read.parquet lists the dir. The
    raw AnalysisException (PATH_NOT_FOUND) must be translated into the
    same LookupError the post-planning re-check raises — a time-travel
    caller handles one exception type for 'retention won', not two."""
    import pytest
    from pyspark.sql.readwriter import DataFrameReader

    from marketingcloud_etl_spark.sinks.manifest import (
        gc_generations,
        publish_generation,
        read_generation,
    )

    g = [str(tmp_path / f"gen{i}") for i in range(2)]
    for d in g:
        spark.range(4).write.parquet(d)
    man = str(tmp_path / "MANIFEST.json")
    for i, d in enumerate(g):
        publish_generation(man, d, {"generation": i})

    orig = DataFrameReader.parquet

    def gc_wins_before_planning(self, *paths):
        gc_generations(man, keep_last=1)  # deletes gen0 before listing
        return orig(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", gc_wins_before_planning)
    with pytest.raises(LookupError, match="garbage-collected"):
        read_generation(spark, man, 0)


def test_split_hot_buckets_accepts_partial_sizes(spark):
    """A caller may pass a PRE-FILTERED sizes frame (e.g. a hot-bucket
    maintenance report that only lists over-cap buckets). Buckets
    absent from it are cold by definition — their index rows must be
    remapped to 2*bucket, never silently dropped (the round-10 inner
    join lost them). Full-coverage sizes and hot-only sizes must
    produce the identical split index."""
    from pyspark.sql import functions as F

    from marketingcloud_etl_spark.operators.dedup import split_hot_buckets

    rows = [(i, 0, i % 3) for i in range(12)]  # bucket 0/1/2: 4 rows each
    index = spark.createDataFrame(rows, "id long, band int, bucket long")
    bit = F.pmod(F.col("id"), F.lit(2))

    full, _ = split_hot_buckets(index, cap=3, bit=bit)
    sizes_hot_only = (
        index.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter(F.col("__sz") > 3)
    )
    partial, _ = split_hot_buckets(index, cap=3, bit=bit, sizes=sizes_hot_only)

    assert partial.count() == index.count()  # nothing dropped
    key = lambda df: sorted(map(tuple, df.select("id", "band", "bucket").collect()))  # noqa: E731
    assert key(partial) == key(full)


def test_cdc_digest_null_fields_match_duckdb(spark, duck):
    """q428/q430's row digest must be TOTAL: Spark's concat_ws skips
    null arguments while DuckDB's || chain nullifies the digest, so
    without the NULL_SENTINEL coalesce a NULL user_id/ts/value forks
    the CDC checksums cross-engine silently (ADVICE r10). Evaluate
    both digest expressions over rows with a NULL in each position and
    compare exactly."""
    import pandas as pd

    from marketingcloud_etl_spark.plans.etl_queries import (
        _CDC_DIG_DUCK,
        _CDC_DIG_SPARK,
    )
    from marketingcloud_etl_spark.session import prep

    prep(spark)
    ts = pd.Timestamp("2024-03-07 12:34:56.789012")
    pdf = pd.DataFrame(
        {
            # bigint user_id, mirroring the real events schema
            "user_id": pd.array([101, None, 103, 104], dtype="Int64"),
            "ts": [ts, ts, pd.NaT, ts],
            "value": [1.25, 2.5, 3.75, None],
        }
    )
    sdf = spark.createDataFrame(pdf).selectExpr(
        "user_id", f"{_CDC_DIG_SPARK} as dig"
    )
    got = {r["user_id"]: r["dig"] for r in sdf.collect()}
    duck.register("cdc_null_probe", pdf)
    want = {
        r[0]: r[1]
        for r in duck.sql(
            f"SELECT user_id, {_CDC_DIG_DUCK} AS dig FROM cdc_null_probe"
        ).fetchall()
    }
    assert got == want
    assert all(v is not None for v in got.values())
