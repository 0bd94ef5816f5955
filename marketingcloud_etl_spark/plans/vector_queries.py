"""Embedding / similarity-search catalog (BASELINE north-star):
cosine via higher-order functions (no UDF), brute-force top-k,
LSH-bucketed ANN (rows-only), and the multimodal mapInPandas pipeline
(rows-only — decode stubbed, plumbing real)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import checksum_half_sums, checksum_half_sums_sql, hex_int, hex_int_sql
from ..functions.vectors import cosine, cosine_sql
from ..io import query_state, table
from ..operators.multimodal import attach_binary_payload, extract_features
from ..operators.similarity import ann_lsh_topk, knn_bruteforce
from .catalog import query

_COS_AB = cosine_sql("a.embedding", "b.embedding")


def _ivf_codebook(e: DataFrame, sf_dir: str, n_cells: int = 16) -> list:
    """The IVF codebook of embeddings frame ``e``, trained once per
    process and dataset (a deterministic Lloyd result) — the
    offline-train / online-search split."""
    from ..operators.similarity import train_ivf_codebook

    return query_state(
        f"ivf_codebook_{n_cells}",
        sf_dir,
        lambda _sd: train_ivf_codebook(e, n_cells=n_cells, refine_iters=1),
    )[1]


def _pq_codebooks(e: DataFrame, sf_dir: str) -> list:
    """The m=8 × 16-code PQ codebooks of ``e``, trained once per
    process and dataset like :func:`_ivf_codebook`."""
    from ..operators.similarity import train_pq_codebooks

    return query_state(
        "pq_codebooks", sf_dir, lambda _sd: train_pq_codebooks(e, m=8, n_codes=16)
    )[1]


@query(
    "q48_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_AB}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
    tags=("vector",),
)
def q48_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity of consecutive vector pairs — pure SQL
    higher-order fold, bit-identical across engines (float→double
    widening, sequential fold, IEEE ops in the same order)."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
    )


@query(
    "q49_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             {cosine_sql('b.embedding', 'a.embedding')} AS cos_raw
      FROM embeddings a CROSS JOIN q b
      WHERE a.vec_id != b.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
    tags=("vector", "headline"),
)
def q49_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 5 query vectors: broadcast
    cross join + window top-k (operators/similarity.knn_bruteforce)."""
    e = table(spark, sf_dir, "embeddings")
    return knn_bruteforce(e, e.filter(F.col("vec_id") < 5), k=5)


@query(
    "q53_embedding_neardup",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id % 10 = 0 AND label < 3
    )
    SELECT a.label,
           count(*) AS n_pairs,
           cast(sum(CASE WHEN {_COS_AB} > 0.5 THEN 1 ELSE 0 END) as bigint) AS n_above_half,
           round(max({_COS_AB}), 6) AS max_cos
    FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    """,
    tags=("vector", "dedup"),
)
def q53_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup scan within label blocks (blocked
    pairwise compare — the verify stage downstream of ANN candidate
    generation). Sampled so the oracle's fold stays cheap."""
    e = table(spark, sf_dir, "embeddings")
    s = e.filter((F.col("vec_id") % 10 == 0) & (F.col("label") < 3))
    a = s.select(F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = s.select(F.col("label").alias("label_b"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = cosine("va", "vb")
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(cos > 0.5, 1).otherwise(0)).alias("n_above_half"),
            F.round(F.max(cos), 6).alias("max_cos"),
        )
    )


@query("q52_ann_lsh_topk", oracle=None, tags=("vector", "ann", "rows-only"))
def q52_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH + multiprobe, exact rerank inside
    buckets — the 100 TB similarity-search path (candidate join is
    O(n·probes), not O(n·q)). Recall vs brute force is pinned in
    tests/test_similarity.py; driver check is rows-only."""
    e = table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(e, e.filter(F.col("vec_id") < 5), k=5)


@query("q54_multimodal_features", oracle=None, tags=("multimodal", "rows-only"))
def q54_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline plumbing: binary payload column + metadata
    struct → Arrow-batched mapInPandas feature extraction (decode
    stubbed deterministically) → per-type rollup."""
    d = table(spark, sf_dir, "documents")
    feats = extract_features(attach_binary_payload(d))
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("payload_digest").alias("n_distinct_payloads"),
        F.round(F.sum(F.col("feat_mean").cast("decimal(18,12)")).cast("double"), 6).alias("sum_feat"),
    )


@query("q66_ann_ivf_topk", oracle=None, tags=("vector", "rows-only"))
def q66_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (coarse codebook → probe n_probe cells → exact
    rerank) for the first 5 vectors — the data-adaptive counterpart of
    the hyperplane-LSH path (q52). The codebook trains once per
    process and dataset (deterministic Lloyd result, cached collected)
    — the offline-train / online-search split of a real vector store.
    Recall vs brute force is pinned in tests/test_operators.py."""
    from ..operators.similarity import ann_ivf_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cb = _ivf_codebook(e, sf_dir)
    return ann_ivf_topk(e, q, k=5, n_cells=16, n_probe=6, codebook=cb)


@query("q73_frame_sample_resize", oracle=None, tags=("multimodal", "rows-only"))
def q73_frame_sample_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: attach binary payloads → sample frames
    (mapInPandas one-to-many) → extract per-doc dims → plan aspect-
    preserving resizes — decode stubbed, every Spark boundary real.
    Deterministic digests pin the values run-over-run (tests)."""
    from ..operators.multimodal import attach_binary_payload, extract_features, frame_sample, resize_plan

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_binary_payload(d)
    frames = frame_sample(media)
    feats = resize_plan(extract_features(media), target_w=224, target_h=224)
    return (
        frames.join(feats.select("doc_id", "width", "height", "out_w", "out_h", "is_noop"), "doc_id")
        .groupBy("doc_id", "width", "height", "out_w", "out_h")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min("frame_digest").alias("first_digest"),
        )
    )


@query(
    "q337_multimodal_feature_parity",
    oracle=f"""
    SELECT doc_id,
           'image/fake' AS media_type,
           cast(octet_length(encode(text)) as bigint) AS n_bytes,
           md5(text) AS payload_digest,
           cast({hex_int_sql("md5(text)", 1, 4)} % 1920 + 1 as int) AS width,
           cast({hex_int_sql("md5(text)", 5, 4)} % 1080 + 1 as int) AS height,
           {hex_int_sql("md5(text)", 9)} / 4294967295.0 AS feat_mean
    FROM documents
    WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)
    """,
    tags=("multimodal", "parity"),
)
def q337_multimodal_feature_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q54: the REAL multimodal path —
    binary payload attach → Arrow-batched mapInPandas decode-stub
    feature extraction (operators/multimodal.py:50) — emitted per-doc
    so the driver value-hashes every field the Python stage computes.
    The stub derives width/height/feat_mean from md5(payload), and the
    fixture payload is the utf-8 text bytes, so DuckDB recomputes the
    identical values in pure SQL (md5 + hex-substring arithmetic):
    bit-exact including the raw IEEE division for feat_mean (same
    integer operands, same constant divisor on both engines). The
    ASCII guard (octet_length = length, applied on BOTH sides) keeps
    the byte/char equivalence explicit rather than assumed. This makes
    the mapInPandas batch boundary itself driver-evidence — q54 stays
    as the rollup form over the full corpus."""
    d = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300)
        & (F.octet_length("text") == F.length("text"))
    )
    return extract_features(attach_binary_payload(d)).select(
        "doc_id", "media_type", "n_bytes", "payload_digest",
        "width", "height", "feat_mean",
    )


@query(
    "q338_frame_sample_parity",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS len,
             least(8, greatest(1, length(text) // 64)) AS n_frames
      FROM documents
      WHERE doc_id < 200 AND octet_length(encode(text)) = length(text)
    ), strided AS (
      SELECT doc_id, text, n_frames,
             CASE WHEN n_frames > 1
                  THEN greatest(1, (len - 64) // (n_frames - 1))
                  ELSE 0 END AS stride
      FROM base
    ), frames AS (
      SELECT doc_id, unnest(range(0, n_frames)) AS frame_no, stride, text
      FROM strided
    )
    SELECT doc_id,
           cast(frame_no as int) AS frame_no,
           cast(frame_no * stride as bigint) AS frame_offset,
           md5(substr(text, cast(frame_no * stride + 1 as int), 64)) AS frame_digest
    FROM frames
    """,
    tags=("multimodal", "parity"),
)
def q338_frame_sample_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified TWIN of rows-only q73: the REAL one-to-many
    mapInPandas frame sampler (operators/multimodal.py:82) emitted
    per-frame, so the driver value-hashes every offset and digest the
    Python fan-out stage produces. The sampler slices up to 8
    fixed-width 64-byte windows evenly across the payload
    (n = min(8, max(1, len//64)); stride = max(1, (len-64)//(n-1)));
    DuckDB regenerates the same windows with range() + substr and
    md5-digests them — the ASCII guard (both sides) makes byte-window
    == char-window exact. Positive operands make Python floor division
    and DuckDB's truncating // identical here."""
    from ..operators.multimodal import frame_sample

    d = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200)
        & (F.octet_length("text") == F.length("text"))
    )
    return frame_sample(attach_binary_payload(d)).select(
        "doc_id", "frame_no", "frame_offset", "frame_digest"
    )


@query("q138_ann_ivfpq_topk", oracle=None, tags=("vector", "ann", "rows-only"))
def q138_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production vector index (q66 × q105): IVF cells
    restrict which vectors are scanned, PQ codes score the survivors
    via the m-byte ADC table walk, exact cosine reranks the top-50.
    The index — (id, cell, codes), ~5 bytes/vector — is BUILT ONCE and
    materialized to parquet (``io.query_state``, the same offline/online
    split as the codebooks); every search scans the index file, never
    re-encodes the corpus. Full vectors page in only for the rerank
    join. Recall floor vs brute force is driver-checked by q139."""
    from ..operators.similarity import (
        ann_ivf_pq_topk,
        build_ivf_pq_index,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ivf_cb = _ivf_codebook(e, sf_dir)
    pq_cb = _pq_codebooks(e, sf_dir)
    idx_dir, _ = query_state(
        "q138_ann_ivfpq_topk",
        sf_dir,
        lambda d: build_ivf_pq_index(e, ivf_cb, pq_cb).write.mode("overwrite").parquet(d),
    )
    return ann_ivf_pq_topk(
        e, q, k=5, n_cells=16, n_probe=6, rerank=50,
        ivf_codebook=ivf_cb, pq_codebooks=pq_cb,
        index=spark.read.parquet(idx_dir),
    )


@query(
    "q139_ann_recall_check",
    oracle="""
    SELECT cast(5 as bigint) AS n_queries,
           true AS lsh_recall_ok,
           true AS ivf_recall_ok,
           true AS pq_recall_ok,
           true AS ivfpq_recall_ok
    """,
    tags=("vector", "ann"),
)
def q139_ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable evidence for the whole ANN family: each
    approximate index's top-5 is compared against the exact brute-force
    top-5 IN-QUERY, and the booleans assert recall above a floor the
    methods clear with margin on uniform random vectors (their
    worst-case data — no cluster structure to exploit; chance level is
    k/n ≈ 0.01). Floors: LSH ≥ 0.6, IVF ≥ 0.4, PQ ≥ 0.3, composed
    IVF-PQ ≥ 0.2 (approximations compose multiplicatively). A broken
    signature fold, cell assignment, or ADC walk lands near chance and
    flips its flag."""
    from ..operators.similarity import (
        ann_ivf_pq_topk,
        ann_ivf_topk,
        ann_pq_topk,
        knn_bruteforce,
    )

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ivf_cb = _ivf_codebook(e, sf_dir)
    pq_cb = _pq_codebooks(e, sf_dir)

    exact = knn_bruteforce(e, q, k=5).select("query_id", "neighbor_id")
    methods = {
        "lsh": (ann_lsh_topk(e, q, k=5), 0.6),
        "ivf": (ann_ivf_topk(e, q, k=5, n_cells=16, n_probe=6, codebook=ivf_cb), 0.4),
        "pq": (ann_pq_topk(e, q, k=5, rerank=50, codebooks=pq_cb), 0.3),
        "ivfpq": (
            ann_ivf_pq_topk(e, q, k=5, n_cells=16, n_probe=6, rerank=50,
                            ivf_codebook=ivf_cb, pq_codebooks=pq_cb),
            0.2,
        ),
    }
    out = exact.groupBy().agg(
        F.countDistinct("query_id").alias("n_queries")
    )
    for name, (df, floor) in methods.items():
        hits = (
            exact.join(
                df.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
                ["query_id", "neighbor_id"],
                "left",
            )
            .agg(
                (
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    >= F.lit(floor) * F.count(F.lit(1))
                ).alias(f"{name}_recall_ok")
            )
        )
        out = out.crossJoin(F.broadcast(hits))
    return out.select(
        "n_queries", "lsh_recall_ok", "ivf_recall_ok", "pq_recall_ok", "ivfpq_recall_ok"
    )


@query(
    "q134_semantic_dedup_pipeline",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_docs,
           true AS canonical_ok,
           true AS no_leakage,
           true AS splits_ok
    FROM embeddings
    """,
    tags=("vector", "dedup", "pipeline"),
)
def q134_semantic_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end semantic-dedup pipeline as ONE query:
    embeddings → IVF-cell candidate blocking (top-2 probe cells, shared
    codebook with q66) → exact cosine verify on candidates only →
    connected components → canonical pick → leakage-safe cluster-hash
    split (operators/semantic_dedup.py). Output is the self-verifying
    invariant row the driver can hash-check:

    * ``n_docs`` — every input doc got exactly one assignment row
      (value-checked against the table count);
    * ``canonical_ok`` — every duplicate cluster keeps EXACTLY one
      canonical member;
    * ``no_leakage`` — no verified near-dup edge crosses the
      train/test boundary (the property the cluster-keyed split
      exists for);
    * ``splits_ok`` — every doc landed in exactly 'train' or 'test'.

    The booleans are computed from the pipeline's actual output — a
    regression in any stage (candidate gen, CC, canonical pick, split
    hashing) flips one of them. Cluster contents themselves are
    candidate-recall-dependent (approximate by design, SemDeDup-style),
    so they are pinned by the planted-near-dup e2e test
    (tests/test_semantic_dedup.py), not the oracle."""
    from ..operators.semantic_dedup import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    # dedup wants cells sized ~32 vectors (within-cell pair count is
    # what the blocking exists to bound: halving cell size quarters the
    # per-cell pair work), so the cell count scales with the corpus
    # instead of reusing q66's fixed search-tuned 16. Trained once per
    # (dataset, cell count) — the offline-train / online-run split.
    n_cells = max(16, min(4096, e.count() // 32))
    cb = _ivf_codebook(e, sf_dir, n_cells)
    # 0.45 puts the fixture's random vectors in the sparse-edge regime
    # real near-dup thresholds produce (small clusters, shallow CC) —
    # 0.35 sits near the random-graph percolation point and grows one
    # giant artificial component with a ~15-round diameter, a topology
    # no semantic-dedup threshold generates on purpose
    assign, edges = semantic_dedup(e, cb, threshold=0.45, n_probe=2)

    per_comp = assign.groupBy("component").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep")
    )
    canonical_ok = per_comp.agg(
        (F.min((F.col("n_keep") == 1).cast("int")) == 1).alias("canonical_ok")
    )
    splits = assign.select(F.col("vec_id"), "split")
    leak = (
        edges.join(splits.withColumnRenamed("vec_id", "id_a"), "id_a")
        .withColumnRenamed("split", "split_a")
        .join(splits.withColumnRenamed("vec_id", "id_b"), "id_b")
        .withColumnRenamed("split", "split_b")
        .agg(
            F.coalesce(
                F.min((F.col("split_a") == F.col("split_b")).cast("int")) == 1,
                F.lit(True),  # zero verified edges → vacuously leak-free
            ).alias("no_leakage")
        )
    )
    totals = assign.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.min(F.col("split").isin("train", "test").cast("int")) == 1
        ).alias("splits_ok"),
    )
    return (
        totals.crossJoin(F.broadcast(canonical_ok))
        .crossJoin(F.broadcast(leak))
        .select("n_docs", "canonical_ok", "no_leakage", "splits_ok")
    )


@query("q105_ann_pq_topk", oracle=None, tags=("vector", "rows-only"))
def q105_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (q66's IVF complement): the corpus
    scans as m=8 small codes per vector (32× compression), each query
    ships a dot-product lookup table, and the ADC top-50 candidates
    are exact-cosine reranked to top-5. Codebooks train once per
    process and dataset (deterministic per-subspace Lloyd). Recall and
    determinism are pinned in tests/test_operators.py."""
    from ..operators.similarity import ann_pq_topk

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cb = _pq_codebooks(e, sf_dir)
    return ann_pq_topk(e, q, k=5, m=8, n_codes=16, rerank=50, codebooks=cb)


@query(
    "q163_kmeans_clusters",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_points,
           8 AS k, 4 AS iters,
           true AS inertia_nonincreasing,
           true AS sizes_sum_ok,
           true AS assignment_is_argmin
    FROM embeddings
    """,
    tags=("vector", "llm"),
)
def q163_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (k=8, 4 iterations) —
    topic clustering / SemDeDup-style cluster pruning. Self-verifying
    invariant row in q134's style: (a) the Lloyd guarantee — inertia
    measured at each assignment step never increases; (b) final
    cluster sizes sum to the corpus size; (c) on a deterministic
    200-point audit sample, the production assignment (numpy kernel
    inside the Arrow batch, operators/similarity.py) agrees with an
    INDEPENDENT flat-SQL argmin over the same final centroids — two
    formulations, two runtimes, same answer. n_points is value-checked
    by the oracle; a broken update step, a dropped partition, or a
    wrong argmin flips a boolean."""
    import numpy as np

    from ..operators.similarity import argmin_sqdist_sql, kmeans_euclidean

    emb = table(spark, sf_dir, "embeddings")
    cents, history = kmeans_euclidean(emb, k=8, iters=4)
    noninc = all(b <= a * (1 + 1e-12) for a, b in zip(history, history[1:]))

    C = np.asarray(cents, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.float64)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    assigned = emb.select("vec_id", "embedding", assign("embedding").alias("cell"))
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    totals = sizes.agg(
        F.sum("n").alias("__size_sum"), F.count(F.lit(1)).alias("__n_cells")
    )
    # independent recheck: flat codegen'd argmin expression on a
    # deterministic hash sample — cheap (200 rows) and a genuinely
    # different code path from the Arrow kernel. Sample the NARROW id
    # column first (TakeOrderedAndProject — ordering fat embedding
    # arrays through a range exchange, or running the Arrow kernel
    # corpus-wide just to feed a limit, both cost a full heavy pass),
    # then broadcast the 200 ids back onto the scan and apply both
    # formulations to the joined 200 rows only
    sample_ids = emb.select("vec_id").orderBy(F.xxhash64("vec_id")).limit(200)
    audit = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(sample_ids), "vec_id")
        .withColumn("cell", assign("embedding"))
        .withColumn("cell2", F.expr(argmin_sqdist_sql("embedding", cents)))
    )
    argmin_ok = audit.agg(F.min(F.col("cell") == F.col("cell2")).alias("__argmin_ok"))
    n_points = emb.agg(F.count(F.lit(1)).alias("n_points"))
    return (
        n_points.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(argmin_ok))
        .select(
            "n_points",
            F.lit(8).alias("k"),
            F.lit(4).alias("iters"),
            F.lit(bool(noninc)).alias("inertia_nonincreasing"),
            (F.col("__size_sum") == F.col("n_points")).alias("sizes_sum_ok"),
            F.col("__argmin_ok").alias("assignment_is_argmin"),
        )
    )


@query(
    "q174_int8_quantization",
    oracle="""
    WITH x AS (
      SELECT cast(unnest(embedding) as double) AS x,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    ), stats AS (
      SELECT pos, min(x) AS dim_min, max(x) AS dim_max,
             (max(x) - min(x)) / 255.0 AS scale
      FROM x GROUP BY pos
    ), q AS (
      SELECT x.pos, s.dim_min, s.dim_max, s.scale,
             CASE WHEN s.scale > 0
                  THEN abs(x.x - (s.dim_min + round((x.x - s.dim_min) / s.scale) * s.scale))
                  ELSE 0.0 END AS abs_err,
             CASE WHEN s.scale > 0
                  THEN round((x.x - s.dim_min) / s.scale)
                  ELSE 0.0 END AS code
      FROM x JOIN stats s ON x.pos = s.pos
    )
    SELECT pos, dim_min, dim_max,
           cast(count(*) as bigint) AS n,
           max(abs_err) AS max_abs_err,
           cast(min(CASE WHEN abs_err <= scale * 0.5000001 THEN 1 ELSE 0 END) = 1
                as boolean) AS within_half_step,
           cast(min(CASE WHEN code >= 0 AND code <= 255 THEN 1 ELSE 0 END) = 1
                as boolean) AS codes_in_range
    FROM q GROUP BY pos, dim_min, dim_max
    """,
    tags=("vector", "llm", "compression"),
)
def q174_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar INT8 quantization of the embedding corpus — the 4x
    storage/bandwidth reduction every large vector store applies before
    ANN (PQ's 32x cousin, q105/q138, trades more error): per-DIMENSION
    min/max train the affine code (code = round((x-min)/scale),
    scale = range/255), and the query verifies the scheme's exact
    guarantees per dimension — reconstruction error never exceeds half
    a step, codes stay in [0, 255] — alongside the value-checked
    min/max/error stats. Two aggregations over the posexploded corpus
    (train stats, then verify vs the broadcast 64-row stats table);
    everything is closed-form IEEE arithmetic on identical operands,
    so DuckDB reproduces the floats bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    stats = x.groupBy("pos").agg(
        F.min("x").alias("dim_min"),
        F.max("x").alias("dim_max"),
        ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("scale"),
    )
    code = F.when(
        F.col("scale") > 0, F.round((F.col("x") - F.col("dim_min")) / F.col("scale"))
    ).otherwise(F.lit(0.0))
    dq = F.col("dim_min") + code * F.col("scale")
    abs_err = F.when(F.col("scale") > 0, F.abs(F.col("x") - dq)).otherwise(F.lit(0.0))
    q = x.join(F.broadcast(stats), "pos").select(
        "pos", "dim_min", "dim_max", "scale", abs_err.alias("abs_err"), code.alias("code")
    )
    return q.groupBy("pos", "dim_min", "dim_max").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("abs_err").alias("max_abs_err"),
        (
            F.min(
                F.when(F.col("abs_err") <= F.col("scale") * 0.5000001, 1).otherwise(0)
            )
            == 1
        ).alias("within_half_step"),
        (
            F.min(
                F.when((F.col("code") >= 0) & (F.col("code") <= 255), 1).otherwise(0)
            )
            == 1
        ).alias("codes_in_range"),
    )


@query(
    "q187_jl_random_projection",
    oracle="""
    SELECT (SELECT count(*) FROM embeddings) AS n_vectors, 32 AS k,
           true AS mean_ratio_ok, true AS norm_frac_ok
    """,
    tags=("vector", "projection", "scale"),
)
def q187_jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→32 dims — the
    dimensionality-reduction front end for billion-vector similarity
    search (half the bytes per vector before ANN indexing). The
    projection matrix is a seeded ±1/√k sign matrix (Achlioptas
    database-friendly construction) generated identically on every
    executor from the fixed seed, applied as ONE numpy matmul per
    Arrow batch inside mapInPandas — a narrow map, no shuffle, no
    driver traffic. The JL guarantee is verified IN-QUERY: squared-norm
    ratios proj²/orig² must average ≈1 (|mean−1| < 0.05; measured
    +0.010 at sf0.001) and stay within ±0.5 for >85 % of vectors
    (measured 95.2 %, matching the √(2/k)=0.25 per-vector std the
    lemma predicts) — the oracle checks the booleans plus the exact
    vector count."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    K = 32
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("orig_sq", DoubleType()),
            StructField("proj_sq", DoubleType()),
        ]
    )

    def project(batches):
        # regenerated per worker from the fixed seed: 64×32 doubles —
        # cheaper to rebuild than to broadcast, and provably identical
        signs = np.where(
            np.random.default_rng(42).random((64, K)) < 0.5, -1.0, 1.0
        ) / np.sqrt(K)
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy())
            P = X @ signs
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "orig_sq": (X * X).sum(axis=1),
                    "proj_sq": (P * P).sum(axis=1),
                }
            )

    pr = table(spark, sf_dir, "embeddings").mapInPandas(project, schema=out_schema)
    ratio = pr.select((F.col("proj_sq") / F.col("orig_sq")).alias("r"))
    return ratio.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.avg("r").alias("mean_r"),
        F.avg((F.abs(F.col("r") - 1) < 0.5).cast("int")).alias("frac_in"),
    ).select(
        "n_vectors",
        F.lit(32).alias("k"),
        (F.abs(F.col("mean_r") - 1) < 0.05).alias("mean_ratio_ok"),
        (F.col("frac_in") > 0.85).alias("norm_frac_ok"),
    )


@query(
    "q199_distributed_pca",
    oracle="""
    SELECT (SELECT count(*) FROM embeddings) AS n_vectors, 8 AS k,
           true AS evr_consistent, true AS above_isotropic, true AS reduces_error
    """,
    tags=("vector", "projection", "scale"),
)
def q199_distributed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA — the data-ADAPTIVE dimensionality reduction
    complementing q187's data-oblivious JL projection. Pass 1 computes
    exact covariance sufficient statistics per partition (count, sum
    vector, D×D gram matrix) via mapInPandas numpy — each partition
    emits ONE row of D+D² doubles regardless of row count, so the
    collect is partition-count-sized (the IVF-codebook protocol), and
    the 64×64 eigendecomposition is a driver no-op. Pass 2 verifies
    the model ON-CLUSTER: the rank-k reconstruction residual fraction
    must equal 1 − explained-variance-ratio to 1e-3 (the Eckart-Young
    identity — wrong eigenvectors or a wrong mean break it), and the
    explained ratio must exceed k/D (guaranteed above-isotropic: the
    top-k eigenvalues of any covariance sum to ≥ k/D of the trace).
    Two narrow passes, zero shuffles beyond the one-row aggregates."""
    import numpy as np
    import pandas as pd

    D, K = 64, 8
    emb = table(spark, sf_dir, "embeddings")

    def partial_stats(batches):
        n = 0
        s = np.zeros(D)
        g = np.zeros((D, D))
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s += X.sum(axis=0)
            g += X.T @ X
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]})

    rows = (
        emb.select("embedding")
        .mapInPandas(partial_stats, "n bigint, s array<double>, g array<double>")
        .collect()
    )
    n_tot = sum(r.n for r in rows)
    s_tot = np.sum([np.array(r.s) for r in rows], axis=0)
    g_tot = np.sum([np.array(r.g).reshape(D, D) for r in rows], axis=0)
    mu = s_tot / n_tot
    cov = g_tot / n_tot - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    W_mat = evecs[:, ::-1][:, :K]
    explained = float(evals[::-1][:K].sum()) / float(np.trace(cov))

    def recon_err(batches):
        sse_p, sse_t, n = 0.0, 0.0, 0
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) - mu
            P = (X @ W_mat) @ W_mat.T
            sse_p += float(((X - P) ** 2).sum())
            sse_t += float((X**2).sum())
            n += X.shape[0]
        yield pd.DataFrame({"n": [n], "sse_resid": [sse_p], "sse_tot": [sse_t]})

    rc = emb.select("embedding").mapInPandas(
        recon_err, "n bigint, sse_resid double, sse_tot double"
    )
    return rc.agg(
        F.sum("n").alias("n_vectors"),
        F.sum("sse_resid").alias("resid"),
        F.sum("sse_tot").alias("tot"),
    ).select(
        "n_vectors",
        F.lit(K).alias("k"),
        (F.abs(F.col("resid") / F.col("tot") - F.lit(1.0 - explained)) < 0.001).alias(
            "evr_consistent"
        ),
        F.lit(explained >= K / D).alias("above_isotropic"),
        (F.col("resid") / F.col("tot") < 1.0).alias("reduces_error"),
    )


@query(
    "q207_logistic_regression_gd",
    oracle="""
    SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           true AS loss_improved, true AS below_zero_model, true AS beats_base_rate
    """,
    tags=("ml", "iterative", "scale"),
)
def q207_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC REGRESSION by full-batch gradient descent —
    the iterative-optimization template: 8 rounds, each ONE narrow
    mapInPandas pass emitting a per-partition (n, loss, gradient)
    partial (one row of D+2 doubles per partition regardless of row
    count — the q199/IVF sufficient-statistics protocol), merged on
    the driver, weights re-broadcast through the next pass's closure.
    Predicts high-value conversion (purchase ≥ 100) from log1p
    engagement counts; the feature frame is localCheckpoint-pinned so
    iterations don't recompute the aggregation. Verified in-query:
    training loss improves over the zero-init and ends below the
    zero-model ln 2, and held-in accuracy is at least the base rate.
    (Fixed LR=0.5 full-batch — monotonicity per step is NOT claimed;
    the convergence bounds above are step-size-robust.)"""
    import numpy as np
    import pandas as pd

    D, LR, ITERS = 4, 0.5, 8
    feats = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.log1p(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            ).alias("x1"),
            F.log1p(
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ).alias("x2"),
            F.log1p(
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            ).alias("x3"),
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") >= 100), 1)
                .otherwise(0)
            )
            .cast("double")
            .alias("y"),
        )
        .localCheckpoint()
    )

    def grad_pass(wv):
        def run(batches):
            g = np.zeros(D)
            loss, n = 0.0, 0
            for pdf in batches:
                X = np.column_stack(
                    [np.ones(len(pdf)), pdf["x1"], pdf["x2"], pdf["x3"]]
                )
                y = pdf["y"].to_numpy()
                p = 1.0 / (1.0 + np.exp(-(X @ wv)))
                eps = 1e-12
                loss += float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum())
                g += X.T @ (p - y)
                n += len(pdf)
            yield pd.DataFrame({"n": [n], "loss": [loss], "g": [g.tolist()]})

        return run

    w = np.zeros(D)
    losses = []
    for _ in range(ITERS):
        rows = feats.mapInPandas(
            grad_pass(w.copy()), "n bigint, loss double, g array<double>"
        ).collect()
        n_tot = sum(r.n for r in rows)
        losses.append(sum(r.loss for r in rows) / n_tot)
        w = w - LR * np.sum([np.array(r.g) for r in rows], axis=0) / n_tot

    wf = w.copy()

    def eval_pass(batches):
        n, correct, pos = 0, 0, 0
        for pdf in batches:
            X = np.column_stack([np.ones(len(pdf)), pdf["x1"], pdf["x2"], pdf["x3"]])
            y = pdf["y"].to_numpy()
            p = 1.0 / (1.0 + np.exp(-(X @ wf)))
            correct += int(((p >= 0.5) == (y == 1)).sum())
            pos += int(y.sum())
            n += len(pdf)
        yield pd.DataFrame({"n": [n], "correct": [correct], "pos": [pos]})

    ev = feats.mapInPandas(eval_pass, "n bigint, correct bigint, pos bigint").collect()
    n_tot = sum(r.n for r in ev)
    acc = sum(r.correct for r in ev) / n_tot
    base = max(sum(r.pos for r in ev) / n_tot, 1 - sum(r.pos for r in ev) / n_tot)
    return spark.range(1).select(
        F.lit(n_tot).alias("n_users"),
        F.lit(bool(losses[-1] < losses[0])).alias("loss_improved"),
        F.lit(bool(losses[-1] < float(np.log(2)))).alias("below_zero_model"),
        F.lit(bool(acc >= base - 1e-9)).alias("beats_base_rate"),
    )


@query(
    "q220_binary_hamming_ann",
    oracle="""
    WITH codes AS (
      SELECT vec_id,
             list_reduce(list_transform(range(31, -1, -1),
               i -> CASE WHEN embedding[i + 1] > 0 THEN 1::BIGINT ELSE 0::BIGINT END),
               (a, b) -> a * 2 + b) AS c_lo,
             list_reduce(list_transform(range(63, 31, -1),
               i -> CASE WHEN embedding[i + 1] > 0 THEN 1::BIGINT ELSE 0::BIGINT END),
               (a, b) -> a * 2 + b) AS c_hi
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, c_lo AS q_lo, c_hi AS q_hi FROM codes WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, c.vec_id,
             bit_count(xor(c.c_lo, q.q_lo)) + bit_count(xor(c.c_hi, q.q_hi)) AS hamming,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY bit_count(xor(c.c_lo, q.q_lo)) + bit_count(xor(c.c_hi, q.q_hi)), c.vec_id) AS rk
      FROM codes c CROSS JOIN q WHERE c.vec_id != q.q_id
    )
    SELECT q_id, cast(rk as int) AS rk, vec_id, cast(hamming as int) AS hamming
    FROM scored WHERE rk <= 10
    """,
    tags=("vector", "quantization", "scale"),
)
def q220_binary_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY quantization + Hamming top-k — the most aggressive
    vector compression tier after int8 (q174) and PQ (q105): each
    64-dim float vector becomes 64 SIGN BITS packed into two bigint
    words (an exact integer fold — acc·2 + bit — identical in both
    engines, 32 bits per word so no signed overflow anywhere), and
    similarity is Hamming distance = popcount(xor), pure codegen'd
    integer ops at 32x fewer bytes than float32. The top-10 per query
    with full (distance, id) tiebreak hash-matches the oracle. At
    scale the packed codes are the in-memory filter tier: scan
    billions of codes cheaply, rerank survivors in float (the
    q138/q139 protocol)."""
    from pyspark.sql.window import Window as W

    emb = table(spark, sf_dir, "embeddings")

    def _pack(lo: int, hi: int):
        # fold high->low: acc*2 + signbit; 32 bits per word keeps the
        # value positive in both engines (a 64-bit shift would wrap
        # differently under DuckDB's checked arithmetic)
        return F.aggregate(
            F.sequence(F.lit(hi), F.lit(lo), F.lit(-1)),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc * 2
            + F.when(F.element_at("embedding", i + 1) > 0, 1)
            .otherwise(0)
            .cast("bigint"),
        )

    codes = emb.select(
        "vec_id", _pack(0, 31).alias("c_lo"), _pack(32, 63).alias("c_hi")
    )
    q = codes.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("c_lo").alias("q_lo"),
        F.col("c_hi").alias("q_hi"),
    )
    return (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.bit_count(F.col("c_lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("c_hi").bitwiseXOR(F.col("q_hi")))
            ).alias("hamming"),
        )
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("q_id").orderBy("hamming", "vec_id")),
        )
        .filter(F.col("rk") <= 10)
        .select("q_id", "rk", "vec_id", "hamming")
    )


@query(
    "q221_quantile_normalize",
    oracle="""
    WITH dims AS (
      SELECT vec_id, i - 1 AS dim, embedding[i] AS x
      FROM embeddings, unnest(range(1, 5)) AS t(i)
    ), ranked AS (
      SELECT vec_id, dim,
             percent_rank() OVER (PARTITION BY dim ORDER BY x, vec_id) AS p
      FROM dims
    )
    SELECT vec_id, cast(dim as int) AS dim, round(p, 6) AS pnorm
    FROM ranked WHERE vec_id < 20
    """,
    tags=("vector", "preprocessing"),
)
def q221_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension QUANTILE NORMALIZATION (rank-to-uniform feature
    remap, the distribution-robust alternative to z-scoring): each
    dimension's values are replaced by their percent-rank within that
    dimension — outliers land at 1.0 instead of dragging the scale.
    posexplode turns the array into (dim, value) rows, the rank
    window partitions BY DIMENSION (64 independent parallel sorts —
    the corpus is never globally sorted), and the (value, vec_id)
    order is total so ranks are deterministic. First-4-dims /
    first-20-vectors projection keeps the verified output bounded;
    the plan is identical for all 64."""
    from pyspark.sql.window import Window as W

    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 4)).alias("dim", "x")
    )
    wq = W.partitionBy("dim").orderBy("x", "vec_id")
    return (
        dims.withColumn("p", F.percent_rank().over(wq))
        .filter(F.col("vec_id") < 20)
        .select("vec_id", "dim", F.round("p", 6).alias("pnorm"))
    )


def _hp_proj_duck(i: int) -> str:
    """Sequential left-fold projection onto deterministic ±1 hyperplane
    ``i`` — identical fold order to the Spark expression, so the double
    (and therefore the sign) is bit-identical."""
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"d -> embedding[d]::DOUBLE * (CASE WHEN (d * {i + 3}) % 7 < 3 "
        f"THEN 1.0 ELSE -1.0 END)), (a, b) -> a + b)"
    )


@query(
    "q261_hyperplane_balanced_sample",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id,
             ((CASE WHEN {_hp_proj_duck(0)} > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN {_hp_proj_duck(1)} > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN {_hp_proj_duck(2)} > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN {_hp_proj_duck(3)} > 0 THEN 8 ELSE 0 END)) AS bucket
      FROM embeddings
    ), ranked AS (
      SELECT bucket, vec_id,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY md5(cast(vec_id as varchar)), vec_id) AS rk,
             count(*) OVER (PARTITION BY bucket) AS n_in_bucket
      FROM proj
    )
    SELECT cast(bucket as bigint) AS bucket, vec_id,
           cast(rk as bigint) AS rk,
           cast(n_in_bucket as bigint) AS n_in_bucket
    FROM ranked WHERE rk <= 8
    """,
    tags=("vector", "sampling", "dedup"),
)
def q261_hyperplane_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY-BALANCED embedding sampling — the cheap SemDeDup
    alternative when you want coverage, not dedup: 4 deterministic ±1
    hyperplanes bucket the space into 16 sign cells (the q52 LSH shape
    with a closed-form hyperplane so BOTH engines can compute it), and
    a per-cell hash-ordered quota (q245's reservoir) takes 8 vectors
    per cell — dense regions are capped, sparse regions are kept
    whole. The projection is a sequential left fold in both engines
    (bit-identical doubles, so borderline signs can't diverge). One
    narrow projection pass + one per-cell window; at corpus scale the
    cells shard the shuffle."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "embeddings")

    def proj(i: int):
        return F.expr(
            f"aggregate(sequence(1, 64), cast(0.0 as double), "
            f"(acc, d) -> acc + cast(element_at(embedding, d) as double) "
            f"* (CASE WHEN (d * {i + 3}) % 7 < 3 THEN 1.0 ELSE -1.0 END))"
        )

    bucket = (
        F.when(proj(0) > 0, 1).otherwise(0)
        + F.when(proj(1) > 0, 2).otherwise(0)
        + F.when(proj(2) > 0, 4).otherwise(0)
        + F.when(proj(3) > 0, 8).otherwise(0)
    )
    p = e.select("vec_id", bucket.cast("bigint").alias("bucket"))
    w = W.partitionBy("bucket").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    ranked = p.select(
        "bucket",
        "vec_id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("bucket")).cast("bigint").alias("n_in_bucket"),
    )
    return ranked.filter(F.col("rk") <= 8)


@query(
    "q271_retrieval_metrics",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 20
    ), scored AS (
      SELECT b.vec_id AS query_id, b.label AS q_label,
             a.vec_id AS neighbor_id, a.label AS n_label,
             {cosine_sql('b.embedding', 'a.embedding')} AS cos_raw
      FROM embeddings a CROSS JOIN q b
      WHERE a.vec_id != b.vec_id
    ), ranked AS (
      SELECT query_id, q_label, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id,
           cast(sum(CASE WHEN rank <= 5 AND n_label = q_label THEN 1 ELSE 0 END)
                as bigint) AS n_rel_at5,
           cast(min(CASE WHEN n_label = q_label THEN rank END) as bigint)
             AS first_rel_rank
    FROM ranked WHERE rank <= 20
    GROUP BY query_id
    """,
    tags=("vector", "eval"),
)
def q271_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL EVALUATION as a first-class query — the harness every
    ANN index (q52/q66/q105/q138/q220) is ultimately judged by, run
    over the exact ranking so the metrics themselves are deterministic:
    per query (vec_id < 20), precision@5 numerator and the rank of the
    first same-LABEL neighbor (MRR's input) within the top-20 under
    the exact (cosine, id) total order. Per-query INTEGER outputs —
    the macro averages involve /5 and /rank fractions whose float
    summation order would be engine-dependent, so the aggregation
    stays with the reader and every emitted value is exact. Broadcast
    query side, one pass over the corpus (q49's physical shape)."""
    from pyspark.sql.window import Window as W

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            F.col("label").alias("n_label"),
            F.col("vec_id").alias("neighbor_id"),
            cosine("q_emb", "embedding").alias("cos_raw"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "neighbor_id")
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 20
    )
    rel = F.col("n_label") == F.col("q_label")
    return ranked.groupBy("query_id").agg(
        F.sum(F.when((F.col("rank") <= 5) & rel, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel_at5"),
        F.min(F.when(rel, F.col("rank"))).cast("bigint").alias("first_rel_rank"),
    )


@query(
    "q276_embedding_drift",
    oracle="""
    WITH halves AS (
      SELECT CASE WHEN vec_id < 250 THEN 'a' ELSE 'b' END AS half,
             unnest(list_transform(range(1, 65),
               d -> struct_pack(dim := d,
                                v := cast(round(embedding[d] * 1000000) as bigint)))) AS e
      FROM embeddings
    ), per_dim AS (
      SELECT half, e.dim AS dim, sum(e.v) AS s, count(*) AS n
      FROM halves GROUP BY half, e.dim
    ), vecs AS (
      SELECT half,
             list(s / cast(n as double) ORDER BY dim) AS m,
             any_value(n) AS n
      FROM per_dim GROUP BY half
    ), pair AS (
      SELECT a.m AS ma, b.m AS mb, a.n AS n_a, b.n AS n_b
      FROM vecs a JOIN vecs b ON a.half = 'a' AND b.half = 'b'
    )
    SELECT cast(n_a as bigint) AS n_a, cast(n_b as bigint) AS n_b,
           round(
             list_reduce(list_transform(range(1, 65), d -> ma[d] * mb[d]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65), d -> ma[d] * ma[d]), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65), d -> mb[d] * mb[d]), (x, y) -> x + y))),
             6) AS mean_cosine
    FROM pair
    """,
    tags=("vector", "monitoring"),
)
def q276_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-DISTRIBUTION drift — q247 monitors the categorical
    source mix; this monitors the VECTOR space (a model swap or
    preprocessing change moves the embedding centroid even when the
    source mix is stable): per-dimension means of two corpus halves
    from EXACT scaled-integer sums (×10⁶, the only order-sensitive
    step made order-free), then the cosine between the two mean
    vectors via dimension-ORDERED sequential folds — bit-identical in
    both engines. A cosine well below 1.0 is the alarm. One explode +
    one (half, dim)-keyed aggregation (128 output rows), then
    driver-scale arithmetic."""
    e = table(spark, sf_dir, "embeddings")
    half = F.when(F.col("vec_id") < 250, "a").otherwise("b")
    exploded = e.select(
        half.alias("half"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "half",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("v"),
    )
    per_dim = exploded.groupBy("half", "dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    vecs = per_dim.groupBy("half").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", (F.col("s") / F.col("n").cast("double")).alias("mv")))
            ),
            lambda st: st["mv"],
        ).alias("m"),
        F.any_value("n").alias("n"),
    )
    a = vecs.filter(F.col("half") == "a").select(
        F.col("m").alias("ma"), F.col("n").alias("n_a")
    )
    b = vecs.filter(F.col("half") == "b").select(
        F.col("m").alias("mb"), F.col("n").alias("n_b")
    )
    pair = a.join(b, F.lit(True))

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(sequence(1, 64), d -> {expr}), "
            f"cast(0.0 as double), (x, y) -> x + y)"
        )

    dot = fold("element_at(ma, d) * element_at(mb, d)")
    na = fold("element_at(ma, d) * element_at(ma, d)")
    nb = fold("element_at(mb, d) * element_at(mb, d)")
    return pair.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(dot / (F.sqrt(na) * F.sqrt(nb)), 6).alias("mean_cosine"),
    )


@query(
    "q331_knn_classifier_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 25 = 0
    ), corpus AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 25 != 0
    ), scored AS (
      SELECT b.vec_id AS query_id, b.label AS true_label, a.label AS n_label,
             row_number() OVER (
               PARTITION BY b.vec_id
               ORDER BY {cosine_sql('b.embedding', 'a.embedding')} DESC, a.vec_id
             ) AS rank
      FROM corpus a CROSS JOIN q b
    ), votes AS (
      SELECT query_id, true_label, n_label, count(*) AS v
      FROM scored WHERE rank <= 5
      GROUP BY query_id, true_label, n_label
    ), pred AS (
      SELECT query_id, true_label,
             -- scalar vote key: labels live in [0,10), so
             -- n_label - v*1000 orders by (votes DESC, label ASC)
             arg_min(n_label, n_label - v * 1000) AS predicted
      FROM votes GROUP BY query_id, true_label
    )
    SELECT true_label,
           cast(count(*) as bigint) AS n_queries,
           cast(count(*) FILTER (WHERE predicted = true_label) as bigint) AS n_correct,
           cast(count(*) FILTER (WHERE predicted = true_label) * 1000000 // count(*)
                as bigint) AS accuracy_ppm
    FROM pred GROUP BY true_label ORDER BY true_label
    """,
    tags=("vector", "ml-eval"),
)
def q331_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFIER EVALUATION over the embedding space — the
    leave-out accuracy readout that turns the similarity stack into a
    measured classifier: a held-out query slice is scored against the
    rest (exact cosine, the engines' bit-identical sequential fold),
    top-5 neighbors vote, majority label with a deterministic
    (votes desc, label) tiebreak, per-class accuracy in exact integer
    ppm. The same broadcast-small-query-side shape as q49 — |Q|·|C|
    scoring parallelizes over the corpus; votes and accuracy are
    query-sized. Complements q271 (retrieval metrics) with the
    CLASSIFICATION quality lens the `label` column exists for."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    corpus = e.filter(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("nv"),
        F.col("label").alias("n_label"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(
        cosine("qv", "nv").desc(), F.col("n_id").asc()
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    votes = scored.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    pred = votes.groupBy("query_id", "true_label").agg(
        F.min_by("n_label", F.col("n_label") - F.col("v") * 1000).alias("predicted")
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.count_if(F.col("predicted") == F.col("true_label"))
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "cast(count_if(predicted = true_label) * 1000000 div count(*) as bigint)"
            ).alias("accuracy_ppm"),
        )
        .orderBy("true_label")
    )


@query(
    "q368_mutual_information_features",
    oracle="""
    WITH pts AS (
      SELECT cast(i - 1 as int) AS dim,
             (embedding[cast(i as int)] >= 0) AS bit,
             label
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ), cells AS (
      SELECT dim, label, bit, cast(count(*) as bigint) AS n
      FROM pts GROUP BY dim, label, bit
    ), ml AS (
      SELECT dim, label, cast(sum(n) as bigint) AS nl FROM cells
      GROUP BY dim, label
    ), mb AS (
      SELECT dim, bit, cast(sum(n) as bigint) AS nb FROM cells
      GROUP BY dim, bit
    ), nn AS (
      SELECT cast(count(*) as bigint) AS total FROM embeddings
    ), terms AS (
      SELECT c.dim,
             (cast(c.n as double) / total)
               * ln(cast(c.n as double) * total
                    / (cast(ml.nl as double) * mb.nb)) AS t
      FROM cells c
      JOIN ml ON c.dim = ml.dim AND c.label = ml.label
      JOIN mb ON c.dim = mb.dim AND c.bit = mb.bit
      CROSS JOIN nn
    )
    SELECT dim,
           cast(count(*) as bigint) AS n_cells,
           round(list_reduce(list_sort(list(t)), (x, y) -> x + y), 6)
             AS mi_nats
    FROM terms GROUP BY dim
    """,
    tags=("vector", "ml-prep", "stats"),
)
def q368_mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-INFORMATION feature relevance — the feature-selection
    pass of an ML-prep pipeline: I(label; sign(dim)) for every
    embedding dimension, i.e. how much one bit of each coordinate says
    about the class label (the quantized filter that ranks dimensions
    before training or pruning; the supervised complement to
    unsupervised PCA q199 and to token-token PMI q268). One posexplode
    pass fans the corpus to (dim, sign-bit, label) and the joint table
    collapses to ≤ dims×labels×2 EXACT integer cells; marginals and
    the grand total are re-aggregations of those cells; each MI term
    is a fixed-order IEEE expression over exact counts (ln on both
    engines — the q278/q351 protocol) and the per-dim sum folds in
    sorted order, so the result value-hashes. Scale: the corpus is
    touched ONCE (narrow explode + map-side-combined count); everything
    downstream is bounded by the cell table, not the data."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("dim", "label", (F.col("v") >= 0).alias("bit"))
    cells = pts.groupBy("dim", "label", "bit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ml = cells.groupBy("dim", "label").agg(
        F.sum("n").cast("bigint").alias("nl")
    )
    mb = cells.groupBy("dim", "bit").agg(F.sum("n").cast("bigint").alias("nb"))
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    terms = (
        cells.join(ml, ["dim", "label"])
        .join(mb, ["dim", "bit"])
        .join(F.broadcast(nn), F.lit(True))
        .select(
            "dim",
            (
                (F.col("n").cast("double") / F.col("total"))
                * F.log(
                    F.col("n").cast("double")
                    * F.col("total")
                    / (F.col("nl").cast("double") * F.col("nb"))
                )
            ).alias("t"),
        )
    )
    return terms.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("t")), F.lit(0.0), lambda a, b: a + b
            ),
            6,
        ).alias("mi_nats"),
    )


def _mmr_sel_ctes() -> tuple[str, str]:
    """The reusable tail of the unrolled greedy-MMR oracle (the q349
    fixed-iteration protocol): given preceding CTEs that define
    ``cand`` (vec_id, rel — the candidate list, vectors resolvable in
    ``embeddings``), returns (ctes, sel_union) where ``ctes`` appends
    the pairwise-sims CTE and the six chained argmax CTEs
    (argmax = ORDER BY mmr DESC, vec_id — the exact tie-break the
    Spark fold's array_sort uses), and ``sel_union`` unions the six
    picks. Shared by q374 (cosine-top-12 candidates) and q439 (the
    composed pipeline's RRF-fused candidates)."""
    sim = cosine_sql("a.embedding", "b.embedding")
    parts = [
        f""", sims AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sim} AS sim
      FROM (SELECT c.vec_id, e.embedding FROM cand c
            JOIN embeddings e ON c.vec_id = e.vec_id) a,
           (SELECT c.vec_id, e.embedding FROM cand c
            JOIN embeddings e ON c.vec_id = e.vec_id) b
    ), sel1 AS (
      SELECT vec_id, rel, 1 AS step, rel AS mmr
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    ]
    prev_union = "SELECT vec_id FROM sel1"
    for i in range(2, 7):
        parts.append(f""", sel{i} AS (
      SELECT c.vec_id, c.rel, {i} AS step,
             0.7 * c.rel - 0.3 * max(s.sim) AS mmr
      FROM cand c
      JOIN sims s ON s.id_a = c.vec_id AND s.id_b IN ({prev_union})
      WHERE c.vec_id NOT IN ({prev_union})
      GROUP BY c.vec_id, c.rel
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    )""")
        prev_union += f" UNION ALL SELECT vec_id FROM sel{i}"
    sel_union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, 7))
    return "".join(parts), sel_union


def _mmr_oracle() -> str:
    """Greedy MMR unrolled as chained CTEs (k=6 picks over a 12-doc
    candidate list) — q374's oracle: cosine-top-12 candidates, then
    the shared :func:`_mmr_sel_ctes` chain."""
    cos_q = cosine_sql("e.embedding", "q.v")
    ctes, sel_union = _mmr_sel_ctes()
    return f"""
    WITH q AS (
      SELECT embedding AS v FROM embeddings WHERE vec_id = 0
    ), cand AS MATERIALIZED (
      SELECT e.vec_id, {cos_q} AS rel
      FROM embeddings e, q
      ORDER BY rel DESC, e.vec_id LIMIT 12
    ){ctes}
    SELECT vec_id, cast(step as bigint) AS step,
           round(rel, 6) AS rel, round(mmr, 6) AS mmr
    FROM ({sel_union})"""


def _mmr_fold_expr() -> str:
    """Spark-side greedy MMR as ONE aggregate() HOF fold over the
    packed candidate array `cs` (struct vec_id, rel, emb) — the q349
    single-expression iteration pattern: no per-step DataFrame in the
    lineage (a 6-step chained-union plan re-expands the candidate
    subtree per step and explodes the AQE plan), state = the selected
    array, argmax = element 1 of array_sort by (−score, vec_id)."""

    def _cos(a: str, b: str) -> str:
        dot = (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc2, x) -> acc2 + x)"
        )
        da = (
            f"aggregate(zip_with({a}, {a}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc2, x) -> acc2 + x)"
        )
        db = (
            f"aggregate(zip_with({b}, {b}, (x, y) -> x * y), "
            f"cast(0.0 as double), (acc2, x) -> acc2 + x)"
        )
        return (
            f"(CASE WHEN sqrt({da}) * sqrt({db}) > 0 "
            f"THEN {dot} / (sqrt({da}) * sqrt({db})) ELSE cast(0.0 as double) END)"
        )

    # step body: best remaining candidate by (mmr desc, vec_id asc)
    maxsim = f"array_max(transform(acc, s -> {_cos('c.emb', 's.emb')}))"
    scored = (
        "array_sort(transform("
        "  filter(cs, c -> !exists(acc, s -> s.vec_id = c.vec_id)),"
        f" c -> named_struct("
        f"   'negmmr', -(cast(0.7 as double) * c.rel - cast(0.3 as double) * {maxsim}),"
        "    'vec_id', c.vec_id, 'rel', c.rel, 'emb', c.emb)))"
    )
    best = f"element_at({scored}, 1)"
    step = (
        "acc || array(named_struct("
        f" 'vec_id', {best}.vec_id, 'step', i,"
        f" 'rel', {best}.rel, 'mmr', -{best}.negmmr, 'emb', {best}.emb))"
    )
    first = (
        "element_at(array_sort(transform(cs, c -> named_struct("
        " 'negrel', -c.rel, 'vec_id', c.vec_id, 'rel', c.rel, 'emb', c.emb))), 1)"
    )
    init = (
        f"array(named_struct('vec_id', {first}.vec_id, 'step', 1,"
        f" 'rel', {first}.rel, 'mmr', {first}.rel, 'emb', {first}.emb))"
    )
    return f"aggregate(sequence(2, 6), {init}, (acc, i) -> {step})"


@query(
    "q374_mmr_diversified_retrieval",
    oracle=_mmr_oracle(),
    tags=("vector", "retrieval", "parity"),
)
def q374_mmr_diversified_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    1998) — the diversification tier that completes the retrieval
    stack (candidates q49/q66 → fusion q362 → THIS): greedily pick
    k=6 of the top-12 cosine candidates maximizing
    0.7·rel − 0.3·max_sim_to_already_selected, so near-duplicate hits
    (what SemDeDup q134 exploits in this embedding space) stop
    crowding out coverage.

    Exactness: relevance and pairwise sims use the ordered-fold cosine
    (functions/vectors.py — the Spark fold inside the MMR lambda and
    the oracle's list_reduce run the identical IEEE sequence), the
    greedy argmax compares those bit-identical doubles with a vec_id
    tie-break, and the oracle unrolls the same 6 steps as CTEs (the
    q349 fixed-iteration protocol).

    Scale + plan shape: the whole greedy loop is ONE aggregate() HOF
    fold over a 12-row packed array — constant-size state, zero
    per-iteration shuffles or joins (a chained-DataFrame formulation
    re-expands the candidate subtree once per step: exponential plan
    growth, found the hard way). MMR cost is k·|candidates| sims —
    independent of corpus size; only candidate generation touches the
    corpus (one pass here; the q66 IVF tier past ~10⁵ vectors)."""
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("v"))
    cand = (
        e.crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            cosine("embedding", "v").alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(12)
    )
    packed = cand.agg(
        F.collect_list(F.struct("vec_id", "rel", "emb")).alias("cs")
    )
    return (
        packed.select(F.explode(F.expr(_mmr_fold_expr())).alias("s"))
        .select(
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.step").cast("bigint").alias("step"),
            F.round("s.rel", 6).alias("rel"),
            F.round("s.mmr", 6).alias("mmr"),
        )
    )


# q439: the composed pipeline's query terms (all with postings in the
# fixture vocabulary)
_Q439_TERMS = ("join", "spark", "stream")


def _q439_oracle() -> str:
    """The composed retrieval pipeline unrolled as one CTE chain:
    chunking (q361's grid), chunk-level BM25 (q390's arithmetic, unit
    = chunk), top-50 chunk retrieval, parent-doc rollup, the dense
    cosine leg, integer RRF fusion (q362), and the shared greedy-MMR
    tail (:func:`_mmr_sel_ctes`)."""
    from ..functions.text import tokens_sql

    toks = tokens_sql("text")
    cos_q = cosine_sql("e.embedding", "q.v")
    cand_rel = cosine_sql("e.embedding", "q.v")
    terms = ", ".join(f"'{t}'" for t in _Q439_TERMS)
    ctes, sel_union = _mmr_sel_ctes()
    return f"""
    WITH corp AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN embeddings em ON d.doc_id = em.vec_id
    ), t AS (
      SELECT doc_id, {toks} AS ws FROM corp
    ), starts AS (
      SELECT doc_id, ws, cast(st as bigint) AS st
      FROM t, unnest(range(0, len(ws), 48)) AS u(st)
      WHERE len(ws) > 0
    ), chunks AS (
      SELECT doc_id, doc_id * 1000000 + st // 48 AS ckey,
             list_slice(ws, cast(st + 1 as int), cast(st + 64 as int)) AS ctoks
      FROM starts
    ), ct AS MATERIALIZED (
      SELECT ckey, unnest(ctoks) AS tk FROM chunks
    ), dl AS (
      SELECT ckey, count(*) AS len FROM ct GROUP BY ckey
    ), stats AS (
      SELECT (SELECT count(*) FROM chunks) AS n_docs,
             (SELECT sum(len) FROM dl) AS total_len
    ), qt AS (
      SELECT unnest([{terms}]) AS tk
    ), tf AS (
      SELECT ckey, tk, count(*) AS tf FROM ct
      WHERE tk IN (SELECT tk FROM qt) GROUP BY ckey, tk
    ), idf AS (
      SELECT tk, count(DISTINCT ckey) AS df FROM tf GROUP BY tk
    ), scored AS (
      SELECT tf.ckey,
             ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.total_len / cast(s.n_docs as double))))
               AS term_score
      FROM tf JOIN idf i ON i.tk = tf.tk
              JOIN dl d ON tf.ckey = d.ckey
              CROSS JOIN stats s
    ), cagg AS (
      SELECT ckey,
             list_reduce(list_sort(list(term_score)), (x, y) -> x + y) AS bm25
      FROM scored GROUP BY ckey
    ), ctop AS MATERIALIZED (
      SELECT ckey, bm25 FROM cagg ORDER BY bm25 DESC, ckey LIMIT 50
    ), lex AS (
      SELECT ckey // 1000000 AS doc_id, max(bm25) AS rel_lex
      FROM ctop GROUP BY ckey // 1000000
    ), bm_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY rel_lex DESC, doc_id) AS rb
      FROM lex ORDER BY rel_lex DESC, doc_id LIMIT 25
    ), q AS (
      SELECT embedding AS v FROM embeddings WHERE vec_id = 0
    ), dcos AS (
      SELECT e.vec_id AS doc_id, {cos_q} AS c
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id
      CROSS JOIN q
    ), cos_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rc
      FROM dcos ORDER BY c DESC, doc_id LIMIT 25
    ), fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             cast(coalesce(b.rb, 0) as bigint) AS rank_bm25,
             cast(coalesce(c.rc, 0) as bigint) AS rank_cos,
             coalesce(1000000000 // (60 + b.rb), 0)
               + coalesce(1000000000 // (60 + c.rc), 0) AS rrf_ppb
      FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    ), ftop AS MATERIALIZED (
      SELECT doc_id, rank_bm25, rank_cos, cast(rrf_ppb as bigint) AS rrf_ppb
      FROM fused ORDER BY rrf_ppb DESC, doc_id LIMIT 12
    ), cand AS MATERIALIZED (
      SELECT f.doc_id AS vec_id, {cand_rel} AS rel
      FROM ftop f JOIN embeddings e ON e.vec_id = f.doc_id CROSS JOIN q
    ){ctes}
    SELECT u.vec_id AS doc_id, cast(u.step as bigint) AS step,
           round(u.rel, 6) AS rel, round(u.mmr, 6) AS mmr,
           f.rank_bm25, f.rank_cos, f.rrf_ppb
    FROM ({sel_union}) u JOIN ftop f ON u.vec_id = f.doc_id"""


@query(
    "q439_rag_serving_pipeline",
    oracle=_q439_oracle(),
    tags=("vector", "text", "retrieval", "rag", "pipeline"),
)
def q439_rag_serving_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED end-to-end retrieval pipeline — every serving-side
    stage this catalog proved separately, chained through one
    oracle-checked query so the HANDOFFS are what's verified (the
    VERDICT r9/r10 gap; q395 did the same for the dedup state family):

        q361 chunking (64-token windows, stride 48, over the embedded
          corpus documents∩embeddings, chunk key = doc_id·10⁶+idx — a
          48M-token-per-doc headroom before key collision)
        → q390 BM25 index SERVING (persisted chunk-postings index,
          term-IN pushdown; top-50 chunks for the query terms)
        → parent-doc rollup (doc relevance = max chunk BM25 — the
          chunk→doc id handoff, rank rb over 25 docs)
        → q362 RRF fusion with the dense cosine leg (rank rc, integer
          10⁹ div (60+rank) fusion, full-outer — top-12 docs)
        → q374 greedy MMR diversification (k=6 picks over the fused
          candidates, rel = exact cosine to the query vector).

    Exactness end to end: BM25 is q390's bitwise float protocol
    (Robertson idf, sorted-fold sum) with the CHUNK as the scoring
    unit; the rollup max and both rank windows order exact doubles
    with integer tie-breaks; fusion is pure integer floor-division;
    MMR reuses q374's fold with the oracle's sel-chain tail
    (:func:`_mmr_sel_ctes`) over the same candidates — so the final
    six rows, with their lexical/dense ranks and fused scores, hash-
    match a from-scratch relational derivation of the whole pipeline.

    100 TB story: chunking is a narrow map (q361); the chunk index is
    built ONCE (state, cached per corpus) and served with postings
    row-group pruning (q390); every post-retrieval stage operates on
    k-row frames (50 chunks → ≤50 docs → 25+25 ranks → 12 candidates
    → 6 picks) — serving cost scales with HITS and k, never corpus
    size. The only corpus-sized passes are index construction (once)
    and the dense leg's scan (swap in the q66 IVF tier past ~10⁵
    vectors, unchanged downstream)."""
    from pyspark.sql.window import Window as W

    from ..functions.text import tokens
    from ..operators.retrieval import bm25_serve, read_bm25_index, write_bm25_index

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")

    def build(base: str) -> None:
        corp = d.join(
            e.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
        )
        chunks = (
            corp.select("doc_id", tokens("text").alias("ws"))
            .filter(F.size("ws") > 0)
            .select(
                "doc_id",
                F.posexplode(
                    F.sequence(F.lit(0), F.size("ws") - 1, F.lit(48))
                ).alias("chunk_idx", "st"),
                "ws",
            )
            .select(
                (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("ckey"),
                F.array_join(F.slice(F.col("ws"), F.col("st") + 1, 64), " ").alias(
                    "ctext"
                ),
            )
        )
        write_bm25_index(chunks, base, id_col="ckey", text_col="ctext")

    base, _ = query_state("q439", sf_dir, build)
    postings, dfreq, stats = read_bm25_index(spark, base)

    qt = spark.createDataFrame(
        [(1, t) for t in _Q439_TERMS], "query_id int, t string"
    )
    ctop = bm25_serve(
        qt, postings, dfreq, stats, top_k=50, terms=list(_Q439_TERMS)
    )
    lex = ctop.groupBy(
        F.expr("doc_id div 1000000").alias("doc_id")
    ).agg(F.max("bm25").alias("rel_lex"))
    bm_top = (
        lex.orderBy(F.col("rel_lex").desc(), "doc_id")
        .limit(25)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("rel_lex").desc(), "doc_id"))  # global-window-ok: post-limit 25-row frame
            .alias("rb"),
        )
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("v"))
    dcos = (
        e.join(d.select("doc_id"), e.vec_id == F.col("doc_id"), "left_semi")
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), cosine("embedding", "v").alias("c"))
    )
    cos_top = (
        dcos.orderBy(F.col("c").desc(), "doc_id")
        .limit(25)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), "doc_id"))  # global-window-ok: post-limit 25-row frame
            .alias("rc"),
        )
    )
    fused = bm_top.join(cos_top, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("rb", F.lit(0)).cast("bigint").alias("rank_bm25"),
        F.coalesce("rc", F.lit(0)).cast("bigint").alias("rank_cos"),
        (
            F.coalesce(F.expr("1000000000 div (60 + rb)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + rc)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_ppb"),
    )
    ftop = fused.orderBy(F.col("rrf_ppb").desc(), "doc_id").limit(12)
    cand = ftop.join(
        e, ftop.doc_id == e.vec_id
    ).crossJoin(F.broadcast(qv)).select(
        F.col("vec_id"),
        cosine("embedding", "v").alias("rel"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    packed = cand.agg(F.collect_list(F.struct("vec_id", "rel", "emb")).alias("cs"))
    sel = packed.select(F.explode(F.expr(_mmr_fold_expr())).alias("s")).select(
        F.col("s.vec_id").alias("doc_id"),
        F.col("s.step").cast("bigint").alias("step"),
        F.round("s.rel", 6).alias("rel"),
        F.round("s.mmr", 6).alias("mmr"),
    )
    return sel.join(F.broadcast(ftop), "doc_id").select(
        "doc_id", "step", "rel", "mmr", "rank_bm25", "rank_cos", "rrf_ppb"
    )


@query(
    "q435_patch_grid_parity",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             md5(text) AS payload_digest,
             cast({hex_int_sql("md5(text)", 1, 4)} % 1920 + 1 as int) AS width,
             cast({hex_int_sql("md5(text)", 5, 4)} % 1080 + 1 as int) AS height
      FROM documents
      WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)
    ), patches AS (
      SELECT doc_id, width, height, px, py,
             least(256, width - px * 256) AS pw,
             least(256, height - py * 256) AS ph,
             md5(payload_digest || ':' || px || ':' || py) AS patch_digest
      FROM feats,
           unnest(range(0, (width + 255) // 256)) gx(px),
           unnest(range(0, (height + 255) // 256)) gy(py)
    )
    SELECT bucket,
           cast(count(DISTINCT doc_id) as bigint) AS n_docs,
           cast(count(*) as bigint) AS n_patches,
           cast(sum(pw * ph) as bigint) AS total_area,
           {checksum_half_sums_sql(hex_int_sql("patch_digest"))}
    FROM (SELECT doc_id, doc_id % 8 AS bucket, pw, ph, patch_digest FROM patches)
    GROUP BY bucket
    """,
    tags=("multimodal", "parity"),
)
def q435_patch_grid_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATCH-GRID PARITY — ViT-style spatial tiling as a first-class
    multimodal op, hash-verified end to end: binary payload attach →
    Arrow-batched decode stub (q337's deterministic fake: dims derived
    from the payload digest) → ``patch_grid`` mapInPandas fan-out (one
    row per 256-px tile, edge tiles clipped) → per-bucket report of
    patch counts, TOTAL AREA (Σ pw·ph must equal Σ w·h — a clipped-
    edge bug breaks the hash), and the patch-digest checksum
    half-sums. The oracle re-derives the same grid relationally
    (2-D unnest over the ceil-divided ranges), so the Python fan-out
    path — schema, batch iteration, per-record bound — is value-pinned
    exactly like q337/q338 pinned decode and frame sampling.

    100 TB story: patching is a NARROW one-to-many map with a static
    fan-out bound (≤ 8·5 tiles at 1920×1080/256) — no shuffle until
    the training-shard writer groups tiles; the Arrow batch boundary
    is the only Python crossing, and a real decoder slots into the
    same iterator without touching the plan shape."""
    from ..operators.multimodal import attach_binary_payload, extract_features, patch_grid

    # the ASCII guard is applied on BOTH sides (q337/q338's explicit
    # design): the oracle's octet_length(encode()) filter must see the
    # same row set the Spark path patches, or a single non-ASCII doc
    # in a future fixture hash-mismatches every bucket
    d = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300)
        & (F.octet_length("text") == F.length("text"))
    )
    feats = extract_features(attach_binary_payload(d))
    patches = patch_grid(feats, patch=256)
    return patches.groupBy(F.pmod("doc_id", F.lit(8)).alias("bucket")).agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_patches"),
        F.sum(F.col("pw") * F.col("ph")).cast("bigint").alias("total_area"),
        *checksum_half_sums(hex_int("patch_digest")),
    )


@query(
    "q452_interleaved_multimodal_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS ws
      FROM documents
    ), starts AS (
      SELECT doc_id, source, ws, cast(st as bigint) AS st
      FROM t, unnest(range(0, len(ws), 48)) AS u(st)
      WHERE len(ws) > 0
    ), chunks AS (
      SELECT doc_id, source,
             st // 48 AS chunk_idx,
             list_slice(ws, cast(st + 1 as int), cast(st + 64 as int)) AS ch
      FROM starts
    ), feats AS (
      SELECT doc_id, source,
             md5(text) AS payload_digest,
             cast({hex_int_sql("md5(text)", 1, 4)} % 1920 + 1 as int) AS width,
             cast({hex_int_sql("md5(text)", 5, 4)} % 1080 + 1 as int) AS height
      FROM documents
      WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)
    ), patches AS (
      SELECT doc_id, source, px, py,
             md5(payload_digest || ':' || px || ':' || py) AS patch_digest
      FROM feats,
           unnest(range(0, (width + 255) // 256)) gx(px),
           unnest(range(0, (height + 255) // 256)) gy(py)
    ), items AS (
      SELECT source, doc_id, 0 AS m, chunk_idx AS ord3,
             cast(len(ch) as bigint) AS cost,
             md5(array_to_string(ch, ' ')) AS dg
      FROM chunks
      UNION ALL
      SELECT source, doc_id, 1 AS m, py * 100 + px AS ord3,
             cast(1 as bigint) AS cost, patch_digest AS dg
      FROM patches
    ), packed AS (
      SELECT source, doc_id, m, cost, dg,
             cast(sum(cost) OVER (PARTITION BY source
                                  ORDER BY doc_id, m, ord3
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  as bigint) - cost AS start
      FROM items
    ), seqs AS (
      SELECT source, start // 512 AS seq_id, doc_id, m, cost, dg
      FROM packed
    )
    SELECT source, cast(seq_id as bigint) AS seq_id,
           cast(count(*) as bigint) AS n_items,
           cast(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) as bigint) AS n_text_chunks,
           cast(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) as bigint) AS n_patches,
           cast(sum(CASE WHEN m = 0 THEN cost ELSE 0 END) as bigint) AS text_tokens,
           cast(sum(CASE WHEN m = 1 THEN cost ELSE 0 END) as bigint) AS image_tokens,
           cast(sum(cost) as bigint) AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           {checksum_half_sums_sql(hex_int_sql("dg"))}
    FROM seqs GROUP BY source, seq_id
    """,
    tags=("multimodal", "llm-pipeline", "packing"),
)
def q452_interleaved_multimodal_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERLEAVED MULTIMODAL SEQUENCE ASSEMBLY — the Flamingo/MM1-
    style packing step that turns a mixed text+image corpus into
    fixed-length training sequences, composed from three proven
    tiers: q361's overlapping text chunks (64-token windows, stride
    48) and q435's ViT patch tiles (one image token per 256-px patch,
    decode-stubbed dims from the payload digest, ASCII-guarded on
    both sides) interleave per document (text chunks in chunk order,
    then the doc's patches row-major), and the per-source item stream
    packs under q107's concat-and-chunk cumsum into 512-token
    sequences. Per (source, seq_id): item/chunk/patch counts, the
    text-vs-image token split, doc bounds, and the item-digest
    checksum half-sums (the q417 protocol) — so EXACT membership of
    every chunk digest and patch digest in every sequence is pinned,
    not just counts. A lost patch, a mis-ordered chunk, or a
    token-budget drift all hash-mismatch.

    The oracle re-derives chunking (q361's CTE), the patch grid
    (q435's 2-D unnest), the interleave order, and the cumsum pack
    relationally — the Python mapInPandas fan-out path is value-
    pinned through the composition exactly as q435 pinned it
    standalone.

    100 TB story: chunking and patching are NARROW bounded fan-out
    maps (no shuffle); the single shuffle is hash(source) for the
    pack window — per-source streams pack independently in parallel
    (q107's argument), and modality interleave adds no extra
    exchange because both item sets key on the same (source, doc_id)
    layout. Patch fan-out is Arrow-batched with a static ≤ 8×5
    bound; a real decoder slots into the same iterator."""
    from pyspark.sql.window import Window as W

    from ..functions.text import tokens
    from ..operators.multimodal import patch_grid

    d = table(spark, sf_dir, "documents")

    ws = tokens("text")
    base = d.select("doc_id", "source", ws.alias("ws")).filter(F.size("ws") > 0)
    fan = base.select(
        "doc_id",
        "source",
        "ws",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(48))
        ).alias("chunk_idx", "st"),
    )
    ch = F.slice(F.col("ws"), F.col("st") + 1, 64)
    text_items = fan.select(
        "source",
        "doc_id",
        F.lit(0).alias("m"),
        F.col("chunk_idx").cast("bigint").alias("ord3"),
        F.size(ch).cast("bigint").alias("cost"),
        F.md5(F.array_join(ch, " ")).alias("dg"),
    )

    imgs = d.filter(
        (F.col("doc_id") < 300)
        & (F.octet_length("text") == F.length("text"))
    )
    feats = extract_features(attach_binary_payload(imgs))
    patches = patch_grid(feats, patch=256)
    img_items = (
        patches.join(d.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            "doc_id",
            F.lit(1).alias("m"),
            (F.col("py") * 100 + F.col("px")).cast("bigint").alias("ord3"),
            F.lit(1).cast("bigint").alias("cost"),
            F.col("patch_digest").alias("dg"),
        )
    )

    items = text_items.unionByName(img_items)
    w = (
        W.partitionBy("source")
        .orderBy("doc_id", "m", "ord3")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = items.withColumn(
        "start", F.sum("cost").over(w).cast("bigint") - F.col("cost")
    )
    seqs = packed.select(
        "source",
        F.expr("start div 512").cast("bigint").alias("seq_id"),
        "doc_id",
        "m",
        "cost",
        hex_int("dg").alias("d32"),
    )
    return seqs.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_text_chunks"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_patches"),
        F.sum(F.when(F.col("m") == 0, F.col("cost")).otherwise(0))
        .cast("bigint")
        .alias("text_tokens"),
        F.sum(F.when(F.col("m") == 1, F.col("cost")).otherwise(0))
        .cast("bigint")
        .alias("image_tokens"),
        F.sum("cost").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        *checksum_half_sums(F.col("d32")),
    )
