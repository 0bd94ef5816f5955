"""Deduplication operators (SURVEY.md §2.B "Dedup & incremental" +
BASELINE north-star LLM-pipeline ops).

Four tiers, all pure DataFrame/SQL built-ins (no Python UDFs — every
expression stays inside whole-stage codegen):

  * exact       — full-record content hash (reference R10+R12 semantics,
                  /root/reference/app/salesforce_extractor.py:179-181,214-217)
  * keep-first  — deterministic dropDuplicates via row_number
  * MinHash+LSH — shingle → k min-hash permutations → band buckets;
                  candidate pairs only ever compared within a bucket, so
                  the shuffle is O(docs·bands), never O(docs²) — this is
                  the 100 TB-safe near-dup path
  * SimHash     — 64-bit bitwise-majority fingerprint + banded hamming
                  candidate generation

Determinism: permutation params come from a seeded PRNG; all hashing is
xxhash64 with Spark's fixed seed (42). Long-arithmetic overflow wraps
(Java semantics) identically on every executor, so signatures are
reproducible cluster-wide.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_hash
from ..functions.text import tokens
from .state import BucketLayout, probe_bucket_rows

# universal-hash params sized so a*h32 + b < 2^63: works identically
# with ANSI mode on or off (no long overflow by construction)
_HASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_H32_MASK = (1 << 32) - 1

# Memo of PLAN-construction artifacts (Column expression trees), keyed
# on the pure scalar arguments that determine them. Building the
# 32-permutation signature tree + 8 band structs + the fingerprint
# expression costs hundreds of py4j round-trips per call, and the
# composed state pipelines (q392/q395/q437-adjacent) construct these
# several times per run — measured ~0.8 s of pure driver time in q395.
# Column objects are immutable expression trees independent of any
# DataFrame or session lifecycle, so reuse is safe; this caches query
# PLANS, never data or results.
_EXPR_CACHE: dict[tuple, object] = {}


def _expr_cached(key: tuple, build):
    out = _EXPR_CACHE.get(key)
    if out is None:
        out = build()
        _EXPR_CACHE[key] = out
    return out


def dedup_exact(df: DataFrame, cols: Sequence[str], hash_col: str = "hash") -> DataFrame:
    """Exact dedup by deterministic content hash over ``cols``."""
    return df.withColumn(hash_col, content_hash(cols)).dropDuplicates([hash_col])


# ------------------------------------------------------------- MinHash LSH


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when < n tokens.

    The token array is LET-BOUND once per row (the 1-element
    struct-array transform below) before the per-position lambda reads
    it: a lambda that captures the raw ``tokens(text)`` expression
    re-evaluates the whole regex tokenization PER OUTPUT ELEMENT —
    Catalyst does not CSE across lambda boundaries — which measured
    ~18M redundant tokenizations (5.0 s) on the 180k-token sf0.1
    corpus vs ~0.5 s bound."""
    toks = tokens(text_col)
    return F.element_at(
        F.transform(
            F.array(F.struct(toks.alias("t"))),
            lambda x: shingles_from_tokens(x["t"], n),
        ),
        1,
    )


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """n-gram shingles from an ALREADY-BOUND token-array column — the
    shared construction behind :func:`word_shingles` (which let-binds
    a raw tokenize expression first) and callers that hold tokens as
    a named column (q434's recall harness): one definition site so a
    shingle-semantics fix can never fork the evaluation harness from
    the production path it measures."""
    k = F.size(t) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _HASH_P), rng.randrange(0, _HASH_P)) for _ in range(num_perm)]


# modular polynomial over per-token hashes: P*M + 2^32 < 2^63 (ANSI-safe)
_POLY_P = (1 << 41) - 21
_POLY_M = 1000003


def poly_ngram_hashes(text_col: Column | str, n: int, mask32: bool = False) -> Column:
    """Word n-gram fingerprints as ``array<bigint>`` — a modular
    polynomial fold over per-token 32-bit hashes, O(1) arithmetic per
    gram instead of building and re-hashing an n-word shingle STRING
    (string concat dominates the gram stage at corpus scale; switching
    q89 to this cut its gram build 3×).

    The token-hash array is let-bound through a single-element
    transform: a single-statically-referenced alias would be inlined
    by CollapseProject and re-hash every token once per gram.
    ``mask32`` folds the result to 32 bits for consumers whose
    downstream arithmetic needs ``a*h + b < 2^63`` headroom (MinHash
    permutations). Code space is ~2^41 (or 2^32 masked): birthday
    collisions are immaterial next to shingle-set sampling noise.
    Empty result for docs with fewer than ``n`` tokens, matching
    :func:`word_shingles`."""
    toks_h = F.transform(
        tokens(text_col), lambda t: F.xxhash64(t).bitwiseAND(F.lit(_H32_MASK))
    )

    def fold(hh: Column) -> Column:
        k = F.size(hh) - (n - 1)
        gram = lambda i: F.aggregate(  # noqa: E731
            F.sequence(F.lit(0), F.lit(n - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, j: F.pmod(acc * F.lit(_POLY_M) + F.element_at(hh, i + j), F.lit(_POLY_P)),
        )
        out = lambda i: gram(i).bitwiseAND(F.lit(_H32_MASK)) if mask32 else gram(i)  # noqa: E731
        return F.when(k >= 1, F.transform(F.sequence(F.lit(1), k), out)).otherwise(
            F.array().cast("array<bigint>")
        )

    return F.element_at(F.transform(F.array(toks_h), fold), 1)


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    sig_col: str = "minhash_sig",
) -> DataFrame:
    """Append an ``array<bigint>`` MinHash signature of word shingles.

    One xxhash64 per shingle, then ``num_perm`` universal-hash
    permutations folded with array_min — all vectorized JVM expressions.
    """
    def build() -> tuple[Column, Column]:
        params = _perm_params(num_perm, seed)
        # 32-bit shingle fingerprints (mask32 keeps a*h32+b < 2^63) via
        # the polynomial token-hash fold — no shingle strings are ever
        # built
        sh = poly_ngram_hashes(text_col, shingle_n, mask32=True)
        # Single pass over the shingle array: fold all num_perm
        # permutation minimums at once. Higher-order functions run
        # interpreted (outside whole-stage codegen), so the naive
        # per-permutation formulation (num_perm independent transforms,
        # each re-inlining the shingle pipeline after project-collapse)
        # costs num_perm× the shingle work — ~300× slower at sf0.1. SQL
        # lambdas allow the nested capture (outer `h` inside the
        # zip_with lambda) that makes one pass work.
        params_sql = "array(" + ",".join(
            f"named_struct('a', cast({a} as bigint), 'b', cast({b} as bigint))"
            for a, b in params
        ) + ")"
        agg_sql = (
            f"aggregate(__mh_sh, array_repeat(cast({_HASH_P} as bigint), {num_perm}), "
            f"(acc, h) -> zip_with(acc, {params_sql}, "
            f"(m, p) -> least(m, pmod(p.a * h + p.b, cast({_HASH_P} as bigint)))))"
        )
        return sh, F.expr(agg_sql)

    if isinstance(text_col, str):
        sh, agg = _expr_cached(("sig", text_col, num_perm, shingle_n, seed), build)
    else:  # Column input — unhashable key, build fresh
        sh, agg = build()
    # empty shingle array → aggregate returns the init (all sentinel P),
    # matching the previous when(size>0) semantics
    return df.withColumn("__mh_sh", sh).withColumn(sig_col, agg).drop("__mh_sh")


def _minhash_band_structs(num_perm: int, bands: int) -> Column:
    """The array of (band, bucket) structs cut from a ``minhash_sig``
    column — one definition site for the two index layouts
    (:func:`minhash_band_buckets`, :func:`build_minhash_index`), and a
    plan-cache entry: 8 bands × 4-slice concat trees are ~100 py4j
    calls rebuilt identically on every index build otherwise."""
    rows = num_perm // bands

    def build() -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("minhash_sig")[i * rows + j].cast("string")
                                for j in range(rows)
                            ],
                        )
                    ).alias("bucket"),
                )
                for i in range(bands)
            ]
        )

    return _expr_cached(("bands", num_perm, bands), build)


def _banded_candidates(buckets: DataFrame) -> DataFrame:
    """Self-join a (id, band, bucket) table into candidate pairs:
    docs colliding in any band become a pair, counted across bands.
    The input is persisted because the self-join reads it twice —
    without it the producing pipeline executes once per join side.
    (Registered with the session release point so sweeps can drop the
    block after materializing; docs×bands rows of three scalars.)"""
    from .ranking import pin_cache

    buckets = pin_cache(buckets)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, band, bucket) LSH keys: the minhash signature cut into
    ``bands`` row-groups, each hashed to one bucket. This is the
    shuffle-key layer shared by same-corpus candidate generation
    (:func:`minhash_lsh_candidates`) and the persisted cross-batch
    index (:func:`build_minhash_index`): docs×bands rows of three
    scalars, never a cross product.

    Docs too short to form a single shingle all share the sentinel
    signature — banding them would put every short doc in one bucket
    (quadratic false-candidate blowup), so they are excluded: with no
    shingles there is no shingle-set similarity to detect."""
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    df = df.filter(_min_tokens_filter(text_col, shingle_n))
    sig = minhash_signature(df, text_col, num_perm, shingle_n, seed).select(id_col, "minhash_sig")
    return sig.withColumn("bb", F.explode(_minhash_band_structs(num_perm, bands))).select(
        F.col(id_col).alias("id"), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH: docs agreeing on all
    rows of any band collide in that band's bucket.

    Scale path: explode to (band, bucket) keys, self-join per bucket —
    shuffle cost is docs×bands rows, candidate generation never reads
    the full cross product. Returns (id_a, id_b, n_shared_bands).
    """
    return _banded_candidates(
        minhash_band_buckets(df, id_col, text_col, num_perm, bands, shingle_n, seed)
    )


# ------------------------------------------- cross-batch MinHash state


def _min_tokens_filter(text_col: Column | str, shingle_n: int) -> Column:
    """``size(tokens(text)) >= shingle_n`` — cached: the tokenize
    expression tree is rebuilt identically on every index build."""
    if not isinstance(text_col, str):
        return F.size(tokens(text_col)) >= shingle_n
    return _expr_cached(
        ("lenfilter", text_col, shingle_n),
        lambda: F.size(tokens(text_col)) >= shingle_n,
    )


def shingle_set_fingerprint(text_col: Column | str, n: int = 3) -> Column:
    """Canonical content fingerprint: md5 over the SORTED DISTINCT
    word-``n``-gram shingles, unit-separator joined. Two docs get equal
    fingerprints iff their shingle SETS are identical — invariant to
    repeated content blocks (a doc that pastes the same paragraph twice
    fingerprints like one copy), which the q37 whole-text hash is not.
    This is the exact-verify key stored in the minhash index: verifying
    a candidate needs only this 32-char column, never the corpus text."""

    def build() -> Column:
        sh = F.array_sort(F.array_distinct(word_shingles(text_col, n)))
        return F.md5(F.concat_ws("\x1f", sh))

    if isinstance(text_col, str):
        return _expr_cached(("fp", text_col, n), build)
    return build()


# the persisted band-bucket index (build_minhash_index's rows):
# partitioned on band, probed on (band, bucket), verified on set_fp
MINHASH_LAYOUT = BucketLayout(
    partition="band",
    keys=("band", "bucket"),
    fp="set_fp",
    schema="id bigint, band int, bucket bigint, set_fp string",
)


def build_minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The persisted near-dup STATE for cross-batch incremental dedup:
    one row per (doc, band) — (id, band, bucket, set_fp), the
    :data:`MINHASH_LAYOUT` that operators/state.py writes, probes,
    appends to and compacts. Write it out once (partitioned by
    ``band``, so a probe's (band,bucket) join prunes partitions);
    subsequent batches dedup against the INDEX alone — the corpus text
    is never re-scanned or re-hashed. This is the probabilistic twin
    of the q359 Bloom tier, at R16's incremental posture: state grows
    by the surviving docs' bands per batch (state.probe_then_append).

    Exactness contract: banded minhash has NO false negatives for
    shingle-set-IDENTICAL docs (equal sets ⇒ equal signatures ⇒ every
    band collides), so LSH-candidates + set_fp verify equals the plain
    fingerprint join — hash-verifiable — while near-identical docs
    (J < 1) still surface as candidates with LSH probability."""
    # ONE pass: signature + fingerprint computed in the same select and
    # the band structs exploded afterwards — the former two-pass form
    # (band buckets JOIN per-doc fingerprints on id) scanned the corpus
    # text twice and paid a join exchange per index build / per probed
    # micro-batch (q392/q395 build these in their hot loop).
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    df = corpus.filter(_min_tokens_filter(text_col, shingle_n))
    sig = minhash_signature(df, text_col, num_perm, shingle_n, seed).select(
        id_col,
        "minhash_sig",
        shingle_set_fingerprint(text_col, shingle_n).alias("set_fp"),
    )
    return sig.withColumn("bb", F.explode(_minhash_band_structs(num_perm, bands))).select(
        F.col(id_col).alias("id"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        "set_fp",
    )


def probe_minhash_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup an arriving batch against a :func:`build_minhash_index`
    state table WITHOUT touching the corpus: per batch doc returns
    (id, n_candidates, is_dup, dup_of) where candidates are corpus
    docs sharing ≥1 band bucket, ``is_dup`` is the exact shingle-set
    verify over the stored fingerprints, and ``dup_of`` is the lowest
    matching corpus id (null when new).

    PRECONDITION: ``id_col`` must be UNIQUE within ``batch`` (see
    state.probe_bucket_rows). Callers minting synthetic ids (re-crawl
    batches) must mint collision-free ones — q388 negates re-crawl ids
    so they can never meet a genuine id at any scale. The only join is
    (band, bucket)-keyed with the batch broadcast by default; callers
    that also append the survivors build the rows once and use
    state.probe_then_append instead."""
    rows = build_minhash_index(
        batch, id_col, text_col, num_perm, bands, shingle_n, seed
    )
    return probe_bucket_rows(rows, index, MINHASH_LAYOUT, broadcast_batch)


def split_hot_buckets(
    index: DataFrame,
    cap: int,
    bit: Column | None = None,
    id_col: str = "id",
    sizes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SKEW MAINTENANCE for a band-bucket index: buckets holding more
    than ``cap`` rows split by one extra doc-hash bit (extendible
    hashing's directory-doubling move, applied only to hot buckets) —
    boilerplate/near-empty docs collapse onto a few signatures, and
    those buckets otherwise grow a quadratic straggler in the
    (band, bucket)-keyed probe join. Returns ``(split_index,
    registry)``: the index with ``bucket`` remapped to
    ``2*bucket + bit`` (hot) / ``2*bucket`` (cold), and the
    (band, bucket, split) registry a probe needs to aim at the new
    layout (see :func:`fan_out_probe_rows`). ``bit`` defaults to
    ``xxhash64(id) mod 2``; q426 passes an md5-derived bit so the
    whole operation stays DuckDB-oracle-able.

    Scale shape: sizing is one map-side-combinable count over the
    index; the rewrite is a narrow map joined to the broadcast-sized
    registry — index rows shuffle zero times. Re-running on a still-
    hot index extends buckets by another bit, exactly like extendible
    hashing. A caller that already computed the (band, bucket) counts
    (a maintenance report, q426) passes them as ``sizes`` (columns
    band/bucket/__sz) so the aggregation isn't paid twice; ``sizes``
    need not cover every bucket — index rows whose bucket is absent
    are treated as cold (so a pre-filtered hot-bucket report works),
    mirroring :func:`fan_out_probe_rows`'s absent-is-cold rule."""
    if sizes is None:
        sizes = index.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__sz")
        )
    registry = sizes.select(
        "band", "bucket", (F.col("__sz") > cap).alias("split")
    )
    if bit is None:
        bit = F.pmod(F.xxhash64(F.col(id_col)), F.lit(2))
    out = (
        index.join(F.broadcast(registry), ["band", "bucket"], "left")
        .withColumn("split", F.coalesce(F.col("split"), F.lit(False)))
        .withColumn(
            "bucket",
            F.col("bucket") * 2 + F.when(F.col("split"), bit).otherwise(F.lit(0)),
        )
        .drop("split")
    )
    return out, registry


def fan_out_probe_rows(batch_rows: DataFrame, registry: DataFrame) -> DataFrame:
    """Remap a probe's band-bucket rows onto a :func:`split_hot_buckets`
    layout: a row aimed at a SPLIT bucket fans out to both halves
    (``2b`` and ``2b+1`` — the probing doc's candidates may sit in
    either, since residents were rehashed by THEIR ids), a row aimed
    at a cold bucket maps to ``2b``; buckets absent from the registry
    (signatures never seen at split time) are cold by definition.
    Probe-equivalence contract: ``probe_bucket_rows(fan_out(rows),
    split_index) == probe_bucket_rows(rows, index)`` — pinned in
    tests/test_operators.py. The fan-out is a bounded ×2 on hot
    buckets only; the registry is bucket-domain-sized and broadcast."""
    j = batch_rows.join(F.broadcast(registry), ["band", "bucket"], "left")
    return (
        j.withColumn(
            "__bit",
            F.explode(
                F.when(
                    F.coalesce(F.col("split"), F.lit(False)),
                    F.array(F.lit(0), F.lit(1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .withColumn("bucket", F.col("bucket") * 2 + F.col("__bit"))
        .drop("split", "__bit")
    )


# ---------------------------------------------------------------- SimHash


def simhash64(text_col: str) -> Column:
    """64-bit SimHash: per-token xxhash64, bitwise weighted majority,
    folded back into one BIGINT.

    Single pass over the token array: the 64 per-bit vote counters fold
    together through one ``aggregate`` whose accumulator is an
    ``array<bigint>`` of length 64. The SQL (not Python) HOF API is
    required twice over: nested lambda capture of ``h``, and
    ``shiftright(h, b)`` with a *column* shift amount (``F.shiftright``
    only accepts a Python int). The unrolled per-bit alternative runs 64
    interpreted aggregate passes over the tokens — two orders of
    magnitude slower.
    """
    if not isinstance(text_col, str):
        raise TypeError("simhash64 takes a column name (builds a SQL expression)")
    toks = rf"filter(split({text_col}, '\\s+'), t -> t != '')"
    th = f"transform({toks}, t -> xxhash64(t))"
    votes = (
        f"aggregate({th}, array_repeat(cast(0 as bigint), 64), "
        f"(acc, h) -> zip_with(acc, sequence(0, 63), "
        f"(c, b) -> c + (shiftright(h, b) & 1) * 2 - 1))"
    )
    return F.expr(
        f"aggregate(zip_with({votes}, sequence(0, 63), "
        f"(v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )


def simhash_band_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = 4
) -> DataFrame:
    """Hamming-near candidates: 64-bit simhash cut into ``bands`` 16-bit
    bands; pairs sharing any band are candidates (≤ bands-1 bit flips
    guaranteed caught for hamming distance < bands)."""
    if 64 % bands != 0:
        raise ValueError(f"bands ({bands}) must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    # token-less docs share simhash 0 — same bucket-collision blowup as
    # empty-shingle MinHash; exclude them (nothing to compare)
    df = df.filter(F.size(tokens(text_col)) > 0)
    sh = df.select(F.col(id_col).alias("id"), simhash64(text_col).alias("simhash"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    buckets = sh.withColumn("bb", F.explode(band_structs)).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return _banded_candidates(buckets)


# ---------------------------------------------------------- n-gram Jaccard


def ngram_set(text_col: Column | str, n: int = 2) -> Column:
    """Sorted distinct word n-gram set (array<string>)."""
    return F.array_sort(F.array_distinct(word_shingles(text_col, n)))


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct n-gram arrays; 0.0 when both empty."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Jaccard for an explicit candidate-pair table (id_a, id_b) —
    composed with minhash_lsh_candidates for the verify stage of
    near-dup detection at scale."""
    g = df.select(F.col(id_col).alias("id"), ngram_set(text_col, n).alias("grams"))
    ga, gb = g.alias("ga"), g.alias("gb")
    return (
        pairs.join(ga, pairs.id_a == F.col("ga.id"))
        .join(gb, pairs.id_b == F.col("gb.id"))
        .select(
            # carry every pairs column through so callers never need to
            # re-join against the (expensive) candidate-generation plan
            pairs["*"],
            F.round(ngram_jaccard(F.col("ga.grams"), F.col("gb.grams")), 6).alias("jaccard"),
        )
    )


def bloom_words(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 16_384,
    n_hashes: int = 3,
    seed: int = 90_001,
) -> DataFrame:
    """Distributed Bloom-filter BUILD, entirely in JVM expressions: each
    key sets ``n_hashes`` bits at positions ``pmod(xxhash64(key, seed+i),
    n_bits)``; bits pack into 64-bit words aggregated with ``bit_or``.
    Returns ONE row: ``bloom`` = map<int,bigint> of the non-zero words —
    at most ``n_bits/64`` entries regardless of key count, so the frame
    broadcasts. No ``bloom_filter_agg`` exists in the SQL registry (it
    is optimizer-internal, cf. q181's runtime-filter rewrite); this
    build is the user-level equivalent with the same no-false-negative
    guarantee, and every expression stays inside whole-stage codegen.

    100 TB regime: the build is one explode(n_hashes)+groupBy over the
    key set — shuffle bounded by n_bits/64 words. A broadcastable map
    caps n_bits at a few hundred million (~1% fpp for tens of millions
    of corpus keys); past that, shard the corpus by key range and run
    one bloom per shard (the probe side prunes shards by the same
    range), rather than growing a single filter."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    # SQL expressions rather than the function API: shiftleft() only
    # accepts a literal shift there, and the shift here is per-row
    entries = ", ".join(
        f"struct(cast(pmod(xxhash64({key_col}, {seed + i}), {n_bits}) div 64"
        f" as int) as word,"
        f" shiftleft(1L, cast(pmod(xxhash64({key_col}, {seed + i}), {n_bits})"
        f" % 64 as int)) as mask)"
        for i in range(n_hashes)
    )
    slots = keys.select(
        F.explode(F.expr(f"array({entries})")).alias("s")
    ).select("s.word", "s.mask")
    words = slots.groupBy("word").agg(F.bit_or("mask").alias("bits"))
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )


def bloom_might_contain(
    key_col: str,
    bloom_col: str = "bloom",
    n_bits: int = 16_384,
    n_hashes: int = 3,
    seed: int = 90_001,
) -> Column:
    """Probe expression paired with :func:`bloom_words` (same
    ``n_bits``/``n_hashes``/``seed`` or the probe is meaningless):
    true iff every hashed bit is set. False ⇒ DEFINITELY absent, so a
    downstream exact verify only ever sees the true matches plus the
    fpp-bounded survivors. Absent map entries read as zero words."""
    return F.expr(
        " AND ".join(
            f"(coalesce(element_at({bloom_col},"
            f" cast(pmod(xxhash64({key_col}, {seed + i}), {n_bits}) div 64"
            f" as int)), 0L)"
            f" & shiftleft(1L, cast(pmod(xxhash64({key_col}, {seed + i}),"
            f" {n_bits}) % 64 as int))) != 0"
            for i in range(n_hashes)
        )
    )
