"""Composed end-to-end semantic deduplication over an embedding column
— the pipeline a real corpus-curation run executes, as ONE operator:

    embeddings → coarse-cell candidate blocking (IVF codebook, top-p
    probe cells) → exact cosine verification of candidate pairs only →
    connected components → canonical pick → leakage-safe train/test
    split.

This is the SemDeDup-family shape (cluster the embedding space, compare
pairs only within cells): the ONLY shuffle is a groupBy(cell) moving
O(n·probes) unit vectors, and each ~corpus/n_cells-vector cell verifies
its own pairs with one numpy gram matrix — never the n² cross product,
never a candidate-pair join shuffling wide vectors. The cells come from
the same IVF codebook the ANN search path trains
(operators/similarity.train_ivf_codebook), so one offline training pass
serves both search and dedup. Skew note: pair work is quadratic in cell
size, so a pathologically popular cell concentrates work in one task —
the adaptive cell count (≈ corpus/32, q134) is what bounds this; a
production corpus with known hot regions would split oversized cells
before verify.

Every stage downstream of candidate generation is exact: pairs are
verified with full-precision cosine, the transitive closure is
operators/components.connected_components (O(log diameter) join rounds
with lineage cuts), the canonical pick and the split are deterministic
hash/min expressions. Approximation lives ONLY in candidate recall —
near-identical vectors land in the same top cells with overwhelming
probability, and multi-probe (``n_probe`` ≥ 2) covers cell-boundary
straddlers; the planted-near-dup e2e test pins this recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hex_int_expr
from .components import dedup_clusters
from .similarity import l2_normalize
from .state import BucketLayout, probe_bucket_rows


def _probed_cells(
    df: DataFrame,
    codebook: list,
    n_probe: int,
    id_col: str,
    vec_col: str,
    with_unit: bool,
    carry_fp: bool = False,
) -> DataFrame:
    """(id, cell[, unit-vector][, vec_fp]) rows — each vector's
    ``n_probe`` highest-cosine cells, scored by an Arrow-batched numpy
    matmul. Scoring EVERY centroid per vector is dense linear algebra,
    the case where the vectorized kernel beats the interpreted
    zip_with fold by ~5x at n_cells = corpus/32 (the SQL
    literal-matrix form, similarity._argmax_cell_sql, remains the
    low-cell-count search path). argsort (not argpartition) keeps the
    probe order deterministic under score ties. With ``with_unit`` the
    row also carries the unit-normalized vector (zero vectors pass
    through, the functions.vectors.cosine convention) so the
    within-cell verify needs no second corpus join. With ``carry_fp``
    the exact-equality fingerprint (computed as a JVM expression
    BEFORE the Arrow pass) rides through the fan-out, so index builds
    need no cells⋈fingerprint join afterwards — the join cost two
    exchanges of the cell rows per build (r13)."""
    import numpy as np
    import pandas as pd

    norm_cents = [l2_normalize([float(x) for x in c]) for _, c in codebook]
    CNT = np.asarray(norm_cents, dtype=np.float64).T
    _np_probe = int(n_probe)

    def run(batches):
        for pdf in batches:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            S = X @ CNT
            top = np.argsort(-S, axis=1, kind="stable")[:, :_np_probe]
            ids = pdf[id_col].to_numpy()
            out = {
                "__id": np.repeat(ids, _np_probe),
                "cell": top.reshape(-1).astype("int32"),
            }
            if with_unit:
                norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
                U = np.where(norms > 0, X / np.where(norms == 0, 1.0, norms), X)
                out["__u"] = list(np.repeat(U, _np_probe, axis=0))
            if carry_fp:
                out["vec_fp"] = np.repeat(pdf["__fp"].to_numpy(), _np_probe)
            yield pd.DataFrame(out)

    schema = (
        "__id bigint, cell int"
        + (", __u array<double>" if with_unit else "")
        + (", vec_fp string" if carry_fp else "")
    )
    cols = [F.col(id_col), F.col(vec_col)]
    if carry_fp:
        cols.append(vector_fingerprint(vec_col).alias("__fp"))
    out = df.select(*cols).mapInPandas(run, schema)
    return out if with_unit else out.distinct()


def cell_candidates(
    df: DataFrame,
    codebook: list,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup candidate PAIRS (id_a < id_b) from coarse-cell blocking:
    each vector is assigned its ``n_probe`` highest-cosine cells (one
    narrow literal-matrix pass — no crossJoin against the centroid
    table on the corpus side), and a pair is a candidate when the two
    vectors share at least one probed cell. The only shuffle is the
    cell-id equi-self-join: O(n·n_probe) rows in, within-cell pairs
    out."""
    cells = _probed_cells(df, codebook, n_probe, id_col, vec_col, with_unit=False)
    # cut the literal-centroid expression out of every downstream plan:
    # it is ~n_cells·dim literals of SQL text, and left inline it would
    # be re-analyzed, re-codegen'd (Janino on a 100 KB method), and
    # re-executed on BOTH sides of the self-join below and in every
    # consumer action. The materialized (id, cell) frame is 2 small
    # columns × n·n_probe rows.
    cells = cells.localCheckpoint()
    a = cells.select(F.col("__id").alias("id_a"), "cell")
    b = cells.select(F.col("__id").alias("id_b"), "cell")
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def semantic_dedup(
    df: DataFrame,
    codebook: list,
    threshold: float,
    n_probe: int = 2,
    test_pct: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run the full pipeline. Returns ``(assign, edges)``:

    * ``assign`` — one row per input doc: (id_col, component, keep,
      split). ``component`` is the duplicate-cluster id (its minimum
      member id; singletons are their own component), ``keep`` marks
      the canonical member (minimum id — deterministic), ``split`` is
      'train'/'test' hashed on the CLUSTER id, so a near-dup group can
      never straddle the boundary (the eval-contamination guard).
    * ``edges`` — the verified near-dup pairs (id_a, id_b, cos_sim),
      exact cosine ≥ ``threshold``, candidates only.
    """
    import numpy as np
    import pandas as pd

    # one Arrow pass probes cells AND normalizes; the ONLY shuffle is
    # the groupBy(cell), and each ~corpus/n_cells-vector cell verifies
    # its own pairs with a numpy gram matrix — the SemDeDup shape: pair
    # work is bounded per cell, no candidate-pair join shuffling wide
    # vectors across the cluster. A pair sharing two probed cells is
    # emitted twice with the bitwise-identical similarity; the final
    # distinct collapses it.
    probed = _probed_cells(df, codebook, n_probe, id_col, vec_col, with_unit=True)
    thr = float(threshold)

    def within_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["__id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        U = np.vstack(pdf["__u"].to_numpy())
        S = U @ U.T
        iu = np.triu_indices(len(ids), k=1)
        sims = S[iu]
        m = sims >= thr
        a, b = ids[iu[0][m]], ids[iu[1][m]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[m]})

    edges = (
        probed.groupBy("cell")
        .applyInPandas(within_cell, "id_a bigint, id_b bigint, cos_sim double")
        .distinct()
    )
    # the verified edge set is tiny (near-dup pairs), but its lineage is
    # the expensive candidate-join + dot scan; materialize once so the
    # CC pass and every caller-side read (leak checks, tests) reuse it
    # instead of re-running candidate generation per action
    edges = edges.localCheckpoint()
    clustered = dedup_clusters(df, edges.select("id_a", "id_b"), id_col=id_col)
    # the hash-split protocol shared with q85/q110: md5-prefix digest mod 100
    bucket = F.pmod(F.expr(hex_int_expr("md5(cast(component as string))")), F.lit(100))
    assign = clustered.withColumn(
        "split",
        F.when(bucket >= 100 - test_pct, F.lit("test")).otherwise(F.lit("train")),
    )
    return assign, edges


# ------------------------------------------ cross-batch semantic state


def vector_fingerprint(vec_col: Column | str = "embedding") -> Column:
    """Exact-equality fingerprint of an embedding: md5 over the
    comma-joined element strings. Spark's float→string is the shortest
    round-trip representation, so fp(x) = fp(y) ⟺ x and y are
    element-wise identical floats — the verify key stored in the
    semantic index (32 chars instead of a wide vector), mirroring
    dedup.shingle_set_fingerprint's role for text."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.md5(F.concat_ws(",", F.transform(c, lambda x: x.cast("string"))))


# the persisted cell index (build_semantic_index's rows): partitioned
# on cell, probed on cell, verified on vec_fp
SEMANTIC_LAYOUT = BucketLayout(
    partition="cell",
    keys=("cell",),
    fp="vec_fp",
    schema="id bigint, cell int, vec_fp string",
)


def build_semantic_index(
    corpus: DataFrame,
    codebook: list,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persisted vector-space STATE for cross-batch incremental
    semantic dedup: one row per (vector, probed cell) — (id, cell,
    vec_fp), the :data:`SEMANTIC_LAYOUT` that operators/state.py
    writes, probes, appends to and compacts. The q388 minhash-state
    posture transposed to embeddings: write it once (partitioned by
    ``cell``), probe every
    arriving batch against the INDEX alone — corpus vectors are never
    re-scanned or re-scored. The codebook that defines the cells is
    part of the state (persist it next to the index; it is n_cells×dim
    doubles) and must be reused unchanged by every probe, exactly like
    the ANN search path's offline-trained codebook.

    Exactness contract: cell assignment is a deterministic function of
    the vector (stable argsort over the same centroid matmul), so an
    element-wise IDENTICAL vector always probes the same cells — no
    false negatives for exact re-ingests, making candidates + vec_fp
    verify equal the plain embedding-equality join. Near-identical
    vectors land in the same top cells with the usual IVF probability
    (multi-probe covers boundary straddlers) and surface as candidates
    for downstream cosine verification."""
    # fingerprint computed as a JVM expression before the Arrow pass
    # and carried THROUGH it (carry_fp) — the former cells⋈fingerprint
    # id-join paid two exchanges of the cell rows per index build, in
    # q437's case once per micro-batch (r13)
    cells = _probed_cells(
        corpus, codebook, n_probe, id_col, vec_col, with_unit=False, carry_fp=True
    )
    return cells.select(F.col("__id").alias("id"), "cell", "vec_fp")


def probe_semantic_index(
    batch: DataFrame,
    index: DataFrame,
    codebook: list,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup an arriving vector batch against a
    :func:`build_semantic_index` state table: per batch vector returns
    (id, n_candidates, is_dup, dup_of) — candidates are corpus vectors
    sharing ≥1 probed cell, ``is_dup`` is exact element-wise equality
    via the stored fingerprint, ``dup_of`` the lowest matching corpus
    id. The only join is cell-keyed with the (small) batch side
    broadcast, so the corpus-sized index is scanned map-side and never
    shuffled (state.probe_bucket_rows); callers that also append the
    survivors build the rows once and use state.probe_then_append.

    PRECONDITION: ``id_col`` must be UNIQUE within ``batch`` (q389
    negates re-ingest ids so synthetic ids never collide with genuine
    ones)."""
    rows = build_semantic_index(batch, codebook, n_probe, id_col, vec_col)
    return probe_bucket_rows(rows, index, SEMANTIC_LAYOUT, broadcast_batch)
