"""Connected components over a candidate-pair edge table — the
clustering stage of near-duplicate deduplication.

MinHash/SimHash LSH (operators/dedup.py) emits candidate PAIRS; dedup
policy ("keep one doc per duplicate cluster") needs the transitive
closure of those pairs: A~B and B~C put A,C in one cluster even if
A,C never collided. That closure is connected components.

Algorithm: min-label propagation expressed as DataFrame joins — each
iteration every node takes the minimum component label among itself
and its neighbors, until a fixpoint. This is the standard
shuffle-based CC for graphs that don't fit one machine (GraphFrames
uses the same family of algorithms); each iteration is one join +
one aggregation, both on the node id key, so the shuffle is
O(edges) per round and the round count is the graph diameter (dup
clusters are shallow — a handful of rounds in practice; ``max_iter``
bounds pathological chains).

Lineage is truncated every iteration with ``localCheckpoint`` —
without it the plan doubles per round and the driver spends its time
analyzing an exponentially growing tree (the classic iterative-
DataFrame trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with its component
    id (the minimum node id in the component). Returns (id, component).

    Raises if the propagation has not converged after ``max_iter``
    rounds — a silent partial clustering would split duplicate groups
    and leak duplicates into the "deduplicated" output.

    ``src``/``dst`` must be integral or decimal: string and float/double
    ids raise ``TypeError`` before any edge is materialized (the exact
    sum-based convergence detector below needs exact numeric ids).
    """
    # A string id would make the label sum NULL every round (None ==
    # None reports instant convergence with unpropagated labels) and a
    # double sum is inexact, so both raise — here, before the
    # symmetrize checkpoint pays for the edge materialization.
    types = dict(edges.dtypes)
    for col in (src, dst):
        t = types[col]
        if t not in ("tinyint", "smallint", "int", "bigint") and not t.startswith("decimal"):
            raise TypeError(
                f"connected_components needs integral node ids for its exact "
                f"sum-based convergence detector; got {col}: {t!r} — hash or "
                f"dense-rank the keys to bigint first"
            )
    # symmetrize: propagation below follows edges one way
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    e = e.localCheckpoint()  # cut the (possibly expensive) candidate lineage

    labels = e.select(F.col("a").alias("id")).distinct().withColumn("component", F.col("id"))
    labels = labels.localCheckpoint()
    # Convergence detector: min-label propagation only ever DECREASES a
    # node's label, so the labelling changed this round ⟺ Σ components
    # strictly decreased. One plain aggregate over the checkpointed
    # frame replaces the former join-diff-limit-count job (a second
    # join of two cached frames per round — measured ~0.2 s/round of
    # pure fixed cost on contracted graphs). decimal(38,0) keeps the
    # sum exact at any node count × id magnitude (ids checked at entry).

    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = None  # lazily computed only if round 1 doesn't converge

    for it in range(max_iter):
        if it == 0:
            # round 1's labels are the identity (component = id), so
            # the neighbor-min join against them is the edge list
            # itself — skip the join
            nbr_min = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
        else:
            nbr_min = (
                e.join(labels.withColumnRenamed("id", "b_id"), F.col("b") == F.col("b_id"))
                .select(F.col("a").alias("id"), "component")
            )
        hop = (
            labels.unionByName(nbr_min)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: follow the label's own label (label chains only
        # ever point downward, so this halves chain length per round —
        # convergence in O(log diameter) rounds instead of O(diameter))
        parent = hop.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        new_labels = (
            hop.join(parent, F.col("component") == F.col("p_id"), "left")
            .select("id", F.coalesce("p_comp", "component").alias("component"))
            .localCheckpoint()
        )
        if prev_sum is None:
            prev_sum = label_sum(labels)
        cur_sum = label_sum(new_labels)
        labels = new_labels
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def dedup_clusters(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster near-dup candidate pairs and pick one keeper per cluster
    (the minimum id — deterministic). Returns one row per ``df`` doc:
    its component and a ``keep`` flag. Docs not in any candidate pair
    are their own singleton component and are always kept (anti-join
    against the component table — broadcast-sized relative to the
    corpus, since only colliding docs have edges)."""
    comp = connected_components(candidate_pairs)
    clustered = comp.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).alias("keep"),
    )
    unpaired = (
        df.select(id_col)
        .join(comp.select(F.col("id").alias(id_col)), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("component"),
            F.lit(True).alias("keep"),
        )
    )
    return clustered.unionByName(unpaired)


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """MERGE a batch of new edges into an existing component labelling
    WITHOUT re-clustering the graph — the cross-batch state posture
    (q388-q390) for connected components. ``labels`` is yesterday's
    (id, component) table (components labelled by their minimum member
    id, :func:`connected_components`' convention); ``new_edges`` is
    today's arrivals. Returns the updated (id, component) covering
    every previously-labelled node plus every new-edge endpoint, and
    EQUAL to ``connected_components`` over the union of all edges ever
    seen (the invariant the q391 oracle hash-checks).

    The standard contracted-supergraph trick, three bounded steps:

    1. map each new-edge endpoint to its existing component (itself if
       unseen) — two broadcast-able joins keyed on the endpoint;
    2. run CC on the CONTRACTED graph whose nodes are touched
       component labels + new node ids, and whose edges are the mapped
       new edges (self-loops dropped) — its size is O(new edges), not
       O(corpus): min-labels over min-labels compose, so the contracted
       minimum IS the global minimum;
    3. relabel: old labels join the contracted relabel map on their
       component (touched components move wholesale, untouched ones
       pass through), new nodes take their contracted label directly.

    At 100 TB yesterday's labelling is a billion-row table but the
    daily work is proportional to the BATCH: the contracted CC and the
    relabel map are new-edge-sized, and the only corpus-sized
    operation is the final component-keyed relabel join — one shuffle,
    no iteration. Full CC from scratch pays O(E) per round for
    O(log d) rounds, every day."""
    e = new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    la = labels.select(F.col("id").alias("a"), F.col("component").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("component").alias("cb"))
    mapped = (
        e.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("ca", "a").alias("ma"),
            F.coalesce("cb", "b").alias("mb"),
        )
    )
    contracted = mapped.filter(F.col("ma") != F.col("mb")).distinct()
    # self-loop-only nodes (a new edge internal to one existing
    # component, or a new-node self pair) still need labels: seed them
    # as singletons so the union below covers every touched node
    touched = (
        mapped.select(F.col("ma").alias("n"))
        .unionByName(mapped.select(F.col("mb").alias("n")))
        .distinct()
    )
    cc = connected_components(contracted, "ma", "mb", max_iter)
    relabel = (
        touched.join(cc.withColumnRenamed("id", "n"), "n", "left")
        .select(F.col("n"), F.coalesce("component", "n").alias("new_comp"))
    )
    # old nodes: components move wholesale through the relabel map.
    # The map is new-edge-sized BY CONSTRUCTION (touched labels only) —
    # broadcast it explicitly: its lineage ends in localCheckpoint
    # frames whose unknown size estimates otherwise plan a sort-merge
    # join, i.e. a full shuffle of the corpus-sized label table for a
    # batch-sized lookup.
    old = labels.join(
        F.broadcast(relabel.withColumnRenamed("n", "component")), "component", "left"
    ).select("id", F.coalesce("new_comp", "component").alias("component"))
    # new nodes: endpoints never seen before take their contracted label
    new_nodes = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
        .join(F.broadcast(relabel.withColumnRenamed("n", "id")), "id", "left")
        .select("id", F.coalesce("new_comp", "id").alias("component"))
    )
    return old.unionByName(new_nodes)


def label_propagation(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SYNCHRONOUS label propagation (Raghavan et al. 2007), the
    mode-label complement to :func:`connected_components`' min-label:
    ``rounds`` rounds in which every node adopts its in-neighbors'
    most frequent label, ties broken by SMALLEST label; initial labels
    are node ids. Returns (id, lab) for every node with an in-edge.

    ``edges`` must already be SYMMETRIC and DISTINCT (the q360
    convention) — the counts are over distinct in-neighbors, so the
    result is integer-deterministic under any partitioning. Each round
    is one edge⋈label join + a (node, label) count + a max_by argmax —
    three key-partitioned wide ops, no per-node window."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint()
    labels = e.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("lab")
    )
    for _ in range(rounds):
        cnts = (
            e.join(labels, e["s"] == labels["id"])
            .groupBy(F.col("d").alias("nid"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnts.groupBy("nid")
            .agg(
                F.max_by(
                    "lab", F.struct(F.col("c"), (-F.col("lab")).alias("neg"))
                ).alias("lab")
            )
            .withColumnRenamed("nid", "id")
        )
    return labels


def incremental_label_prop(
    state: DataFrame,
    full_edges: DataFrame,
    new_edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """MERGE a batch of new edges into a persisted K-round
    label-propagation labelling WITHOUT re-running LP over the corpus
    graph — the community-detection member of the incremental state
    family (q388 minhash, q389 semantic, q391 components). ``state``
    is yesterday's (id, lab) table from :func:`label_propagation` over
    the OLD edge set; ``full_edges`` is old ∪ new (symmetric,
    distinct); ``new_edges`` the symmetric distinct arrivals. Returns
    (id, lab) EQUAL to ``label_propagation(full_edges, rounds)`` — the
    invariant the q394 oracle hash-checks.

    Why exact equality is possible for a mode-label protocol: after K
    SYNCHRONOUS rounds from identity labels, a node's label is a pure
    function of its K-level in-edge cone (round-K needs in-neighbors'
    round-(K-1) labels, ..., round-0 labels are ids). A new edge
    (s, d) therefore changes ONLY nodes within out-distance K-1 of d.
    So:

    1. AFFECTED = new-edge endpoints expanded K-1 out-hops over the
       full graph (batch-cone-sized, broadcast through the expansion
       joins);
    2. recompute rounds 1..K from scratch, restricted each round r to
       the nodes whose labels the later rounds need (the in-neighbor
       closure NEED[r] — cone-sized, never the graph);
    3. everything outside AFFECTED keeps its state label: ONE
       left-anti join of the corpus-sized state against the broadcast
       affected set — no iteration ever touches the corpus.

    At 100 TB a fresh K-round LP pays K edge-sized shuffles every day;
    this pays cone-sized joins plus one keyed pass over the state
    table. A hub endpoint inflates the cone by its degree — the same
    caveat q391's contracted CC carries for giant components; AQE skew
    handling applies to the expansion joins."""
    e = full_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    ends = (
        new_edges.select(F.col(src).alias("n"))
        .unionByName(new_edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    affected = ends.localCheckpoint(eager=True)
    for _ in range(rounds - 1):
        affected = (
            affected.unionByName(
                e.join(F.broadcast(affected), e["s"] == affected["n"]).select(
                    F.col("d").alias("n")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    # NEED[rounds] = affected; NEED[r] = in-neighbors of NEED[r+1]
    need = [None] * (rounds + 1)
    need[rounds] = affected
    for r in range(rounds - 1, 0, -1):
        need[r] = (
            e.join(F.broadcast(need[r + 1]), e["d"] == need[r + 1]["n"])
            .select(F.col("s").alias("n"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    cur = None  # round-r labels, restricted to NEED[r]
    for r in range(1, rounds + 1):
        ein = e.join(F.broadcast(need[r]), e["d"] == need[r]["n"]).select("s", "d")
        if cur is None:
            # round-0 labels are identities: label(src) = src, no join
            lab_src = ein.select(F.col("d").alias("nid"), F.col("s").alias("lab"))
        else:
            lab_src = ein.join(cur, ein["s"] == cur["id"]).select(
                F.col("d").alias("nid"), "lab"
            )
        cnts = lab_src.groupBy("nid", "lab").agg(F.count(F.lit(1)).alias("c"))
        cur = (
            cnts.groupBy("nid")
            .agg(
                F.max_by(
                    "lab", F.struct(F.col("c"), (-F.col("lab")).alias("neg"))
                ).alias("lab")
            )
            .withColumnRenamed("nid", "id")
            .localCheckpoint(eager=True)
        )
    untouched = state.join(
        F.broadcast(affected.withColumnRenamed("n", "id")), "id", "left_anti"
    )
    return untouched.unionByName(cur.select("id", "lab"))
