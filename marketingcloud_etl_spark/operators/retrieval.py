"""Persisted lexical-retrieval state: build a BM25 inverted index ONCE,
serve query batches against it forever — the q388/q389 cross-batch
state posture applied to search (the reference's closest analogue is
R16's build-once/probe-increment watermark, here for postings instead
of page counts).

Index layout (the classic serving split, Lucene-shaped):

* ``postings`` — (t, doc_id, tf, len): one row per (term, doc), with
  the doc-length norm DENORMALIZED into the posting row, so scoring a
  query never joins the corpus-sized doc-length table — the only
  corpus-sized frame a probe touches is the postings themselves,
  pruned to the query's terms. Written repartitioned + sorted by term
  (:func:`write_postings`, the one writer of the layout): parquet
  min/max row-group stats then skip every block that contains none of
  the query's terms (the file-format form of an index seek).
* ``df`` — (t, df): per-term document frequency (broadcast-sized for
  any query batch).
* ``stats`` — one row (n_docs, total_len): the global normalization
  constants.

:func:`read_bm25_index` is the one reader of the triple.

Scoring is q278's exact BM25 arithmetic (Robertson idf, k1=1.2,
b=0.75, per-doc sorted-fold sum — the bitwise-reproducible float
protocol), so an index-served score is hash-identical to the
from-scratch computation: the index changes WHERE the numbers come
from, never what they are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from .state import write_generation

# the postings table's schema (build_bm25_index's postings frame)
POSTINGS_SCHEMA = "t string, doc_id bigint, tf bigint, len bigint"


def build_bm25_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One corpus pass → (postings, df, stats). The doc-length norm is
    the SIZE of the doc's token array, captured in the same pass that
    explodes the tokens (the array is let-bound through a one-element
    explode so the regex tokenize runs ONCE per doc — a Generate
    output is a real attribute, immune to CollapseProject re-inlining)
    and carried through the (doc, term) aggregation as a grouping
    column that is functionally dependent on doc_id. This keeps the
    whole postings build at ONE exchange: the former two-pass form
    re-tokenized the corpus for a separate doc-length aggregation and
    re-joined it on doc_id; the r12 window form (Σ tf over a doc-keyed
    window) tokenized once but paid an extra doc-keyed exchange + sort
    after the tf aggregation. df folds from the postings (one row per
    (t, doc) already); stats is a one-row reduction over the per-doc
    lengths."""
    bound = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(F.struct(tokens(text_col).alias("tk")))).alias("__b"),
    )
    toks = bound.select(
        "doc_id",
        F.size("__b.tk").cast("bigint").alias("len"),
        F.explode("__b.tk").alias("t"),
    )
    postings = (
        toks.groupBy("doc_id", "len", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("t", "doc_id", "tf", "len")
    )
    df = postings.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    dl = postings.select("doc_id", "len").distinct()
    stats = corpus.agg(F.count(F.lit(1)).alias("n_docs")).join(
        dl.agg(F.sum("len").alias("total_len")), F.lit(True)
    )
    return postings, df, stats


def _sharded_postings(postings: DataFrame, n_shards: int) -> DataFrame:
    # term-sharded, term-sorted within each shard: the layout a probe's
    # term filter prunes row groups on
    return postings.repartition(n_shards, "t").sortWithinPartitions("t", "doc_id")


def write_postings(
    postings: DataFrame, path: str, n_shards: int = 8, mode: str = "overwrite"
) -> None:
    """Write ``postings`` at ``path`` in the serving layout: shards on
    the term, SORTED by term within each shard, so a probe's term
    filter prunes row groups via parquet min/max stats — the columnar
    stand-in for an index seek. ``mode="append"`` extends an index
    with new docs' postings (each append adds sorted files, but the
    shard as a whole is no longer one sorted run — compaction's job)."""
    _sharded_postings(postings, n_shards).write.mode(mode).parquet(path)


def read_bm25_index(spark, base_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The (postings, df, stats) triple written under ``base_dir`` by
    :func:`write_bm25_index` or :func:`compact_bm25_index`."""
    return tuple(
        spark.read.parquet(f"{base_dir}/{t}") for t in ("postings", "df", "stats")
    )


def refold_stats(postings: DataFrame) -> DataFrame:
    """The one-row (n_docs, total_len) stats refolded from postings:
    one (doc_id, len) row per doc, counted and summed. Counts docs
    with at least one posting — unlike :func:`build_bm25_index`'s
    stats, which count corpus rows (a doc without tokens differs)."""
    return (
        postings.select("doc_id", "len")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("len").alias("total_len"))
    )


def write_bm25_index(
    corpus: DataFrame,
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> None:
    """Materialize the index under ``base_dir`` (postings/, df/,
    stats/), postings in the :func:`write_postings` layout. At 100 TB
    shard count scales with the corpus; df/stats stay broadcast-sized
    regardless."""
    postings, df, stats = build_bm25_index(corpus, id_col, text_col)
    write_postings(postings, base_dir + "/postings", n_shards)
    df.coalesce(1).write.mode("overwrite").parquet(base_dir + "/df")
    stats.coalesce(1).write.mode("overwrite").parquet(base_dir + "/stats")


def _term_score(k1: float, b: float) -> Column:
    """q278's exact BM25 term expression over (tf, df, len, n_docs,
    total_len) columns — identical operation order so index-served
    scores are bitwise the from-scratch ones."""
    return (
        F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b)
                * F.col("len")
                / (F.col("total_len") / F.col("n_docs").cast("double"))
            )
        )
    )


def bm25_serve(
    query_terms: DataFrame,
    postings: DataFrame,
    df: DataFrame,
    stats: DataFrame,
    top_k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    terms: list[str] | None = None,
) -> DataFrame:
    """Score a batch of queries against the persisted index:
    ``query_terms`` is (query_id, t) — one row per query term. Returns
    the per-query top-``top_k``: (query_id, rank, doc_id, bm25,
    n_terms_hit), ranked by (score desc, doc_id).

    Shape: the query batch BROADCASTS onto the postings, df broadcasts
    onto the survivors, stats is a one-row broadcast; the only shuffle
    is the (query, doc) aggregation — bounded by postings hit, never
    the corpus. The per-query ranking window partitions on query_id,
    also bounded by hits.

    Pass ``terms`` (the batch's distinct terms — known to the caller,
    a query batch is driver-literal by nature) to push an ``IN``
    predicate INTO the postings scan: with the sorted-by-term layout
    parquet min/max row-group stats then skip every block containing
    none of the terms — the actual index seek. A broadcast join alone
    filters rows only AFTER they are read."""
    if terms is not None:
        postings = postings.filter(F.col("t").isin(*terms))
    hits = postings.join(F.broadcast(query_terms), "t")
    scored = (
        hits.join(F.broadcast(df), "t")
        .join(F.broadcast(stats), F.lit(True))
        .select("query_id", "doc_id", _term_score(k1, b).alias("term_score"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("term_score")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "rank", "doc_id", "bm25", "n_terms_hit")
    )


def compact_bm25_index(
    spark,
    base_dir: str,
    out_dir: str,
    keep: Column | None = None,
    n_shards: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """MAINTENANCE pass for a written BM25 index: re-sort an
    append-grown postings table into one term-sorted file per shard,
    dropping rows that fail ``keep`` (TTL / deletes), and RE-DERIVE
    df and stats from the surviving postings. Appends (new docs'
    postings, write_bm25_index's maintenance path) pile unsorted files
    onto each shard, so parquet min/max row-group skipping — the
    index-seek mechanism bm25_serve's term pushdown relies on —
    degrades with every batch; and dropped docs would keep scoring
    forever. df/stats are FUNCTIONALS of the postings (df = docs per
    term, stats = indexed-doc count + total length), so recomputing
    them from the compacted table is exact, where merging stale
    per-generation snapshots would double-count dropped docs.

    Scale shape: ONE term-keyed shuffle of the postings (term, doc,
    tf, len scalars — never the corpus text) with ``keep`` evaluated
    before the exchange; df folds from the compacted postings (one row
    per (t, doc) by construction); stats is a doc-keyed distinct +
    one-row reduction (:func:`refold_stats`). Writes a fresh
    generation under ``out_dir`` (postings/, df/, stats/) —
    state.write_generation rejects an ``out_dir`` that is
    ``base_dir``. Returns the three frames read back from it."""
    postings = spark.read.parquet(base_dir + "/postings")
    if keep is not None:
        postings = postings.filter(keep)
    write_generation(
        _sharded_postings(postings, n_shards),
        base_dir + "/postings",
        out_dir + "/postings",
    )
    p2 = spark.read.parquet(out_dir + "/postings")
    df = p2.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    df.coalesce(1).write.mode("overwrite").parquet(out_dir + "/df")
    refold_stats(p2).coalesce(1).write.mode("overwrite").parquet(out_dir + "/stats")
    return read_bm25_index(spark, out_dir)
