"""UDF / UDAF / UDTF surface (SURVEY.md §2.B "UDF / UDAF / UDTF
surface") — the escape hatches for semantics built-ins can't express,
each demonstrated on a real operator and oracle-checked.

The reference defines no UDFs (all its transforms compile to builtins,
SURVEY.md §2 R5-R10); these exist because the north-star LLM-data
pipeline needs the vectorized-Python path: Arrow-batched
``pandas_udf`` for per-row numeric kernels, ``applyInPandas`` for
whole-group logic, and UDTFs for one-to-many expansion.

Determinism protocol for the oracle comparisons: every float that
crosses the Spark/DuckDB boundary is either derived from exact integer
arithmetic (grouped z-score: bigint sums; median of ints: exact in
binary) or folded sequentially in the same order on both sides, then
rounded to 6 dp.
"""

from __future__ import annotations

import pandas as pd

import pandas as pd  # noqa: F401 — pandas_udf resolves string annotations in module globals
from typing import Iterator  # noqa: F401 — same (q263's Iterator[pd.Series] signature)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.sql.types import DoubleType

from ..io import table
from .catalog import query


# ------------------------------------------------------- scalar pandas UDF


@query(
    "q62_pandas_udf_vecnorm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(cast(embedding as double[]),
                                              x -> x * x))), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("udf", "vector"),
)
def q62_pandas_udf_vecnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm of the embedding column via an Arrow-batched scalar
    ``pandas_udf`` — the vectorized-Python hot path (one Arrow batch
    per task, never per-row pickling). The kernel folds sequentially in
    float64 so the result is bit-identical to the oracle's list fold."""

    @F.pandas_udf(DoubleType())
    def l2_norm(vecs: pd.Series) -> pd.Series:
        def norm(v) -> float:
            acc = 0.0
            for x in v:
                xf = float(x)
                acc += xf * xf
            return acc**0.5

        return vecs.map(norm)

    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm"))


# ---------------------------------------------------- grouped-map (applyInPandas)


@query(
    "q63_grouped_zscore",
    oracle="""
    WITH stats AS (
      SELECT lang,
             cast(sum(n_chars) as bigint) AS s,
             cast(sum(n_chars * n_chars) as bigint) AS ss,
             count(*) AS n
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN cast(ss as double) / n
                     - (cast(s as double) / n) * (cast(s as double) / n) > 0
                THEN round((d.n_chars - cast(s as double) / n)
                           / sqrt(cast(ss as double) / n
                                  - (cast(s as double) / n) * (cast(s as double) / n)),
                           6)
                ELSE NULL END AS z
    FROM documents d JOIN stats USING (lang)
    """,
    tags=("udf", "text"),
)
def q63_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length via ``applyInPandas`` —
    whole-group custom logic (the grouped-map escape hatch). Mean and
    variance come from exact integer sums (Python bigints), so Spark
    and DuckDB compute the identical doubles; no float-order drift.

    Scale note: applyInPandas shuffles by the grouping key and holds
    ONE group per Arrow batch in memory — fine for bounded groups like
    ``lang``; keyed differently for heavy skew (salting, skew.py)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = [int(v) for v in pdf["n_chars"]]
        n = len(vals)
        s = sum(vals)
        ss = sum(v * v for v in vals)
        mean = s / n
        var = ss / n - mean * mean
        sd = var**0.5
        # constant-length group (e.g. a lang with one doc): z undefined
        z = [round((v - mean) / sd, 6) if sd > 0 else None for v in vals]
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z": z}
        )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return d.groupBy("lang").applyInPandas(zscore, "doc_id bigint, lang string, z double")


# ----------------------------------------------------- grouped-agg pandas UDF


@query(
    "q64_pandas_udaf_median",
    oracle="""
    SELECT lang,
           cast(median(n_chars) as double) AS median_chars,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
    tags=("udf", "text"),
)
def q64_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median document length via a grouped-agg
    ``pandas_udf`` (a UDAF, type-hint form: Series -> scalar). Median of integers is exact in binary
    (middle value, or the mean of two ints — a dyadic rational), so it
    hash-matches across engines with no rounding protocol."""

    @F.pandas_udf(DoubleType())
    def med(v: pd.Series) -> float:
        return float(v.median())

    # Spark disallows mixing pandas and JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the count is a pandas agg too
    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        med("n_chars").alias("median_chars"),
        n_rows("n_chars").alias("n_docs"),
    )


# ------------------------------------------------------------------- UDTF


@query(
    "q65_udtf_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '') AS ts
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           unnest(ts) AS token,
           unnest(range(1, len(ts) + 1)) AS pos
    FROM toks
    """,
    tags=("udf", "text"),
)
def q65_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many tokenization through a Python UDTF (Spark 3.5+
    table function) with a LATERAL correlated call — the UDTF shape for
    expansions that aren't a plain ``explode``. Emits (token, pos),
    1-based, matching the oracle's parallel unnest."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string, pos: int")
    class Tokens:
        def eval(self, text: str):
            if text is None:
                return
            pos = 0
            for tok in text.split():
                pos += 1
                yield tok, pos

    spark.udtf.register("tokens_udtf", Tokens)
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_src")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM docs_udtf_src d, LATERAL tokens_udtf(d.text) t
        WHERE d.doc_id < 50
        """
    )


# ------------------------------------------------------------- mapInArrow


@query(
    "q103_mapinarrow_bytes",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(length(text)) as bigint) AS total_chars,
           cast(sum(octet_length(cast(text as blob))) as bigint) AS total_bytes
    FROM documents GROUP BY lang
    """,
    tags=("udf", "arrow"),
)
def q103_mapinarrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy Arrow-native batch path (no
    pandas conversion at all): per-batch char and byte lengths computed
    with pyarrow.compute kernels, then aggregated JVM-side. The fastest
    Python boundary Spark offers; the right tool when the kernel
    already exists in Arrow. Deterministic, so fully oracle-checked."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def lengths(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),  # lang
                    pc.cast(pc.utf8_length(b.column(1)), pa.int64()),
                    pc.cast(pc.binary_length(b.column(1)), pa.int64()),
                ],
                names=["lang", "n_chars_a", "n_bytes_a"],
            )

    d = table(spark, sf_dir, "documents").select("lang", "text")
    out = d.mapInArrow(lengths, "lang string, n_chars_a bigint, n_bytes_a bigint")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_a").alias("total_chars"),
        F.sum("n_bytes_a").alias("total_bytes"),
    )


@query(
    "q118_scalar_udf_arrow",
    oracle="""
    SELECT n_name,
           reverse(lower(n_name)) AS rev_name,
           cast(length(n_name) as int) AS name_len
    FROM nation
    """,
    tags=("udf",),
)
def q118_scalar_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-style scalar Python UDF on the Arrow serialization path
    (``useArrow=True`` — Spark 3.5+'s answer to pickle-per-row): the
    per-row function signature developers reach for first, without the
    classic 10-100x row-at-a-time transfer tax. Completes the UDF
    surface next to the pandas_udf (q62) batch form; built-ins remain
    the first choice (SURVEY §2 note) — the string kernel here is
    deliberately trivial so the oracle can mirror it exactly.

    Scale note: Arrow batching amortizes the Python boundary, but each
    row still pays a Python-function call — for string ops this stays
    ~10x slower than the codegen'd built-in (q27); use only when the
    kernel genuinely needs Python."""
    from pyspark.sql.types import IntegerType, StringType

    @F.udf(returnType=StringType(), useArrow=True)
    def rev_lower(s: str) -> str:
        return s[::-1].lower() if s is not None else None

    @F.udf(returnType=IntegerType(), useArrow=True)
    def str_len(s: str) -> int:
        return len(s) if s is not None else None

    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        rev_lower("n_name").alias("rev_name"),
        str_len("n_name").alias("name_len"),
    )


@query(
    "q152_apply_in_arrow",
    oracle="""
    SELECT l_returnflag,
           cast(count(*) as bigint) AS n,
           cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS total_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "arrow"),
)
def q152_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` — the zero-copy sibling of
    applyInPandas (q63): each group arrives as a pyarrow.Table and the
    aggregation runs entirely in pyarrow.compute kernels, no pandas
    conversion on either side. The money sum goes through decimal128
    inside Arrow (then one cast to double), matching the engine's
    decimal-money protocol exactly — which the oracle value-checks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def agg(tbl: "pa.Table") -> "pa.Table":
        price = tbl["l_extendedprice"]
        dec = pc.cast(price, pa.decimal128(18, 2))
        return pa.table(
            {
                "l_returnflag": pa.array([tbl["l_returnflag"][0].as_py()], pa.string()),
                "n": pa.array([tbl.num_rows], pa.int64()),
                "total_price": pa.array(
                    [float(pc.sum(dec).as_py())], pa.float64()
                ),
                "max_price": pa.array([pc.max(price).as_py()], pa.float64()),
            }
        )

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    return li.groupBy("l_returnflag").applyInArrow(
        agg, schema="l_returnflag string, n bigint, total_price double, max_price double"
    )


@query(
    "q160_mapinpandas_charge",
    oracle="""
    WITH per_row AS (
      SELECT l_returnflag,
             cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                  as bigint) AS charge_cents
      FROM lineitem
    )
    SELECT l_returnflag,
           cast(count(*) as bigint) AS n,
           cast(sum(charge_cents) as bigint) / 100.0 AS total_charge
    FROM per_row GROUP BY l_returnflag
    """,
    tags=("udf",),
)
def q160_mapinpandas_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInPandas`` — the Arrow-batched partition-wise transform (the
    API the multimodal decode path q54/q73 rides, here with an
    oracle-checkable computation): each task receives pandas batches of
    lineitem, computes the TPC-H charge per row vectorized in numpy,
    and rounds to integer cents HALF AWAY FROM ZERO (q81's protocol —
    pandas' default .round() is banker's half-to-even, which drifts
    from DuckDB/Spark round()) so the downstream Spark-side sum is an
    exact integer aggregation regardless of partition order. Column
    pruning still reaches the scan: only the four needed columns enter
    the Arrow channel."""
    import numpy as np

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount", "l_tax"
    )

    def per_batch(batches):
        for pdf in batches:
            c = (
                pdf["l_extendedprice"].to_numpy()
                * (1.0 - pdf["l_discount"].to_numpy())
                * (1.0 + pdf["l_tax"].to_numpy())
                * 100.0
            )
            yield pd.DataFrame(
                {
                    "l_returnflag": pdf["l_returnflag"],
                    "charge_cents": (np.sign(c) * np.floor(np.abs(c) + 0.5)).astype("int64"),
                }
            )

    per_row = li.mapInPandas(per_batch, "l_returnflag string, charge_cents bigint")
    return per_row.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("charge_cents") / F.lit(100.0)).alias("total_charge"),
    )


@query(
    "q194_udtf_analyze",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id, toks[1] AS tok_0, toks[2] AS tok_1, toks[3] AS tok_2,
           cast(len(toks) as bigint) AS n_tokens
    FROM t
    """,
    tags=("udf", "udtf"),
)
def q194_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 static ``analyze``): the output
    schema is computed AT PLAN TIME from the constant-folded width
    argument — tok_0..tok_{n-1} columns exist because analyze() said
    so, not because a static returnType was declared (q65's fixed-
    schema UDTF can't do this). The eval side pads/truncates each
    document's whitespace tokens to the analyzed width. Used via SQL
    LATERAL correlation, one UDTF call per document row; the oracle
    recomputes the same token columns with list indexing."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class SplitFixed:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            width = int(n.value)
            st = StructType()
            for i in range(width):
                st = st.add(f"tok_{i}", StringType())
            st = st.add("n_tokens", LongType())
            return AnalyzeResult(schema=st)

        def eval(self, text: str, n: int):
            toks = [t for t in (text or "").split() if t]
            row = [toks[i] if i < len(toks) else None for i in range(n)]
            yield (*row, len(toks))

    spark.udtf.register("split_fixed", SplitFixed)
    table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).createOrReplaceTempView(
        "v_d194"
    )
    return spark.sql(
        "SELECT d.doc_id, s.tok_0, s.tok_1, s.tok_2, s.n_tokens "
        "FROM v_d194 d, LATERAL split_fixed(d.text, 3) s"
    )


@query(
    "q205_arrow_interop_roundtrip",
    oracle="""
    SELECT o_orderpriority, cast(count(*) as bigint) AS n,
           cast(sum(cast(round(o_totalprice*100) as bigint)) as bigint) AS total_cents
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("udf", "arrow", "interop"),
)
def q205_arrow_interop_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow interop round trip (Spark 4 ``DataFrame.toArrow`` /
    ``createDataFrame(pyarrow.Table)``): a projection leaves Spark as
    one Arrow table, a pyarrow.compute kernel derives exact integer
    cents columnar-side, and the table re-enters Spark for the final
    aggregation — zero row-wise Python, values bit-identical to the
    all-Spark path (which is what the oracle checks). This is the
    hand-off boundary to the Arrow ecosystem (polars/duckdb/feature
    stores); the driver materialization scopes it to dimension-sized
    frames — corpus-scale exchange goes through mapInArrow (q103)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    at = o.toArrow()
    cents = pc.cast(
        # half-AWAY-from-zero, the repo cents protocol: pyarrow's
        # default round_mode is half_to_even and would drift vs the
        # oracle on exact half cents
        pc.round(pc.multiply(at["o_totalprice"], 100), round_mode="half_towards_infinity"),
        pa.int64(),
    )
    at2 = at.set_column(at.schema.get_field_index("o_totalprice"), "cents", cents)
    back = spark.createDataFrame(at2)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "q206_pandas_api_on_spark",
    oracle="""
    SELECT l_returnflag, cast(count(*) as bigint) AS n,
           cast(sum(cast(l_quantity as bigint)) as bigint) AS qty,
           cast(sum(cast(round(l_extendedprice*100) as bigint)) as bigint) AS cents
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "pandas-api"),
)
def q206_pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (``pyspark.pandas``) — the drop-in pandas
    surface compiled to the same Catalyst plans: ``assign`` /
    ``groupby().agg(named aggs)`` over lineitem, then ``to_spark``.
    Proves a pandas-habituated user gets DISTRIBUTED execution with
    values identical to the SQL path (the oracle) — including the
    exact-cents protocol expressed pandas-style (round→astype)."""
    import warnings

    import pyspark.pandas as ps  # noqa: F401

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        psdf = (
            table(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_extendedprice")
            .pandas_api()
        )
        psdf = psdf.assign(cents=(psdf["l_extendedprice"] * 100).round().astype("int64"))
        g = (
            psdf.groupby("l_returnflag")
            .agg(n=("l_quantity", "count"), qty=("l_quantity", "sum"), cents=("cents", "sum"))
            .reset_index()
        )
        out = g.to_spark()
    return out.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("qty").cast("bigint").alias("qty"),
        F.col("cents").cast("bigint").alias("cents"),
    )


@query(
    "q248_udtf_table_arg",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), spans AS (
      SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           cast(count(*) as bigint) AS n_sessions,
           cast(sum(n) as bigint) AS n_events,
           cast(max(n) as bigint) AS max_session_events
    FROM spans GROUP BY user_id
    """,
    tags=("udf", "udtf", "session"),
)
def q248_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF over a TABLE ARGUMENT with PARTITION BY / ORDER BY (Spark
    3.5+/4) — the engine feeds each user's rows, time-ordered, to a
    fresh UDTF instance and calls terminate() at partition end: custom
    per-key streaming-style logic (here gap-sessionization statistics,
    q56's semantics) WITHOUT applyInPandas materializing each group as
    a DataFrame. The partitioning/ordering contract lives in the SQL,
    so Catalyst plans the shuffle+sort and the Python side stays a
    10-line accumulator. Oracle = the q56 lag/cumsum formulation plus
    per-session maxima."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id: bigint, n_sessions: bigint, n_events: bigint, "
        "max_session_events: bigint"
    )
    class SessionStats:
        def __init__(self):
            self.user = None
            self.last = None
            self.n = 0
            self.sessions = 0
            self.cur = 0
            self.best = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            ts = row["ts"]
            if self.last is None or (ts - self.last).total_seconds() >= 1800:
                self.sessions += 1
                if self.cur > self.best:
                    self.best = self.cur
                self.cur = 1
            else:
                self.cur += 1
            self.last = ts

        def terminate(self):
            if self.cur > self.best:
                self.best = self.cur
            if self.user is not None:
                yield self.user, self.sessions, self.n, self.best

    spark.udtf.register("mcetl_session_stats", SessionStats)
    table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("__q248_ev")
    return spark.sql(
        "SELECT s.user_id, s.n_sessions, s.n_events, s.max_session_events "
        "FROM mcetl_session_stats(TABLE(__q248_ev) "
        "PARTITION BY user_id ORDER BY (ts, event_id)) s"
    )


@query(
    "q263_pandas_udf_iter",
    oracle="""
    SELECT o_orderkey,
           cast(round(o_totalprice * 100) as bigint) * 3 + 7 AS scored_cents
    FROM orders
    """,
    tags=("udf", "arrow"),
)
def q263_pandas_udf_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-of-batches pandas UDF (``Iterator[pd.Series] ->
    Iterator[pd.Series]``) — the model-serving idiom: expensive
    per-worker setup (tokenizer load, ONNX session, codebook mmap)
    runs ONCE per partition before the batch loop, instead of once per
    Arrow batch like a plain SCALAR UDF would. Here the 'model' is a
    deterministic affine stub (w=3, b=7 — loaded in the setup block to
    prove the lifecycle); the arithmetic is exact integer cents so the
    oracle reproduces it in SQL. Same Arrow transfer as q62, different
    execution contract."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # per-partition setup: runs once, before any batch
        model = {"w": 3, "b": 7}
        for cents in batches:
            yield cents * model["w"] + model["b"]

    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_orderkey", score(cents).alias("scored_cents")
    )


@query(
    "q264_pandas_udaf_window",
    oracle="""
    SELECT o_orderkey,
           cast(sum(cast(round(o_totalprice * 100) as bigint))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) as bigint)
             AS trailing3_cents
    FROM orders
    """,
    tags=("udf", "arrow", "window"),
)
def q264_pandas_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF evaluated OVER A WINDOW FRAME — the
    custom-aggregate-in-a-window surface (q64 uses the UDAF in
    groupBy; windows re-evaluate it per frame): a trailing-3-row sum
    per customer computed by a pandas reducer on each frame slice.
    Exact integer cents make the pandas int64 sum equal the SQL window
    sum bit-for-bit. The frame must be BOUNDED (Spark requirement for
    pandas window UDFs) — which is also the only shape that scales:
    each frame ships ≤3 values over Arrow."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def frame_sum(cents: pd.Series) -> int:
        return int(cents.sum())

    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_orderkey",
        frame_sum(cents).over(w).alias("trailing3_cents"),
    )
