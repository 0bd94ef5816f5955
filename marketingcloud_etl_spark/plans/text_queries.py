"""Text-analysis catalog (BASELINE north-star: tokenize/word-count,
tf-idf, language-ID heuristic, quality scoring, fingerprinting) — all
built-in expressions over ``documents``, all oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import tokens, tokens_sql
from ..functions.vectors import cosine_sql
from ..operators.dedup import word_shingles
from .dedup_queries import _H32, _H32_DUCK
from ..io import query_state, scratch_dir, table
from .catalog import query

_TOKS = tokens_sql("text")


@query(
    "q41_tokenize_wordcount",
    oracle=f"""
    SELECT t AS word, count(*) AS n
    FROM (SELECT unnest({_TOKS}) AS t FROM documents)
    GROUP BY t ORDER BY n DESC, t LIMIT 20
    """,
    tags=("text", "headline"),
)
def q41_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + count: global top-20 words (deterministic
    tiebreak on the word)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@query(
    "q42_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t
    ), dfreq AS (
      SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY t
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.t AS term,
             round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) DESC, tf.t
             ) AS rn
      FROM tf JOIN dfreq ON tf.t = dfreq.t CROSS JOIN n
      WHERE tf.doc_id < 100
    )
    SELECT doc_id, term, tfidf, rn FROM scored WHERE rn <= 5
    """,
    tags=("text",),
)
def q42_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-math tf-idf (log-smoothed), top-5 terms per document.
    The MLlib HashingTF+IDF pipeline gives the hashed variant; this
    formulation keeps exact terms and stays oracle-checkable.

    The document-frequency aggregation keys on the raw token — a
    Zipf-skewed key at corpus scale (a stopword appears in nearly every
    document) — so it goes through the salted two-phase count-distinct
    (operators/skew.py): exact same result, per-key reduce fan-in
    bounded by n_salts."""
    from ..operators.skew import salted_count_distinct

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = salted_count_distinct(toks, ["t"], "doc_id", out="df")
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    w = W.partitionBy("doc_id").orderBy(score.desc(), F.col("t"))
    return (
        tf.filter(F.col("doc_id") < 100)
        .join(dfreq, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("t").alias("term"),
            F.round(score, 6).alias("tfidf"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "q43_text_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(n_chars) as bigint) AS total_chars,
           cast(sum(n_chars) as double) / count(*) AS avg_chars,
           cast(sum(len({_TOKS})) as double) / count(*) AS avg_tokens,
           max(n_chars) AS max_chars,
           min(n_chars) AS min_chars
    FROM documents GROUP BY lang
    """,
    tags=("text",),
)
def q43_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (counts are exact integers, so
    plain sums are deterministic)."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(tokens("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(n_toks).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
        F.min("n_chars").alias("min_chars"),
    )


_STOPLISTS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _votes_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKS}, t -> t IN ({inlist})))"


@query(
    "q44_langid_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_votes_sql(_STOPLISTS['en'])} AS v_en,
             {_votes_sql(_STOPLISTS['es'])} AS v_es,
             {_votes_sql(_STOPLISTS['de'])} AS v_de,
             {_votes_sql(_STOPLISTS['fr'])} AS v_fr
      FROM documents
    ), pred AS (
      SELECT lang,
             CASE
               WHEN v_en + v_es + v_de + v_fr = 0 THEN 'und'
               WHEN v_en >= v_es AND v_en >= v_de AND v_en >= v_fr THEN 'en'
               WHEN v_es >= v_de AND v_es >= v_fr THEN 'es'
               WHEN v_de >= v_fr THEN 'de'
               ELSE 'fr'
             END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY lang, lang_pred
    """,
    tags=("text",),
)
def q44_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (n-gram-free heuristic): count
    stopword hits per candidate language, argmax with a fixed
    preference order, confusion-matrix style output vs the labeled
    ``lang`` column."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")

    def n_hits(ws: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda t: t.isin(*ws)))

    votes = {code: n_hits(ws) for code, ws in _STOPLISTS.items()}
    scored = d.select("lang", *[v.alias(f"v_{c}") for c, v in votes.items()])
    v = {c: F.col(f"v_{c}") for c in _STOPLISTS}
    pred = (
        F.when(v["en"] + v["es"] + v["de"] + v["fr"] == 0, "und")
        .when((v["en"] >= v["es"]) & (v["en"] >= v["de"]) & (v["en"] >= v["fr"]), "en")
        .when((v["es"] >= v["de"]) & (v["es"] >= v["fr"]), "es")
        .when(v["de"] >= v["fr"], "de")
        .otherwise("fr")
    )
    return (
        scored.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q45_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             cast(len({_TOKS}) as int) AS n_tokens,
             cast(len(list_distinct({_TOKS})) as int) AS n_distinct,
             cast(length(replace(text, ' ', '')) as int) AS n_letter_chars,
             cast(length(regexp_replace(text, '[A-Za-z0-9 \t\n\r]', '', 'g')) as int) AS n_punct,
             cast(len(list_filter({_TOKS},
                  t -> t IN ('the','a','of','and','to','el','la','de'))) as int) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct,
           round(CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens ELSE 0.0 END, 6) AS distinct_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_letter_chars * 1.0 / n_tokens ELSE 0.0 END, 6) AS avg_token_len,
           round(CASE WHEN n_letter_chars > 0 THEN n_punct * 1.0 / n_letter_chars ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
           round(0.5 * (CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens ELSE 0.0 END)
               + 0.3 * (CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END)
               + 0.2 * least(n_tokens, 100) / 100.0, 6) AS quality
    FROM feat
    """,
    tags=("text",),
)
def q45_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: lexical diversity, mean token length,
    stopword ratio, length prior — combined into one bounded score
    (the LLM-data curation filter shape)."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "el", "la", "de"))
    feat = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_letter_chars"),
        F.length(F.regexp_replace("text", "[A-Za-z0-9 \t\n\r]", "")).alias("n_punct"),
        F.size(stop).alias("n_stop"),
    )
    nt = F.col("n_tokens")
    ratio = lambda num: F.when(nt > 0, num * 1.0 / nt).otherwise(F.lit(0.0))  # noqa: E731
    nl = F.col("n_letter_chars")
    return feat.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(ratio(F.col("n_distinct")), 6).alias("distinct_ratio"),
        F.round(ratio(F.col("n_letter_chars")), 6).alias("avg_token_len"),
        F.round(
            F.when(nl > 0, F.col("n_punct") * 1.0 / nl).otherwise(F.lit(0.0)), 6
        ).alias("punct_ratio"),
        F.round(ratio(F.col("n_stop")), 6).alias("stopword_ratio"),
        F.round(
            0.5 * ratio(F.col("n_distinct"))
            + 0.3 * ratio(F.col("n_stop"))
            + 0.2 * F.least(nt, F.lit(100)) / 100.0,
            6,
        ).alias("quality"),
    )


@query(
    "q46_doc_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
      FROM documents
    )
    SELECT source, count(*) AS n_docs, count(DISTINCT fingerprint) AS n_unique
    FROM fp GROUP BY source
    """,
    tags=("text", "dedup"),
)
def q46_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct vocabulary — catches token-shuffled duplicates that exact
    content hashing misses."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " "))
    return (
        d.select("source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
        )
    )


@query(
    "q79_rolling_hash",
    oracle=f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKS},
                            t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h
      FROM documents WHERE doc_id < 300
    ), w AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - 2),
                            i -> list_reduce(h[i : i + 3],
                                             (acc, x) -> (acc * 257 + x) % 2147483647)) AS wh
      FROM th WHERE len(h) >= 4
    )
    SELECT doc_id,
           cast(len(wh) as bigint) AS n_windows,
           list_min(wh) AS min_hash,
           cast(len(list_distinct(wh)) as bigint) AS n_distinct
    FROM w
    """,
    tags=("text", "dedup"),
)
def q79_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting (Rabin-Karp over 4-token windows,
    the winnowing primitive): polynomial fold (acc·257 + h) mod p over
    each window of 32-bit token hashes. Every value is exact integer
    arithmetic shared with the oracle (md5-prefix token hashes, the
    same modulus), so the whole fingerprint table hash-matches."""
    k, b, p = 4, 257, (1 << 31) - 1
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    th = F.transform(
        tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    d = d.withColumn("h", th).filter(F.size("h") >= k)
    # h is referenced twice (size + slice) so CollapseProject keeps the
    # alias materialized; each window folds its k hashes
    wh = F.transform(
        F.sequence(F.lit(1), F.size("h") - (k - 1)),
        lambda i: F.aggregate(
            F.slice("h", i, k),
            F.lit(0).cast("bigint"),
            lambda acc, x: F.pmod(acc * b + x, F.lit(p)),
        ),
    )
    d = d.withColumn("wh", wh)
    return d.select(
        "doc_id",
        F.size("wh").cast("bigint").alias("n_windows"),
        F.array_min("wh").alias("min_hash"),
        F.size(F.array_distinct("wh")).cast("bigint").alias("n_distinct"),
    )


@query(
    "q82_bpe_token_count",
    oracle=r"""
    WITH t AS (
      SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS n_ws
      FROM documents
    )
    SELECT source,
           cast(sum(n_bpe) as bigint) AS total_bpe_tokens,
           cast(sum(n_ws) as bigint) AS total_ws_tokens,
           round(cast(sum(n_bpe) as double) / sum(n_ws), 6) AS bpe_per_word
    FROM t GROUP BY source
    """,
    tags=("text",),
)
def q82_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (the LLM-pipeline budget estimator):
    whitespace words and a BPE-ish pre-tokenizer regex (letter runs |
    single digits | single punctuation — the GPT-2 pre-tokenizer's
    coarse shape). Same pattern evaluates identically under Java regex
    and RE2, so the counts hash-match the oracle."""
    d = table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), F.lit(0)))
    n_ws = F.size(tokens("text"))
    t = d.select("source", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
    return t.groupBy("source").agg(
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_ws").alias("total_ws_tokens"),
        F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6).alias("bpe_per_word"),
    )


@query(
    "q88_doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
    ), chunks AS (
      SELECT doc_id,
             unnest(range(0, greatest(1, cast(ceil((len(toks) - 10) / 40.0) as bigint)))) AS chunk_id,
             toks
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_id,
           array_to_string(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' ') AS chunk_text,
           cast(len(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50]) as int) AS n_tokens
    FROM chunks
    """,
    tags=("text", "chunking"),
)
def q88_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training/RAG pipelines: 50-token windows
    with 10-token overlap (stride 40), one output row per chunk —
    sequence + slice + explode, no UDF, so chunking runs inside the
    scan stage. Chunk count = ceil((n_tokens - overlap) / stride),
    min 1 for any non-empty doc."""
    size, overlap = 50, 10
    stride = size - overlap
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = d.withColumn("toks", tokens("text")).filter(F.size("toks") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - overlap) / float(stride)).cast("bigint"),
    )
    d = d.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    chunk = F.slice("toks", F.col("chunk_id").cast("int") * stride + 1, size)
    return d.select(
        "doc_id",
        "chunk_id",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


@query(
    "q89_decontamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len({_TOKS}) - 6, 1)),
               i -> array_to_string({_TOKS}[i : i + 7], ' ')))) AS gram
      FROM documents
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < 20
    ), hits AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id >= 20
    )
    SELECT count(*) AS n_contaminated,
           (SELECT count(*) FROM documents WHERE doc_id >= 20) AS n_train_docs
    FROM hits
    """,
    tags=("text", "dedup"),
)
def q89_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-gram
    with the held-out set (docs 0-19 stand in for the benchmark). The
    join is on 8-byte xxhash64 gram fingerprints after explode+distinct
    — shuffle is O(total distinct grams) and carries bigints, not
    ~50-char strings (a 64-bit collision between a specific train gram
    and a specific bench gram is ~n²/2⁶⁴ — immaterial next to the
    sampling noise of any real decontamination run).

    The gram join key is Zipf-skewed (common 8-grams hit millions of
    training docs) and a full benchmark-suite gram set is too big to
    broadcast, so the join runs salted (operators/skew.py): the train
    side gets a per-row salt, the bench side is replicated across the
    salts — a hot gram's rows spread over n_salts reducers, result
    identical to the plain join."""
    from ..operators.skew import salted_join_key

    n = 8
    d = table(spark, sf_dir, "documents")
    # gram fingerprint = polynomial fold over per-token hashes (shared
    # with the MinHash shingle stage — operators/dedup.py
    # ::poly_ngram_hashes): O(1) arithmetic per gram, no ~50-char
    # shingle strings; ~2^41 code space makes a train×bench collision
    # immaterial (~n²/2^41)
    from ..operators.dedup import poly_ngram_hashes

    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(poly_ngram_hashes("text", n))).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") < 20).select("gram").distinct()
    train_grams = grams.filter(F.col("doc_id") >= 20)
    train_s, bench_s = salted_join_key(train_grams, bench, n_salts=8)
    hits = train_s.join(bench_s, ["gram", "__salt"]).select("doc_id").distinct()
    n_train = d.filter(F.col("doc_id") >= 20).count()
    return hits.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.lit(n_train).cast("long").alias("n_train_docs"),
    )


@query(
    "q90_curation_pipeline",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang, text,
             cast(len({_TOKS}) as int) AS n_tokens,
             cast(len(list_distinct({_TOKS})) as int) AS n_distinct
      FROM documents
    ), quality AS (
      SELECT *,
             round(CASE WHEN n_tokens > 0
                        THEN n_distinct * 1.0 / n_tokens ELSE 0.0 END, 6) AS distinct_ratio
      FROM feat
    ), filtered AS (
      SELECT * FROM quality
      WHERE n_tokens >= 20 AND distinct_ratio >= 0.3 AND lang IN ('en', 'es')
    ), deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM filtered
      ) WHERE rn = 1
    ), split AS (
      SELECT lang,
             CASE WHEN {_H32_DUCK} % 100 < 90
                  THEN 'train' ELSE 'test' END AS split
      FROM deduped
    )
    SELECT lang, split, count(*) AS n_docs
    FROM split GROUP BY lang, split
    """,
    tags=("text", "etl", "headline"),
)
def q90_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation pipeline, composed from the
    catalog's building blocks in ONE declarative plan: quality features
    → threshold filter → language filter → exact dedup (keep lowest
    doc_id per text hash) → deterministic hash train/test split →
    per-split counts. Catalyst fuses the feature projection into the
    scan; the only shuffles are the dedup window and the final agg."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    feat = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    quality = feat.withColumn(
        "distinct_ratio",
        F.round(
            F.when(F.col("n_tokens") > 0, F.col("n_distinct") * 1.0 / F.col("n_tokens"))
            .otherwise(F.lit(0.0)),
            6,
        ),
    )
    filtered = quality.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("distinct_ratio") >= 0.3)
        & F.col("lang").isin("en", "es")
    )
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    bucket = F.pmod(F.expr(_H32), F.lit(100))
    split = deduped.select(
        "lang", F.when(bucket < 90, "train").otherwise("test").alias("split")
    )
    return split.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))


_TRIGRAMS_DUCK = (
    "list_distinct(list_transform(range(1, greatest(length(text) - 1, 1)), "
    "i -> substr(text, i, 3)))"
)


@query(
    "q92_langid_chargram",
    oracle=f"""
    WITH doc_grams AS (
      SELECT doc_id, lang, unnest({_TRIGRAMS_DUCK}) AS gram FROM documents
    ), profile AS (
      SELECT lang AS plang, gram FROM (
        SELECT lang, gram, count(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS rn
        FROM doc_grams WHERE doc_id < 100
        GROUP BY lang, gram
      ) WHERE rn <= 50
    ), overlap AS (
      SELECT d.doc_id, d.lang, p.plang, count(*) AS n_shared
      FROM doc_grams d JOIN profile p USING (gram)
      WHERE d.doc_id >= 100
      GROUP BY d.doc_id, d.lang, p.plang
    ), pred AS (
      SELECT lang, plang AS lang_pred FROM (
        SELECT lang, plang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_shared DESC, plang) AS rn
        FROM overlap
      ) WHERE rn = 1
    )
    SELECT lang, lang_pred, count(*) AS n_docs FROM pred GROUP BY lang, lang_pred
    """,
    tags=("text",),
)
def q92_langid_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (Cavnar-Trenkle shape, the classic
    n-gram heuristic): per-language top-50 trigram profiles trained on
    the first 100 labeled docs, remaining docs scored by profile
    overlap, argmax with deterministic tiebreak — a full train/score
    workflow in one declarative plan, hash-matched end-to-end."""
    d = table(spark, sf_dir, "documents")
    doc_grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            # the length guard must be an if(): sequence(1, 0) counts
            # DOWN in Spark ([1, 0]), which would emit bogus short grams
            # for texts under 3 chars where the oracle emits none
            F.expr(
                "if(length(text) >= 3, "
                "array_distinct(transform(sequence(1, length(text) - 2), "
                "i -> substring(text, i, 3))), "
                "cast(array() as array<string>))"
            )
        ).alias("gram"),
    )
    train = doc_grams.filter(F.col("doc_id") < 100)
    wp = W.partitionBy("lang").orderBy(F.col("n").desc(), "gram")
    profile = (
        train.groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 50)
        .select(F.col("lang").alias("plang"), "gram")
    )
    overlap = (
        doc_grams.filter(F.col("doc_id") >= 100)
        .join(F.broadcast(profile), "gram")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    wd = W.partitionBy("doc_id").orderBy(F.col("n_shared").desc(), "plang")
    pred = (
        overlap.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("plang").alias("lang_pred"))
    )
    return pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q96_repetition_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS ts FROM documents WHERE doc_id < 300
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i+1])) AS g,
             len(ts) AS n_tokens,
             len(list_distinct(ts)) AS n_distinct
      FROM toks WHERE len(ts) >= 2
    ), counts AS (
      SELECT doc_id, g, count(*) AS c,
             any_value(n_tokens) AS n_tokens, any_value(n_distinct) AS n_distinct
      FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           cast(sum(c) as bigint) AS n_2grams,
           cast(max(c) as bigint) AS top2_count,
           round(cast(max(c) as double) / sum(c), 6) AS top2_frac,
           round(1.0 - cast(any_value(n_distinct) as double)
                       / any_value(n_tokens), 6) AS dup_token_frac,
           (cast(max(c) as double) / sum(c)) > 0.18 AS flag_repetitive
    FROM counts GROUP BY doc_id
    """,
    tags=("text", "quality"),
)
def q96_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family): per-document top-2-gram mass fraction and duplicate-token
    fraction, with the Gopher-style repetitive flag. Line/paragraph
    variants are the same plan over a different split expression (this
    corpus is single-line, so 2-grams are the non-vacuous signal).
    Shuffle is O(total 2-grams) keyed on (doc_id, gram) — fine-grained,
    skew-free; the per-doc rollup rides the same partial-agg path."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ts = tokens("text")
    base = d.select(
        "doc_id",
        ts.alias("ts"),
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_distinct"),
    ).filter(F.col("n_tokens") >= 2)
    grams = base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.explode(
            F.expr("transform(sequence(1, size(ts) - 1), i -> concat(ts[i-1], ' ', ts[i]))")
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c"),
        F.any_value(F.col("n_tokens")).alias("n_tokens"),
        F.any_value(F.col("n_distinct")).alias("n_distinct"),
    )
    top2_frac = F.max("c").cast("double") / F.sum("c")
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_2grams"),
        F.max("c").cast("long").alias("top2_count"),
        F.round(top2_frac, 6).alias("top2_frac"),
        F.round(
            F.lit(1.0) - F.any_value(F.col("n_distinct")).cast("double") / F.any_value(F.col("n_tokens")),
            6,
        ).alias("dup_token_frac"),
        (top2_frac > 0.18).alias("flag_repetitive"),
    )


@query(
    "q97_pii_redaction",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, lang,
             text || ' contact user' || cast(doc_id as varchar)
                  || '@example.com or call 555-01' || cast(doc_id % 90 + 10 as varchar)
                  AS text
      FROM documents
    ), red AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+')) AS n_emails,
             len(regexp_extract_all(text, '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]')) AS n_phones,
             regexp_replace(
               regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+', '<EMAIL>', 'g'),
               '[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS redacted
      FROM synth
    )
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(n_emails) as bigint) AS n_emails,
           cast(sum(n_phones) as bigint) AS n_phones,
           cast(sum(CASE WHEN redacted LIKE '%<EMAIL>%'
                          AND redacted LIKE '%<PHONE>%' THEN 1 ELSE 0 END) as bigint)
             AS n_fully_redacted
    FROM red GROUP BY lang
    """,
    tags=("text", "quality"),
)
def q97_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: regex detection + redaction
    of emails and phone-like tokens, with per-language audit counts.
    The fixture corpus carries no PII, so deterministic synthetic PII
    is appended first — the detection/redaction expressions are what's
    under test, on both engines. Patterns use explicit ASCII classes
    (Java regex and RE2 agree on those; \\d and \\s have corner-case
    divergences). Pure codegen'd string expressions — no UDFs."""
    email_re = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
    phone_re = "[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
    d = table(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-01"),
            (F.col("doc_id") % 90 + 10).cast("string"),
        ).alias("text"),
    )
    red = synth.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(email_re), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), 0)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("redacted"),
    )
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum(
            F.when(
                F.col("redacted").contains("<EMAIL>") & F.col("redacted").contains("<PHONE>"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_fully_redacted"),
    )


@query(
    "q107_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id, coalesce(len({_TOKS}), 0) AS tok FROM documents
    ), packed AS (
      SELECT source, doc_id, tok,
             cast(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  as bigint) - tok AS start
      FROM toks
    ), seqs AS (
      SELECT source, cast(floor(start / 512.0) as bigint) AS seq_id, doc_id, tok
      FROM packed
    )
    SELECT source, seq_id,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(tok) as bigint) AS seq_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM seqs GROUP BY source, seq_id
    """,
    tags=("text", "llm-pipeline"),
)
def q107_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing, concat-and-chunk style: documents are
    concatenated in deterministic (source, doc_id) order and split into
    512-token sequences; a doc belongs to the sequence where its first
    token lands. This is the standard LLM-pretraining packing shape
    (concatenate the corpus, chunk every N tokens) expressed as a
    window cumulative sum — no sequential driver loop.

    Scale shape: packing is PER SOURCE (each corpus shard packs
    independently), so the window partitions by source and the only
    shuffle is hash(source); no global ordering bottleneck. At 100 TB
    the per-source streams pack in parallel across executors; a single
    global pack order would serialize the corpus through one task."""
    d = table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # NULL text: Spark size(NULL)=-1 vs DuckDB len(NULL)=NULL — pin
    # both to 0 tokens so a hostile corpus can't corrupt the cumsum
    n_tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(tokens("text")))
    toks = d.select("source", "doc_id", n_tok.alias("tok"))
    packed = toks.withColumn(
        "start", F.sum("tok").over(w).cast("long") - F.col("tok")
    )
    seqs = packed.withColumn(
        "seq_id", F.floor(F.col("start") / F.lit(512.0)).cast("long")
    )
    return seqs.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("long").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "q108_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), counts AS (
      SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t
    )
    SELECT doc_id,
           cast(sum(c) as bigint) AS n_tokens,
           cast(count(*) as bigint) AS n_unique,
           round((ln(cast(sum(c) as double))
                  - list_reduce(list_sort(list(c * ln(cast(c as double)))),
                                (a, b) -> a + b) / sum(c)) / ln(2.0), 6)
             AS entropy_bits
    FROM counts GROUP BY doc_id
    """,
    tags=("text", "quality"),
)
def q108_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic repetition/quality signal (low entropy = template or
    boilerplate text; complements q96's top-gram mass filters).

    One explode + two hash aggregations, all codegen'd built-ins. The
    identity -sum(p*log2 p) = log2(T) - sum(c*ln c)/(T*ln 2) turns the
    per-token probability pass into plain distributive SUMs, so the
    whole thing is a single shuffle on (doc_id, token) then doc_id —
    no join back for the per-doc total, which matters when doc_id
    cardinality is billions.

    The c*ln(c) terms are irrational doubles, so a plain SUM would be
    partial-aggregation-order-dependent (the repo's determinism rule
    bans raw SUM(double)). Both engines instead left-fold the SORTED
    term array — the identical sequence of IEEE additions, so the sum
    is deterministic and engine-identical. The array is per-document
    (bounded by doc vocabulary), not per-corpus, so this stays
    scale-safe."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(tokens("text")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = F.sum("c")
    term = F.col("c") * F.log(F.col("c").cast("double"))
    sum_clog = F.aggregate(
        F.array_sort(F.collect_list(term)), F.lit(0.0), lambda a, x: a + x
    )
    return counts.groupBy("doc_id").agg(
        total.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.round(
            (F.log(total.cast("double")) - sum_clog / total) / F.log(F.lit(2.0)),
            6,
        ).alias("entropy_bits"),
    )


@query(
    "q116_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_TOKS}) AS w FROM documents
    ), pairs AS (
      SELECT substr(w, cast(i as int), 2) AS pair
      FROM words, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    )
    SELECT pair, cast(count(*) as bigint) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("text", "llm-pipeline"),
)
def q116_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed counting step of BPE vocabulary training: count
    adjacent symbol pairs across the corpus and surface the top merge
    candidates (real BPE iterates this; each round is exactly this
    aggregation with the previous round's merges applied). Explode
    words, explode positions, substring the pair — all codegen'd
    built-ins, one (pair) shuffle with map-side partials.

    Word length is guarded >= 2 on both engines: Spark's sequence(1,
    len-1) would step DOWNWARD for single-char words ([1,0]), silently
    emitting garbage pairs."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@query("q117_freq_items", oracle=None, tags=("sketch", "rows-only"))
def q117_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent items (heavy hitters) over the token
    stream via df.stat.freqItems — the one-pass bounded-memory sketch
    for "which tokens exceed 2% share" at a scale where an exact
    groupBy would be wasteful. The guarantee is one-sided (a superset:
    everything above the support threshold is present, plus possible
    false positives), so the result is pinned rows-only; the inclusion
    guarantee vs exact counts is tested in tests/test_operators.py.
    The sketch merges associatively across partitions — no shuffle of
    raw tokens, just one sketch per partition to the driver.

    The frequent-token list is projected as a space-joined STRING, not
    a raw ArrayType: the driver's pandas canonicalizer factorizes every
    output cell even for rows-only queries (round-10's q117 red — list
    cells are unhashable), so the catalog-wide contract is scalar-only
    final projections (test_plan_quality.py::
    test_oracle_query_outputs_are_driver_hashable, no exemptions)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("t"))
    hits = toks.stat.freqItems(["t"], support=0.02)
    return hits.select(
        F.concat_ws(" ", F.array_sort(F.col("t_freqItems"))).alias(
            "frequent_tokens"
        ),
        F.size(F.col("t_freqItems")).alias("n_frequent"),
    )


@query(
    "q137_freqitems_inclusion_check",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS t FROM documents
    ), tot AS (
      SELECT count(*) AS n FROM toks
    ), cnt AS (
      SELECT t, count(*) AS c FROM toks GROUP BY t
    )
    SELECT cast(count(*) as bigint) AS n_heavy,
           true AS all_included
    FROM cnt, tot WHERE c > 0.02 * n
    """,
    tags=("sketch",),
)
def q137_freqitems_inclusion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q117's freqItems sketch made driver-checkable via its one-sided
    guarantee: EVERY token whose exact share exceeds the support
    threshold must appear in the sketch's result (false positives are
    allowed, false negatives are not). The exact heavy-hitter count is
    value-checked by the oracle (same tokenizer on both engines); the
    ``all_included`` boolean carries the sketch evidence — a broken
    per-partition merge drops true heavy hitters and flips it."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("t"))
    freq = (
        toks.stat.freqItems(["t"], support=0.02)
        .select(F.col("t_freqItems").alias("__arr"))
    )
    tot = toks.agg(F.count(F.lit(1)).alias("__n"))
    heavy = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("__c") > 0.02 * F.col("__n"))
    )
    return (
        heavy.crossJoin(F.broadcast(freq))
        .select(F.array_contains(F.col("__arr"), F.col("t")).alias("__inc"))
        .agg(
            F.count(F.lit(1)).alias("n_heavy"),
            F.coalesce(
                F.min(F.col("__inc").cast("int")) == 1, F.lit(True)
            ).alias("all_included"),
        )
    )


@query(
    "q127_bigram_lm_score",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE len({_TOKS}) >= 2
    ), bg AS (
      SELECT doc_id, toks[cast(i as int)] AS w1, toks[cast(i as int) + 1] AS w2
      FROM dt, unnest(range(1, len(toks))) t(i)
    ), bc AS (
      SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
    ), uc AS (
      SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
    ), scored AS (
      SELECT g.doc_id,
             ln(cast(bc.c2 as double) / uc.c1) AS lp
      FROM bg g JOIN bc ON g.w1 = bc.w1 AND g.w2 = bc.w2
                JOIN uc ON g.w1 = uc.w1
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_bigrams,
           round(list_reduce(list_sort(list(lp)), (a, b) -> a + b)
                 / count(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def q127_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring: train a bigram MLE
    on the corpus itself, then score each document by its mean bigram
    log-probability — the perplexity-proxy filter that separates
    fluent text from gibberish and boilerplate (low avg_logprob =
    improbable token transitions).

    Train and score are the SAME two aggregations: bigram counts and
    head counts, then two equi-joins back onto the per-doc bigram
    stream and a per-doc reduce. Shuffles key on gram strings —
    Zipf-skewed at 100 TB, where the keys fold to xxhash64 and the
    hot heads salt (q42/q89 machinery); the probability tables stay
    corpus-sized, never doc-count-sized. The per-doc log sum uses the
    sorted-fold protocol (deterministic, engine-identical addition
    order)."""
    d = table(spark, sf_dir, "documents")
    dt = d.select("doc_id", tokens("text").alias("toks")).filter(F.size("toks") >= 2)
    bg = dt.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # three consumers (bigram counts, head counts, score probe) read the
    # tokenize+explode stream — persist one materialization instead of
    # re-tokenizing the corpus per consumer (q50's accepted pattern; at
    # 100 TB this becomes a checkpoint table between the two jobs).
    # Registered with the session release point (pin_cache) so bench
    # sweeps drop the block after the query materializes.
    from ..operators.ranking import pin_cache

    bg = pin_cache(bg)
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .select("doc_id", F.log(F.col("c2").cast("double") / F.col("c1")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("lp")), F.lit(0.0), lambda a, x: a + x
            )
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logprob"),
    )


@query(
    "q151_bin_packing_ffd",
    oracle=f"""
    WITH sized AS (
      SELECT source, doc_id, len({_TOKS}) AS n_tokens FROM documents
    )
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_tokens) as bigint) AS total_tokens,
           true AS all_docs_packed_once,
           true AS no_bin_overflow,
           true AS ffd_halffull_ok
    FROM sized GROUP BY source
    """,
    tags=("text", "llm-pipeline", "packing"),
)
def q151_bin_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document sequence packing via first-fit-decreasing
    (operators/packing.py) — the q107 complement for objectives that
    forbid splitting documents. Per-source (embarrassingly parallel)
    FFD at capacity 256 tokens; the output row per source carries the
    oracle-checkable exact values (doc count, token total — packing
    must conserve both) plus the algorithm's own guarantees as
    booleans: every doc in exactly one bin, no multi-doc bin over
    capacity, and FFD's structural property that at most one
    non-oversize bin per shard ends up under half capacity. A broken
    fit loop, a dropped doc, or a capacity breach flips a flag."""
    from ..operators.packing import bin_pack_ffd

    cap = 256
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    packed = bin_pack_ffd(d, capacity=cap, size_col="n_tokens")
    per_bin = packed.groupBy("source", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
        F.max(F.col("oversize").cast("int")).alias("has_oversize"),
    )
    per_source_bins = per_bin.groupBy("source").agg(
        (
            F.min(
                (
                    (F.col("has_oversize") == 1)
                    | (F.col("bin_tokens") <= cap)
                ).cast("int")
            )
            == 1
        ).alias("no_bin_overflow"),
        (
            F.sum(
                F.when(
                    (F.col("has_oversize") == 0) & (F.col("bin_tokens") < cap / 2), 1
                ).otherwise(0)
            )
            <= 1
        ).alias("ffd_halffull_ok"),
    )
    per_source_docs = packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # exactly-once: every input doc id appears once
        (F.count(F.lit(1)) == F.countDistinct("doc_id")).alias("all_docs_packed_once"),
    )
    return per_source_docs.join(per_source_bins, "source").select(
        "source", "n_docs", "total_tokens",
        "all_docs_packed_once", "no_bin_overflow", "ffd_halffull_ok",
    )


@query(
    "q161_line_dedup",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    c AS (SELECT doc_id,
                 unnest(range(0, cast(ceil(len(words)/10.0) as bigint))) AS pos,
                 words
          FROM w WHERE len(words) > 0),
    chunks AS (SELECT doc_id, pos,
                      array_to_string(list_slice(words, pos*10+1, pos*10+10), ' ') AS chunk
               FROM c),
    k AS (SELECT doc_id, pos, chunk,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          FROM chunks)
    SELECT doc_id,
           cast(count(*) as bigint) AS n_chunks,
           cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) as bigint) AS n_kept,
           cast(sum(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) as bigint) AS kept_chars
    FROM k GROUP BY doc_id
    """,
    tags=("text", "dedup", "llm"),
)
def q161_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level LINE dedup (RefinedWeb/CCNet-style): documents are
    cut into fixed 10-word chunks (the fixture text has no newlines, so
    chunk = line surrogate), and each chunk is kept only at its FIRST
    occurrence across the whole corpus — boilerplate repeated across
    pages (headers, nav, license blocks) dedups away while unique prose
    survives. Keep-first is a chunk-keyed window ordered by (doc_id,
    pos): one shuffle on the chunk hash, no all-pairs comparison, state
    per chunk O(1) — at 100 TB this is a plain repartition-by-chunk,
    the same shape exact dedup (q37) already scales with. Output per
    doc: chunk counts + surviving chars (the rebuild is a groupBy
    concat away; counts are what curation dashboards track)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = (
        d.select("doc_id", words.alias("words"), n_chunks.alias("nc"))
        .filter(F.size("words") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.expr("transform(sequence(0, nc - 1), i -> concat_ws(' ', slice(words, i*10+1, 10)))")
            ).alias("pos", "chunk"),
        )
    )
    rn = F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "pos"))
    k = chunks.select("doc_id", "pos", "chunk", rn.alias("rn"))
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.length("chunk")).otherwise(0)).alias("kept_chars"),
    )


@query(
    "q164_countmin_heavy_hitters",
    oracle=f"""
    WITH cnt AS (
      SELECT t AS word, cast(count(*) as bigint) AS n_exact
      FROM (SELECT unnest({_TOKS}) AS t FROM documents)
      GROUP BY t
    )
    SELECT word, n_exact, true AS cms_ge_exact
    FROM cnt ORDER BY n_exact DESC, word LIMIT 20
    """,
    tags=("text", "sketch"),
)
def q164_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built NATIVELY as a distributed aggregation —
    depth d=4 hash rows (xxhash64 salted by row index) x width w=2048
    buckets; the grid is ONE groupBy over a posexploded 4-hash array
    (one pass, map-side combinable, fixed d*w state regardless of
    keyspace — the property that makes CMS the heavy-hitter sketch at
    100 TB). Self-verified by the sketch's one-sided guarantee: CMS
    never under-counts (collisions only add), so estimate =
    min_i grid[i, h_i(word)] >= exact must hold for every word; a
    broken hash or merge flips the boolean. The top-20 exact counts are
    value-checked by the oracle; the driver-small grid (8192 rows)
    broadcasts to the probe join."""
    _D, _W = 4, 2048
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("word"))
    hashes = F.array(
        *[F.pmod(F.xxhash64(F.lit(i), F.col("word")), F.lit(_W)) for i in range(_D)]
    )
    grid = (
        toks.select(F.posexplode(hashes).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "word")
        .limit(20)
    )
    probes = top.select("word", "n_exact", F.posexplode(hashes).alias("row", "bucket"))
    est = (
        probes.join(F.broadcast(grid), ["row", "bucket"])
        .groupBy("word", "n_exact")
        .agg(F.min("c").alias("__est"))
    )
    return est.select(
        "word", "n_exact", (F.col("__est") >= F.col("n_exact")).alias("cms_ge_exact")
    )


@query(
    "q165_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t AS word
      FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    )
    SELECT word,
           cast(count(*) as bigint) AS df_count,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',')
             AS posting_head
    FROM toks GROUP BY word
    ORDER BY df_count DESC, word LIMIT 50
    """,
    tags=("text", "search"),
)
def q165_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (token → document-frequency + posting list):
    the search/retrieval primitive behind BM25 and deduplication-by-
    query. Per-doc DISTINCT tokens (one explode + dedup), then a
    token-keyed aggregation collecting the sorted posting head — the
    full posting list would be collect_set per token (bounded here to
    head-5 so wide tokens can't blow a row, and stringified — the
    driver's hasher cannot sort raw array columns); df_count comes from
    the same aggregation. One shuffle keyed by token; Zipf skew on common
    tokens is exactly the shape AQE skew-split handles (and q42's
    salted tf-idf is the manual alternative)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("word")).distinct()
    return (
        toks.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df_count"),
            F.concat_ws(
                ",", F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5)
            ).alias("posting_head"),
        )
        .orderBy(F.col("df_count").desc(), "word")
        .limit(50)
    )


@query(
    "q173_substring_dup_spans",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    win AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
             words
      FROM w
    ), spans AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(words, pos + 1, pos + 8), ' ') AS span
      FROM win
    ), freq AS (
      SELECT span, count(*) AS c FROM spans GROUP BY span
    )
    SELECT s.doc_id,
           cast(count(*) as bigint) AS n_windows,
           cast(sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_windows,
           cast(sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) as double) / count(*)
             AS dup_fraction
    FROM spans s JOIN freq f ON s.span = f.span
    GROUP BY s.doc_id
    """,
    tags=("text", "dedup", "llm"),
)
def q173_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level duplication detection (the Lee et al. 2022
    'Deduplicating Training Data' family, window-approximated): every
    stride-1 8-word window of every document is checked for repetition
    ANYWHERE in the corpus, and each doc reports its duplicated-window
    fraction — the signal substring-dedup pipelines threshold to drop
    or trim boilerplate-heavy documents. q161's chunk dedup is the
    coarse (stride-10, removal) form; this is the fine-grained
    detection form: stride-1 windows catch duplicated spans at ANY
    alignment, which chunking misses. Two shuffles: windows group by
    their own content (corpus-wide frequency), then rejoin to
    per-doc rollup — no all-pairs, same partition-by-content scale
    shape as q37/q161. Docs shorter than 8 words contribute (and
    report) zero windows, dropping out of the grouped join on both
    engines identically."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    spans = (
        d.select("doc_id", words.alias("words"))
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
    return (
        spans.join(freq, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_windows"),
            (
                F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_fraction"),
        )
    )


# the maximal-dup-span CTE chain, shared by BOTH the q438 (report) and
# q442 (removal) oracles so the two cannot drift — one definition site,
# mirroring _maximal_dup_spans on the Spark side
_DUP_SPAN_CTES = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    win AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
             words
      FROM w
    ), spans AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(words, pos + 1, pos + 8), ' ') AS span
      FROM win
    ), freq AS (
      SELECT span, count(*) AS c FROM spans GROUP BY span
    ), dup AS (
      SELECT s.doc_id, s.pos FROM spans s JOIN freq f ON s.span = f.span
      WHERE f.c > 1
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ), sp AS (
      SELECT doc_id,
             cast(min(pos) as bigint) AS span_start,
             cast(max(pos) + 7 as bigint) AS span_end,
             cast(max(pos) - min(pos) + 8 as bigint) AS span_tokens,
             cast(count(*) as bigint) AS n_windows
      FROM isl GROUP BY doc_id, grp
    )"""

@query(
    "q438_maximal_dup_spans",
    oracle=_DUP_SPAN_CTES
    + """
    SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM sp
    """,
    tags=("text", "dedup", "llm"),
)
def q438_maximal_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated-span extraction — the remove-longest-
    substring semantics of Lee et al. 2022 ('Deduplicating Training
    Data Makes Language Models Better') on top of q173's fixed
    8-word windows: adjacent duplicated windows (stride-1 positions
    whose span text repeats anywhere in the corpus) merge into one
    per-document MAXIMAL span with exact token bounds — a run of
    duplicated windows at positions [s..e] covers tokens
    [s, e+7], which is precisely the region a substring-dedup pass
    would trim (q173 only reports the per-doc duplicated fraction;
    this materializes WHAT to cut). One row per maximal span:
    (doc_id, span_start, span_end, span_tokens, n_windows).

    The merge is the gaps-and-islands trick (q324's protocol):
    duplicated positions are islanded by pos − row_number() over
    (doc_id, pos) — consecutive positions share the constant — then
    one groupBy emits each island's bounds. All-integer arithmetic,
    identical window semantics in both engines (pos is unique per
    doc, so the ordering is total and the hash check is exact).

    Scale shape: q173's two content-keyed shuffles (window frequency,
    per-doc rejoin) plus ONE doc-keyed window + aggregate over the
    duplicated subset only — typically a small fraction of the
    corpus. No all-pairs anywhere; the doc-keyed window is bounded by
    per-doc window counts (document length), the same skew bound as
    every per-doc op in the catalog."""
    return _maximal_dup_spans(spark, sf_dir)


def _maximal_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared derivation for q438 (report) and q442 (removal rewrite):
    per-doc maximal corpus-duplicated token spans, one row per island
    (doc_id, span_start, span_end, span_tokens, n_windows) — see
    q438's docstring for the semantics and scale shape."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    spans = (
        d.select("doc_id", words.alias("words"))
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
    dup = (
        spans.join(freq, "span")
        .filter(F.col("c") > 1)
        .select("doc_id", "pos")
    )
    isl = dup.withColumn(
        "grp",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + 7).cast("bigint").alias("span_end"),
        (F.max("pos") - F.min("pos") + 8).cast("bigint").alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    ).drop("grp")


# the span-REMOVAL oracle tail, shared by q442 (corpus-dup spans) and
# q448 (benchmark-contamination spans): consumes any CTE prefix that
# defines `w` (doc_id, words) and `sp` (doc_id, span_start, span_end,
# span_tokens, …) and emits the per-affected-doc rewrite report —
# one definition site so the two removal passes cannot drift
_SPAN_REMOVAL_TAIL = """, toks AS (
      -- positional unnest via the range idiom (no WITH ORDINALITY in
      -- DuckDB 1.0 — see the divergence ledger)
      SELECT doc_id, cast(pos as bigint) AS pos,
             words[cast(pos as int) + 1] AS t
      FROM w, unnest(range(0, len(words))) AS u(pos)
    ), removed AS (
      SELECT DISTINCT s.doc_id, s.span_start + u.i AS pos
      FROM sp s, unnest(range(0, s.span_tokens)) AS u(i)
    ), kept AS (
      SELECT t.doc_id, t.pos, t.t
      FROM toks t LEFT JOIN removed r
        ON t.doc_id = r.doc_id AND t.pos = r.pos
      WHERE r.doc_id IS NULL
    )
    SELECT t.doc_id,
           cast(count(*) as bigint) AS n_tokens,
           cast(count(*) - count(k.t) as bigint) AS n_removed,
           cast(count(k.t) as bigint) AS n_kept,
           md5(coalesce(string_agg(k.t, ' ' ORDER BY k.pos), '')) AS trimmed_digest
    FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id AND t.pos = k.pos
    WHERE t.doc_id IN (SELECT doc_id FROM sp)
    GROUP BY t.doc_id
    """


@query(
    "q442_dup_span_removal",
    oracle=_DUP_SPAN_CTES + _SPAN_REMOVAL_TAIL,
    tags=("text", "dedup", "llm"),
)
def q442_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of exact substring dedup — Lee et al. 2022's
    pipeline now runs end to end in the catalog: q173 detects
    duplicated windows, q438 merges them into maximal spans, and THIS
    query rewrites each affected document with its spans cut out,
    reporting (n_tokens, n_removed, n_kept, md5 of the trimmed text in
    original token order). The digest pins the rewrite exactly — a
    off-by-one span bound, a dropped survivor token, or a reordered
    reassembly all hash-mismatch. Only span-affected docs are emitted
    (the removal pass's write set; untouched docs need no rewrite).

    Cross-engine reassembly protocol: kept tokens re-join in POSITION
    order — Spark sorts the collected (pos, tok) structs (array_sort
    on the unique int key) and folds to a string; DuckDB uses
    string_agg ORDER BY pos; both coalesce the all-removed edge case
    to the empty string before md5. The span table is the SAME CTE
    text q438's oracle uses (_DUP_SPAN_CTES), so report and rewrite
    cannot drift.

    Scale shape: q438's derivation plus a bounded explode of the span
    ranges (Σ span_tokens ≤ corpus dup volume), one (doc, pos)-keyed
    anti-join, and one doc-keyed reassembly agg over affected docs
    only. The reassembly collect is bounded per doc by document
    length — the same per-doc bound as every text op here; at 100 TB
    the removal write set streams out partitioned by doc ranges, and
    untouched docs are passed through by the writer without entering
    the anti-join (the IN-filter on affected docs prunes first)."""
    d = table(spark, sf_dir, "documents")
    return _span_removal_report(d, _maximal_dup_spans(spark, sf_dir))


def _span_removal_report(d: DataFrame, spans: DataFrame) -> DataFrame:
    """Shared removal/reassembly machinery for q442 (corpus-dup spans)
    and q448 (benchmark-contamination spans): given a documents table
    and ANY span table in the (doc_id, span_start, span_end,
    span_tokens, …) schema, rewrite each affected document with its
    spans cut out and report (n_tokens, n_removed, n_kept,
    trimmed_digest) — the Spark twin of _SPAN_REMOVAL_TAIL. See
    q442's docstring for the reassembly protocol and scale shape."""
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t"),
    ).withColumn("pos", F.col("pos").cast("bigint"))
    removed = spans.select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    ).distinct()
    affected = spans.select("doc_id").distinct()
    toks_a = toks.join(affected, "doc_id", "left_semi")
    kept = toks_a.join(removed, ["doc_id", "pos"], "left_anti")
    assembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, t))), x -> x.t)"),
            )
        ).alias("trimmed_digest"),
    )
    totals = toks_a.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    empty_md5 = F.md5(F.lit(""))
    return (
        totals.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("trimmed_digest", empty_md5).alias("trimmed_digest"),
        )
    )


@query(
    "q189_winnowing_fingerprints",
    oracle=f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKS}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h
      FROM documents WHERE doc_id < 300
    ), w AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - 2),
                            i -> list_reduce(h[i : i + 3],
                                             (acc, x) -> (acc * 257 + x) % 2147483647)) AS wh
      FROM th WHERE len(h) >= 7
    ), s AS (
      SELECT doc_id, wh,
             list_distinct(list_transform(range(1, len(wh) - 2),
                            i -> list_min(wh[i : i + 3]))) AS fp
      FROM w
    )
    SELECT doc_id,
           cast(len(wh) as bigint) AS n_windows,
           cast(len(fp) as bigint) AS n_fingerprints,
           list_min(fp) AS min_fp,
           cast(list_reduce(fp, (a, x) -> a + x) as bigint) AS fp_sum
    FROM s
    """,
    tags=("text", "dedup"),
)
def q189_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm) on top of q79's Rabin-Karp window hashes: from
    each window of w=4 consecutive k-gram hashes keep the MINIMUM, then
    distinct — guaranteeing at least one shared fingerprint for any
    match of length ≥ w+k-1 tokens while storing a small, position-
    robust subset (the local-min property q46's single global min-hash
    lacks). All exact integer arithmetic on the shared md5-prefix token
    hash protocol, so the full fingerprint table (count, min, sum)
    hash-matches the oracle. Scale shape: per-document array exprs in
    one narrow map — no shuffle until the final (tiny) projection;
    fingerprint→doc inversion for cross-doc matching is then one
    explode + groupBy, the q161/q173 shape."""
    k, b, p, wsel = 4, 257, (1 << 31) - 1, 4
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    th = F.transform(
        tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    d = d.withColumn("h", th).filter(F.size("h") >= k + wsel - 1)
    wh = F.transform(
        F.sequence(F.lit(1), F.size("h") - (k - 1)),
        lambda i: F.aggregate(
            F.slice("h", i, k),
            F.lit(0).cast("bigint"),
            lambda acc, x: F.pmod(acc * b + x, F.lit(p)),
        ),
    )
    d = d.withColumn("wh", wh)
    fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("wh") - (wsel - 1)),
            lambda i: F.array_min(F.slice("wh", i, wsel)),
        )
    )
    return d.withColumn("fp", fp).select(
        "doc_id",
        F.size("wh").cast("bigint").alias("n_windows"),
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.array_min("fp").alias("min_fp"),
        F.aggregate("fp", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("fp_sum"),
    )


@query(
    "q201_sparse_tfidf_simjoin",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t.tok, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE doc_id < 400) t(doc_id, tok)
      GROUP BY doc_id, t.tok
    ), dfreq AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), w AS (
      SELECT tf.doc_id, tf.tok,
             cast(round(tf.tf * ln((SELECT count(*) FROM documents WHERE doc_id < 400)
                                   / cast(df AS double)) * 1000000) as bigint) AS wq
      FROM tf JOIN dfreq USING (tok) WHERE df <= 50
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(sum(a.wq * b.wq) as bigint) AS dot_q,
           cast(count(*) as bigint) AS n_shared
    FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
    ORDER BY dot_q DESC, id_a, id_b LIMIT 25
    """,
    tags=("text", "similarity", "join"),
)
def q201_sparse_tfidf_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE lexical similarity join — the inverted-index complement
    of the dense-embedding paths (q48/q134): documents pair through
    the tokens they share, scored by the tf-idf dot product over RARE
    tokens only (df ≤ 50). The df cutoff is the standard scale trick
    (stop-word-frequency tokens would each fan out df² pair rows and
    contribute ~zero idf weight anyway): shuffle size is Σ df² over
    rare tokens, never |docs|². Weights are quantized to exact integer
    micro-units BEFORE the pair sum, so the aggregation is
    order-independent and hash-matches the oracle bit for bit; ln()
    on identical operands is IEEE-identical across engines (q162's
    protocol). Top-25 with full tiebreak."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.count()  # one driver scalar: the corpus size in the idf
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfreq, "tok")
        .filter(F.col("df") <= 50)
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1000000)
            .cast("bigint")
            .alias("wq"),
        )
    )
    a = w.select(F.col("doc_id").alias("id_a"), "tok", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "tok", F.col("wq").alias("wb"))
    return (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot_q"),
            F.count(F.lit(1)).alias("n_shared"),
        )
        .orderBy(F.col("dot_q").desc(), "id_a", "id_b")
        .limit(25)
    )


@query(
    "q235_cdc_chunk_dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
    ), th AS (
      SELECT doc_id, source,
             list_transform({_TOKS},
                            t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h
      FROM corpus
    ), ends AS (
      SELECT doc_id, source, h,
             list_filter(range(1, len(h) + 1),
                         i -> h[i] % 8 = 0 OR i = len(h)) AS e
      FROM th WHERE len(h) >= 1
    ), chunks AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(e) + 1),
               j -> struct_pack(
                 ch := list_reduce(h[(CASE WHEN j = 1 THEN 1 ELSE e[j-1] + 1 END) : e[j]],
                                   (acc, x) -> (acc * 257 + x) % 2147483647),
                 ln := e[j] - (CASE WHEN j = 1 THEN 1 ELSE e[j-1] + 1 END) + 1))) AS c
      FROM ends
    ), flat AS (
      SELECT source, c.ch AS chunk_hash, c.ln AS chunk_len,
             count(*) OVER (PARTITION BY c.ch) AS occ
      FROM chunks
    )
    SELECT source,
           cast(count(*) as bigint) AS n_chunks,
           cast(count(DISTINCT chunk_hash) as bigint) AS n_distinct_in_source,
           cast(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_instances,
           cast(sum(CASE WHEN occ > 1 THEN chunk_len ELSE 0 END) as bigint) AS dup_token_mass
    FROM flat GROUP BY source
    """,
    tags=("text", "dedup", "scale"),
)
def q235_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup (FastCDC family) — the dedup
    granularity between q161's fixed 10-word lines and q37's whole-doc
    hash: chunk boundaries are set by the CONTENT (token hash ≡ 0
    mod 8), so an insertion early in a document shifts only the chunk
    it lands in — fixed-width chunking would shift every boundary after
    it and miss all downstream duplication. Planted exact-duplicate
    docs (every 10th doc re-enters under a shifted id) prove the
    counting: their chunks all land in occ>1. Per-token 32-bit md5
    hashes and the Rabin polynomial fold are the exact integer protocol
    q79 established, so the whole per-source chunk accounting
    hash-matches the oracle. One chunk-keyed shuffle (the occ window),
    never all-pairs; chunk construction is a narrow per-doc pass."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = d.unionByName(planted)
    th = F.transform(
        tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    c = corpus.withColumn("h", th).filter(F.size("h") >= 1)
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
    chunk = lambda j: F.struct(  # noqa: E731
        F.aggregate(
            F.slice("h", start(j), F.element_at("e", j.cast("int")) - start(j) + 1),
            F.lit(0).cast("bigint"),
            lambda acc, x: F.pmod(acc * b + x, F.lit(p)),
        ).alias("ch"),
        (F.element_at("e", j.cast("int")) - start(j) + 1).alias("ln"),
    )
    chunks = c.select(
        "source",
        F.explode(F.transform(F.sequence(F.lit(1), F.size("e")), chunk)).alias("c"),
    ).select("source", F.col("c.ch").alias("chunk_hash"), F.col("c.ln").alias("chunk_len"))
    occ = W.partitionBy("chunk_hash")
    flat = chunks.withColumn("occ", F.count(F.lit(1)).over(occ))
    return flat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk_hash").alias("n_distinct_in_source"),
        F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).alias("n_dup_instances"),
        F.sum(F.when(F.col("occ") > 1, F.col("chunk_len")).otherwise(0)).alias(
            "dup_token_mass"
        ),
    )


def _simhash32_duck(h: str) -> str:
    """DuckDB 32-bit simhash over a bigint token-hash list — per-bit
    majority vote unrolled to 32 generated terms (DuckDB's list_reduce
    can't carry a list accumulator, so the single-pass fold Spark uses
    is spelled as 32 list passes; same integers, same result)."""
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform({h}, "
        f"x -> ((x >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(32)
    )
    return f"({terms})"


_TH32 = (
    "list_transform({t}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"
)


@query(
    "q244_simhash_exact_parity",
    oracle=f"""
    WITH th AS (
      SELECT doc_id,
             {_TH32.format(t=_TOKS)} AS h
      FROM documents WHERE doc_id < 300
    ), sim AS (
      SELECT doc_id, {_simhash32_duck('h')} AS sh
      FROM th WHERE len(h) >= 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sh AS sim_a,
           cast(bit_count(xor(a.sh, b.sh)) as bigint) AS hamming
    FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1
    """,
    tags=("text", "dedup"),
)
def q244_simhash_exact_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash VALUE parity — the q51 family upgraded from rows-only to
    full oracle check: a 32-bit simhash built from the shared md5
    token-hash protocol (q79/q235) is computed bit-for-bit in BOTH
    engines (Spark: one single-pass fold with an array<bigint>
    accumulator — the operators/dedup.py:216 shape; DuckDB: the same
    majority vote unrolled to 32 generated list passes), then adjacent
    docs are paired and their Hamming distance taken via
    bit_count(xor). Every simhash VALUE and distance hash-matches —
    far stronger evidence than q51's candidate-bucket smoke test. The
    production 64-bit xxhash64 variant differs only in hash source and
    width."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    th = F.transform(
        tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    d = d.withColumn("h", th).filter(F.size("h") >= 1)
    votes = (
        "aggregate(h, array_repeat(cast(0 as bigint), 32), "
        "(acc, x) -> zip_with(acc, sequence(0, 31), "
        "(c, b) -> c + (shiftright(x, b) & 1) * 2 - 1))"
    )
    sh = (
        f"aggregate(zip_with({votes}, sequence(0, 31), "
        f"(v, b) -> if(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    sim = d.select("doc_id", F.expr(sh).alias("sh"))
    a = sim.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sim_a"))
    b = sim.select(F.col("doc_id").alias("__b_id"), F.col("sh").alias("__b_sh"))
    return (
        a.join(b, F.col("__b_id") == F.col("id_a") + 1)
        .select(
            "id_a",
            F.col("__b_id").alias("id_b"),
            "sim_a",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("__b_sh")))
            .cast("bigint")
            .alias("hamming"),
        )
    )


@query(
    "q266_readability_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ), w AS (
      SELECT doc_id, source,
             cast(len(toks) as bigint) AS n_words,
             cast(list_sum(list_transform(toks,
                 w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
               as bigint) AS n_syll,
             cast(len(list_filter(toks,
                 w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
               as bigint) AS n_poly
      FROM t WHERE len(toks) > 0
    )
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_words) as bigint) AS words,
           cast(sum(n_syll) as bigint) AS syllables,
           round(206.835 - 1.015 * (sum(n_words) / cast(count(*) as double))
                         - 84.6 * (sum(n_syll) / cast(sum(n_words) as double)), 6)
             AS flesch_proxy,
           round(sum(n_poly) / cast(sum(n_words) as double), 6) AS poly_ratio
    FROM w GROUP BY source
    """,
    tags=("text", "quality"),
)
def q266_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY scoring (Flesch-family) — the classic text-quality
    feature the Gopher/CCNet batteries (q45/q96/q127) don't carry: a
    vowel-group syllable proxy per word (max(groups,1) so
    consonant-only tokens count one), per-source words-per-doc and
    syllables-per-word folded into the Flesch formula (one-doc
    'sentence' granularity — a word-soup corpus has no sentence
    boundaries, so the doc is the unit), plus the polysyllable ratio
    (SMOG's input). All counts are exact integers; the two ratios and
    the affine formula are single IEEE expressions — hash-stable.
    One pass, no shuffle beyond the source aggregation."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    syll = lambda w: F.greatest(  # noqa: E731
        F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))), F.lit(1)
    )
    base = d.withColumn("toks", toks).filter(F.size("toks") > 0)
    per_doc = base.select(
        "source",
        F.size("toks").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform("toks", syll), F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("n_syll"),
        F.size(F.filter("toks", lambda w: syll(w) >= 3)).cast("bigint").alias("n_poly"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_syll").alias("syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.sum("n_words") / F.count(F.lit(1)).cast("double"))
            - F.lit(84.6) * (F.sum("n_syll") / F.sum("n_words").cast("double")),
            6,
        ).alias("flesch_proxy"),
        F.round(F.sum("n_poly") / F.sum("n_words").cast("double"), 6).alias("poly_ratio"),
    )


@query(
    "q267_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_TOKS}) AS t FROM documents
    ), vocab AS (
      SELECT t FROM (
        SELECT t, count(*) AS n FROM toks GROUP BY t
        ORDER BY n DESC, t LIMIT 30
      )
    ), scored AS (
      SELECT k.doc_id, k.source,
             count(*) AS n_tokens,
             sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM toks k LEFT JOIN vocab v ON k.t = v.t
      GROUP BY k.doc_id, k.source
    )
    SELECT source,
           cast(sum(n_tokens) as bigint) AS tokens,
           cast(sum(n_oov) as bigint) AS oov_tokens,
           round(sum(n_oov) / cast(sum(n_tokens) as double), 6) AS oov_rate
    FROM scored GROUP BY source
    """,
    tags=("text", "quality"),
)
def q267_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate — the tokenizer-coverage diagnostic run
    before committing a vocab: train a top-30 frequency vocabulary
    from the corpus itself (one agg + deterministic (count, token)
    tiebreak), broadcast it back (a vocab is always driver-small
    relative to the corpus — the canonical broadcast-join shape), and
    measure the per-source fraction of tokens falling outside it.
    High OOV → the tokenizer will fragment that source into bytes.
    Two shuffles total (vocab agg, source rollup); the vocab join is
    broadcast so the corpus never re-shuffles."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.explode(tokens("text")).alias("t"))
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t")
        .limit(30)
        .select("t", F.lit(True).alias("__in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "t", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
    )


@query(
    "q268_cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), pairs AS (
      SELECT doc_id,
             unnest(list_filter(
               flatten(list_transform(range(1, len(t)),
                 i -> [struct_pack(a := least(t[i], t[i+1]),
                                   b := greatest(t[i], t[i+1]))])),
               p -> p.a != p.b)) AS p
      FROM toks WHERE len(t) >= 2
    ), pc AS (
      SELECT p.a AS wa, p.b AS wb, count(*) AS n_ab
      FROM pairs GROUP BY p.a, p.b
    ), uni AS (
      SELECT t AS w, count(*) AS n FROM (SELECT unnest(t) AS t FROM toks) GROUP BY t
    ), tot AS (
      SELECT (SELECT sum(n_ab) FROM pc) AS n_pairs
    )
    SELECT wa, wb, cast(n_ab as bigint) AS n_ab,
           round(ln(n_ab * cast(t.n_pairs as double) / (ua.n * cast(ub.n as double))), 6)
             AS pmi
    FROM pc JOIN uni ua ON pc.wa = ua.w
            JOIN uni ub ON pc.wb = ub.w
            CROSS JOIN tot t
    WHERE n_ab >= 20
    ORDER BY pmi DESC, wa, wb LIMIT 50
    """,
    tags=("text", "stats"),
)
def q268_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over ADJACENT token pairs — the
    collocation statistic (word2vec's ancestor, still the phrase-mining
    workhorse): unordered adjacent bigrams (canonical (min,max) order
    so 'a b' and 'b a' pool), unigram counts, and PMI = ln(n_ab·N /
    (n_a·n_b)) with a min-support floor (the Apriori-style cut that
    bounds the pair table). One pair-keyed shuffle + two broadcast-able
    unigram joins; the PMI expression is a single IEEE tree over exact
    counts. Top-50 by (pmi, pair) total order."""
    d = table(spark, sf_dir, "documents")
    t = tokens("text")
    pairs = (
        d.select(F.col("doc_id"), t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 1),
                        lambda i: F.struct(
                            F.least(
                                F.element_at("t", i.cast("int")),
                                F.element_at("t", (i + 1).cast("int")),
                            ).alias("a"),
                            F.greatest(
                                F.element_at("t", i.cast("int")),
                                F.element_at("t", (i + 1).cast("int")),
                            ).alias("b"),
                        ),
                    ),
                    lambda p: p["a"] != p["b"],
                )
            ).alias("p")
        )
    )
    pc = pairs.groupBy(
        F.col("p.a").alias("wa"), F.col("p.b").alias("wb")
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    uni = (
        d.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pc.agg(F.sum("n_ab").alias("n_pairs"))
    j = (
        pc.filter(F.col("n_ab") >= 20)
        .join(F.broadcast(uni.withColumnRenamed("w", "wa").withColumnRenamed("n", "na")), "wa")
        .join(F.broadcast(uni.withColumnRenamed("w", "wb").withColumnRenamed("n", "nb")), "wb")
        .join(F.broadcast(tot), F.lit(True))
    )
    return (
        j.select(
            "wa",
            "wb",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab") * F.col("n_pairs").cast("double")
                    / (F.col("na") * F.col("nb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "wa", "wb")
        .limit(50)
    )


@query(
    "q275_source_similarity",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, t
      FROM (SELECT source, unnest({_TOKS}) AS t FROM documents)
    ), sz AS (
      SELECT source, count(*) AS n FROM v GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           cast(i.n_common as bigint) AS n_common,
           cast(sa.n as bigint) AS n_a,
           cast(sb.n as bigint) AS n_b,
           round(i.n_common / cast(sa.n + sb.n - i.n_common as double), 6)
             AS jaccard
    FROM inter i JOIN sz sa ON i.src_a = sa.source
                 JOIN sz sb ON i.src_b = sb.source
    """,
    tags=("text", "stats", "dedup"),
)
def q275_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-LEVEL vocabulary similarity matrix — which corpus slices
    are redundant with each other (the input to q111's mixture
    weighting: near-identical sources shouldn't both get full weight):
    distinct (source, token) pairs, a token-keyed self-join counting
    shared vocabulary per canonically-ordered source pair, and exact
    Jaccard from the three integer counts. The token join carries
    |sources|² pair weight per SHARED token — bounded, because the
    distinct-vocab frame is tiny relative to the corpus (the
    projection is the point: compare PROFILES, not documents)."""
    d = table(spark, sf_dir, "documents")
    v = d.select("source", F.explode(tokens("text")).alias("t")).distinct()
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "t")
    b = v.select(F.col("source").alias("src_b"), "t")
    inter = (
        a.join(b, "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sz.withColumnRenamed("source", "src_a").withColumnRenamed("n", "n_a")),
            "src_a",
        )
        .join(
            F.broadcast(sz.withColumnRenamed("source", "src_b").withColumnRenamed("n", "n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _bpe_train_ctes(k: int) -> str:
    """The unrolled k-iteration BPE-training CTE chain (ends after
    ``vocab{k}``) shared by the q277 trainer oracle and the q345
    encoder oracle. Vocabulary state is a '·'-bounded, '··'-separated
    symbol string per word (pattern '·a··b·' → '·ab·' is greedy-left
    non-overlapping — the separator doubling makes consecutive pairs
    independently matchable)."""
    sql = f"""
    WITH vocab0 AS (
      SELECT w, count(*) AS cnt, '·' || array_to_string(string_split(w, ''), '··') || '·' AS s
      FROM (SELECT unnest({_TOKS}) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z0-9]+$')
      GROUP BY w
    )"""
    prev = "vocab0"
    for i in range(1, k + 1):
        sql += f""",
    pairs{i} AS (
      SELECT p.a, p.b, sum(cnt) AS n FROM (
        SELECT cnt,
               unnest(list_transform(range(1, len(sy)),
                 j -> struct_pack(a := sy[j], b := sy[j+1]))) AS p
        FROM (SELECT cnt,
                     string_split(trim(s, '·'), '··') AS sy
              FROM {prev})
      ) GROUP BY p.a, p.b
    ),
    best{i} AS (
      SELECT a, b, n FROM pairs{i} ORDER BY n DESC, a, b LIMIT 1
    ),
    vocab{i} AS (
      SELECT v.w, v.cnt,
             replace(v.s, '·' || bb.a || '··' || bb.b || '·',
                     '·' || bb.a || bb.b || '·') AS s
      FROM {prev} v CROSS JOIN best{i} bb
    )"""
        prev = f"vocab{i}"
    return sql


def _bpe_duck_oracle(k: int) -> str:
    """q277 trainer oracle: the training chain + the chosen merges."""
    selects = [
        f"SELECT {i} AS iteration, a AS left_sym, b AS right_sym, "
        f"cast(n as bigint) AS pair_count FROM best{i}"
        for i in range(1, k + 1)
    ]
    return _bpe_train_ctes(k) + "\n    " + "\n    UNION ALL ".join(selects)


@query(
    "q277_bpe_train",
    oracle=_bpe_duck_oracle(3),
    tags=("text", "tokenizer", "iterative"),
)
def q277_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING — the real iterative merge loop (Sennrich
    et al. 2016), not just q116's one-shot pair count: per iteration,
    count adjacent symbol pairs over the word-frequency vocabulary,
    pick the max under the deterministic (count desc, pair) order, and
    MERGE it corpus-wide; repeat. Merging uses a '·'-bounded,
    '··'-separated symbol string so one non-overlapping string replace
    ('·a··b·' → '·ab·') IS the greedy-left BPE merge — and because
    it's pure string algebra, the DuckDB oracle replays the ENTIRE
    algorithm (3 unrolled iterations) and every chosen merge must
    match exactly. The per-iteration argmax is a one-row collect
    (driver-small, the codebook-training pattern); everything else is
    distributed: pair explode + merge map over the vocab frame, whose
    size is |distinct words| — at corpus scale the loop cost is
    iterations × one narrow pass, the standard offline-train shape."""
    _, out = _bpe_train_frames(spark, sf_dir, k=3)
    return spark.createDataFrame(
        out, "iteration int, left_sym string, right_sym string, pair_count bigint"
    )


def _bpe_train_frames(spark: SparkSession, sf_dir: str, k: int = 3):
    """Run the k-iteration BPE merge loop (q277's algorithm) and return
    ``(vocab, merges)``: the post-merge vocabulary frame
    ``(w, cnt, s)`` with the '·'-protocol symbol string, and the chosen
    merges ``[(iteration, left, right, pair_count), ...]``. The
    per-iteration argmax is a one-row collect (the codebook-training
    pattern); everything else is distributed over the |distinct words|
    vocab frame."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = words.select(
        "w",
        "cnt",
        F.concat(
            F.lit("·"),
            F.array_join(F.split("w", ""), "··"),
            F.lit("·"),
        ).alias("s"),
    )

    def merge(v: DataFrame, a: str, b: str) -> DataFrame:
        return v.withColumn(
            "s", F.replace(F.col("s"), F.lit(f"·{a}··{b}·"), F.lit(f"·{a}{b}·"))
        )

    # the merge sequence is deterministic, so q277 (train) and q345
    # (encode) share one training run per process; later calls replay
    # the merges as k narrow string replaces (no pair aggregations, no
    # argmax collects)
    def train(_sd: str) -> list:
        v, out = vocab, []
        for i in range(1, k + 1):
            syms = F.expr("filter(split(trim(BOTH '·' FROM s), '··'), x -> x != '')")
            pairs = (
                v.select("cnt", syms.alias("sy"))
                .filter(F.size("sy") >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("sy") - 1),
                            lambda j: F.struct(
                                F.element_at("sy", j.cast("int")).alias("a"),
                                F.element_at("sy", (j + 1).cast("int")).alias("b"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("n"))
            )
            best = pairs.orderBy(F.col("n").desc(), "a", "b").limit(1).first()
            out.append((i, best["a"], best["b"], int(best["n"])))
            v = merge(v, best["a"], best["b"])
        return out

    merges = query_state(f"bpe_k{k}", sf_dir, train)[1]
    for _i, a, b, _n in merges:
        vocab = merge(vocab, a, b)
    return vocab, list(merges)


# BM25 oracle CTE chain ending in agg(doc_id, bm25, n_terms_hit) —
# shared by q278 (plain lexical top-k) and q362 (hybrid RRF fusion) so
# the two oracles cannot drift apart.
_BM25_CTES = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT sum(len) FROM dl) AS total_len
    ), tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks
      WHERE t IN ('spark', 'stream', 'window') GROUP BY doc_id, t
    ), idf AS (
      SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t
    ), scored AS (
      SELECT tf.doc_id, tf.t,
             ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.total_len / cast(s.n_docs as double))))
               AS term_score
      FROM tf JOIN idf i ON tf.t = i.t
              JOIN dl d ON tf.doc_id = d.doc_id
              CROSS JOIN stats s
    ), agg AS (
      SELECT doc_id,
             list_reduce(list_sort(list(term_score)), (x, y) -> x + y) AS bm25,
             count(*) AS n_terms_hit
      FROM scored GROUP BY doc_id
    )"""


@query(
    "q278_bm25_search",
    oracle=_BM25_CTES
    + """
    SELECT doc_id, round(bm25, 6) AS bm25,
           cast(n_terms_hit as bigint) AS n_terms_hit
    FROM agg ORDER BY bm25 DESC, doc_id LIMIT 25
    """,
    tags=("text", "search"),
)
def q278_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking — the lexical-retrieval scorer q42's raw tf-idf and
    q165's inverted index feed into (and the hybrid-search complement
    of the vector path q49/q52): per (doc, query-term) Robertson idf ×
    saturated tf with length normalization (k1=1.2, b=0.75), per-doc
    term scores folded in sorted order (q217's float protocol) and the
    top-25 taken under the (score, doc) total order. The query-term
    filter prunes the token stream BEFORE the tf aggregation — at
    corpus scale this is an inverted-index probe, not a scan-and-score
    of every document."""
    agg = _bm25_agg_frame(spark, sf_dir)
    return (
        agg.select(
            "doc_id", F.round("bm25", 6).alias("bm25"),
            F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(25)
    )


def _bm25_agg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 scoring frame (doc_id, bm25, n_terms_hit) mirroring
    _BM25_CTES expression-for-expression — shared by q278 and q362.

    The oracle's ``toks``/``dl`` CTEs explode every token of every
    document; here both corpus-token-sized shuffles are eliminated
    without changing a single produced value: a document's length is
    ``size(tokens(text))`` (narrow, no explode/groupBy — identical to
    the exploded count for every doc that can reach ``scored``, and
    ``total_len`` sums the same either way since missing-from-explode
    docs contribute len 0), and only QUERY-TERM tokens are exploded
    (the token array is pre-filtered per row, so the tf aggregation
    shuffles hit rows only — the inverted-index-probe shape the
    docstrings promise, now in the plan as well)."""
    terms = ("spark", "stream", "window")
    d = table(spark, sf_dir, "documents")
    pre = d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("len"),
        F.filter(tokens("text"), lambda t: t.isin(*terms)).alias("mt"),
    )
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).join(
        pre.agg(F.sum("len").alias("total_len")), F.lit(True)
    )
    tf = (
        pre.filter(F.size("mt") > 0)
        .select("doc_id", "len", F.explode("mt").alias("t"))
        .groupBy("doc_id", "len", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(idf), "t")
        .join(F.broadcast(stats), F.lit(True))
        .select(
            "doc_id",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf") * F.lit(2.2)
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * F.col("len")
                        / (F.col("total_len") / F.col("n_docs").cast("double"))
                    )
                )
            ).alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("term_score")),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )


@query(
    "q283_dedup_burden_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), doc_level AS (
      SELECT 'doc_exact' AS granularity,
             count(*) AS n_units,
             count(DISTINCT md5(text)) AS n_distinct
      FROM documents
    ), lines AS (
      SELECT array_to_string(t[(j - 1) * 10 + 1 : j * 10], ' ') AS unit
      FROM toks, unnest(range(1, cast(ceil(len(t) / 10.0) as bigint) + 1)) AS u(j)
      WHERE len(t) >= 1
    ), line_level AS (
      SELECT 'line_10w' AS granularity,
             count(*) AS n_units,
             count(DISTINCT unit) AS n_distinct
      FROM lines
    ), th AS (
      SELECT doc_id,
             list_transform(t, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h
      FROM toks WHERE len(t) >= 1
    ), ends AS (
      SELECT doc_id, h,
             list_filter(range(1, len(h) + 1),
                         i -> h[i] % 8 = 0 OR i = len(h)) AS e
      FROM th
    ), chunks AS (
      SELECT unnest(list_transform(range(1, len(e) + 1),
               j -> list_reduce(h[(CASE WHEN j = 1 THEN 1 ELSE e[j-1] + 1 END) : e[j]],
                                (acc, x) -> (acc * 257 + x) % 2147483647))) AS ch
      FROM ends
    ), chunk_level AS (
      SELECT 'chunk_cdc' AS granularity,
             count(*) AS n_units,
             count(DISTINCT ch) AS n_distinct
      FROM chunks
    ), unioned AS (
      SELECT * FROM doc_level UNION ALL
      SELECT * FROM line_level UNION ALL
      SELECT * FROM chunk_level
    )
    SELECT granularity,
           cast(n_units as bigint) AS n_units,
           cast(n_distinct as bigint) AS n_distinct,
           cast(n_units - n_distinct as bigint) AS redundant_units,
           round((n_units - n_distinct) / cast(n_units as double), 6)
             AS redundant_fraction
    FROM unioned
    """,
    tags=("text", "dedup", "report"),
)
def q283_dedup_burden_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS REDUNDANCY REPORT — the one-page answer to 'how much
    would dedup save?', measured at all three granularities the
    catalog implements: whole-document (q37's md5), fixed 10-word
    lines (q161's unit), and content-defined chunks (q235's mod-8
    Rabin protocol). Each row is units / distinct / redundant /
    fraction — the numbers that decide WHICH dedup pass is worth its
    shuffle before anything runs at scale. Three independent
    aggregations over one corpus scan lineage; every hash protocol is
    shared with its parent query so the report stays consistent with
    what the dedup passes would actually do."""
    d = table(spark, sf_dir, "documents")
    doc_level = d.agg(
        F.lit("doc_exact").alias("granularity"),
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )
    t = tokens("text")
    lines = (
        d.select(t.alias("t"))
        .filter(F.size("t") >= 1)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.ceil(F.size("t") / F.lit(10.0)).cast("int")),
                    lambda j: F.array_join(
                        F.slice("t", ((j - 1) * 10 + 1).cast("int"), 10), " "
                    ),
                )
            ).alias("unit")
        )
    )
    line_level = lines.agg(
        F.lit("line_10w").alias("granularity"),
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct("unit").alias("n_distinct"),
    )
    th = F.transform(
        t, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")
    )
    c = d.select(th.alias("h")).filter(F.size("h") >= 1)
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
        F.explode(F.transform(F.sequence(F.lit(1), F.size("e")), chunk)).alias("ch")
    )
    chunk_level = chunks.agg(
        F.lit("chunk_cdc").alias("granularity"),
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct("ch").alias("n_distinct"),
    )
    u = doc_level.unionByName(line_level).unionByName(chunk_level)
    return u.select(
        "granularity",
        F.col("n_units").cast("bigint").alias("n_units"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        (F.col("n_units") - F.col("n_distinct")).cast("bigint").alias("redundant_units"),
        F.round(
            (F.col("n_units") - F.col("n_distinct")) / F.col("n_units").cast("double"),
            6,
        ).alias("redundant_fraction"),
    )


@query(
    "q292_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars, {_TOKS} AS toks, md5(text) AS h
      FROM documents
    )
    SELECT cast(count(*) as bigint) AS n_docs,
           cast(count(DISTINCT lang) as bigint) AS n_langs,
           cast(count(DISTINCT source) as bigint) AS n_sources,
           cast(sum(len(toks)) as bigint) AS total_tokens,
           cast(sum(n_chars) as bigint) AS total_chars,
           cast(min(len(toks)) as bigint) AS min_tokens,
           cast(max(len(toks)) as bigint) AS max_tokens,
           round(sum(len(toks)) / cast(count(*) as double), 6) AS mean_tokens,
           cast(count(*) - count(DISTINCT h) as bigint) AS exact_dup_docs,
           round((count(*) - count(DISTINCT h)) / cast(count(*) as double), 6)
             AS dup_fraction
    FROM t
    """,
    tags=("text", "report"),
)
def q292_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the one-row summary a dataset release ships with
    (Gebru et al.'s datasheets, operationalized): document/language/
    source cardinalities, token and char totals, length extremes and
    mean, and the exact-duplicate burden — every number derived in one
    aggregation pass over the corpus with the same token and hash
    protocols the rest of the catalog uses (so the card can't disagree
    with the pipelines it describes). The detailed breakdowns live in
    q283 (dedup granularities), q247 (source mix), q266 (readability),
    q267 (OOV) — this is their cover page."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "lang", "source", "n_chars",
        F.size(tokens("text")).alias("n_toks"),
        F.md5("text").alias("h"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_toks").cast("bigint").alias("min_tokens"),
        F.max("n_toks").cast("bigint").alias("max_tokens"),
        F.round(F.sum("n_toks") / F.count(F.lit(1)).cast("double"), 6).alias(
            "mean_tokens"
        ),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("exact_dup_docs"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("h"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_fraction"),
    )


@query(
    "q305_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), hashed AS (
      SELECT t,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % 64 AS bucket,
             CASE WHEN (('0x' || substr(md5(t), 1, 8))::BIGINT // 64) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM toks
    )
    SELECT bucket,
           cast(sum(sign) as bigint) AS signed_total,
           count(*) AS n_tokens,
           cast(count(DISTINCT t) as bigint) AS n_distinct_tokens
    FROM hashed GROUP BY bucket ORDER BY bucket
    """,
    tags=("text", "ml-prep"),
)
def q305_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick, Weinberger et al. 2009):
    tokens map to a fixed 64-bucket feature space through the catalog's
    md5-prefix integer protocol, with a second hash bit supplying the
    ± sign that makes collisions cancel in expectation. No vocabulary
    pass, no dictionary broadcast — the property that lets the encoder
    run on an unbounded token stream at 100 TB. Output is the corpus-
    level signed bucket profile (64 rows regardless of scale) plus
    per-bucket collision pressure (distinct tokens per bucket)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("t"))
    h32 = F.expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)")
    hashed = tok.select(
        F.col("t"),
        (h32 % 64).alias("bucket"),
        F.when((h32 / 64).cast("bigint") % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.sum("sign").cast("bigint").alias("signed_total"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("t").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )


@query(
    "q345_bpe_encode_apply",
    oracle=_bpe_train_ctes(3)
    + f""",
    ws AS (
      SELECT source, w, count(*) AS cnt
      FROM (SELECT source, unnest({_TOKS}) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z0-9]+$')
      GROUP BY source, w
    )
    SELECT ws.source,
           cast(count(*) as bigint) AS n_words,
           cast(sum(ws.cnt) as bigint) AS n_tokens,
           cast(sum(ws.cnt * len(v.w)) as bigint) AS syms_before,
           cast(sum(ws.cnt * len(string_split(trim(v.s, '·'), '··')))
                as bigint) AS syms_after,
           cast((sum(ws.cnt * len(string_split(trim(v.s, '·'), '··')))
                 * 1000000) // sum(ws.cnt * len(v.w)) as bigint)
             AS compression_ppm
    FROM ws JOIN vocab3 v ON ws.w = v.w
    GROUP BY ws.source
    """,
    tags=("text", "tokenizer", "pipeline"),
)
def q345_bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — applying q277's trained merges back to the corpus
    (train is half a tokenizer; every LLM pipeline then ENCODES with
    it): re-run the 3-iteration merge loop, then join the merged
    vocabulary onto per-source word counts and report what the
    tokenizer bought — symbol counts before (= characters) and after
    the merges, and the per-source compression in ppm. The oracle
    replays the ENTIRE train+encode pipeline (the q277 CTE chain plus
    a per-source encode join), so a wrong merge choice, a wrong
    greedy-left application, or a miscounted symbol all break the
    hash. Integer counts throughout; the ppm ratio floors identically
    ((a·10⁶) div b vs DuckDB `//`, operands non-negative).

    Scale shape: training cost is iterations × one narrow pass over
    the |distinct words| vocab (q277); encoding is ONE broadcast join
    of that bounded vocab onto per-source word counts — the corpus is
    touched once for counting and never re-scanned per merge. At
    100 TB the vocab frame is vocabulary-bounded (≪ corpus), exactly
    the asymmetry a broadcast join wants."""
    vocab, _ = _bpe_train_frames(spark, sf_dir, k=3)
    d = table(spark, sf_dir, "documents")
    ws = (
        d.select("source", F.explode(tokens("text")).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_syms = F.size(F.expr("split(trim(BOTH '·' FROM s), '··')"))
    enc = ws.join(F.broadcast(vocab.select("w", "s")), "w").select(
        "source",
        "cnt",
        F.length("w").alias("n_chars_w"),
        n_syms.alias("n_syms_w"),
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("n_chars_w")).cast("bigint").alias("syms_before"),
        F.sum(F.col("cnt") * F.col("n_syms_w")).cast("bigint").alias("syms_after"),
        F.expr(
            "cast((sum(cnt * n_syms_w) * 1000000) div sum(cnt * n_chars_w)"
            " as bigint)"
        ).alias("compression_ppm"),
    )


@query(
    "q353_phrase_search",
    oracle=f"""
    WITH toks AS (
      -- DuckDB 1.0 has no WITH ORDINALITY; index the array explicitly
      SELECT doc_id, ws[cast(i as int)] AS w, cast(i as bigint) AS pos
      FROM (SELECT doc_id, {_TOKS} AS ws FROM documents),
           unnest(range(1, len(ws) + 1)) AS t(i)
    ), bg AS (
      SELECT a.w AS w1, b.w AS w2, count(*) AS n
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.w, b.w
    ), top AS (
      SELECT w1, w2 FROM bg ORDER BY n DESC, w1, w2 LIMIT 1
    ), p1 AS (
      SELECT t.doc_id, list_sort(list(t.pos)) AS ps
      FROM toks t JOIN top ON t.w = top.w1 GROUP BY t.doc_id
    ), p2 AS (
      SELECT t.doc_id, list_sort(list(t.pos)) AS ps
      FROM toks t JOIN top ON t.w = top.w2 GROUP BY t.doc_id
    ), hits AS (
      SELECT p1.doc_id,
             len(list_intersect(list_transform(p1.ps, p -> p + 1), p2.ps))
               AS n_occurrences
      FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    )
    SELECT h.doc_id, cast(h.n_occurrences as int) AS n_occurrences,
           top.w1, top.w2
    FROM hits h CROSS JOIN top
    WHERE h.n_occurrences > 0
    ORDER BY h.n_occurrences DESC, h.doc_id LIMIT 20
    """,
    tags=("text", "search"),
)
def q353_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH over a POSITIONAL inverted index — the adjacency
    query q165's document-level postings and q278's bag-of-words BM25
    cannot answer ("w1 w2" as consecutive tokens, not co-occurrence):
    posexplode keeps token positions, the corpus's top bigram (count
    desc, pair asc — data-derived, deterministic) becomes the query
    phrase via a one-row broadcast, each term's postings fold to a
    sorted per-doc position array, and phrase occurrences =
    |intersect(positions(w1)+1, positions(w2))| — the classic
    positional-index merge, here as array_intersect on two
    position-list columns. Top-20 docs under the (count, doc) total
    order; exact integers end to end.

    Scale shape: the positional index is (term, doc, positions) —
    exactly what the postings join shuffles on (term first via the
    broadcast phrase filter, then doc); position arrays are
    doc-length-bounded. The expensive top-bigram discovery is the
    q116 aggregation and would be replaced by a user-supplied phrase
    in an interactive deployment."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "w")
    ).select("doc_id", "w", (F.col("pos0") + 1).cast("bigint").alias("pos"))
    bg = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = bg.orderBy(F.col("n").desc(), "w1", "w2").limit(1).select("w1", "w2")
    p1 = (
        toks.join(F.broadcast(top), toks["w"] == F.col("w1"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps1"))
    )
    p2 = (
        toks.join(F.broadcast(top), toks["w"] == F.col("w2"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps2"))
    )
    hits = p1.join(p2, "doc_id").select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.transform("ps1", lambda p: p + 1), F.col("ps2")
            )
        ).alias("n_occurrences"),
    )
    return (
        hits.filter(F.col("n_occurrences") > 0)
        .crossJoin(F.broadcast(top))
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.col("n_occurrences").cast("int"), "w1", "w2")
    )


@query(
    "q355_unicode_nfc_normalize",
    oracle="""
    WITH raw(case_id, s) AS (VALUES
      (1, chr(101) || chr(769)),            -- e + COMBINING ACUTE
      (2, chr(233)),                        -- precomposed e-acute
      (3, chr(97) || chr(776)),             -- a + COMBINING DIAERESIS
      (4, chr(64257)),                      -- fi ligature: NFC-invariant
      (5, chr(111) || chr(770) || chr(803)),-- o + circumflex + dot-below
      (6, chr(4352) || chr(4449)),          -- Hangul jamo -> syllable
      (7, 'spark'),                         -- ASCII fixed point
      (8, chr(65) || chr(778))              -- A + COMBINING RING
    )
    SELECT cast(case_id as int) AS case_id,
           nfc_normalize(s) AS nfc_str,
           cast(length(s) as int) AS n_cp_raw,
           cast(length(nfc_normalize(s)) as int) AS n_cp_nfc,
           s != nfc_normalize(s) AS changed,
           hex(encode(nfc_normalize(s))) AS nfc_hex
    FROM raw
    """,
    tags=("text", "unicode", "parity"),
)
def q355_unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE NFC NORMALIZATION — the canonicalization pass a text
    pipeline runs before hashing/dedup (q37's content hash treats
    'e'+U+0301 and precomposed é as DIFFERENT documents unless someone
    normalizes first; this is that stage). Spark has NO normalization
    builtin, so this is the documented UDF-as-last-resort path: an
    Arrow-batched pandas UDF over Python's unicodedata — while DuckDB
    normalizes with utf8proc's nfc_normalize. Both implement Unicode
    canonical composition, so every output (the normalized string, its
    codepoint counts, the changed flag, AND the UTF-8 byte hex of the
    result) must hash identically — canonical REORDERING (dot-below
    sorts before circumflex by combining class, then both compose to
    U+1ED9), Hangul jamo composition, and the fi-ligature NFC fixed
    point (ligatures only decompose under NFKC) are all in the
    battery. Per-row narrow stage; at corpus scale this runs inside
    the same Arrow batch pass as tokenization."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    # explicit escapes: composed vs decomposed forms are visually
    # identical in source, so spelling the codepoints out is the only
    # way an editor can see (and preserve) which form each case is
    cases = [
        (1, "e\u0301"),
        (2, "\u00e9"),
        (3, "a\u0308"),
        (4, "\ufb01"),
        (5, "o\u0302\u0323"),
        (6, "\u1100\u1161"),
        (7, "spark"),
        (8, "A\u030a"),
    ]
    raw = spark.createDataFrame(cases, "case_id int, s string")
    n = raw.select("case_id", "s", nfc("s").alias("nfc_str"))
    return n.select(
        "case_id",
        "nfc_str",
        F.length("s").cast("int").alias("n_cp_raw"),
        F.length("nfc_str").cast("int").alias("n_cp_nfc"),
        (F.col("s") != F.col("nfc_str")).alias("changed"),
        F.hex(F.encode("nfc_str", "UTF-8")).alias("nfc_hex"),
    )


@query("q356_compression_quality", oracle=None, tags=("text", "quality", "rows-only"))
def q356_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO quality signal (the RefinedWeb/Gopher-family
    low-information filter q43's surface statistics can't express):
    documents whose zlib-deflated size is a tiny fraction of their raw
    bytes are boilerplate/template/repetition, whatever their token
    stats look like. Each Arrow batch deflates its documents in one
    mapInPandas pass (level 6, the curation default) and emits exact
    integer ppm ratios; a per-source aggregate reports the corpus
    compressibility profile and how many docs fall under the 250000
    ppm (4:1) boilerplate line.

    Rows-only by contract: no SQL engine exposes zlib, so there is no
    oracle — the operator is pinned instead by planted-document tests
    (pure repetition must compress under 5%, shuffled-vocabulary text
    must not) and by exact byte accounting (raw_bytes equals the UTF-8
    length the oracle-checked queries see). Deflate output is
    deterministic for a fixed zlib/level, so re-runs agree bitwise.
    Scale: per-row narrow stage, one 5-group aggregate; at 100 TB this
    shares the tokenization Arrow pass."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select("source", "doc_id", "text")

    def gen(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].map(lambda t: len(t.encode("utf-8")))
            comp = pdf["text"].map(
                lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            )
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw.astype("int64"),
                    "ratio_ppm": (comp * 1_000_000 // raw).astype("int64"),
                }
            )

    per = d.mapInPandas(
        gen, "source string, doc_id bigint, raw_bytes bigint, ratio_ppm bigint"
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("raw_bytes").cast("bigint").alias("raw_bytes"),
        (F.sum("ratio_ppm") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mean_ratio_ppm"),
        F.min("ratio_ppm").alias("min_ratio_ppm"),
        F.max("ratio_ppm").alias("max_ratio_ppm"),
        F.count_if(F.col("ratio_ppm") < 250_000).cast("bigint").alias("n_boilerplate"),
    )


@query(
    "q361_rag_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS ws FROM documents
    ), starts AS (
      SELECT doc_id, ws, cast(st as bigint) AS st
      FROM t, unnest(range(0, len(ws), 48)) AS u(st)
      WHERE len(ws) > 0
    ), chunks AS (
      SELECT doc_id,
             st // 48 AS chunk_idx,
             st + 1 AS start_tok,
             list_slice(ws, cast(st + 1 as int), cast(st + 64 as int)) AS ch
      FROM starts
    )
    SELECT doc_id,
           cast(chunk_idx as int) AS chunk_idx,
           cast(start_tok as bigint) AS start_tok,
           cast(len(ch) as int) AS n_tok,
           md5(array_to_string(ch, ' ')) AS chunk_digest
    FROM chunks
    """,
    tags=("text", "rag", "chunking"),
)
def q361_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WINDOW document chunking with overlap — the RAG/embedding
    prep step (64-token windows, stride 48, 16-token overlap) that
    complements content-defined CDC chunking (q235: boundaries from
    content, variable size) with the position-defined form every
    retrieval pipeline actually embeds. One `sequence` per doc
    generates the stride grid, posexplode fans out (chunk_idx, start),
    `slice` cuts the window (tail chunks run short, never padded), and
    each chunk ships as an md5 digest of its re-joined text — so the
    hash pins exact token membership AND order per chunk. No shuffle
    at all until a downstream consumer groups: chunking is a NARROW
    map over the corpus, which is exactly what lets it run at
    scan-speed over 100 TB (the explode multiplies rows ~n/stride
    within each task; no skew beyond document length itself)."""
    d = table(spark, sf_dir, "documents")
    ws = tokens("text")
    base = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") > 0)
    fan = base.select(
        "doc_id",
        "ws",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(48))
        ).alias("chunk_idx", "st"),
    )
    ch = F.slice(F.col("ws"), F.col("st") + 1, 64)
    return fan.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("st") + 1).cast("bigint").alias("start_tok"),
        F.size(ch).cast("int").alias("n_tok"),
        F.md5(F.array_join(ch, " ")).alias("chunk_digest"),
    )


@query(
    "q362_rrf_hybrid_retrieval",
    oracle=_BM25_CTES
    + """, bm_top AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb
      FROM agg ORDER BY bm25 DESC, doc_id LIMIT 25
    ), qv AS (
      SELECT embedding AS v FROM embeddings WHERE vec_id = 0
    ), cos AS (
      SELECT e.vec_id AS doc_id, __COS__ AS c
      FROM embeddings e CROSS JOIN qv q
    ), cos_top AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY c DESC, doc_id) AS rc
      FROM cos ORDER BY c DESC, doc_id LIMIT 25
    ), fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             cast(coalesce(b.rb, 0) as bigint) AS rank_bm25,
             cast(coalesce(c.rc, 0) as bigint) AS rank_cos,
             coalesce(1000000000 // (60 + b.rb), 0)
               + coalesce(1000000000 // (60 + c.rc), 0) AS rrf_ppb
      FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rank_bm25, rank_cos, cast(rrf_ppb as bigint) AS rrf_ppb
    FROM fused ORDER BY rrf_ppb DESC, doc_id LIMIT 10
    """.replace("__COS__", cosine_sql("e.embedding", "q.v")),
    tags=("text", "search", "hybrid", "vector"),
)
def q362_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via RECIPROCAL RANK FUSION (Cormack et al.
    2009) — the standard way production search merges the lexical and
    dense tiers this catalog already has separately: q278's BM25
    top-25 and the exact-cosine top-25 against a data-derived query
    embedding (vec_id 0) fuse by rank only, score_ppb =
    Σ 10⁹ div (60 + rank). Ranks are integers and the fusion is pure
    integer floor-division, so the fused ordering is engine-exact even
    though both underlying scores are floats (their per-list ORDERINGS
    are already cross-engine-proven: BM25 by q278's sorted-fold
    protocol, cosine by the functions/vectors.py ordered-fold one).
    Missing-from-a-list docs contribute 0 — the full-outer-join RRF
    form. Oracle shares _BM25_CTES with q278 so the lexical leg cannot
    drift.

    Scale: each leg is its own bounded top-k (BM25 = inverted-index
    probe; cosine = one corpus pass — swap in the q66 IVF tier past
    ~10⁵ vectors); the fusion itself joins two k-row frames — free at
    any corpus size. The per-leg ranks come from windows over
    POST-LIMIT 25-row frames, not the corpus."""
    from ..functions.vectors import cosine

    bm = (
        _bm25_agg_frame(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(25)
    )
    bm_top = bm.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))  # global-window-ok: post-limit 25-row frame
        .alias("rb"),
    )
    e = table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("v"))
    cos = e.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"), cosine("embedding", "v").alias("c")
    )
    cos_top = (
        cos.orderBy(F.col("c").desc(), "doc_id")
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
    return fused.orderBy(F.col("rrf_ppb").desc(), "doc_id").limit(10)


@query(
    "q372_vocab_growth",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, doc_id // 100 AS batch, {_TOKS} AS toks
      FROM documents WHERE len({_TOKS}) >= 2
    ), bg AS (
      SELECT batch,
             toks[cast(i as int)] || ' ' || toks[cast(i as int) + 1] AS typ
      FROM dt, unnest(range(1, len(toks))) t(i)
    ), per_batch AS (
      SELECT batch, cast(count(*) as bigint) AS n_tokens FROM bg GROUP BY batch
    ), firsts AS (
      SELECT typ, min(batch) AS first_batch FROM bg GROUP BY typ
    ), newt AS (
      SELECT first_batch AS batch, cast(count(*) as bigint) AS new_types
      FROM firsts GROUP BY first_batch
    )
    SELECT p.batch,
           p.n_tokens,
           cast(sum(p.n_tokens) OVER (ORDER BY p.batch
                ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tokens,
           cast(coalesce(n.new_types, 0) as bigint) AS new_types,
           cast(sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.batch
                ROWS UNBOUNDED PRECEDING) as bigint) AS cum_vocab
    FROM per_batch p LEFT JOIN newt n ON p.batch = n.batch
    """,
    tags=("text", "llm-pipeline", "curation"),
)
def q372_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY GROWTH CURVE (Heaps-law audit) — the
    diminishing-returns diagnostic a data-acquisition loop reads
    before buying more of the same source: per ingestion batch (100
    docs in doc_id order), how many NEW types (here word bigrams, the
    type space coarse unigrams saturate instantly) the batch
    contributed vs cumulative corpus size. A flattening cum_vocab
    against a linear cum_tokens says the source is exhausted —
    RefinedWeb/FineWeb-style curation reads exactly this curve per
    crawl snapshot.

    Shape: ONE explode pass over the corpus (bigram emission is a
    narrow transform), then two map-side-combined aggregations —
    per-batch token counts and per-TYPE first-occurrence batch
    (min(batch), the one-pass trick that avoids any ordered scan of
    the corpus) — folded to a batches-sized frame. The cumulative
    columns run through global_prefix_sum (range exchange, no
    single-partition window) in one multi-measure pass. At 100 TB the
    only corpus-sized shuffles are the two groupBys, both bounded by
    |types| + |batches|, and the curve frame itself is tiny."""
    from ..operators.ranking import global_prefix_sum

    d = table(spark, sf_dir, "documents")
    dt = d.select(
        F.expr("doc_id div 100").alias("batch"), tokens("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = dt.select(
        "batch",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
                ),
            )
        ).alias("typ"),
    )
    per_batch = bg.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    newt = (
        bg.groupBy("typ")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    curve = per_batch.join(newt, "batch", "left").select(
        "batch",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
    )
    out = global_prefix_sum(
        curve,
        ["batch"],
        ["n_tokens", "new_types"],
        ["cum_tokens", "cum_vocab"],
    )
    return out.select(
        "batch", "n_tokens", "cum_tokens", "new_types", "cum_vocab"
    )


@query(
    "q382_good_turing_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS token
      FROM documents
    ), tf AS (
      SELECT source, token, cast(count(*) as bigint) AS f
      FROM toks GROUP BY source, token
    ), fof AS (
      SELECT source, f, cast(count(*) as bigint) AS n_f
      FROM tf GROUP BY source, f
    )
    SELECT source,
           cast(sum(n_f) as bigint) AS vocab,
           cast(sum(f * n_f) as bigint) AS n_tokens,
           cast(coalesce(sum(n_f) FILTER (WHERE f = 1), 0) as bigint)
             AS hapax,
           cast(coalesce(sum(n_f) FILTER (WHERE f = 1), 0) * 1000000
                // sum(f * n_f) as bigint) AS unseen_mass_ppm,
           cast(coalesce(sum(n_f) FILTER (WHERE f <= 2), 0) * 1000000
                // sum(n_f) as bigint) AS rare_vocab_ppm
    FROM fof GROUP BY source
    """,
    tags=("text", "llm-pipeline", "curation"),
)
def q382_good_turing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING coverage estimate — "how much of this source's
    vocabulary have we NOT seen yet?": the Good-Turing estimator puts
    the probability mass of unseen types at N₁/N (hapax count over
    token count), the standard answer to whether another crawl of the
    same source will still yield new vocabulary (the probabilistic
    complement to q372's observed growth curve — q372 measures the
    curve, this predicts its continuation). Per source: vocabulary
    size, token count, hapax count, unseen-mass ppm and the ≤2-count
    rare-vocabulary share — ALL exact integers (the estimator itself
    is a ratio of counts; ppm floor-division, no floats anywhere).

    Scale: token-frequency table (map-side-combined groupBy bounded by
    Σ per-source vocab) → frequency-of-frequencies table (bounded by
    distinct frequencies ≪ vocab) → one grouped fold. The corpus is
    scanned once."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("token")
    )
    tf = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    fof = tf.groupBy("source", "f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_f")
    )
    return fof.groupBy("source").agg(
        F.sum("n_f").cast("bigint").alias("vocab"),
        F.sum(F.col("f") * F.col("n_f")).cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum(F.when(F.col("f") == 1, F.col("n_f"))), F.lit(0))
        .cast("bigint")
        .alias("hapax"),
        F.expr(
            "coalesce(sum(n_f) FILTER (WHERE f = 1), 0) * 1000000"
            " div sum(f * n_f)"
        )
        .cast("bigint")
        .alias("unseen_mass_ppm"),
        F.expr(
            "coalesce(sum(n_f) FILTER (WHERE f <= 2), 0) * 1000000"
            " div sum(n_f)"
        )
        .cast("bigint")
        .alias("rare_vocab_ppm"),
    )


@query(
    "q383_jensen_shannon",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT source, token, cast(count(*) as bigint) AS c
      FROM toks GROUP BY source, token
    ), corpus AS (
      SELECT token, cast(sum(c) as bigint) AS d FROM tf GROUP BY token
    ), ns AS (
      SELECT source, cast(sum(c) as bigint) AS n_s FROM tf GROUP BY source
    ), nn AS (
      SELECT cast(sum(d) as bigint) AS n FROM corpus
    ), grid AS (
      SELECT s.source, s.n_s, k.token, k.d, nn.n, coalesce(tf.c, 0) AS c
      FROM ns s CROSS JOIN corpus k CROSS JOIN nn
      LEFT JOIN tf ON tf.source = s.source AND tf.token = k.token
    ), terms AS (
      SELECT source,
             (CASE WHEN c > 0 THEN (cast(c as double) / n_s)
                * ln((cast(c as double) / n_s)
                     / ((cast(c as double) / n_s + cast(d as double) / n) / 2.0))
              ELSE cast(0.0 as double) END)
             + (cast(d as double) / n)
               * ln((cast(d as double) / n)
                    / ((cast(c as double) / n_s + cast(d as double) / n) / 2.0))
               AS term
      FROM grid
    )
    SELECT source,
           cast(count(*) as bigint) AS n_tokens,
           round(0.5 * list_reduce(list_sort(list(term)), (a, x) -> a + x), 6)
             AS jsd_nats
    FROM terms GROUP BY source
    """,
    tags=("text", "llm-pipeline", "stats"),
)
def q383_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON divergence of each source's token distribution
    from the corpus mixture — the symmetric, bounded (≤ ln 2),
    zero-safe outlier-source detector the asymmetric KL can't be
    (PSI q381 needs binning and Laplace; JSD handles absent tokens
    exactly: the p=0 half-term vanishes, the mixture keeps ln finite).
    The top-JSD source is the one whose text least resembles the
    corpus — the source-level triage read before q127's per-document
    LM scoring.

    Exactness: every probability is a division of EXACT integer
    counts; each token's contribution is one fixed-order IEEE
    expression written form-for-form on both engines; the per-source
    sum folds in sorted order (q368/q381 protocol). Scale: the
    (source, token) frequency table is the only corpus-sized shuffle
    (map-side combined); the dense source×vocab grid and the fold are
    dictionary-sized."""
    toks = table(spark, sf_dir, "documents").select(
        "source", F.explode(tokens("text")).alias("token")
    )
    tf = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    from ..operators.ranking import pin_cache

    tf = pin_cache(tf)
    corpus = tf.groupBy("token").agg(F.sum("c").cast("bigint").alias("d"))
    ns = tf.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    nn = corpus.agg(F.sum("d").cast("bigint").alias("n"))
    grid = (
        ns.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(nn))
        .join(tf, ["source", "token"], "left")
        .select(
            "source",
            "n_s",
            "token",
            "d",
            "n",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    p = F.col("c").cast("double") / F.col("n_s")
    q = F.col("d").cast("double") / F.col("n")
    m = (p + q) / 2.0
    terms = grid.select(
        "source",
        (
            F.when(F.col("c") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
            + q * F.log(q / m)
        ).alias("term"),
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(
            0.5
            * F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("jsd_nats"),
    )


_Q390_QUERY_TERMS = (
    (1, "spark"), (1, "stream"),
    (2, "data"), (2, "window"), (2, "batch"),
    (3, "join"), (3, "query"),
    (4, "quantum"), (4, "spark"),  # 'quantum' has no postings: zero-hit term
)


@query(
    "q390_bm25_index_serving",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT sum(len) FROM dl) AS total_len
    ), qt AS (
      SELECT * FROM (VALUES {", ".join(f"({q}, '{t}')" for q, t in _Q390_QUERY_TERMS)})
        v(query_id, t)
    ), tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks
      WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, t
    ), idf AS (
      SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t
    ), scored AS (
      SELECT qt.query_id, tf.doc_id,
             ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.total_len / cast(s.n_docs as double))))
               AS term_score
      FROM qt JOIN tf ON tf.t = qt.t
              JOIN idf i ON i.t = qt.t
              JOIN dl d ON tf.doc_id = d.doc_id
              CROSS JOIN stats s
    ), agg AS (
      SELECT query_id, doc_id,
             list_reduce(list_sort(list(term_score)), (x, y) -> x + y) AS bm25,
             count(*) AS n_terms_hit
      FROM scored GROUP BY query_id, doc_id
    ), ranked AS (
      SELECT query_id, doc_id, bm25, n_terms_hit,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, doc_id) AS rank
      FROM agg
    )
    SELECT query_id, cast(rank as bigint) AS rank, doc_id,
           round(bm25, 6) AS bm25,
           cast(n_terms_hit as bigint) AS n_terms_hit
    FROM ranked WHERE rank <= 5
    """,
    tags=("text", "search", "state"),
)
def q390_bm25_index_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 SERVING from a persisted inverted index — the state-family
    (q388/q389) posture applied to retrieval: the corpus tokenizes ONCE
    into a written index (operators/retrieval.py::write_bm25_index —
    postings (t, doc_id, tf, len) repartitioned + sorted by term for
    row-group term pruning, with the doc-length norm DENORMALIZED into
    the posting row so no corpus-sized doc join survives into serving;
    broadcast-sized df and one-row stats beside it), and a BATCH of
    queries (four here, including one zero-postings term) scores
    against the INDEX alone — q278 re-derives the same numbers from raw
    text per query; this is what a retrieval deployment actually runs.

    Hash-verifiability: scoring is q278's exact arithmetic (Robertson
    idf, k1=1.2, b=0.75, per-(query,doc) sorted-fold sum — the bitwise
    float protocol), df from the index equals the oracle's distinct
    count by construction (postings are unique per (t, doc)), and the
    per-query top-5 is taken under the total (bm25 DESC, doc_id) order
    — so index-served results are value-identical to the from-scratch
    oracle: the index changes WHERE numbers come from, never what they
    are.

    100 TB story: the probe broadcasts O(query terms) rows against a
    term-sorted postings table (row-group min/max skipping = the
    columnar index seek), df/stats broadcast, and the only shuffle is
    the hit-bounded (query, doc) aggregation — per-batch cost scales
    with HITS, not corpus. Maintenance is an append of the new docs'
    postings + a df/stats re-fold, R16's incremental posture."""
    from ..operators.retrieval import bm25_serve, write_bm25_index

    base, _ = query_state(
        "q390", sf_dir, lambda sd: write_bm25_index(table(spark, sf_dir, "documents"), sd)
    )
    postings = spark.read.parquet(base + "/postings")
    dfreq = spark.read.parquet(base + "/df")
    stats = spark.read.parquet(base + "/stats")
    qt = spark.createDataFrame(list(_Q390_QUERY_TERMS), "query_id int, t string")
    out = bm25_serve(
        qt, postings, dfreq, stats, top_k=5,
        terms=sorted({t for _, t in _Q390_QUERY_TERMS}),
    )
    return out.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
    )


@query(
    "q396_bm25_index_compaction",
    oracle=f"""
    WITH live AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2
    ), toks AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM live
    ), dl AS (
      SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM dl) AS n_docs,
             (SELECT sum(len) FROM dl) AS total_len
    ), qt AS (
      SELECT * FROM (VALUES {", ".join(f"({q}, '{t}')" for q, t in _Q390_QUERY_TERMS)})
        v(query_id, t)
    ), tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks
      WHERE t IN (SELECT t FROM qt) GROUP BY doc_id, t
    ), idf AS (
      SELECT t, count(DISTINCT doc_id) AS df FROM tf GROUP BY t
    ), scored AS (
      SELECT qt.query_id, tf.doc_id,
             ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * d.len
                                 / (s.total_len / cast(s.n_docs as double))))
               AS term_score
      FROM qt JOIN tf ON tf.t = qt.t
              JOIN idf i ON i.t = qt.t
              JOIN dl d ON tf.doc_id = d.doc_id
              CROSS JOIN stats s
    ), agg AS (
      SELECT query_id, doc_id,
             list_reduce(list_sort(list(term_score)), (x, y) -> x + y) AS bm25,
             count(*) AS n_terms_hit
      FROM scored GROUP BY query_id, doc_id
    ), ranked AS (
      SELECT query_id, doc_id, bm25, n_terms_hit,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, doc_id) AS rank
      FROM agg
    )
    SELECT query_id, cast(rank as bigint) AS rank, doc_id,
           round(bm25, 6) AS bm25,
           cast(n_terms_hit as bigint) AS n_terms_hit
    FROM ranked WHERE rank <= 5
    """,
    tags=("text", "search", "state", "maintenance"),
)
def q396_bm25_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 INDEX MAINTENANCE — append, TTL, compact, then serve: the
    q393 lifecycle pass applied to the retrieval state. Generation 1
    indexes yesterday's corpus (doc_id % 3 ≠ 0); today's batch
    (doc_id % 3 = 0) APPENDS its postings — the append both grows each
    shard's file count and BREAKS the sorted-by-term layout row-group
    skipping needs, exactly the degradation a real serving index
    accumulates. operators/retrieval.py::compact_bm25_index then drops
    TTL'd docs (retention proxy: doc_id % 7 = 2), restores one sorted
    file per shard, and RE-DERIVES df and stats from the surviving
    postings (df/stats are postings-functionals — recomputing them
    from the compacted table is exact by construction, where merging
    stale per-generation snapshots would double-count dropped docs).
    The q390 query battery then serves from the compacted index.

    Hash-verifiability: q278/q390's bitwise float protocol (Robertson
    idf, sorted-fold sum, total (bm25 DESC, doc_id) order) over the
    live corpus — the oracle recomputes from raw text with the same
    TTL predicate, so the driver checks append ∘ compact ∘ serve ≡
    from-scratch, per ranked row. Stats are defined over INDEXED docs
    (≥1 token) on both engines.

    100 TB story: daily maintenance cost is one term-keyed shuffle of
    the postings (term/doc/tf/len scalars, never the corpus text) plus
    two broadcast-sized re-folds; the retention predicate is evaluated
    before the exchange. Serving keeps q390's shape — term IN-list
    pushed into the sorted postings scan, hit-bounded aggregation."""
    import os

    from ..operators.retrieval import (
        bm25_serve,
        build_bm25_index,
        compact_bm25_index,
        write_bm25_index,
    )

    d = table(spark, sf_dir, "documents")

    def build(base: str) -> None:
        write_bm25_index(d.filter(F.col("doc_id") % 3 != 0), base)
        # maintenance append: the new docs' postings extend the shards
        # (breaking sort order within shards — compaction's job to fix)
        new_postings, _, _ = build_bm25_index(d.filter(F.col("doc_id") % 3 == 0))
        new_postings.repartition(8, "t").sortWithinPartitions("t", "doc_id").write.mode(
            "append"
        ).parquet(base + "/postings")

    base, _ = query_state("q396", sf_dir, build)
    out_dir = os.path.join(base, "compacted")
    postings, dfreq, stats = compact_bm25_index(
        spark, base, out_dir, keep=F.col("doc_id") % 7 != 2
    )
    qt = spark.createDataFrame(list(_Q390_QUERY_TERMS), "query_id int, t string")
    out = bm25_serve(
        qt, postings, dfreq, stats, top_k=5,
        terms=sorted({t for _, t in _Q390_QUERY_TERMS}),
    )
    return out.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
    )


@query(
    "q401_incremental_vocab_state",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id % 4 AS b, {_TOKS} AS toks
      FROM documents WHERE len({_TOKS}) >= 2
    ), bg AS (
      SELECT b, toks[cast(i as int)] || ' ' || toks[cast(i as int) + 1] AS typ
      FROM dt, unnest(range(1, len(toks))) t(i)
    ), firsts AS (
      SELECT typ, min(b) AS batch FROM bg GROUP BY typ
    ), nb AS (
      SELECT batch, cast(count(*) as bigint) AS n_new FROM firsts GROUP BY batch
    )
    SELECT cast(d.batch as int) AS batch,
           cast(coalesce(n.n_new, 0) as bigint) AS n_new_tokens,
           cast(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.batch
                ROWS UNBOUNDED PRECEDING) as bigint) AS vocab_after
    FROM range(4) d(batch) LEFT JOIN nb n ON d.batch = n.batch
    """,
    tags=("text", "incremental", "state"),
)
def q401_incremental_vocab_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VOCABULARY STATE — q372's Heaps-law curve as the
    daily job that actually maintains it: a persisted (token,
    first_batch) set-union state table, grown batch by batch. Batch 0
    seeds the state; each arriving batch (doc_id % 4 slices standing
    in for crawl days) distincts ITS OWN tokens, LEFT-ANTI joins the
    state to find never-seen types, and APPENDS exactly those — the
    loop a curation service runs on every snapshot to answer "is this
    source exhausted?" without ever re-tokenizing history. The final
    report (per batch: new types contributed, vocabulary size after)
    reads the state alone.

    The oracle recomputes the whole curve from scratch with the
    one-pass min(batch) algebra — so the driver hash-checks that the
    sequential anti-join/append LOOP is exactly equivalent to the
    global first-occurrence aggregation: set union is associative and
    the anti-join admits a token exactly once, at its first batch.

    100 TB story: per batch the work is one token-keyed distinct
    (bounded by the BATCH's vocabulary) and one token-keyed anti-join
    against the state (state is |vocab| rows — millions-to-billions of
    short strings, far smaller than the corpus; both sides already
    keyed on token, and AQE flips the join to broadcast while the
    vocab fits). History text is never re-read — the posture that
    matters when each snapshot is terabytes. State appends follow the
    generation discipline (fresh files per batch; compaction via q393's
    pass when file counts grow)."""
    import os

    d = table(spark, sf_dir, "documents")
    # bigram types (q372's type space): unigram vocab saturates in the
    # first batch on any real corpus, collapsing the curve to one row
    dt = d.select(
        (F.col("doc_id") % 4).cast("int").alias("batch"),
        tokens("text").alias("toks"),
    ).filter(F.size("toks") >= 2)
    toks = dt.select(
        "batch",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i),
                    F.lit(" "),
                    F.element_at("toks", i + 1),
                ),
            )
        ).alias("tok"),
    )

    state_dir = os.path.join(scratch_dir("q401"), "vocab_state")
    # batch 0 seeds the state
    toks.filter(F.col("batch") == 0).select("tok").distinct().select(
        "tok", F.lit(0).cast("int").alias("first_batch")
    ).write.parquet(state_dir)
    # batches 1..3 arrive sequentially: distinct own tokens, anti-join
    # the persisted state, append only the never-seen types
    for b in (1, 2, 3):
        state = spark.read.parquet(state_dir)
        fresh = (
            toks.filter(F.col("batch") == b)
            .select("tok")
            .distinct()
            .join(state, "tok", "left_anti")
            .select("tok", F.lit(b).cast("int").alias("first_batch"))
        )
        fresh.write.mode("append").parquet(state_dir)

    per_batch = (
        spark.read.parquet(state_dir)
        .groupBy(F.col("first_batch").alias("batch"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_tokens"))
    )
    # report over the FULL batch domain (a saturated batch contributes
    # an explicit zero, not a missing row); the curve frame is
    # |batches| rows — the global-order window's single-partition
    # exchange is the acceptable one-tiny-frame final (q372 takes the
    # distributed prefix-sum path for the general case)
    domain = spark.range(4).select(F.col("id").cast("int").alias("batch"))
    full = domain.join(per_batch, "batch", "left").select(
        "batch",
        F.coalesce("n_new_tokens", F.lit(0)).cast("bigint").alias("n_new_tokens"),
    )
    w = W.orderBy("batch").rowsBetween(W.unboundedPreceding, W.currentRow)  # global-window-ok: |batches|-row frame (4 rows)
    return full.select(
        "batch",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).cast("bigint").alias("vocab_after"),
    )


@query(
    "q404_decontamination_state",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len({_TOKS}) - 6, 1)),
               i -> array_to_string({_TOKS}[i : i + 7], ' ')))) AS gram
      FROM documents
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < 40
    ), hits AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id >= 40
    )
    SELECT d.source,
           cast(count(*) as bigint) AS n_train,
           cast(count(h.doc_id) as bigint) AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= 40
    GROUP BY d.source
    """,
    tags=("text", "dedup", "incremental", "state"),
)
def q404_decontamination_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECONTAMINATION REGISTRY STATE — q89's benchmark 8-gram screen
    at the serving posture a real training pipeline runs: the eval
    suites' gram fingerprints persist as a REGISTRY table, every
    arriving training shard probes it once, and when a NEW benchmark
    lands its grams APPEND incrementally (distinct-own-grams →
    anti-join the registry → append only unseen fingerprints, q401's
    set-union discipline — benchmark text is hashed once, ever).
    Here generation 0 indexes docs 0–19, the newly-added suite docs
    20–39 appends (idempotent: a re-run's anti-join finds nothing new),
    and the training shard (docs ≥ 40) probes the updated registry —
    reported per source as (n_train, n_contaminated).

    Gram protocol is q89's verbatim: 8-byte polynomial gram
    fingerprints (operators/dedup.py::poly_ngram_hashes) on the Spark
    side vs literal 8-gram strings in the oracle — doc-level
    contamination flags agree unless a specific train gram collides
    with a specific bench gram in 2^41 code space, immaterial at any
    fixture scale (q89's argument). The probe join runs SALTED
    (operators/skew.py): common 8-grams are Zipf-hot and a benchmark
    suite's gram set outgrows a broadcast at suite count.

    100 TB story: the registry is bounded by DISTINCT benchmark grams
    (megabytes per suite — microscopic next to the training corpus);
    each shard is probed exactly once on arrival; adding a benchmark
    costs one anti-join against the registry, not a re-scan of any
    training text. The per-(shard × registry-gen) report composes the
    same way the reference's count watermark does (R16): state remembers
    what was screened, arrivals pay only their own size."""
    from ..operators.dedup import poly_ngram_hashes
    from ..operators.skew import salted_join_key

    d = table(spark, sf_dir, "documents")

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(F.array_distinct(poly_ngram_hashes("text", 8))).alias("gram"),
        )

    def build(sd: str) -> None:
        grams(d.filter(F.col("doc_id") < 20)).select("gram").distinct().write.parquet(
            sd + "/gram_registry"
        )

    state_dir = query_state("q404", sf_dir, build)[0] + "/gram_registry"

    # a new benchmark suite (docs 20-39) lands: append only its unseen
    # gram fingerprints (set-union state; idempotent on re-run)
    reg = spark.read.parquet(state_dir)
    fresh = (
        grams(d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)))
        .select("gram")
        .distinct()
        .join(reg, "gram", "left_anti")
    )
    fresh.write.mode("append").parquet(state_dir)
    registry = spark.read.parquet(state_dir)

    train = grams(d.filter(F.col("doc_id") >= 40))
    train_s, reg_s = salted_join_key(train, registry, n_salts=8)
    hits = (
        train_s.join(reg_s, ["gram", "__salt"])
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    meta = d.filter(F.col("doc_id") >= 40).select("doc_id", "source")
    return (
        meta.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.count("__hit").cast("bigint").alias("n_contaminated"),
        )
    )


@query(
    "q441_dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents
    ), tgt AS (
      SELECT w FROM toks WHERE doc_id % 7 = 0
    ), rawt AS (
      SELECT doc_id, w FROM toks WHERE doc_id % 7 <> 0
    ), v AS (
      SELECT count(DISTINCT w) AS vsz FROM toks
    ), nt AS (SELECT count(*) AS n FROM tgt),
    nr AS (SELECT count(*) AS n FROM rawt),
    ctt AS (SELECT w, count(*) AS c FROM tgt GROUP BY w),
    crr AS (SELECT w, count(*) AS c FROM rawt GROUP BY w),
    vocab AS MATERIALIZED (
      SELECT t.w,
             ln(cast(coalesce(ct.c, 0) + 1 as double)
                / cast(nt.n + v.vsz as double))
           - ln(cast(coalesce(cr.c, 0) + 1 as double)
                / cast(nr.n + v.vsz as double)) AS lr
      FROM (SELECT DISTINCT w FROM toks) t
      LEFT JOIN ctt ct ON t.w = ct.w
      LEFT JOIN crr cr ON t.w = cr.w
      CROSS JOIN nt CROSS JOIN nr CROSS JOIN v
    ), docterms AS (
      SELECT doc_id, w, count(*) AS cnt FROM rawt GROUP BY doc_id, w
    ), scored AS (
      SELECT d.doc_id,
             cast(sum(cnt) as bigint) AS n_tokens,
             list_reduce(list_sort(list(cast(cnt as double) * vb.lr)),
                         (x, y) -> x + y) AS wgt
      FROM docterms d JOIN vocab vb ON d.w = vb.w
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_tokens, round(wgt, 6) AS dsir_weight
    FROM scored ORDER BY wgt DESC, doc_id LIMIT 20
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def q441_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SELECTION VIA IMPORTANCE RESAMPLING (DSIR, Xie et al. 2023)
    — the unigram-LM core of the method as a distributed, exactly
    verifiable query: a target-domain slice (doc_id % 7 = 0, the
    'high-quality domain' stand-in) and the raw pool each fit an
    add-one-smoothed unigram LM over the SHARED corpus vocabulary, and
    every raw document scores its importance log-weight
    Σ_types cnt·(ln p_target(w) − ln p_raw(w)) — the log likelihood
    ratio DSIR resamples by. The top-20 by (weight, doc_id) ship with
    exact token counts; a selection pass would keep the head of this
    ordering (q190's quota machinery composes downstream unchanged).

    Cross-engine exactness: all counts are exact integers; both
    probabilities are one double division of exact ints; ln is
    bitwise-equal on identical doubles (ledger); per-document folds
    sum the SORTED per-type terms (the q108/q217 protocol), so the
    weights — and therefore the top-20 set and order — are
    bit-identical. The shared-vocabulary construction keeps both LMs
    total (every token has mass in both), so no -inf edge cases.

    100 TB story: two token-keyed count aggs (map-side combinable),
    one vocabulary-sized LEFT-JOIN assembly of the log-ratio table
    (vocabulary ≪ corpus; broadcastable at realistic vocab sizes),
    one (doc, type)-keyed agg joined against it, and a global top-k
    (TakeOrderedAndProject — never a full sort). DSIR's hashed-ngram
    variant drops in by replacing the token key with a hash bucket,
    shrinking the vocab table to a fixed width."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    tgt = toks.filter(F.col("doc_id") % 7 == 0)
    raw = toks.filter(F.col("doc_id") % 7 != 0)
    vsz = toks.select("w").distinct().agg(F.count(F.lit(1)).alias("vsz"))
    nt = tgt.agg(F.count(F.lit(1)).alias("nt"))
    nr = raw.agg(F.count(F.lit(1)).alias("nr"))
    ctt = tgt.groupBy("w").agg(F.count(F.lit(1)).alias("ct"))
    crr = raw.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    vocab = (
        toks.select("w")
        .distinct()
        .join(ctt, "w", "left")
        .join(crr, "w", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(vsz))
        .select(
            "w",
            F.expr(
                "ln(cast(coalesce(ct, 0) + 1 as double)"
                " / cast(nt + vsz as double))"
                " - ln(cast(coalesce(cr, 0) + 1 as double)"
                " / cast(nr + vsz as double))"
            ).alias("lr"),
        )
    )
    docterms = raw.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        docterms.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.col("cnt").cast("double") * F.col("lr"))
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("wgt"),
        )
    )
    return (
        scored.orderBy(F.col("wgt").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "n_tokens", F.round("wgt", 6).alias("dsir_weight"))
    )


@query(
    "q444_curriculum_schedule",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             cast(len({_TOKS}) as bigint) AS n_tokens,
             cast(len(list_distinct({_TOKS})) as bigint) AS n_distinct,
             cast(len(list_filter({_TOKS},
                  t -> t IN ('the','a','of','and','to','el','la','de'))) as bigint)
               AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, source, n_tokens,
             -- every literal and operand explicitly double: DuckDB's
             -- bare 0.2 * BIGINT routes through DECIMAL arithmetic
             -- (divergence-ledger row) — invisible under round(,6),
             -- exposed by floor at ppm scale
             cast(floor(1000000 * (
               CASE WHEN n_tokens > 0 THEN
                 cast(0.5 as double) * (cast(n_distinct as double) / cast(n_tokens as double))
                 + cast(0.3 as double) * (cast(n_stop as double) / cast(n_tokens as double))
                 + cast(0.2 as double) * cast(least(n_tokens, 100) as double) / cast(100.0 as double)
               ELSE cast(0.0 as double) END)) as bigint) AS quality_ppm
      FROM feat
    ), phased AS (
      SELECT source, n_tokens, quality_ppm,
             ntile(4) OVER (ORDER BY quality_ppm, doc_id) AS phase
      FROM scored
    )
    SELECT cast(phase as int) AS phase, source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_tokens) as bigint) AS token_budget,
           cast(min(quality_ppm) as bigint) AS min_quality_ppm,
           cast(max(quality_ppm) as bigint) AS max_quality_ppm
    FROM phased GROUP BY phase, source
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def q444_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CURRICULUM scheduling — the training-order complement of
    the mix/selection tier (q111 weights, q190 quotas, q441 DSIR): the
    corpus is split into four global quality phases (anneal low→high,
    the 'end training on your best data' recipe), and the schedule
    ships as the per-(phase, source) composition — doc counts, token
    budgets, and the phase's quality band — which is exactly the table
    a data-mix engineer inspects to see how the source mixture SHIFTS
    across the anneal (boilerplate-heavy sources drain out of the
    final phase).

    Cross-engine protocol: the curriculum key is integer
    quality_ppm = floor(10⁶ · q45's composite score) — the score is
    divisions/multiplications of exact integer features written in the
    identical IEEE shape on both engines, and the floor lands it in
    ppm space, so the (quality_ppm, doc_id) ntile order is total and
    bit-identical. Phases come from operators/ranking.py::
    distributed_ntile (the q132 machinery — two-phase distributed
    ranking, NO single-partition global window), value-matching the
    oracle's ntile(4) window exactly.

    100 TB story: one narrow scan computes the features, the phase
    assignment is the distributed-ranking shuffle (sample-based range
    exchange + per-partition offsets), and the report is one
    (phase, source) agg — the schedule for a 10¹²-doc corpus costs one
    ranking pass, and the writer that materializes the actual
    curriculum order partitions by (phase, hash) with no extra
    machinery."""
    from ..operators.ranking import distributed_ntile

    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.filter(
        toks,
        lambda t: t.isin("the", "a", "of", "and", "to", "el", "la", "de"),
    )
    feat = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.size(stop).cast("bigint").alias("n_stop"),
    )
    scored = feat.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(
            F.lit(1000000)
            * F.when(
                F.col("n_tokens") > 0,
                F.lit(0.5)
                * (
                    F.col("n_distinct").cast("double")
                    / F.col("n_tokens").cast("double")
                )
                + F.lit(0.3)
                * (
                    F.col("n_stop").cast("double")
                    / F.col("n_tokens").cast("double")
                )
                + F.lit(0.2)
                * F.least(F.col("n_tokens"), F.lit(100)).cast("double")
                / F.lit(100.0),
            ).otherwise(F.lit(0.0))
        )
        .cast("bigint")
        .alias("quality_ppm"),
    )
    phased = distributed_ntile(
        scored, 4, ["quality_ppm", "doc_id"], out_col="phase"
    )
    return phased.groupBy("phase", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("token_budget"),
        F.min("quality_ppm").cast("bigint").alias("min_quality_ppm"),
        F.max("quality_ppm").cast("bigint").alias("max_quality_ppm"),
    )


@query(
    "q445_incremental_dsir_state",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents
    ), tgt AS (
      SELECT w FROM toks WHERE doc_id % 7 = 0
    ), rawt AS (
      SELECT doc_id, w FROM toks WHERE doc_id % 7 <> 0
    ), v AS (
      SELECT count(DISTINCT w) AS vsz FROM toks
    ), nt AS (SELECT count(*) AS n FROM tgt),
    nr AS (SELECT count(*) AS n FROM rawt),
    ctt AS (SELECT w, count(*) AS c FROM tgt GROUP BY w),
    crr AS (SELECT w, count(*) AS c FROM rawt GROUP BY w),
    vocab AS MATERIALIZED (
      SELECT t.w,
             ln(cast(coalesce(ct.c, 0) + 1 as double)
                / cast(nt.n + v.vsz as double))
           - ln(cast(coalesce(cr.c, 0) + 1 as double)
                / cast(nr.n + v.vsz as double)) AS lr
      FROM (SELECT DISTINCT w FROM toks) t
      LEFT JOIN ctt ct ON t.w = ct.w
      LEFT JOIN crr cr ON t.w = cr.w
      CROSS JOIN nt CROSS JOIN nr CROSS JOIN v
    ), docterms AS (
      SELECT doc_id, w, count(*) AS cnt FROM rawt
      WHERE doc_id % 5 = 4 GROUP BY doc_id, w
    ), scored AS (
      SELECT d.doc_id,
             cast(sum(cnt) as bigint) AS n_tokens,
             list_reduce(list_sort(list(cast(cnt as double) * vb.lr)),
                         (x, y) -> x + y) AS wgt
      FROM docterms d JOIN vocab vb ON d.w = vb.w
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_tokens, round(wgt, 6) AS dsir_weight
    FROM scored ORDER BY wgt DESC, doc_id LIMIT 10
    """,
    tags=("text", "llm-pipeline", "sampling", "incremental", "state"),
)
def q445_incremental_dsir_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DSIR — q441's importance-weighting with the q388
    state posture, closing the loop so the newest selection family
    also has its cross-batch twin: the unigram-count table
    (w, c_target, c_raw) over the target slice plus the HISTORY raw
    pool (raw docs with doc_id % 5 ≠ 4) is persisted ONCE; an arriving
    raw batch (doc_id % 5 = 4) merges its token counts in with one
    keyed additive
    merge — history text is NEVER re-tokenized — and the batch docs
    score against the UPDATED model. The factorization is what makes
    this exact: the STATE is counts (additive, mergeable — the q417
    checksum argument applied to LM sufficient statistics), while the
    smoothed probabilities and log-ratios are recomputed from the
    merged counts at serving time, so totals and vocabulary size
    reflect the batch exactly and the oracle's from-scratch derivation
    over history ∪ batch matches bit-for-bit.

    Cross-engine exactness: identical to q441 (exact integer counts,
    one double division per probability, bitwise-equal ln, sorted
    per-type folds, (weight, doc_id) top-k).

    100 TB story: the per-batch cost is tokenizing the BATCH, one
    vocabulary-keyed merge into the count state (state rows =
    vocabulary, ≪ corpus), two one-row total refolds (sums over the
    state — functionals, the q443 identity), and a batch-sized scoring
    join. The daily DSIR refresh never touches history text — the
    posture SemDeDup-style offline re-scoring lacks."""
    d = table(spark, sf_dir, "documents")
    toks_all = d.select("doc_id", F.explode(tokens("text")).alias("w"))

    def build(sd: str) -> None:
        tgt = toks_all.filter(F.col("doc_id") % 7 == 0)
        hist = toks_all.filter(
            (F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 5 != 4)
        )
        state = (
            tgt.groupBy("w")
            .agg(F.count(F.lit(1)).alias("c_t"))
            .join(
                hist.groupBy("w").agg(F.count(F.lit(1)).alias("c_r")),
                "w",
                "full_outer",
            )
            .select(
                "w",
                F.coalesce("c_t", F.lit(0)).cast("bigint").alias("c_t"),
                F.coalesce("c_r", F.lit(0)).cast("bigint").alias("c_r"),
            )
        )
        state.write.parquet(sd + "/lm_counts")

    batch_toks = toks_all.filter(
        (F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 5 == 4)
    )
    bcounts = batch_toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_b"))
    state = spark.read.parquet(query_state("q445", sf_dir, build)[0] + "/lm_counts")
    # ONE keyed additive merge — the only touch history counts get
    merged = (
        state.join(bcounts, "w", "full_outer")
        .select(
            "w",
            F.coalesce("c_t", F.lit(0)).cast("bigint").alias("c_t"),
            (F.coalesce("c_r", F.lit(0)) + F.coalesce("c_b", F.lit(0)))
            .cast("bigint")
            .alias("c_r"),
        )
    )
    # totals + vocab size are FUNCTIONALS of the merged state
    totals = merged.agg(
        F.sum("c_t").alias("nt"),
        F.sum("c_r").alias("nr"),
        F.count(F.lit(1)).alias("vsz"),
    )
    vocab = merged.crossJoin(F.broadcast(totals)).select(
        "w",
        F.expr(
            "ln(cast(c_t + 1 as double) / cast(nt + vsz as double))"
            " - ln(cast(c_r + 1 as double) / cast(nr + vsz as double))"
        ).alias("lr"),
    )
    docterms = batch_toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        docterms.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.col("cnt").cast("double") * F.col("lr"))
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("wgt"),
        )
    )
    return (
        scored.orderBy(F.col("wgt").desc(), "doc_id")
        .limit(10)
        .select("doc_id", "n_tokens", F.round("wgt", 6).alias("dsir_weight"))
    )


# the contaminated-span CTE chain, shared by the q446 (detection
# report) and q448 (removal rewrite) oracles — same interface as
# _DUP_SPAN_CTES (`w` = tokenized docs, `sp` = final span table) so
# _SPAN_REMOVAL_TAIL composes onto either prefix unchanged
_CONTAM_SPAN_CTES = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    win AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(words) - 7, 0))) AS pos,
             words
      FROM w
    ), spans AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(words, pos + 1, pos + 8), ' ') AS span
      FROM win
    ), bench AS (
      SELECT DISTINCT span FROM spans WHERE doc_id % 10 = 7
    ), hit AS (
      SELECT s.doc_id, s.pos FROM spans s JOIN bench b ON s.span = b.span
      WHERE s.doc_id % 10 <> 7
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hit
    ), sp AS (
      SELECT doc_id,
             cast(min(pos) as bigint) AS span_start,
             cast(max(pos) + 7 as bigint) AS span_end,
             cast(max(pos) - min(pos) + 8 as bigint) AS span_tokens,
             cast(count(*) as bigint) AS n_windows
      FROM isl GROUP BY doc_id, grp
    )"""


@query(
    "q446_decontamination_spans",
    oracle=_CONTAM_SPAN_CTES
    + """
    SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM sp
    """,
    tags=("text", "dedup", "llm-pipeline"),
)
def q446_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination — the REDACTION granularity
    between q89's doc-level drop (n-gram overlap → discard the whole
    document) and nothing: every stride-1 8-word window of a TRAINING
    document (doc_id % 10 ≠ 7) that appears verbatim anywhere in the
    benchmark slice (doc_id % 10 = 7) marks a contaminated position,
    and adjacent hits merge into per-doc maximal contaminated spans
    with exact token bounds — the PaLM-style recipe where the
    contaminated SPAN is cut (q442's removal pass consumes this table
    unchanged) instead of sacrificing the surrounding document. Same
    gaps-and-islands machinery as q438 with the window criterion
    swapped from 'duplicated in the corpus' to 'present in the
    benchmark'.

    Scale shape: the benchmark span set is the distinct windows of the
    (small) eval slice — a broadcast-or-bucketed semi-join key set;
    one content-keyed join + the doc-keyed island window over the HIT
    subset only. No all-pairs; training text scanned once."""
    return _contamination_spans(spark, sf_dir)


def _contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared derivation for q446 (detection report) and q448 (removal
    rewrite): per-training-doc maximal benchmark-contaminated token
    spans — the Spark twin of _CONTAM_SPAN_CTES; see q446's docstring
    for semantics and scale shape."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    spans = (
        d.select("doc_id", words.alias("words"))
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
    bench = (
        spans.filter(F.col("doc_id") % 10 == 7).select("span").distinct()
    )
    hit = (
        spans.filter(F.col("doc_id") % 10 != 7)
        .join(bench, "span", "left_semi")
        .select("doc_id", "pos")
    )
    isl = hit.withColumn(
        "grp",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + 7).cast("bigint").alias("span_end"),
        (F.max("pos") - F.min("pos") + 8).cast("bigint").alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    ).drop("grp")


@query(
    "q448_decontamination_rewrite",
    oracle=_CONTAM_SPAN_CTES + _SPAN_REMOVAL_TAIL,
    tags=("text", "dedup", "llm-pipeline"),
)
def q448_decontamination_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED span-level decontamination — detect AND redact in one
    oracle-checked pipeline: q446's contaminated-span table (every
    maximal run of training-doc 8-word windows that appear verbatim in
    the benchmark slice) feeds q442's removal/reassembly machinery
    unchanged, emitting per contaminated TRAINING doc (n_tokens,
    n_removed, n_kept, md5 of the redacted text in original token
    order). This is the handoff q446's docstring promises ('q442's
    removal pass consumes this table unchanged') proven end to end —
    the PaLM-style recipe where only the contaminated span is cut,
    composed the way q439 proved chunk→serve→RRF→MMR and q395 proved
    probe→CC→sample.

    Both sides compose from the SAME shared definition sites: Spark
    chains _contamination_spans into _span_removal_report; the oracle
    concatenates _CONTAM_SPAN_CTES with _SPAN_REMOVAL_TAIL (the exact
    CTE texts q446 and q442 run) — neither the detector nor the
    redactor can drift from its standalone form. The digest pins the
    rewrite exactly: an off-by-one span bound, a dropped survivor
    token, or a reordered reassembly all hash-mismatch.

    Scale shape: q446's benchmark-keyed semi-join (benchmark window
    set ≪ corpus, broadcast-or-bucketed) + island merge over the hit
    subset, then q442's bounded span explode (Σ span_tokens ≤
    contaminated volume), one (doc, pos)-keyed anti-join, and the
    doc-keyed reassembly agg over AFFECTED docs only — benchmark
    contamination touches a small fraction of a 100 TB corpus, and
    untouched docs never enter the rewrite (the affected-doc semi-join
    prunes first)."""
    d = table(spark, sf_dir, "documents")
    return _span_removal_report(d, _contamination_spans(spark, sf_dir))


@query(
    "q447_cross_source_dup_flows",
    oracle="""
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
               FROM documents),
    spans AS (
      SELECT doc_id, source,
             array_to_string(list_slice(words, pos + 1, pos + 8), ' ') AS span
      FROM w, unnest(range(0, greatest(len(words) - 7, 0))) AS u(pos)
    ), occ AS (
      SELECT DISTINCT span, doc_id, source FROM spans
    ), grp AS (
      SELECT span, doc_id, source,
             min(doc_id) OVER (PARTITION BY span) AS canon_doc,
             count(*) OVER (PARTITION BY span) AS n_docs
      FROM occ
    ), canon AS (
      SELECT span, source AS src_from FROM grp WHERE doc_id = canon_doc
        AND n_docs > 1
    ), flows AS (
      SELECT c.src_from, g.source AS src_to, g.span, g.doc_id
      FROM grp g JOIN canon c ON g.span = c.span
      WHERE g.doc_id <> g.canon_doc
    )
    SELECT src_from, src_to,
           cast(count(*) as bigint) AS n_occurrences,
           cast(count(DISTINCT span) as bigint) AS n_spans,
           cast(count(DISTINCT doc_id) as bigint) AS n_target_docs
    FROM flows GROUP BY src_from, src_to
    """,
    tags=("text", "dedup", "llm-pipeline"),
)
def q447_cross_source_dup_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE duplication FLOW matrix — which sources copy from
    which: every corpus-duplicated 8-word span is attributed to its
    canonical occurrence (min doc_id), and each OTHER occurrence
    records a (canonical's source → occurrence's source) flow. The
    aggregated matrix (occurrences, distinct spans, distinct target
    docs per source pair) is the curation artifact that tells a
    data-mix owner 'source B mirrors source A' — the decision input
    for dropping a scraped mirror wholesale instead of paying
    per-document dedup against it forever.

    Deliberately LINEAR shape: attributing each occurrence to the one
    canonical (two windows over span groups — min + count) instead of
    materializing within-group pairs keeps boilerplate spans shared by
    thousands of docs from exploding quadratically — the same
    no-all-pairs discipline as the LSH tier; group skew is bounded by
    occurrence counts, not their squares. Windows key on span content
    (the q173 frequency shuffle, reused twice)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    occ = (
        d.select("doc_id", "source", words.alias("words"))
        .filter(F.size("words") >= 8)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(words) - 8), "
                    "i -> concat_ws(' ', slice(words, i + 1, 8)))"
                )
            ).alias("span"),
        )
        .distinct()
    )
    wspan = W.partitionBy("span")
    grp = occ.select(
        "span",
        "doc_id",
        "source",
        F.min("doc_id").over(wspan).alias("canon_doc"),
        F.count(F.lit(1)).over(wspan).alias("n_docs"),
    )
    canon = grp.filter(
        (F.col("doc_id") == F.col("canon_doc")) & (F.col("n_docs") > 1)
    ).select("span", F.col("source").alias("src_from"))
    flows = (
        grp.filter(F.col("doc_id") != F.col("canon_doc"))
        .join(canon, "span")
        .select("src_from", F.col("source").alias("src_to"), "span", "doc_id")
    )
    return flows.groupBy("src_from", "src_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("span").cast("bigint").alias("n_spans"),
        F.count_distinct("doc_id").cast("bigint").alias("n_target_docs"),
    )


# hashed-ngram DSIR bucket count: 10k in Xie et al.; 256 here so the
# sf0.01 fixture (~60k bigrams) still exercises real bucket collisions
_DSIR_B = 256

@query(
    "q449_dsir_hashed_ngrams",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> w[cast(i as int)] || ' ' || w[cast(i as int) + 1])) AS g
      FROM ws WHERE len(w) >= 2
    ), bk AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % {_DSIR_B} AS b
      FROM bg
    ), tgt AS (SELECT b FROM bk WHERE doc_id % 7 = 0),
    rawb AS (SELECT doc_id, b FROM bk WHERE doc_id % 7 <> 0),
    nt AS (SELECT count(*) AS n FROM tgt),
    nr AS (SELECT count(*) AS n FROM rawb),
    ctt AS (SELECT b, count(*) AS c FROM tgt GROUP BY b),
    crr AS (SELECT b, count(*) AS c FROM rawb GROUP BY b),
    lm AS MATERIALIZED (
      SELECT u.b,
             ln(cast(coalesce(ct.c, 0) + 1 as double)
                / cast(nt.n + {_DSIR_B} as double))
           - ln(cast(coalesce(cr.c, 0) + 1 as double)
                / cast(nr.n + {_DSIR_B} as double)) AS lr
      FROM (SELECT unnest(range(0, {_DSIR_B})) AS b) u
      LEFT JOIN ctt ct ON u.b = ct.b
      LEFT JOIN crr cr ON u.b = cr.b
      CROSS JOIN nt CROSS JOIN nr
    ), docterms AS (
      SELECT doc_id, b, count(*) AS cnt FROM rawb GROUP BY doc_id, b
    ), scored AS (
      SELECT d.doc_id,
             cast(sum(cnt) as bigint) AS n_bigrams,
             list_reduce(list_sort(list(cast(cnt as double) * lm.lr)),
                         (x, y) -> x + y) AS wgt
      FROM docterms d JOIN lm ON d.b = lm.b
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams, round(wgt, 6) AS dsir_weight
    FROM scored ORDER BY wgt DESC, doc_id LIMIT 20
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def q449_dsir_hashed_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHED-NGRAM DSIR — the variant Xie et al. 2023 actually run at
    scale (and the drop-in q441's docstring promises): features are
    BIGRAMS hashed into a fixed B-bucket space (md5-prefix mod B, the
    q305 feature-hashing protocol), and the target/raw unigram LMs of
    q441 become bucket LMs of fixed width B. The importance log-weight
    per raw document is Σ_buckets cnt·(ln p_target(b) − ln p_raw(b)),
    same add-one smoothing (over B, the true feature-space size — no
    vocabulary pass at all) and same sorted-fold summation protocol,
    so the top-20 (weight, doc_id) ordering is bit-identical across
    engines. Docs with fewer than two tokens have no bigrams and drop
    out of scoring on both sides identically.

    Why this is the at-scale form: q441's exact-token variant carries
    a vocabulary-sized LM table that grows with the corpus (and
    adversarial token streams grow it without bound); hashing pins the
    LM to B rows — a constant-width broadcast — while preserving the
    importance-ratio signal in expectation (collisions hit numerator
    and denominator together, the hashing-trick argument).

    100 TB story: one narrow map builds bigram buckets (no shuffle),
    two bucket-keyed count aggs over a B-row key space (map-side
    combine collapses each partition to ≤ B rows), the B-row LM table
    broadcasts onto the (doc, bucket)-keyed agg, and the global top-20
    is TakeOrderedAndProject. The only data-sized shuffle is the
    (doc_id, bucket) groupBy — bounded at B entries per doc."""
    d = table(spark, sf_dir, "documents")
    B = _DSIR_B
    ws = d.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 2)
    bg = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("g"),
    )
    bk = bg.select(
        "doc_id",
        (
            F.expr("cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)") % B
        ).alias("b"),
    )
    tgt = bk.filter(F.col("doc_id") % 7 == 0)
    raw = bk.filter(F.col("doc_id") % 7 != 0)
    nt = tgt.agg(F.count(F.lit(1)).alias("nt"))
    nr = raw.agg(F.count(F.lit(1)).alias("nr"))
    ctt = tgt.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    crr = raw.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    buckets = spark.range(B).select(F.col("id").alias("b"))
    lm = (
        buckets.join(ctt, "b", "left")
        .join(crr, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "b",
            F.expr(
                f"ln(cast(coalesce(ct, 0) + 1 as double)"
                f" / cast(nt + {B} as double))"
                f" - ln(cast(coalesce(cr, 0) + 1 as double)"
                f" / cast(nr + {B} as double))"
            ).alias("lr"),
        )
    )
    docterms = raw.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        docterms.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.col("cnt").cast("double") * F.col("lr"))
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("wgt"),
        )
    )
    return (
        scored.orderBy(F.col("wgt").desc(), "doc_id")
        .limit(20)
        .select("doc_id", "n_bigrams", F.round("wgt", 6).alias("dsir_weight"))
    )


# q451 fixed-point GD constants: label threshold on the q444 quality
# composite (≈ corpus median → balanced classes), learning rate, and
# the ppm quantization that makes the gradient exactly summable
_Q451_THRESH = 365000
_Q451_LR = 0.5
_Q451_ITERS = 3

# the per-doc feature/label CTE shared textually by the oracle's
# unrolled iterations (x1 = type-token ratio, x2 = stopword ratio,
# x3 = capped length — every operand explicitly double, the q444
# lesson; y = composite-above-threshold, the FineWeb-Edu label proxy)
_Q451_FEAT_SQL = f"""
    WITH base AS (
      SELECT doc_id, source,
             cast(len({_TOKS}) as bigint) AS n_tokens,
             cast(len(list_distinct({_TOKS})) as bigint) AS n_distinct,
             cast(len(list_filter({_TOKS},
                  t -> t IN ('the','a','of','and','to','el','la','de'))) as bigint)
               AS n_stop
      FROM documents
    ), feat AS MATERIALIZED (
      SELECT doc_id, source, n_tokens,
             CASE WHEN n_tokens > 0
                  THEN cast(n_distinct as double) / cast(n_tokens as double)
                  ELSE cast(0.0 as double) END AS x1,
             CASE WHEN n_tokens > 0
                  THEN cast(n_stop as double) / cast(n_tokens as double)
                  ELSE cast(0.0 as double) END AS x2,
             CASE WHEN n_tokens > 0
                  THEN cast(least(n_tokens, 100) as double) / cast(100.0 as double)
                  ELSE cast(0.0 as double) END AS x3,
             CASE WHEN cast(floor(1000000 * (
               CASE WHEN n_tokens > 0 THEN
                 cast(0.5 as double) * (cast(n_distinct as double) / cast(n_tokens as double))
                 + cast(0.3 as double) * (cast(n_stop as double) / cast(n_tokens as double))
                 + cast(0.2 as double) * cast(least(n_tokens, 100) as double) / cast(100.0 as double)
               ELSE cast(0.0 as double) END)) as bigint) >= {_Q451_THRESH}
                  THEN cast(1.0 as double) ELSE cast(0.0 as double) END AS y
      FROM base
    )"""


def _q451_grad_sql(i: int, wsrc: str) -> str:
    """One unrolled oracle GD step: gradient of the squared loss at the
    weights in CTE ``wsrc``, each per-doc term floor-quantized to ppm
    and summed as exact bigints, then the weight update in the exact
    double-op order the Spark driver uses."""
    return f""", g{i} AS (
      SELECT cast(count(*) as bigint) AS n,
             cast(sum(cast(floor(r * 1000000.0) as bigint)) as bigint) AS g0,
             cast(sum(cast(floor((x1 * r) * 1000000.0) as bigint)) as bigint) AS g1,
             cast(sum(cast(floor((x2 * r) * 1000000.0) as bigint)) as bigint) AS g2,
             cast(sum(cast(floor((x3 * r) * 1000000.0) as bigint)) as bigint) AS g3
      FROM (SELECT x1, x2, x3,
                   (((w0 + w1 * x1) + w2 * x2) + w3 * x3) - y AS r
            FROM feat CROSS JOIN {wsrc})
    ), w{i} AS (
      SELECT w0 - cast({_Q451_LR} as double) * ((cast(g0 as double) / 1000000.0) / cast(n as double)) AS w0,
             w1 - cast({_Q451_LR} as double) * ((cast(g1 as double) / 1000000.0) / cast(n as double)) AS w1,
             w2 - cast({_Q451_LR} as double) * ((cast(g2 as double) / 1000000.0) / cast(n as double)) AS w2,
             w3 - cast({_Q451_LR} as double) * ((cast(g3 as double) / 1000000.0) / cast(n as double)) AS w3
      FROM g{i} CROSS JOIN {wsrc}
    )"""


@query(
    "q451_quality_filter_pipeline",
    oracle=_Q451_FEAT_SQL
    + ", w_init AS (SELECT cast(0.0 as double) AS w0, cast(0.0 as double) AS w1,"
    " cast(0.0 as double) AS w2, cast(0.0 as double) AS w3)"
    + _q451_grad_sql(1, "w_init")
    + _q451_grad_sql(2, "w1")
    + _q451_grad_sql(3, "w2")
    + """, scored AS (
      SELECT source, n_tokens,
             (((w0 + w1 * x1) + w2 * x2) + w3 * x3) AS pred,
             w0, w1, w2, w3
      FROM feat CROSS JOIN w3
    )
    SELECT source,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(CASE WHEN pred >= cast(0.5 as double) THEN 1 ELSE 0 END) as bigint) AS n_selected,
           cast(coalesce(sum(CASE WHEN pred >= cast(0.5 as double) THEN n_tokens END), 0) as bigint) AS selected_token_budget,
           cast(coalesce(min(CASE WHEN pred >= cast(0.5 as double)
                THEN cast(floor(pred * 1000000.0) as bigint) END), -1) as bigint) AS min_sel_score_ppm,
           cast(coalesce(max(CASE WHEN pred >= cast(0.5 as double)
                THEN cast(floor(pred * 1000000.0) as bigint) END), -1) as bigint) AS max_sel_score_ppm,
           cast(min(cast(floor(w0 * 1000000.0) as bigint)) as bigint) AS w0_ppm,
           cast(min(cast(floor(w1 * 1000000.0) as bigint)) as bigint) AS w1_ppm,
           cast(min(cast(floor(w2 * 1000000.0) as bigint)) as bigint) AS w2_ppm,
           cast(min(cast(floor(w3 * 1000000.0) as bigint)) as bigint) AS w3_ppm
    FROM scored GROUP BY source
    """,
    tags=("text", "ml", "llm-pipeline", "sampling"),
)
def q451_quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED QUALITY FILTERING as one oracle-checked
    train→score→select pipeline — the FineWeb-Edu shape: an expensive
    labeler (here q444's quality composite thresholded at its corpus
    median, standing in for LLM judgments) supervises a CHEAP linear
    classifier over the document feature battery (type-token ratio,
    stopword ratio, capped length), which then scores and selects the
    whole corpus, reporting per source (n_docs, n_selected, selected
    token budget, selection score range, final weights in ppm).

    The training is FIXED-POINT gradient descent, which is what makes
    an iterative float optimizer exactly verifiable across engines:
    each of the 3 full-batch squared-loss iterations quantizes every
    per-doc gradient term to ppm (floor(term·10⁶) — the cents/
    canonicalization protocol, a pure IEEE function) and sums BIGINTS,
    so the gradient is order-independent and exact; the weight update
    replays the identical double-op sequence on both sides (Python
    driver arithmetic ≡ the oracle's unrolled w1→w2→w3 CTE chain,
    every literal explicitly double — the q444 lesson). Prediction,
    thresholding at 0.5, and the ppm-floored score range then compare
    exactly. `feat` is AS MATERIALIZED in the oracle (re-referenced by
    all three unrolled iterations — the q439 ledger rule).

    100 TB story: the feature pass is one narrow map pinned once
    (localCheckpoint — iterations never re-tokenize); each iteration
    is ONE map-side-combinable aggregation producing 5 bigints (the
    q199/q207 sufficient-statistics posture with exact arithmetic);
    weights travel to executors as literals (4 doubles — nothing to
    shuffle); the final score+select is a narrow map plus a per-source
    agg. Quantization headroom: |term| ≤ a few units → ppm terms
    ≤ ~10⁷ per doc, so bigint sums hold to ~10¹¹ docs."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.filter(
        toks,
        lambda t: t.isin("the", "a", "of", "and", "to", "el", "la", "de"),
    )
    base = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.size(stop).cast("bigint").alias("n_stop"),
    )
    quality_ppm = (
        F.floor(
            F.lit(1000000)
            * F.when(
                F.col("n_tokens") > 0,
                F.lit(0.5)
                * (
                    F.col("n_distinct").cast("double")
                    / F.col("n_tokens").cast("double")
                )
                + F.lit(0.3)
                * (
                    F.col("n_stop").cast("double")
                    / F.col("n_tokens").cast("double")
                )
                + F.lit(0.2)
                * F.least(F.col("n_tokens"), F.lit(100)).cast("double")
                / F.lit(100.0),
            ).otherwise(F.lit(0.0))
        )
        .cast("bigint")
    )
    ratio = lambda num: F.when(  # noqa: E731
        F.col("n_tokens") > 0,
        F.col(num).cast("double") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    feat = base.select(
        "source",
        "n_tokens",
        ratio("n_distinct").alias("x1"),
        ratio("n_stop").alias("x2"),
        F.when(
            F.col("n_tokens") > 0,
            F.least(F.col("n_tokens"), F.lit(100)).cast("double")
            / F.lit(100.0),
        )
        .otherwise(F.lit(0.0))
        .alias("x3"),
        F.when(quality_ppm >= _Q451_THRESH, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    ).localCheckpoint()

    def predict(w):
        return (
            (F.lit(w[0]) + F.lit(w[1]) * F.col("x1"))
            + F.lit(w[2]) * F.col("x2")
        ) + F.lit(w[3]) * F.col("x3")

    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_Q451_ITERS):
        r = predict(w) - F.col("y")
        row = feat.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(r * F.lit(1000000.0)).cast("bigint")).alias("g0"),
            F.sum(
                F.floor((F.col("x1") * r) * F.lit(1000000.0)).cast("bigint")
            ).alias("g1"),
            F.sum(
                F.floor((F.col("x2") * r) * F.lit(1000000.0)).cast("bigint")
            ).alias("g2"),
            F.sum(
                F.floor((F.col("x3") * r) * F.lit(1000000.0)).cast("bigint")
            ).alias("g3"),
        ).collect()[0]
        n = row["n"]
        w = [
            w[j] - _Q451_LR * ((row[f"g{j}"] / 1e6) / n)
            for j in range(4)
        ]

    import math

    w_ppm = [int(math.floor(wj * 1e6)) for wj in w]
    pred = predict(w)
    sel = pred >= F.lit(0.5)
    score_ppm = F.floor(pred * F.lit(1000000.0)).cast("bigint")
    return feat.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
        F.coalesce(F.sum(F.when(sel, F.col("n_tokens"))), F.lit(0))
        .cast("bigint")
        .alias("selected_token_budget"),
        F.coalesce(F.min(F.when(sel, score_ppm)), F.lit(-1))
        .cast("bigint")
        .alias("min_sel_score_ppm"),
        F.coalesce(F.max(F.when(sel, score_ppm)), F.lit(-1))
        .cast("bigint")
        .alias("max_sel_score_ppm"),
        F.lit(w_ppm[0]).cast("bigint").alias("w0_ppm"),
        F.lit(w_ppm[1]).cast("bigint").alias("w1_ppm"),
        F.lit(w_ppm[2]).cast("bigint").alias("w2_ppm"),
        F.lit(w_ppm[3]).cast("bigint").alias("w3_ppm"),
    )


@query(
    "q450_incremental_span_state",
    oracle=_DUP_SPAN_CTES
    + """, batch_spans AS (
      SELECT DISTINCT span FROM spans WHERE doc_id % 5 = 4
    ), affected AS (
      SELECT DISTINCT doc_id FROM spans
      WHERE doc_id % 5 = 4 OR span IN (SELECT span FROM batch_spans)
    )
    SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM sp
    WHERE doc_id IN (SELECT doc_id FROM affected)
    """,
    tags=("text", "dedup", "llm", "incremental", "state"),
)
def q450_incremental_span_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring-dedup state — the span tier (q438/q442)
    joins the mergeable-state matrix ({minhash q388, vector q389,
    postings q390, LM counts q445} now + windows): the 8-word
    window-frequency table over HISTORY docs (doc_id % 5 ≠ 4) and a
    positional postings index (doc_id, pos, span) are persisted ONCE;
    an arriving batch (doc_id % 5 = 4) tokenizes ONLY ITSELF, merges
    its window counts in with one keyed additive merge (the q405
    counts protocol — frequency is a sum, so history ⊕ batch equals
    from-scratch over the union bit-for-bit), and maximal duplicated
    spans re-derive for AFFECTED docs only: the batch's own docs plus
    the history docs that share at least one window with the batch
    (only their duplication status can change — a history doc with no
    batch-shared window has the same span set as before). History
    text is never re-tokenized; its window positions replay from the
    postings index.

    The oracle is the from-scratch q438 chain over the union corpus
    (the SAME _DUP_SPAN_CTES text) restricted to the affected-doc
    set, so a count lost in the merge, a stale frequency, or an
    affected doc missed by the pruning semi-join all hash-mismatch.

    100 TB story: per-batch cost is batch tokenization, one
    span-keyed additive merge into the frequency state (map-side
    combinable), one batch-span-keyed semi-join against the postings
    index to find affected history docs (bucketed by span content —
    the q37 shuffle), and the island window over affected docs only
    (bounded by doc length). The daily dedup refresh touches history
    only through its index — the posture that makes substring dedup
    affordable as a standing pipeline instead of a corpus rescan."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def windows(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", words.alias("words"))
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

    def build(sd: str) -> None:
        hist = windows(d.filter(F.col("doc_id") % 5 != 4))
        hist.write.parquet(sd + "/postings")
        hist.groupBy("span").agg(
            F.count(F.lit(1)).cast("bigint").alias("c_h")
        ).write.parquet(sd + "/freq")

    state_dir, _ = query_state("q450", sf_dir, build)

    postings = spark.read.parquet(state_dir + "/postings")
    freq_h = spark.read.parquet(state_dir + "/freq")

    batch = windows(d.filter(F.col("doc_id") % 5 == 4))
    bcounts = batch.groupBy("span").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_b")
    )
    # ONE keyed additive merge — the only touch history counts get
    merged = (
        freq_h.join(bcounts, "span", "full_outer")
        .select(
            "span",
            (F.coalesce("c_h", F.lit(0)) + F.coalesce("c_b", F.lit(0)))
            .cast("bigint")
            .alias("c"),
        )
    )
    # affected history docs: share ≥1 window with the batch
    batch_spans = batch.select("span").distinct()
    affected_hist = (
        postings.join(batch_spans, "span", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # their positions replay from the INDEX (no re-tokenization) and
    # union with the batch's own positions
    replay = postings.join(affected_hist, "doc_id", "left_semi")
    positions = replay.unionByName(batch)
    dup = (
        positions.join(merged.filter(F.col("c") > 1), "span")
        .select("doc_id", "pos")
    )
    isl = dup.withColumn(
        "grp",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + 7).cast("bigint").alias("span_end"),
        (F.max("pos") - F.min("pos") + 8).cast("bigint").alias("span_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    ).drop("grp")


@query(
    "q453_filter_funnel_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS} AS ws FROM documents
    ), counts AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY doc_id, w
    ), topw AS (
      SELECT doc_id, max(c) AS topc FROM counts GROUP BY doc_id
    ), f AS (
      SELECT t.doc_id, t.source,
             cast(len(ws) as bigint) AS n,
             cast(len(list_distinct(ws)) as bigint) AS nd,
             cast(len(list_filter(ws,
                  x -> x IN ('the','a','of','and','to','el','la','de'))) as bigint) AS nstop,
             cast(coalesce(topw.topc, 0) as bigint) AS topc
      FROM t LEFT JOIN topw ON t.doc_id = topw.doc_id
    ), verdicts AS (
      SELECT source, n,
             CASE WHEN n < 20 THEN 'r1_too_short'
                  WHEN nstop = 0 THEN 'r2_no_stopwords'
                  WHEN topc * 8 > n THEN 'r3_repetitive'
                  WHEN nd * 5 < n * 2 THEN 'r4_low_diversity'
                  ELSE 'pass' END AS verdict
      FROM f
    )
    SELECT source, verdict,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n) as bigint) AS n_tokens
    FROM verdicts GROUP BY source, verdict
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def q453_filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-FUNNEL ATTRIBUTION — the curation artifact Dolma/
    RedPajama publish alongside their corpora and the piece q90's
    composed pipeline doesn't expose: every document gets the FIRST
    rule of a fixed Gopher-style cascade that rejects it (too short →
    no stopwords → repetitive → low type-token diversity → pass), and
    the report aggregates per (source, verdict) doc counts and token
    mass — 'how much did each rule cost us, per source' is the number
    a data-mix owner reads before loosening a threshold. The ordered
    first-failure semantics (not independent flags) is what makes
    removal mass attributable: each doc is counted against exactly ONE
    rule, so the funnel partitions the corpus and the per-rule masses
    sum to the total.

    Every rule is an INTEGER comparison (n < 20; nstop = 0; 8·topc >
    n for the >1/8 top-word share; 5·nd < 2·n for ttr < 0.4) — no
    float thresholds, so the verdict partition is engine-exact by
    construction. The top-word share reuses q96's repetition signal
    as cross-multiplied integers.

    100 TB story: one narrow feature map + one (doc, word)-keyed count
    agg for the repetition signal (map-side combinable, the q41
    shuffle) + one per-(source, verdict) agg. The cascade itself is a
    CASE expression — fused into the scan by codegen, zero extra
    passes; adding a rule is one more WHEN arm, not another scan."""
    d = table(spark, sf_dir, "documents")
    tk = tokens("text")
    base = d.select(
        "doc_id",
        "source",
        tk.alias("ws"),
    )
    topw = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("topc"))
    )
    f = (
        base.select(
            "doc_id",
            "source",
            F.size("ws").cast("bigint").alias("n"),
            F.size(F.array_distinct("ws")).cast("bigint").alias("nd"),
            F.size(
                F.filter(
                    F.col("ws"),
                    lambda x: x.isin(
                        "the", "a", "of", "and", "to", "el", "la", "de"
                    ),
                )
            )
            .cast("bigint")
            .alias("nstop"),
        )
        .join(topw, "doc_id", "left")
        .withColumn("topc", F.coalesce("topc", F.lit(0)).cast("bigint"))
    )
    verdict = (
        F.when(F.col("n") < 20, F.lit("r1_too_short"))
        .when(F.col("nstop") == 0, F.lit("r2_no_stopwords"))
        .when(F.col("topc") * 8 > F.col("n"), F.lit("r3_repetitive"))
        .when(F.col("nd") * 5 < F.col("n") * 2, F.lit("r4_low_diversity"))
        .otherwise(F.lit("pass"))
    )
    return (
        f.select("source", "n", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "q454_deterministic_shuffle_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             cast(len({_TOKS}) as bigint) AS n_tokens,
             ('0x' || substr(md5('shuffle:' || cast(doc_id as varchar)), 1, 8))::BIGINT AS k
      FROM documents
    ), sharded AS (
      SELECT doc_id, source, n_tokens, k, k % 16 AS shard FROM h
    )
    SELECT cast(shard as bigint) AS shard,
           cast(count(*) as bigint) AS n_docs,
           cast(sum(n_tokens) as bigint) AS total_tokens,
           cast(count(DISTINCT source) as bigint) AS n_sources,
           min(k) AS min_key, max(k) AS max_key,
           md5(string_agg(cast(doc_id as varchar), ',' ORDER BY k, doc_id))
             AS order_digest
    FROM sharded GROUP BY shard
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def q454_deterministic_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC CORPUS SHUFFLE + SHARDING — the step between
    curation and the trainer: every doc gets a pseudorandom but
    REPRODUCIBLE shuffle key (md5 of a salted doc_id, the _H32
    protocol — re-runs and backfills land identical shard files), keys
    bucket into 16 shards, and each shard reports its composition
    (doc/token counts, source spread, key range) plus an ORDER DIGEST:
    md5 over the doc_ids in exact (key, doc_id) write order — the q442
    position-fold protocol applied to shard layout, so the hash pins
    the PERMUTATION itself, not just membership. A changed salt, a
    biased bucket map, or a nondeterministic within-shard order all
    hash-mismatch. Source spread per shard is the well-mixedness
    signal (every shard should see every source — the reason trainers
    shuffle before sharding at all).

    100 TB story: key assignment is a narrow map (no data movement);
    the one shuffle is hash(shard) — exactly the exchange the physical
    shard write needs anyway, so the plan IS the writer; the order
    digest folds per shard via sorted struct collect, bounded by shard
    size = corpus/16 (at real scale the digest would fold per shard
    FILE — same protocol, finer grain, embarrassingly parallel)."""
    d = table(spark, sf_dir, "documents")
    k = F.expr(
        "cast(conv(substring(md5(concat('shuffle:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    )
    sharded = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        k.alias("k"),
    ).withColumn("shard", F.pmod("k", F.lit(16)).cast("bigint"))
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.md5(
            F.concat_ws(
                ",",
                F.expr(
                    "transform(array_sort(collect_list(struct(k, doc_id))),"
                    " x -> cast(x.doc_id as string))"
                ),
            )
        ).alias("order_digest"),
    )


@query(
    "q455_packing_efficiency_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, cast(len({_TOKS}) as bigint) AS n FROM documents
    ), ordered AS (
      SELECT doc_id, source, n,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             cast(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  as bigint) - n AS start
      FROM t
    ), chunkstats AS (
      SELECT source,
             cast(count(*) as bigint) AS n_docs,
             cast(sum(n) as bigint) AS total_tokens,
             cast(sum(CASE WHEN n > 0
                           AND (start + n - 1) // 256 > start // 256
                      THEN 1 ELSE 0 END) as bigint) AS n_docs_split
      FROM ordered GROUP BY source
    ), greedy AS (
      -- row-by-row replay of the greedy whole-doc packer (close the
      -- open bin when the next doc does not fit; oversize docs get an
      -- exact-sized bin of their own)
      WITH RECURSIVE st AS (
        SELECT source, 0 AS rn, cast(0 as bigint) AS fill,
               cast(0 as bigint) AS bins, cast(0 as bigint) AS pad
        FROM (SELECT DISTINCT source FROM t)
        UNION ALL
        SELECT o.source, o.rn,
               CASE WHEN o.n > 256 THEN cast(0 as bigint)
                    WHEN st.fill + o.n > 256 THEN o.n
                    ELSE st.fill + o.n END AS fill,
               st.bins + CASE WHEN o.n > 256 THEN
                               (CASE WHEN st.fill > 0 THEN 2 ELSE 1 END)
                              WHEN st.fill + o.n > 256 THEN 1
                              ELSE 0 END AS bins,
               st.pad + CASE WHEN o.n > 256 AND st.fill > 0 THEN 256 - st.fill
                             WHEN o.n <= 256 AND st.fill + o.n > 256 THEN 256 - st.fill
                             ELSE 0 END AS pad
        FROM st JOIN ordered o ON o.source = st.source AND o.rn = st.rn + 1
      )
      SELECT source,
             bins + CASE WHEN fill > 0 THEN 1 ELSE 0 END AS n_bins_greedy,
             pad + CASE WHEN fill > 0 THEN 256 - fill ELSE 0 END AS pad_greedy
      FROM (SELECT source, fill, bins, pad,
                   row_number() OVER (PARTITION BY source ORDER BY rn DESC) AS last_rn
            FROM st) WHERE last_rn = 1
    )
    SELECT c.source, c.n_docs, c.total_tokens,
           cast((c.total_tokens + 255) // 256 as bigint) AS n_seqs_chunk,
           cast(((c.total_tokens + 255) // 256) * 256 - c.total_tokens as bigint) AS pad_chunk,
           c.n_docs_split,
           cast(g.n_bins_greedy as bigint) AS n_bins_greedy,
           cast(g.pad_greedy as bigint) AS pad_greedy,
           cast((c.total_tokens * 1000000) // (((c.total_tokens + 255) // 256) * 256)
                as bigint) AS fill_chunk_ppm,
           cast((c.total_tokens * 1000000) // (c.total_tokens + g.pad_greedy)
                as bigint) AS fill_greedy_ppm
    FROM chunkstats c JOIN greedy g ON c.source = g.source
    """,
    tags=("text", "llm-pipeline", "packing"),
)
def q455_packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING-EFFICIENCY AUDIT — the truncation-vs-padding tradeoff
    table behind the 'Fewer Truncations Improve Language Modeling'
    line of work, computed exactly for the two packers the catalog
    already proves: q107's concat-and-chunk (perfect fill except the
    per-source tail, but SPLITS documents at sequence boundaries) vs
    the greedy whole-doc packer (never splits a doc, pays padding when
    the next doc doesn't fit — q151's no-truncation objective with
    FFD's reordering removed so the replay is order-deterministic).
    Per source: doc/token totals, chunked sequence count + padding +
    THE SPLIT COUNT (docs crossing a 256-token boundary — the cost
    chunking hides), greedy bin count + padding, and both fill rates
    in ppm. All-integer arithmetic (cumsum boundary compare, `div`
    fills), so the whole tradeoff table is engine-exact.

    The greedy replay is a per-source ORDERED FOLD: Spark folds the
    (doc_id-sorted) per-source size array through one F.aggregate
    accumulator (fill, closed bins, padding) — the q346 automaton
    shape applied to packing; the oracle replays the identical
    transition row-by-row with a recursive CTE. Oversize docs close
    the open bin and ship exact-sized (zero padding) on both sides.

    100 TB story: the chunk side is q107's per-source window cumsum
    (one hash(source) shuffle); the greedy side folds one array per
    source — per-shard sequential like every real packer's writer, and
    the accumulator is 3 integers regardless of shard size. The fold
    input is (doc_id, n) pairs, NOT text — collect is bounded by docs
    per source, the same bound q151's applyInPandas already carries."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ordered = t.withColumn(
        "start", F.sum("n").over(w).cast("bigint") - F.col("n")
    )
    chunkstats = ordered.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(
            F.when(
                (F.col("n") > 0)
                & (
                    F.expr("(start + n - 1) div 256")
                    > F.expr("start div 256")
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_docs_split"),
    )
    # greedy whole-doc fold: one sorted (doc_id, n) array per source,
    # 3-integer accumulator, same transition as the oracle's recursion
    folded = (
        t.groupBy("source")
        .agg(
            F.expr(
                """
                aggregate(
                  transform(array_sort(collect_list(struct(doc_id, n))),
                            x -> x.n),
                  struct(cast(0 as bigint) as fill,
                         cast(0 as bigint) as bins,
                         cast(0 as bigint) as pad),
                  (acc, x) -> struct(
                    CASE WHEN x > 256 THEN cast(0 as bigint)
                         WHEN acc.fill + x > 256 THEN x
                         ELSE acc.fill + x END,
                    acc.bins + CASE WHEN x > 256 THEN
                                     (CASE WHEN acc.fill > 0 THEN cast(2 as bigint)
                                           ELSE cast(1 as bigint) END)
                                    WHEN acc.fill + x > 256 THEN cast(1 as bigint)
                                    ELSE cast(0 as bigint) END,
                    acc.pad + CASE WHEN x > 256 AND acc.fill > 0 THEN 256 - acc.fill
                                   WHEN x <= 256 AND acc.fill + x > 256 THEN 256 - acc.fill
                                   ELSE cast(0 as bigint) END),
                  acc -> struct(
                    acc.bins + CASE WHEN acc.fill > 0 THEN cast(1 as bigint)
                                    ELSE cast(0 as bigint) END as n_bins_greedy,
                    acc.pad + CASE WHEN acc.fill > 0 THEN 256 - acc.fill
                                   ELSE cast(0 as bigint) END as pad_greedy)
                ) as g
                """
            ).alias("g")
        )
        .select(
            "source",
            F.col("g.n_bins_greedy").alias("n_bins_greedy"),
            F.col("g.pad_greedy").alias("pad_greedy"),
        )
    )
    return chunkstats.join(folded, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr("(total_tokens + 255) div 256").cast("bigint").alias("n_seqs_chunk"),
        F.expr("((total_tokens + 255) div 256) * 256 - total_tokens")
        .cast("bigint")
        .alias("pad_chunk"),
        "n_docs_split",
        F.col("n_bins_greedy").cast("bigint"),
        F.col("pad_greedy").cast("bigint"),
        F.expr(
            "(total_tokens * 1000000) div (((total_tokens + 255) div 256) * 256)"
        )
        .cast("bigint")
        .alias("fill_chunk_ppm"),
        F.expr("(total_tokens * 1000000) div (total_tokens + pad_greedy)")
        .cast("bigint")
        .alias("fill_greedy_ppm"),
    )


@query(
    "q456_split_leakage_matrix",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5('shuffle:' || cast(doc_id as varchar)), 1, 8))::BIGINT % 10 < 8
                  THEN 'train'
                  WHEN ('0x' || substr(md5('shuffle:' || cast(doc_id as varchar)), 1, 8))::BIGINT % 10 = 8
                  THEN 'val' ELSE 'test' END AS split,
             string_split(text, ' ') AS words
      FROM documents
    ), spans AS (
      SELECT doc_id, split,
             array_to_string(list_slice(words, pos + 1, pos + 8), ' ') AS span
      FROM w, unnest(range(0, greatest(len(words) - 7, 0))) AS u(pos)
    ), occ AS (
      SELECT DISTINCT span, doc_id, split FROM spans
    ), flags AS (
      SELECT span,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
             max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
      FROM occ GROUP BY span
    ), flagged AS (
      SELECT o.span, o.doc_id, o.split AS to_split,
             list_filter(['train', 'val', 'test'],
                 s -> s <> o.split
                   AND ((s = 'train' AND f.in_train = 1)
                     OR (s = 'val' AND f.in_val = 1)
                     OR (s = 'test' AND f.in_test = 1))) AS froms
      FROM occ o JOIN flags f ON o.span = f.span
    ), leaks AS (
      SELECT span, doc_id, to_split, unnest(froms) AS from_split
      FROM flagged
    )
    SELECT from_split, to_split,
           cast(count(*) as bigint) AS n_occurrences,
           cast(count(DISTINCT span) as bigint) AS n_spans,
           cast(count(DISTINCT doc_id) as bigint) AS n_leaked_docs
    FROM leaks GROUP BY from_split, to_split
    """,
    tags=("text", "dedup", "llm-pipeline"),
)
def q456_split_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/VAL/TEST SPLIT LEAKAGE MATRIX — the audit every eval
    pipeline runs before trusting a held-out number: documents land in
    train/val/test by the q454 salted-hash protocol (8/1/1), and every
    verbatim 8-word window shared ACROSS splits records a leak flow
    (from_split → to_split): occurrence counts, distinct leaked spans,
    and distinct contaminated target docs per ordered split pair.
    'val is X% leaked from train' is this table's (train, val) row.
    Completes the leakage triptych: q446 redacts against an external
    benchmark, q447 attributes copying between SOURCES, THIS audits
    the hash-split boundary itself.

    Deliberately LINEAR (the q447 discipline): per span one grouped
    flag row (3 booleans via max), each occurrence then emits at most
    |splits|−1 flow rows via a bounded explode — never within-group
    doc pairs, so a boilerplate span in thousands of docs costs its
    occurrence count, not its square.

    100 TB story: one content-keyed distinct + one span-keyed flag agg
    (map-side combinable) + a broadcast-size split lexicon in the
    explode; the flag join keys on span content — the same q37/q173
    shuffle every dedup tier pays. Split assignment is a narrow map
    (no data motion), so the audit composes onto any hash-split
    corpus without a repartition."""
    d = table(spark, sf_dir, "documents")
    k = F.expr(
        "cast(conv(substring(md5(concat('shuffle:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    )
    split = (
        F.when(F.pmod(k, F.lit(10)) < 8, F.lit("train"))
        .when(F.pmod(k, F.lit(10)) == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    words = F.split(F.col("text"), " ")
    occ = (
        d.select("doc_id", split.alias("split"), words.alias("words"))
        .filter(F.size("words") >= 8)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(words) - 8), "
                    "i -> concat_ws(' ', slice(words, i + 1, 8)))"
                )
            ).alias("span"),
        )
        .distinct()
    )
    flags = occ.groupBy("span").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("split") == "val", 1).otherwise(0)).alias("in_val"),
        F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias("in_test"),
    )
    leaks = (
        occ.join(flags, "span")
        .select(
            "span",
            "doc_id",
            F.col("split").alias("to_split"),
            F.explode(
                F.expr(
                    "filter(array('train', 'val', 'test'), "
                    "s -> s != split AND ("
                    "(s = 'train' AND in_train = 1) OR "
                    "(s = 'val' AND in_val = 1) OR "
                    "(s = 'test' AND in_test = 1)))"
                )
            ).alias("from_split"),
        )
    )
    return leaks.groupBy("from_split", "to_split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("span").cast("bigint").alias("n_spans"),
        F.count_distinct("doc_id").cast("bigint").alias("n_leaked_docs"),
    )


@query(
    "q457_token_budget_allocation",
    oracle=f"""
    WITH src AS (
      SELECT source,
             cast(sum(len({_TOKS})) as bigint) AS avail_tokens,
             cast(sum(cast(floor(1000000 * (
               CASE WHEN len({_TOKS}) > 0 THEN
                 cast(0.5 as double) * (cast(len(list_distinct({_TOKS})) as double)
                                        / cast(len({_TOKS}) as double))
                 + cast(0.3 as double) * (cast(len(list_filter({_TOKS},
                     t -> t IN ('the','a','of','and','to','el','la','de'))) as double)
                                          / cast(len({_TOKS}) as double))
                 + cast(0.2 as double) * cast(least(len({_TOKS}), 100) as double)
                   / cast(100.0 as double)
               ELSE cast(0.0 as double) END)) as bigint)) as bigint) AS weight
      FROM documents GROUP BY source
    ), tot AS (
      SELECT cast(sum(weight) as bigint) AS wsum FROM src
    ), quota AS (
      SELECT source, avail_tokens, weight,
             cast((100000 * weight) // wsum as bigint) AS base,
             cast((100000 * weight) % wsum as bigint) AS rem
      FROM src CROSS JOIN tot
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rr,
             cast(100000 - sum(base) OVER () as bigint) AS leftover
      FROM quota
    )
    SELECT source, weight, avail_tokens, base,
           cast(CASE WHEN rr <= leftover THEN base + 1 ELSE base END as bigint)
             AS alloc_tokens,
           cast(least(CASE WHEN rr <= leftover THEN base + 1 ELSE base END,
                      4 * avail_tokens) as bigint) AS alloc_capped,
           cast((CASE WHEN rr <= leftover THEN base + 1 ELSE base END) * 1000000
                // avail_tokens as bigint) AS epochs_ppm
    FROM ranked
    """,
    tags=("text", "llm-pipeline", "sampling"),
)
def q457_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET ALLOCATION by the LARGEST-REMAINDER method — the
    'how many tokens of each source' table a data-constrained training
    run starts from (the Muennighoff et al. 2023 repetition-budget
    setting): each source weighs in with its summed quality mass
    (q444's composite in ppm — integer, so the weights are exact), a
    100k-token budget splits proportionally via Hamilton apportionment
    (floor quotas + the remainder-ranked +1s — the method that
    guarantees Σ alloc = budget EXACTLY, which proportional floats
    never do), and each source reports its allocation, the 4-epoch
    repetition cap (alloc_capped = least(alloc, 4× available)), and
    implied epochs in ppm. Every step is integer arithmetic (div/mod
    against the weight total, a remainder rank, cross-multiplied
    caps), so the apportionment — including the tie-broken +1 set —
    is engine-exact.

    100 TB story: one per-source agg (map-side combinable — the
    feature scan is the only corpus pass), then all arithmetic runs on
    the SOURCE-cardinality table (dozens of rows): the one-row total
    broadcasts, the remainder rank is a key-domain window (the q433
    bound — source count, never corpus size). The allocation table
    then drives q190's selection machinery unchanged."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    tk = tokens("text")
    qual = F.floor(
        F.lit(1000000)
        * F.when(
            F.size(tk) > 0,
            F.lit(0.5)
            * (F.size(F.array_distinct(tk)).cast("double") / F.size(tk).cast("double"))
            + F.lit(0.3)
            * (
                F.size(
                    F.filter(
                        tk,
                        lambda t: t.isin(
                            "the", "a", "of", "and", "to", "el", "la", "de"
                        ),
                    )
                ).cast("double")
                / F.size(tk).cast("double")
            )
            + F.lit(0.2)
            * F.least(F.size(tk), F.lit(100)).cast("double")
            / F.lit(100.0),
        ).otherwise(F.lit(0.0))
    ).cast("bigint")
    src = d.groupBy("source").agg(
        F.sum(F.size(tk)).cast("bigint").alias("avail_tokens"),
        F.sum(qual).cast("bigint").alias("weight"),
    )
    tot = src.agg(F.sum("weight").cast("bigint").alias("wsum"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        "weight",
        F.expr("(100000 * weight) div wsum").cast("bigint").alias("base"),
        F.expr("(100000 * weight) % wsum").cast("bigint").alias("rem"),
    )
    # remainder rank + leftover live on the SOURCE-cardinality table
    # (key-domain window, the q433 bound — never corpus-sized)
    ranked = quota.withColumn(
        "rr", F.row_number().over(W.orderBy(F.col("rem").desc(), "source"))  # global-window-ok: source-cardinality table (q433 bound), never corpus-sized
    ).withColumn(
        "leftover",
        (F.lit(100000) - F.sum("base").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))).cast("bigint"),
    )
    alloc = F.when(F.col("rr") <= F.col("leftover"), F.col("base") + 1).otherwise(
        F.col("base")
    )
    return ranked.select(
        "source",
        "weight",
        "avail_tokens",
        "base",
        alloc.cast("bigint").alias("alloc_tokens"),
        F.least(alloc, F.lit(4) * F.col("avail_tokens"))
        .cast("bigint")
        .alias("alloc_capped"),
        F.expr(
            "cast((CASE WHEN rr <= leftover THEN base + 1 ELSE base END) * 1000000"
            " div avail_tokens as bigint)"
        ).alias("epochs_ppm"),
    )
