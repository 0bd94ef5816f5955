"""Round-12 additions: the composed span-level decontamination rewrite
(q448 = q446 spans → q442 removal machinery) and hashed-ngram DSIR
(q449). Cross-engine exactness is the oracle sweep's job
(test_oracle_parity); these pin the OPERATOR-LEVEL invariants the hash
alone can't name — the detect→redact handoff (removal counts equal the
interval UNION of q446's spans, affected docs are exactly the detected
training docs), digest correctness against a Python reassembly, and the
fixed-width bucket-LM contract of the hashed DSIR variant."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from marketingcloud_etl_spark.io import table
from marketingcloud_etl_spark.plans.catalog import load_all

REGISTRY = load_all()


def _union_size(intervals):
    """Total integer points covered by a set of [start, end] intervals
    (they CAN overlap: islands ≥2 positions apart still share tokens
    when the gap is < the 8-token window width)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s <= cur_e + 1:
            cur_e = max(cur_e, e)
        else:
            total += cur_e - cur_s + 1
            cur_s, cur_e = s, e
    if cur_s is not None:
        total += cur_e - cur_s + 1
    return total


def test_q448_consumes_exactly_q446_spans(spark, sf_dir):
    """The handoff contract: q448's write set is exactly q446's
    detected doc set (training side only), and per doc n_removed is
    the interval UNION of q446's contaminated spans — no span lost,
    none double-counted, nothing outside a detected span removed."""
    spans = REGISTRY["q446_decontamination_spans"].fn(spark, sf_dir).collect()
    out = {r["doc_id"]: r for r in REGISTRY["q448_decontamination_rewrite"].fn(spark, sf_dir).collect()}
    by_doc: dict[int, list] = {}
    for r in spans:
        assert r["doc_id"] % 10 != 7, "benchmark doc in the training write set"
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert set(out) == set(by_doc), "affected docs != detected docs"
    for doc_id, ivals in by_doc.items():
        row = out[doc_id]
        assert row["n_removed"] == _union_size(ivals), doc_id
        assert row["n_kept"] == row["n_tokens"] - row["n_removed"]


def test_q448_digest_matches_python_reassembly(spark, sf_dir):
    """The trimmed_digest pins the rewrite byte-for-byte: recompute the
    redacted text for every affected doc in Python (split on single
    space — the span positions are defined over that split) and md5 it."""
    spans = REGISTRY["q446_decontamination_spans"].fn(spark, sf_dir).collect()
    out = {r["doc_id"]: r for r in REGISTRY["q448_decontamination_rewrite"].fn(spark, sf_dir).collect()}
    by_doc: dict[int, set] = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], set()).update(
            range(r["span_start"], r["span_end"] + 1)
        )
    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(list(by_doc)))
        .collect()
    }
    for doc_id, removed in by_doc.items():
        words = texts[doc_id].split(" ")
        kept = " ".join(w for i, w in enumerate(words) if i not in removed)
        want = hashlib.md5(kept.encode()).hexdigest()
        assert out[doc_id]["trimmed_digest"] == want, doc_id
        assert out[doc_id]["n_tokens"] == len(words), doc_id


def test_q449_bigram_counts_and_raw_side_only(spark, sf_dir):
    """Every scored doc is raw-side (doc_id % 7 != 0) and its n_bigrams
    is exactly len(tokens) − 1 — the hashing trick changes the FEATURE
    KEY, never the feature mass."""
    out = REGISTRY["q449_dsir_hashed_ngrams"].fn(spark, sf_dir).collect()
    assert len(out) == 20
    ids = [r["doc_id"] for r in out]
    assert all(i % 7 != 0 for i in ids)
    toks = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(ids))
        .select(
            "doc_id",
            F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("n"),
        )
        .collect()
    }
    for r in out:
        assert r["n_bigrams"] == toks[r["doc_id"]] - 1, r["doc_id"]
    # descending weight, doc_id tiebreak — the resampling head order
    ws = [(-r["dsir_weight"], r["doc_id"]) for r in out]
    assert ws == sorted(ws)


def test_q449_score_matches_python_lm(spark, sf_dir):
    """Recompute the top doc's importance weight from scratch in Python
    — bigram → md5-prefix bucket → add-one smoothed bucket LMs over the
    FIXED width B (no vocabulary pass) — and match to 6 decimals."""
    from marketingcloud_etl_spark.plans.text_queries import _DSIR_B as B

    out = REGISTRY["q449_dsir_hashed_ngrams"].fn(spark, sf_dir).collect()
    top = out[0]
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def buckets(text):
        w = [t for t in text.split() if t]
        return [
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16) % B
            for a, b in zip(w, w[1:])
        ]

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    nt = nr = 0
    doc_buckets = None
    for r in docs:
        bs = buckets(r["text"])
        tgt = r["doc_id"] % 7 == 0
        for b in bs:
            if tgt:
                ct[b] = ct.get(b, 0) + 1
            else:
                cr[b] = cr.get(b, 0) + 1
        nt += len(bs) if tgt else 0
        nr += 0 if tgt else len(bs)
        if r["doc_id"] == top["doc_id"]:
            doc_buckets = bs
    import math

    cnt: dict[int, int] = {}
    for b in doc_buckets:
        cnt[b] = cnt.get(b, 0) + 1
    terms = sorted(
        c
        * (
            math.log((ct.get(b, 0) + 1) / (nt + B))
            - math.log((cr.get(b, 0) + 1) / (nr + B))
        )
        for b, c in cnt.items()
    )
    acc = 0.0
    for t in terms:
        acc += t
    assert round(acc, 6) == top["dsir_weight"]
    assert len(doc_buckets) == top["n_bigrams"]


def test_q450_state_equals_from_scratch_and_is_reused(spark, sf_dir):
    """The incremental span tier's two contracts: (1) merged-state span
    derivation ≡ from-scratch q438 for every affected doc, and batch
    docs are all present in the affected set whenever q438 gives them
    spans; (2) the persisted postings/frequency state is built once per
    process and the second call reuses it byte-for-byte."""
    import glob
    import os

    import pytest

    from marketingcloud_etl_spark.io import query_state

    fn = REGISTRY["q450_incremental_span_state"].fn
    first = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    state_dir = query_state(
        "q450", sf_dir, lambda d: pytest.fail("q450 state not registered")
    )[0]
    stamps = {
        f: os.path.getmtime(f)
        for f in glob.glob(state_dir + "/*/*.parquet")
    }
    assert stamps, "state dir holds no parquet files"
    second = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert first == second
    assert stamps == {
        f: os.path.getmtime(f)
        for f in glob.glob(state_dir + "/*/*.parquet")
    }

    scratch = REGISTRY["q438_maximal_dup_spans"].fn(spark, sf_dir).collect()
    affected = {t[0] for t in first}
    scratch_aff = sorted(
        tuple(r) for r in scratch if r["doc_id"] in affected
    )
    assert first == scratch_aff, "state-derived spans drift from q438"
    # every BATCH doc with from-scratch spans must be in the output
    batch_with_spans = {r["doc_id"] for r in scratch if r["doc_id"] % 5 == 4}
    assert batch_with_spans <= affected


def test_q451_classifier_discriminates_and_is_deterministic(spark, sf_dir):
    """The trained filter must actually FILTER: selection agreement
    with the label proxy beats the base rate (the q207 convergence
    contract, here on exact fixed-point GD), the per-source counts are
    internally consistent, the weight columns are identical across
    rows (one model), and a second run reproduces the report exactly
    (fixed-point arithmetic has no run-to-run noise)."""
    fn = REGISTRY["q451_quality_filter_pipeline"].fn
    rows = fn(spark, sf_dir).collect()
    assert rows
    w_cols = {(r["w0_ppm"], r["w1_ppm"], r["w2_ppm"], r["w3_ppm"]) for r in rows}
    assert len(w_cols) == 1, "more than one model in the report"
    for r in rows:
        assert 0 <= r["n_selected"] <= r["n_docs"]
        if r["n_selected"] == 0:
            assert r["selected_token_budget"] == 0
            assert r["min_sel_score_ppm"] == -1 == r["max_sel_score_ppm"]
        else:
            assert r["min_sel_score_ppm"] <= r["max_sel_score_ppm"]
            assert r["min_sel_score_ppm"] >= 500000  # sel ⇔ pred ≥ 0.5

    # agreement with the label proxy beats the base rate: rebuild the
    # per-doc (y, selected) pairs with the reported final weights
    from marketingcloud_etl_spark.io import table as t
    from marketingcloud_etl_spark.plans.text_queries import (
        _Q451_THRESH,
    )
    from marketingcloud_etl_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    tk = tokens("text")
    stopw = F.filter(
        tk, lambda x: x.isin("the", "a", "of", "and", "to", "el", "la", "de")
    )
    feats = [
        (
            r["n"],
            r["nd"] / r["n"] if r["n"] else 0.0,
            r["ns"] / r["n"] if r["n"] else 0.0,
            min(r["n"], 100) / 100.0 if r["n"] else 0.0,
        )
        for r in d.select(
            F.size(tk).alias("n"),
            F.size(F.array_distinct(tk)).alias("nd"),
            F.size(stopw).alias("ns"),
        ).collect()
    ]
    import math

    w = [c / 1e6 for c in next(iter(w_cols))]  # ppm floor ≈ good enough here
    agree = pos = 0
    for n, x1, x2, x3 in feats:
        q = (
            math.floor(
                1e6 * (0.5 * x1 + 0.3 * x2 + 0.2 * min(n, 100) / 100.0)
            )
            if n
            else 0
        )
        y = q >= _Q451_THRESH
        pred = ((w[0] + w[1] * x1) + w[2] * x2) + w[3] * x3 >= 0.5
        agree += y == pred
        pos += y
    n_all = len(feats)
    base = max(pos, n_all - pos) / n_all
    assert agree / n_all >= base - 1e-9, (agree / n_all, base)

    again = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_q452_conserves_both_modalities(spark, sf_dir):
    """Packing must CONSERVE the composed tiers exactly: summed over
    all sequences, the text-chunk count/token mass equals standalone
    q361 and the patch count equals standalone q435's total, per-source
    seq_ids are contiguous from 0, and every sequence's token split
    sums to its total."""
    seqs = REGISTRY["q452_interleaved_multimodal_packing"].fn(spark, sf_dir).collect()
    assert seqs
    chunks = REGISTRY["q361_rag_chunking"].fn(spark, sf_dir).collect()
    patches = REGISTRY["q435_patch_grid_parity"].fn(spark, sf_dir).collect()
    assert sum(r["n_text_chunks"] for r in seqs) == len(chunks)
    assert sum(r["text_tokens"] for r in seqs) == sum(r["n_tok"] for r in chunks)
    assert sum(r["n_patches"] for r in seqs) == sum(r["n_patches"] for r in patches)
    by_src: dict[str, list] = {}
    for r in seqs:
        assert r["text_tokens"] + r["image_tokens"] == r["seq_tokens"]
        assert r["n_text_chunks"] + r["n_patches"] == r["n_items"]
        by_src.setdefault(r["source"], []).append(r["seq_id"])
    for ids in by_src.values():
        assert sorted(ids) == list(range(len(ids))), "seq_ids not contiguous"


def test_q453_funnel_partitions_corpus_and_orders_rules(spark, sf_dir):
    """First-failure attribution must PARTITION the corpus: per-rule
    doc counts and token masses sum to the whole table, and a doc
    failing an early rule never appears under a later one (recompute
    every doc's verdict in Python and compare the aggregate)."""
    rows = REGISTRY["q453_filter_funnel_report"].fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select("source", "text").collect()
    expect: dict[tuple, list] = {}
    stop = {"the", "a", "of", "and", "to", "el", "la", "de"}
    for r in docs:
        ws = [t for t in r["text"].split() if t]
        n = len(ws)
        nstop = sum(1 for t in ws if t in stop)
        topc = max((ws.count(w) for w in set(ws)), default=0)
        nd = len(set(ws))
        if n < 20:
            v = "r1_too_short"
        elif nstop == 0:
            v = "r2_no_stopwords"
        elif topc * 8 > n:
            v = "r3_repetitive"
        elif nd * 5 < n * 2:
            v = "r4_low_diversity"
        else:
            v = "pass"
        k = (r["source"], v)
        expect.setdefault(k, [0, 0])
        expect[k][0] += 1
        expect[k][1] += n
    got = {(r["source"], r["verdict"]): [r["n_docs"], r["n_tokens"]] for r in rows}
    assert got == expect
    assert sum(v[0] for v in got.values()) == len(docs)


def test_q454_shards_partition_and_pin_the_permutation(spark, sf_dir):
    """Sharding must partition the corpus (Σ n_docs = corpus), be
    reproducible run-to-run, and the order digest must equal a Python
    recompute of the (key, doc_id)-sorted id list for every shard."""
    import hashlib

    fn = REGISTRY["q454_deterministic_shuffle_shards"].fn
    rows = fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select("doc_id").collect()
    assert sum(r["n_docs"] for r in rows) == len(docs)
    by_shard: dict[int, list] = {}
    for r in docs:
        k = int(hashlib.md5(f"shuffle:{r['doc_id']}".encode()).hexdigest()[:8], 16)
        by_shard.setdefault(k % 16, []).append((k, r["doc_id"]))
    for r in rows:
        ids = [str(d) for _, d in sorted(by_shard[r["shard"]])]
        want = hashlib.md5(",".join(ids).encode()).hexdigest()
        assert r["order_digest"] == want, r["shard"]
        assert r["n_docs"] == len(ids)
    again = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_q455_greedy_matches_python_replay(spark, sf_dir):
    """The ordered-fold packer must equal a straight Python replay per
    source (bins, padding), and the structural dominance must hold:
    chunking has perfect fill (greedy pads at least as much) while
    greedy never splits (its whole advantage — chunk splits ≥ 0 and
    greedy bins ≥ chunk seqs)."""
    rows = REGISTRY["q455_packing_efficiency_audit"].fn(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "text").collect()
    per_src: dict[str, list] = {}
    for r in docs:
        n = len([t for t in r["text"].split() if t])
        per_src.setdefault(r["source"], []).append((r["doc_id"], n))
    for r in rows:
        fill = bins = pad = 0
        for _, n in sorted(per_src[r["source"]]):
            if n > 256:
                if fill > 0:
                    pad += 256 - fill
                    bins += 1
                bins += 1
                fill = 0
            elif fill + n > 256:
                pad += 256 - fill
                bins += 1
                fill = n
            else:
                fill += n
        if fill > 0:
            bins += 1
            pad += 256 - fill
        assert r["n_bins_greedy"] == bins, r["source"]
        assert r["pad_greedy"] == pad, r["source"]
        assert r["n_bins_greedy"] >= r["n_seqs_chunk"]
        assert r["pad_greedy"] >= r["pad_chunk"]
        assert 0 <= r["n_docs_split"] <= r["n_docs"]
        total = r["total_tokens"]
        assert r["fill_chunk_ppm"] == (total * 1000000) // (r["n_seqs_chunk"] * 256)
        assert r["fill_greedy_ppm"] == (total * 1000000) // (total + r["pad_greedy"])


def test_q456_leakage_is_symmetric_in_spans_and_linear(spark, sf_dir):
    """Structural contracts of the leak matrix: the distinct-span count
    is symmetric across a split pair (a span shared between A and B
    leaks both ways), no self-flows exist, and every (from, to) row's
    occurrence count is at least its doc count (≥1 occurrence per
    leaked doc)."""
    rows = REGISTRY["q456_split_leakage_matrix"].fn(spark, sf_dir).collect()
    assert rows
    m = {(r["from_split"], r["to_split"]): r for r in rows}
    for (a, b), r in m.items():
        assert a != b
        assert r["n_occurrences"] >= r["n_leaked_docs"] >= 1
        assert (b, a) in m, "one-way leak row"
        assert m[(b, a)]["n_spans"] == r["n_spans"], (a, b)


def test_q457_allocation_sums_to_budget_and_is_proportional(spark, sf_dir):
    """Hamilton apportionment contracts: Σ alloc_tokens = 100000
    exactly, every alloc is base or base+1, caps clamp at 4 epochs, and
    the +1 set goes to the largest remainders (recompute in Python)."""
    rows = REGISTRY["q457_token_budget_allocation"].fn(spark, sf_dir).collect()
    assert sum(r["alloc_tokens"] for r in rows) == 100000
    wsum = sum(r["weight"] for r in rows)
    leftover = 100000 - sum((100000 * r["weight"]) // wsum for r in rows)
    order = sorted(
        rows, key=lambda r: (-((100000 * r["weight"]) % wsum), r["source"])
    )
    plus_one = {r["source"] for r in order[:leftover]}
    for r in rows:
        base = (100000 * r["weight"]) // wsum
        assert r["base"] == base
        want = base + 1 if r["source"] in plus_one else base
        assert r["alloc_tokens"] == want, r["source"]
        assert r["alloc_capped"] == min(want, 4 * r["avail_tokens"])
        assert r["epochs_ppm"] == want * 1000000 // r["avail_tokens"]
