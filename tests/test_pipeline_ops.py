"""Data-pipeline operators: repetition signals, passage dedup + removal,
Zipf diagnostics, collocations, perplexity, drift and vocabulary
coverage — each vs a pure-Python/numpy oracle plus edge cases the
driver's sf0.01 data may not exercise. The heavy-tail fixtures live in
tests/conftest.py."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_sdf(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_rows(docs_sdf):
    return [(r["doc_id"], r["text"]) for r in docs_sdf.select("doc_id", "text").collect()]


# ----------------------------------------------------- repetition_stats


def test_repetition_stats_matches_oracle(spark, docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import repetition_stats

    def oracle(text):
        toks = text.lower().split()
        n = len(toks)
        dup_tok = round(1 - len(set(toks)) / n, 6)
        bgs = [" ".join(toks[i : i + 2]) for i in range(n - 1)]
        top_bg = 0.0
        if bgs:
            top_bg = round(max(bgs.count(g) for g in set(bgs)) / len(bgs), 6)
        tgs = [" ".join(toks[i : i + 3]) for i in range(n - 2)]
        dup_tg = round(1 - len(set(tgs)) / len(tgs), 6) if tgs else 0.0
        return (n, dup_tok, top_bg, dup_tg)

    want = {i: oracle(t) for i, t in docs_rows}
    got = {
        r["id"]: (
            r["n_tokens"],
            r["dup_token_frac"],
            r["top_bigram_frac"],
            r["dup_trigram_frac"],
        )
        for r in repetition_stats(docs_sdf).collect()
    }
    assert got == want


def test_repetition_stats_degenerate_docs(spark):
    from cis555_search_engine_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "solo"),  # no bigrams, no trigrams
            (2, "a b"),  # one bigram, no trigrams
            (3, "spam spam spam spam"),  # maximal repetition
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["top_bigram_frac"] == 0.0 and got[1]["dup_trigram_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 1.0 and got[2]["dup_trigram_frac"] == 0.0
    assert got[3]["dup_token_frac"] == 0.75
    assert got[3]["top_bigram_frac"] == 1.0  # "spam spam" is every bigram
    assert got[3]["dup_trigram_frac"] == 0.5  # 2 occurrences, 1 distinct


# ------------------------------------------------------- dup_passages


def _passage_oracle(rows, w=3, min_occ=2):
    from collections import Counter

    grams = Counter()
    per_doc = {}
    for i, t in rows:
        toks = t.split()
        pos = [(p, " ".join(toks[p : p + w])) for p in range(len(toks) - w + 1)]
        per_doc[i] = pos
        grams.update(g for _, g in pos)
    out = {}
    for i, pos in per_doc.items():
        dup = sorted(p for p, g in pos if grams[g] >= min_occ)
        spans = []
        for p in dup:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + w)
            else:
                spans.append([p, p + w])
        for s, e in spans:
            out.setdefault(i, set()).add((s, e, e - s))
    return out


def test_repeated_passages_matches_oracle(spark, docs_rows, docs_sdf):
    from cis555_search_engine_spark.operators.dedup import repeated_passages

    want = _passage_oracle(docs_rows, w=3)
    got = {}
    for r in repeated_passages(docs_sdf, w=3).collect():
        got.setdefault(r["id"], set()).add(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    assert got == want
    assert want, "corpus must contain repeated 3-grams or the test is vacuous"


def test_repeated_passages_span_semantics(spark):
    """A verbatim boilerplate block shared by two docs reports as ONE
    maximal span per doc of exactly the block length; an intra-doc
    repeat is flagged too; unique docs are absent."""
    from cis555_search_engine_spark.operators.dedup import repeated_passages

    block = "terms of service apply to all users"  # 7 tokens
    df = spark.createDataFrame(
        [
            (1, f"intro text here {block} closing words"),
            (2, f"{block} and some unique trailing content"),
            (3, "entirely unique document with no repeats at all"),
            (4, "echo alpha beta gamma echo alpha beta gamma done"),  # self-repeat
        ],
        ["doc_id", "text"],
    )
    got = {}
    for r in repeated_passages(df, w=3).collect():
        got.setdefault(r["id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    assert got[1] == [(3, 10, 7)]  # the block, exactly, offset by the intro
    assert got[2] == [(0, 7, 7)]
    assert 3 not in got
    # "echo alpha beta gamma" repeated at 0 and 4: windows 0,1,4,5 merge
    # into one span [0, 8) (the repeat is contiguous with itself)
    assert got[4] == [(0, 8, 8)]


def test_remove_spans_cuts_flagged_passages(spark):
    """remove_spans completes the Lee-et-al. substring dedup: every
    token inside a reported span is cut from the rebuilt text, docs
    without spans pass through byte-identical, and the accounting
    columns reconcile (n_tokens - n_removed == tokens in output)."""
    from cis555_search_engine_spark.operators.dedup import (
        remove_spans,
        repeated_passages,
    )

    block = "terms of service apply to all users"  # 7 tokens
    df = spark.createDataFrame(
        [
            (1, f"intro text here {block} closing words"),
            (2, f"{block} and some unique trailing content"),
            (3, "entirely unique document with no repeats at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: r
        for r in remove_spans(df, repeated_passages(df, w=3)).collect()
    }
    assert out[1]["text"] == "intro text here closing words"
    assert out[1]["n_removed"] == 7 and out[1]["n_tokens"] == 12
    assert out[2]["text"] == "and some unique trailing content"
    assert out[3]["text"] == "entirely unique document with no repeats at all"
    assert out[3]["n_removed"] == 0
    for r in out.values():
        kept = len(r["text"].split()) if r["text"] else 0
        assert r["n_tokens"] - r["n_removed"] == kept


def test_remove_spans_python_oracle(spark, docs_rows, docs_sdf):
    """Full-corpus cross-check against an independent Python rewrite
    using the _passage_oracle spans."""
    from cis555_search_engine_spark.operators.dedup import (
        remove_spans,
        repeated_passages,
    )

    spans = _passage_oracle(docs_rows, w=3)
    want = {}
    for i, t in docs_rows:
        toks = t.split()
        cut = set()
        for s, e, _ in spans.get(i, ()):
            cut.update(range(s, e))
        kept = [t_ for p, t_ in enumerate(toks) if p not in cut]
        want[i] = (len(toks), len(toks) - len(kept), " ".join(kept))
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["text"])
        for r in remove_spans(docs_sdf, repeated_passages(docs_sdf, w=3)).collect()
    }
    assert got == want


# ------------------------------------------- heavy-tail (skewed) corpus
# The uniform sf corpus (5-60 tokens/doc) is the friendliest case:
# re-oracle passage dedup and repetition on the heavy-tail corpus
# (skewed_rows / skewed_sdf in tests/conftest.py).


def test_repeated_passages_skewed_oracle(spark, skewed_rows, skewed_sdf):
    from cis555_search_engine_spark.operators.dedup import repeated_passages

    want = _passage_oracle(skewed_rows, w=3)
    got = {}
    for r in repeated_passages(skewed_sdf, w=3).collect():
        got.setdefault(r["id"], set()).add(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    assert got == want
    assert want, "skewed corpus must contain repeated 3-grams"


def test_remove_spans_skewed_oracle(spark, skewed_rows, skewed_sdf):
    from cis555_search_engine_spark.operators.dedup import (
        remove_spans,
        repeated_passages,
    )

    spans = _passage_oracle(skewed_rows, w=3)
    want = {}
    for i, t in skewed_rows:
        toks = t.split()
        cut = set()
        for s, e, _ in spans.get(i, ()):
            cut.update(range(s, e))
        kept = [t_ for p, t_ in enumerate(toks) if p not in cut]
        want[i] = (len(toks), len(toks) - len(kept), " ".join(kept))
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["text"])
        for r in remove_spans(
            skewed_sdf, repeated_passages(skewed_sdf, w=3)
        ).collect()
    }
    assert got == want


def test_repetition_stats_skewed_oracle(spark, skewed_rows, skewed_sdf):
    from cis555_search_engine_spark.operators.text_analysis import repetition_stats

    def oracle(text):
        toks = text.lower().split()
        n = len(toks)
        dup_tok = round(1 - len(set(toks)) / n, 6) if n else 0.0
        bgs = [" ".join(toks[i : i + 2]) for i in range(n - 1)]
        top_bg = (
            round(max(bgs.count(g) for g in set(bgs)) / len(bgs), 6) if bgs else 0.0
        )
        tgs = [" ".join(toks[i : i + 3]) for i in range(n - 2)]
        dup_tg = round(1 - len(set(tgs)) / len(tgs), 6) if tgs else 0.0
        return (n, dup_tok, top_bg, dup_tg)

    want = {i: oracle(t) for i, t in skewed_rows}
    got = {
        r["id"]: (
            r["n_tokens"], r["dup_token_frac"],
            r["top_bigram_frac"], r["dup_trigram_frac"],
        )
        for r in repetition_stats(skewed_sdf).collect()
    }
    assert got == want


# --------------------------------------------------------- zipf_stats


def test_zipf_stats_matches_numpy_fit(spark):
    """Known distribution: cnt = 2^(20-rank) for 20 terms — the ln-ln
    slope must equal the numpy least-squares fit; totals exact."""
    import numpy as np

    from cis555_search_engine_spark.operators.text_analysis import zipf_stats

    rows = [(f"t{i:02d}", 2 ** (20 - i)) for i in range(1, 21)]
    wc = spark.createDataFrame(rows, "term string, cnt long")
    got = zipf_stats(wc, top_n=1000).collect()[0]
    ranks = np.arange(1, 21)
    cnts = np.array([c for _, c in sorted(rows, key=lambda r: (-r[1], r[0]))])
    want = np.polyfit(np.log(ranks), np.log(cnts), 1)[0]
    assert got["zipf_slope"] == round(float(want), 4)
    assert got["n_terms_fit"] == 20
    assert got["n_vocab"] == 20
    assert got["n_tokens"] == sum(c for _, c in rows)


def test_zipf_stats_top_n_cut_and_tie_break(spark):
    """top_n truncates the fit set (not the totals); all-tied counts
    rank deterministically by term and fit slope 0."""
    from cis555_search_engine_spark.operators.text_analysis import zipf_stats

    rows = [(f"x{i:03d}", 7) for i in range(50)]
    wc = spark.createDataFrame(rows, "term string, cnt long").repartition(8)
    got = zipf_stats(wc, top_n=10).collect()[0]
    assert got["n_terms_fit"] == 10
    assert got["n_vocab"] == 50
    assert got["n_tokens"] == 350
    assert got["zipf_slope"] == 0.0  # constant y: zero slope exactly


def test_zipf_stats_plan_is_take_ordered(spark):
    """The vocab-sized frame must be cut with TakeOrderedAndProject,
    never a global Sort of the whole wordcount."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.text_analysis import zipf_stats

    wc = (
        spark.range(5000)
        .select(F.concat(F.lit("w"), F.col("id")).alias("term"),
                (F.col("id") % 97 + 1).alias("cnt"))
    )
    plan = zipf_stats(wc)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------- collocations


def _pmi_oracle(texts, k, min_count):
    import math
    from collections import Counter

    from cis555_search_engine_spark.functions.tokenizer import tokenize_py

    uni, big = Counter(), Counter()
    for t in texts:
        toks = tokenize_py(t)
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n_tok, n_big = sum(uni.values()), sum(big.values())
    rows = [
        (w1, w2, c,
         round(math.log(c) - math.log(n_big) - math.log(uni[w1])
               - math.log(uni[w2]) + 2 * math.log(n_tok), 6))
        for (w1, w2), c in big.items() if c >= min_count
    ]
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    return rows[:k]


def test_collocations_matches_oracle(spark, docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import collocations

    want = _pmi_oracle([t for _, t in docs_rows], k=50, min_count=3)
    got = [
        (r["w1"], r["w2"], r["pair_cnt"], r["pmi"])
        for r in collocations(docs_sdf, k=50, min_count=3).collect()
    ]
    assert got == want
    assert len(want) == 50, "fixture corpus must fill the cut or the test is weak"


def test_collocations_min_count_and_degenerate_docs(spark):
    """Single-token and empty docs contribute no bigrams (but DO count
    toward unigram mass); hapax pairs fall to min_count; Nb is the
    pre-filter bigram mass."""
    import math

    from cis555_search_engine_spark.operators.text_analysis import collocations

    rows = [(i, "alpha beta") for i in range(5)] + [
        (90, "alpha"), (91, ""), (92, "gamma delta")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = collocations(df, k=10, min_count=5).collect()
    # bigram mass Nb = 6 (5x alpha-beta + 1x gamma-delta); unigrams:
    # alpha 6, beta 5, gamma 1, delta 1; N = 13
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["pair_cnt"]) == ("alpha", "beta", 5)
    want = round(math.log(5) - math.log(6) - math.log(6) - math.log(5)
                 + 2 * math.log(13), 6)
    assert r["pmi"] == want


def test_collocations_plan_shape(spark, docs_sdf):
    """Top-k must be TakeOrderedAndProject — never a global sort of the
    bigram-vocab frame. (AQE may still broadcast the min_count-filtered
    pair side at toy scale; that is its call, not a hint of ours.)"""
    from cis555_search_engine_spark.operators.text_analysis import collocations

    plan = (
        collocations(docs_sdf, k=100, min_count=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------ lm_perplexity


def _ppl_oracle(rows, k=0.5):
    import math
    from collections import Counter

    from cis555_search_engine_spark.functions.tokenizer import tokenize_py

    uni, big, docs = Counter(), Counter(), {}
    for i, t in rows:
        toks = tokenize_py(t)
        uni.update(toks)
        docs[i] = list(zip(toks, toks[1:]))
        big.update(docs[i])
    v = len(uni)
    out = {}
    for i, pairs in docs.items():
        if not pairs:
            continue
        c = Counter(pairs)
        n = sum(c.values())
        nll = round(
            -sum(cnt * math.log((big[p] + k) / (uni[p[0]] + k * v))
                 for p, cnt in c.items()) / n,
            6,
        )
        out[i] = (n, nll, round(math.exp(nll), 4))
    return out


def test_lm_perplexity_matches_oracle(spark, docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import lm_perplexity

    want = _ppl_oracle(docs_rows)
    got = {
        r["id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in lm_perplexity(docs_sdf).collect()
    }
    assert got == want
    assert len(want) > 100, "fixture corpus must exercise the LM broadly"


def test_lm_perplexity_flags_garbled_doc(spark):
    """A doc of corpus-alien bigrams must score strictly higher than the
    repeated in-distribution docs; sub-2-token docs are absent."""
    from cis555_search_engine_spark.operators.text_analysis import lm_perplexity

    rows = [(i, "the cat sat on the mat") for i in range(20)] + [
        (90, "zqx wvy kjh zqx gfd"), (91, "mat"), (92, "")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = {r["id"]: r["ppl"] for r in lm_perplexity(df).collect()}
    assert set(got) == set(range(20)) | {90}
    assert got[90] > 2 * got[0]
    assert len({got[i] for i in range(20)}) == 1  # identical docs, identical ppl


# ------------------------------------------------- corpus drift monitor


def _drift_counts_py(rows):
    from collections import Counter

    from cis555_search_engine_spark.functions.tokenizer import tokenize_py

    a, b = Counter(), Counter()
    for i, t in rows:
        (a if i % 2 == 0 else b).update(tokenize_py(t))
    return a, b


def test_unigram_drift_matches_oracle(spark, docs_sdf, docs_rows):
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.text_analysis import unigram_drift

    a, b = _drift_counts_py(docs_rows)
    na, nb = sum(a.values()), sum(b.values())
    rows = [
        (t, a[t], b[t], round((a[t] / na - b[t] / nb) * 1e6, 4))
        for t in set(a) | set(b)
    ]
    rows.sort(key=lambda r: (-abs(r[1] * nb - r[2] * na), r[0]))
    want = rows[:10]

    got = [
        tuple(r)
        for r in unigram_drift(
            docs_sdf.filter(F.col("doc_id") % 2 == 0),
            docs_sdf.filter(F.col("doc_id") % 2 == 1),
            k=10,
        ).collect()
    ]
    assert got == want


def test_js_divergence_matches_oracle_and_properties(spark):
    """JSD(X, X) = 0; disjoint vocabularies hit the ln2 bound; a hand
    case matches the closed form; side-only vocab counts are exact."""
    import math

    from cis555_search_engine_spark.operators.text_analysis import js_divergence

    same = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
    )
    r = js_divergence(same.filter("doc_id = 1"), same.filter("doc_id = 2")).collect()[0]
    assert r["jsd"] == 0.0 and r["n_common"] == 3
    assert r["n_a_only"] == 0 and r["n_b_only"] == 0

    disjoint = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    r = js_divergence(disjoint.filter("doc_id = 1"), disjoint.filter("doc_id = 2")).collect()[0]
    assert r["jsd"] == round(math.log(2), 6)
    assert r["n_common"] == 0 and r["n_a_only"] == 2 and r["n_b_only"] == 2

    # hand case: A = {x:2, y:1}, B = {x:1, y:2}
    ab = spark.createDataFrame([(1, "x x y"), (2, "x y y")], ["doc_id", "text"])
    p, q = [2 / 3, 1 / 3], [1 / 3, 2 / 3]
    want = round(
        0.5 * sum(pi * math.log(2 * pi / (pi + qi)) for pi, qi in zip(p, q))
        + 0.5 * sum(qi * math.log(2 * qi / (pi + qi)) for pi, qi in zip(p, q)),
        6,
    )
    r = js_divergence(ab.filter("doc_id = 1"), ab.filter("doc_id = 2")).collect()[0]
    assert r["jsd"] == want and r["n_tok_a"] == 3 and r["n_tok_b"] == 3


def test_unigram_drift_exact_order_boundary(spark):
    """The cut ranks on the exact integer |cnt_a*n_b - cnt_b*n_a|: two
    terms with identical float |delta_p| but different terms must cut
    deterministically by term, under any partitioning."""
    from cis555_search_engine_spark.operators.text_analysis import unigram_drift

    a = spark.createDataFrame(
        [(0, "aaa aaa bbb ccc")], ["doc_id", "text"]
    ).repartition(4)
    b = spark.createDataFrame(
        [(1, "aaa bbb bbb ccc")], ["doc_id", "text"]
    ).repartition(4)
    got = [r["term"] for r in unigram_drift(a, b, k=2).collect()]
    # movers: aaa (+1/4), bbb (-1/4) tie on magnitude -> term order; ccc flat
    assert got == ["aaa", "bbb"]


# ------------------------------------------------------ vocab_coverage


def test_vocab_coverage_matches_oracle(spark, docs_rows):
    from collections import Counter

    from cis555_search_engine_spark.functions.tokenizer import tokenize_py
    from cis555_search_engine_spark.operators.text_analysis import vocab_coverage

    wc = Counter()
    for _, t in docs_rows:
        wc.update(tokenize_py(t))
    ordered = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(wc.values())

    def want(v):
        n = min(v, len(ordered))
        cov = sum(c for _, c in ordered[:n])
        return (v, n, cov, round(cov / total, 6))

    wc_sdf = spark.createDataFrame(list(wc.items()), "term string, cnt long")
    got = [
        (r["vocab_size"], r["n_terms"], r["covered_tokens"], r["coverage"])
        for r in vocab_coverage(wc_sdf, sizes=(5, 20, 10000)).collect()
    ]
    assert got == [want(5), want(20), want(10000)]
    assert got[-1][3] == 1.0  # V beyond the vocab covers everything


def test_vocab_coverage_plan_and_validation(spark):
    """The wordcount cut must be TakeOrderedAndProject (never a global
    vocab sort); bad sizes raise."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.text_analysis import vocab_coverage

    wc = (
        spark.range(5000)
        .select(F.concat(F.lit("w"), F.col("id")).alias("term"),
                (F.col("id") % 97 + 1).cast("long").alias("cnt"))
    )
    # sizes strictly below the vocab size: when max(sizes) >= |vocab|
    # Catalyst's EliminateLimits drops the limit (the frame is then
    # bounded by the vocab itself, so that case is safe by construction)
    plan = (
        vocab_coverage(wc, sizes=(100, 1000))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    with _pytest.raises(ValueError):
        vocab_coverage(wc, sizes=())
    with _pytest.raises(ValueError):
        vocab_coverage(wc, sizes=(0, 10))
