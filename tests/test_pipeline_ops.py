"""Training-pipeline operators: repetition signals, stratified +
temperature sampling, DSIR importance resampling, facet counts, passage
dedup + removal, Zipf diagnostics — each vs a pure-Python/numpy oracle
plus edge cases the driver's sf0.01 data may not exercise."""

from __future__ import annotations

import hashlib

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


# ---------------------------------------------------- sample_stratified


def _hexkey(doc_id) -> str:
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:8]


def test_sample_stratified_matches_oracle(spark, docs_sdf):
    from cis555_search_engine_spark.operators.curation import sample_stratified

    rates = {"en": 0.5, "de": 0.25, "es": 0.1}
    rows = docs_sdf.select("doc_id", "lang").collect()
    want = {
        r["doc_id"]
        for r in rows
        if rates.get(r["lang"]) is not None
        and _hexkey(r["doc_id"]) < format(int(rates[r["lang"]] * 16**8), "08x")
    }
    got = {r["doc_id"] for r in sample_stratified(docs_sdf, rates).collect()}
    assert got == want
    # unknown strata (zh, fr) fall to default_rate=0 -> dropped entirely
    langs = {r["lang"] for r in rows}
    assert {"zh", "fr"} <= langs
    kept_langs = {
        r["lang"] for r in sample_stratified(docs_sdf, rates).select("lang").collect()
    }
    assert kept_langs <= set(rates)


def test_sample_stratified_nested_and_stable(spark, docs_sdf):
    """Raising a rate strictly grows the sample; membership is invariant
    under repartitioning (the property df.sample lacks)."""
    from cis555_search_engine_spark.operators.curation import sample_stratified

    small = {r["doc_id"] for r in sample_stratified(docs_sdf, {"en": 0.2}).collect()}
    big = {r["doc_id"] for r in sample_stratified(docs_sdf, {"en": 0.6}).collect()}
    assert small < big
    re48 = {
        r["doc_id"]
        for r in sample_stratified(docs_sdf.repartition(48), {"en": 0.6}).collect()
    }
    assert re48 == big


def test_sample_stratified_rate_one_keeps_all(spark, docs_sdf):
    from cis555_search_engine_spark.operators.curation import sample_stratified

    n_en = docs_sdf.filter("lang = 'en'").count()
    assert sample_stratified(docs_sdf, {"en": 1.0}).count() == n_en


# -------------------------------------------------------- facet_counts


def test_facet_counts_matches_bm25_scores(spark, docs_sdf):
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.scoring import bm25_scores, facet_counts

    idx = build_index(docs_sdf, doc_key=("doc_id",), text_col="text", stem=False)
    meta = docs_sdf.select("doc_id", "source")
    got = {
        r["facet"]: (r["n_docs"], r["max_score"], r["min_score"])
        for r in facet_counts(idx, "hash join merge", meta, "source", stem=False).collect()
    }

    scored = bm25_scores(idx, "hash join merge", stem=False)
    src = {r["doc_id"]: r["source"] for r in meta.collect()}
    per_facet: dict[str, list[float]] = {}
    for r in scored.select("doc_id", F.round("score", 4).alias("s")).collect():
        per_facet.setdefault(src[r["doc_id"]], []).append(r["s"])
    want = {f: (len(v), max(v), min(v)) for f, v in per_facet.items()}
    assert got == want
    assert len(want) > 1, "need several facets for a meaningful check"


def test_facet_counts_empty_query(spark, docs_sdf):
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.scoring import facet_counts

    idx = build_index(docs_sdf.limit(20), doc_key=("doc_id",), text_col="text", stem=False)
    meta = docs_sdf.select("doc_id", "source")
    out = facet_counts(idx, "", meta, "source", stem=False)
    assert out.count() == 0
    assert out.columns == ["facet", "n_docs", "max_score", "min_score"]


def test_sample_stratified_threshold_math(spark):
    """Random rates: kept fraction matches the exact md5-threshold count
    computed in Python (no statistical tolerance — the sampler is a
    deterministic function, so the check is exact)."""
    import random

    from cis555_search_engine_spark.operators.curation import sample_stratified

    rng = random.Random(7)
    rows = [(i, rng.choice(["a", "b", "c"])) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"a": 0.123, "b": 0.777, "c": 1.0}

    def kept(i, s):
        r = rates[s]
        return r >= 1.0 or _hexkey(i) < format(int(r * 16**8), "08x")

    want = {i for i, s in rows if kept(i, s)}
    got = {r["doc_id"] for r in sample_stratified(df, rates).collect()}
    assert got == want


# --------------------------------------------------- sample_temperature


def _temp_rates(rows, alpha, target):
    """Pure-Python oracle for the p^alpha mixture rates (same operation
    order as the operator and its SQL twin)."""
    from collections import Counter

    counts = Counter(s for _, s in rows)
    n_tot = float(sum(counts.values()))
    q = {g: (n / n_tot) ** alpha for g, n in counts.items()}
    z = sum(q[g] for g in sorted(q))  # any order: rates get round(,6)
    return {
        g: round(min(1.0, target * n_tot * q[g] / (z * counts[g])), 6)
        for g in counts
    }


def test_sample_temperature_matches_python_oracle(spark):
    """Skewed strata: membership equals the exact md5-threshold oracle
    at the p^0.5 rates; low-resource strata get HIGHER keep-rates than
    the head stratum (the point of temperature sampling)."""
    import random

    from cis555_search_engine_spark.operators.curation import sample_temperature

    rng = random.Random(11)
    # heavy head: ~80% 'en', small 'de'/'fi' tails
    rows = [
        (i, rng.choices(["en", "de", "fi"], weights=[80, 15, 5])[0])
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = _temp_rates(rows, alpha=0.5, target=0.5)
    assert rates["fi"] > rates["de"] > rates["en"]  # tail upweighted

    def kept(i, s):
        r = rates[s]
        return r >= 1.0 or _hexkey(i) < format(int(r * 16**8), "08x")

    want = {i for i, s in rows if kept(i, s)}
    out = sample_temperature(df, alpha=0.5, target_frac=0.5).collect()
    got = {r["doc_id"] for r in out}
    assert got == want
    # the reported sample_rate column carries the applied per-stratum rate
    assert {(r["lang"], r["sample_rate"]) for r in out} == {
        (g, rates[g]) for g in rates if any(s == g for i, s in rows if i in got)
    }


def test_sample_temperature_nested_stable_and_clamped(spark):
    """target_frac nests the samples; membership survives repartitioning;
    a tiny stratum whose upweighted rate clears 1.0 is kept whole, and
    alpha=1 degenerates to uniform target_frac sampling."""
    import random

    from cis555_search_engine_spark.operators.curation import sample_temperature

    rng = random.Random(5)
    rows = [
        (i, rng.choices(["en", "de", "xx"], weights=[96, 3, 1])[0])
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    small = {r["doc_id"] for r in sample_temperature(df, target_frac=0.25).collect()}
    big = {r["doc_id"] for r in sample_temperature(df, target_frac=0.6).collect()}
    assert small < big
    re48 = {
        r["doc_id"]
        for r in sample_temperature(df.repartition(48), target_frac=0.6).collect()
    }
    assert re48 == big
    # alpha=0.25, target 0.9: the rare stratum's rate clamps at 1.0 -> whole
    out = sample_temperature(df, alpha=0.25, target_frac=0.9)
    n_xx_all = sum(1 for _, s in rows if s == "xx")
    n_xx_kept = out.filter("lang = 'xx'").count()
    assert n_xx_kept == n_xx_all
    assert out.filter("lang = 'xx'").select("sample_rate").first()[0] == 1.0
    # alpha=1 -> q ∝ p, so every stratum keeps exactly target_frac
    flat = sample_temperature(df, alpha=1.0, target_frac=0.3)
    assert {r[0] for r in flat.select("sample_rate").distinct().collect()} == {0.3}
    # non-positive target is a usage error, not a silent keep-all (the
    # %08x threshold of a negative rate would sort above every md5 key)
    with pytest.raises(ValueError, match="target_frac"):
        sample_temperature(df, target_frac=0.0)
    with pytest.raises(ValueError, match="target_frac"):
        sample_temperature(df, target_frac=-0.5)
    # re-sampling a previous pass's output replaces sample_rate instead
    # of emitting a duplicate column
    once = sample_temperature(df, target_frac=0.6)
    twice = sample_temperature(once, target_frac=0.25)
    assert twice.columns.count("sample_rate") == 1
    assert {r["doc_id"] for r in twice.collect()} <= big


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


# ----------------------------------------- heavy-tail (skewed) fixtures
# Round-4 verdict item 10: the uniform sf corpus (5-60 tokens/doc) is
# the friendliest case for the pipeline tier — re-oracle packing,
# repetition and passage dedup on the synth heavy-tail corpus (Pareto
# lengths, p99 ~100x the median; FIXTURES.md §skewed).


@pytest.fixture(scope="module")
def skewed_rows():
    from cis555_search_engine_spark.synth import generate_transcripts

    pdf = generate_transcripts(n_convs=40, seed=99, length_skew=1.0)
    return [(i, t) for i, t in enumerate(pdf["text"].tolist())]


@pytest.fixture(scope="module")
def skewed_sdf(spark, skewed_rows):
    return spark.createDataFrame(skewed_rows, ["doc_id", "text"]).cache()


def test_skewed_corpus_is_actually_heavy_tailed(skewed_rows):
    import statistics

    lens = sorted(len(t.split()) for _, t in skewed_rows)
    med = statistics.median(lens)
    assert lens[-1] > 20 * med, (med, lens[-1])


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


def test_pack_sequences_skewed_oracle(spark, skewed_rows, skewed_sdf):
    """Packing on the heavy-tail corpus vs a pure-Python running-sum
    oracle: a 4000-token doc must not derail offsets/chunk ids, and the
    bucketed scale path must equal the single-window form."""
    from cis555_search_engine_spark.operators.curation import pack_sequences

    budget = 256
    off = 0
    want = {}
    for i, t in sorted(skewed_rows):
        n = len([x for x in t.split() if x])
        want[i] = (n, off, off // budget)
        off += n
    got = {
        r["id"]: (r["n_tokens"], r["start_offset"], r["chunk_id"])
        for r in pack_sequences(skewed_sdf, budget_tokens=budget).collect()
    }
    assert got == want
    single = {
        r["id"]: (r["n_tokens"], r["start_offset"], r["chunk_id"])
        for r in pack_sequences(skewed_sdf, budget_tokens=budget, num_buckets=1).collect()
    }
    assert single == got


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


# --------------------------------------------------------------- DSIR


def test_dsir_identity_target_gives_zero_weights(spark, docs_sdf):
    """target == raw ⇒ the two smoothed distributions are the identical
    doubles, so every log-ratio — and every doc weight — is exactly 0."""
    from cis555_search_engine_spark.operators.curation import dsir_weights

    out = dsir_weights(docs_sdf, docs_sdf, n_buckets=256).collect()
    assert len(out) > 0
    assert all(r["logw"] == 0.0 for r in out)


def test_dsir_prefers_target_like_docs(spark):
    """Docs sharing the target slice's grams must outscore docs that
    share none — including a held-out doc NOT in the target itself."""
    from cis555_search_engine_spark.operators.curation import (
        dsir_select,
        dsir_weights,
    )

    rows = [
        (1, "cat dog cat dog"),       # target
        (2, "cat dog bird"),          # held out, target-like
        (3, "fish squid kelp"),       # off-target
        (4, "fish squid squid kelp"), # off-target
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id = 1")
    w = {r["id"]: r["logw"] for r in dsir_weights(docs, target).collect()}
    assert w[2] > w[3] and w[2] > w[4]
    assert w[1] > w[3]
    top2 = [r["id"] for r in dsir_select(docs, target, k=2).collect()]
    assert set(top2) == {1, 2}


def test_dsir_python_oracle(spark, docs_sdf, docs_rows):
    """Bit-for-bit against a pure-Python replay of the same hashing,
    smoothing, and rounding (independent of the DuckDB twin)."""
    import hashlib
    import math
    import re
    from collections import Counter

    from cis555_search_engine_spark.operators.curation import dsir_weights

    B, K = 512, 0.5

    def toks(text):
        return [t for t in (x.strip("-") for x in re.findall(r"[a-z-]+", text.lower())) if t]

    def buckets(text):
        ts = toks(text)
        grams = ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        return Counter(
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B for g in grams
        )

    per_doc = {d: buckets(t) for d, t in docs_rows}
    raw = Counter()
    tgt = Counter()
    for d, c in per_doc.items():
        raw.update(c)
        if d % 10 == 0:
            tgt.update(c)
    n_r, n_t = sum(raw.values()), sum(tgt.values())
    lr = {
        b: math.log((tgt.get(b, 0) + K) / (n_t + K * B))
        - math.log((raw[b] + K) / (n_r + K * B))
        for b in raw
    }
    expected = {
        d: (sum(c.values()), round(sum(n * lr[b] for b, n in c.items()), 6))
        for d, c in per_doc.items()
        if c
    }

    from pyspark.sql import functions as F

    got = {
        r["id"]: (r["n_grams"], r["logw"])
        for r in dsir_weights(
            docs_sdf, docs_sdf.filter(F.col("doc_id") % 10 == 0),
            n_buckets=B, k_smooth=K,
        ).collect()
    }
    assert got == expected


def test_dsir_degenerate_docs_and_param_guards(spark):
    from cis555_search_engine_spark.operators.curation import dsir_weights

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, None), (4, "two words here")],
        "doc_id long, text string",
    )
    out = {r["id"]: r["n_grams"] for r in
           dsir_weights(docs, docs.filter("doc_id = 4")).collect()}
    # empty/null docs absent; 1-token doc contributes its unigram only
    assert set(out) == {2, 4}
    assert out[2] == 1 and out[4] == 5  # 3 unigrams + 2 bigrams
    with pytest.raises(ValueError):
        dsir_weights(docs, docs, n_buckets=0)
    with pytest.raises(ValueError):
        dsir_weights(docs, docs, k_smooth=0.0)


def test_dsir_select_plan_is_take_ordered(spark, docs_sdf):
    """The selection cut must plan as TakeOrderedAndProject (per-
    partition heaps), never a global sort of the scored corpus."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.curation import dsir_select

    plan = dsir_select(
        docs_sdf, docs_sdf.filter(F.col("doc_id") % 10 == 0), k=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

