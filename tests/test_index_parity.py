"""Engine ↔ pure-Python-oracle parity: index artifacts and both rankers,
rank-identical on the full reference query set (SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cis555_search_engine_spark.oracle import (
    score_bm25,
    score_lm_dirichlet,
    score_tfidf_ref,
)
from cis555_search_engine_spark.operators.scoring import (
    bm25_topk,
    lm_dirichlet_topk,
    tfidf_ref_topk,
)
from cis555_search_engine_spark.synth import REFERENCE_QUERIES


def test_totals_match(spark_index, oracle_index):
    assert spark_index.n_docs == oracle_index.n_docs
    assert spark_index.n_postings == oracle_index.n_postings
    avg = sum(oracle_index.doc_len.values()) / oracle_index.n_docs
    assert spark_index.avg_doc_len == pytest.approx(avg)


def test_doc_stats_match(spark_index, oracle_index):
    rows = spark_index.doc_stats.collect()
    assert len(rows) == oracle_index.n_docs
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        assert r["doc_len"] == oracle_index.doc_len[key]
        assert r["max_tf"] == oracle_index.max_tf[key]


def test_postings_sample_match(spark_index, oracle_index):
    rows = spark_index.postings.filter(F.col("conv_id") == "conv000003").collect()
    want = {
        (k[0], k[1], t): c
        for k, tf in oracle_index.doc_tf.items()
        if k[0] == "conv000003"
        for t, c in tf.items()
    }
    got = {(r["conv_id"], r["turn_idx"], r["term"]): r["tf"] for r in rows}
    assert got == want
    # positions parity on the same slice
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        assert list(r["positions"]) == oracle_index.doc_pos[key][r["term"]]


def test_corpus_stats_match(spark_index, oracle_index):
    rows = spark_index.corpus_stats.collect()
    assert len(rows) == len(oracle_index.df)
    np_, nd = oracle_index.n_postings, oracle_index.n_docs
    for r in rows[:500]:
        d = oracle_index.df[r["term"]]
        assert r["df"] == d
        assert r["idf_ref"] == pytest.approx(math.log(np_ / d))
        assert r["idf_bm25"] == pytest.approx(math.log((nd - d + 0.5) / (d + 0.5) + 1))


def _rank_identical(rows, oracle_rows):
    got = [((r["conv_id"], r["turn_idx"]), r["score"]) for r in rows]
    want = [((c, t), s) for c, t, s in oracle_rows]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gk, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9), gk


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_bm25_rank_identical(spark_index, oracle_index, query):
    _rank_identical(
        bm25_topk(spark_index, query, k=80).collect(),
        score_bm25(oracle_index, query, k=80),
    )


@pytest.mark.parametrize("query", REFERENCE_QUERIES[:8])
def test_tfidf_ref_rank_identical(spark_index, oracle_index, query):
    _rank_identical(
        tfidf_ref_topk(spark_index, query, k=80).collect(),
        score_tfidf_ref(oracle_index, query, k=80),
    )


@pytest.mark.parametrize("query", REFERENCE_QUERIES[:8])
def test_lm_dirichlet_rank_identical(spark_index, oracle_index, query):
    """Third ranking family (Dirichlet query likelihood) must be
    rank-identical to its pure-Python twin on the reference queries."""
    _rank_identical(
        lm_dirichlet_topk(spark_index, query, k=80).collect(),
        score_lm_dirichlet(oracle_index, query, k=80),
    )


def test_salted_df_equals_plain(spark_index):
    from cis555_search_engine_spark.operators.index_build import (
        document_frequency,
        document_frequency_salted,
    )

    plain = {r["term"]: r["df"] for r in document_frequency(spark_index.postings).collect()}
    salted = {
        r["term"]: r["df"]
        for r in document_frequency_salted(spark_index.postings, 8).collect()
    }
    assert plain == salted


# words that each keep >= 1 token, for the long-turn case
_LONG_WORDS = ["rice", "Noodles", "noodle", "İstanbul", "\u212aelvin", "don't", "covid-19",
               "--zoom--", "a", "re-re-run", "caresses"]
# separators and case-mapping traps; repeated letters weight tokens up
_ODD_CHARS = "aZ -'09İ\u212aıßé\u0307\t\n,.!" + "x" * 4


def _doc_texts():
    """Turn texts beyond ASCII: unicode (İ, the Kelvin sign, ...),
    hyphen runs, digits, apostrophes, empty and null texts, and a
    >=2,000-token turn with repeated terms."""
    text = st.one_of(
        st.none(),
        st.just(""),
        st.text(alphabet=_ODD_CHARS, max_size=60),
        st.text(alphabet=st.characters(exclude_categories=("Cs",)), max_size=40),
        st.tuples(
            st.lists(st.sampled_from(_LONG_WORDS), min_size=20, max_size=30),
            st.integers(100, 120),
        ).map(lambda t: " ".join(t[0] * t[1])),
    )
    return st.lists(text, min_size=1, max_size=12)


@pytest.mark.parametrize("stem", [True, False])
def test_doclocal_equals_groupby(spark, corpus_sdf, stem):
    """The shuffle-free doc-local build (the Arrow-batched postings
    kernel: tokenize_py + Porter memo + per-turn hash map) must produce
    exactly the explode+groupBy postings of `build_postings_long` (the
    native regexp tokenizer + the stem-dictionary join) — on the corpus,
    and on generated texts beyond ASCII. A mismatch is a tokenizer
    defect, never a test tolerance."""
    from cis555_search_engine_spark.operators.index_build import (
        build_postings_doclocal,
        build_postings_long,
    )

    def same(df):
        a, b = (
            {
                (r["conv_id"], r["turn_idx"], r["term"]): (r["tf"], tuple(r["positions"]))
                for r in build(df, stem=stem).collect()
            }
            for build in (build_postings_long, build_postings_doclocal)
        )
        assert a == b

    same(corpus_sdf)

    @given(texts=_doc_texts())
    @example(texts=[
        "İstanbul \u212aELVIN kelvin ıi",
        "--rice--noodle-- -- x-y-z 123 4-5 covid-19 don't rock'n'roll",
        " ".join(["Noodles rice noodle caresses"] * 600),
        "",
        None,
    ])
    @settings(max_examples=8, deadline=None)
    def generated(texts):
        same(spark.createDataFrame(
            [("c", i, t) for i, t in enumerate(texts)],
            "conv_id string, turn_idx int, text string",
        ))

    generated()


@pytest.mark.parametrize("query", REFERENCE_QUERIES[:8])
def test_cosine_ref_rank_identical(spark_index, oracle_index, query):
    """Cosine divides by sqrt(sum-of-squares), so mathematically-tied
    docs differ in the last ULP between engines; compare at 1e-9-rounded
    precision: the rounded score sequence must be identical and every
    returned doc must carry the oracle's score for that doc."""
    from cis555_search_engine_spark.operators.scoring import cosine_ref_topk
    from cis555_search_engine_spark.oracle import score_cosine_ref

    got = [
        ((r["conv_id"], r["turn_idx"]), round(r["score"], 9))
        for r in cosine_ref_topk(spark_index, query, k=40).collect()
    ]
    oracle_all = {(c, t): round(s, 9) for c, t, s in
                  score_cosine_ref(oracle_index, query, k=1 << 30)}
    want_scores = sorted(oracle_all.values(), reverse=True)[: len(got)]
    assert [s for _, s in got] == want_scores
    for key, s in got:
        assert oracle_all[key] == s, key


def test_merge_indexes_equals_full_build(spark, corpus_sdf, spark_index):
    """Segment merge over disjoint doc sets == one-shot build: postings,
    stats-level corpus merge, and query results all identical."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index, merge_indexes
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    a = build_index(corpus_sdf.filter(half == 0))
    b = build_index(corpus_sdf.filter(half == 1))
    m = merge_indexes(a, b)

    assert m.n_docs == spark_index.n_docs
    assert m.n_postings == spark_index.n_postings
    assert abs(m.avg_doc_len - spark_index.avg_doc_len) < 1e-9

    got_df = {r["term"]: r["df"] for r in m.corpus_stats.collect()}
    want_df = {r["term"]: r["df"] for r in spark_index.corpus_stats.collect()}
    assert got_df == want_df

    got = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
           for r in bm25_topk(m, "rice noodle", k=20).collect()]
    want = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in bm25_topk(spark_index, "rice noodle", k=20).collect()]
    assert got == want


def test_null_text_rows_are_tolerated_in_both_build_paths(spark):
    """text is nullable under TRANSCRIPT_SCHEMA (tool-only turns):
    both postings builders must pass the null through as token-less,
    stemmed or not — one null row must never kill a batch."""
    from cis555_search_engine_spark.operators.index_build import (
        build_postings_doclocal,
        build_postings_long,
    )

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "hello world", None, None),
            ("c1", 1, "tool", None, "search", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    for stem in (True, False):
        a = {
            (r["conv_id"], r["turn_idx"], r["term"])
            for r in build_postings_doclocal(df, stem=stem).collect()
        }
        b = {
            (r["conv_id"], r["turn_idx"], r["term"])
            for r in build_postings_long(df, stem=stem).collect()
        }
        assert a == b and len(a) == 2  # the null-text turn contributes nothing


def test_null_key_docs_count_toward_n_docs(spark):
    """n_docs is the distinct-doc-key count taken in the same agg as the
    other corpus scalars; a bare-column count_distinct silently drops
    rows whose key has ANY null component, while doc_stats' groupBy
    keeps null-key groups — the two must agree or avg_doc_len/idf skew
    (review r5). Null conv_id is not producible by synth but nothing in
    the engine forbids it; the struct-based count makes the invariant
    hold for any input."""
    from cis555_search_engine_spark.operators.index_build import build_index

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "hello world", None, None),
            (None, 0, "user", "rice noodle soup", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    idx = build_index(df)
    assert idx.n_docs == idx.doc_stats.count() == 2
    total_len = idx.doc_stats.agg({"doc_len": "sum"}).collect()[0][0]
    assert abs(idx.avg_doc_len - total_len / 2) < 1e-9


@pytest.mark.parametrize("query", REFERENCE_QUERIES[:8])
def test_rm3_rank_identical(spark_index, oracle_index, query):
    """Fourth ranking family (RM3 pseudo-relevance feedback) must be
    rank-identical to its pure-Python twin on the reference queries —
    the full two-pass loop: BM25 seed, relevance-model expansion,
    weighted re-score."""
    from cis555_search_engine_spark.operators.scoring import rm3_topk
    from cis555_search_engine_spark.oracle import score_rm3

    _rank_identical(
        rm3_topk(spark_index, query, k=80).collect(),
        score_rm3(oracle_index, query, k=80),
    )


def test_rm3_weights_form_a_distribution(spark_index):
    """RM3 interpolated weights sum to 1 (λ·uniform + (1-λ)·renormalized
    relevance model) and every original query term keeps at least its
    uniform λ/|q| mass."""
    from cis555_search_engine_spark.operators.scoring import rm3_term_weights

    wts = rm3_term_weights(spark_index, "rice noodle", orig_weight=0.5)
    rows = {r["term"]: r["w"] for r in wts.collect()}
    assert sum(rows.values()) == pytest.approx(1.0)
    for t in ("rice", "noodl"):
        assert rows.get(t, 0.0) >= 0.25 - 1e-9
