"""Oracles for the query-serving extensions (operators/query_ops.py,
and facet counts from operators/scoring.py).

Every operator is checked against an independent pure-Python
recomputation over the oracle index (tests/conftest.py fixtures) — the
same two-sided strategy as test_index_parity.py.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from cis555_search_engine_spark.operators.query_ops import (
    _min_cross_gap,
    expand_query,
    group_topk,
    more_like_this,
    proximity_topk,
    spell_suggest,
    term_completion,
)
from cis555_search_engine_spark.operators.scoring import bm25_topk

K1, B = 1.2, 0.75


def _bm25_partial(tf, df, doc_len, n_docs, avg_len):
    idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * doc_len / avg_len))


# ------------------------------------------------------------ min gap


def test_min_cross_gap_matches_brute_force(spark):
    rng = random.Random(7)
    rows = []
    for i in range(200):
        a = sorted(rng.sample(range(0, 60), rng.randint(1, 8)))
        b = sorted(rng.sample(range(0, 60), rng.randint(1, 8)))
        # positions of two distinct terms can never collide — enforce
        b = [x for x in b if x not in set(a)] or [max(a) + 1]
        rows.append((i, a, b, min(abs(x - y) for x in a for y in b)))
    df = spark.createDataFrame(rows, "id: long, a: array<int>, b: array<int>, want: int")
    got = df.select("id", "want", _min_cross_gap(F.col("a"), F.col("b")).alias("gap")).collect()
    for r in got:
        assert r["gap"] == r["want"], (r["id"], r["gap"], r["want"])


def test_proximity_topk_matches_python(spark_index, oracle_index):
    # probe with the corpus's two most frequent terms (guaranteed to
    # co-occur somewhere)
    ta, tb = sorted(oracle_index.df, key=lambda t: (-oracle_index.df[t], t))[:2]
    avg_len = sum(oracle_index.doc_len.values()) / oracle_index.n_docs
    want = {}
    for key, pos in oracle_index.doc_pos.items():
        if ta in pos and tb in pos:
            gap = min(abs(x - y) for x in pos[ta] for y in pos[tb])
            s = (
                _bm25_partial(oracle_index.doc_tf[key][ta], oracle_index.df[ta],
                              oracle_index.doc_len[key], oracle_index.n_docs, avg_len)
                + _bm25_partial(oracle_index.doc_tf[key][tb], oracle_index.df[tb],
                                oracle_index.doc_len[key], oracle_index.n_docs, avg_len)
                + 1.0 / (1.0 + gap)
            )
            want[key] = (gap, s)
    got = proximity_topk(spark_index, ta, tb, k=1 << 30).collect()
    assert len(got) == len(want)
    for r in got:
        key = (r["conv_id"], r["turn_idx"])
        wgap, ws = want[key]
        assert r["min_gap"] == wgap
        assert r["score"] == pytest.approx(ws, rel=1e-12)


# --------------------------------------------------------- completion


def test_term_completion(spark_index, oracle_index):
    got = term_completion(spark_index, "s", k=1 << 30).collect()
    want = sorted(
        ((t, df) for t, df in oracle_index.df.items() if t.startswith("s")),
        key=lambda r: (-r[1], r[0]),
    )
    assert [(r["term"], r["df"]) for r in got] == want


# ------------------------------------------------------------- spell


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("q", ["sow", "hashe", "merg", "xyzzy"])
def test_spell_suggest_complete_at_dist1(spark_index, oracle_index, q):
    """The SymSpell deletion-key candidate set must cover EVERY vocab
    term at levenshtein distance <= 1 — compared against the brute-force
    scan, which is the definition."""
    got = {(r["term"], r["dist"]) for r in spell_suggest(spark_index, q, k=1 << 30).collect()}
    want = {(t, _lev(t, q)) for t in oracle_index.df if _lev(t, q) <= 1}
    assert got == want


# ---------------------------------------------------------- expansion


def test_expand_query_matches_python(spark_index, oracle_index):
    seed = next(iter(sorted(oracle_index.df, key=lambda t: -oracle_index.df[t])))
    got = expand_query(spark_index, seed, k=1 << 30, min_df=1).collect()
    seed_docs = {k for k, tf in oracle_index.doc_tf.items() if seed in tf}
    joint = {}
    for k in seed_docs:
        for t in oracle_index.doc_tf[k]:
            if t != seed:
                joint[t] = joint.get(t, 0) + 1
    for r in got:
        assert r["joint_df"] == joint[r["term"]]
        assert r["df"] == oracle_index.df[r["term"]]
        assert r["assoc"] == pytest.approx(round(joint[r["term"]] / oracle_index.df[r["term"]], 6))
    assert len(got) == len(joint)


# ------------------------------------------------------ more like this


def test_more_like_this_matches_python(spark):
    texts = {
        1: "spark shuffle join hash join",
        2: "spark shuffle join hash join",          # exact dup of 1
        3: "hash join merge sort window",
        4: "completely different words entirely here",
        5: "spark spark spark shuffle",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id: long, text: string"
    )
    from cis555_search_engine_spark.operators.index_build import build_index

    idx = build_index(docs, doc_key=("doc_id",), text_col="text", stem=False)
    got = {r["doc_id"]: r["score"] for r in more_like_this(idx, 1, k=10).collect()}

    # python twin over the same weighting
    from collections import Counter

    tf = {i: Counter(t.split()) for i, t in texts.items()}
    df = Counter(t for c in tf.values() for t in c)
    n_post = sum(len(c) for c in tf.values())
    w = {
        i: {
            t: (1 + math.log(c[t])) / (1 + math.log(max(c.values()))) * math.log(n_post / df[t])
            for t in c
        }
        for i, c in tf.items()
    }
    norm = {i: math.sqrt(sum(x * x for x in wi.values())) for i, wi in w.items()}
    for i in texts:
        if i == 1:
            continue
        dot = sum(w[1][t] * w[i][t] for t in w[1] if t in w[i])
        if dot == 0:
            assert i not in got
        else:
            assert got[i] == pytest.approx(dot / (norm[1] * norm[i]), rel=1e-12)
    assert got[2] == pytest.approx(1.0)  # exact dup scores cosine 1


# ------------------------------------------------------------ groups


def test_group_topk_sums_member_scores(spark_index, corpus_sdf):
    scored = bm25_topk(spark_index, "hash join", k=1 << 30)
    meta = corpus_sdf.select("conv_id", "turn_idx", F.col("role").alias("grp"))
    got = group_topk(scored, meta, "grp", ("conv_id", "turn_idx"), k=1 << 30).collect()
    want = {}
    for r in scored.join(meta, ["conv_id", "turn_idx"]).collect():
        g = want.setdefault(r["grp"], [0.0, 0, 0.0])
        g[0] += r["score"]
        g[1] += 1
        g[2] = max(g[2], r["score"])
    assert len(got) == len(want)
    for r in got:
        ws, wn, wb = want[r["grp"]]
        assert r["score"] == pytest.approx(ws, rel=1e-9)
        assert r["n_docs"] == wn
        assert r["best"] == pytest.approx(wb, rel=1e-12)


# ------------------------------------------------------------ rank fusion


def test_rrf_fuse_known_values(spark):
    """RRF over hand-built legs: rrf(d) = Σ 1/(60+rank) per leg the doc
    appears in; docs absent from a leg contribute 0 there; tie-break on
    doc_id ASC."""
    from cis555_search_engine_spark.operators.query_ops import rrf_fuse

    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id int, rank int")
    vec = spark.createDataFrame([(2, 1), (4, 2), (1, 3)], "doc_id int, rank int")
    rows = rrf_fuse([lex, vec], key="doc_id", c=60, k=10).collect()
    got = {r["doc_id"]: (r["n_legs"], r["rrf"]) for r in rows}
    assert got[1] == (2, round(1 / 61 + 1 / 63, 6))
    assert got[2] == (2, round(1 / 62 + 1 / 61, 6))
    assert got[3] == (1, round(1 / 63, 6))
    assert got[4] == (1, round(1 / 62, 6))
    # doc 2 (ranks 2+1) outscores doc 1 (ranks 1+3); singles follow
    assert [r["doc_id"] for r in rows] == [2, 1, 4, 3]


def test_rrf_fuse_respects_k_and_ties(spark):
    from cis555_search_engine_spark.operators.query_ops import rrf_fuse

    # two docs with identical rank sets tie on rrf -> doc_id ASC decides
    a = spark.createDataFrame([(7, 1), (5, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(5, 1), (7, 2)], "doc_id int, rank int")
    rows = rrf_fuse([a, b], key="doc_id", c=60, k=1).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 5


# ------------------------------------------------------------ facets


def test_facet_counts_matches_bm25_scores(spark_index, corpus_sdf):
    from cis555_search_engine_spark.operators.scoring import bm25_scores, facet_counts

    key = ["conv_id", "turn_idx"]
    meta = corpus_sdf.select(*key, "role")
    got = {
        r["facet"]: (r["n_docs"], r["max_score"], r["min_score"])
        for r in facet_counts(spark_index, "rice noodle", meta, "role").collect()
    }

    scored = bm25_scores(spark_index, "rice noodle")
    role = {(r["conv_id"], r["turn_idx"]): r["role"] for r in meta.collect()}
    per_facet: dict[str, list[float]] = {}
    for r in scored.select(*key, F.round("score", 4).alias("s")).collect():
        per_facet.setdefault(role[(r["conv_id"], r["turn_idx"])], []).append(r["s"])
    want = {f: (len(v), max(v), min(v)) for f, v in per_facet.items()}
    assert got == want
    assert len(want) > 1, "need several facets for a meaningful check"


def test_facet_counts_empty_query(spark_index, corpus_sdf):
    from cis555_search_engine_spark.operators.scoring import facet_counts

    meta = corpus_sdf.select("conv_id", "turn_idx", "role")
    out = facet_counts(spark_index, "", meta, "role")
    assert out.count() == 0
    assert out.columns == ["facet", "n_docs", "max_score", "min_score"]


# ------------------------------------------------------ heavy-tail corpus


def test_skewed_corpus_is_actually_heavy_tailed(skewed_rows):
    import statistics

    lens = sorted(len(t.split()) for _, t in skewed_rows)
    med = statistics.median(lens)
    assert lens[-1] > 20 * med, (med, lens[-1])
