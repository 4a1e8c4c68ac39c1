"""Round-5b operators — winnowing fingerprints (MOSS), permuterm
wildcards, next-word suggestion, best-window snippets, static pruning,
personalized PageRank — each vs a pure-Python oracle plus the edge cases
the driver's sf0.01 data may not exercise; and the maintenance CLI."""

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


# ------------------------------------------------- winnowing (MOSS)


def _py_winnow(text: str, k: int, w: int):
    toks = [t for t in text.split() if t]
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    keys = [
        (hashlib.md5(g.encode()).hexdigest()[:15], p) for p, g in enumerate(grams)
    ]
    sel = set()
    for j in range(max(len(keys) - w, 0) + 1):
        win = keys[j : j + w]
        sel.add(min(win))  # (hex, pos) tuple min == fixed-width string min
    return {(int(h, 16), p) for h, p in sel}


def test_winnow_fingerprints_matches_python_oracle(spark, docs_sdf, docs_rows):
    from cis555_search_engine_spark.operators.dedup import winnow_fingerprints

    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs_sdf, k=4, w=5).collect():
        got.setdefault(r["id"], set()).add((r["ghash"], r["pos"]))
    want = {i: _py_winnow(t, 4, 5) for i, t in docs_rows if _py_winnow(t, 4, 5)}
    assert got == want


def test_winnow_shared_substring_guarantee(spark):
    """The paper's detection floor: any shared run of >= k+w-1 tokens
    must produce at least one shared fingerprint."""
    from cis555_search_engine_spark.operators.dedup import winnow_fingerprints

    core = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1
    df = spark.createDataFrame(
        [(1, "x1 y1 " + core + " z1"), (2, "p2 " + core + " q2 r2 s2")],
        ["doc_id", "text"],
    )
    rows = winnow_fingerprints(df, k=4, w=5).collect()
    by_doc: dict[int, set] = {}
    for r in rows:
        by_doc.setdefault(r["id"], set()).add(r["ghash"])
    assert by_doc[1] & by_doc[2]


def test_winnow_short_doc_single_fingerprint(spark):
    from cis555_search_engine_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c")], ["doc_id", "text"]
    )  # doc 1: 2 grams < w -> one global-min fp; doc 2: < k tokens -> none
    rows = winnow_fingerprints(df, k=4, w=5).collect()
    assert {r["id"] for r in rows} == {1}
    assert len(rows) == 1


def test_winnow_pairs_identical_docs_and_cap(spark, caplog):
    from cis555_search_engine_spark.operators.dedup import winnow_pairs

    text = " ".join(f"w{i % 13}x{i % 7}" for i in range(40))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different tokens only here "
                                   "one two three four five six seven")],
        ["doc_id", "text"],
    )
    rows = winnow_pairs(df, threshold=0.5, k=4, w=5).collect()
    assert [(r["i"], r["j"], r["jac"]) for r in rows] == [(1, 2, 1.0)]
    # hot-hash cap: every fingerprint shared by all 4 docs > cap=3 is
    # dropped -> no pairs survive, and the cap logs
    df4 = spark.createDataFrame([(i, text) for i in range(5)], ["doc_id", "text"])
    import logging

    with caplog.at_level(logging.WARNING):
        got = winnow_pairs(df4, threshold=0.5, k=4, w=5, max_hash_df=3).collect()
    assert got == []
    assert any("hot-hash cap" in m for m in caplog.messages)


# --------------------------------------------- permuterm / next-word


@pytest.fixture(scope="module")
def small_index(docs_sdf):
    from cis555_search_engine_spark.operators.index_build import build_index

    return build_index(docs_sdf, doc_key=("doc_id",), text_col="text", stem=False)


def test_wildcard_terms_matches_literal_scan(spark, small_index):
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.query_ops import wildcard_terms

    got = [(r["term"], r["df"]) for r in wildcard_terms(small_index, "s*", k=50).collect()]
    want = [
        (r["term"], r["df"])
        for r in small_index.corpus_stats.filter(F.col("term").startswith("s"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .collect()
    ]
    assert got == want

    # pre*suf form: term startswith pre AND endswith suf, len >= len(pre)+len(suf)
    got2 = {r["term"] for r in wildcard_terms(small_index, "s*t", k=50).collect()}
    want2 = {
        r["term"]
        for r in small_index.corpus_stats.filter(
            F.col("term").startswith("s")
            & F.col("term").endswith("t")
            & (F.length("term") >= 2)
        ).collect()
    }
    assert got2 == want2

    with pytest.raises(ValueError):
        wildcard_terms(small_index, "no_star")
    with pytest.raises(ValueError):
        wildcard_terms(small_index, "two*stars*")


def test_wildcard_single_char_term_boundary(spark):
    """'a*' must match the single-char term 'a' itself (rotation '$a')."""
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.query_ops import wildcard_terms

    df = spark.createDataFrame([(1, "a ab ba b")], ["doc_id", "text"])
    idx = build_index(df, doc_key=("doc_id",), text_col="text", stem=False)
    got = {r["term"] for r in wildcard_terms(idx, "a*", k=10).collect()}
    assert got == {"a", "ab"}
    got2 = {r["term"] for r in wildcard_terms(idx, "*a", k=10).collect()}
    assert got2 == {"a", "ba"}


def test_wildcard_topk_equals_bm25_over_expansion(spark, small_index):
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.query_ops import (
        wildcard_terms,
        wildcard_topk,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    got = [
        (r["doc_id"], r["score"])
        for r in wildcard_topk(small_index, "s*", k=30, max_expansions=50).collect()
    ]
    terms = [r["term"] for r in wildcard_terms(small_index, "s*", k=50).collect()]
    want = [
        (r["doc_id"], round(r["score"], 4))
        for r in bm25_topk(small_index, " ".join(terms), k=30, stem=False).collect()
    ]
    assert got == want


def test_next_word_suggest_matches_python_oracle(spark, docs_sdf, docs_rows, small_index):
    import re

    from cis555_search_engine_spark.operators.query_ops import next_word_suggest

    prev = "hash"
    counts: dict[str, int] = {}
    for _, t in docs_rows:
        toks = [x.strip("-") for x in re.findall(r"[a-z-]+", t.lower())]
        toks = [x for x in toks if x]
        for a, b in zip(toks, toks[1:]):
            if a == prev:
                counts[b] = counts.get(b, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["term"], r["follow_cnt"])
        for r in next_word_suggest(small_index, prev, k=10).collect()
    ]
    assert got == [(t, c) for t, c in want]


def test_next_word_suggest_unknown_term_empty(spark, small_index):
    from cis555_search_engine_spark.operators.query_ops import next_word_suggest

    assert next_word_suggest(small_index, "zzzznotaterm", k=5).collect() == []


# ------------------------------------------- best-window snippets


def test_best_window_snippets_picks_max_coverage(spark):
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.scoring import best_window_snippets

    # doc 1: 'alpha' at 0 and also 'alpha beta' adjacent at 10,11 —
    # best 4-token window must start at 10 (covers both terms)
    t1 = "alpha x x x x x x x x x alpha beta x x"
    # doc 2: only 'beta' present, at 3 — window starts there, 1 term
    t2 = "x x x beta x x"
    df = spark.createDataFrame([(1, t1), (2, t2)], ["doc_id", "text"])
    idx = build_index(df, doc_key=("doc_id",), text_col="text", stem=False)
    out = {
        r["doc_id"]: (r["snip_start"], r["n_terms"], r["snippet"])
        for r in best_window_snippets(
            idx, df, "alpha beta", k=5, window=4, stem=False
        ).collect()
    }
    assert out[1] == (10, 2, "alpha beta x x")
    assert out[2] == (3, 1, "beta x x")


def test_best_window_snippets_python_oracle(spark, docs_sdf, docs_rows, small_index):
    import re

    from cis555_search_engine_spark.operators.scoring import best_window_snippets

    q = "hash join merge"
    terms = q.split()
    w = 10
    got = {
        r["id" if "id" in r else "doc_id"]: (r["snip_start"], r["n_terms"])
        for r in best_window_snippets(
            small_index, docs_sdf, q, k=10, window=w, stem=False
        ).collect()
    }
    text_by_id = dict(docs_rows)
    for doc_id, (s, n) in got.items():
        toks = [x.strip("-") for x in re.findall(r"[a-z-]+", text_by_id[doc_id].lower())]
        toks = [x for x in toks if x]
        hits = [(p, t) for p, t in enumerate(toks) if t in terms]
        best = max(
            ((len({t for p2, t in hits if p <= p2 < p + w}), -p) for p, _ in hits),
        )
        assert (s, n) == (-best[1], best[0]), doc_id


def test_best_window_snippets_empty_query(spark, small_index, docs_sdf):
    from cis555_search_engine_spark.operators.scoring import best_window_snippets

    out = best_window_snippets(small_index, docs_sdf, "", k=5, stem=False)
    assert out.collect() == []


# ------------------------------------------------ maintenance CLI


def test_maintenance_job_tier_merge_cli(spark, corpus_pdf, tmp_path, monkeypatch):
    """The maintenance tick end-to-end through main() with --tier-merge:
    bootstrap, drain 3 arriving files as 3 exactly-once appends, then
    the tiered policy consolidates the epoch segments; the printed JSON
    reports the merges and the final segment count."""
    import io
    import json
    import sys as _sys

    import tools.maintenance_job as mj

    base = corpus_pdf[corpus_pdf["conv_id"] < "conv000030"].copy()
    arr = corpus_pdf[corpus_pdf["conv_id"] >= "conv000030"].copy()
    for pdf in (base, arr):
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    bdir = tmp_path / "boot.parquet"
    base.to_parquet(bdir, index=False)
    adir = tmp_path / "arrivals"
    adir.mkdir()
    third = len(arr) // 3
    arr.iloc[:third].to_parquet(adir / "a.parquet", index=False)
    arr.iloc[third : 2 * third].to_parquet(adir / "b.parquet", index=False)
    arr.iloc[2 * third :].to_parquet(adir / "c.parquet", index=False)

    argv = [
        "maintenance_job.py",
        "--index", str(tmp_path / "idx"),
        "--arrivals", str(adir),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--bootstrap", str(bdir),
        "--tier-merge", "--merge-at", "2",
        "--block-span", "64", "--n-buckets", "4",
    ]
    monkeypatch.setattr(_sys, "argv", argv)
    # the job must not stop the session-scoped test SparkSession
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    out = io.StringIO()
    monkeypatch.setattr(_sys, "stdout", out)
    mj.main()
    line = json.loads(out.getvalue().strip().splitlines()[-1])
    assert line["epochs_applied"] == 3
    assert line["tier_merges"] >= 2  # 4 tier-0 segments at merge_at=2 cascade
    assert line["n_segments"] < 4
    assert line["n_docs_after"] == len(base.groupby(["conv_id", "turn_idx"])) + len(
        arr.groupby(["conv_id", "turn_idx"])
    )


def test_maintenance_job_rejects_compact_with_tier_merge(tmp_path):
    """--compact with --tier-merge is a usage error (exit code 2), raised
    by argument parsing before any Spark session starts — not a tick
    that silently skips the merge."""
    import os
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            _sys.executable, os.path.join(root, "tools", "maintenance_job.py"),
            "--index", str(tmp_path / "idx"),
            "--arrivals", str(tmp_path / "arrivals"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--compact", "--tier-merge",
        ],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "--tier-merge" in proc.stderr and "--compact" in proc.stderr
    assert not (tmp_path / "idx").exists()


def test_query_job_rejects_blocks_with_non_bm25_ranker(tmp_path):
    """--blocks serves BM25 only, so --blocks with another --ranker is a
    usage error (exit code 2) raised before pyspark is even imported —
    not a BM25 result served under a tfidf flag. A stub pyspark package
    on the path fails the run if the tool reaches the session start."""
    import os
    import subprocess
    import sys as _sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stub = tmp_path / "stub" / "pyspark"
    stub.mkdir(parents=True)
    (stub / "__init__.py").write_text('raise ImportError("pyspark was imported")\n')
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(stub.parent), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [
            _sys.executable, os.path.join(root, "tools", "query_job.py"),
            "--index", str(tmp_path / "idx"), "--query", "rice",
            "--blocks", "--ranker", "tfidf",
        ],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode == 2, proc.stderr
    assert "--blocks" in proc.stderr and "--ranker" in proc.stderr
    assert "pyspark was imported" not in proc.stderr


# ------------------------------------------------- static index pruning


def test_static_prune_python_oracle_and_semantics(spark, docs_sdf, docs_rows, small_index):
    import math
    import re

    from cis555_search_engine_spark.operators.index_build import static_prune

    K1, B = 1.2, 0.75
    keep = 5
    # python oracle: recompute postings + impacts, cut per term
    postings = {}
    doc_len = {}
    for i, t in docs_rows:
        toks = [x.strip("-") for x in re.findall(r"[a-z-]+", t.lower())]
        toks = [x for x in toks if x]
        doc_len[i] = len(toks)
        for tok in set(toks):
            postings[(i, tok)] = toks.count(tok)
    n_docs = len([i for i in doc_len if doc_len[i] >= 0])
    df = {}
    for (_, t2) in postings:
        df[t2] = df.get(t2, 0) + 1
    avg = sum(doc_len.values()) / len(doc_len)
    def idf(t):
        return math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
    imp = {
        (i, t2): round(idf(t2) * tf * (K1 + 1) / (tf + K1 * (1 - B + B * doc_len[i] / avg)), 6)
        for (i, t2), tf in postings.items()
    }
    want = set()
    for t2 in df:
        rows = sorted(
            ((i, x) for (i, tt), x in imp.items() if tt == t2),
            key=lambda r: (-r[1], r[0]),
        )[:keep]
        want.update((i, t2) for i, _ in rows)

    pruned = static_prune(small_index, keep_per_term=keep)
    got = {
        (r["doc_id"], r["term"]) for r in pruned.postings.select("doc_id", "term").collect()
    }
    assert got == want
    # stats-model contract: statistics frames are the ORIGINAL objects
    assert pruned.corpus_stats is small_index.corpus_stats
    assert pruned.n_docs == small_index.n_docs

    # long-tail terms (df <= keep) keep their full lists
    rare = [t2 for t2, d in df.items() if d <= keep]
    for t2 in rare[:5]:
        assert sum(1 for (_, tt) in got if tt == t2) == df[t2]

    import pytest

    with pytest.raises(ValueError):
        static_prune(small_index, keep_per_term=0)


def test_static_prune_salted_equals_single_window(spark, small_index):
    """The 32-salt two-phase cut must equal a single per-term window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import static_prune
    from cis555_search_engine_spark.operators.scoring import bm25_score_col

    keep = 3
    idx = small_index
    imp = F.round(
        bm25_score_col(F.col("tf"), F.col("idf_bm25"), F.col("doc_len"), idx.avg_doc_len), 6
    )
    single = (
        idx.postings.join(idx.corpus_stats.select("term", "idf_bm25"), "term")
        .join(idx.doc_stats.select("doc_id", "doc_len"), "doc_id")
        .withColumn("_imp", imp)
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("term").orderBy(F.desc("_imp"), F.asc("doc_id"))))
        .filter(F.col("rn") <= keep)
    )
    a = {(r["doc_id"], r["term"]) for r in single.select("doc_id", "term").collect()}
    b = {
        (r["doc_id"], r["term"])
        for r in static_prune(idx, keep_per_term=keep).postings.select("doc_id", "term").collect()
    }
    assert a == b


def test_static_prune_quality_vs_full(spark, small_index):
    """Pruning quality curve: keep=n_docs reproduces the full ranking
    exactly; an aggressive cut still recovers most of the true top-10
    (every surviving posting scores identically, so divergence only
    comes from dropped postings)."""
    from cis555_search_engine_spark.operators.index_build import static_prune
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    q = "hash join merge"
    full = [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_topk(small_index, q, k=10, stem=False).collect()
    ]
    # keep >= max df: nothing dropped -> identical ranking
    same = static_prune(small_index, keep_per_term=small_index.n_docs)
    got_same = [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_topk(same, q, k=10, stem=False).collect()
    ]
    assert got_same == full

    # surviving postings score identically, so every pruned result's
    # score is <= its full score (monotone under-estimate, never over)
    full_scores = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(small_index, q, k=small_index.n_docs, stem=False).collect()
    }
    hard = static_prune(small_index, keep_per_term=16)
    hard_rows = bm25_topk(hard, q, k=10, stem=False).collect()
    for r in hard_rows:
        assert r["score"] <= full_scores[r["doc_id"]] + 1e-9

    # overlap@10 grows with keep (disclosed caveat: this fixture's
    # near-uniform tf makes single-term impact order ~doc-length order,
    # weakly correlated with the 3-term sum — overlap at keep=16 is
    # genuinely low here; a Zipfian real corpus does far better)
    def overlap(keep: int) -> float:
        p = static_prune(small_index, keep_per_term=keep)
        got = {r["doc_id"] for r in bm25_topk(p, q, k=10, stem=False).collect()}
        return len(got & {d for d, _ in full}) / 10

    o16, o64 = overlap(16), overlap(64)
    assert o64 >= o16
    assert o64 >= 0.5, (o16, o64)


# ------------------------------------------------- personalized PageRank


def test_personalized_pagerank_numpy_oracle(spark):
    import numpy as np

    from cis555_search_engine_spark.operators.pagerank import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (3,)], ["id"])
    got = {r["id"]: r["rank"] for r in personalized_pagerank(e, seeds, n_iter=12).collect()}

    nodes = sorted({u for p in edges for u in p})
    n = len(nodes)
    deg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    base = np.array([0.15 * n / 2 if i in (0, 3) else 0.0 for i in nodes])
    r = base.copy()
    for _ in range(12):
        nxt = base.copy()
        for a, b in edges:
            nxt[b] += 0.85 * r[a] / deg[a]
        r = nxt
    for i, v in zip(nodes, r):
        assert abs(got[i] - v) < 1e-9, (i, got[i], v)
    # restart mass stays near the seeds: a seed outranks the node
    # feeding it nothing (5 has no in-links -> exactly 0)
    assert got[5] == 0.0
    assert got[0] > got[1] or got[3] > got[4]


def test_personalized_pagerank_validation_and_uniform_equivalence(spark):
    """Seeds = ALL nodes reproduces plain pagerank's fixpoint (base
    (1-d)*N/N == the uniform (1-d)); unknown-only seeds raise."""
    import math

    import pytest

    from cis555_search_engine_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
    )

    edges = [(0, 1), (1, 2), (2, 0), (3, 1)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    all_nodes = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    # the two iterations start from different vectors (pagerank: 1.0,
    # ppr: base) but share the unique fixpoint r = base + d·A r — run
    # long enough that the 0.85^n initial-condition term is below the
    # comparison tolerance
    ppr = {r["id"]: r["rank"] for r in personalized_pagerank(e, all_nodes, n_iter=80).collect()}
    pr = {r["id"]: r["rank"] for r in pagerank(e, n_iter=80).collect()}
    for i in pr:
        assert math.isclose(ppr[i], pr[i], rel_tol=1e-5), i

    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(
            e, spark.createDataFrame([(99,)], ["id"]), n_iter=3
        ).collect()
