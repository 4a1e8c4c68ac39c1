"""SearchEngine facade tests: build/checkpoint/load + all query modes."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def engine(spark, corpus_sdf):
    from cis555_search_engine_spark.engine import SearchEngine

    return SearchEngine.build(spark, corpus_sdf)


def test_all_rankers_answer(engine):
    for ranker in ("bm25", "tfidf", "cosine"):
        rows = engine.search("rice noodle", k=5, ranker=ranker).collect()
        assert 0 < len(rows) <= 5
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_and_mode_subset_of_or(engine):
    or_docs = {(r["conv_id"], r["turn_idx"]) for r in engine.search("rice noodle", k=10**6).collect()}
    and_docs = {(r["conv_id"], r["turn_idx"])
                for r in engine.search("rice noodle", k=10**6, mode="and").collect()}
    assert and_docs <= or_docs


def test_blocks_path_matches_longform(engine):
    a = [(r["conv_id"], r["turn_idx"]) for r in engine.search("coronavirus", k=10).collect()]
    b = [(r["conv_id"], r["turn_idx"]) for r in engine.search_blocks("coronavirus", k=10).collect()]
    assert a == b


def test_unknown_ranker_raises(engine):
    with pytest.raises(ValueError):
        engine.search("x", ranker="pagerank")


def test_checkpoint_build_then_load_roundtrip(spark, corpus_sdf, tmp_path):
    from cis555_search_engine_spark.engine import SearchEngine

    d = str(tmp_path / "idx")
    eng1 = SearchEngine.build_checkpointed(spark, corpus_sdf, d, n_groups=3)
    want = [(r["conv_id"], r["turn_idx"]) for r in eng1.search("zoom", k=5).collect()]
    eng2 = SearchEngine.load(spark, d)
    got = [(r["conv_id"], r["turn_idx"]) for r in eng2.search("zoom", k=5).collect()]
    assert got == want


def test_facade_round2_surface(spark, corpus_sdf, tmp_path):
    """Batch queries, snippets, and the persisted/appended/compacted
    block-store lifecycle through the facade."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.engine import SearchEngine

    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 1)

    eng = SearchEngine.build(spark, corpus_sdf)
    single = {(r["conv_id"], r["turn_idx"]) for r in eng.search("rice noodle", k=5).collect()}
    many = eng.search_many({"qa": "rice noodle", "qb": "coronavirus"}, k=5).collect()
    got_a = {(r["conv_id"], r["turn_idx"]) for r in many if r["qid"] == "qa"}
    assert got_a == single
    assert {r["qid"] for r in many} == {"qa", "qb"}

    snip = eng.search_with_snippets("rice noodle", k=3).collect()
    assert len(snip) == 3 and all(r["snippet"] for r in snip)

    # persisted lifecycle: save half A, append half B, query == full build
    eng_a = SearchEngine.build(spark, half_a)
    store = str(tmp_path / "store")
    eng_a.save_block_store(store, n_buckets=8)
    assert eng_a.index.corpus_stats.is_cached
    eng_a.append_to_block_store(store, half_b)
    # switching stores releases the in-memory blocks, which share the
    # index's term statistics: those stay cached
    assert eng_a.index.corpus_stats.is_cached
    want = [(r["conv_id"], r["turn_idx"]) for r in eng.search("coronavirus", k=8).collect()]
    got = [(r["conv_id"], r["turn_idx"]) for r in eng_a.search_blocks("coronavirus", k=8).collect()]
    assert got == want
    eng_a.compact_block_store(store)
    got2 = [(r["conv_id"], r["turn_idx"]) for r in eng_a.search_blocks("coronavirus", k=8).collect()]
    assert got2 == want
    bmany = eng_a.search_many_blocks({"q": "coronavirus"}, k=8).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in bmany] == want


def test_facade_round5b_serving_extensions(spark, corpus_sdf, tmp_path):
    """The new facade surface: next-word completion, wildcard search,
    best-window snippets, and the tiered merge returning an engine that
    serves identically."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.engine import SearchEngine

    eng = SearchEngine.build(spark, corpus_sdf)

    nw = eng.suggest_next_word("rice", k=5).collect()
    assert nw and all(r["follow_cnt"] >= 1 for r in nw)

    wt = eng.wildcard_terms("noo*", k=10).collect()
    assert any(r["term"].startswith("noo") for r in wt)
    ws = eng.search_wildcard("noo*", k=5).collect()
    assert len(ws) == 5

    sn = eng.search_with_best_snippets("rice noodle", k=5).collect()
    assert len(sn) == 5 and all(r["snippet"] for r in sn)

    # tiered merge through the facade: append twice, merge, same top-k
    path = str(tmp_path / "store")
    half = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 0)
    rest1 = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 1)
    rest2 = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 2)
    base = SearchEngine.build(spark, half, cache="checkpoint")
    base.save_block_store(path, n_buckets=4)
    base.append_to_block_store(path, rest1)
    base.append_to_block_store(path, rest2)
    before = [(r["conv_id"], r["turn_idx"]) for r in base.search_blocks("rice noodle", k=10).collect()]
    merged = base.merge_block_segments(path, merge_at=2)
    after = [(r["conv_id"], r["turn_idx"]) for r in merged.search_blocks("rice noodle", k=10).collect()]
    assert before == after
