"""Codec + block-index tests (SURVEY.md §7 steps 4 and 7).

- varint/block codec: encode∘decode = id (hypothesis property test)
- mint_doc_ids: dense, 0-based, ordered by the stable doc key
- blob-based BM25 ≡ long-form BM25 (exhaustive and pruned)
- block-max pruning actually skips blocks
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cis555_search_engine_spark.functions.varint import (
    decode_block,
    decode_varints,
    encode_block,
    encode_varints,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    buf = encode_varints(vals)
    out, off = decode_varints(buf, 0, len(vals))
    assert out.tolist() == vals
    assert off == len(buf)


@st.composite
def _block(draw):
    n = draw(st.integers(min_value=0, max_value=50))
    base = draw(st.integers(min_value=0, max_value=10**6))
    gaps = draw(st.lists(st.integers(0, 1000), min_size=n, max_size=n))
    docids = np.cumsum(np.asarray(gaps, dtype=np.int64)) + base if n else np.empty(0, np.int64)
    tfs = draw(st.lists(st.integers(1, 500), min_size=n, max_size=n))
    lens = draw(st.lists(st.integers(1, 5000), min_size=n, max_size=n))
    positions = [
        sorted(draw(st.lists(st.integers(0, 10000), min_size=0, max_size=8)))
        for _ in range(n)
    ]
    return docids, np.asarray(tfs, np.int64), np.asarray(lens, np.int64), positions, base


@given(_block())
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(blk):
    docids, tfs, lens, positions, base = blk
    blob = encode_block(docids, tfs, lens, positions, base)
    d, t, ln, p = decode_block(blob, base)
    assert d.tolist() == docids.tolist()
    assert t.tolist() == tfs.tolist()
    assert ln.tolist() == lens.tolist()
    assert p == positions


def test_block_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_block(
            np.array([5, 3]), np.array([1, 1]), np.array([2, 2]), [[], []], 0
        )


# ---------------------------------------------------------------- spark

@pytest.fixture(scope="module")
def block_index(spark_index):
    from cis555_search_engine_spark.operators.postings_codec import build_blocks

    # small span so the tiny test corpus still yields multiple blocks
    return build_blocks(spark_index, block_span=64).cache()


def _each_mint_path(monkeypatch):
    """Run the loop body once per `mint_doc_ids` path, yielding its name:
    the single-partition window rank (every test corpus is below
    SMALL_MINT_DOCS), then the range-boundary path, forced by setting
    the shared threshold to 0."""
    from cis555_search_engine_spark.operators import postings_codec as pc

    for name, limit in (("window", pc.SMALL_MINT_DOCS), ("range", 0)):
        monkeypatch.setattr(pc, "SMALL_MINT_DOCS", limit)
        yield name
    monkeypatch.undo()


def test_mint_doc_ids_dense_and_ordered(spark_index, monkeypatch):
    from cis555_search_engine_spark.operators.postings_codec import mint_doc_ids

    minted = {}
    for path in _each_mint_path(monkeypatch):
        m = mint_doc_ids(spark_index.doc_stats).collect()
        rows = sorted(((r["conv_id"], r["turn_idx"]), r["docid"]) for r in m)
        ids = [d for _, d in rows]
        assert ids == list(range(len(rows))), path  # dense, 0-based, key-ordered
        minted[path] = rows
    assert minted["window"] == minted["range"]  # both paths mint the same docids


def test_mint_doc_ids_deterministic_across_parallelism(spark_index, monkeypatch):
    from cis555_search_engine_spark.operators.postings_codec import mint_doc_ids

    for path in _each_mint_path(monkeypatch):
        a = {(r["conv_id"], r["turn_idx"]): r["docid"]
             for r in mint_doc_ids(spark_index.doc_stats, num_partitions=2).collect()}
        b = {(r["conv_id"], r["turn_idx"]): r["docid"]
             for r in mint_doc_ids(spark_index.doc_stats, num_partitions=13).collect()}
        assert a == b, path


def test_decode_blocks_matches_long_postings(spark_index, block_index):
    from cis555_search_engine_spark.operators.postings_codec import decode_blocks

    decoded = decode_blocks(block_index.blocks, block_index.block_span)
    got = {
        (r["term"], r["docid"]): (r["tf"], r["doc_len"], tuple(r["positions"]))
        for r in decoded.collect()
    }
    idmap = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in block_index.docid_map.collect()}
    lens = {(r["conv_id"], r["turn_idx"]): r["doc_len"] for r in spark_index.doc_stats.collect()}
    want = {}
    for r in spark_index.postings.collect():
        key = (r["conv_id"], r["turn_idx"])
        want[(r["term"], idmap[key])] = (r["tf"], lens[key], tuple(r["positions"]))
    assert got == want


QUERIES = ["rice noodle", "coronavirus", "warren buffett", "presidential election", "zoom"]


@pytest.mark.parametrize("query", QUERIES)
def test_blob_bm25_matches_longform(spark_index, block_index, query):
    from cis555_search_engine_spark.operators.postings_codec import bm25_topk_blocks
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    want = [
        (r["conv_id"], r["turn_idx"], r["score"])
        for r in bm25_topk(spark_index, query, k=20).collect()
    ]
    # prune=True with min_prune_postings=0 forces the full seed/theta
    # pruning machinery even on this tiny corpus
    for prune, minp in ((False, 0), (True, 0), (True, 10**9)):
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(
                block_index, query, k=20, prune=prune, min_prune_postings=minp
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], (prune, query)
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (prune, query)


def test_pruning_skips_blocks(block_index):
    from cis555_search_engine_spark.operators.postings_codec import count_live_blocks

    # hot query term + small k -> pruning must drop something
    live, total = count_live_blocks(block_index, "coronavirus", k=3)
    assert live <= total
    assert total > 0
    # at least one query in the set must actually prune
    results = [count_live_blocks(block_index, q, k=2) for q in QUERIES]
    assert any(live < total for live, total in results), results


def test_empty_query_returns_empty(block_index):
    from cis555_search_engine_spark.operators.postings_codec import bm25_topk_blocks

    assert bm25_topk_blocks(block_index, "", k=5).collect() == []
    assert bm25_topk_blocks(block_index, "zzzqqq", k=5).collect() == []


def test_conjunctive_blob_matches_longform(spark_index, block_index):
    from cis555_search_engine_spark.operators.postings_codec import bm25_topk_blocks
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    q = "rice noodle"
    want = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in bm25_topk(spark_index, q, k=20, conjunctive=True).collect()
    ]
    got = [
        (r["conv_id"], r["turn_idx"], round(r["score"], 9))
        for r in bm25_topk_blocks(block_index, q, k=20, conjunctive=True).collect()
    ]
    assert got == want
    # AND results are a subset of OR results' doc set
    or_docs = {(r["conv_id"], r["turn_idx"])
               for r in bm25_topk(spark_index, q, k=10**6).collect()}
    assert {(c, t) for c, t, _ in want} <= or_docs


def test_conjunctive_requires_all_terms(spark_index, oracle_index):
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    q = "rice noodle"
    rows = bm25_topk(spark_index, q, k=10**6, conjunctive=True).collect()
    from cis555_search_engine_spark.functions.porter import porter_stem

    terms = {porter_stem(t) for t in q.split()}
    for r in rows:
        tf = oracle_index.doc_tf[(r["conv_id"], r["turn_idx"])]
        assert all(t in tf for t in terms), (r, terms)


def test_phrase_from_blobs_matches_oracle(block_index, oracle_index):
    from cis555_search_engine_spark.operators.postings_codec import phrase_match_blocks
    from cis555_search_engine_spark.functions.porter import porter_stem

    # derive a phrase guaranteed to occur: the first two stemmed tokens
    # of the lexicographically-first doc (positions 0,1 are adjacent)
    first_key = min(oracle_index.doc_pos)
    by_pos = {p: t for t, ps in oracle_index.doc_pos[first_key].items() for p in ps}
    phrase = f"{by_pos[0]} {by_pos[1]}"
    terms = [porter_stem(t) for t in phrase.split()]
    want = {}
    for key, pos in oracle_index.doc_pos.items():
        p0 = pos.get(terms[0], [])
        p1 = set(pos.get(terms[1], []))
        n = sum(1 for p in p0 if p + 1 in p1)
        if n:
            want[key] = n
    got = {
        (r["conv_id"], r["turn_idx"]): r["n_occurrences"]
        for r in phrase_match_blocks(block_index, phrase).collect()
    }
    assert got == want
    assert want, "fixture must contain the phrase"


def test_hot_term_spreads_across_blocks(spark_index, block_index):
    """Skew guarantee: no (term, block) group exceeds block_span postings,
    and the hottest term occupies >1 block — the doc-range salt is real."""
    rows = block_index.blocks.select("term", "block_id", "df_block").collect()
    per_term: dict[str, int] = {}
    for r in rows:
        assert r["df_block"] <= block_index.block_span, (r["term"], r["block_id"])
        per_term[r["term"]] = per_term.get(r["term"], 0) + 1
    assert max(per_term.values()) > 1, "corpus must have a term spanning blocks"


def test_write_load_blocks_bucketed(
    spark, spark_index, block_index, corpus_pdf, corpus_sdf, tmp_path
):
    """An explicit n_buckets is honoured. By default write_blocks sizes
    the bucket fan-out to the store's postings and writes one docid-map
    file; append_blocks and merge_segments keep the manifest's fan-out
    and compact_blocks derives it afresh. On this small store every
    write — fresh, an epoch-sized append, a merge, a compaction — leaves
    one part file per bucket=b dir and one docid-map file per segment.
    On each store the driver path and the Spark path over the persisted
    buckets answer as the oracle does."""
    import dataclasses
    import glob
    import zlib

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _derived_buckets,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        load_blocks,
        merge_segments,
        phrase_match_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    path = str(tmp_path / "bidx")
    write_blocks(block_index, path, n_buckets=8)
    loaded = load_blocks(spark, path)
    assert loaded.n_buckets == 8
    got = [(r["conv_id"], r["turn_idx"]) for r in
           bm25_topk_blocks(loaded, "warren buffett", k=10).collect()]
    want = [(r["conv_id"], r["turn_idx"]) for r in
            bm25_topk(spark_index, "warren buffett", k=10).collect()]
    assert got == want

    docs = list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    a_pred = F.crc32(F.col("conv_id").cast("binary")) % 2 == 0
    idx_a = build_index(corpus_sdf.filter(a_pred), cache=False)
    path = str(tmp_path / "derived")

    def check(n_buckets, docs_in, what):
        """The store's manifest fan-out, its segments' bucket dirs and
        docid-map files, and both serving paths against the oracle."""
        bidx = load_blocks(spark, path)
        assert bidx.n_buckets == bidx.manifest["n_buckets"] == n_buckets, what
        for seg in bidx.manifest["data_dirs"]:
            buckets = glob.glob(f"{path}/{seg}/blocks/bucket=*")
            assert 1 <= len(buckets) <= n_buckets, what
            assert [len(glob.glob(f"{b}/*.parquet")) for b in buckets] == [1] * len(buckets), what
            assert len(glob.glob(f"{path}/{seg}/docid_map/*.parquet")) == 1, what
        bm25, phrase = _oracle_state(docs_in)
        for served in (bidx, dataclasses.replace(bidx, manifest=None)):
            _check_ranked([tuple(r) for r in
                           bm25_topk_blocks(served, "rice noodle", k=10).collect()],
                          bm25("rice noodle", 10), what)
            _check_ranked(sorted(tuple(r) for r in
                                 phrase_match_blocks(served, "waaaa waaaa").collect()),
                          phrase("waaaa waaaa"), what)

    assert [_derived_buckets(n) for n in (0, 4_999, 5_000, 159_999, 160_000, 10**9)] == [
        1, 1, 2, 63, 64, 64
    ]
    write_blocks(build_blocks(idx_a, 64), path)
    fresh = _derived_buckets(idx_a.n_postings)
    assert 1 < fresh < _derived_buckets(spark_index.n_postings) < 64
    check(fresh, [d for d in docs if zlib.crc32(d[0].encode()) % 2 == 0], "fresh")
    append_blocks(spark, path, build_index(corpus_sdf.filter(~a_pred), cache=False))
    check(fresh, docs, "appended")
    merge_segments(spark, path, load_blocks(spark, path).manifest["data_dirs"])
    check(fresh, docs, "merged")
    compact_blocks(spark, path)
    check(_derived_buckets(spark_index.n_postings), docs, "compacted")


def test_bucket_filter_prunes_partitions(spark, block_index, tmp_path):
    """The bucket filter must reach the parquet source (PartitionFilters),
    reading only the query terms' bucket directories."""
    from cis555_search_engine_spark.operators.postings_codec import (
        _term_filter,
        load_blocks,
        write_blocks,
    )
    from tests.test_plans import explain_str

    path = str(tmp_path / "bidx2")
    write_blocks(block_index, path, n_buckets=8)
    loaded = load_blocks(spark, path)
    import re

    q = loaded.blocks.filter(_term_filter(loaded, ["warren", "buffett"]))
    plan = explain_str(q, "simple")
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", plan), plan
    assert "PushedFilters: [In(term" in plan, plan


def test_mint_doc_ids_stable_across_recompute(spark, spark_index, monkeypatch):
    """docids must be a pure function of the key order — identical across
    independent recomputations with all caches dropped in between
    (regression: round-1 minting depended on repartitionByRange keeping
    its sampled boundaries cached between the count and rank jobs)."""
    from cis555_search_engine_spark.operators.postings_codec import mint_doc_ids

    for path in _each_mint_path(monkeypatch):
        out = mint_doc_ids(spark_index.doc_stats, num_partitions=7)
        a = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in out.collect()}
        spark.catalog.clearCache()  # evict everything: force full recompute
        b = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in out.collect()}
        # doc_stats/postings caches are session-scoped fixtures - restore them
        spark_index.postings.cache(); spark_index.doc_stats.cache(); spark_index.corpus_stats.cache()
        assert a == b, path
        ids = sorted(b.values())
        assert ids == list(range(len(ids))), path


def test_append_blocks_exact_vs_full_build(spark, corpus_sdf, tmp_path):
    """Incremental append: index half the corpus, persist, append the
    other half — queries over the appended index must equal the
    long-form BM25 over the FULL corpus (global stats merged exactly),
    with pruning still sound under the stale-bounds fallback."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        count_live_blocks,
        load_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 1)
    idx_a = build_index(half_a, cache=False)
    path = str(tmp_path / "appendable")
    write_blocks(build_blocks(idx_a, block_span=64), path, n_buckets=8)
    idx_b = build_index(half_b, cache=False)
    append_blocks(spark, path, idx_b)

    appended = load_blocks(spark, path)
    assert appended.stale_bounds
    full = build_index(corpus_sdf, cache=False)
    assert appended.n_docs == full.n_docs
    assert math.isclose(appended.avg_doc_len, full.avg_doc_len, rel_tol=1e-12)

    for query in ("rice noodle", "coronavirus", "warren buffett"):
        want = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk(full, query, k=15).collect()
        ]
        for prune, minp in ((True, 0), (False, 0)):
            got = [
                (r["conv_id"], r["turn_idx"], r["score"])
                for r in bm25_topk_blocks(
                    appended, query, k=15, prune=prune, min_prune_postings=minp
                ).collect()
            ]
            assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], (prune, query)
            for (_, _, gs), (_, _, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (prune, query)

    # the stale-bounds counter still functions (and never over-prunes,
    # by the equality above)
    live, total = count_live_blocks(appended, "coronavirus", k=3)
    assert 0 < live <= total


def test_compact_blocks_restores_tight_bounds(spark, corpus_sdf, tmp_path):
    """After append + compact: stale_bounds cleared, duplicate boundary
    (term, block) rows merged, queries still equal the full build, and
    the pruning counter operates on tight bounds again."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        count_live_blocks,
        load_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 1)
    path = str(tmp_path / "compactable")
    write_blocks(build_blocks(build_index(half_a, cache=False), block_span=64), path, n_buckets=8)
    append_blocks(spark, path, build_index(half_b, cache=False))

    appended = load_blocks(spark, path)
    dup_before = (
        appended.blocks.groupBy("term", "block_id").count().filter("count > 1").count()
    )
    assert dup_before > 0, "fixture must hit the boundary-block duplicate case"

    compact_blocks(spark, path)
    compacted = load_blocks(spark, path)
    assert not compacted.stale_bounds
    assert compacted.blocks.groupBy("term", "block_id").count().filter("count > 1").count() == 0

    full = build_index(corpus_sdf, cache=False)
    for query in ("rice noodle", "coronavirus"):
        want = [(r["conv_id"], r["turn_idx"], r["score"])
                for r in bm25_topk(full, query, k=12).collect()]
        got = [(r["conv_id"], r["turn_idx"], r["score"])
               for r in bm25_topk_blocks(compacted, query, k=12,
                                         min_prune_postings=0).collect()]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], query
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), query
    live, total = count_live_blocks(compacted, "coronavirus", k=3)
    assert 0 < live <= total


def test_appended_index_tie_break_matches_longform(spark, tmp_path):
    """Score ties at the k boundary must break on the DOC KEY even when
    the appended index's docid order disagrees with key order (appended
    segments continue the docid sequence regardless of key)."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        load_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    # 8 docs with IDENTICAL text (all tie exactly) + filler; keys chosen
    # so the appended half holds keys that sort BEFORE the base half
    tied = [(f"z{i:02d}", 0, "u", "alpha beta gamma", None) for i in range(4)]
    tied += [(f"a{i:02d}", 0, "u", "alpha beta gamma", None) for i in range(4)]
    filler = [(f"m{i:02d}", 0, "u", f"delta epsilon{i} zeta{i} other{i}", None) for i in range(6)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    df = spark.createDataFrame(tied + filler, schema).withColumn(
        "ts", F.current_timestamp()
    )
    base = df.filter(F.col("conv_id").startswith("z") | F.col("conv_id").startswith("m"))
    extra = df.filter(F.col("conv_id").startswith("a"))

    path = str(tmp_path / "tied")
    write_blocks(build_blocks(build_index(base, cache=False), block_span=4), path, n_buckets=4)
    append_blocks(spark, path, build_index(extra, cache=False))
    appended = load_blocks(spark, path)
    assert not appended.key_ordered

    full = build_index(df, cache=False)
    # k=5 < 8 tied docs -> the boundary cuts INSIDE the tie group
    want = [(r["conv_id"], r["turn_idx"]) for r in bm25_topk(full, "alpha", k=5).collect()]
    got = [(r["conv_id"], r["turn_idx"])
           for r in bm25_topk_blocks(appended, "alpha", k=5, min_prune_postings=0).collect()]
    assert got == want
    # the winners must be the key-smallest 'a' docs, not the docid-smallest 'z' docs
    assert all(c.startswith("a") for c, _ in got[:4]), got


def test_batch_topk_tie_at_k_boundary_matches_sql_twin(spark, tmp_path):
    """VERDICT r2 item 9: a corpus with an EXACT score tie straddling
    rank k. Four byte-identical docs tie for ranks 1-4 with k=2; the
    appended store's docid order deliberately disagrees with doc_id
    order (evens indexed first), so a docid tie-break would pick the
    WRONG pair — the row_number/doc_key tie-break must match the DuckDB
    SQL twin on both the key-ordered and the appended layout."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from cis555_search_engine_spark import entry_queries as EQ
    from cis555_search_engine_spark.operators import postings_codec as pc
    from cis555_search_engine_spark.operators.index_build import build_index

    rows = [(i, "alpha beta") for i in (10, 11, 12, 13)]  # exact 4-way tie
    rows += [(i, "alpha gamma " + " ".join(["pad"] * (i + 1))) for i in range(4)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    queries = {"q1": "alpha beta", "q2": "gamma alpha"}
    k = 2

    sql = EQ._sql_bm25_batch(k, queries)
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(con.execute(sql).fetchall())
    assert {d for q, d, s in want if q == "q1"} == {10, 11}, want  # tie broken on id

    def run(bidx):
        out = pc.bm25_topk_many_blocks(bidx, queries, k=k, stem=False)
        return sorted(
            (r["qid"], int(r["doc_id"]), round(r["score"], 4)) for r in out.collect()
        )

    full = build_index(docs, doc_key=("doc_id",), text_col="text", stem=False, cache=False)
    ordered = pc.build_blocks(full, block_span=4)
    assert run(ordered) == want

    path = str(tmp_path / "tie_store")
    evens = build_index(docs.filter(F.col("doc_id") % 2 == 0), doc_key=("doc_id",),
                        text_col="text", stem=False, cache=False)
    odds = build_index(docs.filter(F.col("doc_id") % 2 == 1), doc_key=("doc_id",),
                       text_col="text", stem=False, cache=False)
    pc.write_blocks(pc.build_blocks(evens, block_span=4), path, n_buckets=4)
    pc.append_blocks(spark, path, odds)
    appended = pc.load_blocks(spark, path)
    assert not appended.key_ordered  # docid order != doc_id order here
    assert run(appended) == want
    # single-query path under the same tie
    one = pc.bm25_topk_blocks(appended, "alpha beta", k=k, stem=False)
    got_one = sorted(int(r["doc_id"]) for r in one.collect())
    assert got_one == [10, 11]


def test_delete_docs_tombstones(spark, corpus_sdf, tmp_path):
    """Tombstone deletes (postings_codec.delete_docs): deleted docs
    vanish from every serving path, surviving docs' scores are
    UNCHANGED (Lucene live-docs semantics — stats still count deleted
    docs until compaction), the op is idempotent, and the tombstone set
    survives a vacuum."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        phrase_match_blocks,
        vacuum_blocks,
        write_blocks,
    )

    idx = build_index(corpus_sdf, cache=False)
    path = str(tmp_path / "del_store")
    write_blocks(build_blocks(idx, block_span=64), path, n_buckets=8)

    dead_keys = corpus_sdf.filter(
        F.crc32(F.col("conv_id").cast("binary")) % 3 == 0
    ).select("conv_id", "turn_idx").distinct()
    dead = {(r["conv_id"], r["turn_idx"]) for r in dead_keys.collect()}
    assert dead, "fixture must delete something"

    pre = load_blocks(spark, path)
    n_new = delete_docs(spark, path, dead_keys)
    assert n_new == len(dead)
    # idempotent: same keys again tombstone nothing
    assert delete_docs(spark, path, dead_keys) == 0

    post = load_blocks(spark, path)
    assert post.tombstones is not None

    for query in ("rice noodle", "coronavirus", "warren buffett"):
        # baseline: pre-delete results with the dead docs dropped
        want = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(pre, query, k=200, prune=False).collect()
            if (r["conv_id"], r["turn_idx"]) not in dead
        ][:15]
        for prune, minp in ((True, 0), (False, 0)):
            got = [
                (r["conv_id"], r["turn_idx"], r["score"])
                for r in bm25_topk_blocks(
                    post, query, k=15, prune=prune, min_prune_postings=minp
                ).collect()
            ]
            assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], (prune, query)
            for (_, _, gs), (_, _, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-12), (prune, query)

    # phrase serving drops tombstoned docs too
    ph = {(r["conv_id"], r["turn_idx"]) for r in phrase_match_blocks(post, "rice noodle").collect()}
    assert not (ph & dead)

    # vacuum keeps tombstone dirs (they are manifest-listed)
    vacuum_blocks(spark, path)
    again = load_blocks(spark, path)
    assert again.tombstones is not None
    assert again.tombstones.count() == len(dead)


def test_delete_then_compact_equals_fresh_build(spark, corpus_sdf, tmp_path):
    """compact_blocks after delete_docs: tombstoned postings purged
    physically, docids re-minted dense + key-ordered, stats recomputed
    over the survivors — results and corpus stats equal a FRESH build
    over the surviving corpus bit-for-bit."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    idx = build_index(corpus_sdf, cache=False)
    path = str(tmp_path / "del_compact_store")
    write_blocks(build_blocks(idx, block_span=64), path, n_buckets=8)

    pred = F.crc32(F.col("conv_id").cast("binary")) % 3 == 0
    delete_docs(spark, path, corpus_sdf.filter(pred).select("conv_id", "turn_idx").distinct())
    compact_blocks(spark, path)

    compacted = load_blocks(spark, path)
    assert compacted.tombstones is None
    assert compacted.key_ordered and not compacted.stale_bounds

    survivors = corpus_sdf.filter(~pred)
    fresh = build_index(survivors, cache=False)
    assert compacted.n_docs == fresh.n_docs
    assert math.isclose(compacted.avg_doc_len, fresh.avg_doc_len, rel_tol=1e-12)

    # corpus stats equal the fresh build exactly (integer df recompute)
    got_cs = {r["term"]: (r["df"], r["idf_bm25"]) for r in compacted.corpus_stats.collect()}
    want_cs = {r["term"]: (r["df"], r["idf_bm25"]) for r in fresh.corpus_stats.collect()}
    assert set(got_cs) == set(want_cs)
    for t, (df, idf) in want_cs.items():
        assert got_cs[t][0] == df, t
        assert math.isclose(got_cs[t][1], idf, rel_tol=1e-12), t

    for query in ("rice noodle", "coronavirus"):
        want = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk(fresh, query, k=15).collect()
        ]
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(compacted, query, k=15, min_prune_postings=0).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], query
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), query


def test_exclude_terms_not_semantics(spark, corpus_sdf, spark_index, tmp_path):
    """Boolean NOT (bm25_topk_blocks exclude_terms): no result doc
    contains an excluded term, survivors score exactly as in the plain
    query, and pruning stays sound (pruned ≡ unpruned) because the
    exclusion set is applied before the θ bar."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
    )

    bidx = build_blocks(spark_index, block_span=64)
    query, ex = "waaaa", ["waaaf"]
    has_ex = {
        (r["conv_id"], r["turn_idx"])
        for r in spark_index.postings.filter(F.col("term").isin(ex))
        .select("conv_id", "turn_idx").distinct().collect()
    }
    assert has_ex, "exclusion term must occur in the fixture corpus"

    plain = [
        (r["conv_id"], r["turn_idx"], r["score"])
        for r in bm25_topk_blocks(bidx, query, k=200, prune=False).collect()
    ]
    want = [(c, t, s) for c, t, s in plain if (c, t) not in has_ex][:15]
    assert want != plain[:15], "exclusion must change the top-k for this to test anything"

    for prune in (True, False):
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(
                bidx, query, k=15, prune=prune, exclude_terms=ex, min_prune_postings=0
            ).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], prune
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), prune
        assert not ({(c, t) for c, t, _ in got} & has_ex)

    # excluding a query's own term: remaining terms still score
    both = bm25_topk_blocks(bidx, "waaaa waaaf", k=5, exclude_terms=["waaaf"])
    assert not ({(r["conv_id"], r["turn_idx"]) for r in both.collect()} & has_ex)
    # excluding EVERY query term yields the canonical empty frame
    assert bm25_topk_blocks(bidx, "waaaf", k=5, exclude_terms=["waaaf"]).count() == 0

    # exclusions pass through the SAME tokenize+stem pipeline as query
    # terms: the raw surface form "noodle" must resolve to the stemmed
    # index entry (the unstemmed literal would be a silent no-op NOT)
    from cis555_search_engine_spark.functions.porter import porter_stem

    noodl = porter_stem("noodle")
    has_noodl = {
        (r["conv_id"], r["turn_idx"])
        for r in spark_index.postings.filter(F.col("term") == noodl)
        .select("conv_id", "turn_idx").distinct().collect()
    }
    assert has_noodl, "fixture corpus must contain noodle docs"
    out = bm25_topk_blocks(bidx, "rice noodle", k=50, exclude_terms=["noodle"])
    assert not ({(r["conv_id"], r["turn_idx"]) for r in out.collect()} & has_noodl)


def test_proximity_blocks_matches_longform(spark_index):
    """proximity_topk_blocks (positions decoded from varint blobs) must
    equal query_ops.proximity_topk (long-form positions) — keys, gaps,
    and scores."""
    import math

    from cis555_search_engine_spark.functions.porter import porter_stem
    from cis555_search_engine_spark.operators.postings_codec import (
        build_blocks,
        proximity_topk_blocks,
    )
    from cis555_search_engine_spark.operators.query_ops import proximity_topk

    bidx = build_blocks(spark_index, block_span=64)
    want = proximity_topk(
        spark_index, porter_stem("rice"), porter_stem("noodle"), k=10
    ).collect()
    assert want, "fixture must have rice∩noodle docs"
    got = proximity_topk_blocks(bidx, "rice", "noodle", k=10).collect()
    assert [(r["conv_id"], r["turn_idx"], r["min_gap"]) for r in got] == [
        (r["conv_id"], r["turn_idx"], r["min_gap"]) for r in want
    ]
    for g, w in zip(got, want):
        assert math.isclose(g["score"], w["score"], rel_tol=1e-12)
    # empty side -> canonical empty frame with the proximity schema
    empty = proximity_topk_blocks(bidx, "zzzznoterm", "", k=5)
    assert empty.count() == 0
    assert empty.columns == ["conv_id", "turn_idx", "min_gap", "score"]


def test_boolean_query_language(spark_index, block_index):
    """boolean_topk_blocks composes BM25 + required phrase + negated
    term, all EXACT under block-max pruning: results must equal the
    manually composed long-form pipeline."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.functions.porter import porter_stem
    from cis555_search_engine_spark.operators.postings_codec import (
        boolean_topk_blocks,
        phrase_match_blocks,
    )
    from cis555_search_engine_spark.operators.query_ops import parse_boolean_query
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    # parser shapes
    assert parse_boolean_query('hash join "merge sort" -noodle -"rice noodle"') == {
        "terms": ["hash", "join"], "phrases": ["merge sort"],
        "not_terms": ["noodle"], "not_phrases": ["rice noodle"],
    }
    assert parse_boolean_query('"unterminated pair') == {
        "terms": [], "phrases": ["unterminated pair"],
        "not_terms": [], "not_phrases": [],
    }

    # derive a phrase guaranteed to occur (the first two tokens of the
    # lexicographically-first doc — same recipe as the phrase test)
    first = spark_index.postings.filter(F.array_contains("positions", 0)).orderBy(
        "conv_id", "turn_idx"
    ).first()
    w0 = first["term"]
    w1 = spark_index.postings.filter(
        (F.col("conv_id") == first["conv_id"])
        & (F.col("turn_idx") == first["turn_idx"])
        & F.array_contains("positions", 1)
    ).first()["term"]
    q = f'{w0} "{w0} {w1}" -waaaf'
    phrase_docs = {
        (r["conv_id"], r["turn_idx"])
        for r in phrase_match_blocks(block_index, f"{w0} {w1}").collect()
    }
    assert phrase_docs, "fixture must contain the phrase"
    negated = {
        (r["conv_id"], r["turn_idx"])
        for r in spark_index.postings.filter(
            F.col("term") == porter_stem("waaaf")
        ).select("conv_id", "turn_idx").distinct().collect()
    }
    # manual composition: BM25 over the positive terms, restricted to
    # phrase docs, minus negated-term docs
    want = [
        (r["conv_id"], r["turn_idx"], r["score"])
        for r in bm25_topk(spark_index, f"{w0} {w1}", k=10**6).collect()
        if (r["conv_id"], r["turn_idx"]) in phrase_docs
        and (r["conv_id"], r["turn_idx"]) not in negated
    ][:10]
    assert want, "composition must keep something"
    for prune in (True, False):
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in boolean_topk_blocks(
                block_index, q, k=10, prune=prune, min_prune_postings=0
            ).collect()
        ] if prune else [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in boolean_topk_blocks(block_index, q, k=10, prune=False).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], prune
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), prune

    # pure-negative and empty queries return the canonical empty frame
    assert boolean_topk_blocks(block_index, "-rice", k=5).count() == 0  # pure negative
    assert boolean_topk_blocks(block_index, "", k=5).count() == 0
    # a required phrase with no hits empties the result
    assert boolean_topk_blocks(block_index, 'rice "zzzq wwwk"', k=5).count() == 0
    # ...and so does an UNTOKENIZABLE required phrase (digits strip to
    # nothing — no doc can contain it; consistent with the above)
    assert boolean_topk_blocks(block_index, 'rice "123 456"', k=5).count() == 0
    # an untokenizable NEGATED phrase excludes nothing (opposite pole)
    assert boolean_topk_blocks(block_index, 'rice -"123 456"', k=3).count() > 0


def test_compact_refuses_fully_tombstoned_store(spark, corpus_sdf, tmp_path):
    """Compacting a store whose every doc is tombstoned must FAIL LOUDLY
    (an empty partitioned parquet layout would be unreadable — silent
    bricking) and leave the store serving unchanged via tombstones."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )

    some = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 7 == 0)
    idx = build_index(some, cache=False)
    path = str(tmp_path / "all_dead_store")
    write_blocks(build_blocks(idx, block_span=64), path, n_buckets=4)
    delete_docs(spark, path, some.select("conv_id", "turn_idx").distinct())

    with pytest.raises(ValueError, match="every document is tombstoned"):
        compact_blocks(spark, path)

    # the store still loads and serves (empty results, not a crash)
    bidx = load_blocks(spark, path)
    assert bidx.tombstones is not None
    assert bm25_topk_blocks(bidx, "rice noodle", k=5).count() == 0


def _tokenless_index(spark, conv_id):
    """An index over turns that hold no indexable token."""
    from cis555_search_engine_spark.operators.index_build import build_index

    rows = [(conv_id, 0, "12345"), (conv_id, 1, None)]
    idx = build_index(
        spark.createDataFrame(rows, "conv_id string, turn_idx int, text string"), cache=False
    )
    assert idx.n_postings == 0
    return idx


def _answers(spark, path):
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        load_blocks,
    )

    return [tuple(r) for r in bm25_topk_blocks(load_blocks(spark, path), "rice noodle", k=10).collect()]


def test_write_blocks_refuses_empty_segment(spark, corpus_sdf, tmp_path):
    """A write of an index without postings raises before anything is
    written: over an existing store, the store keeps its manifest and
    data and still answers as before; at a new path, nothing appears."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        build_blocks,
        write_blocks,
    )

    path = str(tmp_path / "store")
    some = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 0)
    write_blocks(build_blocks(build_index(some, cache=False), block_span=64), path)
    before, meta, children = _answers(spark, path), _read_meta(spark, path), set(os.listdir(path))
    assert before

    empty = build_blocks(_tokenless_index(spark, "zz-empty"), block_span=64)
    with pytest.raises(ValueError, match="empty segment"):
        write_blocks(empty, path)
    assert _read_meta(spark, path) == meta and set(os.listdir(path)) == children
    assert _answers(spark, path) == before

    fresh = str(tmp_path / "fresh")
    with pytest.raises(ValueError, match="empty segment"):
        write_blocks(empty, fresh)
    assert not os.path.exists(fresh)


def test_append_of_empty_index_commits_no_segment(spark, corpus_sdf, tmp_path):
    """An append of an index without postings adds no segment: without a
    marker it commits nothing, with one it commits only the marker (a
    redelivery of that epoch is then skipped); the store still answers
    as before."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        build_blocks,
        write_blocks,
    )

    path = str(tmp_path / "store")
    some = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 0)
    write_blocks(build_blocks(build_index(some, cache=False), block_span=64), path)
    before, meta = _answers(spark, path), _read_meta(spark, path)

    append_blocks(spark, path, _tokenless_index(spark, "zz-empty"))
    assert _read_meta(spark, path) == meta
    append_blocks(spark, path, _tokenless_index(spark, "zz-empty"), applied_marker="ep:7")
    after = _read_meta(spark, path)
    assert after.pop("applied_epochs") == ["ep:7"]
    assert after == meta
    other = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == 1)
    append_blocks(spark, path, build_index(other, cache=False), applied_marker="ep:7")
    assert _read_meta(spark, path)["data_dirs"] == meta["data_dirs"]
    assert _answers(spark, path) == before


def test_manifest_contract_refuses_old_layouts(spark, corpus_sdf, tmp_path):
    """A manifest written before the segment layout — layout 1 (no
    data_dirs), xxhash64 buckets, no stats_dir — is refused: every
    reader and maintenance op raises ValueError naming the field, and
    none of them writes a dir."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _commit_meta,
        _read_meta,
        append_blocks,
        build_blocks,
        compact_blocks,
        delete_docs,
        load_blocks,
        merge_segments,
        write_blocks,
    )

    pred = F.crc32(F.col("conv_id").cast("binary")) % 3
    path = str(tmp_path / "store")
    write_blocks(build_blocks(build_index(corpus_sdf.filter(pred == 0), cache=False), 64), path)
    append_blocks(spark, path, build_index(corpus_sdf.filter(pred == 1), cache=False))
    meta = _read_meta(spark, path)
    incoming = build_index(corpus_sdf.filter(pred == 2), cache=False)
    keys = corpus_sdf.filter(pred == 0).select("conv_id", "turn_idx")
    ops = {
        "load_blocks": lambda: load_blocks(spark, path),
        "append_blocks": lambda: append_blocks(spark, path, incoming),
        "delete_docs": lambda: delete_docs(spark, path, keys),
        "merge_segments": lambda: merge_segments(spark, path, meta["data_dirs"]),
        "compact_blocks": lambda: compact_blocks(spark, path),
    }
    variants = {
        "data_dirs": {k: v for k, v in meta.items() if k != "data_dirs"},
        "bucket_fn": {**meta, "bucket_fn": "xxhash64"},
        "stats_dir": {k: v for k, v in meta.items() if k != "stats_dir"},
    }
    for field, old in variants.items():
        _commit_meta(spark, path, old)
        children = sorted(os.listdir(path))
        for name, op in ops.items():
            with pytest.raises(ValueError, match=f"'{field}'.*rebuild"):
                op()
            assert sorted(os.listdir(path)) == children, (field, name)


def test_impact_ordered_build_same_results_better_pruning(spark, spark_index, block_index):
    """Docid reordering for block-max WAND (mint_doc_ids order_cols):
    an impact-ordered build must return IDENTICAL top-k (doc_key, score)
    rows — docids are internal — while pruning at least as well as the
    key-ordered layout, and strictly better on a length-skewed corpus."""
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
        count_live_blocks,
    )

    imp = build_blocks(spark_index, block_span=64, impact_ordered=True).cache()
    assert imp.key_ordered is False
    # docid 0 must now be (one of) the SHORTEST docs
    m = {tuple(r[c] for c in ("conv_id", "turn_idx")): r["docid"]
         for r in imp.docid_map.collect()}
    lens = {(r["conv_id"], r["turn_idx"]): r["doc_len"]
            for r in spark_index.doc_stats.collect()}
    zero_key = next(k for k, d in m.items() if d == 0)
    assert lens[zero_key] == min(lens.values())

    for q in QUERIES:
        want = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
                for r in bm25_topk_blocks(block_index, q, k=7).collect()]
        got = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
               for r in bm25_topk_blocks(imp, q, k=7).collect()]
        assert got == want, q

    # a length-skewed corpus: a few short docs dominate the ranking; the
    # impact-ordered layout packs them into the low blocks so θ prunes
    # the long tail, while key order scatters them across all blocks
    from cis555_search_engine_spark.operators.index_build import build_index

    rows = []
    for i in range(400):
        if i % 100 == 0:
            rows.append((f"c{i:04d}", 0, "user", "zebra quark", None))
        else:
            filler = " ".join(f"w{j:03d}" for j in range(40))
            rows.append((f"c{i:04d}", 0, "user", f"zebra {filler}", None))
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.to_timestamp(F.lit("2020-05-01 00:00:00")))
    idx = build_index(df, cache="checkpoint")
    key_b = build_blocks(idx, block_span=16)
    imp_b = build_blocks(idx, block_span=16, impact_ordered=True)
    lk, tk = count_live_blocks(key_b, "zebra", k=3)
    li, ti = count_live_blocks(imp_b, "zebra", k=3)
    assert ti == tk and li < lk, (li, ti, lk, tk)


def test_mint_doc_ids_order_cols_dedupes_per_key(spark, monkeypatch):
    """order_cols minting must assign ONE docid per doc_key even when
    the input has several rows per key with differing order-col values
    (e.g. a postings frame instead of doc_stats) — min(order_col) per
    key, then rank. A distinct over key+order_cols would mint duplicate
    docids for one document. A null ordering component fails the same
    way on both paths."""
    from cis555_search_engine_spark.operators.postings_codec import mint_doc_ids

    rows = [  # doc "b" appears with two different doc_len values
        ("a", 0, 10), ("b", 0, 5), ("b", 0, 99), ("c", 0, 1), ("a", 0, 10),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "doc_len"])
    nulls = spark.createDataFrame(
        [*rows, (None, 1, 3)], "conv_id string, turn_idx int, doc_len int"
    )
    errors = {}
    for path in _each_mint_path(monkeypatch):
        m = mint_doc_ids(df, order_cols=("doc_len",)).collect()
        assert len(m) == 3, path  # one row per distinct key
        by_key = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in m}
        assert sorted(by_key.values()) == [0, 1, 2], path  # dense, no duplicates
        # order: min(doc_len) per key -> c(1) < b(5) < a(10)
        assert by_key == {("c", 0): 0, ("b", 0): 1, ("a", 0): 2}, path
        with pytest.raises(ValueError, match="null ordering components") as err:
            mint_doc_ids(nulls, order_cols=("doc_len",))
        errors[path] = str(err.value)
    assert errors["window"] == errors["range"]


def test_append_blocks_internal_idempotence_and_key_guard(spark, corpus_sdf, tmp_path):
    """The exactly-once contract holds INSIDE append_blocks: a retried
    applied_marker is a no-op, and an append whose keys already live in
    the store fails fast instead of silently minting duplicate docids."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        build_blocks,
        load_blocks,
        write_blocks,
    )

    half_a = corpus_sdf.filter(F.col("turn_idx") % 2 == 0)
    half_b = corpus_sdf.filter(F.col("turn_idx") % 2 == 1)
    path = str(tmp_path / "store")
    write_blocks(build_blocks(build_index(half_a, cache=False), block_span=64), path, n_buckets=8)
    idx_b = build_index(half_b, cache=False)

    append_blocks(spark, path, idx_b, applied_marker="epoch-1")
    n_after = load_blocks(spark, path).n_docs
    # post-commit retry of the same epoch: no-op, no duplicate docids
    append_blocks(spark, path, idx_b, applied_marker="epoch-1")
    assert load_blocks(spark, path).n_docs == n_after

    # unmarked re-append of live keys: rejected loudly
    with _pytest.raises(ValueError, match="key-disjoint"):
        append_blocks(spark, path, idx_b)


def test_append_after_tombstone_is_allowed(spark, corpus_sdf, tmp_path):
    """The documented update path — delete old version, append new —
    must pass the key-disjointness guard (tombstoned keys are not live)."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )

    path = str(tmp_path / "store")
    write_blocks(
        build_blocks(build_index(corpus_sdf, cache=False), block_span=64), path, n_buckets=8
    )
    victim = corpus_sdf.filter(
        (F.col("conv_id") == "conv000001") & (F.col("turn_idx") == 0)
    )
    assert victim.count() == 1
    delete_docs(spark, path, victim.select("conv_id", "turn_idx"))
    # re-append the updated version of the deleted doc: allowed
    append_blocks(spark, path, build_index(victim, cache=False))
    bidx = load_blocks(spark, path)
    # the key serves exactly once (old docid tombstoned, new one live)
    from cis555_search_engine_spark.operators.postings_codec import bm25_topk_blocks

    hits = (
        bm25_topk_blocks(bidx, "the", k=10_000, stem=False)
        .filter((F.col("conv_id") == "conv000001") & (F.col("turn_idx") == 0))
        .count()
    )
    assert hits <= 1


def test_write_blocks_carries_tombstones(spark, corpus_sdf, tmp_path):
    """Re-persisting a loaded index with pending deletes must carry the
    tombstones — otherwise every delete-marked doc resurrects in the new
    store."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )

    src = str(tmp_path / "src")
    write_blocks(
        build_blocks(build_index(corpus_sdf, cache=False), block_span=64), src, n_buckets=8
    )
    victims = corpus_sdf.select("conv_id", "turn_idx").limit(5)
    n_del = delete_docs(spark, src, victims)
    assert n_del == 5

    dst = str(tmp_path / "dst")
    write_blocks(load_blocks(spark, src), dst, n_buckets=8)
    re = load_blocks(spark, dst)
    assert re.tombstones is not None and re.tombstones.count() == 5
    dead_keys = {tuple(r) for r in victims.collect()}
    served = {
        (r["conv_id"], r["turn_idx"])
        for r in bm25_topk_blocks(re, "the", k=100_000, stem=False).collect()
    }
    assert not (served & dead_keys)


def test_phrase_match_blocks_empty_phrase_schema(spark, spark_index):
    from cis555_search_engine_spark.operators.postings_codec import (
        build_blocks,
        phrase_match_blocks,
    )

    bidx = build_blocks(spark_index, block_span=64)
    out = phrase_match_blocks(bidx, "1234!@#")
    assert out.columns == ["conv_id", "turn_idx", "n_occurrences"]
    assert out.count() == 0


def test_varint_truncated_stream_raises_named_error():
    """A blob cut mid-varint must fail with a diagnosable ValueError,
    not a numpy shape/index error from deep in the vectorized path."""
    import pytest as _pytest

    from cis555_search_engine_spark.functions.varint import decode_all_varints

    with _pytest.raises(ValueError, match="truncated varint stream"):
        decode_all_varints(b"\x05\x83")
    with _pytest.raises(ValueError, match="truncated varint stream"):
        decode_all_varints(b"\xff\xff\xff")


def test_tombstone_cost_flat_across_delete_epochs(spark, corpus_sdf, tmp_path):
    """Three delete epochs against one store: the dead set is staged
    ONCE at load (a localCheckpoint over the multi-dir union), so no
    serving plan re-scans the per-epoch tombstone parquet dirs — the
    per-query tombstone cost is flat in the number of delete epochs
    (round-4 verdict item 6). Correctness across the epochs is also
    asserted (results == pre-delete results minus all dead keys)."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        bm25_topk_blocks,
        boolean_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )
    from tests.test_plans import explain_str

    idx = build_index(corpus_sdf, cache=False)
    path = str(tmp_path / "epochs_store")
    write_blocks(build_blocks(idx, block_span=64), path, n_buckets=8)
    pre = load_blocks(spark, path)

    dead: set = set()
    for epoch in range(3):
        victims = corpus_sdf.filter(
            F.crc32(F.col("conv_id").cast("binary")) % 5 == epoch
        ).select("conv_id", "turn_idx").distinct()
        n = delete_docs(spark, path, victims)
        assert n > 0, "each epoch must tombstone something"
        dead |= {(r["conv_id"], r["turn_idx"]) for r in victims.collect()}

    meta = _read_meta(spark, path)
    assert len(meta["tombstone_dirs"]) == 3
    assert meta["n_deleted"] == len(dead)

    bidx = load_blocks(spark, path)
    # the staged dead set is an in-memory RDD scan, not 3 parquet reads
    tomb_plan = explain_str(bidx.tombstones)
    assert "Scan parquet" not in tomb_plan, tomb_plan
    assert "ExistingRDD" in tomb_plan, tomb_plan
    # and NO serving plan touches the del-* dirs (they were read once at
    # load): epoch count cannot grow per-query work
    for q in (
        bm25_topk_blocks(bidx, "rice noodle", k=15),
        boolean_topk_blocks(bidx, 'rice -"warren buffett" -noodle', k=15),
    ):
        plan = explain_str(q)
        assert "del-" not in plan, plan

    # correctness over all 3 epochs
    want = [
        (r["conv_id"], r["turn_idx"])
        for r in bm25_topk_blocks(pre, "rice noodle", k=200, prune=False).collect()
        if (r["conv_id"], r["turn_idx"]) not in dead
    ][:15]
    got = [
        (r["conv_id"], r["turn_idx"])
        for r in bm25_topk_blocks(bidx, "rice noodle", k=15).collect()
    ]
    assert got == want


def test_merge_segments_physical_only(spark, corpus_sdf, tmp_path):
    """Tiered-merge primitive: merging a subset of appended segment dirs
    changes ONLY the physical layout — queries, stats, docids, and
    tie-breaks all identical before and after; segment count and file
    count drop; manifest bookkeeping (segment_docs) stays consistent."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        load_blocks,
        merge_segments,
        write_blocks,
    )

    path = str(tmp_path / "tiered")
    quarters = [
        corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 4 == i)
        for i in range(4)
    ]
    write_blocks(
        build_blocks(build_index(quarters[0], cache=False), block_span=64),
        path,
        n_buckets=8,
    )
    for q in quarters[1:]:
        append_blocks(spark, path, build_index(q, cache=False))
    meta = _read_meta(spark, path)
    dirs = meta["data_dirs"]
    assert len(dirs) == 4
    assert set(meta["segment_docs"]) == set(dirs)

    before = {
        q: [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(
                load_blocks(spark, path), q, k=15
            ).collect()
        ]
        for q in ("rice noodle", "coronavirus")
    }
    n_map_before = load_blocks(spark, path).docid_map.count()

    # merge the three appended segments (dirs[1:]) into one
    new_dir = merge_segments(spark, path, dirs[1:])
    meta2 = _read_meta(spark, path)
    dirs2 = meta2["data_dirs"]
    assert dirs2 == [dirs[0], new_dir]
    assert set(meta2["segment_docs"]) == set(dirs2)
    assert sum(meta2["segment_docs"].values()) == meta2["n_docs"]
    # stats untouched by a physical merge
    for k in ("n_docs", "n_postings", "avg_doc_len", "stale_bounds"):
        assert meta2[k] == meta[k], k

    merged = load_blocks(spark, path)
    assert merged.docid_map.count() == n_map_before
    for q, want in before.items():
        got = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in bm25_topk_blocks(merged, q, k=15).collect()
        ]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want]
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12)

    # old dirs swept by the default vacuum
    import os

    children = set(os.listdir(path))
    for d in dirs[1:]:
        assert d not in children


def test_merge_segments_validation(spark, corpus_sdf, tmp_path):
    import pytest

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        build_blocks,
        merge_segments,
        write_blocks,
    )

    path = str(tmp_path / "tiered_v")
    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 1)
    write_blocks(
        build_blocks(build_index(half_a, cache=False), block_span=64),
        path,
        n_buckets=4,
    )
    append_blocks(spark, path, build_index(half_b, cache=False))
    dirs = _read_meta(spark, path)["data_dirs"]
    with pytest.raises(ValueError, match=">= 2"):
        merge_segments(spark, path, dirs[:1])
    with pytest.raises(ValueError, match="not in manifest"):
        merge_segments(spark, path, [dirs[0], "seg-99999-deadbeef"])
    with pytest.raises(ValueError, match="duplicate"):
        merge_segments(spark, path, [dirs[0], dirs[0]])


def test_tiered_merge_policy_fixpoint(spark, tmp_path):
    """plan_tiered_merges groups small segments; tiered_merge runs to a
    fixpoint (cascading when a merged segment graduates a tier); the
    merged store still answers queries identically to a fresh build."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        load_blocks,
        plan_tiered_merges,
        tiered_merge,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk
    from cis555_search_engine_spark.synth import transcripts_spark

    corpus = transcripts_spark(spark, n_convs=90, seed=11).cache()
    parts = [corpus.filter(F.crc32(F.col("conv_id").cast("binary")) % 9 == i) for i in range(9)]
    path = str(tmp_path / "tiers")
    write_blocks(
        build_blocks(build_index(parts[0], cache=False), block_span=64),
        path,
        n_buckets=4,
    )
    for p in parts[1:]:
        append_blocks(spark, path, build_index(p, cache=False))
    assert len(_read_meta(spark, path)["data_dirs"]) == 9

    # every epoch-sized segment sits in tier 0 (all < 1024 docs), so the
    # plan proposes floor(9/3) = 3 merges at merge_at=3
    plans = plan_tiered_merges(spark, path, merge_at=3)
    assert len(plans) == 3 and all(len(g) == 3 for g in plans)

    n = tiered_merge(spark, path, merge_at=3)
    # 3 first-round merges, then the 3 merged segments (still tier 0 or
    # one tier up together) may cascade into one — fixpoint leaves < 3
    # segments per tier
    assert n >= 3
    dirs = _read_meta(spark, path)["data_dirs"]
    assert len(dirs) < 9
    assert not plan_tiered_merges(spark, path, merge_at=3)

    merged = load_blocks(spark, path)
    full = build_index(corpus, cache=False)
    want = [
        (r["conv_id"], r["turn_idx"], r["score"])
        for r in bm25_topk(full, "rice noodle", k=10).collect()
    ]
    got = [
        (r["conv_id"], r["turn_idx"], r["score"])
        for r in bm25_topk_blocks(merged, "rice noodle", k=10).collect()
    ]
    assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def test_merge_segments_with_tombstones(spark, corpus_sdf, tmp_path):
    """A physical merge must carry delete semantics untouched: tombstoned
    docs stay dead after the merge, and queries equal a fresh build over
    the surviving corpus."""
    import math

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        merge_segments,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    path = str(tmp_path / "tiered_del")
    thirds = [
        corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 3 == i)
        for i in range(3)
    ]
    write_blocks(
        build_blocks(build_index(thirds[0], cache=False), block_span=64),
        path,
        n_buckets=4,
    )
    for t in thirds[1:]:
        append_blocks(spark, path, build_index(t, cache=False))
    dead_pred = F.crc32(F.col("conv_id").cast("binary")) % 5 == 0
    dead_keys = corpus_sdf.filter(dead_pred).select("conv_id", "turn_idx").distinct()
    n_dead = delete_docs(spark, path, dead_keys)
    assert n_dead > 0

    dirs = _read_meta(spark, path)["data_dirs"]
    merge_segments(spark, path, dirs)
    meta = _read_meta(spark, path)
    assert len(meta["data_dirs"]) == 1
    assert meta["n_deleted"] == n_dead and meta["tombstone_dirs"]

    merged = load_blocks(spark, path)
    survivors = build_index(corpus_sdf.filter(~dead_pred), cache=False)
    # NOTE deleted stats are Lucene-style stale until compaction, so
    # compare against the full-stats build the same way the existing
    # delete tests do: ranked ids from the merged store must contain no
    # tombstoned doc and equal the pre-merge served ranking
    got = [
        (r["conv_id"], r["turn_idx"])
        for r in bm25_topk_blocks(merged, "rice noodle", k=15).collect()
    ]
    dead_set = {(r["conv_id"], r["turn_idx"]) for r in dead_keys.collect()}
    assert not (set(got) & dead_set)
    assert survivors.n_docs == merged.n_docs - meta["n_deleted"]


# ------------------------------------------- driver path vs Spark path


def _oracle_state(docs, dead=frozenset()):
    """Oracle answers over a store state: ``docs`` count in the corpus
    statistics, ``dead`` keys (tombstoned) vanish from every result."""
    from cis555_search_engine_spark import oracle
    from cis555_search_engine_spark.functions.porter import porter_stem
    from cis555_search_engine_spark.functions.tokenizer import tokenize_py

    idx = oracle.build_index(docs)
    stems = lambda q: [porter_stem(t) for t in tokenize_py(q)]  # noqa: E731

    def bm25(query, k, conjunctive=False, exclude=()):
        terms, ex = set(stems(query)), {t for q in exclude for t in stems(q)}
        out = []
        for c, t, s in oracle.score_bm25(idx, query, k=idx.n_docs):
            tf = idx.doc_tf[(c, t)]
            if (c, t) in dead or (ex & tf.keys()) or (conjunctive and not terms <= tf.keys()):
                continue
            out.append((c, t, s))
        return out[:k]

    def phrase(text):
        terms = stems(text)
        out = []
        for key, pos in sorted(idx.doc_pos.items()):
            if key in dead or not all(t in pos for t in terms):
                continue
            n = sum(all(p + i in set(pos[t]) for i, t in enumerate(terms)) for p in pos[terms[0]])
            if n:
                out.append((*key, n))
        return out

    return bm25, phrase


def _check_ranked(got, want, what):
    """Same ranked keys; scores (BM25) or occurrences (phrase) equal."""
    assert [r[:2] for r in got] == [r[:2] for r in want], what
    for g, w in zip(got, want):
        assert math.isclose(g[2], w[2], rel_tol=1e-9, abs_tol=1e-9), what


def test_driver_path_matches_spark_path_and_oracle(
    spark, corpus_pdf, corpus_sdf, spark_index, block_index, spark_jobs, tmp_path
):
    """A loaded store answers bounded BM25 and phrase queries in the
    driver (0 Spark jobs); on every store shape — fresh, appended (stale
    bounds, docid order != key order, segments that disagree on the
    nullability of docid_map.docid), tombstoned, tiered-merged,
    compacted — it returns the same ranked keys as the Spark path over an
    in-memory index of the same state and as the oracle, scores within
    1e-9. A query past the gate still takes the pruned Spark path."""
    import dataclasses
    import zlib
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        count_live_blocks,
        delete_docs,
        load_blocks,
        phrase_match_blocks,
        tiered_merge,
        write_blocks,
    )

    docs = list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    in_a = lambda c: zlib.crc32(c.encode()) % 2 == 0  # noqa: E731
    is_dead = lambda c, t: t % 7 == 3  # noqa: E731
    a_pred = F.crc32(F.col("conv_id").cast("binary")) % 2 == 0
    dead_pred = F.col("turn_idx") % 7 == 3
    dead = {(c, t) for c, t, _ in docs if is_dead(c, t)}
    path = str(tmp_path / "store")

    def cases(oracle):
        """(serving function, query, kwargs, oracle answer) per query."""
        bm25, phrase = oracle
        # k cut inside a group of exactly tied scores
        ranking = bm25("presidential election", 10**6)
        k = next(i for i in range(3, len(ranking)) if ranking[i - 1][2] == ranking[i][2])
        out = [
            (bm25_topk_blocks, "presidential election", dict(k=k),
             bm25("presidential election", k)),
            (bm25_topk_blocks, "rice noodle", dict(k=10, conjunctive=True),
             bm25("rice noodle", 10, True)),
            (bm25_topk_blocks, "rice noodle", dict(k=10, exclude_terms=["waaaf"]),
             bm25("rice noodle", 10, exclude=["waaaf"])),
            (phrase_match_blocks, "waaaa waaaa", {}, phrase("waaaa waaaa")),
            (phrase_match_blocks, "zoom coronavirus", {}, phrase("zoom coronavirus")),
        ]
        assert out[2][3] != bm25("rice noodle", 10), "the exclusion must matter"
        assert out[3][3] and not out[4][3], "one phrase matches, one matches nothing"
        return out

    def check_state(name, loaded, memory, oracle):
        """The driver path on ``loaded`` (0 jobs, no JVM frame) and the
        Spark path on the in-memory twin ``memory`` each equal the
        oracle."""
        assert loaded.manifest is not None
        todo = cases(oracle)
        for fn, q, kw, want in todo:
            with spark_jobs() as jobs:
                df = fn(loaded, q, **kw)
                got = [tuple(r) for r in df.collect()]
            assert jobs.n == 0, (name, q, kw)
            # a local relation's collect runs 0 jobs too: only the absent
            # JVM frame shows the rows never crossed into the JVM
            assert "_jdf" not in df.__dict__, (name, q, kw)
            _check_ranked(got, want, (name, q, kw, "driver path"))
        if memory is None:
            return
        assert memory.manifest is None
        # the Spark-path queries run concurrently: each is a handful of
        # small jobs, so wall time is scheduling latency, not data
        with ThreadPoolExecutor(len(todo)) as pool:
            served = list(pool.map(
                lambda c: [tuple(r) for r in c[0](memory, c[1], **c[2]).collect()], todo
            ))
        for (fn, q, kw, want), rows in zip(todo, served):
            _check_ranked(sorted(rows) if fn is phrase_match_blocks else rows, want,
                          (name, q, kw, "spark path"))

    # fresh: the store is written from its cached in-memory twin, with a
    # nullable docid as range-minted maps and stores written before the
    # window-rank mint have it
    docs_a = [d for d in docs if in_a(d[0])]
    twin = build_blocks(build_index(corpus_sdf.filter(a_pred), cache=False), 64).cache()
    nullable_map = twin.docid_map.withColumn(
        "docid", F.when(F.col("docid") >= 0, F.col("docid"))
    )
    write_blocks(dataclasses.replace(twin, docid_map=nullable_map), path, n_buckets=8)
    check_state("fresh", load_blocks(spark, path), twin, _oracle_state(docs_a))
    twin.blocks.unpersist()

    # appended: the in-memory twin is the full build (block_index)
    append_blocks(spark, path, build_index(corpus_sdf.filter(~a_pred), cache=False))
    appended = load_blocks(spark, path)
    assert appended.stale_bounds and not appended.key_ordered
    # the case a plain pa.concat_tables rejects: the write_blocks and
    # append_blocks segments disagree on the nullability of docid
    nullable = {
        pads.dataset(f"{path}/{d}/docid_map").schema.field("docid").nullable
        for d in appended.manifest["data_dirs"]
    }
    assert nullable == {True, False}
    check_state("appended", appended, block_index, _oracle_state(docs))

    # tombstoned, then tiered-merged: one logical state, so the merged
    # store is checked against the oracle the tombstoned twin matched
    n_dead = delete_docs(spark, path, corpus_sdf.filter(dead_pred).select("conv_id", "turn_idx"))
    assert n_dead == len(dead)
    tomb = block_index.docid_map.join(
        corpus_sdf.filter(dead_pred).select("conv_id", "turn_idx"), ["conv_id", "turn_idx"],
        "left_semi",
    ).select("docid")
    dead_oracle = _oracle_state(docs, dead)
    check_state("tombstoned", load_blocks(spark, path),
                dataclasses.replace(block_index, tombstones=tomb), dead_oracle)
    assert tiered_merge(spark, path, merge_at=2) == 1
    merged = load_blocks(spark, path)
    assert len(merged.manifest["data_dirs"]) == 1
    check_state("merged", merged, None, dead_oracle)

    # compacted: stats recomputed over the survivors
    compact_blocks(spark, path)
    live_docs = [d for d in docs if not is_dead(d[0], d[1])]
    compacted = load_blocks(spark, path)
    twin = build_blocks(build_index(corpus_sdf.filter(~dead_pred), cache=False), 64).cache()
    check_state("compacted", compacted, twin, _oracle_state(live_docs))
    twin.blocks.unpersist()

    # past the gate (Σdf >= min_prune_postings=0, 16 blocks > the seed
    # budget): the Spark block-max path, which prunes this query
    bm25, _ = _oracle_state(live_docs)
    with spark_jobs() as jobs:
        got = [tuple(r) for r in
               bm25_topk_blocks(compacted, "zoom", k=2, min_prune_postings=0).collect()]
    assert jobs.n >= 1
    _check_ranked(got, bm25("zoom", 2), "gate crossed")
    live, total = count_live_blocks(compacted, "zoom", k=2)
    assert live < total, (live, total)


def test_empty_results_run_no_spark_job(spark_index, block_index, spark_jobs):
    """Empty results are driver-held frames: no Python-worker job to
    build an empty frame and no JVM frame to collect it, with the same
    schemas as non-empty results. Building the frame counts too, so k=0
    must not reach pruning or decode."""
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        bm25_topk_many_blocks,
        phrase_match_blocks,
        proximity_topk_blocks,
    )

    cases = [
        (lambda: bm25_topk_blocks(block_index, "", k=5), ["conv_id", "turn_idx", "score"]),
        (lambda: bm25_topk_blocks(block_index, "rice", k=0), ["conv_id", "turn_idx", "score"]),
        (lambda: phrase_match_blocks(block_index, "1234!@#"),
         ["conv_id", "turn_idx", "n_occurrences"]),
        (lambda: proximity_topk_blocks(block_index, "", "rice"),
         ["conv_id", "turn_idx", "min_gap", "score"]),
        (lambda: bm25_topk_many_blocks(block_index, {"q": "!!"}),
         ["qid", "conv_id", "turn_idx", "score"]),
    ]
    for make, cols in cases:
        with spark_jobs() as jobs:
            df = make()
            assert df.collect() == []
        assert jobs.n == 0, cols
        assert df.columns == cols
        assert "_jdf" not in df.__dict__, cols


def test_negative_k_raises_on_every_path(spark, block_index, tmp_path):
    """k < 0 is misuse: the driver path (a loaded store under the gate)
    and the Spark path (an in-memory index) both raise ValueError when
    the query is built, instead of returning [] or failing at collect."""
    from cis555_search_engine_spark.operators.postings_codec import (
        bm25_topk_blocks,
        bm25_topk_many_blocks,
        boolean_topk_blocks,
        load_blocks,
        proximity_topk_blocks,
        write_blocks,
    )

    path = str(tmp_path / "bidx")
    write_blocks(block_index, path, n_buckets=8)
    loaded = load_blocks(spark, path)
    for bidx in (loaded, block_index):
        with pytest.raises(ValueError, match="k must be >= 0"):
            bm25_topk_blocks(bidx, "rice", k=-1)
        with pytest.raises(ValueError, match="k must be >= 0"):
            # an untokenizable required phrase returns before any scoring
            boolean_topk_blocks(bidx, 'rice "1234!@#"', k=-1)
        with pytest.raises(ValueError, match="k must be >= 0"):
            bm25_topk_many_blocks(bidx, {"q": "rice"}, k=-1)
        with pytest.raises(ValueError, match="k must be >= 0"):
            proximity_topk_blocks(bidx, "rice", "noodle", k=-1)


# ------------------------------------------- driver-held result frames


def test_driver_frame_matches_jvm_frame(spark, block_index):
    """The driver-held result frame answers collect(), columns and
    toArrow() from its pyarrow table without building a JVM frame, and
    gives the same rows as ``createDataFrame`` over that table: for every
    result schema the module builds (score, n_occurrences, min_gap +
    score, the batch qid), empty, with nulls, and with a timestamp and a
    date in the doc key. Every other use goes through the JVM frame and
    agrees too. Fails loudly if pyspark moves the private attributes the
    frame relies on."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from cis555_search_engine_spark.operators.postings_codec import (
        _local_frame,
        _result_schema,
    )

    score = T.StructField("score", T.DoubleType())
    n_occ = T.StructField("n_occurrences", T.LongType())
    min_gap = T.StructField("min_gap", T.LongType())
    qid = T.StructField("qid", T.StringType())
    keys = block_index.docid_map.orderBy("docid").limit(4).toArrow()
    conv, turn = keys.column("conv_id"), keys.column("turn_idx")
    docid_map = block_index.docid_map
    key = ["conv_id", "turn_idx"]

    ts_key = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("day", T.DateType()),
    ])
    ts_vals = [dt.datetime(2020, 3, 1, 12, 30, 5, 123456), None, dt.datetime(1999, 12, 31)]
    day_vals = [dt.date(2020, 3, 1), dt.date(1970, 1, 1), None]
    ts_map = spark.createDataFrame(
        pa.table({"conv_id": ["a", "b", "c"], "ts": ts_vals, "day": day_vals,
                  "docid": [0, 1, 2]}),
        schema=T.StructType([*ts_key.fields, T.StructField("docid", T.LongType())]),
    )

    cases = [
        ("score", _result_schema(block_index, score),
         pa.table({"conv_id": conv, "turn_idx": turn, "score": [3.5, 2.25, None, -0.0]}),
         docid_map, key),
        ("n_occurrences", _result_schema(block_index, n_occ),
         pa.table({"conv_id": conv, "turn_idx": turn, "n_occurrences": [1, None, 7, 2**40]}),
         docid_map, key),
        ("min_gap+score", _result_schema(block_index, min_gap, score),
         pa.table({"conv_id": conv, "turn_idx": turn, "min_gap": [0, 3, None, 1],
                   "score": [1.5, None, 0.25, 9.0]}),
         docid_map, key),
        ("qid", T.StructType([qid, *_result_schema(block_index, score).fields]),
         pa.table({"qid": ["q1", "q1", None, "q2"], "conv_id": conv, "turn_idx": turn,
                   "score": [2.0, 1.0, 0.5, 4.0]}),
         docid_map, key),
        ("timestamp+date key", T.StructType([*ts_key.fields, score]),
         pa.table({"conv_id": ["a", "b", "c"], "ts": ts_vals, "day": day_vals,
                   "score": [1.0, None, 2.0]}),
         ts_map, ["conv_id", "ts", "day"]),
    ]
    # every schema empty too
    cases += [(f"{name}, empty", schema, None, m, k) for name, schema, _, m, k in cases]

    for name, schema, table, key_map, on in cases:
        src = to_arrow_schema(schema).empty_table() if table is None else table
        drv = _local_frame(spark, schema, table)
        jvm = spark.createDataFrame(src, schema=schema)

        rows, want = drv.collect(), jvm.collect()
        assert rows == want, name
        assert [r.asDict() for r in rows] == [r.asDict() for r in want], name
        assert drv.columns == jvm.columns == schema.names, name
        assert drv.toArrow().equals(jvm.toArrow()), name
        assert "_jdf" not in drv.__dict__, name

        # every other use builds the JVM frame once and agrees with it
        assert drv.count() == jvm.count(), name
        assert "_jdf" in drv.__dict__, name
        order = schema.names
        assert drv.orderBy(*order).collect() == jvm.orderBy(*order).collect(), name
        pd.testing.assert_frame_equal(drv.toPandas(), jvm.toPandas(), obj=name)
        joined = [sorted(df.join(key_map, on).collect()) for df in (drv, jvm)]
        assert joined[0] == joined[1], name


def test_snapshot_datasets_stay_inside_their_snapshot(spark, corpus_pdf, corpus_sdf, tmp_path):
    """A loaded index caches one pyarrow dataset per manifest dir. Across
    append_blocks, delete_docs, tiered_merge and compact_blocks (without
    vacuum), an index loaded before each op keeps answering from its own
    snapshot, and a fresh load_blocks answers from the new one — both
    equal to the oracle of their state. Indexes over two stores share no
    cache entry. Once a vacuum deletes a snapshot, an index still holding
    it raises FileNotFoundError, whether it had read the deleted dirs or
    not, instead of answering []."""
    import zlib

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _gone,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        compact_blocks,
        delete_docs,
        load_blocks,
        phrase_match_blocks,
        tiered_merge,
        write_blocks,
    )

    docs = list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    a_pred = F.crc32(F.col("conv_id").cast("binary")) % 2 == 0
    dead_pred = F.col("turn_idx") % 7 == 3
    docs_a = [d for d in docs if zlib.crc32(d[0].encode()) % 2 == 0]
    dead = {(c, t) for c, t, _ in docs if t % 7 == 3}
    live_docs = [d for d in docs if (d[0], d[1]) not in dead]
    path = str(tmp_path / "store")
    write_blocks(
        build_blocks(build_index(corpus_sdf.filter(a_pred), cache=False), 64), path, n_buckets=8
    )

    def serve(bidx, oracle, what):
        """Driver-path answers (no JVM frame) equal the oracle's."""
        bm25, phrase = oracle
        for fn, q, kw, want in [
            (bm25_topk_blocks, "rice noodle", dict(k=10), bm25("rice noodle", 10)),
            (bm25_topk_blocks, "presidential election", dict(k=5),
             bm25("presidential election", 5)),
            (phrase_match_blocks, "waaaa waaaa", {}, phrase("waaaa waaaa")),
        ]:
            df = fn(bidx, q, **kw)
            _check_ranked([tuple(r) for r in df.collect()], want, (what, q))
            assert "_jdf" not in df.__dict__, (what, q)
        assert bidx.footers, what

    oracle = _oracle_state(docs_a)
    before = load_blocks(spark, path)
    serve(before, oracle, "fresh")
    ops = [
        ("append", lambda: append_blocks(
            spark, path, build_index(corpus_sdf.filter(~a_pred), cache=False)),
         _oracle_state(docs)),
        ("delete", lambda: delete_docs(
            spark, path, corpus_sdf.filter(dead_pred).select("conv_id", "turn_idx")),
         _oracle_state(docs, dead)),
        ("merge", lambda: tiered_merge(spark, path, merge_at=2, vacuum=False),
         _oracle_state(docs, dead)),
        ("compact", lambda: compact_blocks(spark, path, vacuum=False),
         _oracle_state(live_docs)),
    ]
    for name, op, post in ops:
        op()
        serve(before, oracle, f"loaded before {name}")
        after = load_blocks(spark, path)
        assert after.manifest != before.manifest, name
        serve(after, post, f"loaded after {name}")
        before, oracle = after, post

    # a second store holding the same documents
    write_blocks(
        build_blocks(build_index(corpus_sdf.filter(~dead_pred), cache=False), 64),
        str(tmp_path / "twin"), n_buckets=8,
    )
    twin = load_blocks(spark, str(tmp_path / "twin"))
    serve(twin, oracle, "second store")
    assert twin.footers.keys().isdisjoint(before.footers)

    # compaction with its default vacuum deletes the snapshot both the
    # queried twin and an unqueried index hold
    unqueried = load_blocks(spark, str(tmp_path / "twin"))
    compact_blocks(spark, str(tmp_path / "twin"))
    for stale in (twin, unqueried):
        for fn, q in ((bm25_topk_blocks, "rice noodle"), (phrase_match_blocks, "waaaa waaaa")):
            with pytest.raises(FileNotFoundError, match="vacuumed.*reload the index") as err:
                fn(stale, q).collect()
            # the error names a dir the vacuum deleted
            assert _gone(str(err.value).split(" is gone:")[0])
    serve(load_blocks(spark, str(tmp_path / "twin")), oracle, "reloaded after vacuum")


def test_n_postings_on_every_store_shape(spark, corpus_sdf, spark_jobs, tmp_path):
    """``BlockIndex.n_postings`` is the store's posting total on every
    store shape — in memory, fresh, appended, tombstoned, tiered-merged,
    compacted and re-persisted from a loaded index: it equals Σdf of the
    store's stats and the manifest's ``n_postings``; a manifest without
    the field is refused on load. write_blocks reads it instead of
    re-aggregating, so it runs no Σdf job and no range-sampling job for
    a small term dictionary: over staged blocks it runs one job per file
    set it writes."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _commit_meta,
        _read_meta,
        append_blocks,
        build_blocks,
        compact_blocks,
        delete_docs,
        load_blocks,
        tiered_merge,
        write_blocks,
    )

    def sum_df(bidx) -> int:
        return int(bidx.corpus_stats.agg(F.sum("df")).collect()[0][0])

    def check(where, what):
        bidx = load_blocks(spark, where)
        assert bidx.n_postings == sum_df(bidx) == bidx.manifest["n_postings"], what
        return bidx

    a_pred = F.crc32(F.col("conv_id").cast("binary")) % 2 == 0
    idx_a = build_index(corpus_sdf.filter(a_pred))
    memory = build_blocks(idx_a, 64)
    assert memory.n_postings == idx_a.n_postings == sum_df(memory) > 0
    memory.blocks = memory.blocks.cache()
    memory.blocks.count()
    path = str(tmp_path / "store")
    with spark_jobs() as jobs:
        write_blocks(memory, path)
    assert jobs.n == 3, jobs.n  # one write each: blocks, docid map, stats
    check(path, "fresh")

    append_blocks(spark, path, build_index(corpus_sdf.filter(~a_pred), cache=False))
    check(path, "appended")
    delete_docs(
        spark, path, corpus_sdf.filter(F.col("turn_idx") % 7 == 3).select("conv_id", "turn_idx")
    )
    tombstoned = check(path, "tombstoned")
    assert tombstoned.tombstones is not None
    assert tiered_merge(spark, path, merge_at=2) == 1
    check(path, "merged")

    # re-persisting a loaded (tombstoned, merged) index records its total
    copy = str(tmp_path / "copy")
    write_blocks(load_blocks(spark, path), copy)
    assert check(copy, "re-persisted").n_postings == tombstoned.n_postings

    compact_blocks(spark, path)
    compacted = check(path, "compacted")
    assert compacted.n_postings < tombstoned.n_postings  # tombstones purged

    # a manifest without the field predates the store's contract
    meta = _read_meta(spark, path)
    del meta["n_postings"]
    _commit_meta(spark, path, meta)
    with pytest.raises(ValueError, match="n_postings"):
        load_blocks(spark, path)


# ------------------------------------------------- direct parquet reads


def test_arrow_read_matches_dataset_scan(tmp_path, monkeypatch):
    """`_arrow_read` (direct reads of the part files through their cached
    footers) returns the rows a pyarrow dataset scan with the same filter
    returns: term (string, non-ASCII included) and docid (int64) filters;
    values below, between and above every row group's range; an empty
    value list; a row group written without statistics; a nullable and a
    non-null docid segment read together. A file none of whose row
    groups may hold a value is not opened."""
    import types

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from cis555_search_engine_spark.operators.postings_codec import _arrow_read

    def write(d, name, table, **kw):
        d.mkdir(exist_ok=True)
        pq.write_table(table, str(d / name), row_group_size=3, **kw)

    # sorted within a file, so each row group of three covers its own range
    terms = tmp_path / "terms"
    write(terms, "a.parquet", pa.table({
        "term": ["apple", "banana", "cherry", "éclair", "élan", "über"],
        "df": [1, 2, 3, 4, 5, 6],
    }))
    write(terms, "b.parquet", pa.table({
        "term": ["kiwi", "lemon", "mango", "nut", "olive", "pear"], "df": [7, 8, 9, 10, 11, 12],
    }))
    write(terms, "c.parquet", pa.table({"term": ["zeta", "zoom", "ß"], "df": [13, 14, 15]}),
          write_statistics=False)
    nullable = tmp_path / "seg_nullable"
    write(nullable, "part-0.parquet", pa.table({
        "key": ["n0", "n1", "n2", "nx", "n4", "n5"],
        "docid": pa.array([0, 1, 2, None, 4, 5], pa.int64()),
    }))
    required = tmp_path / "seg_required"
    write(required, "part-0.parquet", pa.table(
        {"key": ["r10", "r11", "r12", "r13", "r14", "r15"], "docid": list(range(10, 16))},
        schema=pa.schema([("key", pa.string(), False), ("docid", pa.int64(), False)]),
    ))
    assert not pq.read_schema(str(required / "part-0.parquet")).field("docid").nullable

    opened = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(os.path.relpath(path, tmp_path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    bidx = types.SimpleNamespace(footers={})
    cases = [
        # (dirs, columns, filter column, values, files the read opens)
        ([terms], ["term", "df"], "term", ["aardvark"], ["terms/c.parquet"]),
        ([terms], ["term", "df"], "term", ["date", "zzz"], ["terms/c.parquet"]),
        ([terms], ["term", "df"], "term", ["ÿ", "\U0001f600"], ["terms/c.parquet"]),
        ([terms], ["term", "df"], "term", ["élan", "lemon", "zoom", "nope", "banana"],
         ["terms/a.parquet", "terms/b.parquet", "terms/c.parquet"]),
        ([terms], ["df", "term"], "term", ["über"], ["terms/a.parquet", "terms/c.parquet"]),
        ([terms], ["term", "df"], "term", [], ["terms/c.parquet"]),
        ([nullable, required], ["key", "docid"], "docid", np.array([-5]), []),
        ([nullable, required], ["key", "docid"], "docid", np.array([3, 7]), []),
        ([nullable, required], ["key", "docid"], "docid", np.array([100]), []),
        ([nullable, required], ["key", "docid"], "docid", np.array([1, 4, 12]),
         ["seg_nullable/part-0.parquet", "seg_required/part-0.parquet"]),
        ([required, nullable], ["docid"], "docid", np.array([13, 15]),
         ["seg_required/part-0.parquet"]),
        ([nullable, required], ["key", "docid"], "docid", np.empty(0, np.int64), []),
    ]
    for dirs, columns, col, values, want_opened in cases:
        files = sorted(str(f) for d in dirs for f in d.glob("*.parquet"))
        schema = pa.schema(
            [pq.read_schema(files[0]).field(c).with_nullable(True) for c in columns]
        )
        value_set = pa.array(values, schema.field(col).type)
        want = pads.dataset(files, schema=schema).to_table(filter=pads.field(col).isin(value_set))
        _arrow_read(bidx, [str(d) for d in dirs], columns, col, values)  # footers parsed
        opened.clear()
        got = _arrow_read(bidx, [str(d) for d in dirs], columns, col, values)
        what = (col, list(values))
        assert sorted(opened) == want_opened, what
        assert got.schema.equals(schema), what
        order = [(c, "ascending") for c in columns]
        assert got.sort_by(order).equals(want.sort_by(order)), what
    (tmp_path / "empty").mkdir()
    assert _arrow_read(bidx, [str(tmp_path / "empty")], ["docid"], "docid", np.array([1])) is None


def test_driver_state_stays_bounded(spark, block_index, spark_jobs, tmp_path):
    """Fifty driver-path queries over two loaded indexes leave no file
    open: afterwards the process has as many open descriptors as before
    them and none into either store. The per-snapshot cache holds parsed
    parquet footers, not row data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cis555_search_engine_spark.operators.postings_codec import (
        _Footer,
        bm25_topk_blocks,
        load_blocks,
        phrase_match_blocks,
        write_blocks,
    )

    paths = [str(tmp_path / name) for name in ("one", "two")]
    for path in paths:
        write_blocks(block_index, path, n_buckets=8)
    loaded = [load_blocks(spark, path) for path in paths]
    queries = [
        (bm25_topk_blocks, "rice noodle", dict(k=10)),
        (bm25_topk_blocks, "presidential election", dict(k=5)),
        (phrase_match_blocks, "waaaa waaaa", {}),
    ]

    def serve(i):
        fn, q, kw = queries[i % len(queries)]
        df = fn(loaded[i % len(loaded)], q, **kw)
        assert df.collect() and "_jdf" not in df.__dict__, (i, q)

    def open_fds():
        fds = {}
        for fd in os.listdir("/proc/self/fd"):
            try:
                fds[fd] = os.readlink(f"/proc/self/fd/{fd}")
            except OSError:  # the listing's own descriptor, closed since
                pass
        return fds

    for i in range(len(queries) * len(loaded)):
        serve(i)  # every footer parsed, every frame schema resolved
    with spark_jobs() as jobs:
        before = open_fds()
        for i in range(50):
            serve(i)
        after = open_fds()
    assert jobs.n == 0
    assert len(after) == len(before), (before, after)
    assert not [t for t in after.values() if t.startswith(str(tmp_path))], after
    for bidx in loaded:
        assert bidx.footers
        for footers in bidx.footers.values():
            for f in footers:
                assert isinstance(f, _Footer) and isinstance(f.md, pq.FileMetaData)
                assert not any(isinstance(x, (pa.Table, pa.RecordBatch)) for x in f)


def test_footer_pruning_skips_other_segments(
    spark, corpus_pdf, corpus_sdf, tmp_path, monkeypatch
):
    """On an appended and tombstoned store — two segments and a tombstone
    dir, the maintain workload's shape — a driver-path query whose hits
    all lie in the first segment equals the oracle and opens fewer docid
    map files than the store has segments: the appended segment's docid
    range, read from its footer, holds none of the candidates."""
    import zlib

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.functions.porter import porter_stem
    from cis555_search_engine_spark.functions.tokenizer import tokenize_py
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        write_blocks,
    )

    docs = list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    in_a = lambda c: zlib.crc32(c.encode()) % 2 == 0  # noqa: E731
    a_pred = F.crc32(F.col("conv_id").cast("binary")) % 2 == 0
    dead_pred = F.col("turn_idx") % 7 == 3
    dead = {(c, t) for c, t, _ in docs if t % 7 == 3}
    path = str(tmp_path / "store")
    write_blocks(
        build_blocks(build_index(corpus_sdf.filter(a_pred), cache=False), 64), path, n_buckets=8
    )
    append_blocks(spark, path, build_index(corpus_sdf.filter(~a_pred), cache=False))
    delete_docs(spark, path, corpus_sdf.filter(dead_pred).select("conv_id", "turn_idx"))
    bidx = load_blocks(spark, path)
    assert len(bidx.manifest["data_dirs"]) == 2 and bidx.manifest["tombstone_dirs"]

    # the word of the first segment's docs, absent from the appended
    # ones, with the most live hits
    b_stems = {porter_stem(w) for c, _, x in docs if not in_a(c) for w in tokenize_py(x)}
    hits = {}
    for c, t, x in docs:
        for w in set(tokenize_py(x)):
            if in_a(c) and (c, t) not in dead and porter_stem(w) not in b_stems:
                hits[w] = hits.get(w, 0) + 1
    word = max(sorted(hits), key=hits.get)
    bm25, _ = _oracle_state(docs, dead)
    want = bm25(word, 10)
    assert want and all(in_a(c) for c, _, _ in want), word

    opened = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(str(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    for run in ("footers parsed", "footers cached"):
        opened.clear()
        got = [tuple(r) for r in bm25_topk_blocks(bidx, word, k=10).collect()]
        _check_ranked(got, want, (word, run))
    maps = [p for p in opened if "/docid_map/" in p]
    assert 0 < len(maps) < len(bidx.manifest["data_dirs"]), opened
