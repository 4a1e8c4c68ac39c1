"""Structured-Streaming tests: file source + availableNow triggers,
asserting streaming results == batch operators on the same data."""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def staged_corpus(tmp_path, corpus_pdf, spark):
    """Corpus written as 3 parquet files arriving in one stream dir."""
    d = str(tmp_path / "arrivals")
    os.makedirs(d)
    pdf = corpus_pdf.copy()
    # parquet TIMESTAMP(MICROS) so Spark's reader accepts the column
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        part = pdf.iloc[cuts[i] : cuts[i + 1]]
        part.to_parquet(f"{d}/part-{i}.parquet", index=False)
    return d


def test_incremental_index_equals_batch(spark, staged_corpus, corpus_sdf, spark_index, tmp_path):
    from cis555_search_engine_spark.streaming.ingest import (
        incremental_index_build,
        read_incremental_postings,
        read_transcript_stream,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, staged_corpus, max_files_per_trigger=1)
    q = incremental_index_build(stream, out, ckpt)
    q.awaitTermination(300)

    got = {
        (r["conv_id"], r["turn_idx"], r["term"]): (r["tf"], tuple(r["positions"]))
        for r in read_incremental_postings(spark, out).collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"], r["term"]): (r["tf"], tuple(r["positions"]))
        for r in spark_index.postings.collect()
    }
    assert got == want

    # restart with same checkpoint: no files left -> no new epochs/dirs
    epochs_before = set(os.listdir(os.path.join(out, "postings_long")))
    q2 = incremental_index_build(
        read_transcript_stream(spark, staged_corpus, max_files_per_trigger=1), out, ckpt
    )
    q2.awaitTermination(300)
    epochs_after = set(os.listdir(os.path.join(out, "postings_long")))
    assert {e for e in epochs_after if e.startswith("epoch=")} == {
        e for e in epochs_before if e.startswith("epoch=")
    }


def test_streaming_dedup_drops_replayed_rows(spark, tmp_path, corpus_pdf):
    from cis555_search_engine_spark.streaming.ingest import (
        read_transcript_stream,
        streaming_dedup,
    )

    d = str(tmp_path / "dup_arrivals")
    os.makedirs(d)
    part = corpus_pdf.iloc[:50].copy()
    part["ts"] = part["ts"].astype("datetime64[us]")
    part.to_parquet(f"{d}/a.parquet", index=False)
    part.to_parquet(f"{d}/b.parquet", index=False)  # exact replay

    stream = streaming_dedup(read_transcript_stream(spark, d))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = spark.sql("SELECT count(*) c FROM dedup_sink").collect()[0]["c"]
    assert n == 50


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    from cis555_search_engine_spark.streaming.ingest import windowed_event_counts

    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (tz-aware); testdata ts is NTZ
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }

    d = str(tmp_path / "ev")
    events.write.parquet(d, mode="overwrite")
    stream = spark.readStream.schema(events.schema).parquet(d)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_sink").collect()
    }
    # append mode only emits windows closed by the watermark; every
    # emitted window must match the batch result, and most windows close
    assert got
    for k, v in got.items():
        assert batch[k] == v
    assert len(got) >= len(batch) - 3  # at most the tail windows open


def test_politeness_rate_limit_stateful(spark, tmp_path, corpus_pdf):
    """applyInPandasWithState custom operator: per-key min-gap emission."""
    from cis555_search_engine_spark.streaming.ingest import (
        politeness_rate_limit,
        read_transcript_stream,
    )

    d = str(tmp_path / "rl")
    os.makedirs(d)
    part = corpus_pdf.iloc[:120].copy()
    part["tool"] = ["h" + str(i % 3) for i in range(len(part))]  # 3 hosts
    part["ts"] = part["ts"].astype("datetime64[us]")
    part.to_parquet(f"{d}/a.parquet", index=False)

    out = politeness_rate_limit(
        read_transcript_stream(spark, d), key_col="tool", min_gap_s=300
    )
    q = (
        out.writeStream.format("memory")
        .queryName("rl_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {r["host"]: (r["n_emitted"], r["n_dropped"])
            for r in spark.sql("SELECT * FROM rl_sink").collect()}
    assert set(rows) == {"h0", "h1", "h2"}
    # python oracle: same min-gap pass over each host's sorted epochs
    for h, (emitted, dropped) in rows.items():
        epochs = sorted(
            int(t.timestamp()) for t, tool in zip(part["ts"], part["tool"]) if tool == h
        )
        last, e_want, d_want = -(10**12), 0, 0
        for e in epochs:
            if e - last >= 300:
                e_want += 1
                last = e
            else:
                d_want += 1
        assert (emitted, dropped) == (e_want, d_want), h


def test_streamed_index_is_queryable(spark, staged_corpus, spark_index, tmp_path):
    """Full loop: stream ingest -> finalize -> SearchEngine queries match
    the batch-built index."""
    from cis555_search_engine_spark.engine import SearchEngine
    from cis555_search_engine_spark.operators.scoring import bm25_topk
    from cis555_search_engine_spark.streaming.ingest import (
        incremental_index_build,
        read_transcript_stream,
    )

    out = str(tmp_path / "sidx")
    q = incremental_index_build(
        read_transcript_stream(spark, staged_corpus), out, str(tmp_path / "ck")
    )
    q.awaitTermination(300)
    eng = SearchEngine.load(spark, out)
    got = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
           for r in eng.search("coronavirus", k=10).collect()]
    want = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in bm25_topk(spark_index, "coronavirus", k=10).collect()]
    assert got == want


def test_streaming_block_index_maintenance(spark, corpus_pdf, corpus_sdf, spark_index, tmp_path):
    """Stream half the corpus into a persisted block index built from the
    other half (2 micro-batches via maxFilesPerTrigger=1): queries over
    the maintained index must equal long-form BM25 over the FULL corpus,
    and re-running the drained stream must append nothing (epoch
    idempotence)."""
    import json
    import math
    import os

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        build_blocks,
        bm25_topk_blocks,
        load_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.operators.scoring import bm25_topk
    from cis555_search_engine_spark.streaming.ingest import (
        read_transcript_stream,
        streaming_index_maintenance,
    )

    # base index: conv_id hash-even half
    even = corpus_sdf.filter(F.crc32(F.col("conv_id").cast("binary")) % 2 == 0)
    path = str(tmp_path / "live_index")
    write_blocks(build_blocks(build_index(even, cache=False), block_span=64), path, n_buckets=8)

    # stream the odd half as 2 arriving files
    odd_pdf = corpus_pdf.copy()
    odd_pdf["ts"] = odd_pdf["ts"].astype("datetime64[us]")
    import zlib

    mask = odd_pdf["conv_id"].map(lambda c: zlib.crc32(c.encode()) % 2 == 1)
    odd_pdf = odd_pdf[mask].reset_index(drop=True)
    arrivals = str(tmp_path / "arrivals2")
    os.makedirs(arrivals)
    half = len(odd_pdf) // 2
    odd_pdf.iloc[:half].to_parquet(f"{arrivals}/a.parquet", index=False)
    odd_pdf.iloc[half:].to_parquet(f"{arrivals}/b.parquet", index=False)

    ckpt = str(tmp_path / "ckpt2")
    stream = read_transcript_stream(spark, arrivals, max_files_per_trigger=1)
    q = streaming_index_maintenance(stream, path, ckpt)
    q.awaitTermination(120)

    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert len(meta["applied_epochs"]) >= 2  # one append per micro-batch
    maintained = load_blocks(spark, path)
    full = build_index(corpus_sdf, cache=False)
    assert maintained.n_docs == full.n_docs

    for query in ("rice noodle", "coronavirus"):
        want = [(r["conv_id"], r["turn_idx"], r["score"])
                for r in bm25_topk(full, query, k=12).collect()]
        got = [(r["conv_id"], r["turn_idx"], r["score"])
               for r in bm25_topk_blocks(maintained, query, k=12,
                                         min_prune_postings=0).collect()]
        assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want], query
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), query

    # drained re-run: checkpoint dedups inputs -> nothing appended
    q2 = streaming_index_maintenance(
        read_transcript_stream(spark, arrivals, max_files_per_trigger=1), path, ckpt
    )
    q2.awaitTermination(60)
    assert load_blocks(spark, path).n_docs == full.n_docs


def test_append_keeps_old_layout_for_inflight_readers_until_vacuum(
    spark, corpus_sdf, tmp_path
):
    """Round-3 review: a reader holding the OLD manifest's BlockIndex
    must keep a complete layout across an append — the superseded stats
    dir is swept only by an explicit vacuum, never eagerly at commit
    (eager deletion FileNotFound'd the old reader's lazy corpus_stats
    frame on its next action)."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators import postings_codec as pc
    from cis555_search_engine_spark.operators.index_build import build_index

    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    path = str(tmp_path / "store")
    pc.write_blocks(pc.build_blocks(build_index(half_a, cache=False), block_span=64),
                    path, n_buckets=8)

    old_reader = pc.load_blocks(spark, path)
    want = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in pc.bm25_topk_blocks(old_reader, "rice noodle", k=10).collect()]

    pc.append_blocks(spark, path, build_index(half_b, cache=False))

    # the OLD reader re-executes its (lazy) plans against the old stats
    # dir AFTER the append committed — must still answer identically
    got = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
           for r in pc.bm25_topk_blocks(old_reader, "rice noodle", k=10).collect()]
    assert got == want

    # vacuum sweeps the superseded stats dir; the NEW manifest's reader
    # is complete, and the old stats dir is gone
    meta_now = pc._read_meta(spark, path)
    pc.vacuum_blocks(spark, path)
    children = set(os.listdir(path))
    assert meta_now["stats_dir"] in children
    superseded = [c for c in children
                  if c.startswith("stats") and c != meta_now["stats_dir"]]
    assert not superseded
    assert pc.load_blocks(spark, path).n_docs == meta_now["n_docs"]


def test_vacuum_sweeps_tmp_manifest_orphans(spark, corpus_sdf, tmp_path):
    """Round-3 review: `_meta.json.tmp-*` files orphaned by a crash
    between create and rename must be vacuumed (single-writer store —
    no in-flight commit can exist while vacuum runs)."""
    from cis555_search_engine_spark.operators import postings_codec as pc
    from cis555_search_engine_spark.operators.index_build import build_index

    path = str(tmp_path / "store")
    pc.write_blocks(pc.build_blocks(build_index(corpus_sdf, cache=False), block_span=64),
                    path, n_buckets=8)
    orphan = os.path.join(path, "_meta.json.tmp-deadbeef")
    with open(orphan, "w") as f:
        f.write("{}")
    pc.vacuum_blocks(spark, path)
    assert not os.path.exists(orphan)
    assert os.path.exists(os.path.join(path, "_meta.json"))
    assert pc.load_blocks(spark, path).n_docs > 0


def test_append_crash_before_manifest_commit_exactly_once(spark, corpus_sdf, tmp_path):
    """VERDICT/ADVICE r2: a crash BETWEEN segment-data commit and the
    metadata write used to re-append the same docs at the same docid
    offset on retry (silently doubled BM25 scores). The manifest store
    closes it: data lands in unlisted dirs, the epoch marker + segment
    list + merged stats flip in ONE atomic manifest commit. Kill the
    commit -> old index serves unchanged; retry -> applied exactly
    once, equal to a from-scratch build."""
    import json

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators import postings_codec as pc
    from cis555_search_engine_spark.operators.index_build import build_index

    half_a = corpus_sdf.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    half_b = corpus_sdf.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    path = str(tmp_path / "store")
    base = pc.build_blocks(build_index(half_a, cache=False), block_span=64)
    pc.write_blocks(base, path, n_buckets=8)

    def snapshot():
        bidx = pc.load_blocks(spark, path)
        return (
            bidx.n_docs,
            [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
             for r in pc.bm25_topk_blocks(bidx, "rice noodle", k=10).collect()],
        )

    before = snapshot()
    idx_b = build_index(half_b, cache=False)

    real_commit = pc._commit_meta

    def crash_commit(spark_, path_, meta_):
        raise RuntimeError("simulated crash before manifest commit")

    pc._commit_meta = crash_commit
    try:
        with pytest.raises(RuntimeError):
            pc.append_blocks(spark, path, idx_b, applied_marker="ckpt:0")
    finally:
        pc._commit_meta = real_commit

    # the crashed append is INVISIBLE: same docs, same query answers
    assert snapshot() == before
    # orphan segment dirs exist on disk but are not manifest-listed
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    listed = set(meta["data_dirs"]) | {meta["stats_dir"], "_meta.json"}
    orphans = [c for c in os.listdir(path)
               if c not in listed and not c.startswith(".")]  # skip Hadoop .crc sidecars
    assert orphans, "expected orphaned segment/stats dirs from the crash"

    # retry applies exactly once...
    pc.append_blocks(spark, path, idx_b, applied_marker="ckpt:0")
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["applied_epochs"].count("ckpt:0") == 1
    # ...and equals the from-scratch build over the full corpus
    full = build_index(corpus_sdf, cache=False)
    merged = pc.load_blocks(spark, path)
    assert merged.n_docs == full.n_docs
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    want = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in bm25_topk(full, "rice noodle", k=10).collect()]
    got = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
           for r in pc.bm25_topk_blocks(merged, "rice noodle", k=10).collect()]
    assert got == want
    # vacuum sweeps the orphans, serving state unchanged
    pc.vacuum_blocks(spark, path)
    still = [c for c in os.listdir(path) if c in orphans]
    assert not still
    assert pc.load_blocks(spark, path).n_docs == full.n_docs


def test_delete_crash_before_manifest_commit_exactly_once(spark, corpus_sdf, tmp_path):
    """delete_docs shares append's one-atomic-commit protocol: a crash
    between the tombstone-parquet write and the manifest commit leaves
    the delete INVISIBLE (old index serves unchanged, orphan dir
    unlisted); the retry applies exactly once (idempotent via the
    left_anti against already-live tombstones + the epoch marker)."""
    import json
    import os

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators import postings_codec as pc
    from cis555_search_engine_spark.operators.index_build import build_index

    path = str(tmp_path / "del_crash_store")
    pc.write_blocks(
        pc.build_blocks(build_index(corpus_sdf, cache=False), block_span=64),
        path, n_buckets=8,
    )
    dead_keys = corpus_sdf.filter(
        F.crc32(F.col("conv_id").cast("binary")) % 3 == 0
    ).select("conv_id", "turn_idx").distinct()
    n_dead = dead_keys.count()

    def snapshot():
        bidx = pc.load_blocks(spark, path)
        return (
            bidx.tombstones.count() if bidx.tombstones is not None else 0,
            [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
             for r in pc.bm25_topk_blocks(bidx, "rice noodle", k=10).collect()],
        )

    before = snapshot()
    real_commit = pc._commit_meta

    def crash_commit(spark_, path_, meta_):
        raise RuntimeError("simulated crash before manifest commit")

    pc._commit_meta = crash_commit
    try:
        with pytest.raises(RuntimeError):
            pc.delete_docs(spark, path, dead_keys, applied_marker="del:0")
    finally:
        pc._commit_meta = real_commit

    # the crashed delete is INVISIBLE: no tombstones, same answers
    assert snapshot() == before

    # the orphaned tombstone dir is on disk but unlisted
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert not meta.get("tombstone_dirs")
    orphans = [c for c in os.listdir(path)
               if c.startswith("del-") and not c.startswith(".")]
    assert orphans, "expected an orphaned tombstone dir from the crash"

    # retry applies exactly once; epoch marker recorded once
    assert pc.delete_docs(spark, path, dead_keys, applied_marker="del:0") == n_dead
    # redelivery of the SAME epoch is a committed-marker no-op
    assert pc.delete_docs(spark, path, dead_keys, applied_marker="del:0") == 0
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["applied_epochs"].count("del:0") == 1
    assert len(meta["tombstone_dirs"]) == 1
    after_tomb, after_top = snapshot()
    assert after_tomb == n_dead
    dead = {(r["conv_id"], r["turn_idx"]) for r in dead_keys.collect()}
    assert not ({(c, t) for c, t, _ in after_top} & dead)

    # vacuum sweeps the crash orphan but keeps the LIVE tombstone dir
    pc.vacuum_blocks(spark, path)
    live_dir = meta["tombstone_dirs"][0]
    remaining = [c for c in os.listdir(path) if c.startswith("del-")]
    assert remaining == [live_dir]
    assert snapshot() == (after_tomb, after_top)


def test_trending_terms_stream_equals_batch(spark, tmp_path, corpus_pdf):
    """Windowed term counts: the streaming plan over the file source must
    emit exactly the batch result for every watermark-closed window, and
    the vocabulary must be the index tokenizer's."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.streaming.ingest import trending_terms

    corpus = spark.createDataFrame(corpus_pdf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = {
        (r["bucket_start"], r["term"]): r["n"]
        for r in trending_terms(corpus).collect()
    }
    assert batch  # non-vacuous

    d = str(tmp_path / "turns")
    corpus.write.parquet(d, mode="overwrite")
    stream = spark.readStream.schema(corpus.schema).parquet(d)
    q = (
        trending_terms(stream)
        .writeStream.format("memory")
        .queryName("trend_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["bucket_start"], r["term"]): r["n"]
        for r in spark.sql("SELECT * FROM trend_sink").collect()
    }
    assert got
    for k, v in got.items():
        assert batch[k] == v
    # every window the final watermark CLOSED must have been emitted
    # (append mode emits on window_end <= max_ts - delay) — a watermark
    # misplacement that silently drops closed windows fails here
    import datetime

    max_ts = corpus.agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(minutes=10 + 5)
    expected_closed = {k for k in batch if k[0] <= horizon}
    assert expected_closed  # non-vacuous: most windows close
    missing = expected_closed - set(got)
    assert not missing, f"closed windows not emitted: {sorted(missing)[:5]}"
    # tokenizer parity: every streamed term is a tokenizer-legal token
    import re

    assert all(re.fullmatch(r"[a-z][a-z-]*[a-z]|[a-z]", t) for _, t in got)
