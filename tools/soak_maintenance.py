#!/usr/bin/env python
"""Index-maintenance soak: many append epochs (with interleaved deletes)
against a persisted block store, WITH vs WITHOUT the tiered merge
policy — the artifact that shows segment count and warm query latency
stay bounded under a per-epoch append stream.

    PYTHONPATH=. python tools/soak_maintenance.py \
        [--epochs 18] [--epoch-convs 60] [--base-convs 600] [--merge-at 3]

Per epoch: append a fresh conversation batch (disjoint conv_ids), every
3rd epoch tombstone-delete ~20%% of the previous epoch, then (policy ON
only) run tiered_merge to a fixpoint. After each epoch: reload the
store from disk (cold manifest, like a serving process would) and time
the standard BM25 top-10 warm-median-of-3. Prints one table per mode,
formatted for BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=18)
    ap.add_argument("--epoch-convs", type=int, default=60)
    ap.add_argument("--base-convs", type=int, default=600)
    ap.add_argument("--merge-at", type=int, default=3)
    ap.add_argument("--work", default="/tmp/soak_maintenance")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        append_blocks,
        bm25_topk_blocks,
        build_blocks,
        delete_docs,
        load_blocks,
        tiered_merge,
        write_blocks,
    )
    from cis555_search_engine_spark.session import get_spark
    from cis555_search_engine_spark.synth import transcripts_spark

    spark = get_spark("soak", cores=16, shuffle_partitions=32)
    base = transcripts_spark(spark, n_convs=args.base_convs, seed=1).cache()
    base.count()

    def epoch_batch(e: int):
        df = transcripts_spark(spark, n_convs=args.epoch_convs, seed=100 + e)
        return df.withColumn(
            "conv_id", F.concat(F.lit(f"e{e:03d}_"), F.col("conv_id"))
        ).cache()

    batches = [epoch_batch(e) for e in range(args.epochs)]
    for b in batches:
        b.count()

    def run(mode: str) -> list[dict]:
        path = os.path.join(args.work, mode)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(args.work, exist_ok=True)
        write_blocks(
            build_blocks(build_index(base, cache="checkpoint"), block_span=256),
            path, n_buckets=8,
        )
        rows = []
        for e in range(args.epochs):
            t0 = time.perf_counter()
            append_blocks(spark, path, build_index(batches[e], cache="checkpoint"))
            t_append = time.perf_counter() - t0
            t_delete = 0.0
            if e % 3 == 2:
                t0 = time.perf_counter()
                dead = batches[e - 1].filter(
                    F.crc32(F.col("conv_id").cast("binary")) % 5 == 0
                ).select("conv_id", "turn_idx").distinct()
                delete_docs(spark, path, dead)
                t_delete = time.perf_counter() - t0
            t_merge, n_merges = 0.0, 0
            if mode == "tiered":
                t0 = time.perf_counter()
                n_merges = tiered_merge(
                    spark, path, merge_at=args.merge_at, min_tier_docs=2048
                )
                t_merge = time.perf_counter() - t0
            meta = _read_meta(spark, path)
            n_seg = len(meta["data_dirs"])
            # cold reopen (fresh manifest + file listing), warm queries
            bidx = load_blocks(spark, path)
            lats = []
            for _ in range(3):
                t0 = time.perf_counter()
                bm25_topk_blocks(bidx, "rice noodle", k=10).collect()
                lats.append(time.perf_counter() - t0)
            rows.append({
                "epoch": e, "append_s": round(t_append, 2),
                "delete_s": round(t_delete, 2), "merge_s": round(t_merge, 2),
                "merges": n_merges, "segments": n_seg,
                "q_med_s": round(statistics.median(lats), 3),
                "n_docs": meta["n_docs"], "n_deleted": meta.get("n_deleted", 0),
            })
            print(f"# {mode} {rows[-1]}", file=sys.stderr)
        return rows

    out = {}
    for mode in ("plain", "tiered"):
        out[mode] = run(mode)
        print(f"\n## soak: mode={mode} ({args.epochs} epochs, "
              f"{args.epoch_convs} convs/epoch, merge_at={args.merge_at})")
        print("| epoch | append s | del s | merge s | merges | segments | q med s |")
        print("|---|---|---|---|---|---|---|")
        for r in out[mode]:
            print(f"| {r['epoch']} | {r['append_s']} | {r['delete_s']} | "
                  f"{r['merge_s']} | {r['merges']} | {r['segments']} | {r['q_med_s']} |")
    pl, ti = out["plain"][-1], out["tiered"][-1]
    print(f"\nfinal: plain segments={pl['segments']} q={pl['q_med_s']}s; "
          f"tiered segments={ti['segments']} q={ti['q_med_s']}s")
    spark.stop()


if __name__ == "__main__":
    main()
