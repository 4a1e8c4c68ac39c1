#!/usr/bin/env python
"""spark-submit entry: continuously maintain a persisted block index
from arriving transcript parquet files.

    spark-submit --master local[N] --py-files pkg.zip tools/maintenance_job.py \
        --index <block-store-dir> --arrivals <stream-dir> \
        --checkpoint <ckpt-dir> [--bootstrap <corpus.parquet>] \
        [--max-files-per-trigger 1] [--continuous] \
        [--compact | --tier-merge [--tier-factor 4] [--merge-at 4]]

Without ``--continuous`` the job drains whatever has arrived
(trigger availableNow) and exits — the cron-style maintenance tick.
``--bootstrap`` builds the initial store from a corpus file when the
index directory does not exist yet. ``--compact`` runs the LSM-style
merge after draining (restores tight pruning bounds); ``--tier-merge``
runs the cheaper tiered segment merge instead, and passing both is a
usage error. The tick ends with a manifest-scoped vacuum (sweeps
superseded stats dirs from the drained epochs + any crash orphans);
pass ``--no-vacuum`` to defer it when old-manifest readers may still
be in flight (grace period).

Store metadata goes through the Hadoop FileSystem API, so ``--index``
may be an hdfs:// or object-store path, like the store itself.

Prints ONE JSON line: docs before/after, epochs applied, wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--arrivals", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--bootstrap", default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--tier-merge", action="store_true",
                    help="after draining, run the tiered segment-merge "
                         "policy to a fixpoint (physical consolidation "
                         "only — cheaper than --compact, bounds live "
                         "segment count under per-epoch appends)")
    ap.add_argument("--tier-factor", type=int, default=4)
    ap.add_argument("--merge-at", type=int, default=4)
    ap.add_argument("--no-vacuum", action="store_true",
                    help="defer the post-drain vacuum (in-flight readers)")
    ap.add_argument("--block-span", type=int, default=4096)
    ap.add_argument("--n-buckets", type=int, default=None,
                    help="term buckets of a new store (default: one per "
                         "2,500 postings, 1 to 64)")
    args = ap.parse_args()
    if args.compact and args.tier_merge:
        # compaction rewrites every segment into one, so a tiered merge
        # after it has nothing to do: reject the pair instead of
        # silently running only one of them
        ap.error("--tier-merge cannot be combined with --compact "
                 "(compaction already leaves a single segment)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("maintenance_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cis555_search_engine_spark import fsio
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import (
        _read_meta,
        build_blocks,
        compact_blocks,
        load_blocks,
        tiered_merge,
        vacuum_blocks,
        write_blocks,
    )
    from cis555_search_engine_spark.streaming.ingest import (
        read_transcript_stream,
        streaming_index_maintenance,
    )

    t0 = time.perf_counter()
    # mode-agnostic probe: log-mode stores never write _meta.json, so an
    # exists() check on that file would silently re-bootstrap (and then
    # vacuum away) a live store
    if not fsio.manifest_exists(spark, args.index):
        if not args.bootstrap:
            raise SystemExit(f"no index at {args.index}; pass --bootstrap <corpus.parquet>")
        corpus = spark.read.parquet(args.bootstrap)
        bidx = build_blocks(build_index(corpus, cache="checkpoint"), block_span=args.block_span)
        write_blocks(bidx, args.index, n_buckets=args.n_buckets)
    meta0 = _read_meta(spark, args.index)
    n_before = meta0["n_docs"]
    tick_counters: dict = {}

    stream = read_transcript_stream(spark, args.arrivals, args.max_files_per_trigger)
    q = streaming_index_maintenance(
        stream, args.index, args.checkpoint, available_now=not args.continuous,
        # --no-vacuum means NO vacuum, including the sink's periodic one:
        # the flag exists for the in-flight-old-manifest-reader grace
        # window, which the internal 16-epoch sweep would violate
        vacuum_every=None if args.no_vacuum else 16,
        counters=tick_counters,
    )
    if args.continuous:
        q.awaitTermination()
    else:
        if not q.awaitTermination(3600):
            # bound the tick: stop the stream BEFORE any vacuum so the
            # store's single-writer discipline holds (a vacuum racing a
            # live foreachBatch append could sweep a segment the next
            # manifest names). Appends commit atomically per epoch, so
            # stopping mid-drain loses nothing — the next tick resumes
            # from the checkpoint.
            q.stop()
            q.awaitTermination(120)
    n_merges = 0
    if args.compact:
        compact_blocks(spark, args.index, vacuum=not args.no_vacuum)
    else:
        if args.tier_merge:
            # tiered policy between the cheap per-epoch appends and the
            # full --compact rewrite: consolidate small segments so the
            # live dir count stays O(merge_at·log n) under a per-epoch
            # append stream (each merge is its own atomic commit; safe
            # here because the stream is stopped — single writer)
            n_merges = tiered_merge(
                spark, args.index,
                tier_factor=args.tier_factor, merge_at=args.merge_at,
                vacuum=not args.no_vacuum,
            )
        if not args.no_vacuum:
            # sweep the drained epochs' superseded stats dirs + crash orphans
            vacuum_blocks(spark, args.index)

    meta = _read_meta(spark, args.index)
    bidx = load_blocks(spark, args.index)
    print(json.dumps({
        "n_docs_before": n_before,
        "n_docs_after": meta["n_docs"],
        # epochs applied by THIS tick, counted by the sink itself — a
        # before/after diff of the manifest's applied_epochs list
        # under-reports when a tick drains more than the marker
        # retention cap (ADVICE r4)
        "epochs_applied": int(tick_counters.get("epochs_applied", 0)),
        "stale_bounds": bidx.stale_bounds,
        "tier_merges": n_merges,
        "n_segments": len(meta["data_dirs"]),
        "wall_s": round(time.perf_counter() - t0, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
