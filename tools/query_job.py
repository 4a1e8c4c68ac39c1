#!/usr/bin/env python
"""spark-submit entry: serve queries against a built index directory.

    spark-submit --master local[N] --py-files pkg.zip tools/query_job.py \
        --index <dir-from-index_build_job-or-checkpointed-build> \
        --query "rice noodle" [--k 10] [--ranker bm25|tfidf|cosine] \
        [--mode or|and] [--blocks]    # --blocks serves BM25 only

    # OR serve straight from a persisted block store (write_blocks /
    # maintenance_job layout) — no long-postings directory needed; the
    # boolean query language (quotes/negation) is available here:
    spark-submit ... tools/query_job.py --block-store <store-dir> \
        --query 'rice "hash join" -noodle' [--k 10] [--mode or|and]

Prints one JSON line per result row plus a trailing latency line — the
spark-submit twin of the reference's HTTP frontend
(frontend/XPathApp.java -> SearchHelper.SearchByKeywords).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default=None,
                    help="long-postings index dir (index_build_job output)")
    ap.add_argument("--block-store", default=None,
                    help="persisted block-store dir (write_blocks layout)")
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--ranker", default="bm25", choices=["bm25", "tfidf", "cosine"])
    ap.add_argument("--mode", default="or", choices=["or", "and"])
    ap.add_argument("--blocks", action="store_true", help="serve from compressed block index")
    args = ap.parse_args()
    if (args.index is None) == (args.block_store is None):
        ap.error("exactly one of --index / --block-store is required")
    if args.block_store is not None and (args.ranker != "bm25" or args.blocks):
        # the block-store path always serves boolean/BM25 — silently
        # ignoring --ranker/--blocks would serve BM25 under a tfidf flag
        ap.error("--block-store always serves boolean BM25: "
                 "--ranker/--blocks apply only to --index")
    if args.blocks and args.ranker != "bm25":
        # search_blocks serves BM25 only, for the same reason
        ap.error(f"--blocks serves BM25 only: --ranker {args.ranker} "
                 "needs the in-memory index (drop --blocks)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("query_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    if args.block_store:
        from cis555_search_engine_spark.operators.postings_codec import (
            boolean_topk_blocks,
            load_blocks,
        )

        bidx = load_blocks(spark, args.block_store)
        t0 = time.perf_counter()  # exclude store-open from query latency
        df = boolean_topk_blocks(
            bidx, args.query, k=args.k, conjunctive=(args.mode == "and")
        )
    else:
        from cis555_search_engine_spark.engine import SearchEngine

        eng = SearchEngine.load(spark, args.index)
        if args.blocks:
            eng.blocks()  # build+compress OUTSIDE the timed region — the
            # reported latency must mean query time, as on the
            # --block-store path (which excludes store-open)
        t0 = time.perf_counter()
        if args.blocks:
            df = eng.search_blocks(args.query, k=args.k, mode=args.mode)
        else:
            df = eng.search(args.query, k=args.k, ranker=args.ranker, mode=args.mode)
    rows = df.collect()
    latency = time.perf_counter() - t0
    for r in rows:
        print(json.dumps(r.asDict()))
    print(json.dumps({"latency_s": round(latency, 3), "n_results": len(rows)}))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
