#!/usr/bin/env python3
"""Search-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Drives the engine the way its users do -- build a persisted block store,
answer BM25 top-k and phrase queries against it, keep it current with
appends, deletes and merges -- on ``local[$(nproc)]`` with one closed-loop
client, checks every result against the pure-Python oracle, and prints the
metrics as the last line of stdout (see perfbench/README.md). Run it from
the repository root; all scratch data lives under ``.perfbench_work/`` and
is removed at exit, traces land in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gate  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("serve", "maintain")
ROUND = len(inputs.QUERY_CLASSES)  # the log holds one query per class per round
WARM_ROUNDS = 1        # untimed rounds before anything is timed
MIN_TIMED_ROUNDS = 2   # timed single-query rounds, at least, whatever --seconds
VARINT_BLOBS = 400     # blob sample for the driver-side codec timings
VARINT_REPS = 5

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

# name -> (unit, better); the order is the print order
E2E = {
    "query_p50_ms": ("ms", "lower"),
    "build_turns_per_s": ("1/s", "higher"),
    "index_bytes_per_text_byte": ("ratio", "lower"),
    "setup_s": ("s", "lower"),
}
PER_LAYER = {
    "process.peak_rss_mb": ("MB", "lower"),
    "query.p90_ms": ("ms", "lower"),
    "query.rare_p50_ms": ("ms", "lower"),
    "query.head_p50_ms": ("ms", "lower"),
    "query.phrase_p50_ms": ("ms", "lower"),
    "session.start_s": ("s", "lower"),
    "index_build.build_index_s": ("s", "lower"),
    "index_build.tokens_per_s": ("1/s", "higher"),
    "index_build.n_postings": ("count", "lower"),
    "tokenizer.postings_s": ("s", "lower"),
    "porter.stem_s": ("s", "lower"),
    "postings_codec.encode_write_s": ("s", "lower"),
    "postings_codec.bytes_per_posting": ("B", "lower"),
    "postings_codec.topk_call_ms": ("ms", "lower"),
    "postings_codec.topk_collect_ms": ("ms", "lower"),
    "postings_codec.phrase_ms": ("ms", "lower"),
    "postings_codec.batch_qps": ("1/s", "higher"),
    "postings_codec.load_blocks_ms": ("ms", "lower"),
    "postings_codec.segments": ("count", "lower"),
    "postings_codec.append_turns_per_s": ("1/s", "higher"),
    "postings_codec.append_s": ("s", "lower"),
    "postings_codec.write_amp": ("ratio", "lower"),
    "postings_codec.delete_s": ("s", "lower"),
    "postings_codec.merge_s": ("s", "lower"),
    "postings_codec.compact_s": ("s", "lower"),
    "varint.decode_postings_per_s": ("1/s", "higher"),
    "varint.encode_postings_per_s": ("1/s", "higher"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.jvm_cpu_s_per_op": ("s", "lower"),
    "driver.py_cpu_s_per_op": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}


def store_bytes(spark, path: str) -> int:
    """Bytes of the data files the store's manifest names (data segments,
    stats, tombstones) -- what a reader of the current store can touch."""
    from cis555_search_engine_spark import fsio

    meta = json.loads(fsio.read_manifest(spark, path))
    dirs = list(meta.get("data_dirs", [])) + list(meta.get("tombstone_dirs", []))
    if meta.get("stats_dir"):
        dirs.append(meta["stats_dir"])
    total = 0
    for d in dirs:
        for base, _, files in os.walk(os.path.join(path, d)):
            total += sum(
                os.path.getsize(os.path.join(base, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


def segment_count(spark, path: str) -> int:
    from cis555_search_engine_spark import fsio

    return len(json.loads(fsio.read_manifest(spark, path)).get("data_dirs", []))


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts if t)


class Run:
    """One benchmark process: inputs, engine session, oracle, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.store = str(work / "store")
        self.tracer = spans.Tracer(trace)
        self.excluded_s = 0.0   # benchmark-side input generation + oracle upkeep
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {c: [] for c in inputs.QUERY_CLASSES}
        self.call_ms: list[float] = []
        self.collect_ms: list[float] = []
        self.load_ms: list[float] = []
        self.append_s: list[float] = []
        self.appended_turns = 0
        self.appended_text_bytes = 0
        self.appended_store_bytes = 0
        self.batch_s = 0.0
        self.max_segments = 1
        self.extra: dict[str, float] = {}   # other measured values, by metric name
        self.query_spans: list[int] = []

        t0 = time.perf_counter()
        self.corpus = inputs.corpus(workload, seed)
        self.log = inputs.query_log(seed, inputs.head_terms(self.corpus))
        self.oracle = gate.LiveOracle(self._docs(self.corpus))
        self.text_len = {(c, t): len(x.encode("utf-8")) for c, t, x in self._docs(self.corpus)}
        self.excluded_s += time.perf_counter() - t0
        self.spark = None

    @staticmethod
    def _docs(pdf) -> list[tuple[str, int, str]]:
        return list(pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))

    # ------------------------------------------------------------ engine

    def start_session(self) -> None:
        from cis555_search_engine_spark.session import get_spark

        tmp = self.work / "tmp"
        with self.tracer.span("session.start", rid="setup"):
            t0 = time.perf_counter()
            cores = len(os.sched_getaffinity(0))
            # shuffle partitions sized to the cores, as the package's own
            # local callers (bench.py, the test session) configure it
            self.spark = get_spark(
                "perfbench",
                cores=cores,
                shuffle_partitions=cores,
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
            self.extra["session.start_s"] = time.perf_counter() - t0
        self.tracer.attach(self.spark)

    def frame(self, pdf):
        return self.spark.createDataFrame(pdf, schema=SCHEMA)

    def bulk_build(self) -> None:
        """Set-up: index the base corpus and persist it as a block store."""
        from cis555_search_engine_spark.operators.index_build import build_index
        from cis555_search_engine_spark.operators.postings_codec import build_blocks, write_blocks

        sdf = self.frame(self.corpus)
        with self.tracer.span("build.bulk", rid="setup"):
            t0 = time.perf_counter()
            with self.tracer.span("index_build.build_index"):
                idx = build_index(sdf)
            t1 = time.perf_counter()
            with self.tracer.span("postings_codec.encode_write"):
                write_blocks(build_blocks(idx), self.store)
            t2 = time.perf_counter()
        for frame in (idx.postings, idx.doc_stats, idx.corpus_stats):
            frame.unpersist()
        self.extra["index_build.build_index_s"] = t1 - t0
        self.extra["index_build.tokens_per_s"] = idx.avg_doc_len * idx.n_docs / (t1 - t0)
        self.extra["index_build.n_postings"] = idx.n_postings
        self.extra["postings_codec.encode_write_s"] = t2 - t1
        self.n_postings = idx.n_postings
        self.extra["build_turns_per_s"] = len(self.corpus) / (t2 - t0)
        self.sdf = sdf

    def load(self):
        from cis555_search_engine_spark.operators.postings_codec import load_blocks

        with self.tracer.span("postings_codec.load_blocks"):
            t0 = time.perf_counter()
            bidx = load_blocks(self.spark, self.store)
            self.load_ms.append((time.perf_counter() - t0) * 1000)
        return bidx

    def append(self, epoch: int) -> None:
        """One maintenance epoch's append: the streaming sink's two calls."""
        from cis555_search_engine_spark.operators.index_build import build_index
        from cis555_search_engine_spark.operators.postings_codec import append_blocks

        t0 = time.perf_counter()
        pdf = inputs.epoch_batch(self.seed, epoch)
        docs = self._docs(pdf)
        self.excluded_s += time.perf_counter() - t0
        sdf = self.frame(pdf)
        before = store_bytes(self.spark, self.store)
        with self.tracer.span("store.append", rid=f"epoch{epoch}"):
            t0 = time.perf_counter()
            with self.tracer.span("index_build.build_index"):
                idx = build_index(sdf, cache="checkpoint")
            with self.tracer.span("postings_codec.append_blocks"):
                append_blocks(self.spark, self.store, idx)
            self.append_s.append(time.perf_counter() - t0)
        self.appended_turns += len(pdf)
        self.appended_text_bytes += text_bytes(pdf["text"])
        self.text_len.update(((c, t), len(x.encode("utf-8"))) for c, t, x in docs)
        self.appended_store_bytes += store_bytes(self.spark, self.store) - before
        self.max_segments = max(self.max_segments, segment_count(self.spark, self.store))
        t0 = time.perf_counter()
        self.oracle.append(docs)
        self.excluded_s += time.perf_counter() - t0

    def delete(self, epoch: int) -> None:
        from cis555_search_engine_spark.operators.postings_codec import delete_docs

        keys = inputs.delete_slice(self.seed, epoch, self.oracle.live_keys())
        kdf = self.spark.createDataFrame(keys, "conv_id string, turn_idx int")
        with self.tracer.span("postings_codec.delete_docs", rid=f"epoch{epoch}"):
            t0 = time.perf_counter()
            n = delete_docs(self.spark, self.store, kdf)
            self.extra["postings_codec.delete_s"] = time.perf_counter() - t0
        self.oracle.delete(keys)
        self._record(n == len(keys), f"delete epoch {epoch}: {n} of {len(keys)} tombstoned")

    def merge(self) -> None:
        from cis555_search_engine_spark.operators.postings_codec import tiered_merge

        with self.tracer.span("postings_codec.tiered_merge", rid="final"):
            t0 = time.perf_counter()
            tiered_merge(self.spark, self.store)
            self.extra["postings_codec.merge_s"] = time.perf_counter() - t0

    def compact(self) -> None:
        """Traced runs only (the full rewrite costs ~15 s): compact the
        store, then check a query against the compacted oracle."""
        from cis555_search_engine_spark.operators.postings_codec import compact_blocks

        with self.tracer.span("postings_codec.compact_blocks", rid="final"):
            t0 = time.perf_counter()
            compact_blocks(self.spark, self.store)
            self.extra["postings_codec.compact_s"] = time.perf_counter() - t0
        self.oracle.compact()
        self.query(self.load(), self.log[0], timed=False)

    # ----------------------------------------------------------- queries

    def _record(self, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(why)

    def query(self, bidx, q, timed: bool = True) -> None:
        """One closed-loop query: the call, then collect(); then the gate."""
        from cis555_search_engine_spark.operators.postings_codec import (
            bm25_topk_blocks,
            phrase_match_blocks,
        )

        tr = self.tracer
        try:
            if timed:
                self.query_spans.append(len(tr.spans))
            with tr.span(f"query.{q.cls}", rid=q.qid):
                t0 = time.perf_counter()
                if q.cls == "phrase":
                    with tr.span("postings_codec.phrase_match_blocks"):
                        rows = phrase_match_blocks(bidx, q.text).collect()
                    t1 = t0
                else:
                    with tr.span("postings_codec.topk_call"):
                        df = bm25_topk_blocks(bidx, q.text, k=q.k)
                    t1 = time.perf_counter()
                    with tr.span("postings_codec.topk_collect"):
                        rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # a failed query is a failed op, not a crash
            self._record(False, f"{q.qid} {q.text!r}: {type(e).__name__}: {e}")
            return
        if timed:
            self.lat[q.cls].append((t2 - t0) * 1000)
            if q.cls != "phrase":
                self.call_ms.append((t1 - t0) * 1000)
                self.collect_ms.append((t2 - t1) * 1000)
        if q.cls == "phrase":
            got = [(r[0], int(r[1]), int(r[2])) for r in rows]
            err = gate.check_phrase(got, self.oracle.phrase_matches(q.text))
        else:
            got = [(r[0], int(r[1]), float(r[2])) for r in rows]
            err = gate.check_ranked(got, self.oracle.bm25_ranking(q.text), q.k)
        self._record(err is None, f"{q.qid} {q.cls} {q.text!r}: {err}")

    def batch(self, bidx) -> None:
        """The whole log once through the batch API."""
        from cis555_search_engine_spark.operators.postings_codec import bm25_topk_many_blocks

        queries = {q.qid: q.text for q in self.log}
        try:
            with self.tracer.span("postings_codec.batch", rid="batch"):
                t0 = time.perf_counter()
                rows = bm25_topk_many_blocks(bidx, queries, k=inputs.BATCH_K).collect()
                self.batch_s = time.perf_counter() - t0
        except Exception as e:
            self._record(False, f"batch: {type(e).__name__}: {e}")
            return
        by_qid: dict[str, list] = {qid: [] for qid in queries}
        for r in rows:
            by_qid[r["qid"]].append((r["conv_id"], int(r["turn_idx"]), float(r["score"])))
        errs = []
        for qid, got in by_qid.items():
            got.sort(key=lambda x: (-x[2], x[0], x[1]))
            err = gate.check_ranked(got, self.oracle.bm25_ranking(queries[qid]), inputs.BATCH_K)
            if err:
                errs.append(f"{qid}: {err}")
        self._record(not errs, f"batch: {errs[:3]}")

    # ------------------------------------------------------ trace probes

    def probes(self, bidx) -> None:
        """Untimed per-layer probes, traced runs only."""
        import numpy as np

        from cis555_search_engine_spark.functions.varint import (
            decode_block,
            decode_blocks_arrays,
            encode_block,
        )
        from cis555_search_engine_spark.operators.index_build import build_postings_doclocal

        forced = {}
        for stem in (False, True):
            with self.tracer.span(f"tokenizer.postings_stem_{stem}", rid="probe"):
                t0 = time.perf_counter()
                build_postings_doclocal(self.sdf, stem=stem).write.format("noop").mode(
                    "overwrite"
                ).save()
                forced[stem] = time.perf_counter() - t0
        self.extra["tokenizer.postings_s"] = forced[False]
        self.extra["porter.stem_s"] = forced[True] - forced[False]

        rows = (
            bidx.blocks.select("term", "block_id", "blob")
            .orderBy("term", "block_id")
            .limit(VARINT_BLOBS)
            .collect()
        )
        span = bidx.block_span
        blobs = [bytes(r["blob"]) for r in rows]
        bases = np.array([int(r["block_id"]) * span for r in rows], dtype=np.int64)
        blocks = [decode_block(b, int(base)) for b, base in zip(blobs, bases)]
        n_post = sum(len(b[0]) for b in blocks)
        dec, enc = [], []
        for _ in range(VARINT_REPS):
            t0 = time.perf_counter()
            decode_blocks_arrays(blobs, bases, True)
            dec.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for (d, t, ln, p), base in zip(blocks, bases):
                encode_block(d, t, ln, p, int(base))
            enc.append(time.perf_counter() - t0)
        self.extra["varint.decode_postings_per_s"] = n_post / statistics.median(dec)
        self.extra["varint.encode_postings_per_s"] = n_post / statistics.median(enc)

    # ---------------------------------------------------------- workloads

    def serve_queries(self, bidx) -> None:
        """Untimed warm-up rounds, so timed queries do not pay the JVM's
        first-call costs; then the closed loop in whole rounds for --seconds
        (and at least MIN_TIMED_ROUNDS), so every class has the same weight
        in the latency figures of every run."""
        for q in self.log[: WARM_ROUNDS * ROUND]:
            self.query(bidx, q, timed=False)
        deadline = time.perf_counter() + self.seconds
        i = WARM_ROUNDS * ROUND
        while i < (WARM_ROUNDS + MIN_TIMED_ROUNDS) * ROUND or time.perf_counter() < deadline:
            for q in self.log[i % len(self.log):][:ROUND]:
                self.query(bidx, q)
            i += ROUND

    def serve(self) -> None:
        bidx = self.load()
        self.serve_queries(bidx)
        if self.tracer.enabled:
            # for the per-layer metrics of the batch API and the maintenance
            # calls; the read-back after compaction checks their result
            self.batch(bidx)
            self.probes(bidx)
            self.append(1)
            self.delete(1)
            self.merge()
            self.compact()

    def maintain(self) -> None:
        # one maintenance epoch, a fixed amount of work so the store's
        # final shape does not depend on speed; then the same serving as
        # `serve`, on the multi-segment, tombstoned store
        self.append(1)
        self.delete(1)
        self.merge()
        bidx = self.load()
        self.serve_queries(bidx)
        if self.tracer.enabled:
            self.batch(bidx)
            self.probes(bidx)
            self.compact()

    def setup_done(self) -> None:
        self.extra["setup_s"] = time.perf_counter() - T_PROCESS - self.excluded_s
        self.extra["postings_codec.bytes_per_posting"] = (
            store_bytes(self.spark, self.store) / self.n_postings
        )

    # ------------------------------------------------------------ results

    def finish(self) -> dict[str, float]:
        """All metrics this run measured, by name."""
        m = dict(self.extra)
        every = [x for c in self.lat.values() for x in c]
        if every:
            m["query_p50_ms"] = statistics.median(every)
            m["query.p90_ms"] = statistics.quantiles(every, n=10, method="inclusive")[8]
        for cls, xs in self.lat.items():
            if xs:
                m[f"query.{cls}_p50_ms"] = statistics.median(xs)
        if self.batch_s:
            m["postings_codec.batch_qps"] = len(self.log) / self.batch_s
        if self.append_s:
            m["postings_codec.append_turns_per_s"] = self.appended_turns / sum(self.append_s)
            m["postings_codec.append_s"] = statistics.median(self.append_s)
            m["postings_codec.write_amp"] = self.appended_store_bytes / self.appended_text_bytes
        live_text = sum(self.text_len[k] for k in self.oracle.live_keys())
        m["index_bytes_per_text_byte"] = store_bytes(self.spark, self.store) / live_text
        m["process.peak_rss_mb"] = spans.tree_peak_rss_mb(os.getpid())
        if self.call_ms:
            m["postings_codec.topk_call_ms"] = statistics.median(self.call_ms)
            m["postings_codec.topk_collect_ms"] = statistics.median(self.collect_ms)
        if self.lat["phrase"]:
            m["postings_codec.phrase_ms"] = statistics.median(self.lat["phrase"])
        m["postings_codec.load_blocks_ms"] = statistics.median(self.load_ms)
        m["postings_codec.segments"] = self.max_segments
        if self.tracer.enabled:
            m.update(self._span_metrics())
        return m

    def _span_metrics(self) -> dict[str, float]:
        spans = self.tracer.spans
        kids: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])

        def subtree(sid: int, key: str) -> float:
            return spans[sid].get(key, 0) + sum(subtree(c, key) for c in kids.get(sid, ()))

        roots = self.query_spans
        traced_s = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
        return {
            "spark.jobs_per_op": statistics.median(subtree(s, "jobs") for s in roots),
            "spark.tasks_per_op": statistics.median(subtree(s, "tasks") for s in roots),
            "spark.jvm_cpu_s_per_op": statistics.median(spans[s]["jvm_cpu_s"] for s in roots),
            "driver.py_cpu_s_per_op": statistics.median(spans[s]["py_cpu_s"] for s in roots),
            "trace.overhead_share": self.tracer.overhead_s / traced_s,
        }


def report(run: Run, metrics: dict[str, float], trace: bool) -> dict:
    wanted = PER_LAYER if trace else E2E
    missing = [k for k in wanted if k not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    n_q = {c: len(v) for c, v in run.lat.items()}
    print(f"# workload={run.workload} seed={run.seed} seconds={run.seconds} trace={int(trace)}")
    print(f"# single queries timed per class: {n_q}; append epochs: {len(run.append_s)}")
    print(f"# ops_failed_ratio {run.failed / max(run.attempted, 1):.6g} "
          f"({run.failed} of {run.attempted} ops)")
    for why in run.failures[:10]:
        print(f"#   FAILED {why}")
    for name, (unit, _) in {**E2E, **PER_LAYER}.items():
        if name in metrics:
            print(f"{name:40s} {metrics[name]:14.6g} {unit}")
    if trace:
        print("# span self-time summary (name, count, total s, self s, jobs, tasks)")
        for name, row in sorted(run.tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"#   {name:40s} {row['count']:5d} {row['total_s']:9.3f} "
                  f"{row['self_s']:9.3f} {row['jobs']:6d} {row['tasks']:7d}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, (u, _) in wanted.items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    run = None
    try:
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        run.start_session()
        run.bulk_build()
        run.setup_done()
        getattr(run, args.workload)()
        metrics = run.finish()
        result = report(run, metrics, bool(args.trace))
        if args.trace:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            run.tracer.write(str(out / f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
