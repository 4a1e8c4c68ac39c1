"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gate  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

from cis555_search_engine_spark import oracle  # noqa: E402
from cis555_search_engine_spark.synth import generate_transcripts  # noqa: E402


def _docs(pdf):
    return list(pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_inputs_are_a_function_of_the_seed(workload):
    a, b = inputs.corpus(workload, 5), inputs.corpus(workload, 5)
    assert a.equals(b)
    assert not a["text"].equals(inputs.corpus(workload, 6)["text"])
    assert inputs.epoch_batch(5, 2).equals(inputs.epoch_batch(5, 2))
    assert not inputs.epoch_batch(5, 2)["text"].equals(inputs.epoch_batch(5, 3)["text"])

    heads = inputs.head_terms(a)
    assert inputs.query_log(5, heads) == inputs.query_log(5, heads)
    assert inputs.query_log(5, heads) != inputs.query_log(6, heads)


def test_every_query_class_is_non_empty():
    pdf = inputs.corpus("serve", 3)
    heads = inputs.head_terms(pdf)
    assert len(heads) == inputs.HEAD_POOL
    log = inputs.query_log(3, heads)
    for cls in inputs.QUERY_CLASSES:
        assert [q for q in log if q.cls == cls], cls
    # every round of three holds one query of each class, so the warm-up
    # round and every short timed window cover all classes
    for i in range(0, len(log) - 2, 3):
        assert {q.cls for q in log[i:i + 3]} == set(inputs.QUERY_CLASSES)
    assert all(q.k == inputs.RARE_K for q in log if q.cls == "rare")
    assert all(q.k == inputs.HEAD_K for q in log if q.cls == "head")
    assert all(2 <= len(q.text.split()) <= 3 for q in log if q.cls == "head")
    assert all(" " in q.text for q in log if q.cls == "phrase")


def test_metric_names_and_benchmark_json_agree():
    name_re = re.compile(r"[A-Za-z0-9_.-]+")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for table, listed in ((run.E2E, spec["end_to_end"]), (run.PER_LAYER, spec["per_layer"])):
        assert [m["name"] for m in listed] == list(table)
        for m in listed:
            assert name_re.fullmatch(m["name"]) and len(m["name"]) <= 64, m
            assert (m["unit"], m["better"]) == table[m["name"]], m
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def live():
    return gate.LiveOracle(_docs(generate_transcripts(40, seed=9)))


def test_gate_accepts_the_oracle_and_flags_perturbations(live):
    ranking = live.bm25_ranking("rice noodle")
    k = 10
    top = ranking[:k]
    assert len(ranking) > k + 1
    assert gate.check_ranked(list(top), ranking, k) is None

    c, t, s = top[3]
    assert gate.check_ranked(top[:3] + [(c, t, s * (1 + 1e-6))] + top[4:], ranking, k)
    assert gate.check_ranked(top[:-1], ranking, k)
    outsider = ranking[-1]
    assert gate.check_ranked(top[:-1] + [outsider], ranking, k)
    i = next(i for i in range(k - 1) if top[i][2] != top[i + 1][2])
    swapped = top[:i] + [top[i + 1], top[i]] + top[i + 2:]
    assert gate.check_ranked(swapped, ranking, k)
    c, t, s = top[0]
    assert gate.check_ranked([(c + "x", t, s)] + top[1:], ranking, k)

    phrases = live.phrase_matches("oil price")
    assert gate.check_phrase(list(phrases), phrases) is None
    if phrases:
        c, t, n = phrases[0]
        assert gate.check_phrase([(c, t, n + 1)] + phrases[1:], phrases)


def test_live_oracle_tracks_appends_deletes_and_compaction():
    base = _docs(generate_transcripts(30, seed=1))
    extra = _docs(inputs.epoch_batch(1, 1))
    live = gate.LiveOracle(base)
    live.append(extra)
    full = oracle.build_index(base + extra)
    q = "zoom weather"
    assert live.bm25_ranking(q) == oracle.score_bm25(full, q, k=full.n_docs)

    dead = [(c, t) for c, t, _ in base[:7]]
    live.delete(dead)
    # before compaction deleted docs leave the results but not the stats
    want = [r for r in oracle.score_bm25(full, q, k=full.n_docs) if (r[0], r[1]) not in dead]
    assert live.bm25_ranking(q) == want

    live.compact()
    survivors = oracle.build_index(base[7:] + extra)
    assert live.bm25_ranking(q) == oracle.score_bm25(survivors, q, k=survivors.n_docs)
    assert live.idx.df == survivors.df
    assert live.idx.n_postings == survivors.n_postings
