"""Seeded benchmark inputs: transcript corpora and query logs.

Everything here is a pure function of the run seed (plus fixed sizes), so
the same ``--seed`` gives byte-identical inputs and another seed gives
another corpus and another query log of the same classes. The engine only
ever receives these generated inputs.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from cis555_search_engine_spark.functions.tokenizer import tokenize_py
from cis555_search_engine_spark.synth import REFERENCE_QUERIES, generate_transcripts

# Turn-length skew per workload: `serve` is mildly heavy-tailed, `maintain`
# bootstraps from uniform lengths. At 2.5k turns every Spark job is
# dominated by its fixed cost on a 4-core box.
WORKLOAD_SKEW = {"serve": 0.5, "maintain": 0.0}
BASE_TURNS = 2500    # base corpus of every workload
EPOCH_TURNS = 300    # turns appended per maintenance epoch
HEAD_POOL = 12       # top Zipf ranks head queries draw from
LOG_LEN = 60         # queries per generated log (the loop cycles through it)
DELETE_FRACTION = 0.02

RARE_K = 80
HEAD_K = 10
BATCH_K = 10

PHRASE_QUERIES = [q for q in REFERENCE_QUERIES if " " in q]
QUERY_CLASSES = ("rare", "head", "phrase")


@dataclass(frozen=True)
class Query:
    qid: str
    cls: str   # one of QUERY_CLASSES
    text: str
    k: int     # top-k for BM25 classes; unused for phrases


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream])


def _derived_seed(seed: int, *stream: int) -> int:
    return int(np.random.SeedSequence([seed, *stream]).generate_state(1)[0])


def _turns(n_turns: int, seed: int, length_skew: float) -> pd.DataFrame:
    """The first ``n_turns`` turns of a generated corpus: a fixed turn
    count keeps per-turn rates comparable across seeds, since every build
    and append here is dominated by its fixed Spark cost."""
    df = generate_transcripts(n_turns // 8 + 1, seed=seed, length_skew=length_skew)
    if len(df) < n_turns:
        raise ValueError(f"corpus too short: {len(df)} < {n_turns} turns")
    return df.iloc[:n_turns].reset_index(drop=True)


def corpus(workload: str, seed: int) -> pd.DataFrame:
    """The workload's base corpus (BASELINE input_hint schema)."""
    return _turns(BASE_TURNS, _derived_seed(seed, 0), WORKLOAD_SKEW[workload])


def epoch_batch(seed: int, epoch: int) -> pd.DataFrame:
    """New turns for append epoch ``epoch``; conv ids are prefixed with the
    epoch so appends stay key-disjoint from the store."""
    df = _turns(EPOCH_TURNS, _derived_seed(seed, 1, epoch), 0.0)
    df["conv_id"] = f"e{epoch:04d}-" + df["conv_id"]
    return df


def head_terms(corpus_df: pd.DataFrame, n: int = HEAD_POOL) -> list[str]:
    """The corpus's most frequent raw tokens (the top Zipf ranks), minus
    the planted reference-query terms."""
    planted = {t for q in REFERENCE_QUERIES for t in tokenize_py(q)}
    counts = Counter(t for text in corpus_df["text"] for t in tokenize_py(text))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [t for t, _ in ranked if t not in planted and len(t) > 1][:n]


def query_log(seed: int, heads: list[str], n: int = LOG_LEN) -> list[Query]:
    """Seeded log cycling rare / head / phrase in a shuffled order per
    round of three, so every prefix of the log mixes all classes."""
    rng = _rng(seed, 2)
    out: list[Query] = []
    while len(out) < n:
        for cls in rng.permutation(QUERY_CLASSES):
            qid = f"q{len(out):03d}"
            if cls == "rare":
                out.append(Query(qid, "rare", str(rng.choice(REFERENCE_QUERIES)), RARE_K))
            elif cls == "head":
                size = int(rng.integers(2, 4))
                terms = rng.choice(heads, size=size, replace=False)
                out.append(Query(qid, "head", " ".join(terms), HEAD_K))
            else:
                out.append(Query(qid, "phrase", str(rng.choice(PHRASE_QUERIES)), 0))
    return out[:n]


def delete_slice(seed: int, epoch: int, live_keys: list[tuple[str, int]]) -> list[tuple[str, int]]:
    """A seeded sample of live doc keys to tombstone in ``epoch``."""
    rng = _rng(seed, 3, epoch)
    n = max(1, int(len(live_keys) * DELETE_FRACTION))
    picks = rng.choice(len(live_keys), size=n, replace=False)
    return [live_keys[i] for i in sorted(picks)]
