"""Oracle gate: every timed result is checked against the pure-Python
reference (`oracle.score_bm25`, and the oracle's positions for phrases)
over the store's live document set. Checks run outside every timing.

The store's delete semantics are modelled exactly: a tombstoned doc
vanishes from results but keeps counting in the corpus statistics until
`compact_blocks` recomputes them from the survivors.
"""

from __future__ import annotations

import math

from cis555_search_engine_spark import oracle
from cis555_search_engine_spark.functions.porter import porter_stem
from cis555_search_engine_spark.functions.tokenizer import tokenize_py

# Scores must agree to this relative tolerance (plus the same absolute
# slack near 0): engine and oracle sum the same BM25 partials in a
# different order, which moves the last few bits only.
REL_TOL = 1e-9

Key = tuple[str, int]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)


class LiveOracle:
    """`oracle.OracleIndex` over the store's statistics set, plus the set
    of tombstoned keys, updated incrementally as the store is maintained."""

    def __init__(self, docs: list[tuple[str, int, str]]):
        self.idx = oracle.build_index(docs)
        self.dead: set[Key] = set()
        self._bm25_cache: dict[str, list[tuple[str, int, float]]] = {}

    def append(self, docs: list[tuple[str, int, str]]) -> None:
        add = oracle.build_index(docs)
        idx = self.idx
        for d in ("doc_tf", "doc_pos", "doc_len", "max_tf"):
            getattr(idx, d).update(getattr(add, d))
        idx.df.update(add.df)
        idx.n_docs += add.n_docs
        idx.n_postings += add.n_postings
        self._bm25_cache.clear()

    def delete(self, keys: list[Key]) -> None:
        self.dead.update(keys)
        self._bm25_cache.clear()

    def compact(self) -> None:
        """Drop tombstoned docs from the statistics, as compaction does."""
        idx = self.idx
        for key in self.dead:
            tf = idx.doc_tf.pop(key)
            idx.df.subtract(tf.keys())
            idx.n_postings -= len(tf)
            idx.n_docs -= 1
            for d in (idx.doc_pos, idx.doc_len, idx.max_tf):
                del d[key]
        idx.df = +idx.df  # drop terms whose df fell to 0
        self.dead.clear()
        self._bm25_cache.clear()

    def live_keys(self) -> list[Key]:
        return sorted(k for k in self.idx.doc_len if k not in self.dead)

    def bm25_ranking(self, query: str) -> list[tuple[str, int, float]]:
        """Every live matching doc, ranked as `oracle.score_bm25` ranks."""
        got = self._bm25_cache.get(query)
        if got is None:
            full = oracle.score_bm25(self.idx, query, k=self.idx.n_docs)
            got = [r for r in full if (r[0], r[1]) not in self.dead]
            self._bm25_cache[query] = got
        return got

    def phrase_matches(self, phrase: str) -> list[tuple[str, int, int]]:
        """(conv_id, turn_idx, occurrences) of live docs holding the stemmed
        phrase at consecutive positions, in key order."""
        terms = [porter_stem(t) for t in tokenize_py(phrase)]
        out = []
        for key, pos in self.idx.doc_pos.items():
            if key in self.dead or not all(t in pos for t in terms):
                continue
            later = [set(pos[t]) for t in terms[1:]]
            n = sum(
                all(p + i + 1 in s for i, s in enumerate(later)) for p in pos[terms[0]]
            )
            if n:
                out.append((key[0], key[1], n))
        return sorted(out)


def check_ranked(
    got: list[tuple[str, int, float]], ranking: list[tuple[str, int, float]], k: int
) -> str | None:
    """None when ``got`` is the oracle's top-k: same length, the same score
    at every rank, and each doc one whose oracle score equals its own, so
    keys may only trade places with exactly tied docs. Otherwise a reason."""
    want = ranking[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    score_of = {(c, t): s for c, t, s in ranking}
    seen: set[Key] = set()
    for i, ((c, t, s), (_, _, ws)) in enumerate(zip(got, want)):
        if (c, t) in seen:
            return f"rank {i}: duplicate doc {(c, t)}"
        seen.add((c, t))
        if not _close(s, ws):
            return f"rank {i}: score {s!r}, oracle {ws!r}"
        os_ = score_of.get((c, t))
        if os_ is None or not _close(s, os_):
            return f"rank {i}: doc {(c, t)} scored {s!r}, oracle {os_!r}"
    return None


def check_phrase(got: list[tuple[str, int, int]], want: list[tuple[str, int, int]]) -> str | None:
    if got != want:
        return f"{len(got)} phrase matches, oracle has {len(want)}"
    return None
