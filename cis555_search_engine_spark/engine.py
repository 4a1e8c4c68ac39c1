"""SearchEngine facade — the reference's end-to-end surface in one class.

Reference user story (SURVEY.md §3): crawl -> index into MySQL -> HTTP
frontend answers keyword queries with tf-idf+pagerank top-80. A user of
that system gets the same lifecycle here:

    eng = SearchEngine.build(spark, corpus_df)            # index in memory
    eng = SearchEngine.build_checkpointed(spark, corpus_df, "/idx")  # resumable
    eng = SearchEngine.load(spark, "/idx")                # reopen later
    eng.search("rice noodle")                  # BM25 top-k (primary)
    eng.search("rice noodle", mode="and")      # posting-list intersection
    eng.search("rice noodle", ranker="tfidf")  # reference parity ranker
    eng.search("rice noodle", ranker="cosine") # reference cosine ranker
    eng.search_blocks("rice noodle")           # compressed block-max path
    eng.query('rice "hash join" -noodle')      # boolean query language
    eng.phrase("rice noodle")                  # positional phrase match
    eng.search_many({"q1": "...", "q2": "..."})  # query log in ONE job
    eng.search_with_snippets("rice noodle")    # results + text previews
    eng.save_block_store("/blk"); eng.open_block_store("/blk")  # persist/serve
    eng.append_to_block_store("/blk", new_docs)  # incremental maintenance
    eng.compact_block_store("/blk")            # LSM-style merge
    eng.merge_block_segments("/blk")           # tiered physical merge
    eng.suggest_next_word("rice")              # next-word completion
    eng.search_wildcard("nood*")               # permuterm wildcard BM25
    eng.search_with_best_snippets("rice noodle")  # coverage-best previews

Results are (conv_id, turn_idx, score) DataFrames with the deterministic
(score DESC, conv_id, turn_idx) tie-break throughout.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators.checkpointed_build import checkpointed_postings_build, finalize_index
from .operators.index_build import DOC_KEY, InvertedIndex, build_index
from .operators.postings_codec import (
    BlockIndex,
    append_blocks,
    bm25_topk_blocks,
    bm25_topk_many_blocks,
    build_blocks,
    compact_blocks,
    load_blocks,
    phrase_match_blocks,
    write_blocks,
)
from .operators.scoring import bm25_topk, bm25_topk_many, cosine_ref_topk, tfidf_ref_topk, with_snippets


def _conjunctive(mode: str) -> bool:
    """The kernels' ``conjunctive`` flag for a facade ``mode``. Any mode
    but "or"/"and" raises: reading it as OR would serve a disjunctive
    result for a request such as mode="AND"."""
    if mode not in ("or", "and"):
        raise ValueError(f"unknown mode {mode!r} (or|and)")
    return mode == "and"


@dataclass
class SearchEngine:
    spark: SparkSession
    index: InvertedIndex
    _blocks: BlockIndex | None = None
    corpus: DataFrame | None = None  # kept for snippet projection

    # ---------------------------------------------------------- build

    @classmethod
    def build(cls, spark: SparkSession, corpus: DataFrame, **kw) -> "SearchEngine":
        return cls(spark, build_index(corpus, **kw), corpus=corpus)

    @classmethod
    def build_checkpointed(
        cls, spark: SparkSession, corpus: DataFrame, out_dir: str, n_groups: int = 16, **kw
    ) -> "SearchEngine":
        """Resumable build: killed mid-way, re-calling with the same args
        skips completed groups (manifests + lineage in out_dir)."""
        checkpointed_postings_build(corpus, out_dir, n_groups=n_groups, **kw)
        return cls(spark, finalize_index(spark, out_dir))

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "SearchEngine":
        """Reopen a checkpointed index directory."""
        return cls(spark, finalize_index(spark, out_dir, write_stats=False))

    # ---------------------------------------------------------- query

    def search(
        self, query: str, k: int = 80, ranker: str = "bm25", mode: str = "or"
    ) -> DataFrame:
        conjunctive = _conjunctive(mode)
        if ranker == "bm25":
            return bm25_topk(self.index, query, k=k, conjunctive=conjunctive)
        if conjunctive:
            # the parity rankers reproduce the reference's OR-only SQL —
            # returning disjunctive results for an explicit mode="and"
            # request would be a silent semantics swap
            raise ValueError(f"mode={mode!r} is only supported by ranker='bm25'")
        if ranker == "tfidf":
            return tfidf_ref_topk(self.index, query, k=k)
        if ranker == "cosine":
            return cosine_ref_topk(self.index, query, k=k)
        raise ValueError(f"unknown ranker {ranker!r} (bm25|tfidf|cosine)")

    def blocks(self, block_span: int | None = None) -> BlockIndex:
        if self._blocks is not None:
            if block_span is not None and block_span != self._blocks.block_span:
                # silently returning an index built at a different span
                # would hand the caller wrong block granularity
                raise ValueError(
                    f"block index already built with block_span="
                    f"{self._blocks.block_span}; open a new engine (or "
                    f"open_block_store) for span {block_span}"
                )
            return self._blocks
        kw = {"block_span": block_span} if block_span is not None else {}
        self._blocks = build_blocks(self.index, **kw).cache()
        return self._blocks

    def search_blocks(self, query: str, k: int = 80, mode: str = "or", prune: bool = True) -> DataFrame:
        conjunctive = _conjunctive(mode)
        return bm25_topk_blocks(
            self.blocks(), query, k=k, prune=prune, conjunctive=conjunctive
        )

    def phrase(self, phrase: str) -> DataFrame:
        return phrase_match_blocks(self.blocks(), phrase)

    def query(self, q: str, k: int = 80, mode: str = "or") -> DataFrame:
        """Boolean query language over the block index:
        ``hash join "merge sort" -noodle -"rice noodle"`` — bare terms
        score, quoted phrases are required, '-' negates a term/phrase.
        Exact top-k under block-max pruning (every boolean part is
        applied before the pruning bar)."""
        from .operators.postings_codec import boolean_topk_blocks

        conjunctive = _conjunctive(mode)
        return boolean_topk_blocks(self.blocks(), q, k=k, conjunctive=conjunctive)

    # ------------------------------------------- batch / presentation

    def search_many(self, queries: dict[str, str], k: int = 10, **kw) -> DataFrame:
        """Score a whole query log in ONE job (qid, doc_key..., score)."""
        return bm25_topk_many(self.index, queries, k=k, **kw)

    def search_many_blocks(self, queries: dict[str, str], k: int = 10, **kw) -> DataFrame:
        """Batch scoring served from the compressed block index."""
        return bm25_topk_many_blocks(self.blocks(), queries, k=k, **kw)

    def search_with_snippets(self, query: str, k: int = 20, **kw) -> DataFrame:
        """Top-k plus a query-centered text preview per hit (requires the
        engine to have been built from a corpus DataFrame)."""
        if self.corpus is None:
            raise ValueError("snippets need the corpus: build the engine with SearchEngine.build")
        top = self.search(query, k=k, **kw)
        return with_snippets(top, self.corpus, query, self.index.doc_key)

    # ------------------------------------- persisted block-index store

    def save_block_store(self, path: str, n_buckets: int | None = None) -> None:
        """Persist the compressed block index bucket-partitioned by term
        (the index-once/query-many serving layout); ``n_buckets=None``
        sizes the fan-out to the store (`write_blocks`)."""
        write_blocks(self.blocks(), path, n_buckets=n_buckets)

    def open_block_store(self, path: str) -> "SearchEngine":
        """Serve block queries from a persisted layout (bucket-pruned
        scans) instead of the in-memory blocks (whose cache is released
        — no orphaned pinned datasets when switching stores)."""
        if self._blocks is not None:
            self._blocks.blocks.unpersist()
            self._blocks.docid_map.unpersist()
        self._blocks = load_blocks(self.spark, path)
        return self

    def append_to_block_store(self, path: str, new_corpus: DataFrame, **kw) -> "SearchEngine":
        """Incrementally append new documents to a persisted block store
        (segment append + stats-level merge; serving stays exact)."""
        # cache="checkpoint": the one-shot segment frames are consumed by
        # append_blocks and dereferenced — the default .cache() would pin
        # three session-lifetime entries per append (the leak class the
        # streaming sink and pagerank release logic already guard)
        kw.setdefault("cache", "checkpoint")
        seg = build_index(new_corpus, doc_key=self.index.doc_key, **kw)
        append_blocks(self.spark, path, seg)
        return self.open_block_store(path)

    def compact_block_store(self, path: str) -> "SearchEngine":
        """LSM-style merge: restore tight pruning bounds and fold
        segment-boundary duplicate blocks."""
        compact_blocks(self.spark, path)
        return self.open_block_store(path)

    # ------------------------------------ round-5b serving extensions

    def suggest_next_word(self, prev_term: str, k: int = 10) -> DataFrame:
        """Next-word query completion from the index's positional
        postings (term, follow_cnt)."""
        from .operators.query_ops import next_word_suggest

        return next_word_suggest(self.index, prev_term, k=k)

    def search_wildcard(self, pattern: str, k: int = 40, max_expansions: int = 20) -> DataFrame:
        """BM25 top-k for a single-`*` wildcard query (permuterm
        expansion, OR semantics over the max_expansions best matches)."""
        from .operators.query_ops import wildcard_topk

        return wildcard_topk(self.index, pattern, k=k, max_expansions=max_expansions)

    def wildcard_terms(self, pattern: str, k: int = 20) -> DataFrame:
        """The matching dictionary terms for a single-`*` wildcard."""
        from .operators.query_ops import wildcard_terms

        return wildcard_terms(self.index, pattern, k=k)

    def search_with_best_snippets(
        self, query: str, k: int = 10, window: int = 10, **kw
    ) -> DataFrame:
        """Top-k plus the position-aware best-coverage snippet per hit
        (the window-token span covering the most distinct query terms)."""
        from .operators.scoring import best_window_snippets

        if self.corpus is None:
            raise ValueError("snippets need the corpus: build the engine with SearchEngine.build")
        return best_window_snippets(
            self.index, self.corpus, query, k=k, window=window, **kw
        )

    def merge_block_segments(self, path: str, **kw) -> "SearchEngine":
        """Run the tiered segment-merge policy to a fixpoint on a
        persisted store (physical consolidation only — results
        unchanged), then serve from the merged layout."""
        from .operators.postings_codec import tiered_merge

        tiered_merge(self.spark, path, **kw)
        return self.open_block_store(path)
