"""Text-analysis operators over a document corpus.

All four are pure native column expressions (no UDF, whole-stage
codegen) and each has an exact ANSI-SQL twin in entry_queries.py:

- `lang_id`: stopword-list n-gram heuristic — per-language hit counts
  over the token set, argmax with deterministic tie order. (The
  reference's page-quality filter checked the `lang` attr of the HTML
  tag, `crawler/XPathCrawler.java:274-316`; corpus text has no markup,
  so the heuristic replaces the attribute.)
- `quality_score`: length / punctuation / stopword-ratio features
  blended into one score (the reference's thresholds — total text >=
  5000 chars etc., XPathCrawler.java:274-316 — become features instead
  of hard gates).
- `token_counts`: whitespace tokens + a BPE-ish subword proxy count
  (runs of letters, digits, or single punctuation — the standard
  pre-tokenizer regex shape).
- `fingerprint`: order-sensitive rolling document fingerprint from
  per-token character codes — cheap dedup/versioning key that, unlike a
  hash-library digest, is reproducible in plain SQL on any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists (public common words)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "en", "que"],
}
LANG_ORDER = ["en", "de", "es", "fr"]  # deterministic tie order


def _toks(text_col):
    """Lowercased whitespace tokens with EMPTY TOKENS REMOVED: a bare
    split keeps '' for leading/trailing whitespace (and for empty text),
    which silently corrupts every count built on it (n_tokens off by
    one, shifted fingerprint positions, a nonzero quality score for
    empty text). The DuckDB twins apply the same filter
    (list_filter(string_split(...), x -> x <> '')) — which also makes
    single-space SQL splitting agree with \\s+ on interior runs; tabs/
    newlines inside text remain the one disclosed divergence (absent
    from the gate corpus)."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def lang_hit_cols(toks) -> dict[str, "F.Column"]:
    """Per-language stopword OCCURRENCE counts (not distinct hits) from
    a staged lowercase token-array attribute, for `lang_id`."""
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_pred_expr():
    """(pred_lang, best_hits) exprs over ALREADY-STAGED h_<lang> columns
    (staging matters: each count is evaluated once, and pred references
    the column attributes, not re-inlined size(filter(...)) trees)."""
    best_hits = F.greatest(*[F.col(f"h_{lang}") for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties
        pred = F.when((F.col(f"h_{lang}") == best_hits) & (best_hits > 0), F.lit(lang)).otherwise(pred)
    return pred, best_hits


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, pred_lang, hits) — argmax stopword hits; ties -> LANG_ORDER,
    zero hits -> 'und' (undetermined)."""
    occ_cols = lang_hit_cols(_toks(F.col(text_col)))
    out = docs.select(F.col(id_col).alias("id"), *[occ_cols[lang].alias(f"h_{lang}") for lang in LANG_ORDER])
    pred, best_hits = lang_pred_expr()
    return out.select("id", pred.alias("pred_lang"), best_hits.cast("long").alias("hits"))


def quality_part_cols(toks) -> dict[str, "F.Column"]:
    """Raw quality features (n_tok, n_stop, n_distinct) from a staged
    lowercase token-array attribute, for `quality_score`."""
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    return {
        "n_tok": F.size(toks),
        "n_stop": F.size(F.filter(toks, lambda t: t.isin(all_stop))),
        "n_distinct": F.size(F.array_distinct(toks)),
    }


def quality_score_expr(n_tok, n_stop, n_distinct):
    """The blended score (UNrounded) from staged feature attributes:
    0.4*min(n_tok/50, 1) + 0.3*min(stop_ratio*5, 1) + 0.3*ttr.
    A token-less doc (empty/whitespace text) scores 0.0 — and must not
    divide by zero under ANSI mode."""
    stop_ratio = _zero_safe_ratio(n_stop, n_tok)
    ttr = _zero_safe_ratio(n_distinct, n_tok)
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(
        0.4 * F.least(n_tok / F.lit(50.0), F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.3 * ttr
    )


def _zero_safe_ratio(num, denom):
    """num/denom with 0.0 for an empty doc (ANSI division would raise)."""
    return F.when(denom == 0, F.lit(0.0)).otherwise(num / denom)


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, stop_ratio, ttr, score).

    score = 0.4*min(n_tokens/50, 1) + 0.3*stop_ratio_clip + 0.3*ttr, with
    stop_ratio_clip = min(stop_ratio*5, 1) and ttr = distinct/total
    tokens. Deterministic and SQL-twinnable.
    """
    toks = _toks(F.col(text_col))
    parts = quality_part_cols(toks)
    n_tok, n_stop, n_distinct = parts["n_tok"], parts["n_stop"], parts["n_distinct"]
    score = quality_score_expr(n_tok, n_stop, n_distinct)
    return docs.select(
        F.col(id_col).alias("id"),
        F.length(text_col).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(_zero_safe_ratio(n_stop, n_tok), 6).alias("stop_ratio"),
        F.round(_zero_safe_ratio(n_distinct, n_tok), 6).alias("ttr"),
        F.round(score, 6).alias("score"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, ws_tokens, subword_tokens) — whitespace count and a BPE-ish
    pre-tokenizer proxy: runs of letters, runs of digits, or a single
    non-space punctuation each count as one subword."""
    # split('') returns [''] (size 1) — empty / whitespace-only text
    # must count 0, matching len(text.strip().split())
    ws = F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""))
    sub = F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    return docs.select(
        F.col(id_col).alias("id"),
        ws.cast("long").alias("ws_tokens"),
        sub.cast("long").alias("subword_tokens"),
    )


def zipf_stats(
    wordcount: DataFrame,
    top_n: int = 1000,
    term_col: str = "term",
    count_col: str = "cnt",
) -> DataFrame:
    """One-row corpus diagnostics over a (term, count) wordcount frame:
    least-squares slope of ln(freq) vs ln(rank) across the `top_n` most
    frequent terms (Zipf's law predicts ≈ -1 for natural text; a slope
    far from it flags templated/boilerplate or synthetic corpora before
    any training run), plus exact vocab size and token total.

    Scale shape: the top-`top_n` cut is orderBy+limit, which Spark
    plans as TakeOrderedAndProject (per-partition heaps, one merge of
    top_n rows) — never a global sort of the vocab-sized frame; the
    rank window then runs over AT MOST top_n rows (one bounded task,
    same discipline as the k-boundary joins). Ties break on term so the
    ranks — and therefore the fit — are bit-deterministic under any
    partitioning. n_vocab / n_tokens aggregate the full frame with
    map-side partials. The slope is rounded to 4 dp: regr_slope's
    double accumulation order differs across engines/partitionings and
    the trailing bits are noise, not signal.
    """
    from pyspark.sql import Window

    # stage the wordcount ONCE (mint_doc_ids pattern): the top-n cut and
    # the totals agg are two consumers of the same subtree — unstaged,
    # each action re-tokenizes and re-aggregates the whole corpus
    wordcount = wordcount.localCheckpoint(eager=True)
    order = [F.desc(count_col), F.asc(term_col)]
    top = wordcount.orderBy(*order).limit(top_n)
    ranked = top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    fit = ranked.agg(
        F.round(
            F.regr_slope(F.log(F.col(count_col)), F.log("rank")), 4
        ).alias("zipf_slope"),
        F.count(F.lit(1)).cast("long").alias("n_terms_fit"),
    )
    totals = wordcount.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(count_col).cast("long").alias("n_tokens"),
    )
    return fit.crossJoin(totals)


def _bigrams(toks):
    """array<struct<w1,w2>> of ADJACENT token pairs, built narrowly from
    two slices of the per-doc token array. The alternative — exploding
    the positioned token stream and self-joining on pos+1 — shuffles the
    whole corpus twice on doc_id; this is a pure per-row expression."""
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def collocations(
    docs: DataFrame,
    k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, pair_cnt, pmi) — top-k adjacent-bigram collocations by
    pointwise mutual information over the index tokenizer's token stream
    (Church & Hanks 1990 word-association norms; the standard phrase-
    mining pass a training-data pipeline runs before tokenizer/vocab
    decisions — multiword units, boilerplate phrases, templated spans).

    pmi(w1,w2) = ln P(w1,w2) - ln P(w1) - ln P(w2)
               = ln c12 - ln Nb - ln c1 - ln c2 + 2 ln N

    with c12 the adjacent-pair count, Nb the total bigram occurrences,
    c1/c2 unigram counts, N total tokens. `min_count` drops hapax pairs
    (raw PMI degenerates to a rare-pair detector without it).

    Scale shape: bigrams come from zip_with over two slices of the
    per-doc token array — narrow, no self-join of the exploded token
    stream (a pos+1 self-join would shuffle the whole corpus twice on
    doc_id). One hash agg keyed by (w1, w2) — doc-id-free, so partial
    aggregation collapses the stream map-side; one vocab-sized unigram
    agg; the pair frame is min_count-filtered BEFORE the two unigram
    equi-joins and those joins carry NO broadcast hint (vocab-sized
    side — Heaps' law at 100 TB makes a forced stats ship multi-GB; AQE
    broadcasts the filtered pair side when genuinely small). Totals are
    one-row frames. Final top-k is orderBy+limit → TakeOrderedAndProject
    (per-partition heaps), never a global sort. Ties break on (w1, w2)
    so the cut is deterministic; pmi is rounded to 6 dp because libm vs
    JVM ln differ in trailing ulps.
    """
    from ..functions.tokenizer import tokenize_col

    arrays = docs.select(tokenize_col(F.col(text_col)).alias("toks"))
    pairs = (
        arrays.filter(F.size("toks") >= 2)
        .select(F.explode(_bigrams(F.col("toks"))).alias("p"))
        .select("p.w1", "p.w2")
    )
    # stage both count frames (mint_doc_ids pattern): big feeds the
    # totals agg AND the filtered join, uni feeds the totals agg AND two
    # joins — unstaged, every consumer re-tokenizes the whole corpus
    big = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("pair_cnt")
    ).localCheckpoint(eager=True)
    uni = (
        arrays.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ).localCheckpoint(eager=True)
    # totals BEFORE the min_count filter: Nb is the bigram mass, not the
    # surviving-pair mass (P(w1,w2) must stay a probability)
    tots = big.agg(
        F.sum("pair_cnt").cast("double").alias("n_big")
    ).crossJoin(uni.agg(F.sum("cnt").cast("double").alias("n_tok")))
    pmi = F.round(
        F.log("pair_cnt") - F.log("n_big") - F.log("u1cnt") - F.log("u2cnt")
        + 2 * F.log("n_tok"),
        6,
    )
    return (
        big.filter(F.col("pair_cnt") >= min_count)
        .join(uni.withColumnRenamed("term", "w1").withColumnRenamed("cnt", "u1cnt"), "w1")
        .join(uni.withColumnRenamed("term", "w2").withColumnRenamed("cnt", "u2cnt"), "w2")
        .crossJoin(F.broadcast(tots))
        .select("w1", "w2", "pair_cnt", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def lm_perplexity(
    docs: DataFrame,
    k_smooth: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, avg_nll, ppl) — per-document perplexity under an
    add-k-smoothed bigram LM trained on the corpus itself: the
    CCNet-style (Wenzek et al. 2020) quality-filtering signal — garbled,
    templated, or off-distribution documents score far from the corpus
    mode. (CCNet scores against an external KenLM; with no external
    models in this environment the corpus-trained LM is the
    self-contained variant — still a strong outlier detector because a
    single doc's own mass barely moves corpus-level counts.)

        P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)
        avg_nll(doc) = -Σ c_doc(w1,w2)·ln P(w2|w1) / Σ c_doc(w1,w2)
        ppl = exp(avg_nll)

    Docs with < 2 tokens have no bigrams and are absent from the output
    (no LM evidence either way — callers left-join and impute).

    Scale shape: bigrams come from the narrow `_bigrams` expression;
    per-doc pair counts are aggregated FIRST (one shuffle keyed by
    (id, w1, w2) — doc-id in the key kills hot-pair skew, partial aggs
    collapse repeats map-side), the global model is derived FROM those
    local counts (second agg reads the much smaller frame, not the raw
    stream), and the model join back is a plain (w1, w2) equi-join with
    NO broadcast hint (the model is bigram-vocab-sized). The vocab count
    V is a one-row broadcast. avg_nll is rounded to 6 dp (partial-sum
    order noise), ppl derived from the ROUNDED nll so both engines
    exponentiate the identical double.
    """
    from ..functions.tokenizer import tokenize_col

    arrays = docs.select(
        F.col(id_col).alias("id"), tokenize_col(F.col(text_col)).alias("toks")
    )
    # stage the two count frames (mint_doc_ids pattern): dp feeds the
    # model derivation AND the final join, uni feeds the model join AND
    # the vocab count — unstaged, each consumer re-tokenizes the corpus
    # (the "derived FROM the local counts" claim below is only true of a
    # materialized frame, not a shared lazy subtree)
    dp = (
        arrays.filter(F.size("toks") >= 2)
        .select("id", F.explode(_bigrams(F.col("toks"))).alias("p"))
        .select("id", "p.w1", "p.w2")
        .groupBy("id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    ).localCheckpoint(eager=True)
    uni = (
        arrays.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ).localCheckpoint(eager=True)
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    model = (
        dp.groupBy("w1", "w2")
        .agg(F.sum("c").cast("long").alias("c12"))
        .join(uni.withColumnRenamed("term", "w1").withColumnRenamed("cnt", "c1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log((F.col("c12") + k_smooth) / (F.col("c1") + k_smooth * F.col("v"))).alias("lp"),
        )
    )
    nll = F.round(-F.sum(F.col("c") * F.col("lp")) / F.sum("c"), 6)
    return (
        dp.join(model, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            nll.alias("avg_nll"),
        )
        .select("id", "n_bigrams", "avg_nll", F.round(F.exp("avg_nll"), 4).alias("ppl"))
    )


def vocab_coverage(
    wordcount: DataFrame,
    sizes: tuple[int, ...] = (100, 1000, 10000),
    term_col: str = "term",
    count_col: str = "cnt",
) -> DataFrame:
    """(vocab_size, n_terms, covered_tokens, coverage) — what fraction of
    the corpus token mass a top-V vocabulary captures, for each candidate
    V: the tokenizer vocab-sizing diagnostic (pick V where the marginal
    coverage flattens; 1 − coverage is the OOV rate a V-entry vocab
    would pay). n_terms = min(V, |vocab|) is the cut actually taken.

    Scale shape: same discipline as zipf_stats — the vocab-sized
    wordcount is cut with orderBy+limit max(sizes) (planned as
    TakeOrderedAndProject: per-partition heaps, one merge of max(sizes)
    rows — never a global vocab sort); the rank/cumsum window then runs
    over AT MOST max(sizes) rows in one bounded task. (When max(sizes)
    >= |vocab| Catalyst's EliminateLimits drops the limit and sorts the
    whole wordcount — safe by construction, since that frame is itself
    smaller than max(sizes).) Totals aggregate
    the full frame with map-side partials. All quantities are exact
    integers under the deterministic (cnt DESC, term ASC) comparator;
    only the final ratio is a rounded double (6 dp).
    """
    from pyspark.sql import Window

    if not sizes or any(s <= 0 for s in sizes):
        raise ValueError(f"sizes must be positive, got {sizes!r}")
    # stage the wordcount ONCE (zipf_stats note): top cut + totals agg
    # are two consumers of the same corpus-tokenizing subtree
    wordcount = wordcount.localCheckpoint(eager=True)
    order = [F.desc(count_col), F.asc(term_col)]
    w = Window.orderBy(*order)
    top = (
        wordcount.orderBy(*order)
        .limit(max(sizes))
        .select(
            F.row_number().over(w).alias("rank"),
            F.sum(count_col).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        )
    )
    totals = wordcount.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(count_col).cast("long").alias("n_tokens"),
    )
    sizes_df = F.broadcast(
        wordcount.sparkSession.createDataFrame(
            [(int(s),) for s in sorted(set(sizes))], "vocab_size long"
        )
    )
    return (
        sizes_df.crossJoin(F.broadcast(totals))
        .join(
            top,
            top["rank"] == F.least(F.col("vocab_size"), F.col("n_vocab")),
            "left",
        )
        .select(
            "vocab_size",
            F.least(F.col("vocab_size"), F.col("n_vocab")).alias("n_terms"),
            F.coalesce("cum", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(F.coalesce("cum", F.lit(0)) / F.col("n_tokens"), 6).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


def _drift_counts(docs_a: DataFrame, docs_b: DataFrame, text_col: str):
    """Full-outer-joined unigram counts of two corpus slices plus the
    one-row totals frame — the shared body of unigram_drift and
    js_divergence. Each side is one tokenize+hash-agg (map-side
    partials); the join keys the two vocab-sized frames on term (no
    broadcast hint — Heaps' law makes either side unboundable); totals
    are single-row broadcasts."""
    from ..functions.tokenizer import tokenize_col

    def wc(docs, name):
        return (
            docs.select(F.explode(tokenize_col(F.col(text_col))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    a, b = wc(docs_a, "cnt_a"), wc(docs_b, "cnt_b")
    # stage the joined vocab frame (mint_doc_ids pattern): it feeds the
    # totals agg AND the caller's consumer — unstaged, each action
    # re-tokenizes BOTH corpus slices
    joined = (
        a.join(b, "term", "full_outer")
        .select(
            "term",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
    ).localCheckpoint(eager=True)
    tots = joined.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum("cnt_b").cast("long").alias("n_b"),
    )
    return joined, tots


def unigram_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 200,
    text_col: str = "text",
    exact_order: bool = True,
) -> DataFrame:
    """(term, cnt_a, cnt_b, delta_ppm) — the k terms whose unigram
    probability moved most between two corpus slices (snapshot A vs
    snapshot B of a continuously-ingested corpus): the per-term drill-
    down a drift monitor pages on. delta_ppm = (cnt_a/N_a − cnt_b/N_b)
    in parts-per-million, rounded 4 dp.

    Determinism at the cut: ORDER BY |p_a − p_b| on doubles puts the
    boundary at float-noise mercy, so the sort key is the EXACT integer
    |cnt_a·N_b − cnt_b·N_a| (≡ |p_a−p_b|·N_a·N_b) with a term
    tie-break — bit-identical on any engine/partitioning. BIGINT-safe
    to ~3×10⁹ tokens per slice; beyond that (the 10¹²-token corpus)
    pass exact_order=False to rank on the double-cast products — the
    cut is then approximate at the boundary, disclosed, while delta_ppm
    stays exact per term.
    """
    joined, tots = _drift_counts(docs_a, docs_b, text_col)
    ca, cb = F.col("cnt_a"), F.col("cnt_b")
    if not exact_order:
        ca, cb = ca.cast("double"), cb.cast("double")
    mover = F.abs(ca * F.col("n_b") - cb * F.col("n_a")).alias("_mv")
    return (
        joined.crossJoin(F.broadcast(tots))
        .select(
            "term",
            "cnt_a",
            "cnt_b",
            F.round(
                (F.col("cnt_a") / F.col("n_a") - F.col("cnt_b") / F.col("n_b"))
                * F.lit(1000000.0),
                4,
            ).alias("delta_ppm"),
            mover,
        )
        .orderBy(F.desc("_mv"), F.asc("term"))
        .limit(k)
        .drop("_mv")
    )


def js_divergence(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-row Jensen–Shannon divergence between the unigram
    distributions of two corpus slices, plus the vocab-overlap counts —
    the scalar a drift monitor alerts on (symmetric, bounded by ln 2,
    defined even when vocabularies differ — unlike KL).

        JSD = ½ Σ p·ln(2p/(p+q)) + ½ Σ q·ln(2q/(p+q))

    Zero-count terms contribute only to the present side (0·ln0 := 0 by
    the standard convention — the full-outer join's coalesced zeros make
    the term drop out of its own sum exactly). One pass over the joined
    vocab frame, order-independent aggregates, rounded 6 dp (double
    partial-sum order noise ~1e-12 at any vocab size).
    """
    joined, tots = _drift_counts(docs_a, docs_b, text_col)
    p = F.col("cnt_a") / F.col("n_a")
    q = F.col("cnt_b") / F.col("n_b")
    term_a = F.when(
        F.col("cnt_a") > 0, p * F.log(F.lit(2.0) * p / (p + q))
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("cnt_b") > 0, q * F.log(F.lit(2.0) * q / (p + q))
    ).otherwise(F.lit(0.0))
    return (
        joined.crossJoin(F.broadcast(tots))
        .agg(
            F.round(0.5 * F.sum(term_a) + 0.5 * F.sum(term_b), 6).alias("jsd"),
            F.sum(((F.col("cnt_a") > 0) & (F.col("cnt_b") > 0)).cast("long")).alias("n_common"),
            F.sum((F.col("cnt_b") == 0).cast("long")).alias("n_a_only"),
            F.sum((F.col("cnt_a") == 0).cast("long")).alias("n_b_only"),
            F.max("n_a").alias("n_tok_a"),
            F.max("n_b").alias("n_tok_b"),
        )
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fp) — order-sensitive rolling fingerprint.

    code(tok) = 7*ascii(first) + 13*len + 3*ascii(last);
    fp = Σ_i code(tok_i) * (1 + (i mod 97))   (0-based i)

    Position-weighted so permuted docs differ; bounded so it never
    overflows BIGINT; exactly reproducible in ANSI SQL.
    """
    toks = _toks(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    code = lambda t: (  # noqa: E731
        7 * F.ascii(t) + 13 * F.length(t) + 3 * F.ascii(F.reverse(t))
    ).cast("long")
    fp = F.aggregate(
        F.zip_with(toks, idx, lambda t, i: code(t) * (1 + F.pmod(i, F.lit(97)).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(F.col(id_col).alias("id"), fp.alias("fp"))


# entity -> char, decoded in this order: &amp; LAST so already-escaped
# sequences ("&amp;lt;") decode exactly once ("&lt;"), never twice
MARKUP_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def strip_markup_col(html):
    """HTML/markup -> visible text, as a native regexp_replace chain
    (no UDF, whole-stage codegen) — the P1 projection the reference does
    with Jsoup (`Indexer.java:333-338`: parse, drop script/style, take
    element text, concatenate with separators).

    Steps: drop <script>/<style> elements WITH their contents, drop
    comments, replace every remaining tag with a space (tag boundaries
    become word boundaries, matching the reference's per-element
    concatenation), decode the common entities, collapse whitespace.

    Disclosed limitation vs a real HTML5 parser: the generic tag regex
    ``<[^>]*>`` treats ANY '<...>' span as a tag, so an unescaped
    comparison in body text ('price < 100 and > 50') loses the span
    between the bare brackets — Jsoup's HTML5 tokenizer would keep it
    ('<' followed by a non-letter is text). Correct handling needs a
    stateful tokenizer, out of scope for a native regexp chain; corpora
    with significant unescaped '<' in prose need a UDF-based parser.
    Every pattern is shared Java-regex/RE2 syntax ((?is) inline flags,
    lazy quantifiers — no backreferences), so the DuckDB twin runs the
    IDENTICAL patterns and the output is hash-checkable cross-engine.
    """
    s = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in MARKUP_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_clean(docs: DataFrame, id_col: str = "doc_id", html_col: str = "html") -> DataFrame:
    """(id, clean, n_tokens) — markup-stripped visible text plus its
    whitespace token count, over a markup column."""
    clean = strip_markup_col(F.col(html_col))
    return docs.select(
        F.col(id_col).alias("id"),
        clean.alias("clean"),
        # markup with no visible text must report 0 tokens, not the
        # phantom 1 that split('') -> [''] produces
        F.size(F.filter(F.split(clean, " "), lambda t: t != "")).cast("long").alias("n_tokens"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, dup_token_frac, top_bigram_frac, dup_trigram_frac)
    — Gopher-style repetition signals (Rae et al. 2021 §A1.1, public:
    "fraction of duplicate lines / most-common n-gram fraction"; this
    corpus is single-line text, so the signals are token-level):

    - ``dup_token_frac`` = 1 - distinct/total tokens (type-token
      inverse) — boilerplate and keyword-stuffing pushes this up;
    - ``top_bigram_frac`` = occurrences of the doc's most frequent
      bigram / total bigram occurrences;
    - ``dup_trigram_frac`` = fraction of trigram occurrences that are
      repeats (1 - distinct/total).

    Scale shape: the per-doc token stats are a narrow map; the n-gram
    modes are two hash aggs keyed by (id, gram) then (id) — doc-id in
    the key spreads hot grams, so there is no skew and partial
    aggregation does the heavy lifting map-side. Docs too short to have
    bigrams/trigrams get 0.0 (left join + coalesce, twinned in SQL).
    """
    toks = docs.select(F.col(id_col).alias("id"), _toks(F.col(text_col)).alias("toks"))
    base = toks.select(
        "id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )

    def grams(n: int):
        idx = F.sequence(F.lit(0), F.size("toks") - n)
        g = F.transform(idx, lambda i: F.array_join(F.slice("toks", i + 1, n), " "))
        arr = F.when(F.size("toks") >= n, g).otherwise(F.array().cast("array<string>"))
        return toks.select("id", F.explode(arr).alias("g")).groupBy("id", "g").agg(
            F.count(F.lit(1)).alias("c")
        )

    bg = grams(2).groupBy("id").agg(
        F.max("c").alias("bg_max"), F.sum("c").alias("bg_tot")
    )
    tg = grams(3).groupBy("id").agg(
        F.count(F.lit(1)).alias("tg_distinct"), F.sum("c").alias("tg_tot")
    )
    return (
        base.join(bg, "id", "left")
        .join(tg, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    1 - F.col("n_distinct") / F.col("n_tokens")
                ),
                6,
            ).alias("dup_token_frac"),
            F.round(
                F.coalesce(F.col("bg_max") / F.col("bg_tot"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(1 - F.col("tg_distinct") / F.col("tg_tot"), F.lit(0.0)), 6
            ).alias("dup_trigram_frac"),
        )
    )


def hashed_tfidf_features(
    docs: DataFrame,
    dim: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. ICML'09 —
    public literature) tf-idf featurizer: text -> fixed-``dim`` sparse
    features as long rows (id, bucket, w), the tokenizer-free
    vectorization step of a training-data pipeline.

    - bucket(term) = first-8-hex-chars-of-md5 mod dim — the same
      SQL-reproducible hash family as `dedup.simhash_base_hash`, so the
      whole featurization (including idf) has an exact DuckDB twin
      (cross-engine reproducible features: the property a feature store
      needs so training and serving agree).
    - w(id, bucket) = Σ_{terms in bucket} tf · ln(N/df) — colliding
      terms' weights ADD, the standard hashing-trick semantics.
    - Everything is native column expressions + two hash aggs keyed by
      (id, term) then (id, bucket) — map-side partial agg, no skew (doc
      key spreads hot terms), no UDF, no vocabulary broadcast: the point
      of the hashing trick at 10^12 docs is exactly that no global
      term<->index dictionary is built.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(_toks(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # the corpus size joins in as a LAZY one-row broadcast frame: an
    # eager .count() here forced a full scan of the upstream lineage at
    # call time (and a second complete pass when docs is an expensive
    # pipeline) — this way the whole featurization stays one deferred plan
    n_docs = docs.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n_docs")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast("long"),
        F.lit(dim),
    )
    return (
        tf.join(df, "tok")
        .join(F.broadcast(n_docs))
        .withColumn("idf", F.log(F.col("_n_docs") / F.col("df")))
        .select("id", bucket.alias("bucket"), (F.col("tf") * F.col("idf")).alias("w"))
        .groupBy("id", "bucket")
        .agg(F.round(F.sum("w"), 6).alias("w"))
    )


def length_quantiles(
    docs: DataFrame,
    by: str = "source",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-length distribution report — the summary a
    data pipeline reads before setting packing lengths, truncation
    budgets, and outlier cuts. Returns (group, n_docs, mean_len,
    min_len, max_len, p<q>...) with EXACT linearly-interpolated
    quantiles (pos = q·(n−1), the SQL ``quantile_cont`` definition).

    Scale design — exact quantiles WITHOUT per-group value buffering:
    Spark's ``percentile()`` aggregate holds every group value in the
    agg buffer (OOM at billions of rows per source), and
    ``approx_percentile`` sketches differ across engines and runs. This
    build instead ranks rows inside each group (one hash-partition
    shuffle on the group key + an in-partition sort that SPILLS — the
    window never materializes a group in memory) and folds each
    quantile as a weighted sum over the ≤2 rows straddling its rank:

        p_q = Σ len · [ (rn = ⌊pos⌋)·(1−frac) + (rn = ⌈pos⌉)·frac ]

    (frac = pos − ⌊pos⌋; the two indicators hit one row when pos is
    integral and the weights collapse to 1). Token counts come from the
    index tokenizer so the report speaks the engine's vocabulary.
    Group cardinality is assumed small (sources / languages / shards);
    a heavily skewed group is one partition's EXTERNAL sort, not one
    executor's heap.
    """
    from pyspark.sql import Window

    from ..functions.tokenizer import tokenize_col

    lens = docs.select(
        F.col(by).alias("grp"),
        F.size(tokenize_col(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("double")
        .alias("len"),
    )
    wp = Window.partitionBy("grp")
    ranked = lens.select(
        "grp",
        "len",
        (F.row_number().over(wp.orderBy("len")) - 1).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("len"), 4).alias("mean_len"),
        F.min("len").cast("long").alias("min_len"),
        F.max("len").cast("long").alias("max_len"),
    ]
    for q in qs:
        pos = (F.col("n") - 1) * F.lit(float(q))
        lo, hi = F.floor(pos), F.ceil(pos)
        frac = pos - lo
        contrib = F.col("len") * (
            (F.col("rn") == lo).cast("double") * (F.lit(1.0) - frac)
            + (F.col("rn") == hi).cast("double") * frac
        )
        aggs.append(
            F.round(F.sum(contrib), 4).alias(f"p{int(round(q * 100))}")
        )
    return (
        ranked.groupBy("grp")
        .agg(*aggs)
        .withColumnRenamed("grp", by)
        .orderBy(by)
    )
