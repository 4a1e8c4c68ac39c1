"""Driver-contract queries + matching DuckDB oracle SQL.

Each entry here is one operator family from SURVEY.md §2, expressed twice:
as the engine's DataFrame program (run by Spark) and as ANSI SQL (run by
DuckDB on the same parquet) — the driver hash-compares the results at
sf=0.01. Column names/aliases match exactly on both sides; float columns
are rounded identically.

The search-engine queries run over the `documents` table (doc_id is the
document key; this is the urlid analog). They run UNSTEMMED so the oracle
is SQL-expressible — Porter-stemmed behavior is covered by the pytest
oracle (tests/test_index_parity.py), which the driver also runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.index_build import InvertedIndex, build_index
from .operators.scoring import bm25_topk, cosine_ref_topk, tfidf_ref_topk

# ---------------------------------------------------------------- helpers

_INDEX_CACHE: dict[str, InvertedIndex] = {}

BM25_QUERY = "hash join merge"
TFIDF_QUERY = "window sort"
SEMI_TERMS = ("stream", "batch", "shuffle")


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table, spreading pathological single-split inputs.

    The sf* parquet files are written as ONE row group, and a row group
    cannot be split — so every scan-side narrow pipeline (tokenize,
    shingle, UDF) would run as ONE task on ONE core regardless of
    local[N]. A cheap up-front repartition restores scan parallelism
    (found profiling round 2: the whole dedup family was secretly
    single-threaded). At production scale inputs arrive with many
    splits and this branch never triggers.
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(p, 16):
        key = (spark.sparkContext.applicationId, sf_dir, table)
        cached = _LOAD_CACHE.get(key)
        if cached is None:
            # cache the spread copy: self-joining operators evaluate the
            # scan subplan 2-3x, and these single-split inputs are tiny
            cached = df.repartition(min(p, 16)).cache()
            _LOAD_CACHE[key] = cached
        df = cached
    return df


_LOAD_CACHE: dict[tuple, DataFrame] = {}


def get_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Unstemmed index over `documents`, cached per sf_dir (the driver
    calls every query in one process — build once)."""
    idx = _INDEX_CACHE.get(sf_dir)
    if idx is None:
        docs = load(spark, sf_dir, "documents")
        idx = build_index(docs, doc_key=("doc_id",), text_col="text", stem=False)
        _INDEX_CACHE[sf_dir] = idx
    return idx


# Shared DuckDB CTE: tokenize `documents` with the engine's exact spec.
SQL_TOK = """
WITH d AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_extract_all(lower(text), '[a-z-]+'),
                                    x -> trim(x, '-')), x -> x <> '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, toks[i] AS term, i - 1 AS pos
  FROM d, unnest(generate_series(1, len(toks))) AS s(i)
),
postings AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf,
         list_sort(list(pos)) AS positions
  FROM tok GROUP BY doc_id, term
),
ds AS (
  SELECT doc_id, sum(tf)::BIGINT AS doc_len, max(tf)::BIGINT AS max_tf
  FROM postings GROUP BY doc_id
),
tot AS (
  SELECT (SELECT count(*) FROM ds)::DOUBLE AS n_docs,
         (SELECT count(*) FROM postings)::DOUBLE AS n_postings,
         (SELECT sum(doc_len) FROM ds)::DOUBLE / (SELECT count(*) FROM ds) AS avg_len
),
cs AS (
  SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term
)
"""

# ------------------------------------------------------------- queries

def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/A1: long-form postings with positions (as csv string for a
    hash-stable cross-engine representation)."""
    idx = get_index(spark, sf_dir)
    return idx.postings.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.array_join(F.col("positions"), ",").alias("positions_csv"),
    )


SQL_POSTINGS = (
    SQL_TOK
    + """
SELECT doc_id, term, tf,
       list_aggr(list_transform(positions, x -> x::VARCHAR), 'string_agg', ',') AS positions_csv
FROM postings
"""
)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-doc length and max term frequency (id2url.max_count analog)."""
    idx = get_index(spark, sf_dir)
    return idx.doc_stats.select(
        "doc_id",
        F.col("doc_len").cast("long").alias("doc_len"),
        F.col("max_tf").cast("long").alias("max_tf"),
    )


SQL_DOC_STATS = SQL_TOK + "SELECT doc_id, doc_len, max_tf FROM ds"


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/F5: exact document frequency + both idf variants."""
    idx = get_index(spark, sf_dir)
    return idx.corpus_stats.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.round("idf_ref", 6).alias("idf_ref"),
        F.round("idf_bm25", 6).alias("idf_bm25"),
    )


SQL_CORPUS_STATS = (
    SQL_TOK
    + """
SELECT cs.term, cs.df,
       round(ln(tot.n_postings / cs.df), 6) AS idf_ref,
       round(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0), 6) AS idf_bm25
FROM cs, tot
"""
)


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: classic word count over all token occurrences (WordCountEMR)."""
    from .operators.index_build import tokenize_turns

    docs = load(spark, sf_dir, "documents")
    toks = tokenize_turns(docs, doc_key=("doc_id",))
    return toks.groupBy(F.col("raw_term").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


SQL_WORDCOUNT = SQL_TOK + "SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A6+T1: BM25 top-80 for a fixed query, deterministic tie-break."""
    idx = get_index(spark, sf_dir)
    out = bm25_topk(idx, BM25_QUERY, k=80, stem=False)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_BM25_TOPK = (
    SQL_TOK
    + f"""
SELECT p.doc_id,
       round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('hash', 'join', 'merge')
GROUP BY p.doc_id
ORDER BY sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def q_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule AND semantics: posting-list intersection — doc must
    contain every query term."""
    idx = get_index(spark, sf_dir)
    out = bm25_topk(idx, BM25_QUERY, k=80, stem=False, conjunctive=True)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_BM25_AND_TOPK = (
    SQL_TOK
    + """
SELECT p.doc_id,
       round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('hash', 'join', 'merge')
GROUP BY p.doc_id
HAVING count(DISTINCT p.term) = 3
ORDER BY sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/A6/T1: the reference tf-idf ranker, top-80."""
    idx = get_index(spark, sf_dir)
    out = tfidf_ref_topk(idx, TFIDF_QUERY, k=80, stem=False)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_TFIDF_TOPK = (
    SQL_TOK
    + """
SELECT p.doc_id,
       round(sum((1.0 + ln(p.tf)) / (1.0 + ln(ds.max_tf)) * ln(tot.n_postings / cs.df)), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('window', 'sort')
GROUP BY p.doc_id
ORDER BY sum((1.0 + ln(p.tf)) / (1.0 + ln(ds.max_tf)) * ln(tot.n_postings / cs.df)) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def q_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third ranking family: Dirichlet-smoothed query likelihood (Zhai
    & Lafferty, SIGIR 2001) over the same posting/stat frames as BM25.
    Ordered on the ROUNDED score (like cosine) so the k-cutoff is
    stable across engines at float ties."""
    from .operators.scoring import lm_dirichlet_scores

    idx = get_index(spark, sf_dir)
    allr = lm_dirichlet_scores(idx, BM25_QUERY, stem=False)
    return (
        allr.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(80)
    )


SQL_LM_TOPK = (
    SQL_TOK
    + """
, cf AS (
  SELECT term, sum(tf)::DOUBLE AS cf FROM postings
  WHERE term IN ('hash', 'join', 'merge') GROUP BY term
),
tt AS (
  SELECT (SELECT sum(doc_len) FROM ds)::DOUBLE AS total_tokens
)
SELECT p.doc_id,
       round(sum(ln(1.0 + p.tf * tt.total_tokens / (2000.0 * cf.cf)))
             + 3 * ln(2000.0 / (ds.doc_len + 2000.0)), 4) AS score
FROM postings p, cf, ds, tt
WHERE p.term = cf.term AND p.doc_id = ds.doc_id
  AND p.term IN ('hash', 'join', 'merge')
GROUP BY p.doc_id, ds.doc_len
ORDER BY round(sum(ln(1.0 + p.tf * tt.total_tokens / (2000.0 * cf.cf)))
               + 3 * ln(2000.0 / (ds.doc_len + 2000.0)), 4) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def q_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth ranking family: RM3 pseudo-relevance feedback (Lavrenko &
    Croft SIGIR'01 / Abdul-Jaleel TREC'04) — BM25 first pass, relevance
    model over the top-10 feedback docs, interpolated term weights
    (λ=0.5, 10 expansion terms) driving a weighted BM25 second pass."""
    from .operators.scoring import rm3_topk

    idx = get_index(spark, sf_dir)
    out = rm3_topk(idx, BM25_QUERY, k=80, stem=False)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_RM3_TOPK = (
    SQL_TOK
    + """
, fb AS (
  SELECT p.doc_id,
         round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS s
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
  ORDER BY s DESC, p.doc_id ASC
  LIMIT 10
),
stot AS (SELECT sum(s) AS st FROM fb),
prm AS (
  SELECT p.term,
         round(sum(p.tf / ds.doc_len * fb.s / stot.st), 6) AS p6
  FROM postings p JOIN fb ON p.doc_id = fb.doc_id
  JOIN ds ON p.doc_id = ds.doc_id, stot
  GROUP BY p.term
  ORDER BY p6 DESC, p.term ASC
  LIMIT 10
),
psum AS (SELECT sum(p6) AS ps FROM prm),
wts AS (
  SELECT term, sum(w) AS w FROM (
    SELECT term, 0.5::DOUBLE / 3 AS w
    FROM (VALUES ('hash'), ('join'), ('merge')) t(term)
    UNION ALL
    SELECT prm.term, 0.5::DOUBLE * prm.p6 / psum.ps AS w FROM prm, psum
  ) GROUP BY term
)
SELECT p.doc_id,
       round(sum(wts.w * (ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len)))), 4) AS score
FROM postings p, wts, cs, ds, tot
WHERE p.term = wts.term AND p.term = cs.term AND p.doc_id = ds.doc_id
GROUP BY p.doc_id
ORDER BY sum(wts.w * (ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                      * p.tf * 2.2
                      / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len)))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


# Deterministic conversation view over `documents` for the fielded /
# conversation-level rankers: each doc is a TURN of conversation
# doc_id % 97 under role doc_id % 3 — the transcript shape of
# BASELINE.json's input_hint, synthesized from the shared test table so
# the DuckDB oracle sees identical bytes.
CONV_MOD = 97
ROLE_WEIGHTS = {"user": 1.0, "assistant": 2.0, "tool": 0.5}

_ROLE_CASE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END"
)


def _conv_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (F.col("doc_id") % CONV_MOD).cast("long").alias("conv_id"),
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
    )


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth ranking family: BM25F (Robertson/Zaragoza/Taylor CIKM'04)
    — role-weighted fielded scoring of CONVERSATIONS (assistant turns
    2x, tool turns 0.5x), per-field length normalization, group-level
    idf (operators/scoring.bm25f_scores). The transcript-native ranker
    the reference's flat-page scorer cannot express."""
    from .operators.scoring import bm25f_scores

    idx = get_index(spark, sf_dir)
    scored = bm25f_scores(
        idx,
        BM25_QUERY,
        _conv_fields(spark, sf_dir),
        ROLE_WEIGHTS,
        stem=False,
        group_col="conv_id",
        field_col="role",
    )
    return (
        scored.select("conv_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(20)
    )


SQL_BM25F_TOPK = (
    SQL_TOK
    + f"""
, fld AS (
  SELECT doc_id, doc_id % {CONV_MOD} AS conv_id,
         {_ROLE_CASE_SQL} AS role
  FROM documents
),
flen AS (
  SELECT f.conv_id, f.role, sum(ds.doc_len)::DOUBLE AS len_f
  FROM ds JOIN fld f USING (doc_id) GROUP BY f.conv_id, f.role
),
avglen AS (SELECT role, avg(len_f) AS avg_f FROM flen GROUP BY role),
ftf AS (
  SELECT f.conv_id, f.role, p.term, sum(p.tf)::DOUBLE AS tf_f
  FROM postings p JOIN fld f USING (doc_id)
  WHERE p.term IN ('hash', 'join', 'merge')
  GROUP BY f.conv_id, f.role, p.term
),
wtf AS (
  SELECT t.conv_id, t.term,
         sum((CASE t.role WHEN 'user' THEN 1.0 WHEN 'assistant' THEN 2.0 ELSE 0.5 END)
             * t.tf_f / (0.25 + 0.75 * fl.len_f / al.avg_f)) AS tfw
  FROM ftf t
  JOIN flen fl ON t.conv_id = fl.conv_id AND t.role = fl.role
  JOIN avglen al ON t.role = al.role
  GROUP BY t.conv_id, t.term
),
gdf AS (SELECT term, count(DISTINCT conv_id)::DOUBLE AS df_g FROM ftf GROUP BY term),
ng AS (SELECT count(DISTINCT conv_id)::DOUBLE AS n FROM fld)
SELECT w.conv_id,
       round(sum(ln((ng.n - gdf.df_g + 0.5) / (gdf.df_g + 0.5) + 1.0)
                 * w.tfw / (1.2 + w.tfw)), 4) AS score
FROM wtf w JOIN gdf USING (term), ng
GROUP BY w.conv_id
ORDER BY round(sum(ln((ng.n - gdf.df_g + 0.5) / (gdf.df_g + 0.5) + 1.0)
                   * w.tfw / (1.2 + w.tfw)), 4) DESC,
         w.conv_id ASC
LIMIT 20
"""
)


def q_conv_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn→conversation evidence aggregation (SumP, Dai & Callan
    SIGIR'19): per-turn BM25 scores collapse to conversations as the
    sum of each conversation's top-2 turn scores, carrying the best
    turn's id for deep-linking (operators/scoring.evidence_scores)."""
    from .operators.scoring import bm25_scores, evidence_scores

    idx = get_index(spark, sf_dir)
    scored = bm25_scores(idx, BM25_QUERY, stem=False).withColumn(
        "conv_id", (F.col("doc_id") % CONV_MOD).cast("long")
    )
    out = evidence_scores(scored, doc_key=["doc_id"], group_col="conv_id", m=2)
    return (
        out.select("conv_id", F.round("score", 4).alias("score"), "best_doc_id")
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(10)
    )


SQL_CONV_TOPK = (
    SQL_TOK
    + f"""
, scores AS (
  SELECT p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
),
ranked AS (
  SELECT doc_id, doc_id % {CONV_MOD} AS conv_id, score,
         row_number() OVER (PARTITION BY doc_id % {CONV_MOD}
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM scores
)
SELECT conv_id,
       round(sum(score), 4) AS score,
       min(CASE WHEN rn = 1 THEN doc_id END) AS best_doc_id
FROM ranked WHERE rn <= 2
GROUP BY conv_id
ORDER BY round(sum(score), 4) DESC, conv_id ASC
LIMIT 10
"""
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: the reference's cosine ranker, top-40. Ordered on the ROUNDED
    score so the k-cutoff is stable across engines at float ties."""
    idx = get_index(spark, sf_dir)
    allr = cosine_ref_topk(idx, TFIDF_QUERY, k=1 << 30, stem=False)
    return (
        allr.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(40)
    )


SQL_COSINE_TOPK = (
    SQL_TOK
    + """
, w AS (
  SELECT p.doc_id,
         (1.0 + ln(p.tf)) / (1.0 + ln(ds.max_tf)) * ln(tot.n_postings / cs.df) AS weight,
         ln(tot.n_postings / cs.df) AS idf
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('window', 'sort')
)
SELECT doc_id,
       round(sum(weight * idf) / sqrt(sum(weight * weight)), 4) AS score
FROM w
GROUP BY doc_id
ORDER BY round(sum(weight * idf) / sqrt(sum(weight * weight)), 4) DESC, doc_id ASC
LIMIT 40
"""
)


def q_term_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: posting ∩ query-terms semi-join -> matching documents."""
    idx = get_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame([(t,) for t in SEMI_TERMS], "term string")
    matched = idx.postings.join(F.broadcast(terms), "term", "left_semi")
    hit_docs = matched.select("doc_id").distinct()
    return docs.join(hit_docs, "doc_id", "left_semi").select("doc_id", "lang", "source")


SQL_TERM_SEMI_JOIN = (
    SQL_TOK
    + f"""
SELECT doc_id, lang, source FROM documents
WHERE doc_id IN (SELECT DISTINCT doc_id FROM postings
                 WHERE term IN ('stream', 'batch', 'shuffle'))
"""
)


def q_topk_join_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: top-k scores LEFT-joined back to the document registry."""
    idx = get_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    top = bm25_topk(idx, BM25_QUERY, k=20, stem=False)
    return (
        top.join(docs.select("doc_id", "lang", "source"), "doc_id", "left")
        .select("doc_id", F.round("score", 4).alias("score"), "lang", "source")
    )


SQL_TOPK_JOIN_META = (
    SQL_TOK
    + """
, top AS (
  SELECT p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
  ORDER BY score DESC, p.doc_id ASC
  LIMIT 20
)
SELECT t.doc_id, round(t.score, 4) AS score, d2.lang, d2.source
FROM top t LEFT JOIN documents d2 ON t.doc_id = d2.doc_id
"""
)


def q_topk_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result presentation: BM25 top-20 with a query-centered text
    snippet projected from the corpus (operators/scoring.with_snippets;
    reference analog: frontend cached-page previews)."""
    from .operators.scoring import with_snippets

    idx = get_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    top = bm25_topk(idx, BM25_QUERY, k=20, stem=False)
    out = with_snippets(top, docs, BM25_QUERY, ("doc_id",))
    return out.select("doc_id", F.round("score", 4).alias("score"), "snippet")


SQL_TOPK_SNIPPETS = (
    SQL_TOK
    + """
, top AS (
  SELECT p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
  ORDER BY score DESC, p.doc_id ASC
  LIMIT 20
)
SELECT t.doc_id, round(t.score, 4) AS score,
       substr(d2.text,
              CASE WHEN strpos(lower(d2.text), 'hash') > 0
                   THEN greatest(1, strpos(lower(d2.text), 'hash') - 30)
                   ELSE 1 END,
              90) AS snippet
FROM top t LEFT JOIN documents d2 ON t.doc_id = d2.doc_id
"""
)


def q_prior_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/F3: score + 0.5*coalesce(prior, 0) — the pagerank-blend analog
    (SearchHelper.java:157,182). Prior is a deterministic function of
    doc_id, defined only for doc_id % 3 == 0 so the LEFT join + coalesce
    path is actually exercised."""
    idx = get_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    prior = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", ((F.col("doc_id") % 7).cast("double") / 2.0).alias("rank"))
    )
    out = tfidf_ref_topk(idx, TFIDF_QUERY, k=40, prior=prior, stem=False)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_PRIOR_BLEND = (
    SQL_TOK
    + """
, base AS (
  SELECT p.doc_id,
         sum((1.0 + ln(p.tf)) / (1.0 + ln(ds.max_tf)) * ln(tot.n_postings / cs.df)) AS score
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('window', 'sort')
  GROUP BY p.doc_id
),
blend AS (
  SELECT b.doc_id,
         b.score + 0.5 * coalesce(pr.rank, 0.0) AS score
  FROM base b
  LEFT JOIN (SELECT doc_id, (doc_id % 7)::DOUBLE / 2.0 AS rank
             FROM documents WHERE doc_id % 3 = 0) pr
    ON b.doc_id = pr.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM blend ORDER BY score DESC, doc_id ASC LIMIT 40
"""
)


BATCH_QUERIES: dict[str, str] = {
    "q00": "hash join",
    "q01": "merge sort",
    "q02": "window agg",
    "q03": "stream batch",
    "q04": "shuffle partition",
    "q05": "column vector",
    "q06": "table scan",
    "q07": "group filter",
    "q08": "order key",
    "q09": "spark query",
    "q10": "small big",
    "q11": "fast slow",
    "q12": "row line",
    "q13": "data value",
    "q14": "customer part",
    "q15": "join merge sort",
    "q16": "hash window",
    "q17": "scan filter agg",
    "q18": "vector stream",
    "q19": "query batch group",
}


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch query API: 20 queries scored in ONE job (broadcast
    (qid, term) frame + one hash agg + per-query window top-k) — the
    amortized serving path a user with a query log needs
    (operators/scoring.bm25_topk_many)."""
    from .operators.scoring import bm25_topk_many

    idx = get_index(spark, sf_dir)
    out = bm25_topk_many(idx, BATCH_QUERIES, k=10, stem=False)
    return out.select("qid", "doc_id", F.round("score", 4).alias("score"))


def _sql_bm25_batch(k: int = 10, queries: dict[str, str] | None = None) -> str:
    from .functions.tokenizer import tokenize_py

    vals = []
    for qid, q in (queries or BATCH_QUERIES).items():
        for t in dict.fromkeys(tokenize_py(q)):
            vals.append(f"('{qid}', '{t}')")
    values = ",\n         ".join(vals)
    return (
        SQL_TOK
        + f"""
, qterms(qid, term) AS (VALUES {values}),
scored AS (
  SELECT q.qid, p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p JOIN qterms q ON p.term = q.term, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  GROUP BY q.qid, p.doc_id
)
SELECT qid, doc_id, round(score, 4) AS score
FROM (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored)
WHERE rn <= {k}
"""
    )


SQL_BM25_BATCH = _sql_bm25_batch(10)


def q_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation at batch scale: nDCG@10 / MRR@10 /
    P@10 / R@10 of the 20-query BM25 batch run against deterministic
    term-coverage qrels (grade 2 = doc contains ALL query terms, grade
    1 = at least half) — the eval harness the reference never had
    (operators/rank_eval.rank_eval), distributed per-qid windows, no
    driver loop."""
    from .operators.rank_eval import coverage_qrels, rank_eval
    from .operators.scoring import bm25_topk_many

    idx = get_index(spark, sf_dir)
    run = bm25_topk_many(idx, BATCH_QUERIES, k=10, stem=False)
    qrels = coverage_qrels(idx.postings, BATCH_QUERIES, stem=False)
    return rank_eval(run, qrels, k=10).orderBy("qid")


def _sql_rank_metrics(k: int = 10) -> str:
    from .functions.tokenizer import tokenize_py as _tok

    vals = []
    for qid, q in BATCH_QUERIES.items():
        for t in dict.fromkeys(_tok(q)):
            vals.append(f"('{qid}', '{t}')")
    values = ",\n         ".join(vals)
    return (
        SQL_TOK
        + f"""
, qterms(qid, term) AS (VALUES {values}),
nt AS (SELECT qid, count(DISTINCT term)::BIGINT AS nt FROM qterms GROUP BY qid),
scored AS (
  SELECT q.qid, p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p JOIN qterms q ON p.term = q.term, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  GROUP BY q.qid, p.doc_id
),
run AS (
  SELECT qid, doc_id, rn FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored)
  WHERE rn <= {k}
),
hits AS (
  SELECT q.qid, p.doc_id, count(DISTINCT p.term)::BIGINT AS hit
  FROM postings p JOIN qterms q ON p.term = q.term
  GROUP BY q.qid, p.doc_id
),
qrels AS (
  SELECT h.qid, h.doc_id,
         CASE WHEN h.hit = nt.nt THEN 2
              WHEN 2 * h.hit >= nt.nt THEN 1
              ELSE 0 END AS grade
  FROM hits h JOIN nt USING (qid)
),
rel AS (SELECT qid, doc_id, grade FROM qrels WHERE grade >= 1),
graded AS (
  SELECT r.qid, r.rn, coalesce(q.grade, 0) AS g
  FROM run r LEFT JOIN rel q USING (qid, doc_id)
),
per AS (
  SELECT qid,
         sum((pow(2, g) - 1) / log2(rn + 1)) AS dcg,
         max(CASE WHEN g >= 1 THEN 1.0::DOUBLE / rn END) AS mrr0,
         sum(CASE WHEN g >= 1 THEN 1 ELSE 0 END)::DOUBLE AS nhit
  FROM graded GROUP BY qid
),
ideal AS (
  SELECT qid, grade,
         row_number() OVER (PARTITION BY qid ORDER BY grade DESC, doc_id ASC) AS irk
  FROM rel
),
idcg AS (
  SELECT qid, sum((pow(2, grade) - 1) / log2(irk + 1)) AS idcg
  FROM ideal WHERE irk <= {k} GROUP BY qid
),
nrel AS (SELECT qid, count(*)::DOUBLE AS n_rel FROM rel GROUP BY qid)
SELECT per.qid,
       round(CASE WHEN coalesce(idcg.idcg, 0) > 0 THEN per.dcg / idcg.idcg ELSE 0 END, 4) AS ndcg,
       round(coalesce(per.mrr0, 0), 4) AS mrr,
       round(per.nhit / {k}, 4) AS p_at_k,
       round(CASE WHEN coalesce(nrel.n_rel, 0) > 0 THEN per.nhit / nrel.n_rel ELSE 0 END, 4) AS r_at_k
FROM per LEFT JOIN idcg USING (qid) LEFT JOIN nrel USING (qid)
ORDER BY qid
"""
    )


SQL_RANK_METRICS = _sql_rank_metrics(10)


_BLOCK_CACHE: dict[tuple[str, str], object] = {}


def _block_index_path(sf_dir: str) -> str:
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    name = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(repo, ".blockidx", name)


def ensure_block_index(spark: SparkSession, sf_dir: str):
    """Return the PERSISTED block index for sf_dir, building + writing it
    (bucketed parquet layout) only when absent or stale.

    This is the reference's serving model — index once, query many
    (frontend/SearchHelper.java:155-188 queries a persistent MySQL
    index) — and the round-2 fix for the round-1 anti-pattern of
    rebuilding the compressed blocks in memory per process. Staleness is
    detected via the source corpus file mtime recorded in the index
    metadata. The returned BlockIndex reads from the bucket-partitioned
    parquet, so each query's scan is pruned to its terms' buckets.
    """
    import os

    from .operators.postings_codec import _read_meta, build_blocks, load_blocks, write_blocks

    path = _block_index_path(sf_dir)
    src_mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    skey = (spark.sparkContext.applicationId, sf_dir)
    cached, cached_mtime = _BLOCK_CACHE.get(skey, (None, None))
    if cached is not None and cached_mtime == src_mtime:
        return cached
    # mode-agnostic manifest read (fsio, through the store's manifest
    # contract): a local open("_meta.json") would judge a log-mode or
    # non-local (hdfs://, s3a://) store stale every session and rebuild
    # the whole index per process; a store written before the segment
    # layout is stale too, and gets rebuilt
    fresh = False
    try:
        fresh = _read_meta(spark, path).get("source_mtime") == src_mtime
    except Exception:
        fresh = False
    if not fresh:
        # impact_ordered: docids minted by ascending doc_len (docid
        # reordering for block-max WAND) — block upper bounds decay with
        # block_id, so θ prunes the tail; results identical, tie-breaks
        # via the doc_key join (key_ordered=False). Measured on the
        # 1.58M-turn store: blocks decoded at k=80 drop 12118/12257 ->
        # 8365/12198 vs key-ordered minting (BENCH/BASELINE.md).
        bidx = build_blocks(get_index(spark, sf_dir), block_span=256,
                            impact_ordered=True)
        write_blocks(bidx, path, n_buckets=16, extra_meta={"source_mtime": src_mtime})
    loaded = load_blocks(spark, path)
    _BLOCK_CACHE[skey] = (loaded, src_mtime)
    return loaded


def q_bm25_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-80 SERVED from the persisted compressed block index
    (delta+varint blobs in bucket-partitioned parquet, block-max
    pruning) — same oracle as bm25_topk, proving the codec + pruning +
    persistence path exact against ANSI SQL."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score"))


def q_bm25_batch_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two serving stories composed: the 20-query batch scored from
    the PERSISTED compressed block index in one job
    (postings_codec.bm25_topk_many_blocks); same oracle as bm25_batch."""
    from .operators.postings_codec import bm25_topk_many_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = bm25_topk_many_blocks(bidx, BATCH_QUERIES, k=10, stem=False)
    return out.select(
        "qid", F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


def q_bm25_and_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) BM25 top-80 served from the persisted block
    index — posting-list INTERSECTION folded into the decode-side hash
    agg; same oracle as the long-form AND query."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False, conjunctive=True)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


def q_phrase_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search 'hash join' served from the COMPRESSED blobs
    (positions decoded from varints — the capability positions are
    stored for); same oracle as the long-form phrase query."""
    from .operators.postings_codec import phrase_match_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = phrase_match_blocks(bidx, "hash join", stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


def q_bm25_append_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance under the oracle gate: HALF the
    corpus is indexed and persisted, the other half APPENDED
    (postings_codec.append_blocks — new segment blocks + stats-level
    merge + sound stale-bounds pruning), then the standard BM25 query
    runs over the appended index. The oracle is the full-corpus BM25
    SQL — equality proves the merged global stats and the append path
    are exact."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = _ensure_append_store(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


def _ensure_append_store(spark: SparkSession, sf_dir: str):
    """Build (once per process) the two-segment appended block store:
    even doc_ids written as the base, odd doc_ids appended. Returns the
    loaded BlockIndex; the on-disk store (`..._append`) is also the
    input `q_bm25_compacted` compacts."""
    import os
    import shutil

    from .operators.index_build import build_index
    from .operators.postings_codec import (
        append_blocks,
        build_blocks,
        load_blocks,
        write_blocks,
    )

    docs = load(spark, sf_dir, "documents")
    path = _block_index_path(sf_dir) + "_append"
    key = (spark.sparkContext.applicationId, sf_dir, "append")
    bidx = _BLOCK_CACHE.get(key)
    if bidx is None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        a = build_index(docs.filter(F.col("doc_id") % 2 == 0), doc_key=("doc_id",),
                        text_col="text", stem=False, cache="checkpoint")
        write_blocks(build_blocks(a, block_span=256), path, n_buckets=8)
        b = build_index(docs.filter(F.col("doc_id") % 2 == 1), doc_key=("doc_id",),
                        text_col="text", stem=False, cache="checkpoint")
        append_blocks(spark, path, b)
        bidx = load_blocks(spark, path)
        _BLOCK_CACHE[key] = bidx
    return bidx


def q_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM compaction under the oracle gate: the appended two-segment
    store is COPIED, compacted (every block re-encoded under the merged
    stats — tight pruning bounds restored, segment union folded to one
    layout), and the standard BM25 query served from the compacted
    store. Same full-corpus SQL oracle as bm25_append_blocks: equality
    proves compaction changes the physical layout and nothing else
    (operators/postings_codec.compact_blocks)."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = _ensure_compact_store(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


def _ensure_compact_store(spark: SparkSession, sf_dir: str):
    """Copy the appended two-segment store and compact the copy (once
    per process) — bench times this as `compact_build`, so
    `bm25_compacted` measures SERVING from the compacted layout."""
    import shutil

    from .operators.postings_codec import compact_blocks, load_blocks

    _ensure_append_store(spark, sf_dir)  # materializes the on-disk store
    src = _block_index_path(sf_dir) + "_append"
    path = _block_index_path(sf_dir) + "_compact"
    key = (spark.sparkContext.applicationId, sf_dir, "compact")
    bidx = _BLOCK_CACHE.get(key)
    if bidx is None:
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path)
        compact_blocks(spark, path)
        bidx = load_blocks(spark, path)
        _BLOCK_CACHE[key] = bidx
    return bidx


def _ensure_merged_store(spark: SparkSession, sf_dir: str):
    """Build (once per process) a THREE-segment store — a third of the
    corpus written as the base, two thirds appended one epoch at a
    time — then run the tiered merge policy to a fixpoint on it
    (postings_codec.plan_tiered_merges / merge_segments). All three
    epoch-sized segments land in tier 0, so merge_at=2 merges two and
    then CASCADES the result with the third — both policy rounds
    exercised."""
    import os
    import shutil

    from .operators.index_build import build_index
    from .operators.postings_codec import (
        append_blocks,
        build_blocks,
        load_blocks,
        tiered_merge,
        write_blocks,
    )

    docs = load(spark, sf_dir, "documents")
    path = _block_index_path(sf_dir) + "_tiered"
    key = (spark.sparkContext.applicationId, sf_dir, "tiered")
    bidx = _BLOCK_CACHE.get(key)
    if bidx is None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        a = build_index(parts[0], doc_key=("doc_id",), text_col="text",
                        stem=False, cache="checkpoint")
        write_blocks(build_blocks(a, block_span=256), path, n_buckets=8)
        for p in parts[1:]:
            append_blocks(spark, path, build_index(
                p, doc_key=("doc_id",), text_col="text", stem=False,
                cache="checkpoint"))
        n = tiered_merge(spark, path, merge_at=2)
        if n < 2:
            raise AssertionError("tiered_merge did not cascade on a "
                                 "three-tier-0-segment store")
        bidx = load_blocks(spark, path)
        _BLOCK_CACHE[key] = bidx
    return bidx


def q_bm25_merged_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered segment merging under the oracle gate: third-wise
    appends produce a three-segment store, the Lucene-style tiered merge
    policy consolidates it to a fixpoint (merge_at=2, cascading —
    postings_codec.tiered_merge), and the standard BM25 query is served
    from the merged layout. Same full-corpus SQL oracle as
    bm25_append_blocks: equality proves the merge is physical-only
    (docids, stats, and scores all unchanged)."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = _ensure_merged_store(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


NOT_TERM = "sort"  # the boolean-NOT exclusion term for bm25_not_blocks


def q_bm25_not_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean NOT under the oracle gate: the standard BM25 query with
    docs containing ``NOT_TERM`` excluded (bm25_topk_blocks
    exclude_terms — the exclusion set resolves from the SAME block
    index and is applied before the pruning bar θ, so NOT semantics
    stay sound under block-max pruning). Reference analog: the boolean
    operators of frontend/SearchHelper.java's query language."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False, exclude_terms=[NOT_TERM])
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


SQL_BM25_NOT = (
    SQL_TOK
    + f"""
SELECT p.doc_id,
       round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('hash', 'join', 'merge')
  AND p.doc_id NOT IN (SELECT doc_id FROM postings WHERE term = '{NOT_TERM}')
GROUP BY p.doc_id
ORDER BY sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def q_bool_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed boolean query language under the oracle gate:
    `merge "hash join" -stream` — BM25 over {merge, hash, join}, docs
    REQUIRED to contain the exact phrase "hash join", docs containing
    'stream' excluded; all parts applied before the pruning bar θ
    (postings_codec.boolean_topk_blocks)."""
    from .operators.postings_codec import boolean_topk_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = boolean_topk_blocks(bidx, 'merge "hash join" -stream', k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


SQL_BOOL_BLOCKS = (
    SQL_TOK
    + f"""
SELECT p.doc_id,
       round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('merge', 'hash', 'join')
  AND p.doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'stream')
  AND p.doc_id IN (
    SELECT p1.doc_id FROM postings p1 JOIN postings p2 ON p1.doc_id = p2.doc_id
    WHERE p1.term = 'hash' AND p2.term = 'join'
      AND len(list_intersect(list_transform(p1.positions, x -> x + 1), p2.positions)) > 0)
GROUP BY p.doc_id
ORDER BY sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def _ensure_deleted_store(spark: SparkSession, sf_dir: str):
    """Copy the persisted block index and tombstone every doc with
    doc_id % 7 == 0 (postings_codec.delete_docs) — once per process.
    The on-disk store also feeds `q_bm25_compact_deleted`."""
    import shutil

    from .operators.postings_codec import delete_docs, load_blocks

    ensure_block_index(spark, sf_dir)  # materializes the base store
    src = _block_index_path(sf_dir)
    path = _block_index_path(sf_dir) + "_deleted"
    key = (spark.sparkContext.applicationId, sf_dir, "deleted")
    bidx = _BLOCK_CACHE.get(key)
    if bidx is None:
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path)
        docs = load(spark, sf_dir, "documents")
        delete_docs(
            spark, path, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        )
        bidx = load_blocks(spark, path)
        _BLOCK_CACHE[key] = bidx
    return bidx


def q_bm25_deleted_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone deletes under the oracle gate: every doc_id % 7 == 0 is
    delete-marked (no block rewritten), then the standard BM25 query is
    served. Lucene live-docs semantics until compaction: deleted docs
    vanish from results but corpus statistics still count them — the
    oracle therefore computes stats over the FULL corpus and filters
    only the scored docs."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = _ensure_deleted_store(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


SQL_BM25_DELETED = (
    SQL_TOK
    + """
SELECT p.doc_id,
       round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS score
FROM postings p, cs, ds, tot
WHERE p.term = cs.term AND p.doc_id = ds.doc_id
  AND p.term IN ('hash', 'join', 'merge')
  AND p.doc_id % 7 <> 0
GROUP BY p.doc_id
ORDER BY sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) DESC,
         p.doc_id ASC
LIMIT 80
"""
)


def _ensure_compact_deleted_store(spark: SparkSession, sf_dir: str):
    """Copy the tombstoned store and compact the copy (once per
    process): tombstoned postings purged physically, docids re-minted
    dense + key-ordered, stats recomputed over the survivors."""
    import shutil

    from .operators.postings_codec import compact_blocks, load_blocks

    _ensure_deleted_store(spark, sf_dir)
    src = _block_index_path(sf_dir) + "_deleted"
    path = _block_index_path(sf_dir) + "_compact_deleted"
    key = (spark.sparkContext.applicationId, sf_dir, "compact_deleted")
    bidx = _BLOCK_CACHE.get(key)
    if bidx is None:
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path)
        compact_blocks(spark, path)
        bidx = load_blocks(spark, path)
        _BLOCK_CACHE[key] = bidx
    return bidx


def q_bm25_compact_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete + compact under the oracle gate: after compaction the
    tombstones are purged and statistics recomputed, so results must
    equal a FRESH build over the surviving corpus — the oracle is the
    standard BM25 SQL with `documents` itself filtered to survivors
    (stats and scores both over doc_id % 7 <> 0)."""
    from .operators.postings_codec import bm25_topk_blocks

    bidx = _ensure_compact_deleted_store(spark, sf_dir)
    out = bm25_topk_blocks(bidx, BM25_QUERY, k=80, stem=False)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.round("score", 4).alias("score")
    )


SQL_BM25_COMPACT_DELETED = SQL_BM25_TOPK.replace(
    "FROM documents", "FROM documents WHERE doc_id % 7 <> 0"
)


def q_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment merge under the oracle gate: the corpus is split in two
    disjoint halves (doc_id parity), indexed separately, merged at the
    STATS level (df added via one vocab outer join — posting rows never
    re-aggregated; operators/index_build.merge_indexes). The merged
    corpus stats must equal a single build over the whole corpus — the
    same SQL oracle as `corpus_stats`."""
    from .operators.index_build import build_index, merge_indexes

    docs = load(spark, sf_dir, "documents")
    a = build_index(docs.filter(F.col("doc_id") % 2 == 0), doc_key=("doc_id",),
                    text_col="text", stem=False, cache="checkpoint")
    b = build_index(docs.filter(F.col("doc_id") % 2 == 1), doc_key=("doc_id",),
                    text_col="text", stem=False, cache="checkpoint")
    merged = merge_indexes(a, b)
    return merged.corpus_stats.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.round("idf_ref", 6).alias("idf_ref"),
        F.round("idf_bm25", 6).alias("idf_bm25"),
    )


# ------------------------------------------------ training-data ops

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical token-set key (operators/dedup.py)."""
    from .operators.dedup import exact_dedup

    return exact_dedup(load(spark, sf_dir, "documents"))


# CTE bodies kept WITH-less so the connected-components oracle can
# splice them into one WITH RECURSIVE clause.
SQL_EXACT_CTES = """keyed AS (
  SELECT doc_id AS id,
         list_aggr(list_sort(list_distinct(string_split(text, ' '))), 'string_agg', ' ') AS ckey
  FROM documents
),
grp AS (
  SELECT ckey, min(id) AS rep_id, count(*) AS c FROM keyed GROUP BY ckey HAVING c > 1
)"""

SQL_DEDUP_EXACT = (
    "WITH "
    + SQL_EXACT_CTES
    + """
SELECT g.rep_id, k.id AS dup_id
FROM grp g JOIN keyed k ON g.ckey = k.ckey
WHERE k.id <> g.rep_id
"""
)


# shared DuckDB CTE: distinct 3-gram shingles per document
SQL_SHINGLE_CTES = """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in range(1, len(toks) - 1)]) AS shingles
  FROM t
)"""

SQL_SHINGLES = "WITH " + SQL_SHINGLE_CTES + "\n"

SQL_JACCARD_BODY = """
SELECT a.doc_id AS i, b.doc_id AS j,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jac
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / len(list_distinct(a.shingles || b.shingles)) >= {thr}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs at 0.5 (shingle-keyed join)."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


SQL_DEDUP_NGRAM = SQL_SHINGLES + SQL_JACCARD_BODY.format(thr=0.5)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard at 0.9. The
    oracle is the exact all-pairs SQL — equality proves LSH recall 1.0
    at this threshold (band params chosen for that; tests/test_dedup.py).
    """
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.9)


SQL_DEDUP_MINHASH = SQL_SHINGLES + SQL_JACCARD_BODY.format(thr=0.9)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3). The 60-bit fingerprint is
    built on an SQL-reproducible base hash (md5 hex prefix ->
    BIGINT, dedup.simhash_base_hash), so the DuckDB twin computes
    IDENTICAL fingerprints and the output is fully oracle-checked
    (round 1 shipped this rows-only). Candidate generation stays the
    pigeonhole 3-of-6 compound-chunk join; completeness vs brute force is
    additionally property-tested in tests/test_dedup.py."""
    from .operators.dedup import simhash_pairs

    out = simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=3)
    return out.select("i", "j", F.col("hamming").cast("int").alias("hamming"))


def _sql_simhash_pairs(max_hamming: int = 3) -> str:
    from .operators.dedup import SIMHASH_BITS

    bit_sums = ",\n         ".join(
        f"sum(tf * (CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sim_expr = " | ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY id, tok),
hashed AS (SELECT id, tf, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
sums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id),
sims AS (SELECT id, {sim_expr} AS simhash FROM sums)
SELECT a.id AS i, b.id AS j, bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sims a JOIN sims b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SQL_DEDUP_SIMHASH = _sql_simhash_pairs(3)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import lang_id

    return lang_id(load(spark, sf_dir, "documents"))


def _sql_stoplist(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_lang_id() -> str:
    from .operators.text_analysis import LANG_ORDER, LANG_STOPWORDS

    hits = ",\n         ".join(
        f"len(list_filter(toks, t -> list_contains({_sql_stoplist(LANG_STOPWORDS[lang])}, t))) AS h_{lang}"
        for lang in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_ORDER) + ")"
    case = "CASE "
    for lang in LANG_ORDER:
        case += f"WHEN h_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH wt AS (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents),
h AS (
  SELECT doc_id AS id,
         {hits}
  FROM wt
)
SELECT id, {case} AS pred_lang, {best}::BIGINT AS hits FROM h
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import quality_score

    return quality_score(load(spark, sf_dir, "documents"))


def _sql_quality() -> str:
    from .operators.text_analysis import LANG_STOPWORDS

    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    return f"""
WITH wt AS (SELECT doc_id, text,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents),
f AS (
  SELECT doc_id AS id, length(text) AS n_chars, len(toks) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           len(list_filter(toks, t -> list_contains({_sql_stoplist(all_stop)}, t)))::DOUBLE / len(toks)
         END AS stop_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           len(list_distinct(toks))::DOUBLE / len(toks)
         END AS ttr
  FROM wt
)
SELECT id, n_chars::BIGINT AS n_chars, n_tokens::BIGINT AS n_tokens,
       round(stop_ratio, 6) AS stop_ratio, round(ttr, 6) AS ttr,
       round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE
               0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * least(stop_ratio * 5.0, 1.0) + 0.3 * ttr
             END, 6) AS score
FROM f
"""


SQL_QUALITY = _sql_quality()


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import token_counts

    return token_counts(load(spark, sf_dir, "documents"))


SQL_TOKEN_COUNTS = r"""
SELECT doc_id AS id,
       len(list_filter(string_split(trim(text), ' '), t -> t <> ''))::BIGINT AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS subword_tokens
FROM documents
"""


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing tf-idf vectorizer (hashing trick): text ->
    1024-dim sparse features as (id, bucket, w) rows, no vocabulary
    dictionary — cross-engine-reproducible featurization
    (operators/text_analysis.hashed_tfidf_features)."""
    from .operators.text_analysis import hashed_tfidf_features

    return hashed_tfidf_features(load(spark, sf_dir, "documents"), dim=1024)


SQL_HASHED_FEATURES = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
tf AS (SELECT id, tok, count(*)::BIGINT AS tf FROM toks WHERE tok <> '' GROUP BY id, tok),
dfx AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents)
SELECT t.id,
       (('0x' || substr(md5(t.tok), 1, 8))::BIGINT % 1024) AS bucket,
       round(sum(t.tf * ln(nd.n / d.df)), 6) AS w
FROM tf t JOIN dfx d ON t.tok = d.tok, nd
GROUP BY t.id, (('0x' || substr(md5(t.tok), 1, 8))::BIGINT % 1024)
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import fingerprint

    return fingerprint(load(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """
WITH wt AS (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents)
SELECT doc_id AS id,
       list_aggr([(7 * ascii(toks[i]) + 13 * length(toks[i]) + 3 * ascii(reverse(toks[i])))::BIGINT
                  * (1 + ((i - 1) % 97)) for i in range(1, len(toks) + 1)],
                 'sum')::BIGINT AS fp
FROM wt
"""


# Deterministic markup wrapper for the html_clean gate: the documents
# table is plain text (per input_hint), so the query synthesizes the
# markup column IN the plan — identical string program in both engines —
# then strips it back. Exercises: script/style content removal, comment
# removal, tag->space boundaries, entity decoding (incl. the
# decode-once &amp;lt; case).
_HTML_PRE = (
    '<html><head><title>T&amp;A &amp;lt;ok&amp;gt;</title>'
    "<style>p { color: red; }</style></head>"
    '<body><!-- note: 1 < 2 > 0 --><h1 class="t">Doc '
)
_HTML_MID = '</h1><p id="b">'
_HTML_POST = (
    '</p><script type="text/javascript">if (x < 3 && y > 1) '
    '{ alert("&quot;hi&quot;"); }</script>&nbsp;fin&#39;</body></html>'
)


def q_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-stripping projection (reference P1, Indexer.java:333-338):
    wrap each document's text in deterministic HTML (every token its own
    <p>), then recover the visible text natively
    (operators/text_analysis.strip_markup_col)."""
    from .operators.text_analysis import html_clean

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_HTML_PRE),
            F.col("doc_id").cast("string"),
            F.lit(_HTML_MID),
            F.regexp_replace("text", r"\s+", "</p>\n<p>"),
            F.lit(_HTML_POST),
        ).alias("html"),
    )
    return html_clean(docs)


def _sql_html_clean() -> str:
    from .operators.text_analysis import MARKUP_ENTITIES

    decode = "regexp_replace(regexp_replace(regexp_replace(regexp_replace(markup, '(?is)<script[^>]*>.*?</script>', ' ', 'g'), '(?is)<style[^>]*>.*?</style>', ' ', 'g'), '(?s)<!--.*?-->', ' ', 'g'), '(?s)<[^>]*>', ' ', 'g')"
    for ent, ch in MARKUP_ENTITIES:
        decode = f"replace({decode}, '{ent}', '{ch.replace(chr(39), chr(39)*2)}')"
    pre = _HTML_PRE.replace("'", "''")
    mid = _HTML_MID.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    return f"""
WITH m AS (
  SELECT doc_id AS id,
         '{pre}' || doc_id::VARCHAR || '{mid}'
         || regexp_replace(text, '\\s+', '</p>' || chr(10) || '<p>', 'g')
         || '{post}' AS markup
  FROM documents
),
c AS (SELECT id, trim(regexp_replace({decode}, '\\s+', ' ', 'g')) AS clean FROM m)
SELECT id, clean, len(list_filter(string_split(clean, ' '), t -> t <> ''))::BIGINT AS n_tokens FROM c
"""


SQL_HTML_CLEAN = _sql_html_clean()


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native PageRank, 10 fixed iterations, over a
    deterministic edge set derived from orders (operators/pagerank.py)."""
    from .operators.pagerank import pagerank

    orders = load(spark, sf_dir, "orders")
    edges = orders.select(
        (F.col("o_custkey") % 50).alias("src"), (F.col("o_orderkey") % 50).alias("dst")
    )
    out = pagerank(edges, n_iter=10)
    return out.select("id", F.round("rank", 6).alias("rank"))


def _sql_pagerank(n_iter: int = 10) -> str:
    head = """
WITH e AS (
  SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
  FROM orders WHERE (o_custkey % 50) <> (o_orderkey % 50)
),
nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM nodes)"""
    stages = []
    for i in range(1, n_iter + 1):
        stages.append(f""",
r{i} AS (
  SELECT n.id, 0.15 + 0.85 * coalesce(s.s, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS s
    FROM e JOIN deg d ON e.src = d.src JOIN r{i-1} r ON r.id = e.src
    GROUP BY e.dst) s ON n.id = s.id
)""")
    return head + "".join(stages) + f"\nSELECT id, round(rank, 6) AS rank FROM r{n_iter}"


SQL_PAGERANK = _sql_pagerank(10)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS (hubs & authorities), 10 fixed iterations, over
    the same deterministic orders-derived edge set as pagerank
    (operators/pagerank.hits)."""
    from .operators.pagerank import hits

    orders = load(spark, sf_dir, "orders")
    edges = orders.select(
        (F.col("o_custkey") % 50).alias("src"), (F.col("o_orderkey") % 50).alias("dst")
    )
    out = hits(edges, n_iter=10)
    return out.select(
        "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def _sql_hits(n_iter: int = 10) -> str:
    """Unrolled-CTE HITS oracle (the _sql_pagerank pattern). Normalizes
    every iteration; the Spark side normalizes only at checkpoint
    boundaries — scaling commutes through the linear updates, so the
    fixpoint direction is identical (fp drift ≪ the round-6 grid)."""
    head = """
WITH e AS (
  SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
  FROM orders WHERE (o_custkey % 50) <> (o_orderkey % 50)
),
nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
a0 AS (SELECT id, 1.0::DOUBLE AS auth FROM nodes)"""
    stages = []
    for i in range(1, n_iter + 1):
        # normalize via sum() OVER () — a scalar subquery would
        # reference each CTE twice and the inlined expansion doubles
        # per iteration (2^n_iter scans); the window keeps it linear
        stages.append(f""",
h{i} AS (
  SELECT id, s / sum(s) OVER () AS hub FROM (
    SELECT e.src AS id, sum(a.auth) AS s
    FROM e JOIN a{i - 1} a ON a.id = e.dst GROUP BY e.src)
),
a{i} AS (
  SELECT id, s / sum(s) OVER () AS auth FROM (
    SELECT e.dst AS id, sum(h.hub) AS s
    FROM e JOIN h{i} h ON h.id = e.src GROUP BY e.dst)
)""")
    tail = f"""
SELECT n.id, round(coalesce(h.hub, 0.0), 6) AS hub,
       round(coalesce(a.auth, 0.0), 6) AS auth
FROM nodes n LEFT JOIN h{n_iter} h ON h.id = n.id
             LEFT JOIN a{n_iter} a ON a.id = n.id
ORDER BY n.id"""
    return head + "".join(stages) + tail


SQL_HITS = _sql_hits(10)


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positions-based phrase search 'hash join' over the index postings
    (the capability positions exist for — north rule). Native arrays:
    occurrences = |intersect(pos(hash)+1, pos(join))|."""
    idx = get_index(spark, sf_dir)
    p1 = idx.postings.filter(F.col("term") == "hash").select("doc_id", F.col("positions").alias("p1"))
    p2 = idx.postings.filter(F.col("term") == "join").select("doc_id", F.col("positions").alias("p2"))
    return (
        p1.join(p2, "doc_id")
        .withColumn(
            "n_occurrences",
            F.size(F.array_intersect(F.transform("p1", lambda p: p + 1), F.col("p2"))).cast("long"),
        )
        .filter(F.col("n_occurrences") > 0)
        .select("doc_id", "n_occurrences")
    )


SQL_PHRASE_MATCH = (
    SQL_TOK
    + """
SELECT p1.doc_id,
       len(list_intersect(list_transform(p1.positions, x -> x + 1), p2.positions))::BIGINT AS n_occurrences
FROM postings p1 JOIN postings p2 ON p1.doc_id = p2.doc_id
WHERE p1.term = 'hash' AND p2.term = 'join'
  AND len(list_intersect(list_transform(p1.positions, x -> x + 1), p2.positions)) > 0
"""
)


# ------------------------------------------- query-serving extensions
# (operators/query_ops.py, operators/components.py — round 3)

PROX_TERMS = ("hash", "join")


def q_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + positional proximity boost for a two-term query; the
    ranked ordering uses the ROUNDED score (cosine_topk pattern) so the
    k-cutoff is stable across engines at float ties (dup docs tie
    exactly)."""
    from .operators.query_ops import proximity_topk

    idx = get_index(spark, sf_dir)
    out = proximity_topk(idx, *PROX_TERMS, k=1 << 30)
    out = out.select(
        "doc_id",
        F.col("min_gap").cast("long").alias("min_gap"),
        F.round("score", 4).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(40)


def q_proximity_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity ranking SERVED from the persisted compressed block
    index (positions decoded from the varint blobs) — same oracle as
    proximity_topk, proving the blobs carry ranking-grade positions,
    not just phrase-grade ones."""
    from .operators.postings_codec import proximity_topk_blocks

    bidx = ensure_block_index(spark, sf_dir)
    out = proximity_topk_blocks(bidx, *PROX_TERMS, k=1 << 30, stem=False)
    out = out.select(
        "doc_id",
        F.col("min_gap").cast("long").alias("min_gap"),
        F.round("score", 4).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(40)


SQL_PROXIMITY = (
    SQL_TOK
    + """
, pa AS (SELECT p.doc_id, p.tf, p.positions,
                ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0) AS idf
         FROM postings p, cs, tot WHERE p.term = cs.term AND p.term = 'hash'),
pb AS (SELECT p.doc_id, p.tf, p.positions,
               ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0) AS idf
        FROM postings p, cs, tot WHERE p.term = cs.term AND p.term = 'join'),
prox AS (
  SELECT pa.doc_id,
         list_min(flatten(list_transform(pa.positions,
                  x -> list_transform(pb.positions, y -> abs(x - y)))))::BIGINT AS min_gap,
         pa.idf * pa.tf * 2.2 / (pa.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))
         + pb.idf * pb.tf * 2.2 / (pb.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))
         + 1.0 / (1.0 + list_min(flatten(list_transform(pa.positions,
                  x -> list_transform(pb.positions, y -> abs(x - y)))))) AS score
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id JOIN ds ON ds.doc_id = pa.doc_id, tot
)
SELECT doc_id, min_gap, round(score, 4) AS score
FROM prox
ORDER BY round(score, 4) DESC, doc_id ASC
LIMIT 40
"""
)


def q_term_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete over the term dictionary (prefix 's')."""
    from .operators.query_ops import term_completion

    return term_completion(get_index(spark, sf_dir), "s", k=20)


SQL_TERM_COMPLETION = (
    SQL_TOK
    + """
SELECT term, df FROM cs WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 20
"""
)


def q_term_completion_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete SERVED from the persisted block store's
    range-partitioned term dictionary — the StartsWith filter pushes to
    the parquet scan and prunes to the file(s) whose [min_term,
    max_term] footer range covers the prefix (postings_codec._write_stats).
    Same oracle as the in-memory completion."""
    bidx = ensure_block_index(spark, sf_dir)
    return (
        bidx.corpus_stats.filter(F.col("term").startswith("s"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


def q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 suggestions for the misspelling 'sow' via the
    symmetric-delete candidate join; the oracle is the brute-force
    levenshtein scan — equality proves the SymSpell key set misses no
    distance-1 vocab term."""
    from .operators.query_ops import spell_suggest

    out = spell_suggest(get_index(spark, sf_dir), "sow", k=10)
    return out.select("term", "df", F.col("dist").cast("long").alias("dist"))


SQL_SPELL_SUGGEST = (
    SQL_TOK
    + """
SELECT term, df, levenshtein(term, 'sow')::BIGINT AS dist
FROM cs WHERE levenshtein(term, 'sow') <= 1
ORDER BY df DESC, term ASC LIMIT 10
"""
)


def q_expand_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level co-occurrence expansion of seed term 'hash' ranked by
    confidence P(seed | term) = joint_df / df — an exact BIGINT/BIGINT
    division, bit-reproducible cross-engine."""
    from .operators.query_ops import expand_query

    return expand_query(get_index(spark, sf_dir), "hash", k=15, min_df=2)


SQL_EXPAND_QUERY = (
    SQL_TOK
    + """
, seed AS (SELECT DISTINCT doc_id FROM postings WHERE term = 'hash')
SELECT p.term, count(*)::BIGINT AS joint_df, cs.df AS df,
       round(count(*)::DOUBLE / cs.df, 6) AS assoc
FROM postings p JOIN seed ON p.doc_id = seed.doc_id
JOIN cs ON p.term = cs.term
WHERE p.term <> 'hash' AND cs.df >= 2
GROUP BY p.term, cs.df
ORDER BY count(*)::DOUBLE / cs.df DESC, count(*) DESC, p.term ASC
LIMIT 15
"""
)


MLT_DOC = 7


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related docs to doc_id=7 by tf-idf cosine over shared terms;
    ROUNDED-score ordering (exact-dup docs of the source tie at 1.0)."""
    from .operators.query_ops import more_like_this

    out = more_like_this(get_index(spark, sf_dir), MLT_DOC, k=1 << 30)
    out = out.select("doc_id", F.round("score", 4).alias("score"))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


SQL_MORE_LIKE_THIS = (
    SQL_TOK
    + f"""
, wts AS (
  SELECT p.doc_id, p.term,
         (1.0 + ln(p.tf)) / (1.0 + ln(ds.max_tf)) * ln(tot.n_postings / cs.df) AS w
  FROM postings p JOIN ds ON p.doc_id = ds.doc_id JOIN cs ON p.term = cs.term, tot
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wts GROUP BY doc_id),
src AS (SELECT term, w FROM wts WHERE doc_id = {MLT_DOC}),
srcn AS (SELECT nrm AS nrm_src FROM norms WHERE doc_id = {MLT_DOC}),
scored AS (
  SELECT d.doc_id, sum(d.w * s.w) / (any_value(n.nrm) * any_value(srcn.nrm_src)) AS score
  FROM wts d JOIN src s ON d.term = s.term
  JOIN norms n ON n.doc_id = d.doc_id, srcn
  WHERE d.doc_id <> {MLT_DOC}
  GROUP BY d.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored
ORDER BY round(score, 4) DESC, doc_id ASC
LIMIT 20
"""
)


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level retrieval analog: per-doc BM25 for the
    flagship query aggregated to the parent `source`, top groups by
    summed evidence (rounded-score ordering)."""
    from .operators.query_ops import group_topk

    idx = get_index(spark, sf_dir)
    scored = bm25_topk(idx, BM25_QUERY, k=1 << 30, stem=False)
    docs = load(spark, sf_dir, "documents")
    out = group_topk(scored, docs, "source", ("doc_id",), k=1 << 30)
    out = out.select(
        "source",
        F.round("score", 4).alias("score"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("best", 4).alias("best"),
    )
    return out.orderBy(F.desc("score"), F.asc("source")).limit(10)


SQL_GROUP_TOPK = (
    SQL_TOK
    + """
, scored AS (
  SELECT p.doc_id,
         sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
             * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
)
SELECT d.source, round(sum(s.score), 4) AS score,
       count(*)::BIGINT AS n_docs, round(max(s.score), 4) AS best
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
GROUP BY d.source
ORDER BY round(sum(s.score), 4) DESC, d.source ASC
LIMIT 10
"""
)


def _neardup_edges(docs: DataFrame) -> DataFrame:
    """ONE definition of the driver queries' near-dup edge set — the
    union of exact-dup pairs and 0.5-Jaccard shingle pairs — shared by
    q_dedup_components and q_dedup_cluster_reps so 'same edge set as
    dedup_components' cannot drift (their SQL twins share the same CTEs
    via SQL_DEDUP_COMPONENTS for the identical reason)."""
    from .operators.dedup import exact_dedup, ngram_jaccard_pairs

    ex = exact_dedup(docs).select(
        F.col("rep_id").alias("i"), F.col("dup_id").alias("j")
    )
    return ex.unionByName(ngram_jaccard_pairs(docs, threshold=0.5).select("i", "j"))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (alternating large-star /
    small-star) over the union of exact-dup pairs and 0.5-Jaccard
    shingle pairs. comp = min reachable doc_id."""
    from .operators.components import connected_components

    comp = connected_components(_neardup_edges(load(spark, sf_dir, "documents")))
    return comp.select(F.col("node").alias("doc_id"), "comp")


SQL_DEDUP_COMPONENTS = (
    "WITH RECURSIVE "
    + SQL_EXACT_CTES
    + ",\n"
    + SQL_SHINGLE_CTES
    + """,
expairs AS (
  SELECT g.rep_id AS i, k.id AS j
  FROM grp g JOIN keyed k ON g.ckey = k.ckey
  WHERE k.id <> g.rep_id
),
ngpairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)) >= 0.5
),
e AS (SELECT i, j FROM expairs UNION SELECT i, j FROM ngpairs),
sym AS (SELECT i AS a, j AS b FROM e UNION SELECT j, i FROM e),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
)
SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src
"""
)


def q_dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: one representative per near-dup
    cluster (same edge set as dedup_components), chosen by max
    quality_score with min-id tie-break; singletons represent
    themselves (operators/dedup.cluster_representatives)."""
    from .operators.dedup import cluster_representatives
    from .operators.text_analysis import quality_score

    docs = load(spark, sf_dir, "documents")
    reps = cluster_representatives(docs, _neardup_edges(docs), quality_score(docs))
    return reps.select(
        F.col("comp").cast("long").alias("comp"),
        F.col("rep_id").cast("long").alias("rep_id"),
        "rep_score",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


# the twin composes the components CTE (comp = min reachable id, self
# included) with the quality CTE, then picks max-score / min-id per
# cluster; docs with no edges are their own singleton cluster
SQL_DEDUP_CLUSTER_REPS = (
    SQL_DEDUP_COMPONENTS.replace(
        "SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src",
        """, compq AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src),
qual AS ("""
        + SQL_QUALITY
        + """),
lab AS (
  SELECT d.doc_id AS id, coalesce(c.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN compq c ON d.doc_id = c.doc_id
),
sc AS (SELECT l.id, l.comp, q.score FROM lab l JOIN qual q ON l.id = q.id),
agg AS (SELECT comp, max(score) AS rep_score, count(*) AS cluster_size
        FROM sc GROUP BY comp)
SELECT a.comp, min(s.id) AS rep_id, a.rep_score, a.cluster_size
FROM agg a JOIN sc s ON a.comp = s.comp AND s.score = a.rep_score
GROUP BY a.comp, a.rep_score, a.cluster_size
""",
    )
)


# --------------------------------------- round-4 pipeline additions


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document."""
    from .operators.text_analysis import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = """
WITH t AS (SELECT doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
           FROM documents),
base AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
                len(list_distinct(toks))::BIGINT AS n_distinct FROM t),
bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
       FROM t, unnest(generate_series(1, len(toks) - 1)) s(i)),
bgc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM bg GROUP BY doc_id, g),
bga AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY doc_id),
tg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
       FROM t, unnest(generate_series(1, len(toks) - 2)) s(i)),
tgc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM tg GROUP BY doc_id, g),
tga AS (SELECT doc_id, count(*)::BIGINT AS dis, sum(c) AS tot FROM tgc GROUP BY doc_id)
SELECT b.doc_id AS id, b.n_tokens,
       round(CASE WHEN b.n_tokens = 0 THEN 0.0
                  ELSE 1 - b.n_distinct / b.n_tokens::DOUBLE END, 6) AS dup_token_frac,
       round(coalesce(bga.mx / bga.tot::DOUBLE, 0), 6) AS top_bigram_frac,
       round(coalesce(1 - tga.dis / tga.tot::DOUBLE, 0), 6) AS dup_trigram_frac
FROM base b
LEFT JOIN bga ON b.doc_id = bga.doc_id
LEFT JOIN tga ON b.doc_id = tga.doc_id
"""


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup: maximal spans of 5-token windows repeated
    anywhere in the corpus (substring dedup, not whole-doc)."""
    from .operators.dedup import repeated_passages

    return repeated_passages(load(spark, sf_dir, "documents"), w=5)


def _sql_repeated_passages(w: int) -> str:
    gram = " || ' ' || ".join(f"toks[i+{k}]" for k in range(w))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id, i - 1 AS pos, {gram} AS g
       FROM t, unnest(generate_series(1, len(toks) - {w - 1})) s(i)),
dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
m AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {w}
                  THEN 1 ELSE 0 END AS brk
      FROM hits),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM m)
SELECT doc_id AS id, min(pos)::BIGINT AS span_start,
       (max(pos) + {w})::BIGINT AS span_end,
       (max(pos) + {w} - min(pos))::BIGINT AS span_tokens
FROM s GROUP BY doc_id, span
"""


SQL_DUP_PASSAGES = _sql_repeated_passages(5)


def q_dedup_passage_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REMOVAL (Lee et al. 2022 completion of
    dup_passages): cut every repeated-passage span from the text and
    report the rewritten doc with before/after token accounting."""
    from .operators.dedup import remove_spans, repeated_passages

    docs = load(spark, sf_dir, "documents")
    return remove_spans(docs, repeated_passages(docs, w=5), "doc_id", "text")


def _sql_remove_spans(w: int) -> str:
    gram = " || ' ' || ".join(f"toks[i+{k}]" for k in range(w))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id, i - 1 AS pos, {gram} AS g
       FROM t, unnest(generate_series(1, len(toks) - {w - 1})) s(i)),
dup AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (g)),
m AS (SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {w}
                  THEN 1 ELSE 0 END AS brk
      FROM hits),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM m),
spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + {w} AS span_end
          FROM s GROUP BY doc_id, span),
tok AS (SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
        FROM t, unnest(generate_series(1, len(toks))) u(i)),
kept AS (SELECT tok.doc_id, tok.pos, tok.tok
         FROM tok LEFT JOIN spans sp
           ON tok.doc_id = sp.doc_id
          AND tok.pos >= sp.span_start AND tok.pos < sp.span_end
         WHERE sp.doc_id IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS text
        FROM kept GROUP BY doc_id)
SELECT t.doc_id AS id, len(t.toks)::BIGINT AS n_tokens,
       (len(t.toks) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
       coalesce(a.text, '') AS text
FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


SQL_DEDUP_PASSAGE_REMOVED = _sql_remove_spans(5)


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result facetting: per-source n_docs + max/min BM25 score
    over the FULL match set of the standard query (no top-k cut)."""
    from .operators.scoring import facet_counts

    idx = get_index(spark, sf_dir)
    meta = load(spark, sf_dir, "documents").select("doc_id", "source")
    return facet_counts(idx, BM25_QUERY, meta, "source", stem=False)


SQL_FACET_COUNTS = (
    SQL_TOK
    + """,
scored AS (
  SELECT p.doc_id,
         round(sum(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4) AS s
  FROM postings p, cs, ds, tot
  WHERE p.term = cs.term AND p.doc_id = ds.doc_id
    AND p.term IN ('hash', 'join', 'merge')
  GROUP BY p.doc_id
)
SELECT d.source AS facet, count(*)::BIGINT AS n_docs,
       max(s.s) AS max_score, min(s.s) AS min_score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY d.source
"""
)


def q_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-distribution diagnostics: ln-ln Zipf slope over the
    top-1000 terms + exact vocab/token totals, fed by the same
    tokenizer as the index build (operators/text_analysis.zipf_stats)."""
    from .operators.text_analysis import zipf_stats

    return zipf_stats(q_wordcount(spark, sf_dir), top_n=1000)


# ranks come from the identical (cnt DESC, term ASC) comparator, so the
# window over the full wordcount then LIMIT keeps exactly Spark's
# top-1000 frame; ln() is natural log on both engines
SQL_ZIPF_STATS = (
    SQL_TOK
    + """,
wc AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term),
top AS (SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
        FROM wc ORDER BY cnt DESC, term ASC LIMIT 1000),
fit AS (SELECT round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
               count(*)::BIGINT AS n_terms_fit
        FROM top),
vocab AS (SELECT count(*)::BIGINT AS n_vocab, sum(cnt)::BIGINT AS n_tokens
          FROM wc)
SELECT fit.zipf_slope, fit.n_terms_fit, vocab.n_vocab, vocab.n_tokens
FROM fit, vocab
"""
)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution report: exact interpolated
    p50/p90/p99 + count/mean/min/max, via the window-rank weighted-sum
    fold (operators/text_analysis.length_quantiles — never buffers a
    group's values)."""
    from .operators.text_analysis import length_quantiles

    return length_quantiles(load(spark, sf_dir, "documents"), by="source")


# quantile_cont is the same pos = q·(n−1) linear interpolation the
# Spark fold implements; lengths are exact integers so the only doubles
# meeting the round-4 grid are the interpolated quantiles themselves
SQL_LENGTH_QUANTILES = """
WITH d AS (
  SELECT source,
         len(list_filter(list_transform(regexp_extract_all(lower(coalesce(text, '')), '[a-z-]+'),
                                        x -> trim(x, '-')), x -> x <> ''))::DOUBLE AS len
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(len), 4) AS mean_len,
       min(len)::BIGINT AS min_len,
       max(len)::BIGINT AS max_len,
       round(quantile_cont(len, 0.5), 4) AS p50,
       round(quantile_cont(len, 0.9), 4) AS p90,
       round(quantile_cont(len, 0.99), 4) AS p99
FROM d GROUP BY source ORDER BY source
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus phrase mining: top-100 adjacent-bigram collocations by PMI
    (pair count >= 5) over the index tokenizer's token stream
    (operators/text_analysis.collocations)."""
    from .operators.text_analysis import collocations

    docs = load(spark, sf_dir, "documents")
    return collocations(docs, k=100, min_count=5)


# the bigram side reuses SQL_TOK's positioned token stream: adjacency in
# the KEPT-token sequence is exactly pos+1 there; PMI is spelled as the
# identical ln-sum on both engines and rounded to 6 dp (libm vs JVM ln
# trailing-ulp noise), ties broken on (w1, w2)
SQL_COLLOCATIONS = (
    SQL_TOK
    + """,
big AS (SELECT t1.term AS w1, t2.term AS w2, count(*)::BIGINT AS pair_cnt
        FROM tok t1 JOIN tok t2
          ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        GROUP BY 1, 2),
uni AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term),
colt AS (SELECT (SELECT sum(pair_cnt) FROM big)::DOUBLE AS n_big,
                (SELECT sum(cnt) FROM uni)::DOUBLE AS n_tok)
SELECT b.w1, b.w2, b.pair_cnt,
       round(ln(b.pair_cnt) - ln(t.n_big) - ln(u1.cnt) - ln(u2.cnt)
             + 2 * ln(t.n_tok), 6) AS pmi
FROM big b
JOIN uni u1 ON b.w1 = u1.term
JOIN uni u2 ON b.w2 = u2.term
CROSS JOIN colt t
WHERE b.pair_cnt >= 5
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
LIMIT 100
"""
)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: per-doc perplexity under an add-0.5
    bigram LM trained on the corpus itself
    (operators/text_analysis.lm_perplexity)."""
    from .operators.text_analysis import lm_perplexity

    docs = load(spark, sf_dir, "documents")
    return lm_perplexity(docs, k_smooth=0.5)


# dbig mirrors Spark's per-doc-first aggregation; the model ln is the
# identical expression both sides; avg_nll rounded to 6 dp (partial-sum
# order noise) and ppl exponentiates the ROUNDED value
SQL_LM_PERPLEXITY = (
    SQL_TOK
    + """,
dbig AS (SELECT t1.doc_id, t1.term AS w1, t2.term AS w2,
                count(*)::BIGINT AS c
         FROM tok t1 JOIN tok t2
           ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         GROUP BY 1, 2, 3),
uni AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term),
voc AS (SELECT count(*)::DOUBLE AS v FROM uni),
model AS (SELECT b.w1, b.w2,
                 ln((b.c12 + 0.5) / (u.cnt + 0.5 * voc.v)) AS lp
          FROM (SELECT w1, w2, sum(c)::BIGINT AS c12 FROM dbig GROUP BY 1, 2) b
          JOIN uni u ON b.w1 = u.term
          CROSS JOIN voc),
sc AS (SELECT d.doc_id AS id, sum(d.c)::BIGINT AS n_bigrams,
              round(-sum(d.c * m.lp) / sum(d.c), 6) AS avg_nll
       FROM dbig d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
       GROUP BY d.doc_id)
SELECT id, n_bigrams, avg_nll, round(exp(avg_nll), 4) AS ppl FROM sc
"""
)


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitor drill-down: top-50 unigram movers between the
    even-doc_id and odd-doc_id halves of the corpus (stand-ins for two
    ingestion snapshots) — operators/text_analysis.unigram_drift."""
    from .operators.text_analysis import unigram_drift

    docs = load(spark, sf_dir, "documents")
    return unigram_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=50,
    )


def q_corpus_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitor scalar: Jensen-Shannon divergence + vocab overlap
    between the same two corpus halves
    (operators/text_analysis.js_divergence)."""
    from .operators.text_analysis import js_divergence

    docs = load(spark, sf_dir, "documents")
    return js_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


# both drift twins share this body: per-slice wordcounts full-outer
# joined on term, coalesced zero counts, one-row totals
_SQL_DRIFT_BODY = (
    SQL_TOK
    + """,
wa AS (SELECT term, count(*)::BIGINT AS cnt_a FROM tok
       WHERE doc_id % 2 = 0 GROUP BY term),
wb AS (SELECT term, count(*)::BIGINT AS cnt_b FROM tok
       WHERE doc_id % 2 = 1 GROUP BY term),
j AS (SELECT coalesce(wa.term, wb.term) AS term,
             coalesce(cnt_a, 0) AS cnt_a,
             coalesce(cnt_b, 0) AS cnt_b
      FROM wa FULL OUTER JOIN wb ON wa.term = wb.term),
jt AS (SELECT (SELECT sum(cnt_a) FROM j)::BIGINT AS n_a,
              (SELECT sum(cnt_b) FROM j)::BIGINT AS n_b)
"""
)

# ORDER BY the exact integer |cnt_a*n_b - cnt_b*n_a| — bit-identical to
# Spark's sort key, immune to double noise at the cut
SQL_CORPUS_DRIFT = (
    _SQL_DRIFT_BODY
    + """
SELECT j.term, j.cnt_a, j.cnt_b,
       round((j.cnt_a / jt.n_a::DOUBLE - j.cnt_b / jt.n_b::DOUBLE)
             * 1000000.0, 4) AS delta_ppm
FROM j CROSS JOIN jt
ORDER BY abs(j.cnt_a * jt.n_b - j.cnt_b * jt.n_a) DESC, j.term ASC
LIMIT 50
"""
)

SQL_CORPUS_JSD = (
    _SQL_DRIFT_BODY
    + """
SELECT round(0.5 * sum(CASE WHEN cnt_a > 0 THEN (cnt_a / n_a::DOUBLE)
                  * ln(2.0 * (cnt_a / n_a::DOUBLE)
                       / (cnt_a / n_a::DOUBLE + cnt_b / n_b::DOUBLE))
                  ELSE 0.0 END)
           + 0.5 * sum(CASE WHEN cnt_b > 0 THEN (cnt_b / n_b::DOUBLE)
                  * ln(2.0 * (cnt_b / n_b::DOUBLE)
                       / (cnt_a / n_a::DOUBLE + cnt_b / n_b::DOUBLE))
                  ELSE 0.0 END), 6) AS jsd,
       sum((cnt_a > 0 AND cnt_b > 0)::BIGINT)::BIGINT AS n_common,
       sum((cnt_b = 0)::BIGINT)::BIGINT AS n_a_only,
       sum((cnt_a = 0)::BIGINT)::BIGINT AS n_b_only,
       max(n_a) AS n_tok_a,
       max(n_b) AS n_tok_b
FROM j CROSS JOIN jt
"""
)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab-sizing diagnostic: token-mass coverage of top-V
    vocabularies (operators/text_analysis.vocab_coverage) over the same
    wordcount frame as zipf_stats."""
    from .operators.text_analysis import vocab_coverage

    return vocab_coverage(q_wordcount(spark, sf_dir), sizes=(10, 100, 1000))


# identical (cnt DESC, term ASC) comparator; every quantity except the
# final ratio is an exact integer, so the twin cannot drift
SQL_VOCAB_COVERAGE = (
    SQL_TOK
    + """,
wc AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term),
top AS (SELECT row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank,
               sum(cnt) OVER (ORDER BY cnt DESC, term ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM wc ORDER BY cnt DESC, term ASC LIMIT 1000),
tv AS (SELECT count(*)::BIGINT AS n_vocab, sum(cnt)::BIGINT AS n_tokens
       FROM wc),
sz AS (SELECT * FROM (VALUES (10), (100), (1000)) AS t(vocab_size))
SELECT sz.vocab_size::BIGINT AS vocab_size,
       least(sz.vocab_size, tv.n_vocab)::BIGINT AS n_terms,
       coalesce(top.cum, 0)::BIGINT AS covered_tokens,
       round(coalesce(top.cum, 0) / tv.n_tokens::DOUBLE, 6) AS coverage
FROM sz CROSS JOIN tv
LEFT JOIN top ON top.rank = least(sz.vocab_size, tv.n_vocab)
ORDER BY vocab_size
"""
)


# ------------------------------------------- round-5b: winnowing,
# permuterm wildcards, next-word suggestion


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03, the MOSS
    algorithm): per-window minimum 4-gram hash, window 5, leftmost ties
    (operators/dedup.winnow_fingerprints)."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(load(spark, sf_dir, "documents"), k=4, w=5)


# the window-min runs over the SAME fixed-width string key (15-hex md5
# prefix || '-' || 8-digit position) on both engines, so "min hash, ties
# leftmost" is one lexicographic min; the hash decodes with the simhash
# 60-bit md5-prefix convention
_SQL_WINNOW_CTES = """t AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
g AS (SELECT doc_id, i - 1 AS pos, len(toks) - 3 AS ng,
             substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15) AS ghex
      FROM t, unnest(generate_series(1, len(toks) - 3)) s(i)
      WHERE len(toks) >= 4),
sk AS (SELECT doc_id, pos, ng, ghex || '-' || printf('%08d', pos) AS skey FROM g),
wm AS (SELECT doc_id, ng, pos,
              min(skey) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
       FROM sk),
seld AS (SELECT DISTINCT doc_id, sel FROM wm WHERE pos <= greatest(ng - 5, 0))"""

SQL_WINNOW_FINGERPRINTS = (
    "WITH "
    + _SQL_WINNOW_CTES
    + """
SELECT doc_id AS id, ('0x' || substr(sel, 1, 15))::BIGINT AS ghash,
       substr(sel, 17)::BIGINT AS pos
FROM seld
"""
)


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by Jaccard >= 0.2 over winnowed fingerprint sets
    (operators/dedup.winnow_pairs) — the MOSS similarity measure at
    ~2/(w+1) the join rows of full-shingle Jaccard."""
    from .operators.dedup import winnow_pairs

    return winnow_pairs(load(spark, sf_dir, "documents"), threshold=0.2, k=4, w=5)


# the hot-hash cap (>1000 docs sharing a fingerprint) cannot fire on the
# 500-doc sf0.01 corpus, so the oracle omits it; both engines filter on
# the 6-dp-ROUNDED jaccard so the threshold cut is bit-identical
SQL_DEDUP_WINNOW = (
    "WITH "
    + _SQL_WINNOW_CTES
    + """,
fp AS (SELECT DISTINCT doc_id, substr(sel, 1, 15) AS ghex FROM seld),
sizes AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY doc_id),
pr AS (SELECT a.doc_id AS i, b.doc_id AS j,
              sa.nf AS na, sb.nf AS nb, count(*) AS shared
       FROM fp a JOIN fp b ON a.ghex = b.ghex AND a.doc_id < b.doc_id
       JOIN sizes sa ON sa.doc_id = a.doc_id
       JOIN sizes sb ON sb.doc_id = b.doc_id
       GROUP BY 1, 2, 3, 4)
SELECT i, j, round(shared::DOUBLE / (na + nb - shared), 6) AS jac
FROM pr WHERE round(shared::DOUBLE / (na + nb - shared), 6) >= 0.2
"""
)


def q_next_word_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-word query completion after 'hash', served from the index's
    positional postings alone (operators/query_ops.next_word_suggest) —
    adjacency = array intersection of pos(prev)+1 with pos(term)."""
    from .operators.query_ops import next_word_suggest

    return next_word_suggest(get_index(spark, sf_dir), "hash", k=10)


SQL_NEXT_WORD_SUGGEST = (
    SQL_TOK
    + """,
prev AS (SELECT doc_id, positions FROM postings WHERE term = 'hash'),
fol AS (SELECT p.term,
               len(list_intersect(list_transform(pr.positions, x -> x + 1),
                                  p.positions)) AS c
        FROM postings p JOIN prev pr USING (doc_id))
SELECT term, sum(c)::BIGINT AS follow_cnt
FROM fol WHERE c > 0
GROUP BY term ORDER BY follow_cnt DESC, term ASC LIMIT 10
"""
)


def q_wildcard_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permuterm wildcard term lookup 's*' (IR book ch. 3.2.1): rotate
    term||'$', prefix-match the rotated key '$s'
    (operators/query_ops.wildcard_terms)."""
    from .operators.query_ops import wildcard_terms

    return wildcard_terms(get_index(spark, sf_dir), "s*", k=20)


_SQL_ROT = """rot AS (
  SELECT term, df, substr(term || '$', i + 1) || substr(term || '$', 1, i) AS rot
  FROM cs, unnest(generate_series(0, len(term))) s(i)
)"""

SQL_WILDCARD_TERMS = (
    SQL_TOK
    + f""",
{_SQL_ROT}
SELECT term, df FROM rot WHERE starts_with(rot, '$s')
ORDER BY df DESC, term ASC LIMIT 20
"""
)


def q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-40 for the wildcard query '*er' — OR-semantics over the
    20 highest-df permuterm matches (Lucene MultiTermQuery rewrite;
    operators/query_ops.wildcard_topk)."""
    from .operators.query_ops import wildcard_topk

    return wildcard_topk(get_index(spark, sf_dir), "*er", k=40, max_expansions=20)


SQL_WILDCARD_TOPK = (
    SQL_TOK
    + f""",
{_SQL_ROT},
wt AS (SELECT term, df FROM rot WHERE starts_with(rot, 'er$')
       ORDER BY df DESC, term ASC LIMIT 20),
widf AS (SELECT cs.term,
                ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0) AS idf
         FROM cs JOIN wt ON cs.term = wt.term, tot)
SELECT p.doc_id,
       round(sum(widf.idf * p.tf * 2.2
                 / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))), 4)
           AS score
FROM postings p
JOIN widf ON p.term = widf.term
JOIN ds ON ds.doc_id = p.doc_id, tot
GROUP BY p.doc_id
ORDER BY score DESC, p.doc_id ASC
LIMIT 40
"""
)



def q_snippet_best_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-aware snippet selection for the BM25 top-10: the
    10-token window covering the most distinct query terms, ties to the
    earliest start (operators/scoring.best_window_snippets) — candidate
    starts are the matched positions themselves, so per-doc work is
    O(m^2) on one result doc's occurrences."""
    from .operators.scoring import best_window_snippets

    idx = get_index(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    out = best_window_snippets(idx, docs, BM25_QUERY, k=10, window=10, stem=False)
    return out.select(
        "doc_id", F.round("score", 4).alias("score"),
        "snip_start", "n_terms", "snippet",
    )


SQL_SNIPPET_BEST_WINDOW = (
    SQL_TOK
    + """,
sidf AS (SELECT cs.term,
                ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0) AS idf
         FROM cs, tot WHERE cs.term IN ('hash', 'join', 'merge')),
sc AS (SELECT p.doc_id,
              sum(sidf.idf * p.tf * 2.2
                  / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len))) AS score
       FROM postings p
       JOIN sidf ON p.term = sidf.term
       JOIN ds ON p.doc_id = ds.doc_id, tot
       GROUP BY p.doc_id),
stop AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10),
hi AS (SELECT tok.doc_id, tok.pos, tok.term
       FROM tok JOIN stop ON tok.doc_id = stop.doc_id
       WHERE tok.term IN ('hash', 'join', 'merge')),
cnts AS (SELECT a.doc_id, a.pos AS s, count(DISTINCT b.term) AS cnt
         FROM hi a JOIN hi b
           ON a.doc_id = b.doc_id AND b.pos >= a.pos AND b.pos < a.pos + 10
         GROUP BY a.doc_id, a.pos),
sbest AS (SELECT doc_id, s, cnt,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, s ASC) AS rn
          FROM cnts)
SELECT t.doc_id, round(t.score, 4) AS score,
       b1.s::BIGINT AS snip_start, b1.cnt::BIGINT AS n_terms,
       array_to_string(d.toks[b1.s + 1 : b1.s + 10], ' ') AS snippet
FROM stop t
JOIN sbest b1 ON b1.doc_id = t.doc_id AND b1.rn = 1
JOIN d ON d.doc_id = t.doc_id
"""
)


def q_bm25_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static index pruning (Carmel et al. SIGIR'01 top-k variant):
    keep only the 8 highest-impact postings per term (original global
    stats retained), then the standard BM25 top-20 over the pruned
    index (operators/index_build.static_prune). The oracle replays the
    identical 6-dp-rounded impact cut + scoring in SQL."""
    from .operators.index_build import static_prune

    idx = static_prune(get_index(spark, sf_dir), keep_per_term=8)
    out = bm25_topk(idx, BM25_QUERY, k=20, stem=False)
    return out.select("doc_id", F.round("score", 4).alias("score"))


SQL_BM25_PRUNED = (
    SQL_TOK
    + """,
pimp AS (SELECT p.doc_id, p.term, p.tf, ds.doc_len,
                round(ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0)
                      * p.tf * 2.2
                      / (p.tf + 1.2 * (0.25 + 0.75 * ds.doc_len / tot.avg_len)),
                      6) AS im,
                ln((tot.n_docs - cs.df + 0.5) / (cs.df + 0.5) + 1.0) AS idf
         FROM postings p
         JOIN cs ON p.term = cs.term
         JOIN ds ON p.doc_id = ds.doc_id, tot),
ppr AS (SELECT * FROM (
          SELECT pimp.*, row_number() OVER (PARTITION BY term
                     ORDER BY im DESC, doc_id ASC) AS rn
          FROM pimp) WHERE rn <= 8)
SELECT doc_id,
       round(sum(idf * tf * 2.2
                 / (tf + 1.2 * (0.25 + 0.75 * doc_len / tot.avg_len))), 4) AS score
FROM ppr, tot
WHERE term IN ('hash', 'join', 'merge')
GROUP BY doc_id
ORDER BY sum(idf * tf * 2.2
             / (tf + 1.2 * (0.25 + 0.75 * doc_len / tot.avg_len))) DESC,
         doc_id ASC
LIMIT 20
"""
)



def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW'02): restart mass
    concentrated on the seed set {id % 7 == 0}, 10 fixed iterations
    over the same orders-derived graph as `pagerank`
    (operators/pagerank.personalized_pagerank)."""
    from .operators.pagerank import personalized_pagerank

    orders = load(spark, sf_dir, "orders")
    edges = orders.select(
        (F.col("o_custkey") % 50).alias("src"), (F.col("o_orderkey") % 50).alias("dst")
    )
    nodes = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    seeds = nodes.filter(F.col("id") % 7 == 0)
    out = personalized_pagerank(edges, seeds, n_iter=10)
    return out.select("id", F.round("rank", 6).alias("rank"))


def _sql_pagerank_personalized(n_iter: int = 10) -> str:
    head = """
WITH e AS (
  SELECT DISTINCT o_custkey % 50 AS src, o_orderkey % 50 AS dst
  FROM orders WHERE (o_custkey % 50) <> (o_orderkey % 50)
),
nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
b AS (SELECT id,
             CASE WHEN id % 7 = 0
                  THEN 0.15 * (SELECT count(*) FROM nodes)::DOUBLE
                       / (SELECT count(*) FROM nodes WHERE id % 7 = 0)
                  ELSE 0.0 END AS base
      FROM nodes),
p0 AS (SELECT id, base AS rank FROM b)"""
    stages = []
    for i in range(1, n_iter + 1):
        stages.append(f""",
p{i} AS (
  SELECT b.id, b.base + 0.85 * coalesce(s.s, 0.0) AS rank
  FROM b LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS s
    FROM e JOIN deg d ON e.src = d.src JOIN p{i-1} r ON r.id = e.src
    GROUP BY e.dst) s ON b.id = s.id
)""")
    return head + "".join(stages) + f"\nSELECT id, round(rank, 6) AS rank FROM p{n_iter}"


SQL_PAGERANK_PERSONALIZED = _sql_pagerank_personalized(10)


# ---------------------------------------------------------- registry

# Registry ORDER is a driver contract: the correctness driver gates the
# first 50 entries, in insertion order. The search-engine queries come
# first, grouped by family, so every one of them is gated; the
# data-pipeline tier that ROADMAP item 3 deletes module by module comes
# last, and its first entries fill the remaining gated slots. Every
# entry, gated or not, has its ORACLES twin under the same key
# (tests/test_entry_contract.py) and runs in tools/selfcheck.py.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- index + corpus statistics ---
    "postings": q_postings,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "wordcount": q_wordcount,
    "merge_stats": q_merge_stats,
    # --- rankers over the in-memory index ---
    "bm25_topk": q_bm25_topk,
    "bm25_and_topk": q_bm25_and_topk,
    "bm25_batch": q_bm25_batch,
    "bm25_pruned": q_bm25_pruned,
    "tfidf_topk": q_tfidf_topk,
    "cosine_topk": q_cosine_topk,
    "lm_topk": q_lm_topk,
    "rm3_topk": q_rm3_topk,
    "bm25f_topk": q_bm25f_topk,
    "conv_topk": q_conv_topk,
    "prior_blend": q_prior_blend,
    "rank_metrics": q_rank_metrics,
    # --- block store: serving ---
    "bm25_blocks": q_bm25_blocks,
    "bm25_and_blocks": q_bm25_and_blocks,
    "bm25_batch_blocks": q_bm25_batch_blocks,
    "bm25_not_blocks": q_bm25_not_blocks,
    "bool_blocks": q_bool_blocks,
    "phrase_blocks": q_phrase_blocks,
    "proximity_blocks": q_proximity_blocks,
    "term_completion_blocks": q_term_completion_blocks,
    # --- block store: maintenance (append, merge, delete, compact) ---
    "bm25_append_blocks": q_bm25_append_blocks,
    "bm25_merged_blocks": q_bm25_merged_blocks,
    "bm25_deleted_blocks": q_bm25_deleted_blocks,
    "bm25_compacted": q_bm25_compacted,
    "bm25_compact_deleted": q_bm25_compact_deleted,
    # --- phrase / proximity ---
    "phrase_match": q_phrase_match,
    "proximity_topk": q_proximity_topk,
    # --- completion, spelling, wildcards, expansion ---
    "term_completion": q_term_completion,
    "next_word_suggest": q_next_word_suggest,
    "spell_suggest": q_spell_suggest,
    "expand_query": q_expand_query,
    "wildcard_terms": q_wildcard_terms,
    "wildcard_topk": q_wildcard_topk,
    "more_like_this": q_more_like_this,
    # --- result presentation ---
    "term_semi_join": q_term_semi_join,
    "topk_join_meta": q_topk_join_meta,
    "topk_snippets": q_topk_snippets,
    "snippet_best_window": q_snippet_best_window,
    "group_topk": q_group_topk,
    "facet_counts": q_facet_counts,
    # --- link analysis ---
    "pagerank": q_pagerank,
    "pagerank_personalized": q_pagerank_personalized,
    "hits": q_hits,
    # --- data-pipeline tier: off the search path, listed after the
    # search-engine queries (ROADMAP item 3 deletes it module by module) ---
    # near-duplicate detection, passage dedup
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_components": q_dedup_components,
    "dedup_cluster_reps": q_dedup_cluster_reps,
    "winnow_fingerprints": q_winnow_fingerprints,
    "dedup_winnow": q_dedup_winnow,
    "dup_passages": q_dup_passages,
    "dedup_passage_removed": q_dedup_passage_removed,
    # text analysis
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "html_clean": q_html_clean,
    "hashed_features": q_hashed_features,
    "repetition_stats": q_repetition_stats,
    "zipf_stats": q_zipf_stats,
    "length_quantiles": q_length_quantiles,
    "collocations": q_collocations,
    "lm_perplexity": q_lm_perplexity,
    "corpus_drift": q_corpus_drift,
    "corpus_jsd": q_corpus_jsd,
    "vocab_coverage": q_vocab_coverage,
}

ORACLES: dict[str, str] = {
    "postings": SQL_POSTINGS,
    "doc_stats": SQL_DOC_STATS,
    "corpus_stats": SQL_CORPUS_STATS,
    "wordcount": SQL_WORDCOUNT,
    "merge_stats": SQL_CORPUS_STATS,
    "bm25_topk": SQL_BM25_TOPK,
    "bm25_and_topk": SQL_BM25_AND_TOPK,
    "bm25_batch": SQL_BM25_BATCH,
    "bm25_pruned": SQL_BM25_PRUNED,
    "tfidf_topk": SQL_TFIDF_TOPK,
    "cosine_topk": SQL_COSINE_TOPK,
    "lm_topk": SQL_LM_TOPK,
    "rm3_topk": SQL_RM3_TOPK,
    "bm25f_topk": SQL_BM25F_TOPK,
    "conv_topk": SQL_CONV_TOPK,
    "prior_blend": SQL_PRIOR_BLEND,
    "rank_metrics": SQL_RANK_METRICS,
    "bm25_blocks": SQL_BM25_TOPK,
    "bm25_and_blocks": SQL_BM25_AND_TOPK,
    "bm25_batch_blocks": SQL_BM25_BATCH,
    "bm25_not_blocks": SQL_BM25_NOT,
    "bool_blocks": SQL_BOOL_BLOCKS,
    "phrase_blocks": SQL_PHRASE_MATCH,
    "proximity_blocks": SQL_PROXIMITY,
    # served path: same dictionary, persisted range-partitioned layout
    "term_completion_blocks": SQL_TERM_COMPLETION,
    # appends and merges must be invisible to results: same full-corpus oracle
    "bm25_append_blocks": SQL_BM25_TOPK,
    "bm25_merged_blocks": SQL_BM25_TOPK,
    "bm25_deleted_blocks": SQL_BM25_DELETED,
    # compaction must be invisible to results: same full-corpus oracle
    "bm25_compacted": SQL_BM25_TOPK,
    "bm25_compact_deleted": SQL_BM25_COMPACT_DELETED,
    "phrase_match": SQL_PHRASE_MATCH,
    "proximity_topk": SQL_PROXIMITY,
    "term_completion": SQL_TERM_COMPLETION,
    "next_word_suggest": SQL_NEXT_WORD_SUGGEST,
    "spell_suggest": SQL_SPELL_SUGGEST,
    "expand_query": SQL_EXPAND_QUERY,
    "wildcard_terms": SQL_WILDCARD_TERMS,
    "wildcard_topk": SQL_WILDCARD_TOPK,
    "more_like_this": SQL_MORE_LIKE_THIS,
    "term_semi_join": SQL_TERM_SEMI_JOIN,
    "topk_join_meta": SQL_TOPK_JOIN_META,
    "topk_snippets": SQL_TOPK_SNIPPETS,
    "snippet_best_window": SQL_SNIPPET_BEST_WINDOW,
    "group_topk": SQL_GROUP_TOPK,
    "facet_counts": SQL_FACET_COUNTS,
    "pagerank": SQL_PAGERANK,
    "pagerank_personalized": SQL_PAGERANK_PERSONALIZED,
    "hits": SQL_HITS,
    # --- data-pipeline tier: off the search path, listed after the
    # search-engine queries (ROADMAP item 3 deletes it module by module) ---
    # near-duplicate detection, passage dedup
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "dedup_cluster_reps": SQL_DEDUP_CLUSTER_REPS,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "dedup_winnow": SQL_DEDUP_WINNOW,
    "dup_passages": SQL_DUP_PASSAGES,
    "dedup_passage_removed": SQL_DEDUP_PASSAGE_REMOVED,
    # text analysis
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprint": SQL_FINGERPRINT,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "html_clean": SQL_HTML_CLEAN,
    "hashed_features": SQL_HASHED_FEATURES,
    "repetition_stats": SQL_REPETITION_STATS,
    "zipf_stats": SQL_ZIPF_STATS,
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "collocations": SQL_COLLOCATIONS,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "corpus_drift": SQL_CORPUS_DRIFT,
    "corpus_jsd": SQL_CORPUS_JSD,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
}
