"""Physical-plan quality assertions (the plans we'd want at 100 TB).

These lock in the scale-relevant properties of the physical plans:
filters pushed to the parquet scan, column pruning, broadcast joins on
small sides, TakeOrderedAndProject for top-k (never a global sort), and
the shuffle-free guarantee of the doc-local postings build.
"""

from __future__ import annotations


def explain_str(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(em)


def test_doclocal_build_has_no_shuffle(spark, corpus_sdf):
    from cis555_search_engine_spark.operators.index_build import build_postings_doclocal

    plan = explain_str(build_postings_doclocal(corpus_sdf, stem=True))
    assert "Exchange" not in plan  # narrow map end-to-end
    # the postings kernel is evaluated through Arrow batches, never
    # row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # and the groupBy variant DOES shuffle (sanity of the assertion)
    from cis555_search_engine_spark.operators.index_build import build_postings_long

    assert "Exchange" in explain_str(build_postings_long(corpus_sdf, stem=True))


def test_topk_plans_take_ordered_not_global_sort(spark_index):
    from cis555_search_engine_spark.operators.scoring import bm25_topk

    plan = explain_str(bm25_topk(spark_index, "rice noodle", k=80))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # corpus-stats side broadcast


def test_filter_pushdown_and_column_pruning(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection reaches the scan: only the 3 needed columns are read
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp" in plan


def test_semi_join_is_broadcast(spark, spark_index):
    from pyspark.sql import functions as F

    terms = spark.createDataFrame([("rice",), ("noodl",)], "term string")
    j = spark_index.postings.join(F.broadcast(terms), "term", "left_semi")
    plan = explain_str(j)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_whole_stage_codegen_covers_native_tokenize(spark, corpus_sdf, tmp_path):
    from cis555_search_engine_spark.operators.index_build import tokenize_turns

    # parquet-backed so the plan is a real scan, not a LocalTableScan
    p = str(tmp_path / "corpus")
    corpus_sdf.write.parquet(p)
    corpus = spark.read.parquet(p)

    plan = explain_str(tokenize_turns(corpus))
    # formatted mode marks codegen'd operators with '* '
    assert "* ColumnarToRow" in plan or "WholeStageCodegen" in plan
    assert "ArrowEvalPython" not in plan  # native path stays JVM-side
    codegen = explain_str(tokenize_turns(corpus), "codegen")
    assert "WholeStageCodegen subtrees" in codegen

    plan_udf = explain_str(tokenize_turns(corpus, use_pandas_udf=True))
    assert "ArrowEvalPython" in plan_udf  # the UDF path is Arrow, not row Python
    assert "BatchEvalPython" not in plan_udf


def test_block_query_broadcasts_survivor_filter(spark_index):
    from cis555_search_engine_spark.operators.postings_codec import build_blocks

    bidx = build_blocks(spark_index, block_span=64)
    from cis555_search_engine_spark.operators.postings_codec import decode_blocks

    plan = explain_str(decode_blocks(bidx.blocks, 64))
    # decode path is mapInPandas over blocks: Arrow, no row-Python
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_block_build_no_forced_vocab_broadcast(spark, corpus_sdf):
    """The block-store BUILD path must not force-broadcast vocab-sized
    frames (corpus_stats idf join, stem dictionary): with auto-broadcast
    disabled, the build plan contains no BroadcastExchange at all — so
    every broadcast that does appear at runtime is AQE's size-based
    choice, never a hint on an unbounded frame (round-4 verdict item 1;
    the serving-path idf broadcasts stay hinted because they are
    filtered to query terms first)."""
    from cis555_search_engine_spark.operators.index_build import build_index
    from cis555_search_engine_spark.operators.postings_codec import build_blocks

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # fresh (uncached) index so the stem-dictionary join is IN the
        # plan lineage, not hidden behind an InMemoryTableScan
        idx = build_index(corpus_sdf, cache=False)
        bidx = build_blocks(idx, block_span=64)
        plan = explain_str(bidx.blocks)
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_facet_counts_single_agg_after_join(spark_index, corpus_sdf):
    """Facet agg stays one hash aggregate pair (partial+final) over the
    match-set join — no window, no sort, no Python."""
    plan = explain_str(
        __import__(
            "cis555_search_engine_spark.operators.scoring", fromlist=["facet_counts"]
        ).facet_counts(
            spark_index, "rice noodle", corpus_sdf.select("conv_id", "turn_idx", "role"), "role"
        )
    )
    # Arrow stem lineage (ArrowEvalPython) is fine — the invariants are
    # no window/sort machinery, no cartesian, and no row-at-a-time Python
    for op in ("Window", "BatchEvalPython", "CartesianProduct"):
        assert op not in plan, plan
    assert "HashAggregate" in plan


def test_dictionary_prefix_scan_pushdown(spark, spark_index, tmp_path):
    """The persisted term dictionary is range-partitioned + sorted by
    term (postings_codec._write_stats), and a prefix completion over it
    pushes StartsWith to the parquet scan — footer min/max ranges make
    the probe touch only the covering file(s)."""
    from pyspark.sql import functions as F

    from cis555_search_engine_spark.operators.postings_codec import (
        build_blocks,
        load_blocks,
        write_blocks,
    )

    store = str(tmp_path / "store")
    write_blocks(build_blocks(spark_index, block_span=64), store, n_buckets=4)
    bidx = load_blocks(spark, store)
    q = (
        bidx.corpus_stats.filter(F.col("term").startswith("s"))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(5)
    )
    plan = explain_str(q)
    assert "StringStartsWith(term,s)" in plan, plan
    # results equal the in-memory dictionary's completion
    want = (
        spark_index.corpus_stats.filter(F.col("term").startswith("s"))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(5)
        .collect()
    )
    assert [tuple(r) for r in q.collect()] == [tuple(r) for r in want]


