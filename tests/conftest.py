from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from cis555_search_engine_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    """Small deterministic transcript corpus (t1-ish scale)."""
    from cis555_search_engine_spark.synth import generate_transcripts

    return generate_transcripts(n_convs=60, seed=42)


@pytest.fixture(scope="session")
def corpus_sdf(spark, corpus_pdf):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    return spark.createDataFrame(corpus_pdf, schema=schema).cache()


@pytest.fixture(scope="session")
def oracle_index(corpus_pdf):
    from cis555_search_engine_spark.oracle import build_index

    docs = list(corpus_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None))
    return build_index(docs)


@pytest.fixture(scope="session")
def spark_index(corpus_sdf):
    from cis555_search_engine_spark.operators.index_build import build_index

    return build_index(corpus_sdf)


@pytest.fixture(scope="module")
def skewed_rows():
    """Heavy-tail (doc_id, text) corpus: Pareto turn lengths, p99 ~100x
    the median (FIXTURES.md §7) — the case the uniform sf corpus
    (5-60 tokens/doc) never exercises."""
    from cis555_search_engine_spark.synth import generate_transcripts

    pdf = generate_transcripts(n_convs=40, seed=99, length_skew=1.0)
    return [(i, t) for i, t in enumerate(pdf["text"].tolist())]


@pytest.fixture(scope="module")
def skewed_sdf(spark, skewed_rows):
    return spark.createDataFrame(skewed_rows, ["doc_id", "text"]).cache()


class _JobCount:
    n: int | None = None  # set when the counted block exits


@contextmanager
def _count_jobs(spark):
    """Count the Spark jobs a block runs, as perfbench/spans.py does: the
    block runs under its own job group, and ungrouped jobs started
    meanwhile (engine worker threads) count too. The listener bus is
    drained before reading the status tracker, so a job that already
    finished is never missed."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"spark-jobs-{uuid.uuid4().hex[:12]}"
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "counted block")
    out = _JobCount()
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None)) - before
        out.n = len(set(tracker.getJobIdsForGroup(group)) | ungrouped)


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` then ``jobs.n`` = Spark jobs run
    inside the block — e.g. to assert a driver-served query ran none, so
    a silent fallback to Spark fails the test."""
    return lambda: _count_jobs(spark)
