"""Driver-local fast path (VERDICT r4 "Next round" #3): under the RAM
gate, search() scores entirely driver-side in numpy and returns driver
rows — NO Spark job through collect() — results must be BIT-IDENTICAL
to the distributed plan on every (mode, algo, scorer) combination and
on every index layout (raw, compressed, compressed+delta)."""

import struct

import pytest

from searchengine_spark.config import EngineConfig
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine
from tests.conftest import spark_jobs

QUERIES = [
    "spark table join fast",
    "window agg customer stream",
    "hash join broadcast skew",
    "fast merge batch sort",
    "row",                     # single term
    "the and of",              # pure stopwords -> empty
    "zzzunknownzzz row",       # unknown term dropped
]


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)


@pytest.fixture(scope="module")
def delta_engine(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_local") / "idx")
    cfg = EngineConfig(
        stopstem=True,
        skip_threshold=64,
        compression=True,
        delta_docids=True,
        shuffle_partitions=8,
    )
    build_index(spark, corpus, d, cfg)
    return SearchEngine(spark, d)


def _bits(rows):
    return [
        (r["rank"], r["doc_id"], struct.pack("<d", r["score"]))
        for r in rows
    ]


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("algo", ["daat", "maxscore"])
def test_local_bit_identical_to_distributed(engine, scorer, mode, algo):
    for q in QUERIES:
        a = engine.search(
            q, k=10, mode=mode, scorer=scorer, algo=algo, local=True
        ).collect()
        b = engine.search(
            q, k=10, mode=mode, scorer=scorer, algo=algo, local=False
        ).collect()
        assert _bits(a) == _bits(b), (q, mode, scorer, algo)


@pytest.mark.parametrize("algo", ["daat", "maxscore"])
def test_local_bit_identical_on_delta_index(delta_engine, algo):
    for q in QUERIES:
        a = delta_engine.search(q, k=10, algo=algo, local=True).collect()
        b = delta_engine.search(q, k=10, algo=algo, local=False).collect()
        assert _bits(a) == _bits(b), (q, algo)


def test_local_k100(engine):
    a = engine.search(QUERIES[0], k=100, local=True).collect()
    b = engine.search(QUERIES[0], k=100, local=False).collect()
    assert len(a) > 10
    assert _bits(a) == _bits(b)


def test_auto_gate_engages_and_produces_local_plan(spark, engine):
    """At fixture scale the auto gate must engage, and the result must
    be driver rows — search and collect() without a Spark job."""
    terms = engine.tokenize_query(QUERIES[0])
    stats = engine._term_stats(terms)
    assert engine._local_ok(terms, stats, None)
    result, rows, jobs = spark_jobs(spark, lambda: engine.search(QUERIES[0], k=10))
    assert result.route == "local" and rows
    assert jobs == []


def test_gate_respects_force_off(spark, engine):
    result, rows, jobs = spark_jobs(
        spark, lambda: engine.search(QUERIES[0], k=10, local=False)
    )
    assert result.route == "distributed" and rows
    assert jobs


def test_gate_respects_engine_default(spark, engine):
    engine.local_exec = False
    try:
        result, rows, jobs = spark_jobs(
            spark, lambda: engine.search(QUERIES[0], k=10)
        )
        assert result.route == "distributed" and rows
        assert jobs
    finally:
        engine.local_exec = None


def test_gate_overflow_falls_back(spark, engine):
    """Shrink the gate below the query's df sum: auto must choose the
    distributed plan."""
    old = engine.LOCAL_EXEC_MAX_POSTINGS
    engine.LOCAL_EXEC_MAX_POSTINGS = 0
    try:
        result, rows, jobs = spark_jobs(
            spark, lambda: engine.search(QUERIES[0], k=10)
        )
        assert result.route == "distributed" and rows
        assert jobs
    finally:
        del engine.LOCAL_EXEC_MAX_POSTINGS
        assert engine.LOCAL_EXEC_MAX_POSTINGS == old  # class attr intact
