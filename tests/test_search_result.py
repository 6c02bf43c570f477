"""SearchResult — one result type on every route. Driver-side results
(the local fast path and every empty result) run NO Spark job, through
collect() and with_docno=True alike; every route's rows equal its own
to_spark() rows bit for bit with the same schema; local and distributed
routes agree, on single and sharded indexes, empty results included."""

import dataclasses
import struct

import pytest

from searchengine_spark.index.builder import build_index
from searchengine_spark.index.sharded import ShardedSearchEngine, build_sharded_index
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.sources.corpus import CORPUS_SCHEMA
from tests.conftest import TEST_CONFIG, spark_jobs

CFG = dataclasses.replace(TEST_CONFIG, positions=True)
QUERY = "spark table join fast"
PHRASE = "merge column"
# the benchmark's four top-k kinds
KINDS = {
    "bm25": {},
    "maxscore": {"algo": "maxscore"},
    "conjunctive": {"mode": "conjunctive"},
    "tfidf": {"scorer": "tfidf"},
}


@pytest.fixture(scope="module")
def engines(spark, corpus, tmp_path_factory):
    # the fixture corpus shares its 24 terms across most docs; two extra
    # docs add terms that never meet (see ``disjoint``)
    extra = spark.createDataFrame(
        [
            ("x", "zeppelin", "c1", "en", "zeppelin orbit"),
            ("x", "quasar", "c2", "en", "quasar nebula"),
        ],
        CORPUS_SCHEMA,
    )
    corpus = corpus.unionByName(extra)
    base = tmp_path_factory.mktemp("result")
    build_index(spark, corpus, str(base / "single"), CFG)
    build_sharded_index(spark, corpus, str(base / "sharded"), 2, CFG)
    return {
        "single": SearchEngine(spark, str(base / "single")),
        "sharded": ShardedSearchEngine(spark, str(base / "sharded")),
    }


@pytest.fixture(scope="module")
def disjoint(engines):
    """Two indexed terms that never share a document: their conjunction
    and their phrase are known-term queries with no match."""
    eng = engines["single"]
    lex = eng._dataset("lexicon").to_table(columns=["term", "df"]).to_pylist()
    rare = [
        r["term"]
        for r in sorted(lex, key=lambda r: r["term"])
        if r["df"] == 1
        and eng.tokenize_query(r["term"]) == [r["term"]]
        and eng.tokenize_phrase(r["term"]) == [r["term"]]
    ][:50]
    posts = eng._local_postings(rare)
    first = rare[0]
    other = next(
        t for t in rare[1:] if posts[t][0][0] != posts[first][0][0]
    )
    return f"{first} {other}"


def _bits(rows):
    return [
        tuple(struct.pack("<d", v) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


def _types(schema):
    return [(f.name, f.dataType) for f in schema]


def _calls(eng, disjoint):
    """(name, call) for every auto-routed query shape."""
    calls = [
        (kind, lambda kw=kw: eng.search(QUERY, k=10, **kw))
        for kind, kw in KINDS.items()
    ]
    return calls + [
        ("phrase", lambda: eng.phrase_search(PHRASE, k=10)),
        ("unknown", lambda: eng.search("zzzunknownzzz qqqnotaword", k=10)),
        ("disjoint_conj", lambda: eng.search(disjoint, k=10, mode="conjunctive")),
        ("disjoint_phrase", lambda: eng.phrase_search(disjoint, k=10)),
        ("docno", lambda: eng.search(QUERY, k=10, with_docno=True)),
        ("docno_unknown", lambda: eng.search("zzzunknownzzz", k=10, with_docno=True)),
        (
            "docno_disjoint",
            lambda: eng.search(disjoint, k=10, mode="conjunctive", with_docno=True),
        ),
    ]


@pytest.mark.parametrize("which", ["single", "sharded"])
def test_auto_routed_queries_run_zero_spark_jobs(spark, engines, disjoint, which):
    eng = engines[which]
    for name, call in _calls(eng, disjoint):
        result, rows, jobs = spark_jobs(spark, call)
        assert jobs == [], (which, name, jobs)
        assert result.route in ("local", "empty"), (which, name)
        assert len(rows) == result.count()
        if name.startswith(("unknown", "disjoint", "docno_")):
            assert rows == [], (which, name)
    # the counter sees jobs when there are some
    _, _, jobs = spark_jobs(spark, lambda: eng.search(QUERY, k=10, local=False))
    assert jobs


@pytest.mark.parametrize("which", ["single", "sharded"])
@pytest.mark.parametrize("local", [True, False])
def test_rows_equal_to_spark_rows_on_every_route(engines, disjoint, which, local):
    eng = engines[which]
    calls = [
        (kind, lambda kw=kw: eng.search(QUERY, k=10, local=local, **kw))
        for kind, kw in KINDS.items()
    ] + [
        ("phrase", lambda: eng.phrase_search(PHRASE, k=10, local=local)),
        ("unknown", lambda: eng.search("zzzunknownzzz", k=10, local=local)),
        (
            "disjoint_conj",
            lambda: eng.search(disjoint, k=10, mode="conjunctive", local=local),
        ),
        ("docno", lambda: eng.search(QUERY, k=10, with_docno=True, local=local)),
    ]
    for name, call in calls:
        result = call()
        df = result.to_spark()
        assert _bits(result.collect()) == _bits(df.collect()), (which, local, name)
        assert _types(result.schema) == _types(df.schema), (which, local, name)
        assert result.columns == df.columns
        assert result.count() == df.count()
        got, want = result.toPandas(), df.toPandas()
        assert list(got.dtypes) == list(want.dtypes), (which, local, name)
        assert got.equals(want), (which, local, name)


@pytest.mark.parametrize("which", ["single", "sharded"])
def test_local_and_distributed_routes_agree(engines, which):
    eng = engines[which]
    single = engines["single"]
    calls = [
        (kind, lambda local, kw=kw: eng.search(QUERY, k=10, local=local, **kw))
        for kind, kw in KINDS.items()
    ] + [
        ("phrase", lambda local: eng.phrase_search(PHRASE, k=10, local=local)),
        ("docno", lambda local: eng.search(QUERY, k=10, with_docno=True, local=local)),
    ]
    for name, call in calls:
        loc, dist = call(True), call(False)
        assert (loc.route, dist.route) == ("local", "distributed"), name
        assert _bits(loc.collect()) == _bits(dist.collect()), (which, name)
        assert _types(loc.schema) == _types(dist.schema), (which, name)
    # a sharded index answers with the single index's docnos
    want = single.search(QUERY, k=10, with_docno=True).collect()
    assert [(r["doc_id"], r["docno"]) for r in want] == [
        (r["doc_id"], r["docno"])
        for r in eng.search(QUERY, k=10, with_docno=True).collect()
    ]


@pytest.mark.parametrize("which", ["single", "sharded"])
@pytest.mark.parametrize("local", [True, False])
def test_with_docno_schema_same_for_empty_and_hits(engines, disjoint, which, local):
    """The empty sharded-local result used to skip the docno step and
    came back with 3 columns instead of 4."""
    eng = engines[which]
    hit = eng.search(QUERY, k=10, with_docno=True, local=local)
    misses = [
        eng.search("zzzunknownzzz", k=10, with_docno=True, local=local),
        eng.search(disjoint, k=10, mode="conjunctive", with_docno=True, local=local),
    ]
    assert hit.count() > 0
    assert hit.columns == ["rank", "doc_id", "docno", "score"]
    for miss in misses:
        assert miss.count() == 0
        assert _types(miss.schema) == _types(hit.schema), (which, local)
        assert _types(miss.to_spark().schema) == _types(hit.to_spark().schema)
