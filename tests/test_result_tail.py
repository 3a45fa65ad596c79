"""The ranked ``with_metadata=True`` tail shared by WAND, exhaustive BM25
and the hybrid combine (plans/bm25.finish_with_metadata): once the winners
are known, nothing is shipped through an RDD of pickled rows (every driver
frame is Arrow-built), the result is a local frame, and its rows are
already in (query_id, rank) order — the caller collects without an
``orderBy`` and that collect starts no job."""

import pytest
from pyspark import SparkContext

from searchengine_spark.operators import index_build, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine, analyze_query
from searchengine_spark.plans.hybrid import HybridSearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 300


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(webgen.generate_pandas(N_DOCS))


@pytest.fixture(scope="module")
def tables(pages):
    tables = index_build.build_index(pages)
    for name in ("docs", "postings", "doc_stats", "term_stats", "stats"):
        setattr(tables, name, getattr(tables, name).cache())
    return tables


@pytest.fixture(scope="module")
def engines(spark, pages, tables, tmp_path_factory):
    sharded = shards.build_and_write_sharded(
        spark, pages, str(tmp_path_factory.mktemp("tail")), n_shards=4
    )
    hybrid = HybridSearchEngine(spark, tables)
    hybrid.embeddings = hybrid.embeddings.cache()
    return {
        "wand": WandSearchEngine(spark, sharded),
        "bm25": BM25SearchEngine(spark, tables),
        "hybrid": hybrid,
    }


@pytest.fixture
def no_rdd(monkeypatch):
    def parallelize(*a, **k):
        raise AssertionError("a driver frame went through SparkContext.parallelize")

    monkeypatch.setattr(SparkContext, "parallelize", parallelize)


def _root(df) -> str:
    return df._jdf.queryExecution().executedPlan().nodeName()


@pytest.mark.parametrize("name", ["wand", "bm25", "hybrid"])
def test_ranked_tail_is_local_and_ordered(engines, no_rdd, name):
    # several queries, listed out of id order, so the order check has teeth
    queries = webgen.reference_queries()[:8][::-1]
    res = engines[name].search_batch(queries, top_k=10, with_metadata=True)
    assert _root(res) == "LocalTableScan"
    rows = res.collect()
    keys = [(r["query_id"], r["rank"]) for r in rows]
    assert len({q for q, _ in keys}) > 1, keys
    assert keys == sorted(keys)
    assert res.columns == [
        "query_id", "rank", "doc_id", "url", "title", "description",
        "content_snippet", "score",
    ]


def test_all_idf_zero_wand_batch_is_local_and_empty(engines, no_rdd):
    """A batch whose every term is in over half the docs (idf 0) scores
    nothing: the exact result is zero rows, returned without a job."""
    wand = engines["wand"]
    zero_idf = sorted(
        r["term"] for r in wand.index.term_stats.filter("idf = 0").collect()
    )
    # a term that analyzes to itself (stemming a stem can change it)
    term = next(t for t in zero_idf if set((analyze_query(t) or [{}])[0]) == {t})
    res = wand.search_batch([(0, term)], top_k=10)
    assert _root(res) == "LocalTableScan"
    assert res.collect() == []
