"""Sharded block index + block-max WAND: exactness properties.

* shard invariance (SURVEY.md §5.4): n_shards=1 ≡ n_shards=16 — the decoded
  posting multiset is identical, i.e. doc-range "salting" never changes the
  index, only its layout;
* block round-trip: decoded blocks == the logical postings table;
* WAND ≡ exhaustive: the WAND engine (pruned and unpruned) returns exactly
  the exhaustive Catalyst engine's (rank, doc_id, score) per query on the
  21-query reference set — and therefore matches the reference oracle,
  which test_index_spark.py pins to the exhaustive engine.
"""

import math

import pandas as pd
import pytest

from searchengine_spark.operators import index_build, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 300


@pytest.fixture(scope="module")
def tokenized(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    return index_build.tokenize_documents(pages).cache()


@pytest.fixture(scope="module")
def spark_index(tokenized):
    tables = index_build.build_index_tables(tokenized)
    for name in ("docs", "postings", "doc_stats", "term_stats", "stats"):
        setattr(tables, name, getattr(tables, name).cache())
    return tables


@pytest.fixture(scope="module")
def docnos(spark, spark_index):
    return shards.assign_docnos(spark, spark_index.doc_stats.select("doc_id")).cache()


@pytest.fixture(scope="module")
def build(spark, tokenized, tmp_path_factory):
    """The production sharded build of the module corpus, one scratch dir
    per layout."""

    def _build(**layout):
        path = str(tmp_path_factory.mktemp("sharded"))
        return shards.shard_and_write_from_tokenized(spark, tokenized, path, **layout)

    return _build


@pytest.fixture(scope="module")
def sharded(build):
    return build(n_shards=16, block_size=32)


def test_docno_assignment_dense_and_ordered(docnos, spark_index):
    rows = sorted(docnos.collect(), key=lambda r: r["docno"])
    n = spark_index.stats.collect()[0]["n_docs"]
    assert [r["docno"] for r in rows] == list(range(n))
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)  # docno order == doc_id order


def _decoded_postings(index) -> pd.DataFrame:
    pdf = index.blocks.toPandas()
    out = shards.decode_blocks_to_postings(pdf)
    return out.sort_values(["term", "docno"]).reset_index(drop=True)


def test_blocks_roundtrip_to_logical_postings(spark, spark_index, sharded, docnos):
    want = (
        spark_index.postings.join(docnos, "doc_id")
        .select("term", "docno", "tf", "doc_len")
        .toPandas()
        .sort_values(["term", "docno"])
        .reset_index(drop=True)
    )
    got = _decoded_postings(sharded)
    pd.testing.assert_frame_equal(
        got.astype({"docno": "int64"}), want.astype({"docno": "int64"})
    )


def test_shard_invariance(build, sharded):
    one = build(n_shards=1, block_size=32)
    pd.testing.assert_frame_equal(_decoded_postings(one), _decoded_postings(sharded))


def test_block_size_invariance(build, sharded):
    big = build(n_shards=16, block_size=1024)
    pd.testing.assert_frame_equal(_decoded_postings(big), _decoded_postings(sharded))


def _results(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in df.select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
        .collect()
    ]


def test_wand_matches_exhaustive_engine(spark, spark_index, sharded):
    queries = webgen.reference_queries()
    exhaustive = BM25SearchEngine(spark, spark_index).search_batch(queries, top_k=10)
    wand = WandSearchEngine(spark, sharded).search_batch(queries, top_k=10)
    want, got = _results(exhaustive), _results(wand)
    assert [(q, rk, d) for q, rk, d, _ in want] == [(q, rk, d) for q, rk, d, _ in got]
    for (_, _, _, s1), (_, _, _, s2) in zip(want, got):
        assert math.isclose(s1, s2, rel_tol=1e-9, abs_tol=1e-12)


def test_wand_pruned_equals_unpruned(spark, sharded):
    queries = webgen.reference_queries()[:7]
    eng = WandSearchEngine(spark, sharded)
    pruned = _results(eng.search_batch(queries, top_k=10, prune=True))
    unpruned = _results(eng.search_batch(queries, top_k=10, prune=False))
    assert [(q, rk, d) for q, rk, d, _ in pruned] == [
        (q, rk, d) for q, rk, d, _ in unpruned
    ]
    for (_, _, _, s1), (_, _, _, s2) in zip(pruned, unpruned):
        assert math.isclose(s1, s2, rel_tol=1e-12)


def test_sharded_write_read_roundtrip(spark, sharded, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sharded_index"))
    shards.write_sharded_index(sharded, path)
    loaded = shards.read_sharded_index(spark, path)
    assert loaded.n_docs == sharded.n_docs
    assert math.isclose(loaded.avgdl, sharded.avgdl)
    pd.testing.assert_frame_equal(
        _decoded_postings(loaded), _decoded_postings(sharded)
    )


def test_shard_invariance_high_shard_count(build, sharded):
    """Auto-sharding policy arm (round-3): the decoded posting multiset must
    stay identical at n_shards=256 (shard_size≈2 here — far past any layout
    assumption that shards are big), so deriving n_shards from a constant
    docs-per-shard target at 10^12 docs changes layout only, never data."""
    many = build(n_shards=256, block_size=32)
    assert many.n_shards == 256 and many.shard_size >= 1
    pd.testing.assert_frame_equal(_decoded_postings(many), _decoded_postings(sharded))


def test_default_shard_count_is_docs_per_shard_policy(build, spark_index):
    """n_shards=None derives from DEFAULT_DOCS_PER_SHARD: a fixed default
    shard count would make 6×10^10-doc shards at 10^12 docs."""
    auto = build()
    n = spark_index.stats.collect()[0]["n_docs"]
    assert auto.n_shards == shards.derive_n_shards(n)
    # policy math at the scales that matter
    assert shards.derive_n_shards(10**12) == 250_000
    assert shards.derive_n_shards(1) == 1
    assert (
        10**12 / shards.derive_n_shards(10**12) <= shards.DEFAULT_DOCS_PER_SHARD
    )
