"""End-to-end: Spark index build + BM25 search vs the reference-semantics
oracle (FIXTURES.md §3 invariants): postings set-equality, doc_stats/stats
exactness, and top-10 rank-identity on the 21-query reference set."""

import math

import pytest

from searchengine_spark.functions import textproc
from searchengine_spark.operators import index_build
from searchengine_spark.oracle import OracleIndex
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus():
    pdf = webgen.generate_pandas(N_DOCS)
    docs = []
    for r in pdf.itertuples():
        html = r.html.decode("utf-8")
        docs.append(
            {
                "url": r.url,
                "title": textproc.extract_title_from_html(html),
                "meta_description": textproc.extract_meta_description(html),
                "content": r.text,
            }
        )
    return pdf, docs


@pytest.fixture(scope="module")
def oracle(corpus):
    _, docs = corpus
    return OracleIndex.build(docs)


@pytest.fixture(scope="module")
def spark_index(spark, corpus):
    pdf, _ = corpus
    pages = spark.createDataFrame(pdf)
    tables = index_build.build_index(pages)
    # materialize once for the whole module
    for name in ("docs", "postings", "doc_stats", "term_stats", "stats"):
        setattr(tables, name, getattr(tables, name).cache())
    return tables


def test_extraction_byte_identity(spark, corpus):
    """Arrow-UDF extraction == precomputed text column, per url (input_hint
    per-row invariant)."""
    pdf, _ = corpus
    pages = spark.createDataFrame(pdf.head(50))
    documents = index_build.extract_documents(pages, use_precomputed_text=False)
    got = {r["url"]: r["content"] for r in documents.collect()}
    want = dict(zip(pdf.head(50)["url"], pdf.head(50)["text"]))
    assert got == want


def test_doc_stats_match_oracle(spark_index, oracle):
    got = {r["doc_id"]: r["doc_len"] for r in spark_index.doc_stats.collect()}
    assert got.keys() == oracle.document_lengths.keys()
    for d, dl in oracle.document_lengths.items():
        assert math.isclose(got[d], dl, rel_tol=1e-12), d


def test_stats_match_oracle(spark_index, oracle):
    row = spark_index.stats.collect()[0]
    assert row["n_docs"] == len(oracle.document_map)
    assert math.isclose(row["avgdl"], oracle.average_doc_length, rel_tol=1e-12)


def test_postings_match_oracle(spark_index, oracle):
    got = {
        (r["term"], r["doc_id"]): r["tf"] for r in spark_index.postings.collect()
    }
    want = {
        (term, doc_id): tf
        for term, plist in oracle.inverted_index.items()
        for doc_id, tf in plist
    }
    assert got.keys() == want.keys()
    for k, tf in want.items():
        assert math.isclose(got[k], tf, rel_tol=1e-12), k


def test_idf_match_oracle(spark_index, oracle):
    n_docs = len(oracle.document_map)
    got = {r["term"]: (r["df"], r["idf"]) for r in spark_index.term_stats.collect()}
    for term, plist in oracle.inverted_index.items():
        n = len(plist)
        idf = max(0.0, math.log((n_docs - n + 0.5) / (n + 0.5)))
        assert got[term][0] == n
        assert math.isclose(got[term][1], idf, rel_tol=1e-12), term


def test_docs_dimension_match_oracle(spark_index, oracle):
    got = {r["doc_id"]: r for r in spark_index.docs.collect()}
    assert got.keys() == oracle.document_map.keys()
    for d, info in oracle.document_map.items():
        assert got[d]["url"] == info["url"]
        assert got[d]["title"] == info["title"]
        assert got[d]["description"] == info["description"]
        assert got[d]["content_snippet"] == info["content_snippet"]


def test_rank_identity_reference_queries(spark, spark_index, oracle):
    """Top-10 rank-identical (doc_ids, order, scores to 1e-9) on all 21
    reference queries, scored in ONE batched Spark plan."""
    queries = webgen.reference_queries()
    engine = BM25SearchEngine(spark, spark_index)
    res = engine.search_batch(queries, top_k=10, with_metadata=False)
    assert res is not None
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    nonempty = 0
    for qid, qtext in queries:
        want = oracle.search(qtext, top_k=10)
        got_q = sorted(got.get(qid, []))
        assert len(got_q) == len(want), f"q{qid} '{qtext}': {len(got_q)} != {len(want)}"
        for (rank, doc_id, score), w in zip(got_q, want):
            assert doc_id == w["doc_id"], f"q{qid} '{qtext}' rank {rank}"
            assert math.isclose(score, w["score"], rel_tol=1e-9, abs_tol=1e-12)
        nonempty += bool(want)
    # the query set must actually exercise the engine
    assert nonempty >= 15


def test_snippet_and_metadata_match_oracle(spark, spark_index, oracle):
    queries = webgen.reference_queries()[:4]
    engine = BM25SearchEngine(spark, spark_index)
    res = engine.search_batch(queries, top_k=10)
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(r)
    for qid, qtext in queries:
        want = oracle.search(qtext, top_k=10)
        rows = sorted(got.get(qid, []), key=lambda r: r["rank"])
        for row, w in zip(rows, want):
            assert row["url"] == w["url"]
            assert row["title"] == w["title"]
            assert row["description"] == w["description"]
            assert row["content_snippet"] == w["content_snippet"]


@pytest.fixture(scope="module")
def sharded_index(spark, corpus, tmp_path_factory):
    from searchengine_spark.operators import shards

    pdf, _ = corpus
    path = str(tmp_path_factory.mktemp("sharded"))
    return shards.build_and_write_sharded(
        spark, spark.createDataFrame(pdf), path, n_shards=4
    )


@pytest.mark.parametrize("docs_join", ["auto", "broadcast", "direct"])
def test_wand_snippet_and_metadata_match_oracle(
    spark, sharded_index, oracle, arms, docs_join
):
    """WAND twin of test_snippet_and_metadata_match_oracle, on the driver
    arm (``auto`` at this size) and in both phase-2 docs-join modes of the
    tree arm: per rank, the same doc and the same url, title, description
    and query-relevant snippet as the reference."""
    from searchengine_spark.plans.wand import WandSearchEngine

    queries = webgen.reference_queries()[:4]
    engine = WandSearchEngine(spark, sharded_index)
    res = engine.search_batch(queries, top_k=10, docs_join=docs_join)
    assert arms == [
        "_finish_in_driver" if docs_join == "auto" else "_finish_batch"
    ]
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(r)
    checked = 0
    for qid, qtext in queries:
        want = oracle.search(qtext, top_k=10)
        rows = sorted(got.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in rows] == [w["doc_id"] for w in want], qtext
        for row, w in zip(rows, want):
            assert row["url"] == w["url"]
            assert row["title"] == w["title"]
            assert row["description"] == w["description"]
            assert row["content_snippet"] == w["content_snippet"]
            checked += 1
    assert checked > 0
