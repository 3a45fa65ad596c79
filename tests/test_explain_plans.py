"""Physical-plan audits: the pruning/pushdown/broadcast properties the engine
is designed around must actually appear in the executed plan (they are the
distributed analog of the reference's hash-dict lookup, indexer.py:384-394,
and they are what keeps a term lookup sub-linear at 100 TB)."""

import pytest

from searchengine_spark.operators import index_build
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 300


@pytest.fixture(scope="module")
def tables(spark):
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    return index_build.build_index(pages)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_query_plan_broadcasts_weights_not_postings(spark, tables):
    engine = BM25SearchEngine(spark, tables)
    scored = engine.score_batch([(0, "make work"), (1, "time year")])
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_phrase_blocks_scan_pushes_term_inlist(spark, tmp_path_factory):
    """The phrase path must reach the parquet scan with the phrase-term
    IN-list (term-sorted row groups skip) and read only the block columns
    the kernel needs — not the docs/posting payload of unrelated terms."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.phrase import phrase_match_sharded

    path = str(tmp_path_factory.mktemp("posidx"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    index = shards.build_and_write_sharded(
        spark, pages, path, n_shards=2, with_positions=True
    )
    out = phrase_match_sharded(spark, index, "make work", terms=["make", "work"])
    plan = _plan(out)
    assert "PushedFilters: [In(term" in plan, plan


def test_wand_prunes_positional_streams(spark, tmp_path_factory):
    """WAND over a positional index must not read pcounts/pgaps — the scan
    schema is the non-positional block columns only."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    path = str(tmp_path_factory.mktemp("positwand"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    index = shards.build_and_write_sharded(
        spark, pages, path, n_shards=2, with_positions=True
    )
    qterms = [r["term"] for r in index.term_stats.orderBy("df").limit(2).collect()]
    # the lazy plan: a with_metadata=True result is a local frame
    res = WandSearchEngine(spark, index).search_batch(
        [(0, " ".join(qterms))], top_k=5, with_metadata=False
    )
    assert res is not None
    plan = _plan(res)
    assert "pcounts" not in plan and "pgaps" not in plan, plan


def test_wand_docs_metadata_never_shuffled(spark, tmp_path_factory):
    """Two-phase WAND: phase 1 cogroups NOTHING (blocks-only kernel — no
    FlatMapCoGroupsInPandas), and doc metadata reaches the plan only through
    a broadcast-hash-join probe of the candidate set — docs_sharded is never
    exchanged. This is the 100 TB property: a query batch moves candidate
    rows (~k·shards) and never the ~350 B/doc corpus metadata."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    path = str(tmp_path_factory.mktemp("wand2ph"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    index = shards.build_and_write_sharded(spark, pages, path, n_shards=2)
    qterms = [r["term"] for r in index.term_stats.orderBy("df").limit(2).collect()]
    # the lazy plan holds the blocks scan and the phase-2 docs join; a
    # with_metadata=True result is a local frame
    res = WandSearchEngine(spark, index).search_batch(
        [(0, " ".join(qterms))], top_k=5, with_metadata=False
    )
    assert res is not None
    plan = _plan(res)
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the docs scan side must not feed any shuffle exchange: every Exchange
    # in the plan sits above the (tiny) candidate/window stages, so no
    # Exchange operator may list the docs metadata columns
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "title" not in line and "content_snippet" not in line, line


def test_phrase_docs_join_is_broadcast(spark, tmp_path_factory):
    """Doc-metadata lookup for phrase results must broadcast the ranked
    top-k side — the docs table is never shuffled."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.phrase import phrase_match_sharded

    path = str(tmp_path_factory.mktemp("posidx2"))
    pages = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    index = shards.build_and_write_sharded(
        spark, pages, path, n_shards=2, with_positions=True
    )
    out = phrase_match_sharded(spark, index, "make work", terms=["make", "work"])
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_scores_plan_is_shuffle_free(spark):
    # the Gopher repetition signals are higher-order array expressions —
    # the whole plan must be a single map-side pass over the parquet scan
    # (an Exchange here would mean a per-n-gram shuffle at 100 TB)
    from searchengine_spark.plans.entry_queries import q_repetition_scores

    plan = _plan(q_repetition_scores(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan


def test_stratified_sample_plan_has_single_aggregation_exchange(spark):
    # deterministic sampling is a pure per-row predicate; the only shuffle
    # allowed is the final per-stratum count aggregation
    from searchengine_spark.plans.entry_queries import q_stratified_sample

    plan = _plan(q_stratified_sample(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") <= 1, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan
