"""The two arms of ``WandSearchEngine.search_batch(with_metadata=True)``
(plans/wand.py): a batch whose Σ df, an upper bound of its phase-1
emission, fits under ``DRIVER_CAND_CEILING`` is finished in the driver,
any other batch by the tree arm (θ tree aggregation + Spark phase 2). Both must return the same
rows — rank, doc_id and score — on every index layout, and a warm
one-query batch must stay at its fixed-cost floor of Spark jobs."""

import dataclasses
import sys
import threading

import pytest
from pyspark.sql import functions as F

from searchengine_spark.config import DEFAULT_STOPWORDS
from searchengine_spark.operators import shards, tombstones
from searchengine_spark.plans.bm25 import analyze_query
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 300
TOP_K = 10


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(webgen.generate_pandas(N_DOCS))


@pytest.fixture(scope="module")
def plain(spark, pages, tmp_path_factory):
    return shards.build_and_write_sharded(
        spark, pages, str(tmp_path_factory.mktemp("arm_plain")), n_shards=4
    )


@pytest.fixture(scope="module")
def mask(spark, plain):
    tomb = plain.docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(7)) == 0)
    return tombstones.build_mask(spark, plain, tomb.select("doc_id"))


@pytest.fixture(scope="module")
def engines(spark, pages, plain, mask, tmp_path_factory):
    positional = shards.build_and_write_sharded(
        spark, pages, str(tmp_path_factory.mktemp("arm_pos")), n_shards=4,
        with_positions=True,
    )
    return {
        "plain": WandSearchEngine(spark, plain),
        "masked": WandSearchEngine(spark, plain, mask=mask),
        "sub_split": WandSearchEngine(spark, plain, sub_split=2),
        "positional": WandSearchEngine(spark, positional),
    }


def _self_term(index, cond: str, order) -> str:
    """A term matching ``cond`` that analyzes to itself."""
    for r in index.term_stats.filter(cond).orderBy(order, "term").collect():
        if set((analyze_query(r["term"]) or [{}])[0]) == {r["term"]}:
            return r["term"]
    raise AssertionError(f"no self-analyzing term with {cond}")


@pytest.fixture(scope="module")
def batch(plain):
    """Six reference queries, one query with fewer than k candidates (a
    rare term) and one whose every term has idf 0 (scores nothing)."""
    rare = _self_term(plain, "idf > 0 AND df >= 2", F.asc("df"))
    # the most common: its idf stays 0 under the tombstone mask too
    zero = _self_term(plain, "idf = 0", F.desc("df"))
    return webgen.reference_queries()[:6] + [(100, rare), (101, zero)]


def _rows(df):
    return [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("name", ["plain", "masked", "sub_split", "positional"])
def test_driver_arm_equals_tree_arm(engines, batch, arms, monkeypatch, name):
    eng = engines[name]
    qinfo, terms = eng._analyze(batch, DEFAULT_STOPWORDS)
    counts = {
        r["query_id"]: r["count"]
        for r in eng._candidates(qinfo, terms, TOP_K, True)
        .groupBy("query_id").count().collect()
    }
    assert 0 < counts[100] < TOP_K, counts  # θ is none for the rare query
    assert 101 not in counts  # the all-idf-0 query never reaches phase 1

    driver = _rows(eng.search_batch(batch, top_k=TOP_K))
    monkeypatch.setattr(WandSearchEngine, "DRIVER_CAND_CEILING", 0)
    tree = _rows(eng.search_batch(batch, top_k=TOP_K))
    assert arms == ["_finish_in_driver", "_finish_batch"]
    assert driver == tree
    got = {q for q, *_ in driver}
    assert 100 in got and 101 not in got and len(got) > 2, got


@pytest.mark.parametrize("fits", [False, True])
def test_driver_gate_is_sum_df(engines, batch, arms, monkeypatch, fits):
    """The driver arm runs iff the batch's Σ df is at most G: G at Σ df
    finishes in the driver, G one below it in the tree arm, with the same
    rows either way. Σ df bounds the emission from above, so the driver
    arm always holds every candidate."""
    eng = engines["plain"]
    qinfo, terms = eng._analyze(batch, DEFAULT_STOPWORDS)
    emitted = eng._candidates(qinfo, terms, TOP_K, True).count()
    bound = eng._match_bound(qinfo)
    assert emitted <= bound, (emitted, bound)
    monkeypatch.setattr(WandSearchEngine, "DRIVER_CAND_CEILING", bound)
    want = _rows(eng.search_batch(batch, top_k=TOP_K))
    monkeypatch.setattr(
        WandSearchEngine, "DRIVER_CAND_CEILING", bound if fits else bound - 1
    )
    got = _rows(eng.search_batch(batch, top_k=TOP_K))
    last = "_finish_in_driver" if fits else "_finish_batch"
    assert arms == ["_finish_in_driver", last]
    assert got == want


def test_warm_one_query_batch_job_count(spark, plain, mask, count_jobs):
    """A warm one-query batch runs its fixed-cost floor of jobs: the
    candidate collect (a shuffle-map job and a result job) and one docs
    probe; the idf lookup is memoized on the index. A fresh masked engine
    over that index adds one job, its killed-count pass."""
    query = [webgen.reference_queries()[1]]
    eng = WandSearchEngine(spark, plain)
    assert eng.search_batch(query, top_k=TOP_K).collect()  # warm-up
    _, plain_jobs = count_jobs(lambda: eng.search_batch(query, top_k=TOP_K))
    assert plain_jobs <= 4, plain_jobs
    masked = WandSearchEngine(spark, plain, mask=mask)
    _, masked_jobs = count_jobs(lambda: masked.search_batch(query, top_k=TOP_K))
    assert masked_jobs <= plain_jobs + 1, (plain_jobs, masked_jobs)


def test_term_stats_memo_is_bounded(plain, monkeypatch, count_jobs):
    index = dataclasses.replace(plain)  # a copy starts with an empty memo
    want = {
        r["term"]: (r["df"], r["idf"])
        for r in index.term_stats.orderBy("term").limit(3).collect()
    }
    terms = sorted(want) + ["zzzz-not-a-term"]
    monkeypatch.setattr(shards.ShardedIndex, "TERM_STATS_MEMO_MAX", 2)
    got, jobs = count_jobs(lambda: index.term_stats_for(terms))
    assert got == want and jobs == 1
    assert len(index._stats_memo) == 2  # oldest evicted past the bound
    got, jobs = count_jobs(lambda: index.term_stats_for(terms[-2:]))
    assert got == {terms[-2]: want[terms[-2]]} and jobs == 0


def test_term_stats_memo_under_concurrent_engines(plain, monkeypatch):
    """Engines over one index (a serving tier swaps in a fresh masked engine
    per takedown) look terms up from several threads at once: every lookup
    stays exact and the memo stays within its bound."""
    index = dataclasses.replace(plain)
    want = {
        r["term"]: (r["df"], r["idf"])
        for r in index.term_stats.orderBy("term").limit(6).collect()
    }
    terms = sorted(want)
    monkeypatch.setattr(shards.ShardedIndex, "TERM_STATS_MEMO_MAX", 3)
    errors = []

    def worker(i):
        try:
            for j in range(4):
                ask = terms[(i + j) % 6:] + terms[: (i + j) % 6][:2]
                got = index.term_stats_for(ask)
                if got != {t: want[t] for t in ask}:
                    errors.append((ask, got))
        except Exception as e:  # reported below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(index._stats_memo) <= 3
