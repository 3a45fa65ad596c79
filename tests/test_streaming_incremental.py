"""Structured-Streaming incremental indexing (streaming/incremental.py):
two availableNow catch-up runs over a growing input directory write
tokenized segments that ``merge.merge_segments`` encodes into a sharded
index identical to one build over the whole corpus — same N and avgdl,
same postings, WAND results rank- and score-identical to the production
build and to the exhaustive spec. A rerun without new files reprocesses
nothing (exactly-once via the stream checkpoint), and an empty arrival
writes no segment."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators import checkpoint, index_build, merge, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen
from searchengine_spark.streaming import incremental

N_DOCS = 200
N_SHARDS = 4


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = webgen.generate_pandas(N_DOCS)
    return spark.createDataFrame(pdf)


def _segment_docs(spark, segs) -> int:
    return sum(checkpoint.read_tokenized(spark, p).count() for p in segs)


def _ranked(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
        .collect()
    ]


def test_incremental_equals_batch(spark, corpus, tmp_path_factory):
    input_dir = str(tmp_path_factory.mktemp("stream_in"))
    work = str(tmp_path_factory.mktemp("stream_work"))

    first = corpus.filter(F.col("url").contains("post-") & (F.crc32("url") % 2 == 0))
    second = corpus.subtract(first)

    # arrival 1
    first.coalesce(2).write.mode("append").parquet(input_dir)
    segs1 = incremental.run_incremental(spark, input_dir, work)
    assert len(segs1) >= 1
    assert _segment_docs(spark, segs1) == first.count()

    # arrival 2: new files in the same dir; only they get processed
    second.coalesce(2).write.mode("append").parquet(input_dir)
    segs2 = incremental.run_incremental(spark, input_dir, work)
    assert len(segs2) > len(segs1)

    merged = merge.merge_segments(
        spark, segs2, str(tmp_path_factory.mktemp("merged")), n_shards=N_SHARDS
    )
    fresh = shards.build_and_write_sharded(
        spark, corpus, str(tmp_path_factory.mktemp("fresh")), n_shards=N_SHARDS
    )
    batch = index_build.build_index(corpus)

    s_b = batch.stats.collect()[0]
    assert merged.n_docs == fresh.n_docs == s_b["n_docs"] == N_DOCS
    assert merged.avgdl == fresh.avgdl == s_b["avgdl"]

    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in shards.export_index(spark, merged).postings.collect()
    }
    want = {(r["term"], r["doc_id"]): r["tf"] for r in batch.postings.collect()}
    assert got == want

    queries = webgen.reference_queries()[:5]
    res_m = _ranked(WandSearchEngine(spark, merged).search_batch(queries, top_k=5))
    assert res_m
    assert res_m == _ranked(
        WandSearchEngine(spark, fresh).search_batch(queries, top_k=5)
    )
    assert res_m == _ranked(
        BM25SearchEngine(spark, batch).search_batch(queries, top_k=5)
    )


def test_rerun_without_new_data_is_noop(spark, corpus, tmp_path_factory):
    input_dir = str(tmp_path_factory.mktemp("stream_in2"))
    work = str(tmp_path_factory.mktemp("stream_work2"))
    corpus.limit(50).coalesce(1).write.mode("append").parquet(input_dir)
    segs1 = incremental.run_incremental(spark, input_dir, work)
    segs2 = incremental.run_incremental(spark, input_dir, work)
    assert segs1 == segs2
    # exactly-once: total docs across segments == input docs, no dupes
    assert _segment_docs(spark, segs2) == 50


def test_empty_arrival_writes_no_segment(spark, corpus, tmp_path_factory):
    input_dir = str(tmp_path_factory.mktemp("stream_in3"))
    work = str(tmp_path_factory.mktemp("stream_work3"))
    corpus.limit(0).coalesce(1).write.mode("append").parquet(input_dir)
    assert incremental.run_incremental(spark, input_dir, work) == []
