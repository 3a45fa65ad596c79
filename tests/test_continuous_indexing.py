"""End-to-end continuous-indexing lifecycle over the full operator stack:

    streamed arrivals → tokenized segments (streaming/incremental.py)
    → segment merge into the sharded compressed serving index
      (operators/merge.py:merge_segments → operators/shards.py)
    → atomic publish (operators/manifest.py) → WAND serving (plans/wand.py)
    → live tombstone-mask delete (operators/tombstones.py)
    → selective compaction (operators/merge.py) → publish → rollback.

Each stage is property-tested in its own suite; this test drives the whole
operational loop a production index actually runs, asserting the
integration seams: streamed segments merge through the one sharded
encoder, the incrementally-grown index answers queries rank+score
identical to a from-scratch build of the same corpus, deletes are live
before any rewrite, and the manifest serves the right artifact at every
step. Reference analog: the crawl → rebuild-pickle → restart-Flask loop
(crawler.py:210-219, indexer.py:109-167, app.py) this replaces."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators import manifest, merge, shards, tombstones
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen
from searchengine_spark.streaming import incremental

N_DOCS = 240


def _ranked(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
        .collect()
    ]


def test_full_lifecycle(spark, tmp_path):
    input_dir = str(tmp_path / "arrivals")
    work = str(tmp_path / "stream_work")
    serving = str(tmp_path / "serving")
    queries = webgen.reference_queries()[:6]

    corpus = spark.createDataFrame(webgen.generate_pandas(N_DOCS))
    first = corpus.filter(F.crc32("url") % 3 != 0)
    second = corpus.subtract(first)

    # ---- arrival 1: stream → segments → sharded v1 → publish ----------
    first.coalesce(2).write.mode("append").parquet(input_dir)
    v1 = str(tmp_path / "v1")
    idx1 = merge.merge_segments(
        spark, incremental.run_incremental(spark, input_dir, work), v1, n_shards=4
    )
    assert idx1.n_docs == first.count()
    manifest.publish(serving, v1, label="arrival-1")
    r1 = _ranked(
        WandSearchEngine(
            spark, manifest.read_current(spark, serving)
        ).search_batch(queries, top_k=5)
    )
    assert r1

    # ---- arrival 2: only NEW files process; grown index ≡ fresh build --
    second.coalesce(2).write.mode("append").parquet(input_dir)
    v2 = str(tmp_path / "v2")
    idx2 = merge.merge_segments(
        spark, incremental.run_incremental(spark, input_dir, work), v2, n_shards=4
    )
    assert idx2.n_docs == N_DOCS
    manifest.publish(serving, v2, label="arrival-2")
    served = manifest.read_current(spark, serving)
    r2 = _ranked(WandSearchEngine(spark, served).search_batch(queries, top_k=5))

    fresh_path = str(tmp_path / "fresh")
    shards.build_and_write_sharded(spark, corpus, fresh_path, n_shards=4)
    fresh = shards.read_sharded_index(spark, fresh_path)
    assert r2 == _ranked(
        WandSearchEngine(spark, fresh).search_batch(queries, top_k=5)
    )

    # ---- live delete: mask the current top doc, no rewrite ------------
    top_doc = r2[0][2]
    mask = tombstones.build_mask(
        spark, served, spark.createDataFrame([(top_doc,)], "doc_id string")
    )
    masked = _ranked(
        WandSearchEngine(spark, served, mask=mask).search_batch(queries, top_k=5)
    )
    assert all(doc_id != top_doc for (_, _, doc_id, _) in masked)
    assert masked != r2

    # ---- amortized compaction → v3 → publish: same answers as the mask -
    v3 = str(tmp_path / "v3")
    compacted = merge.apply_tombstones(
        spark, served, spark.createDataFrame([(top_doc,)], "doc_id string")
    )
    shards.write_sharded_index(compacted, v3)
    manifest.publish(serving, v3, label="post-compaction")
    r3 = _ranked(
        WandSearchEngine(
            spark, manifest.read_current(spark, serving)
        ).search_batch(queries, top_k=5)
    )
    assert r3 == masked

    # ---- rollback: the deleted doc is visible again from v2 -----------
    doc = manifest.rollback(serving)
    assert doc["current"] == v2
    back = _ranked(
        WandSearchEngine(
            spark, manifest.read_current(spark, serving)
        ).search_batch(queries, top_k=5)
    )
    assert back == r2
