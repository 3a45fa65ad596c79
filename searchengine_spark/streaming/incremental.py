"""Incremental index maintenance via Structured Streaming.

The reference's only incremental behavior is crawl resumability — "skip
pages already on disk" (crawler.py:210-219) — i.e. *new pages extend the
corpus; old pages are never reprocessed*. The Spark-native expression of
that contract is a Structured Streaming job over the input table's arrivals:

    new web_pages files → foreachBatch → stage-1 tokenize into a
    doc-disjoint *segment* per micro-batch (``{seg}/tokenized``) →
    ``merge.merge_segments`` encodes the segments into one sharded
    serving index (operators/merge.py)

A segment is the stage-1 ``tokenized`` frame only — the same frame every
``cli build`` output carries — so streamed segments and built indexes
merge through the one block encoder into the one on-disk format.

``availableNow`` triggers make the same job run as a catch-up batch
(process everything new, then stop) — which is how a periodic 10^12-doc
ingest actually operates; the streaming checkpoint gives exactly-once
segment production across restarts (complementing the chunk-level
checkpointing of full rebuilds in operators/checkpoint.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from searchengine_spark.operators import index_build

WEB_PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def run_incremental(spark: SparkSession, input_dir: str, work_dir: str) -> list[str]:
    """Tokenize all unseen input files into segments; returns the list of
    all complete segment paths (previous + new). Restart-safe: the
    streaming checkpoint under ``{work_dir}/_checkpoint`` remembers
    consumed files, and a batch re-run after a kill overwrites its own
    segment."""
    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("latestFirst", "false")
        .parquet(input_dir)
    )
    seg_root = os.path.join(work_dir, "segments")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index_build.tokenize_documents(batch_df).write.mode("overwrite").parquet(
            os.path.join(seg_root, f"batch={batch_id}", "tokenized")
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return segment_paths(work_dir)


def segment_paths(work_dir: str) -> list[str]:
    """Complete segments (their ``tokenized/_SUCCESS`` exists), in name
    order."""
    seg_root = os.path.join(work_dir, "segments")
    if not os.path.isdir(seg_root):
        return []
    return [
        os.path.join(seg_root, d)
        for d in sorted(os.listdir(seg_root))
        if os.path.exists(os.path.join(seg_root, d, "tokenized", "_SUCCESS"))
    ]
