"""Command-line entry points, runnable via ``spark-submit --py-files``.

Packaging (north rule): zip the package and submit any subcommand::

    zip -r searchengine_spark.zip searchengine_spark
    spark-submit --py-files searchengine_spark.zip searchengine_spark/cli.py \\
        build --input /data/web_pages --out /data/index --resumable

(spark-submit takes an application *file*; the package imports inside it
resolve from the ``--py-files`` zip on every executor — exercised end-to-end
by ``tests/test_spark_submit.py``.)

Locally the same module runs as ``python -m searchengine_spark.cli ...``
(Spark local mode). Subcommands mirror the reference's scripts:
``generate`` (test corpus), ``ingest-warc`` (Common-Crawl containers →
pages table; also ``build --input-format warc`` to index straight from
containers), ``build`` (= build_index.py + optimize_index.py: the one
build, which writes the compressed sharded index — the only on-disk index
format), ``query`` (= app.py search path; WAND over a sharded index),
``merge`` (doc-disjoint segments — ``build`` outputs or streamed segments
— encoded into one sharded index), ``verify`` (= verify_index.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid


def _spark(args):
    from searchengine_spark.plans.session import get_spark

    return get_spark(
        "searchengine-spark-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def cmd_generate(args) -> int:
    from searchengine_spark.sources import webgen

    spark = _spark(args)
    webgen.generate_spark(spark, args.n_docs, partitions=args.partitions).write.mode(
        "overwrite"
    ).parquet(args.out)
    print(json.dumps({"generated_docs": args.n_docs, "path": args.out}))
    return 0


def cmd_ingest_warc(args) -> int:
    """WARC containers → the canonical pages parquet table (sources/warc.py);
    the at-rest equivalent of the reference's live fetch (crawler.py:266)."""
    from pyspark.sql import functions as F

    from searchengine_spark.sources import warc

    spark = _spark(args)
    pages = warc.read_warc(spark, args.input, extract_text=not args.no_text)
    pages.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).agg(F.count("*")).collect()[0][0]
    print(json.dumps({"ingested_docs": int(n), "path": args.out}))
    return 0


def _read_pages(spark, args):
    """build/linkrank input: parquet pages table, or WARC containers read
    directly (no intermediate table — the 100 TB path skips one full
    corpus write+read)."""
    if getattr(args, "input_format", "parquet") == "warc":
        from searchengine_spark.sources import warc

        return warc.read_warc(spark, args.input)
    return spark.read.parquet(args.input)


def cmd_build(args) -> int:
    from searchengine_spark.operators import shards

    spark = _spark(args)
    pages = _read_pages(spark, args)
    t0 = time.time()
    ix = shards.build_and_write_sharded(
        spark, pages, args.out, n_shards=args.shards,
        resumable=args.resumable, n_chunks=args.n_chunks,
        with_positions=args.positions,
    )
    wall = time.time() - t0
    print(json.dumps({"docs": ix.n_docs, "n_shards": ix.n_shards,
                      "wall_s": round(wall, 2),
                      "docs_per_sec": round(ix.n_docs / wall, 1)}))
    return 0


def cmd_query(args) -> int:
    """WAND top-k over a sharded index (``build``/``merge`` outputs)."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    spark = _spark(args)
    batch = list(enumerate(args.query))
    engine = WandSearchEngine(spark, shards.read_sharded_index(spark, args.index))
    res = engine.search_batch(batch, top_k=args.top_k)
    if res is None:
        print(json.dumps({"results": []}))
        return 0
    for r in res.collect():
        print(json.dumps({k: r[k] for k in ("query_id", "rank", "doc_id", "url", "score")}))
    return 0


def cmd_phrase(args) -> int:
    """Exact phrase query over a positional sharded index (plans/phrase.py)."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.phrase import phrase_match_sharded

    spark = _spark(args)
    index = shards.read_sharded_index(spark, args.index)
    res = phrase_match_sharded(spark, index, " ".join(args.phrase), top_k=args.top_k)
    for r in res.collect():
        print(json.dumps({k: r[k] for k in ("doc_id", "url", "phrase_tf")}))
    return 0


def cmd_merge(args) -> int:
    """Doc-disjoint segments (each with a stage-1 ``tokenized/``) → one
    sharded index through the one block encoder (operators/merge.py)."""
    from searchengine_spark.operators import merge

    spark = _spark(args)
    ix = merge.merge_segments(spark, args.segments, args.out)
    print(json.dumps({"segments": len(args.segments), "merged_docs": ix.n_docs,
                      "n_shards": ix.n_shards}))
    return 0


def cmd_delete(args) -> int:
    """Tombstone compaction: drop docs (by doc_id or url) from a sharded
    index and rewrite it; exact vs a fresh build of the survivors
    (operators/merge.py:apply_tombstones)."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import merge, shards

    spark = _spark(args)
    index = shards.read_sharded_index(spark, args.index)
    if args.doc_ids:
        tomb = spark.createDataFrame(
            [(d,) for d in args.doc_ids], "doc_id string"
        )
    else:
        urls = spark.createDataFrame([(u,) for u in args.urls], "url string")
        tomb = index.docs.join(urls, "url").select("doc_id")
    before = index.n_docs
    # out_path mode: the rewrite executes once; stats derive from the
    # written blocks instead of re-running the kernel
    compacted = merge.apply_tombstones(spark, index, tomb, out_path=args.out)
    print(
        json.dumps(
            {"docs_before": before, "docs_after": compacted.n_docs, "out": args.out}
        )
    )
    return 0


def cmd_linkrank(args) -> int:
    """Link-graph signals over a pages table: F5 outlinks → fixed-iteration
    damped PageRank per url (plans/graph.py:pagerank, bucketed edge table)
    and, with --anchors, the anchor-term aggregation per target
    (plans/classify.py:anchor_term_counts)."""
    from pyspark.sql import functions as F

    from searchengine_spark.plans import classify, graph

    spark = _spark(args)
    pages = _read_pages(spark, args)
    edges = classify.outlinks(pages)
    weight = None
    if args.weighted:
        # weighted PageRank by LINK MULTIPLICITY: outlinks emits one row
        # per href occurrence, so the count per (src, dst) is the weight
        edges = edges.groupBy("src_url", "out_url").agg(
            F.count("*").cast("double").alias("w")
        )
        weight = "w"
    pr = graph.pagerank(
        edges,
        src="src_url",
        dst="out_url",
        nodes=pages.select("url"),
        iterations=args.iterations,
        damping=args.damping,
        # per-run name: concurrent linkrank jobs sharing a metastore must
        # not overwrite or drop each other's bucketed edge table
        bucket_table=f"_cli_linkrank_edges_{uuid.uuid4().hex[:8]}",
        n_buckets=args.partitions,
        weight=weight,
    ).select(F.col("node").alias("url"), "pr")
    pr.write.mode("overwrite").parquet(f"{args.out}/pagerank")
    out = {"pagerank_rows": spark.read.parquet(f"{args.out}/pagerank").count()}
    if args.anchors:
        classify.anchor_term_counts(pages).write.mode("overwrite").parquet(
            f"{args.out}/anchor_terms"
        )
        out["anchor_term_rows"] = spark.read.parquet(
            f"{args.out}/anchor_terms"
        ).count()
    print(json.dumps({**out, "path": args.out}))
    return 0


def cmd_verify(args) -> int:
    """Sharded-index integrity (reference verify_index.py:23-89 analog):
    the block layout is the current one, ``meta.json`` n_docs ==
    docs_sharded rows, blocks non-empty, and Σ n over posting blocks ==
    Σ df in term_stats."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import shards

    spark = _spark(args)
    try:
        index = shards.read_sharded_index(spark, args.index)
    except ValueError as e:
        print(json.dumps({"ok": False, "error": str(e)}))
        return 1
    postings = index.blocks.filter(~F.col("term").startswith("\x00"))
    checks = {
        "n_docs": index.n_docs,
        "docs_rows": index.docs.count(),
        "block_rows": index.blocks.count(),
        "postings": int(postings.agg(F.sum("n")).collect()[0][0] or 0),
        "sum_df": int(index.term_stats.agg(F.sum("df")).collect()[0][0] or 0),
    }
    ok = (
        checks["docs_rows"] == checks["n_docs"]
        and checks["block_rows"] > 0
        and checks["postings"] == checks["sum_df"]
    )
    print(json.dumps({"ok": ok, **checks}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="searchengine_spark")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="deterministic synthetic web_pages corpus")
    g.add_argument("--n-docs", type=int, default=10000)
    g.add_argument("--partitions", type=int, default=32)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_generate)

    iw = sub.add_parser("ingest-warc", help="WARC containers → pages parquet table")
    iw.add_argument("--input", required=True, help="dir/glob of .warc / .warc.gz files")
    iw.add_argument("--out", required=True)
    iw.add_argument("--no-text", action="store_true",
                    help="skip T2 extraction (text column NULL; a downstream stage owns it)")
    iw.set_defaults(fn=cmd_ingest_warc)

    b = sub.add_parser("build", help="build + persist the compressed sharded index")
    b.add_argument("--input", required=True)
    b.add_argument("--input-format", choices=["parquet", "warc"], default="parquet",
                   help="read --input as a pages parquet table or as WARC containers directly")
    b.add_argument("--out", required=True)
    b.add_argument("--resumable", action="store_true")
    b.add_argument("--n-chunks", type=int, default=16)
    b.add_argument("--positions", action="store_true",
                   help="store token positions in posting blocks (phrase queries)")
    b.add_argument("--shards", type=int, default=None, help="explicit shard count (default: docs-per-shard policy)")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k (WAND over a sharded index)")
    q.add_argument("--index", required=True)
    q.add_argument("--top-k", type=int, default=10)
    q.add_argument("query", nargs="+")
    q.set_defaults(fn=cmd_query)

    ph = sub.add_parser("phrase", help="exact phrase query (positional sharded index)")
    ph.add_argument("--index", required=True)
    ph.add_argument("--top-k", type=int, default=20)
    ph.add_argument("phrase", nargs="+")
    ph.set_defaults(fn=cmd_phrase)

    m = sub.add_parser(
        "merge", help="merge doc-disjoint segments into one sharded index"
    )
    m.add_argument("--segments", nargs="+", required=True,
                   help="build outputs or streamed segment dirs (each with tokenized/)")
    m.add_argument("--out", required=True)
    m.set_defaults(fn=cmd_merge)

    d = sub.add_parser(
        "delete", help="tombstone docs out of a sharded index (compaction rewrite)"
    )
    d.add_argument("--index", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--doc-ids", nargs="*", dest="doc_ids", default=[])
    d.add_argument("--urls", nargs="*", default=[])
    d.set_defaults(fn=cmd_delete)

    lr = sub.add_parser(
        "linkrank", help="pagerank (+ --anchors anchor terms) over a pages table"
    )
    lr.add_argument("--input", required=True)
    lr.add_argument("--input-format", choices=["parquet", "warc"], default="parquet")
    lr.add_argument("--out", required=True)
    lr.add_argument("--iterations", type=int, default=5)
    lr.add_argument("--damping", type=float, default=0.85)
    lr.add_argument("--partitions", type=int, default=32)
    lr.add_argument("--anchors", action="store_true",
                    help="also write (dst_url, term) anchor-text aggregation")
    lr.add_argument("--weighted", action="store_true",
                    help="weight edges by link multiplicity (weighted PageRank)")
    lr.set_defaults(fn=cmd_linkrank)

    v = sub.add_parser("verify", help="sharded index integrity check")
    v.add_argument("--index", required=True)
    v.set_defaults(fn=cmd_verify)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
