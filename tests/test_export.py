"""The production sharded build, checked through its layout export.

``shards.build_and_write_sharded`` is the one persisted build. Exporting
its compressed blocks (``shards.export_index``) must yield the same
postings multiset, doc_stats, term_stats, stats and doc metadata as the
in-memory logical spec (``index_build.build_index``) built directly from
the corpus — and the exhaustive BM25 engine over the exported tables is
rank-identical to WAND over the blocks they came from. The same 400-doc,
4-shard build also pins co-sharded docs, kill/resume identity,
head-term skew and the reader's refusal of a copy with one part of the
block layout dropped; tiny-corpus and fractional-boost edges follow, and the
CLI test closes the file: build → verify → merge of two half builds →
query, rank-identical to the whole-corpus build.
"""

import pandas as pd
import pytest

from searchengine_spark.operators import index_build, shards
from searchengine_spark.plans.bm25 import BM25SearchEngine
from searchengine_spark.plans.wand import WandSearchEngine
from searchengine_spark.sources import webgen

N_DOCS = 400
N_SHARDS = 4


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(webgen.generate_pandas(N_DOCS))


@pytest.fixture(scope="module")
def sharded(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sharded"))
    return shards.build_and_write_sharded(spark, pages, path, n_shards=N_SHARDS)


@pytest.fixture(scope="module")
def exported(spark, sharded):
    return shards.export_index(spark, sharded)


@pytest.fixture(scope="module")
def direct_tables(spark, pages):
    return index_build.build_index(pages)


def _postings_pdf(tables) -> pd.DataFrame:
    cols = ["term", "doc_id", "tf", "doc_len"]
    return (
        tables.postings.select(*cols)
        .toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


def test_exported_postings_match_direct_build(exported, direct_tables):
    pd.testing.assert_frame_equal(
        _postings_pdf(exported), _postings_pdf(direct_tables)
    )


def test_exported_doc_stats_and_stats(exported, direct_tables):
    a = {r["doc_id"]: r["doc_len"] for r in exported.doc_stats.collect()}
    b = {r["doc_id"]: r["doc_len"] for r in direct_tables.doc_stats.collect()}
    assert a == b
    sa = exported.stats.collect()[0]
    sb = direct_tables.stats.collect()[0]
    assert sa["n_docs"] == sb["n_docs"]
    assert sa["avgdl"] == pytest.approx(sb["avgdl"], abs=1e-9)


def test_exported_term_stats(exported, direct_tables):
    a = {r["term"]: (r["df"], round(r["idf"], 9)) for r in exported.term_stats.collect()}
    b = {r["term"]: (r["df"], round(r["idf"], 9)) for r in direct_tables.term_stats.collect()}
    assert a == b


def test_exported_docs_metadata(exported, direct_tables):
    cols = ["doc_id", "url", "title", "description", "content_snippet"]
    a = exported.docs.select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = direct_tables.docs.select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_exhaustive_over_export_rank_identical_to_wand(spark, sharded, exported):
    queries = webgen.reference_queries()
    wand = WandSearchEngine(spark, sharded).search_batch(queries, top_k=10)
    exh = BM25SearchEngine(spark, exported).search_batch(queries, top_k=10)
    a = [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
         for r in wand.collect()]
    b = [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
         for r in exh.collect()]
    assert a == b


@pytest.mark.parametrize(
    "dropped, named",
    [
        ("blocks:fls", "blocks.fls"),
        ("blocks:max_tf,min_dl", "blocks.max_tf, blocks.min_dl"),
        ("docs_sharded:doc_len", "docs_sharded.doc_len"),
        ("meta:sum_doc_len", "meta.json sum_doc_len"),
    ],
)
def test_reader_rejects_legacy_layouts(spark, sharded, tmp_path, dropped, named):
    """A copy of a written index with one part of the block layout dropped
    is refused by the reader, naming the part, and `cli verify` exits 1."""
    import json
    import os
    import shutil

    import pyarrow.parquet as pq

    from searchengine_spark import cli

    path = str(tmp_path / "legacy")
    shutil.copytree(sharded.path, path)
    table, cols = dropped.split(":")
    if table == "meta":
        with open(f"{path}/meta.json") as f:
            meta = json.load(f)
        del meta[cols]
        with open(f"{path}/meta.json", "w") as f:
            json.dump(meta, f)
    else:
        # without the footer's Spark schema, which still lists the columns
        data = (
            pq.read_table(f"{path}/{table}")
            .drop(cols.split(","))
            .replace_schema_metadata(None)
        )
        shutil.rmtree(f"{path}/{table}")
        os.mkdir(f"{path}/{table}")
        pq.write_table(data, f"{path}/{table}/part-0.parquet")
    with pytest.raises(ValueError, match=f"missing {named}"):
        shards.read_sharded_index(spark, path)
    assert cli.main(["verify", "--index", path]) == 1


def _decoded(index) -> pd.DataFrame:
    out = shards.decode_blocks_to_postings(index.blocks.toPandas())
    return out.sort_values(["term", "docno"]).reset_index(drop=True)


def test_docs_cosharded(sharded):
    rows = sharded.docs.collect()
    assert len(rows) == N_DOCS
    assert all(r["shard"] == r["docno"] // sharded.shard_size for r in rows)


def test_tiny_corpus_build_and_query(spark, tmp_path_factory):
    """Degenerate sizes: 3 docs across 4 shards (shard_size=1, some shards
    empty), single-block terms, queries with no hits."""
    path = str(tmp_path_factory.mktemp("tiny"))
    pages = spark.createDataFrame(webgen.generate_pandas(3))
    ix = shards.build_and_write_sharded(spark, pages, path, n_shards=4)
    assert ix.n_docs == 3 and ix.shard_size == 1
    assert ix.docs.count() == 3
    eng = WandSearchEngine(spark, ix)
    res = eng.search_batch([(0, "zzzzunseen tokens")], top_k=5)
    assert res is None or res.count() == 0
    res2 = eng.search_batch(webgen.reference_queries()[:3], top_k=5)
    assert res2 is None or res2.count() >= 0


def test_resumable_direct_build_identical_after_kill(spark, pages, tmp_path_factory, sharded):
    """Kill the resumable production build mid-tokenize; resume; the final
    compressed index must be identical to the single-shot build."""
    from searchengine_spark.operators import checkpoint
    from searchengine_spark.operators.checkpoint import SimulatedFailure

    path = str(tmp_path_factory.mktemp("resume"))
    with pytest.raises(SimulatedFailure):
        checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=4, fail_after=2)
    resumed = shards.build_and_write_sharded(
        spark, pages, path, n_shards=N_SHARDS, resumable=True, n_chunks=4
    )
    pd.testing.assert_frame_equal(_decoded(resumed), _decoded(sharded))
    assert resumed.n_docs == sharded.n_docs
    assert resumed.avgdl == pytest.approx(sharded.avgdl, abs=1e-9)


def test_fractional_boost_fails_loudly(monkeypatch):
    """The int32 tf cast is only sound for integral field boosts; a
    fractional boost config must fail before the cast can truncate."""
    monkeypatch.setattr(shards, "TITLE_BOOST", 2.5)
    with pytest.raises(ValueError, match="integral field boosts"):
        shards._assert_integral_boosts()


def test_head_term_skew_is_neutralized(sharded):
    """Doc-range sharding must spread every head term's postings across
    (almost) all shards with near-uniform per-shard lists — the explicit
    skew handling the north rule demands, measured from block metadata."""
    report = shards.term_skew_report(sharded, top_n=5).collect()
    assert report, "no terms in skew report"
    for r in report:
        # head terms (df >> n_shards) must appear in every shard...
        if r["df"] >= 4 * sharded.n_shards:
            assert r["n_shards_present"] == sharded.n_shards, r
            # ...with no shard holding a disproportionate slice
            assert r["skew"] <= 2.0, r


def test_cli_build_verify_merge_query(spark, tmp_path, capsys):
    """CLI over the one build path: `build` writes the sharded index and
    `verify` checks it (and fails on a corrupted meta.json). Two `build`
    outputs over doc-disjoint halves `merge` into one sharded index that
    `verify` accepts and `query` (WAND) ranks exactly like the
    whole-corpus build."""
    import json

    from pyspark.sql import functions as F

    from searchengine_spark import cli

    pages_path = str(tmp_path / "pages")
    webgen.generate_spark(spark, 120, partitions=2).write.parquet(pages_path)
    idx, merged = str(tmp_path / "idx"), str(tmp_path / "merged")
    assert cli.main(["build", "--input", pages_path, "--out", idx, "--shards", "2"]) == 0
    assert cli.main(["verify", "--index", idx]) == 0
    segs = []
    for half in (0, 1):
        half_pages, seg = str(tmp_path / f"pages{half}"), str(tmp_path / f"seg{half}")
        spark.read.parquet(pages_path).filter(F.crc32("url") % 2 == half).write.parquet(
            half_pages
        )
        assert cli.main(["build", "--input", half_pages, "--out", seg]) == 0
        segs.append(seg)
    assert cli.main(["merge", "--segments", *segs, "--out", merged]) == 0
    assert cli.main(["verify", "--index", merged]) == 0
    capsys.readouterr()

    queries = [q for _, q in webgen.reference_queries()[:4]]

    def ranks(index_path):
        assert cli.main(["query", "--index", index_path, "--top-k", "5", *queries]) == 0
        rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
        )

    got = ranks(idx)
    assert got, "query returned no results"
    assert got == ranks(merged)

    with open(f"{idx}/meta.json") as f:
        meta = json.load(f)
    meta["n_docs"] += 1
    with open(f"{idx}/meta.json", "w") as f:
        json.dump(meta, f)
    assert cli.main(["verify", "--index", idx]) == 1
