"""Kill/resume checkpointing and multi-pass segment merge properties
(SURVEY.md §5.4-5.5, north-rule resumability + merge clauses)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators import checkpoint, index_build, merge, shards
from searchengine_spark.operators.checkpoint import SimulatedFailure
from searchengine_spark.sources import webgen

N_DOCS = 240
N_CHUNKS = 4


@pytest.fixture(scope="module")
def pages_pdf():
    return webgen.generate_pandas(N_DOCS)


@pytest.fixture(scope="module")
def pages(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf)


def _sorted_tokenized(df) -> pd.DataFrame:
    pdf = df.toPandas().sort_values("doc_id").reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


# ------------------------------------------------------------ checkpoint/resume
def test_kill_resume_identical_to_single_shot(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt"))

    with pytest.raises(SimulatedFailure):
        checkpoint.checkpointed_tokenize(
            spark, pages, path, n_chunks=N_CHUNKS, fail_after=2
        )
    assert not checkpoint.is_complete(spark, path, N_CHUNKS)
    partial = checkpoint.lineage(spark, path).collect()
    assert len(partial) == 2
    assert all(r["status"] == "complete" for r in partial)

    # resume: remaining chunks only
    resumed = checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=N_CHUNKS)
    assert checkpoint.is_complete(spark, path, N_CHUNKS)

    single = index_build.tokenize_documents(pages)
    got = _sorted_tokenized(resumed)
    want = _sorted_tokenized(single)
    pd.testing.assert_frame_equal(got, want)


def test_lineage_metrics_cover_corpus(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt2"))
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=N_CHUNKS)
    rows = checkpoint.lineage(spark, path).collect()
    assert {int(r["chunk_id"]) for r in rows} == set(range(N_CHUNKS))
    assert sum(int(r["n_docs"]) for r in rows) == N_DOCS
    assert all(r["n_tokens"] > 0 and r["wall_s"] > 0 for r in rows)


def test_resume_is_noop_when_complete(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt3"))
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=2)
    before = checkpoint.lineage(spark, path).count()
    checkpoint.checkpointed_tokenize(spark, pages, path, n_chunks=2)
    assert checkpoint.lineage(spark, path).count() == before


# ------------------------------------------------------------ segment merge
def _seg_col():
    return F.pmod(
        F.conv(F.substring(F.col("doc_id"), 1, 15), 16, 10).cast("long"), F.lit(3)
    ).cast("int")


@pytest.fixture(scope="module")
def tokenized(pages):
    return index_build.tokenize_documents(pages).cache()


def test_merge_segments_rejects_mixed_layouts(spark, pages, tmp_path_factory):
    """A positional and a plain segment have no common block layout."""
    root = str(tmp_path_factory.mktemp("mixed"))
    for name, with_positions in (("plain", False), ("pos", True)):
        index_build.tokenize_documents(
            pages.limit(3), with_positions=with_positions
        ).write.parquet(f"{root}/{name}/tokenized")
    with pytest.raises(ValueError, match="positional and plain"):
        merge.merge_segments(spark, [f"{root}/plain", f"{root}/pos"], f"{root}/out")


def _decoded(blocks_df) -> pd.DataFrame:
    out = shards.decode_blocks_to_postings(blocks_df.toPandas())
    return out.sort_values(["term", "docno"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def block_segments(spark, tokenized, tmp_path_factory):
    """Doc-disjoint block segments cut from ONE production build: segment i
    is the full index with every other segment's docs tombstoned, so all
    segments share the global docno space by construction."""
    path = str(tmp_path_factory.mktemp("full_blocks"))
    global_idx = shards.shard_and_write_from_tokenized(
        spark, tokenized, path, n_shards=8, block_size=16
    )
    seg_of = global_idx.docs.select("doc_id", _seg_col().alias("_s"))
    seg_blocks = [
        merge.apply_tombstones(
            spark, global_idx, seg_of.filter(F.col("_s") != i)
        ).blocks.cache()
        for i in range(3)
    ]
    return global_idx, seg_blocks, global_idx.avgdl


def test_block_merge_equals_direct_build(spark, block_segments):
    global_idx, seg_blocks, avgdl = block_segments
    merged = merge.merge_block_segments(seg_blocks, avgdl, block_size=16)
    pd.testing.assert_frame_equal(_decoded(merged), _decoded(global_idx.blocks))


def test_multi_pass_merge_associative(spark, block_segments):
    """1-pass (3-way) ≡ 2-pass (fan_in=2) ≡ direct build."""
    global_idx, seg_blocks, avgdl = block_segments
    one_pass = merge.merge_block_segments(seg_blocks, avgdl, block_size=16)
    two_pass = merge.multi_pass_merge(seg_blocks, avgdl, block_size=16, fan_in=2)
    ref = _decoded(global_idx.blocks)
    pd.testing.assert_frame_equal(_decoded(one_pass), ref)
    pd.testing.assert_frame_equal(_decoded(two_pass), ref)
