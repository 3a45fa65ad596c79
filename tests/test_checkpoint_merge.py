"""Kill/resume checkpointing (SURVEY.md §5.5, north-rule resumability)
and the input checks of the segment merge."""

import pandas as pd
import pytest

from searchengine_spark.operators import checkpoint, index_build, merge
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
def test_merge_segments_rejects_mixed_layouts(spark, pages, tmp_path_factory):
    """A positional and a plain segment have no common block layout."""
    root = str(tmp_path_factory.mktemp("mixed"))
    for name, with_positions in (("plain", False), ("pos", True)):
        index_build.tokenize_documents(
            pages.limit(3), with_positions=with_positions
        ).write.parquet(f"{root}/{name}/tokenized")
    with pytest.raises(ValueError, match="positional and plain"):
        merge.merge_segments(spark, [f"{root}/plain", f"{root}/pos"], f"{root}/out")


def test_merge_segments_rejects_shared_docs(spark, pages_pdf, tmp_path_factory):
    """Two segments of 12 docs that share 4 would merge into 24 docs with
    16 distinct doc_ids: the merge refuses and names a shared doc_id."""
    root = str(tmp_path_factory.mktemp("overlap"))
    doc_ids = []
    for name, rows in (("a", slice(0, 12)), ("b", slice(8, 20))):
        tk = index_build.tokenize_documents(
            spark.createDataFrame(pages_pdf.iloc[rows])
        )
        tk.write.parquet(f"{root}/{name}/tokenized")
        doc_ids.append({r["doc_id"] for r in tk.select("doc_id").collect()})
    shared = doc_ids[0] & doc_ids[1]
    assert len(shared) == 4
    with pytest.raises(ValueError, match="not doc-disjoint") as err:
        merge.merge_segments(spark, [f"{root}/a", f"{root}/b"], f"{root}/out")
    assert any(d in str(err.value) for d in shared), err.value
