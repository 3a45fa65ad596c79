"""Positional index + phrase query correctness.

The north-rule posting payload is (docID, tf, positions); these tests
verify the positional layout end-to-end:

* position-codec round-trip (counts + delta-gapped streams),
* positional sharded build decodes to exactly the same (term, docno, tf)
  postings as the non-positional build (positions are a pure extension),
* decoded positions equal the oracle token stream indices per document,
* ``phrase_match_sharded`` equals a brute-force in-process phrase count
  over the oracle token streams (2-term, 3-term, repeated-term phrases),
* the Catalyst-native ``phrase_tf_col`` equals the same brute-force count.
"""

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.config import DEFAULT_STOPWORDS
from searchengine_spark.functions import textproc
from searchengine_spark.operators import codec, shards
from searchengine_spark.plans import phrase as phrase_plan
from searchengine_spark.sources import webgen

N_DOCS = 300
N_SHARDS = 4


# ---------------------------------------------------------------- codec unit
def test_positions_codec_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(100):
        nposts = int(rng.integers(0, 16))
        counts = rng.integers(0, 6, size=nposts)
        lists = [np.sort(rng.choice(100000, size=c, replace=False)) for c in counts]
        flat = np.concatenate(lists) if lists else np.empty(0, dtype=np.int64)
        cb, gb = codec.encode_positions(counts, flat)
        dc, dp = codec.decode_positions(cb, gb)
        assert np.array_equal(dc, counts)
        assert np.array_equal(dp.astype(np.int64), flat.astype(np.int64))


def test_positions_codec_mismatch_raises():
    with pytest.raises(ValueError):
        codec.encode_positions(np.array([2]), np.array([1]))


# ---------------------------------------------------------------- oracle side
def _oracle_streams(pages_pdf: pd.DataFrame) -> dict[str, list[str]]:
    """doc_id → the concatenated filtered token stream (title, meta, content)
    exactly as tokenize_documents orders it."""
    streams = {}
    for row in pages_pdf.itertuples(index=False):
        html = row.html.decode("utf-8", errors="replace") if isinstance(
            row.html, (bytes, bytearray)
        ) else (row.html or "")
        title = textproc.extract_title_from_html(html)
        meta = textproc.extract_meta_description(html)
        content = row.text or ""
        toks = []
        for field in (title, meta, content):
            toks.extend(
                textproc.filter_tokens(textproc.tokenize(field), DEFAULT_STOPWORDS)
            )
        streams[textproc.doc_id_for_url(row.url)] = toks
    return streams


def _count_phrase(stream: list[str], terms: list[str]) -> int:
    n = len(terms)
    return sum(
        1
        for i in range(len(stream) - n + 1)
        if stream[i : i + n] == terms
    )


@pytest.fixture(scope="module")
def pages_pdf():
    return webgen.generate_pandas(N_DOCS)


@pytest.fixture(scope="module")
def streams(pages_pdf):
    return _oracle_streams(pages_pdf)


@pytest.fixture(scope="module")
def pos_index(spark, pages_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("posidx"))
    pages = spark.createDataFrame(pages_pdf)
    return shards.build_and_write_sharded(
        spark, pages, path, n_shards=N_SHARDS, with_positions=True
    )


@pytest.fixture(scope="module")
def plain_index(spark, pages_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plainidx"))
    pages = spark.createDataFrame(pages_pdf)
    return shards.build_and_write_sharded(spark, pages, path, n_shards=N_SHARDS)


# ---------------------------------------------------------------- invariants
def test_positional_meta_flag(pos_index, plain_index):
    assert pos_index.with_positions is True
    assert plain_index.with_positions is False
    assert "pcounts" in pos_index.blocks.columns
    assert "pcounts" not in plain_index.blocks.columns


def test_positional_postings_match_plain(pos_index, plain_index):
    a = shards.decode_blocks_to_postings(
        pos_index.blocks.toPandas()
    ).sort_values(["term", "docno"]).reset_index(drop=True)
    b = shards.decode_blocks_to_postings(
        plain_index.blocks.toPandas()
    ).sort_values(["term", "docno"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_decoded_positions_match_oracle(pos_index, streams):
    docnos = {
        r["docno"]: r["doc_id"] for r in pos_index.docs.select("docno", "doc_id").collect()
    }
    got: dict[tuple[str, str], list[int]] = {}
    for row in pos_index.blocks.toPandas().itertuples(index=False):
        if row.term.startswith("\x00"):
            continue  # field-signature sidecar rows are not postings
        d, _tf, _dl = codec.decode_postings(row.gaps, row.tfs, row.dls)
        counts, flat = codec.decode_positions(row.pcounts, row.pgaps)
        parts = np.split(flat.astype(np.int64), np.cumsum(counts)[:-1])
        for docno, plist in zip(d.astype(np.int64), parts):
            key = (row.term, docnos[int(docno)])
            got.setdefault(key, []).extend(plist.tolist())
    want: dict[tuple[str, str], list[int]] = {}
    for doc_id, stream in streams.items():
        for i, tok in enumerate(stream):
            want.setdefault((tok, doc_id), []).append(i)
    assert len(got) == len(want)
    for key, positions in want.items():
        assert sorted(got[key]) == positions, key


# ---------------------------------------------------------------- phrase query
def _pick_phrase(streams, length: int, offset: int = 0) -> list[str]:
    """A phrase that certainly occurs: a token window from a real stream."""
    for doc_id in sorted(streams):
        s = streams[doc_id]
        if len(s) >= offset + length:
            return s[offset : offset + length]
    raise AssertionError("no stream long enough")


@pytest.mark.parametrize("length,offset", [(2, 0), (2, 7), (3, 3)])
def test_phrase_match_vs_bruteforce(spark, pos_index, streams, length, offset):
    terms = _pick_phrase(streams, length, offset)
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_plan.phrase_match_sharded(
            spark, pos_index, " ".join(terms), top_k=10_000, terms=terms
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_phrase(s, terms)) > 0
    }
    assert got == want


def test_phrase_match_repeated_term(spark, pos_index, streams):
    # doubled single token: "x x" — exercises duplicate terms in the phrase
    for doc_id in sorted(streams):
        s = streams[doc_id]
        for i in range(len(s) - 1):
            if s[i] == s[i + 1]:
                terms = [s[i], s[i]]
                break
        else:
            continue
        break
    else:
        pytest.skip("no doubled token in corpus")
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_plan.phrase_match_sharded(
            spark, pos_index, " ".join(terms), top_k=10_000, terms=terms
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_phrase(s, terms)) > 0
    }
    assert got == want


def test_phrase_match_absent_term(spark, pos_index):
    out = phrase_plan.phrase_match_sharded(
        spark, pos_index, "zz qq", top_k=10, terms=["zzneverthere", "qqneverthere"]
    )
    assert out.count() == 0


def test_phrase_requires_positional(spark, plain_index):
    with pytest.raises(ValueError):
        phrase_plan.phrase_match_sharded(spark, plain_index, "any thing")


# ---------------------------------------------------------------- proximity
def _count_cooccur(stream: list[str], a: str, b: str, window: int) -> int:
    pa = [i for i, t in enumerate(stream) if t == a]
    pb = [i for i, t in enumerate(stream) if t == b]
    return sum(1 for i in pa if any(abs(i - j) <= window and i != j for j in pb))


def _pick_cooccur_pair(streams, window):
    """Two distinct terms that co-occur within the window somewhere."""
    for doc_id in sorted(streams):
        s = streams[doc_id]
        for i in range(len(s) - 1):
            for j in range(i + 1, min(i + window + 1, len(s))):
                if s[i] != s[j]:
                    return s[i], s[j]
    raise AssertionError("no co-occurring pair")


@pytest.mark.parametrize("window", [1, 5])
def test_proximity_sharded_vs_bruteforce(spark, pos_index, streams, window):
    from searchengine_spark.plans.phrase import proximity_match_sharded

    a, b = _pick_cooccur_pair(streams, window)
    got = {
        r["doc_id"]: r["cooccur"]
        for r in proximity_match_sharded(
            spark, pos_index, a, b, window=window, top_k=10_000
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_cooccur(s, a, b, window)) > 0
    }
    assert got == want


def test_proximity_sharded_same_term(spark, pos_index, streams):
    """term_a == term_b: self-matches at distance 0 must not count."""
    from searchengine_spark.plans.phrase import proximity_match_sharded

    # a term that repeats within 5 tokens somewhere
    term = None
    for s in streams.values():
        for i in range(len(s) - 1):
            for j in range(i + 1, min(i + 6, len(s))):
                if s[i] == s[j]:
                    term = s[i]
                    break
            if term:
                break
        if term:
            break
    if term is None:
        pytest.skip("no near-repeated token")
    got = {
        r["doc_id"]: r["cooccur"]
        for r in proximity_match_sharded(
            spark, pos_index, term, term, window=5, top_k=10_000
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_cooccur(s, term, term, 5)) > 0
    }
    assert got == want


def _count_cooccur_ordered(stream: list[str], a: str, b: str, window: int) -> int:
    pa = [i for i, t in enumerate(stream) if t == a]
    pb = [i for i, t in enumerate(stream) if t == b]
    return sum(1 for i in pa if any(0 < j - i <= window for j in pb))


def test_proximity_sharded_ordered_vs_bruteforce(spark, pos_index, streams):
    from searchengine_spark.plans.phrase import proximity_match_sharded

    a, b = _pick_cooccur_pair(streams, 5)
    got = {
        r["doc_id"]: r["cooccur"]
        for r in proximity_match_sharded(
            spark, pos_index, a, b, window=5, top_k=10_000, ordered=True
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_cooccur_ordered(s, a, b, 5)) > 0
    }
    assert got == want


def test_cooccur_col_ordered_vs_bruteforce(spark, streams):
    from pyspark.sql import functions as F

    from searchengine_spark.plans.phrase import cooccur_count_col

    a, b = _pick_cooccur_pair(streams, 5)
    rows = [(doc_id, s) for doc_id, s in streams.items()]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id",
            cooccur_count_col(F.col("toks"), a, b, 5, ordered=True).alias("c"),
        ).collect()
    }
    want = {
        doc_id: _count_cooccur_ordered(s, a, b, 5) for doc_id, s in streams.items()
    }
    assert got == want


def test_cooccur_col_vs_bruteforce(spark, streams):
    from pyspark.sql import functions as F

    from searchengine_spark.plans.phrase import cooccur_count_col

    a, b = _pick_cooccur_pair(streams, 5)
    rows = [(doc_id, s) for doc_id, s in streams.items()]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", cooccur_count_col(F.col("toks"), a, b, 5).alias("c")
        ).collect()
    }
    want = {doc_id: _count_cooccur(s, a, b, 5) for doc_id, s in streams.items()}
    assert got == want


# ---------------------------------------------------------------- native column
def test_phrase_tf_col_vs_bruteforce(spark, streams):
    from pyspark.sql import functions as F

    terms = _pick_phrase(streams, 2, 4)
    rows = [(doc_id, s) for doc_id, s in streams.items()]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    got = {
        r["doc_id"]: r["ptf"]
        for r in df.select(
            "doc_id", phrase_plan.phrase_tf_col(F.col("toks"), terms).alias("ptf")
        ).collect()
    }
    want = {doc_id: _count_phrase(s, terms) for doc_id, s in streams.items()}
    assert got == want


# ---------------------------------------------------------------- n-term window
def _count_window(stream, terms, window):
    pa = [i for i, t in enumerate(stream) if t == terms[0]]
    others = [t for t in dict.fromkeys(terms[1:]) if t != terms[0]]
    count = 0
    for a in pa:
        if all(
            any(abs(a - j) <= window for j, t2 in enumerate(stream) if t2 == t)
            for t in others
        ):
            count += 1
    return count


def _pick_window_triple(streams, window):
    for doc_id in sorted(streams):
        s = streams[doc_id]
        for i in range(len(s)):
            near = {s[j] for j in range(max(0, i - window), min(len(s), i + window + 1))}
            near.discard(s[i])
            if len(near) >= 2:
                o = sorted(near)[:2]
                return [s[i], o[0], o[1]]
    raise AssertionError("no window triple")


def test_window_sharded_vs_bruteforce(spark, pos_index, streams):
    from searchengine_spark.plans.phrase import window_match_sharded

    terms = _pick_window_triple(streams, 10)
    got = {
        r["doc_id"]: r["cooccur"]
        for r in window_match_sharded(
            spark, pos_index, terms, window=10, top_k=10_000
        ).collect()
    }
    want = {
        doc_id: c
        for doc_id, s in streams.items()
        if (c := _count_window(s, terms, 10)) > 0
    }
    assert got == want


def test_window_count_col_vs_bruteforce(spark, streams):
    from pyspark.sql import functions as F

    from searchengine_spark.plans.phrase import window_count_col

    terms = _pick_window_triple(streams, 10)
    rows = [(doc_id, s) for doc_id, s in streams.items()]
    df = spark.createDataFrame(rows, "doc_id string, toks array<string>")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", window_count_col(F.col("toks"), terms, 10).alias("c")
        ).collect()
    }
    want = {doc_id: _count_window(s, terms, 10) for doc_id, s in streams.items()}
    assert got == want


# ---------------------------------------------------------------- batch
def test_phrase_batch_equals_individual(spark, pos_index, streams):
    """One batched job answers each phrase identically to its own job."""
    batch = [
        (0, " ".join(_pick_phrase(streams, 2, 0))),
        (1, " ".join(_pick_phrase(streams, 2, 7))),
        (2, " ".join(_pick_phrase(streams, 3, 3))),
        (3, "zzneverthere qqneverthere"),
    ]
    got = {}
    for r in phrase_plan.phrase_batch_sharded(
        spark, pos_index, batch, top_k=10_000
    ).collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = r["phrase_tf"]
    for qid, text in batch:
        terms = phrase_plan.analyze_phrase(text)
        want = {
            r["doc_id"]: r["phrase_tf"]
            for r in phrase_plan.phrase_match_sharded(
                spark, pos_index, text, top_k=10_000, terms=terms
            ).collect()
        }
        assert got.get(qid, {}) == want, (qid, text)


def test_positional_kernels_reject_oversized_shard():
    """local docno packs into the high 32 bits of a signed int64 key —
    shard_size beyond 2^31 must fail loudly, not corrupt results."""
    import pytest

    from searchengine_spark.plans import phrase as ph

    for factory in (
        lambda: ph._phrase_kernel_factory(["a", "b"], (1 << 31) + 1),
        lambda: ph._proximity_kernel_factory("a", "b", 5, (1 << 31) + 1),
        lambda: ph._window_kernel_factory(["a", "b"], 5, (1 << 31) + 1),
    ):
        with pytest.raises(ValueError, match="2\\^31"):
            factory()
    # the boundary itself is fine
    ph._phrase_kernel_factory(["a", "b"], 1 << 31)


def test_unknown_extra_col_raises_on_both_paths(spark, pos_index):
    """A typo'd extra_cols name must fail loudly whether or not the phrase
    has analyzable terms — the empty branch used to fabricate a string
    column while the non-empty branch raised, so the same request would
    succeed or fail depending on the query text."""
    with pytest.raises(ValueError, match="titel"):
        phrase_plan.phrase_match_sharded(
            spark, pos_index, "dup spark", extra_cols=("titel",)
        )
    with pytest.raises(ValueError, match="titel"):
        # all-stopword phrase → the empty-terms branch
        phrase_plan.phrase_match_sharded(
            spark, pos_index, "the of and", extra_cols=("titel",)
        )
