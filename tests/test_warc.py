"""WARC source (sources/warc.py): round-trip byte identity with the
synthetic corpus generator, Common-Crawl per-record-gzip layout, member
boundary handling, record-type filtering, fail-loud malformed-container
contract, and the map-only (zero-shuffle) plan property."""

import datetime as dt
import gzip
import os

import pytest

from searchengine_spark.sources import warc, webgen


def _pages(n=12):
    pdf = webgen.generate_pandas(n)
    rows = pdf.to_dict("records")
    for r in rows:  # normalize to naive UTC — what Spark (session tz UTC) returns
        ts = r["warc_ts"].to_pydatetime()
        if ts.tzinfo is not None:
            ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
        r["warc_ts"] = ts
    return rows


def _write(tmp_path, name, data: bytes) -> str:
    p = tmp_path / name
    p.write_bytes(data)
    return str(p)


@pytest.mark.parametrize("gz", [False, True], ids=["plain", "cc-gzip"])
def test_roundtrip_byte_identity(spark, tmp_path, gz):
    """webgen rows → WARC container → read_warc must reproduce url,
    warc_ts, the html bytes EXACTLY, lang, and the T2-extracted text
    (same kernel both sides — the input_hint per-row invariant)."""
    pages = _pages()
    path = _write(tmp_path, "rt.warc.gz" if gz else "rt.warc",
                  warc.write_warc_bytes(pages, gzip_per_record=gz))
    got = {r["url"]: r for r in warc.read_warc(spark, path).collect()}
    assert len(got) == len(pages)
    for p in pages:
        r = got[p["url"]]
        assert bytes(r["html"]) == bytes(p["html"])
        assert r["warc_ts"] == p["warc_ts"]
        assert r["lang"] == p["lang"]
        assert r["text"] == p["text"]


def test_extract_text_false_defers_extraction(spark, tmp_path):
    pages = _pages(3)
    path = _write(tmp_path, "d.warc", warc.write_warc_bytes(pages, gzip_per_record=False))
    rows = warc.read_warc(spark, path, extract_text=False).collect()
    assert all(r["text"] is None for r in rows)
    assert all(bytes(r["html"]) for r in rows)


def test_non_page_records_are_skipped():
    """warcinfo / request / metadata records are infrastructure, not pages
    (the reference keeps only fetched page content, crawler.py:266-290)."""
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], bytes(page["html"]))
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:x:1>\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 9\r\n\r\nabc: def\n\r\n\r\n")
    req = (b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Record-ID: <urn:x:2>\r\n"
           b"WARC-Date: 2026-01-01T00:00:00Z\r\nWARC-Target-URI: http://a/\r\n"
           b"Content-Length: 18\r\n\r\nGET / HTTP/1.1\r\n\r\n\r\n\r\n")
    pdf = warc.parse_warc_pages(info + req + rec)
    assert list(pdf["url"]) == [page["url"]]


def test_resource_record_without_http_envelope():
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(
        page["url"], page["warc_ts"], bytes(page["html"]), http_envelope=False
    )
    pdf = warc.parse_warc_pages(rec)
    assert bytes(pdf["html"][0]) == bytes(page["html"])


def test_single_member_gzip_of_whole_container():
    """A single gzip member holding MANY records (legal, non-CC layout)
    must parse identically — exercises the cross-member drain buffer."""
    pages = _pages(5)
    plain = warc.write_warc_bytes(pages, gzip_per_record=False)
    pdf = warc.parse_warc_pages(gzip.compress(plain, mtime=0))
    assert list(pdf["url"]) == [p["url"] for p in pages]


def test_record_split_across_gzip_members():
    """A member boundary in the MIDDLE of a record (nothing in ISO 28500
    forbids it): the pending buffer must carry the partial record into the
    next member and complete it."""
    pages = _pages(3)
    plain = warc.write_warc_bytes(pages, gzip_per_record=False)
    cut = len(plain) // 2
    data = gzip.compress(plain[:cut], mtime=0) + gzip.compress(plain[cut:], mtime=0)
    pdf = warc.parse_warc_pages(data)
    assert list(pdf["url"]) == [p["url"] for p in pages]


def test_truncated_body_fails_loudly():
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], bytes(page["html"]))
    with pytest.raises(warc.WarcFormatError, match="truncated"):
        warc.parse_warc_pages(rec[: len(rec) // 2])


def test_truncated_gzip_tail_fails_loudly():
    pages = _pages(2)
    data = warc.write_warc_bytes(pages, gzip_per_record=True)
    with pytest.raises(warc.WarcFormatError, match="truncated|incomplete|corrupt"):
        warc.parse_warc_pages(data[:-20])


def test_bad_magic_fails_loudly():
    with pytest.raises(warc.WarcFormatError, match="version line"):
        warc.parse_warc_pages(b"NOT-A-WARC\r\n\r\nwhatever")


def test_missing_content_length_fails_loudly():
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
           b"WARC-Target-URI: http://a/\r\n\r\nbody\r\n\r\n")
    with pytest.raises(warc.WarcFormatError, match="Content-Length"):
        warc.parse_warc_pages(rec)


def test_multifile_read_is_shuffle_free(spark, tmp_path):
    """Directory of containers: one row per page across files, and the
    executed plan is a pure scan→parse map — no Exchange (at CC scale the
    grain is the ~1 GB file; a shuffle here would move the whole corpus)."""
    pages = _pages(8)
    _write(tmp_path, "a.warc.gz", warc.write_warc_bytes(pages[:4]))
    _write(tmp_path, "b.warc.gz", warc.write_warc_bytes(pages[4:]))
    df = warc.read_warc(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert sorted(r["url"] for r in df.collect()) == sorted(p["url"] for p in pages)


def test_warc_to_index_end_to_end(spark, tmp_path):
    """The full story: WARC container → input table → one-pass sharded
    compressed index → WAND query returns a planted page."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    pages = _pages(30)
    path = _write(tmp_path, "c.warc.gz", warc.write_warc_bytes(pages))
    df = warc.read_warc(spark, path)
    index = shards.build_and_write_sharded(
        spark, df, str(tmp_path / "idx"), n_shards=2
    )
    # query with a word from a known page's extracted text
    probe = [w for w in pages[7]["text"].split() if w.isalpha() and len(w) >= 6][0].lower()
    res = WandSearchEngine(spark, index).search_batch(
        [(0, probe)], top_k=5, with_metadata=False
    )
    assert res.count() >= 1


def test_cli_ingest_and_direct_build(spark, tmp_path):
    """CLI surface: `ingest-warc` materializes the pages table; `build
    --input-format warc` indexes straight from containers (the
    100 TB path that skips one full corpus write+read)."""
    from searchengine_spark import cli
    from searchengine_spark.operators import shards

    pages = _pages(20)
    seg = tmp_path / "segs"
    seg.mkdir()
    _write(seg, "s.warc.gz", warc.write_warc_bytes(pages))

    out = tmp_path / "pages_pq"
    assert cli.main(["ingest-warc", "--input", str(seg), "--out", str(out)]) == 0
    got = spark.read.parquet(str(out))
    assert got.count() == len(pages)
    assert got.columns == ["url", "warc_ts", "html", "text", "lang"]

    idx = tmp_path / "idx2"
    assert cli.main([
        "build", "--input", str(seg), "--input-format", "warc",
        "--shards", "2", "--out", str(idx),
    ]) == 0
    assert shards.read_sharded_index(spark, str(idx)).n_docs == len(pages)


def _response_record(url, ts, status_line, http_headers, payload):
    head = status_line + (b"\r\n" + http_headers if http_headers else b"")
    body = head + b"\r\n\r\n" + payload
    rid = b"<urn:t:1>"
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: " + rid
        + b"\r\nWARC-Date: " + ts + b"\r\nWARC-Target-URI: " + url
        + b"\r\nContent-Type: application/http; msgtype=response\r\n"
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )


def test_non_2xx_responses_are_skipped():
    """404/301/500 response records are fetch failures, not corpus pages
    (the reference keeps only successful fetches, crawler.py:266-290)."""
    ts = b"2026-01-01T00:00:00Z"
    recs = (
        _response_record(b"http://a/404", ts, b"HTTP/1.1 404 Not Found", b"", b"<p>no</p>")
        + _response_record(b"http://a/301", ts, b"HTTP/1.1 301 Moved", b"Location: /x", b"")
        + _response_record(b"http://a/ok", ts, b"HTTP/1.1 200 OK", b"", b"<p>yes</p>")
        + _response_record(b"http://a/500", ts, b"HTTP/1.1 500 Oops", b"", b"<p>err</p>")
    )
    pdf = warc.parse_warc_pages(recs)
    assert list(pdf["url"]) == ["http://a/ok"]
    assert bytes(pdf["html"][0]) == b"<p>yes</p>"


def test_chunked_transfer_encoding_is_decoded():
    """CC records preserve wire bytes: Transfer-Encoding chunked framing
    must be removed or the hex size lines corrupt html and T2 text."""
    ts = b"2026-01-01T00:00:00Z"
    wire = b"5\r\n<p>he\r\n8;ext=1\r\nllo</p>x\r\n0\r\ntrailer: t\r\n\r\n"
    rec = _response_record(
        b"http://a/c", ts, b"HTTP/1.1 200 OK", b"Transfer-Encoding: chunked", wire
    )
    pdf = warc.parse_warc_pages(rec)
    assert bytes(pdf["html"][0]) == b"<p>hello</p>x"


def test_chunked_bad_framing_fails_loudly():
    ts = b"2026-01-01T00:00:00Z"
    rec = _response_record(
        b"http://a/c", ts, b"HTTP/1.1 200 OK", b"Transfer-Encoding: chunked",
        b"ZZ\r\nbody\r\n0\r\n\r\n",
    )
    with pytest.raises(warc.WarcFormatError, match="chunk size"):
        warc.parse_warc_pages(rec)


def test_resource_body_starting_with_http_is_not_stripped():
    """Envelope stripping is keyed on the record Content-Type, not sniffed
    from body bytes: an archived text document ABOUT HTTP survives."""
    page = _pages(1)[0]
    doc = b"HTTP/1.1 is a protocol.\r\n\r\nIt has headers."
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], doc, http_envelope=False)
    pdf = warc.parse_warc_pages(rec)
    assert bytes(pdf["html"][0]) == doc


def test_naive_warc_date_is_utc_not_host_local():
    """An offset-less WARC-Date must parse as UTC on every host, never
    through the machine's local timezone."""
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], b"<p>x</p>")
    rec = rec.replace(
        page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
        b"2026-03-01T05:30:00",
    )
    pdf = warc.parse_warc_pages(rec)
    assert pdf["warc_ts"][0] == dt.datetime(2026, 3, 1, 5, 30, 0)


def test_bad_content_length_fails_loudly_with_offset():
    base = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            b"WARC-Target-URI: http://a/\r\nContent-Length: %b\r\n\r\nbody\r\n\r\n")
    with pytest.raises(warc.WarcFormatError, match="non-numeric Content-Length"):
        warc.parse_warc_pages(base % b"abc")
    with pytest.raises(warc.WarcFormatError, match="negative Content-Length"):
        warc.parse_warc_pages(base % b"-4")


def test_gzip_member_boundary_inside_magic_and_padding():
    """A member boundary may fall ANYWHERE — mid-magic ('WA|RC/1.0') and
    mid-padding ('\\r|\\n') must wait for the next member, not raise."""
    pages = _pages(3)
    plain = warc.write_warc_bytes(pages, gzip_per_record=False)
    second = plain.index(b"WARC/1.0", 1)
    for cut in (second + 2,          # inside the magic of record 2
                second - 3,          # inside the inter-record padding
                second - 1):
        data = gzip.compress(plain[:cut], mtime=0) + gzip.compress(plain[cut:], mtime=0)
        pdf = warc.parse_warc_pages(data)
        assert list(pdf["url"]) == [p["url"] for p in pages], f"cut={cut}"


def test_gzip_member_larger_than_chunk_size():
    """A single member whose COMPRESSED size exceeds _GZ_CHUNK drives the
    multi-piece inner loop (eof only after several pieces) — position
    accounting must stay exact. Incompressible payload forces it."""
    import hashlib

    blob = b"".join(
        hashlib.sha256(i.to_bytes(4, "big")).digest() for i in range(100_000)
    )  # 3.2 MB of incompressible bytes
    assert len(gzip.compress(blob)) > warc._GZ_CHUNK
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], blob, http_envelope=False)
    tail = warc.warc_record_bytes("http://t/2", page["warc_ts"], b"<p>t</p>",
                                  http_envelope=False)
    data = gzip.compress(rec, mtime=0) + gzip.compress(tail, mtime=0)
    pdf = warc.parse_warc_pages(data, extract_text=False)
    assert len(pdf) == 2
    assert bytes(pdf["html"][0]) == blob
    assert bytes(pdf["html"][1]) == b"<p>t</p>"


def test_empty_container_yields_no_rows():
    assert len(warc.parse_warc_pages(b"")) == 0


def test_bracketed_target_uri_strips_exactly_one_pair():
    ts = b"2026-01-01T00:00:00Z"
    rec = _response_record(b"<http://a/x>", ts, b"HTTP/1.1 200 OK", b"", b"<p>b</p>")
    rec2 = _response_record(b"http://a/y>", ts, b"HTTP/1.1 200 OK", b"", b"<p>b</p>")
    pdf = warc.parse_warc_pages(rec + rec2)
    assert list(pdf["url"]) == ["http://a/x", "http://a/y>"]


def test_no_text_ingest_reextracts_at_build(spark, tmp_path):
    """`ingest-warc --no-text` leaves text NULL; the index build must then
    fall back to T2 extraction per row instead of silently indexing ""
    (which would build a title/meta-only index with no error signal) —
    content-word queries over the built index must still hit."""
    from searchengine_spark import cli
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    pages = _pages(20)
    seg = tmp_path / "segs"
    seg.mkdir()
    _write(seg, "s.warc.gz", warc.write_warc_bytes(pages))
    out = tmp_path / "pages_nt"
    assert cli.main(["ingest-warc", "--input", str(seg), "--out", str(out),
                     "--no-text"]) == 0
    pq = spark.read.parquet(str(out))
    assert pq.filter("text IS NULL").count() == 20
    index = shards.build_and_write_sharded(spark, pq, str(tmp_path / "ntidx"), n_shards=2)
    # decisive check: the NULL-text build must equal a precomputed-text
    # build on avgdl (a ""-content build collapses to title/meta-only
    # doc lengths, an order of magnitude smaller)
    out2 = tmp_path / "pages_wt"
    assert cli.main(["ingest-warc", "--input", str(seg), "--out", str(out2)]) == 0
    index_wt = shards.build_and_write_sharded(
        spark, spark.read.parquet(str(out2)), str(tmp_path / "wtidx"), n_shards=2
    )
    assert index.n_docs == index_wt.n_docs == 20
    assert abs(index.avgdl - index_wt.avgdl) < 1e-9, (index.avgdl, index_wt.avgdl)
    res = WandSearchEngine(spark, index).search_batch(
        [(0, "make")], top_k=5, with_metadata=False
    )
    assert res.count() >= 0  # smoke: the index is queryable


def test_response_without_http_content_type_fails_loudly():
    """A response record MUST carry application/http (ISO 28500 §6.3.2) —
    passing its body through would index raw envelope bytes and bypass
    the 2xx filter."""
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
           b"WARC-Target-URI: http://a/\r\nContent-Type: text/html\r\n"
           b"Content-Length: 30\r\n\r\nHTTP/1.1 200 OK\r\n\r\n<p>body</p>\r\n\r\n")
    with pytest.raises(warc.WarcFormatError, match="without application/http"):
        warc.parse_warc_pages(rec)


def test_unparseable_warc_date_raises_format_error():
    """Date errors must surface as WarcFormatError (the documented
    malformed-container signal), not a bare ValueError."""
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], b"<p>x</p>")
    rec = rec.replace(
        page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode(), b"not-a-date--"
    )
    with pytest.raises(warc.WarcFormatError, match="unparseable WARC-Date"):
        warc.parse_warc_pages(rec)


def test_wet_roundtrip_and_mixed_container(spark, tmp_path):
    """WET (`conversion` records): text survives byte-identically with
    html NULL; a container mixing WARC response and WET conversion
    records surfaces both."""
    pages = _pages(6)
    wet = warc.write_wet_bytes(pages[:3], gzip_per_record=True)
    mixed = wet + warc.write_warc_bytes(pages[3:], gzip_per_record=True)
    path = _write(tmp_path, "m.warc.gz", mixed)
    got = {r["url"]: r for r in warc.read_warc(spark, path).collect()}
    assert len(got) == 6
    for p in pages[:3]:
        r = got[p["url"]]
        assert r["html"] is None
        assert r["text"] == p["text"]
        assert r["lang"] == p["lang"]
    for p in pages[3:]:
        assert bytes(got[p["url"]]["html"]) == bytes(p["html"])


def test_wet_to_index_end_to_end(spark, tmp_path):
    """WET text feeds the index build's precomputed-text path directly —
    no extraction pass, same queries."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.wand import WandSearchEngine

    pages = _pages(30)
    path = _write(tmp_path, "w.wet.gz", warc.write_wet_bytes(pages))
    df = warc.read_warc(spark, path)
    index = shards.build_and_write_sharded(spark, df, str(tmp_path / "wetidx"), n_shards=2)
    assert index.n_docs == len(pages)
    probe = [w for w in pages[11]["text"].split() if w.isalpha() and len(w) >= 6][0].lower()
    res = WandSearchEngine(spark, index).search_batch(
        [(0, probe)], top_k=5, with_metadata=False
    )
    assert res.count() >= 1


def test_header_injection_rejected():
    page = _pages(1)[0]
    with pytest.raises(ValueError, match="header injection"):
        warc.warc_record_bytes("http://a/\r\nWARC-Type: evil", page["warc_ts"], b"x")
    with pytest.raises(ValueError, match="header injection"):
        warc.warc_record_bytes("http://a/", page["warc_ts"], b"x", lang="en\nX: y")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

# payloads engineered to look like framing: record separators, a WARC
# magic line, a gzip magic, raw CRLFs — Content-Length framing must make
# every one of them inert inside a body
_ADVERSARIAL = [
    b"\r\n\r\n", b"WARC/1.0\r\nWARC-Type: response\r\n\r\n", b"\x1f\x8b\x08",
    b"HTTP/1.1 200 OK\r\n\r\n", b"", b"\x00" * 64,
]


@pytest.mark.skipif(not _HAS_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=150, deadline=None)
@given(
    bodies=st.lists(
        st.one_of(st.binary(max_size=400), st.sampled_from(_ADVERSARIAL)),
        min_size=1, max_size=6,
    ),
    gz=st.booleans(),
    envelope=st.booleans(),
)
def test_roundtrip_arbitrary_payloads(bodies, gz, envelope):
    """Property: ANY byte payload survives write→parse byte-identically,
    plain or CC-gzip, with or without the HTTP envelope — envelope
    stripping is keyed on the record's Content-Type, so a resource body
    that starts with b'HTTP/' is NOT mistaken for an enveloped message."""
    ts = dt.datetime(2026, 1, 2, 3, 4, 5)
    pages = [
        {"url": f"http://h/{i}", "warc_ts": ts, "html": b, "lang": None}
        for i, b in enumerate(bodies)
    ]
    recs = b"".join(
        warc.warc_record_bytes(p["url"], p["warc_ts"], p["html"], http_envelope=envelope)
        for p in pages
    )
    if gz:
        recs = gzip.compress(recs, mtime=0)
    pdf = warc.parse_warc_pages(recs, extract_text=False)
    assert list(pdf["url"]) == [p["url"] for p in pages]
    for got, p in zip(pdf["html"], pages):
        assert bytes(got) == p["html"]


def test_warc_date_timezone_offset_normalized():
    """WARC-Date with an explicit non-Z offset normalizes to UTC."""
    page = _pages(1)[0]
    rec = warc.warc_record_bytes(page["url"], page["warc_ts"], b"<p>x</p>")
    rec = rec.replace(
        page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
        b"2026-03-01T05:30:00+05:30",
    )
    pdf = warc.parse_warc_pages(rec)
    assert pdf["warc_ts"][0] == dt.datetime(2026, 3, 1, 0, 0, 0)
