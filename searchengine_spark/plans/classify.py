"""Page classification + crawl-side predicates as Catalyst expressions.

Spark re-expression of the reference's rule-based "is personal blog"
classifier (classifier.py:41-196) and the crawler's URL predicates
(crawler.py:131-157), SURVEY.md §2.2 F4/F6-F9/F11 and §2.4 A7. Everything
except header/footer HTML extraction (F7, needs the tag-subtree parser) is
a native column expression — `when`/`rlike`/`contains` chains that stay in
whole-stage codegen; F7 rides the same Arrow UDF machinery as the content
extractor.

The reference classifies page-at-a-time dicts; here classification is a
`withColumn` enrichment over the whole corpus, so the F10 "index only
personal blogs" filter (indexer.py:191-194) becomes a pushable predicate.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.functions import textproc

# classifier.py:42-54 — domain patterns that indicate a personal blog
PERSONAL_DOMAIN_PATTERNS = [
    r"\.substack\.com$", r"\.medium\.com$", r"\.wordpress\.com$",
    r"\.blogspot\.com$", r"\.tumblr\.com$", r"\.ghost\.io$", r"\.github\.io$",
    r"\.netlify\.app$", r"\.vercel\.app$", r"blog\.", r"\.blog$",
]
# classifier.py:57-69 — domain patterns that indicate NOT a personal blog
NON_PERSONAL_DOMAIN_PATTERNS = [
    r"\.gov$", r"\.edu$", r"news\.", r"\.com/news", r"wikipedia\.org$",
    r"amazon\.com$", r"facebook\.com$", r"twitter\.com$", r"instagram\.com$",
    r"linkedin\.com$", r"youtube\.com$",
]
# classifier.py:72-81 — content patterns suggesting a personal blog
PERSONAL_CONTENT_PATTERNS = [
    r"my (thoughts|journey|experience|story)", r"i (believe|think|feel)",
    r"about me", r"my blog", r"written by", r"author", r"personal", r"opinion",
]
# crawler.py (config article_path_patterns) + crawler.py:146-155 date regexes
ARTICLE_PATH_PATTERNS = [
    "/blog/", "/article/", "/post/", "/posts/", "/entry/", "/entries/",
    "/story/", "/stories/",
]
DATE_PATH_PATTERNS = [r"/\d{4}/\d{2}/\d{2}/", r"/\d{4}/\d{1,2}/", r"/\d{4}/"]
# app.py:136 — result-domain exclusion set
EXCLUDED_DOMAINS = [
    "open.spotify.com", "spotify.com", "podcasts.apple.com", "podcasts.google.com",
]

THRESHOLD_HEADER = 0.8  # utils/config.py:72


def netloc_col(url: Column) -> Column:
    """lower(urlparse(url).netloc) (classifier.py:90) as a native regexp."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))


def content_type_keep_col(content_type: Column) -> Column:
    """F3 (crawler.py:268-274, query_crawler.py:152-153): keep a response
    iff ``'text/html' in content_type.lower()`` — the exact reference
    predicate, so ``text/html; charset=utf-8`` passes and
    ``application/pdf`` / ``image/png`` drop."""
    return F.lower(content_type).contains("text/html")


# Header-less stand-in for F3: the first bytes a MIME sniffer would accept
# as HTML — an HTML doctype or a recognizable top-level/section tag (the
# WHATWG sniffing set), case-insensitive, after optional whitespace/BOM.
_HTML_SNIFF_RE = (
    r"(?i)^[\s﻿]*<(?:!doctype\s+html|html|head|body|script|iframe"
    r"|h1|div|font|table|a|style|title|b|br|p|!--)[\s>]"
)


def sniff_html_col(html: Column) -> Column:
    """F3 without a Content-Type header: sniff the leading bytes of the
    payload. The input table per ``input_hint`` (url, warc_ts, html, text,
    lang) carries no response headers, so when ``content_type`` is absent
    the filter falls back to payload sniffing — one-sided toward keeping
    (any recognizable HTML opening passes), mirroring how WARC re-processors
    recover the header the archive dropped. Native regexp: stays in
    whole-stage codegen, no UDF."""
    head = F.substring(html.cast("string"), 1, 1024)
    return head.rlike(_HTML_SNIFF_RE)


def filter_html_pages(pages: DataFrame) -> DataFrame:
    """F3 filter over a page frame: exact reference predicate when the
    frame carries ``content_type``; payload sniffing otherwise."""
    if "content_type" in pages.columns:
        return pages.filter(content_type_keep_col(F.col("content_type")))
    return pages.filter(sniff_html_col(F.col("html")))


def path_col(url: Column) -> Column:
    """lower(urlparse(url).path) (crawler.py:138) as a native regexp."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1))


def _any_rlike(col: Column, patterns: list[str]) -> Column:
    out = F.lit(False)
    for p in patterns:
        out = out | col.rlike(p)
    return out


def is_article_url_col(url: Column) -> Column:
    """F4 (crawler.py:131-157): article path substrings OR date path regex."""
    p = path_col(url)
    hit = F.lit(False)
    for pat in ARTICLE_PATH_PATTERNS:
        hit = hit | p.contains(pat)
    return hit | _any_rlike(p, DATE_PATH_PATTERNS)


def domain_class_col(url: Column) -> Column:
    """F6 (classifier.py:83-100): True / False / NULL (uncertain). Personal
    patterns win over non-personal, mirroring the reference's check order."""
    d = netloc_col(url)
    return (
        F.when(_any_rlike(d, PERSONAL_DOMAIN_PATTERNS), F.lit(True))
        .when(_any_rlike(d, NON_PERSONAL_DOMAIN_PATTERNS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def content_confidence_col(text: Column) -> Column:
    """F8 (classifier.py:126-142): confidence = min(0.5 + 0.1·matches, 0.9)
    over the 8 personal-content regexes (lowercased match)."""
    lowered = F.lower(text)
    matches = sum(
        (lowered.rlike(p)).cast("int") for p in PERSONAL_CONTENT_PATTERNS
    )
    return F.least(F.lit(0.5) + F.lit(0.1) * matches, F.lit(0.9))


def excluded_domain_col(url: Column) -> Column:
    """F11 (app.py:136-154): url contains any excluded domain (substring
    on the lowercased url, exactly as the reference tests)."""
    lowered = F.lower(url)
    hit = F.lit(False)
    for d in EXCLUDED_DOMAINS:
        hit = hit | lowered.contains(d)
    return hit


# --- F7: header/footer text (HTML subtree extraction → Arrow UDF) ---
_RE_HEADER_NAV = re.compile(
    r"<(header|nav)\b[^>]*>(.*?)</\1\s*>", re.IGNORECASE | re.DOTALL
)
_RE_FOOTER = re.compile(r"<footer\b[^>]*>(.*?)</footer\s*>", re.IGNORECASE | re.DOTALL)


def header_footer_text(html: str) -> str:
    """classifier.py:102-124: concatenated get_text() of header/nav tags
    then footer tags, whitespace-collapsed (header+' '+footer, stripped)."""
    header = " ".join(
        textproc.clean_text(m.group(2)) for m in _RE_HEADER_NAV.finditer(html)
    )
    footer = " ".join(
        textproc.clean_text(m.group(1)) for m in _RE_FOOTER.finditer(html)
    )
    combined = (header + " " + footer).strip()
    return re.sub(r"\s+", " ", combined)


def content_confidence_py(text: str) -> float:
    """Pure-Python twin of content_confidence_col (used inside the F9 UDF
    for the header/footer branch and by the test oracle)."""
    lowered = text.lower()
    matches = sum(1 for p in PERSONAL_CONTENT_PATTERNS if re.search(p, lowered))
    return min(0.5 + 0.1 * matches, 0.9)


_CLASSIFY_SCHEMA = (
    "url string, is_personal_blog boolean, confidence double, method string"
)


def classify_pages(pages: DataFrame) -> DataFrame:
    """F9 (classifier.py:144-196): hierarchical domain → header/footer →
    content classification. Domain step is a pure column expression;
    the header/content steps need extracted text, so they run in the same
    Arrow pass as extraction. Output: one row per page with the reference's
    (is_personal_blog, confidence, method) triple."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html_b in zip(pdf["url"], pdf["html"]):
                html = (
                    html_b.decode("utf-8", errors="replace")
                    if isinstance(html_b, (bytes, bytearray))
                    else (html_b or "")
                )
                rows.append(_classify_one(url, html))
            yield pd.DataFrame(
                rows, columns=["url", "is_personal_blog", "confidence", "method"]
            )

    return pages.mapInPandas(run, _CLASSIFY_SCHEMA)


def _domain_class_py(url: str):
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", url)
    domain = (m.group(1) if m else "").lower()
    for p in PERSONAL_DOMAIN_PATTERNS:
        if re.search(p, domain):
            return True
    for p in NON_PERSONAL_DOMAIN_PATTERNS:
        if re.search(p, domain):
            return False
    return None


def _classify_one(url: str, html: str):
    """Single-page hierarchical classification (classifier.py:144-196);
    shared by the Arrow UDF and the test oracle so semantics cannot drift."""
    domain_result = _domain_class_py(url)
    if domain_result is not None:
        return (url, domain_result, 0.9, "domain_pattern")
    hf = header_footer_text(html)
    if hf:
        conf = content_confidence_py(hf)
        if conf > THRESHOLD_HEADER:
            return (url, conf >= 0.6, conf, "header_footer")
    title = textproc.extract_title_from_html(html)
    meta = textproc.extract_meta_description(html)
    content = textproc.extract_text_from_html(html)[:2000]
    conf = content_confidence_py(f"{title} {meta} {content}")
    if conf < 0.6:
        return (url, True, 0.65, "content")
    return (url, conf >= 0.6, conf, "content")


# --- F5: link extraction (crawler.py:159-191) ---
_RE_HREF = re.compile(r"""<a\b[^>]*\bhref\s*=\s*("([^"]*)"|'([^']*)')""", re.IGNORECASE)


def _resolve_href(base_url: str, href: str) -> str | None:
    """href → absolute http(s) url, fragment dropped, query kept
    (crawler.py:159-191 semantics via urljoin/urlparse — the same stdlib
    calls the reference makes); None for non-web / unparseable targets."""
    from urllib.parse import urljoin, urlparse

    try:
        p = urlparse(urljoin(base_url, href))
    except Exception:
        return None
    if p.scheme not in ("http", "https") or not p.netloc:
        return None
    clean = f"{p.scheme}://{p.netloc}{p.path}"
    if p.query:
        clean += f"?{p.query}"
    return clean


def extract_links(url: str, html: str) -> list[str]:
    """All <a href> targets resolved against the page url, http(s)-only,
    fragments dropped, query strings kept."""
    links = []
    for m in _RE_HREF.finditer(html):
        href = m.group(2) if m.group(2) is not None else m.group(3)
        full = _resolve_href(url, href)
        if full is not None:
            links.append(full)
    return links


def outlinks(pages: DataFrame) -> DataFrame:
    """F5 as a dataflow: one row per (src_url, out_url) — an Arrow pass
    producing the link array, exploded JVM-side. The crawl frontier's
    'expand then dedup against visited' (crawler.py:320-325 + F1/F2) maps
    to this followed by a left-anti join against the processed-urls table."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for u, h in zip(pdf["url"], pdf["html"]):
                html = (
                    h.decode("utf-8", errors="replace")
                    if isinstance(h, (bytes, bytearray))
                    else (h or "")
                )
                outs.append(extract_links(u, html))
            yield pd.DataFrame({"url": pdf["url"], "links": outs})

    linked = pages.mapInPandas(run, "url string, links array<string>")
    return linked.select(
        F.col("url").alias("src_url"), F.explode("links").alias("out_url")
    )


# anchor text: the inner text of a complete, well-formed <a ...>...</a>
# element (non-greedy to the nearest close tag). Anchor text is a
# best-effort SIGNAL extractor, never a parser of record (T2 extraction is
# the byte-pinned parser; this is deliberately lighter, like production
# anchor harvesters), so it knowingly differs from extract_links on two
# kinds of pathological markup: an unclosed <a> yields no anchor for that
# link, and nested or overlapping anchors pair the first open tag with the
# nearest close tag, so the inner link is swallowed into the outer text.
_RE_ANCHOR = re.compile(
    r"""<a\b[^>]*\bhref\s*=\s*("([^"]*)"|'([^']*)')[^>]*>(.*?)</a\s*>""",
    re.IGNORECASE | re.DOTALL,
)
_RE_INNER_TAG = re.compile(r"<[^>]+>")


def extract_anchor_texts(url: str, html: str) -> list[tuple[str, str]]:
    """(target_url, anchor_text) per well-formed <a href> element: target
    resolved exactly like :func:`extract_links`; anchor text is the inner
    fragment with tags stripped, entities unescaped, whitespace collapsed.
    Empty anchors (image links, spacer anchors) are kept with text '' so
    callers can still count the in-link."""
    import html as html_mod

    out = []
    for m in _RE_ANCHOR.finditer(html):
        href = m.group(2) if m.group(2) is not None else m.group(3)
        full = _resolve_href(url, href)
        if full is None:
            continue
        inner = _RE_INNER_TAG.sub(" ", m.group(4))
        text = " ".join(html_mod.unescape(inner).split())
        out.append((full, text))
    return out


def anchor_term_counts(
    pages: DataFrame, stopwords: frozenset[str] | None = None
) -> DataFrame:
    """Anchor-text aggregation — the second classic link-graph signal next
    to :func:`searchengine_spark.plans.graph.pagerank`: the terms OTHER
    pages use when linking to a target describe the target better than its
    own boilerplate (the reason web engines index anchor text as a field).
    Returns ``(dst_url, term, n_occurrences, n_anchors)`` where ``term``
    runs through the engine's own normalization (tokenize → stopword
    filter → Porter stem, the T6 kernel — so anchor terms join directly
    against index/query terms) and ``n_anchors`` counts the distinct
    anchor ELEMENTS that contained the term at least once.

    Scale shape: one Arrow extraction pass (map-only, the same shape as
    ``outlinks``), JVM-side explode, then ONE hash agg keyed on
    ``(dst_url, term)``. A head page with 10⁹ in-links lands on the
    AGGREGATION key, where map-side partial agg absorbs it — there is no
    join anywhere, and nothing pairwise."""
    from searchengine_spark.operators.index_build import DEFAULT_STOPWORDS

    stop = DEFAULT_STOPWORDS if stopwords is None else stopwords

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        aid = 0  # task-scoped: stays unique across ALL batches of the task
        for pdf in batches:
            dsts: list[str] = []
            terms: list[list[str]] = []
            anchor_ids: list[int] = []
            for u, h in zip(pdf["url"], pdf["html"]):
                html = (
                    h.decode("utf-8", errors="replace")
                    if isinstance(h, (bytes, bytearray))
                    else (h or "")
                )
                for dst, text in extract_anchor_texts(u, html):
                    dsts.append(dst)
                    terms.append(textproc.tokenize_filtered(text, stop))
                    anchor_ids.append(aid)
                    aid += 1
            yield pd.DataFrame(
                {"dst_url": dsts, "terms": terms, "_aid": anchor_ids}
            )

    # _aid is unique only within a task; pair it with the Spark partition
    # id so distinct-anchor counting stays exact across the whole corpus
    exploded = (
        pages.mapInPandas(
            run, "dst_url string, terms array<string>, _aid long"
        )
        .withColumn(
            "_gaid",
            F.spark_partition_id().cast("long") * F.lit(2**40) + F.col("_aid"),
        )
        .select("dst_url", "_gaid", F.explode("terms").alias("term"))
    )
    return exploded.groupBy("dst_url", "term").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("_gaid").cast("long").alias("n_anchors"),
    )


def crawl_frontier(pages: DataFrame, visited: DataFrame) -> DataFrame:
    """F1/F2 re-expression: next-depth frontier = distinct outlinks minus
    already-visited urls (left-anti join — the distributed visited-set)."""
    return (
        outlinks(pages)
        .select(F.col("out_url").alias("url"))
        .distinct()
        .join(visited.select("url"), "url", "left_anti")
    )


def classify_summary(pages: DataFrame) -> DataFrame:
    """A8 (classifier.py:248-257): totals by classification outcome —
    ``groupBy(is_personal_blog).count()`` over the classified frame."""
    return (
        classify_pages(pages)
        .groupBy("is_personal_blog")
        .agg(F.count("*").alias("n_pages"))
    )


def domain_stats(pages: DataFrame, top_n: int = 10) -> DataFrame:
    """A7 (crawler.py:199-208, 309-311): pages-per-domain, top N. Domain
    here is T5's extract_domain (www-stripped), matching crawler reporting."""
    dom = F.regexp_extract("url", r"https?://(?:www\.)?([^/]+)", 1)
    return (
        pages.groupBy(dom.alias("domain"))
        .agg(F.count("*").alias("n_pages"))
        .orderBy(F.desc("n_pages"), F.asc("domain"))
        .limit(top_n)
    )
