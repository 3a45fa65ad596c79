"""Query-side BM25 scoring + boost chain + exact top-k.

Spark re-expression of ``SearchIndexer.search`` (indexer.py:280-342) and
``_calculate_bm25_scores`` (indexer.py:376-443), rank-identical to the
oracle with the deterministic tie-break (score desc, doc_id asc).

The core is **batched**: a whole query set is scored in ONE Spark plan
(``search_batch``), which is both the scale-correct design (the reference
query set is a batch; per-query jobs would serialize 21 scans) and what the
bench measures. A single query is a batch of one.

Physical plan we engineer for (verified via .explain in tests):

  * the union of all query terms → one IN-list filter on the postings —
    the distributed analog of the reference's dict lookup
    (indexer.py:384-394);
  * per-(query,term) idf/multiplicity/importance ride a **broadcast** join
    (no shuffle of the postings side beyond the agg);
  * one hash aggregation by (query_id, doc_id) with map-side partials
    produces candidate scores; candidates ≪ corpus, so the docs join for
    the boost chain is AQE-planned (shrinks to broadcast when small);
  * per-query max-normalization and top-k are window functions over the
    candidate set partitioned by query_id (tiny relative to corpus).

Query-string processing (expand/tokenize, indexer.py:288-309) runs
driver-side on the tiny query text — same pure functions as the UDFs.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from searchengine_spark.config import (
    B,
    DEFAULT_STOPWORDS,
    DESC_MATCH_BOOST,
    DESC_PHRASE_BOOST,
    K1,
    MIN_SCORE_THRESHOLD,
    ORIGINAL_TERM_IMPORTANCE,
    PROXIMITY_BOOST,
    SNIPPET_PHRASE_BOOST,
    TITLE_MATCH_BOOST,
    TITLE_PHRASE_BOOST,
)
from searchengine_spark.functions import textproc


def analyze_query(query: str, stopwords=DEFAULT_STOPWORDS):
    """Driver-side query analysis (indexer.py:285-309).

    Returns (term_multiplicity, original_tokens, original_query) or None
    for empty/fully-filtered queries. term_multiplicity preserves duplicate
    expanded-query tokens — the reference accumulates a term's score once
    per occurrence in the token list (indexer.py:384), so multiplicity is a
    score multiplier.
    """
    if not query or query.strip() == "":
        return None
    expanded = textproc.expand_query(query)
    original_query = query.lower().strip()
    query_tokens = textproc.tokenize(expanded)
    original_tokens = textproc.tokenize(query)
    filtered = textproc.filter_tokens(query_tokens, stopwords)
    if not filtered:
        return None
    return Counter(filtered), original_tokens, original_query


def paginate(results: list, page: int = 1, per_page: int = 10) -> dict:
    """Q11 (app.py:127-185): driver-side slice of collected top-k rows plus
    page metadata (ceil total pages, clamped page number) — pagination is a
    presentation concern over the already-tiny top-k, never a Spark job."""
    import math

    total = len(results)
    total_pages = max(1, math.ceil(total / per_page)) if per_page > 0 else 1
    page = max(1, min(page, total_pages))
    start = (page - 1) * per_page
    return {
        "results": list(results[start : start + per_page]),
        "page": page,
        "per_page": per_page,
        "total_results": total,
        "total_pages": total_pages,
    }


# the row contract of every ranked ``with_metadata=True`` result
RESULT_SCHEMA = (
    "query_id int, rank int, doc_id string, url string, title string, "
    "description string, content_snippet string, score double"
)
_RESULT_COLS = [f.split()[0] for f in RESULT_SCHEMA.split(", ")]


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-known rows as a Spark frame built through Arrow: the JVM reads
    one Arrow stream and plans a ``LocalTableScan``. A list of tuples would
    instead become an RDD of pickled rows over ``defaultParallelism``
    partitions that Python workers deserialize on every use — the whole
    cost of a one-query batch's tiny frames. Built as a pyarrow table, not
    a pandas frame, because PySpark routes an EMPTY pandas frame through
    that same RDD path."""
    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def finish_with_metadata(
    spark: SparkSession, rows: list[tuple], orig_tokens_by_qid: dict
) -> DataFrame:
    """The one query-relevant-snippet tail of every ranked result surface
    (indexer.py:344-374). ``rows`` are the ≤ k·|batch| winners with their
    doc metadata, in RESULT_SCHEMA column order, as the caller collected
    them in ONE probe job that runs no Python worker and no sort. The
    snippet is windowed around the first query-term hit here in the driver
    (``textproc.relevant_snippet``), and the rows come back ordered by
    (query_id, rank) as a :func:`local_frame` — so the caller's own
    ``collect`` starts no job at all."""
    return local_frame(
        spark,
        sorted(
            (
                (q, rank, doc_id, url, title, desc,
                 textproc.relevant_snippet(
                     content or "", orig_tokens_by_qid.get(q, [])
                 ),
                 score)
                for q, rank, doc_id, url, title, desc, content, score in rows
            ),
            key=lambda r: (r[0], r[1]),
        ),
        RESULT_SCHEMA,
    )


def attach_result_metadata(
    topk: DataFrame,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    stopwords=DEFAULT_STOPWORDS,
    exclude_domains: bool = False,
) -> DataFrame:
    """Metadata tail of the exhaustive BM25 engine and the hybrid combine:
    join the (tiny, ≤ k·|batch|-row) ``topk`` frame carrying (query_id,
    rank, doc_id, score) back to the docs dimension, optionally apply the
    F11 domain filter (app.py:136-154) after selection, collect, and finish
    in the driver (:func:`finish_with_metadata` — the tail WAND shares).
    EAGER: the ranking plan runs here, and the returned frame is local."""
    orig_tokens_by_qid = {
        qid: (analyze_query(text, stopwords) or (None, [], None))[1]
        for qid, text in queries
    }
    probe = topk.join(docs, "doc_id")
    if exclude_domains:
        from searchengine_spark.plans.classify import excluded_domain_col

        probe = probe.filter(~excluded_domain_col(F.col("url")))
    rows = probe.select(*_RESULT_COLS).collect()
    return finish_with_metadata(topk.sparkSession, rows, orig_tokens_by_qid)


def boost_chain_expr() -> Column:
    """The reference's multiplicative boost chain (indexer.py:405-441) as a
    single Catalyst expression over a frame carrying ``score``, the doc
    metadata columns (``title``, ``description``, ``content_snippet``) and
    the query metadata (``original_query``, ``orig_tokens``). Shared by the
    exhaustive engine and the WAND path's phase-2 re-rank."""
    lt, ld, lc = (
        F.lower("title"),
        F.lower("description"),
        F.lower("content_snippet"),
    )
    q = F.col("original_query")
    toks = F.col("orig_tokens")
    n_orig = F.size(toks)
    score = F.col("score")
    # Q3: exclusive phrase-presence chain (if/elif/elif)
    score = score * (
        F.when(lt.contains(q), F.lit(TITLE_PHRASE_BOOST))
        .when(ld.contains(q), F.lit(DESC_PHRASE_BOOST))
        .when(lc.contains(q), F.lit(SNIPPET_PHRASE_BOOST))
        .otherwise(F.lit(1.0))
    )
    # Q4: graduated field-match boosts (substring membership of each
    # original token; guarded by n_orig > 0 like indexer.py:426)
    title_pct = F.size(F.filter(toks, lambda t: lt.contains(t))).cast(
        "double"
    ) / n_orig.cast("double")
    desc_pct = F.size(F.filter(toks, lambda t: ld.contains(t))).cast(
        "double"
    ) / n_orig.cast("double")
    score = score * F.when(
        (n_orig > 0) & (title_pct > 0), F.lit(1.0) + title_pct * F.lit(TITLE_MATCH_BOOST)
    ).otherwise(F.lit(1.0))
    score = score * F.when(
        (n_orig > 0) & (desc_pct > 0), F.lit(1.0) + desc_pct * F.lit(DESC_MATCH_BOOST)
    ).otherwise(F.lit(1.0))
    # Q5: "proximity" boost — all original tokens ⊂ snippet
    score = score * F.when(
        (n_orig > 1) & F.forall(toks, lambda t: lc.contains(t)),
        F.lit(PROXIMITY_BOOST),
    ).otherwise(F.lit(1.0))
    return score


class BM25SearchEngine:
    """Holds the index tables + cached scalar stats; answers query batches."""

    # Below this doc count the docs dimension (truncated snippets → ~350 B/row
    # ⇒ ≤ ~70 MB) fits comfortably in a broadcast; the boost and metadata
    # joins then skip their shuffles (measured: -17% on the 21-query batch at
    # 120k docs). Above it the AQE-planned shuffle join is the scale-correct
    # plan — the cap is byte-derived, not a bare row count, so a forced
    # broadcast can never push hundreds of MB onto every executor.
    BROADCAST_DOCS_MAX = 200_000

    def __init__(self, spark: SparkSession, tables):
        self.spark = spark
        self.tables = tables
        row = tables.stats.collect()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self._docs = (
            F.broadcast(tables.docs)
            if self.n_docs <= self.BROADCAST_DOCS_MAX
            else tables.docs
        )

    # ------------------------------------------------------------------
    def _query_frames(self, queries: list[tuple[int, str]], stopwords):
        """Driver-side analysis of the (small) query batch → two broadcast
        frames: per-(query,term) weights and per-query boost metadata."""
        term_rows: list[tuple[int, str, float, float]] = []
        meta_rows: list[tuple[int, str, list[str]]] = []
        for qid, text in queries:
            analyzed = analyze_query(text, stopwords)
            if analyzed is None:
                continue
            term_mult, original_tokens, original_query = analyzed
            meta_rows.append((qid, original_query, original_tokens))
            for t, m in term_mult.items():
                imp = ORIGINAL_TERM_IMPORTANCE if t in original_tokens else 1.0
                term_rows.append((qid, t, float(m), imp))
        if not term_rows:
            return None, None, []
        qterms = local_frame(
            self.spark, term_rows,
            "query_id int, term string, mult double, importance double",
        )
        qmeta = local_frame(
            self.spark, meta_rows,
            "query_id int, original_query string, orig_tokens array<string>",
        )
        return qterms, qmeta, sorted({r[1] for r in term_rows})

    def score_batch(
        self, queries: list[tuple[int, str]], stopwords=DEFAULT_STOPWORDS
    ) -> DataFrame | None:
        """(query_id, doc_id, score) for all matching docs per query,
        max-normalized per query (pre-top-k, pre-threshold)."""
        qterms, qmeta, term_list = self._query_frames(queries, stopwords)
        if qterms is None:
            return None

        # term IN-list filter on the postings; broadcast join fans each
        # posting out to the queries containing its term.
        postings = self.tables.postings.filter(F.col("term").isin(term_list))
        # idf == 0 terms (in ≥ half the corpus) contribute 0 to every score
        # and cannot lift a doc past the post-normalize threshold — dropping
        # them is exact and prunes their whole posting scan out of the plan
        idf = (
            self.tables.term_stats.filter(F.col("term").isin(term_list))
            .filter(F.col("idf") > 0)
            .select("term", "idf")
        )
        weights = F.broadcast(qterms.join(idf, "term"))

        # BM25 per-term contribution (indexer.py:396-403)
        contrib = postings.join(weights, "term").select(
            "query_id",
            "doc_id",
            (
                F.col("idf")
                * F.col("mult")
                * F.col("importance")
                * (
                    (F.lit(K1 + 1.0) * F.col("tf"))
                    / (
                        F.lit(K1)
                        * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(self.avgdl))
                        + F.col("tf")
                    )
                )
            ).alias("contrib"),
        )
        scores = contrib.groupBy("query_id", "doc_id").agg(
            F.sum("contrib").alias("score")
        )

        # Boost chain (indexer.py:405-441) over candidate × doc metadata.
        boosted = scores.join(self._docs, "doc_id").join(
            F.broadcast(qmeta), "query_id"
        )
        boosted = boosted.select("query_id", "doc_id", boost_chain_expr().alias("score"))

        # Q6: per-query max-normalization (indexer.py:314-321)
        w = Window.partitionBy("query_id")
        return boosted.select(
            "query_id",
            "doc_id",
            F.when(
                F.max("score").over(w) > 0, F.col("score") / F.max("score").over(w)
            )
            .otherwise(F.col("score"))
            .alias("score"),
        )

    def search_batch(
        self,
        queries: list[tuple[int, str]],
        top_k: int = 20,
        stopwords=DEFAULT_STOPWORDS,
        with_metadata: bool = True,
        exclude_domains: bool = False,
    ) -> DataFrame | None:
        """Top-k per query (indexer.py:323-342): deterministic tie-break,
        top-k slice, relevance threshold, metadata + query-relevant snippet.

        ``exclude_domains=True`` applies the serving layer's F11 filter
        (app.py:136-154: drop podcast-platform urls) AFTER top-k selection,
        exactly where the reference front-end applies it."""
        scored = self.score_batch(queries, stopwords)
        if scored is None:
            return None
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") <= top_k) & (F.col("score") > MIN_SCORE_THRESHOLD))
        )
        if not with_metadata:
            return topk.select("query_id", "rank", "doc_id", "score")
        return attach_result_metadata(
            topk, self._docs, queries, stopwords, exclude_domains
        )

    def search(self, query: str, top_k: int = 20, stopwords=DEFAULT_STOPWORDS) -> DataFrame | None:
        """Single query = batch of one (same plan, same semantics)."""
        res = self.search_batch([(0, query)], top_k=top_k, stopwords=stopwords)
        return None if res is None else res.drop("query_id")
