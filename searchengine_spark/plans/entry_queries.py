"""Driver-contract queries over /root/testdata parquet (``__spark_entry__``).

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; the
matching SQL string in ``ORACLE_SQL`` computes the same result in DuckDB on
the same parquet (tables pre-registered as views). Column names and types
match pairwise; float-order-sensitive values are rounded on BOTH sides.

These use the **simple tokenizer** (lower → split on non-alphanumeric →
2..20 chars, minus the 40 reference stopwords — textproc.tokenize_simple),
which is exactly SQL-expressible; the full Porter-stemmed path is covered by
the pytest oracle (tests/test_index_spark.py) and exposed here as
rows-only-checked queries (no SQL equivalent of stemming).

The `documents` table (doc_id:int64, text, lang, source, n_chars) is a
text-only corpus: the reference's title/meta field boosts degenerate to
content-weight 1.0 (tf = plain token count), per FIXTURES.md §4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.config import DEFAULT_STOPWORDS, K1, B
from searchengine_spark.operators import gates
from searchengine_spark.plans import dedup

STOP = sorted(DEFAULT_STOPWORDS)
_STOP_IN = "(" + ", ".join(f"'{s}'" for s in STOP) + ")"

# fixed probe terms present in the testdata vocabulary. NOTE: the testdata
# corpus has a ~30-word vocabulary where almost every term occurs in >half
# the docs → the reference IDF clamp max(0, ln((N-n+0.5)/(n+0.5)))
# (indexer.py:388) zeroes them; 'dup' (df≈25/500) is the only discriminative
# term, so BM25 probe queries must include it to produce nonzero scores.
POSTING_TERMS = ["spark", "join", "hash", "vector", "window", "dup"]
BM25_QUERY_TERMS = ["dup", "fast", "join"]
_POSTING_IN = "(" + ", ".join(f"'{t}'" for t in POSTING_TERMS) + ")"
_BM25_IN = "(" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + ")"

# Shared DuckDB CTEs: simple tokenization (mirror of udfs.tokens_simple_col)
_TOKS_CTE = f"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> length(t) BETWEEN 2 AND 20 AND t NOT IN {_STOP_IN}) AS toks
  FROM documents
)"""
_TERMS_CTE = _TOKS_CTE + """,
terms AS (SELECT doc_id, unnest(toks) AS term FROM toks)"""


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from searchengine_spark.functions.udfs import tokens_simple_col

    return _documents(spark, sf_dir).select(
        "doc_id", tokens_simple_col(F.col("text")).alias("toks")
    )


def _terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _toks(spark, sf_dir).select("doc_id", F.explode("toks").alias("term"))


def _raw_tokens_col(text_col: str = "text"):
    """THE raw-token definition every text-pipeline operator shares:
    lowercased maximal [a-z0-9]+ runs. Single-sourced so 'what is a
    token' can never silently diverge between operators (it was copied
    5× before round 4's second review pass). NULL text tokenizes as the
    EMPTY array — a NULL doc is a zero-token doc, not a NULL-propagating
    one — and every SQL twin coalesces identically."""
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
        lambda t: F.length(t) >= 1,
    )


def _with_word_ngrams(d: DataFrame) -> DataFrame:
    """Add g2/g3 word-n-gram arrays to a frame carrying g1 (see
    _raw_tokens_col). CASE guards because sequence(1, 0) ramps DOWN in
    Spark rather than returning an empty array."""
    return d.withColumn(
        "g2",
        F.expr(
            "CASE WHEN size(g1) >= 2 THEN transform(sequence(0, size(g1)-2),"
            " i -> concat(g1[i], ' ', g1[i+1])) ELSE array() END"
        ),
    ).withColumn(
        "g3",
        F.expr(
            "CASE WHEN size(g1) >= 3 THEN transform(sequence(0, size(g1)-3),"
            " i -> concat(g1[i], ' ', g1[i+1], ' ', g1[i+2])) ELSE array() END"
        ),
    )


def _mode_count_expr(col: str):
    """Occurrence count of the most frequent element of array column
    ``col`` (NULL on the empty array, matching array_max's semantics):
    sort the array once, then the longest equal run in one aggregate
    fold — O(n log n) per row. The previous transform/array_distinct
    form was O(distinct × n) per row: a near-cap 100k-token page cost
    ~10^10 comparisons in ONE row, a single-task straggler on any real
    web corpus (round-4 verdict #1). Same value by construction (max
    multiplicity == longest run in sorted order), so every hash-pinned
    oracle row is unchanged; the DuckDB twins keep the naive form — it
    is value-identical and only ever runs at oracle scale (sf0.01).

    NULL elements are dropped BEFORE the fold: the naive form counts a
    NULL element as 0 (``y = NULL`` filters to empty) while a null-safe
    run comparison would count its run — today's callers build g1/g2/g3
    NULL-free, but the equality claim above must not depend on that (an
    all-NULL array therefore behaves like the empty array: NULL)."""
    return F.expr(
        f"nullif(aggregate(array_sort(filter({col}, x -> x IS NOT NULL)),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(a.prev <=> x, a.run + 1, 1),"
        "   'best', GREATEST(a.best, IF(a.prev <=> x, a.run + 1, 1))),"
        " a -> a.best), 0)"
    )


def _md5_bucket_expr(id_col: str = "doc_id"):
    """Deterministic per-mille bucket in [0, 1000): the engine-stable hash
    split shared by stratified sampling, decontamination's held-out
    benchmark slice, and the corpus_clean capstone — one definition, so
    the benchmark slice can never de-synchronize between the standalone
    and composed pipelines. SQL twin: _SQL_MD5_BUCKET."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000
    )


_SQL_MD5_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000"
)


# ---------------------------------------------------------------- A2/A5: doc stats
def q_doc_token_stats(spark, sf_dir) -> DataFrame:
    return _toks(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("doc_len")
    )


SQL_DOC_TOKEN_STATS = f"WITH {_TOKS_CTE} SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM toks"


def q_index_stats(spark, sf_dir) -> DataFrame:
    return _toks(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.size("toks").cast("double")), 6).alias("avgdl"),
    )


SQL_INDEX_STATS = (
    f"WITH {_TOKS_CTE} SELECT COUNT(*) AS n_docs, "
    "ROUND(AVG(CAST(len(toks) AS DOUBLE)), 6) AS avgdl FROM toks"
)


# ---------------------------------------------------------------- A4: document frequency
def q_term_df_top100(spark, sf_dir) -> DataFrame:
    return (
        _terms(spark, sf_dir)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_DF_TOP100 = f"""WITH {_TERMS_CTE}
SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
GROUP BY term ORDER BY df DESC, term ASC LIMIT 100"""


# ---------------------------------------------------------------- A3: postings
def q_postings_sample(spark, sf_dir) -> DataFrame:
    return (
        _terms(spark, sf_dir)
        .filter(F.col("term").isin(POSTING_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


SQL_POSTINGS_SAMPLE = f"""WITH {_TERMS_CTE}
SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM terms
WHERE term IN {_POSTING_IN} GROUP BY doc_id, term"""


# ---------------------------------------------------------------- A6: IDF
def q_term_idf(spark, sf_dir) -> DataFrame:
    docs = _documents(spark, sf_dir)
    n = docs.agg(F.count("*").alias("n_docs"))
    df = (
        _terms(spark, sf_dir)
        .filter(F.col("term").isin(POSTING_TERMS))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    return df.crossJoin(F.broadcast(n)).select(
        "term",
        "df",
        F.round(
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            ),
            6,
        ).alias("idf"),
    )


SQL_TERM_IDF = f"""WITH {_TERMS_CTE},
dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms
        WHERE term IN {_POSTING_IN} GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, df, ROUND(GREATEST(0.0, LN((n_docs - df + 0.5) / (df + 0.5))), 6) AS idf
FROM dfs, n"""


# ---------------------------------------------------------------- Q2/Q6/Q7: BM25 top-k
def q_bm25_topk(spark, sf_dir) -> DataFrame:
    docs = _documents(spark, sf_dir)
    toks = _toks(spark, sf_dir)
    n = docs.agg(F.count("*").alias("n_docs"))
    dl = toks.select("doc_id", F.size("toks").cast("double").alias("doc_len"))
    avgdl = dl.agg(F.avg("doc_len").alias("avgdl"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            ).alias("idf"),
        )
    )
    scores = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.lit(K1 + 1.0) * F.col("tf"))
                / (
                    F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.col("avgdl"))
                    + F.col("tf")
                )
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    mx = scores.agg(F.max("score").alias("mx"))
    return (
        scores.crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            F.when(F.col("mx") > 0, F.col("score") / F.col("mx")).alias("nscore"),
        )
        .filter(F.col("nscore") > 0.05)
        .withColumn("score", F.round("nscore", 6))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "score")
    )


SQL_BM25_TOPK = f"""WITH {_TOKS_CTE},
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doc_len FROM toks),
avgdl AS (SELECT AVG(doc_len) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       WHERE term IN {_BM25_IN} GROUP BY doc_id, term),
idf AS (SELECT term, GREATEST(0.0, LN((n_docs - df + 0.5) / (df + 0.5))) AS idf
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), n),
scores AS (SELECT tf.doc_id,
                  SUM(idf.idf * ({K1 + 1.0} * tf.tf)
                      / ({K1} * ({1.0 - B} + {B} * dl.doc_len / avgdl.avgdl) + tf.tf)) AS score
           FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), avgdl
           GROUP BY tf.doc_id)
SELECT doc_id, score FROM (
  SELECT doc_id,
         score / NULLIF((SELECT MAX(score) FROM scores), 0) AS nscore,
         ROUND(score / NULLIF((SELECT MAX(score) FROM scores), 0), 6) AS score
  FROM scores)
WHERE nscore > 0.05
ORDER BY score DESC, doc_id LIMIT 10"""


# ---------------------------------------------------------------- dedup: exact
def q_dedup_exact(spark, sf_dir) -> DataFrame:
    d = _documents(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5(F.col("text").cast("binary")))).alias(
            "n_dup_rows"
        ),
    )


SQL_DEDUP_EXACT = """SELECT COUNT(*) AS n_total,
COUNT(DISTINCT md5(text)) AS n_unique,
COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_rows FROM documents"""


# ---------------------------------------------------------------- dedup: minhash signatures
def q_minhash_signatures(spark, sf_dir) -> DataFrame:
    t = _terms(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("term")).cast("binary"))).alias(f"mh{i}")
        for i in range(4)
    ]
    return t.groupBy("doc_id").agg(*aggs)


SQL_MINHASH_SIGNATURES = f"""WITH {_TERMS_CTE}
SELECT doc_id,
  MIN(md5('0:' || term)) AS mh0, MIN(md5('1:' || term)) AS mh1,
  MIN(md5('2:' || term)) AS mh2, MIN(md5('3:' || term)) AS mh3
FROM terms GROUP BY doc_id"""


# ---------------------------------------------------------------- text analysis
def q_lang_dist(spark, sf_dir) -> DataFrame:
    return (
        _documents(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


SQL_LANG_DIST = """SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang"""


def q_quality_scores(spark, sf_dir) -> DataFrame:
    d = _documents(spark, sf_dir)
    stop = F.array(*[F.lit(s) for s in STOP])
    raw = _raw_tokens_col()
    n_tok = F.size(raw).cast("long")
    n_stop = F.size(F.filter(raw, lambda t: F.array_contains(stop, t))).cast("long")
    n_distinct = F.size(F.array_distinct(raw)).cast("long")
    denom = F.when(n_tok > 0, n_tok.cast("double"))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / denom, 6).alias("stopword_ratio"),
        F.round(n_distinct.cast("double") / denom, 6).alias("distinct_ratio"),
    )


SQL_QUALITY_SCORES = f"""WITH raw AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                             t -> length(t) >= 1) AS raw
  FROM documents)
SELECT doc_id,
  CAST(len(raw) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(raw, t -> t IN {_STOP_IN})) AS BIGINT) AS n_stopwords,
  ROUND(CAST(len(list_filter(raw, t -> t IN {_STOP_IN})) AS DOUBLE)
        / NULLIF(len(raw), 0), 6) AS stopword_ratio,
  ROUND(CAST(len(list_distinct(raw)) AS DOUBLE) / NULLIF(len(raw), 0), 6) AS distinct_ratio
FROM raw"""


STRATA_RATE_PER_MILLE = {"en": 500}  # default stratum rate below
STRATA_DEFAULT_RATE = 200


def q_stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic stratified sampling — the standard way a training-data
    pipeline draws a reproducible language mix from a web corpus: each doc
    hashes to a bucket in [0, 1000) via md5(doc_id) (stable across engines,
    runs, and cluster sizes — unlike rand() or TABLESAMPLE) and is kept iff
    bucket < its stratum's per-mille rate. The sample is therefore a pure
    per-row predicate: map-only, resumable, and consistent when the corpus
    is re-partitioned or incrementally extended. Returns the per-stratum
    audit (total vs sampled) the pipeline would log.
    """
    d = _documents(spark, sf_dir)
    bucket = _md5_bucket_expr()
    rate = F.when(
        F.col("lang") == "en", F.lit(STRATA_RATE_PER_MILLE["en"])
    ).otherwise(F.lit(STRATA_DEFAULT_RATE))
    return (
        d.withColumn("_keep", (bucket < rate).cast("int"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_keep").cast("long").alias("n_sampled"),
        )
    )


SQL_STRATIFIED_SAMPLE = f"""SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN
        {_SQL_MD5_BUCKET}
        < (CASE WHEN lang = 'en' THEN 500 ELSE 200 END)
      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents GROUP BY lang"""


def q_repetition_scores(spark, sf_dir) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the share
    of all n-gram occurrences taken by the doc's single most frequent
    n-gram, for n = 1, 2, 3. High shares flag boilerplate / template /
    keyword-stuffed pages that should be dropped from a training corpus.

    Scale design: every metric is computed WITHIN the row via higher-order
    array functions — the plan is map-only with zero shuffles, so it runs
    at parquet-scan speed on any corpus size. Per-row cost is O(n log n)
    (sorted longest-equal-run, _mode_count_expr), bounded by page length,
    not corpus size.
    """
    d = _documents(spark, sf_dir)
    raw = _raw_tokens_col()
    d = d.select("doc_id", raw.alias("g1"))
    # n-grams via index transforms; CASE guards because sequence(1, 0)
    # ramps DOWN in Spark rather than returning an empty array
    d = _with_word_ngrams(d)

    def share(col: str):
        mode = _mode_count_expr(col)
        denom = F.when(F.size(col) > 0, F.size(col).cast("double"))
        return F.round(mode.cast("double") / denom, 6)

    return d.select(
        "doc_id",
        F.size("g1").cast("long").alias("n_tokens"),
        share("g1").alias("top1_share"),
        share("g2").alias("top2_share"),
        share("g3").alias("top3_share"),
    )


SQL_REPETITION_SCORES = """WITH g AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                     t -> length(t) >= 1) AS g1
  FROM documents),
gg AS (
  SELECT doc_id, g1,
         list_transform(range(1, len(g1)), i -> g1[i] || ' ' || g1[i+1]) AS g2,
         list_transform(range(1, len(g1)-1),
                        i -> g1[i] || ' ' || g1[i+1] || ' ' || g1[i+2]) AS g3
  FROM g)
SELECT doc_id,
  CAST(len(g1) AS BIGINT) AS n_tokens,
  ROUND(CAST(list_max(list_transform(list_distinct(g1),
        x -> len(list_filter(g1, y -> y = x)))) AS DOUBLE)
        / NULLIF(len(g1), 0), 6) AS top1_share,
  ROUND(CAST(list_max(list_transform(list_distinct(g2),
        x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
        / NULLIF(len(g2), 0), 6) AS top2_share,
  ROUND(CAST(list_max(list_transform(list_distinct(g3),
        x -> len(list_filter(g3, y -> y = x)))) AS DOUBLE)
        / NULLIF(len(g3), 0), 6) AS top3_share
FROM gg"""


# ---------------------------------------------------------------- quality: composite filter
# Gopher-rule adaptation (Rae et al. 2021 §A1.1; thresholds theirs unless
# noted): a doc is KEPT iff it passes every rule. Per-rule fail flags are
# emitted so a pipeline can audit WHY mass was dropped — the operational
# requirement that separates a filter from a score.
QF_MIN_TOKENS = 50
QF_MAX_TOKENS = 100_000
QF_MIN_MEAN_WLEN = 3.0
QF_MAX_MEAN_WLEN = 10.0
QF_MIN_STOPWORD_RATIO = 0.05   # adapted: ratio form of Gopher's ">= 2 stopwords"
QF_MIN_ALPHA_RATIO = 0.8       # >= 80% of tokens contain an alphabetic char
QF_MAX_TOP2_SHARE = 0.20       # top 2-gram occupies <= 20% of 2-gram mass
QF_MAX_TOP3_SHARE = 0.18


def quality_flags(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Composite training-corpus quality FILTER: the keep/drop
    materialization of the quality story (as dedup_materialize is for
    near-dup). Input needs (doc_id, text); ``keep`` carries extra columns
    through (so pipeline compositions never need a corpus-sized join to
    reattach them). All signals are computed WITHIN the row via
    higher-order array functions — the plan is map-only with zero
    shuffles; per-row cost is O(n log n) for the top-share rules
    (sort + longest-equal-run, _mode_count_expr) and they are gated
    behind the word-count cap — a doc past QF_MAX_TOKENS is dropped by
    fail_word_count regardless, so its (arbitrarily long) n-gram arrays
    are never sorted and the top-share flags read 1 (rule not evaluated
    ≡ failed, the same convention zero-token docs follow). Per-row cost
    is therefore bounded by QF_MAX_TOKENS·log, never page length, never
    corpus size. Zero-token docs — including NULL text, which tokenizes
    as empty on BOTH engines (_raw_tokens_col) — fail every ratio rule
    by definition (dropped, flags = 1, never NULL)."""
    d = docs
    stop = F.array(*[F.lit(s) for s in STOP])
    raw = _raw_tokens_col()
    d = d.select("doc_id", *keep, raw.alias("g1"))
    d = _with_word_ngrams(d)
    n = F.size("g1").cast("long")
    mean_wlen = F.expr(
        "aggregate(g1, 0L, (a, t) -> a + length(t))"
    ).cast("double") / n.cast("double")
    stop_ratio = (
        F.size(F.filter("g1", lambda t: F.array_contains(stop, t))).cast("double")
        / n.cast("double")
    )
    alpha_ratio = (
        F.size(F.filter("g1", lambda t: t.rlike("[a-z]"))).cast("double")
        / n.cast("double")
    )

    def top_share(col: str):
        mode = _mode_count_expr(col)
        return mode.cast("double") / F.size(col).cast("double")

    def fail(cond, applicable=None):
        # zero-token (or n-gram-less) docs FAIL ratio rules, never NULL out
        c = F.when(cond, 1).otherwise(0)
        if applicable is not None:
            c = F.when(applicable, c).otherwise(F.lit(1))
        return c.cast("int")

    has_tok = n > 0
    f_wc = fail((n < QF_MIN_TOKENS) | (n > QF_MAX_TOKENS))
    f_wl = fail(
        (mean_wlen < QF_MIN_MEAN_WLEN) | (mean_wlen > QF_MAX_MEAN_WLEN), has_tok
    )
    f_sw = fail(stop_ratio < QF_MIN_STOPWORD_RATIO, has_tok)
    f_al = fail(alpha_ratio < QF_MIN_ALPHA_RATIO, has_tok)
    # top-share rules gated behind the word-count cap (see docstring):
    # the conditional evaluation is what bounds the per-row sort cost
    within_cap = n <= QF_MAX_TOKENS
    f_t2 = fail(
        top_share("g2") > QF_MAX_TOP2_SHARE, (F.size("g2") > 0) & within_cap
    )
    f_t3 = fail(
        top_share("g3") > QF_MAX_TOP3_SHARE, (F.size("g3") > 0) & within_cap
    )
    kept = (
        (f_wc + f_wl + f_sw + f_al + f_t2 + f_t3) == 0
    ).cast("int")
    return d.select(
        "doc_id",
        *keep,
        n.alias("n_tokens"),
        f_wc.alias("fail_word_count"),
        f_wl.alias("fail_mean_word_len"),
        f_sw.alias("fail_stopword"),
        f_al.alias("fail_alpha"),
        f_t2.alias("fail_top2gram"),
        f_t3.alias("fail_top3gram"),
        kept.alias("is_kept"),
    )


def q_quality_filter(spark, sf_dir) -> DataFrame:
    return quality_flags(_documents(spark, sf_dir))


SQL_QUALITY_FILTER = f"""WITH g AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                     t -> length(t) >= 1) AS g1
  FROM documents),
gg AS (
  SELECT doc_id, g1,
    CASE WHEN len(g1) >= 2 THEN list_transform(range(len(g1) - 1),
         i -> g1[i + 1] || ' ' || g1[i + 2]) ELSE [] END AS g2,
    CASE WHEN len(g1) >= 3 THEN list_transform(range(len(g1) - 2),
         i -> g1[i + 1] || ' ' || g1[i + 2] || ' ' || g1[i + 3]) ELSE [] END AS g3
  FROM g),
m AS (
  SELECT doc_id, len(g1) AS n,
    CAST(list_sum(list_transform(g1, t -> len(t))) AS DOUBLE)
      / NULLIF(len(g1), 0) AS mean_wlen,
    CAST(len(list_filter(g1, t -> t IN {{STOP_IN}})) AS DOUBLE)
      / NULLIF(len(g1), 0) AS stop_ratio,
    CAST(len(list_filter(g1, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
      / NULLIF(len(g1), 0) AS alpha_ratio,
    CAST(list_max(list_transform(list_distinct(g2),
         x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE)
      / NULLIF(len(g2), 0) AS top2,
    CAST(list_max(list_transform(list_distinct(g3),
         x -> len(list_filter(g3, y -> y = x)))) AS DOUBLE)
      / NULLIF(len(g3), 0) AS top3
  FROM gg),
f AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
    CASE WHEN n < {QF_MIN_TOKENS} OR n > {QF_MAX_TOKENS} THEN 1 ELSE 0 END
      AS fail_word_count,
    CASE WHEN n = 0 THEN 1 WHEN mean_wlen < {QF_MIN_MEAN_WLEN}
         OR mean_wlen > {QF_MAX_MEAN_WLEN} THEN 1 ELSE 0 END AS fail_mean_word_len,
    CASE WHEN n = 0 THEN 1 WHEN stop_ratio < {QF_MIN_STOPWORD_RATIO} THEN 1
         ELSE 0 END AS fail_stopword,
    CASE WHEN n = 0 THEN 1 WHEN alpha_ratio < {QF_MIN_ALPHA_RATIO} THEN 1
         ELSE 0 END AS fail_alpha,
    CASE WHEN len(g2) = 0 OR n > {QF_MAX_TOKENS} THEN 1
         WHEN top2 > {QF_MAX_TOP2_SHARE} THEN 1
         ELSE 0 END AS fail_top2gram,
    CASE WHEN len(g3) = 0 OR n > {QF_MAX_TOKENS} THEN 1
         WHEN top3 > {QF_MAX_TOP3_SHARE} THEN 1
         ELSE 0 END AS fail_top3gram
  FROM m JOIN gg USING (doc_id))
SELECT doc_id, n_tokens, fail_word_count, fail_mean_word_len, fail_stopword,
  fail_alpha, fail_top2gram, fail_top3gram,
  CAST(CASE WHEN fail_word_count + fail_mean_word_len + fail_stopword
       + fail_alpha + fail_top2gram + fail_top3gram = 0 THEN 1 ELSE 0 END
       AS INTEGER) AS is_kept
FROM f"""
SQL_QUALITY_FILTER = SQL_QUALITY_FILTER.replace("{STOP_IN}", _STOP_IN)


# ---------------------------------------------------------------- near-dup: n-gram jaccard
def q_jaccard_adjacent(spark, sf_dir) -> DataFrame:
    s = _toks(spark, sf_dir).select("doc_id", F.array_distinct("toks").alias("ts"))
    a = s.alias("a")
    b = s.select((F.col("doc_id") - 1).alias("doc_id"), F.col("ts").alias("ts_b")).alias("b")
    joined = a.join(b, "doc_id")
    inter = F.size(F.array_intersect("ts", "ts_b")).cast("double")
    union = F.size(F.array_union("ts", "ts_b"))
    return joined.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1).alias("doc_b"),
        F.round(inter / F.when(union > 0, union.cast("double")), 6).alias("jaccard"),
    )


SQL_JACCARD_ADJACENT = f"""WITH {_TOKS_CTE},
s AS (SELECT doc_id, list_distinct(toks) AS ts FROM toks)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  ROUND(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        / NULLIF(len(list_distinct(list_concat(a.ts, b.ts))), 0), 6) AS jaccard
FROM s a JOIN s b ON b.doc_id = a.doc_id + 1"""


# ---------------------------------------------------------------- similarity: cosine top-k
def q_embedding_topk(spark, sf_dir) -> DataFrame:
    """Exact brute-force baseline via the ANN engine API (plans/ann.py)."""
    from searchengine_spark.plans import ann

    return ann.cosine_topk(
        _embeddings(spark, sf_dir), query=0, k=10, exclude_query_id=0
    ).select("vec_id", F.round("sim", 5).alias("sim"))


SQL_EMBEDDING_TOPK = """WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(sim, 5) AS sim FROM (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM embeddings e, q WHERE e.vec_id <> 0)
ORDER BY sim DESC, vec_id LIMIT 10"""


# ---------------------------------------------------------------- fingerprint (rolling hash)
def q_doc_fingerprint(spark, sf_dir) -> DataFrame:
    # polynomial rolling hash over the token stream, mod 2^31-1 (deterministic,
    # order-sensitive document fingerprint)
    t = _toks(spark, sf_dir)
    fp = F.aggregate(
        F.col("toks"),
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * 31 + F.length(tok).cast("long")) % 2147483647,
    )
    return t.select("doc_id", fp.alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""WITH {_TOKS_CTE}
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(length(t) AS BIGINT) for t in toks]),
              (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
FROM toks"""


# ---------------------------------------------------------------- dedup: MinHash LSH band pairs
def q_minhash_lsh_pairs(spark, sf_dir) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: 4 minhash signatures → 4 bands of
    1 → band-bucket self-join (dedup.banded_candidate_pairs) → candidate
    pairs with band-agreement count. The join is on (band, hash) — at scale
    the bucket re-partitioning IS the shuffle; no pairwise O(n²) scan."""
    sigs = q_minhash_signatures(spark, sf_dir)
    return dedup.banded_candidate_pairs(
        sigs, "doc_id", [f"mh{i}" for i in range(4)], ("doc_a", "doc_b")
    )


SQL_MINHASH_LSH_PAIRS = f"""WITH {_TERMS_CTE},
sigs AS (SELECT doc_id,
  MIN(md5('0:' || term)) AS mh0, MIN(md5('1:' || term)) AS mh1,
  MIN(md5('2:' || term)) AS mh2, MIN(md5('3:' || term)) AS mh3
  FROM terms GROUP BY doc_id),
bands AS (
  SELECT doc_id, band,
         CASE band WHEN 0 THEN mh0 WHEN 1 THEN mh1 WHEN 2 THEN mh2 ELSE mh3 END AS h
  FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3]) AS band))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(DISTINCT a.band) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2"""


def q_minhash_jaccard_verified(spark, sf_dir) -> DataFrame:
    """The full two-stage near-dup pipeline over ``documents``: MinHash-LSH
    candidate pairs (q_minhash_lsh_pairs — bucket join, never pairwise) →
    exact term-set Jaccard verification (dedup.jaccard_verify_pairs)."""
    t = _terms(spark, sf_dir)
    term_sets = t.groupBy("doc_id").agg(
        F.array_distinct(F.collect_list("term")).alias("terms")
    )
    return dedup.jaccard_verify_pairs(q_minhash_lsh_pairs(spark, sf_dir), term_sets)


# the candidate stage is the LSH oracle itself, embedded as a subquery —
# never a copy: a change to the banding updates BOTH twins or neither
SQL_MINHASH_JACCARD_VERIFIED = f"""WITH {_TERMS_CTE},
cand AS (SELECT * FROM ({{SQL_MINHASH_LSH_PAIRS}})),
tsets AS (SELECT doc_id, list_distinct(list(term)) AS ts FROM terms GROUP BY doc_id),
scored AS (
  -- LEFT JOIN + error() on NULL mirrors jaccard_verify_pairs' fail-loud
  -- contract: a candidate pair whose element set is missing must abort
  -- the query on BOTH engines, never be silently dropped (an inner join
  -- here would hide such rows and the two oracles would disagree)
  SELECT c.doc_a, c.doc_b, c.n_bands,
         CASE WHEN ta.ts IS NULL OR tb.ts IS NULL
              THEN CAST(error('jaccard twin: candidate pair has no element-set row') AS DOUBLE)
              ELSE CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) END AS i,
         CASE WHEN ta.ts IS NULL OR tb.ts IS NULL
              THEN CAST(error('jaccard twin: candidate pair has no element-set row') AS DOUBLE)
              ELSE CAST(len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) END AS u
  FROM cand c LEFT JOIN tsets ta ON c.doc_a = ta.doc_id
              LEFT JOIN tsets tb ON c.doc_b = tb.doc_id)
SELECT doc_a, doc_b, n_bands,
       ROUND(CASE WHEN u > 0 THEN i / u ELSE 0 END, 6) AS jaccard,
       CAST(CASE WHEN u > 0 THEN i / u ELSE 0 END >= {dedup.JACCARD_DUP_THRESHOLD}
            AS INTEGER) AS is_dup
FROM scored"""
SQL_MINHASH_JACCARD_VERIFIED = SQL_MINHASH_JACCARD_VERIFIED.replace(
    "{SQL_MINHASH_LSH_PAIRS}", SQL_MINHASH_LSH_PAIRS
)


# ---------------------------------------------------------------- dedup: SimHash
_HEX_HI = ["8", "9", "a", "b", "c", "d", "e", "f"]


def q_simhash16(spark, sf_dir) -> DataFrame:
    """16-bit SimHash: bit j = sign of Σ_terms tf·(±1), where the ±1 is the
    top bit of hex digit j of md5(term). Hamming-near signatures ⇒ near-dup
    docs; one groupBy shuffle, everything else native expressions."""
    tf = (
        _terms(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .withColumn("h", F.md5(F.col("term").cast("binary")))
    )
    sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.substring("h", j + 1, 1).isin(_HEX_HI), F.col("tf")
                ).otherwise(-F.col("tf"))
            ).alias(f"s{j}")
            for j in range(16)
        ]
    )
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


_SIMHASH_SUMS = ",\n  ".join(
    f"SUM(CASE WHEN substr(h, {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') "
    f"THEN tf ELSE -tf END) AS s{j}"
    for j in range(16)
)
_SIMHASH_BITS = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
SQL_SIMHASH16 = f"""WITH {_TERMS_CTE},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, md5(term) AS h
       FROM terms GROUP BY doc_id, term),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tf GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM sums"""


def q_simhash_neardup_pairs(spark, sf_dir) -> DataFrame:
    """Banded SimHash near-dup pairs over ``documents``: every doc pair
    within Hamming distance 3 of the 16-bit signature (exact — see
    :func:`dedup.simhash_neardup_pairs`)."""
    return dedup.simhash_neardup_pairs(q_simhash16(spark, sf_dir))


SQL_SIMHASH_NEARDUP = f"""WITH {_TERMS_CTE},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, md5(term) AS h
       FROM terms GROUP BY doc_id, term),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tf GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM sums),
bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 4)) & 15 AS key
  FROM sig, (SELECT UNNEST(range(4)) AS band) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b USING (band, key)
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""


# ---------------------------------------------------------------- text: language-ID heuristic
def q_lang_id_heuristic(spark, sf_dir) -> DataFrame:
    """Stopword-ratio language identification (the n-gram-heuristic family):
    predict 'en' when ≥15% of raw tokens are English stopwords; report
    agreement against the labeled lang column per language."""
    d = _documents(spark, sf_dir)
    stop = F.array(*[F.lit(s) for s in STOP])
    raw = _raw_tokens_col()
    ratio = F.size(F.filter(raw, lambda t: F.array_contains(stop, t))).cast(
        "double"
    ) / F.when(F.size(raw) > 0, F.size(raw).cast("double"))
    pred = F.when(ratio >= 0.15, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select("lang", pred.alias("pred"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pred") == "en", 1).otherwise(0)).alias("n_pred_en"),
        )
    )


SQL_LANG_ID_HEURISTIC = f"""WITH raw AS (
  SELECT lang, list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                           t -> length(t) >= 1) AS raw
  FROM documents),
scored AS (
  SELECT lang,
         CASE WHEN CAST(len(list_filter(raw, t -> t IN {_STOP_IN})) AS DOUBLE)
                   / NULLIF(len(raw), 0) >= 0.15
              THEN 'en' ELSE 'other' END AS pred
  FROM raw)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM scored GROUP BY lang"""


# ---------------------------------------------------------------- text: regex token counting
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def q_token_count_regex(spark, sf_dir) -> DataFrame:
    """BPE-style pre-tokenization counting: words, digit runs, punctuation
    marks as separate tokens (the GPT-2 pre-tokenizer family, simplified to
    a dialect-portable regex). Native regexp — whole-stage codegen."""
    d = _documents(spark, sf_dir)
    toks = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens_bpe"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("long").alias("n_words"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).cast("long").alias("n_numbers"),
    )


SQL_TOKEN_COUNT_REGEX = f"""SELECT doc_id,
  CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT) AS n_tokens_bpe,
  CAST(len(list_filter(regexp_extract_all(lower(text), '{_BPE_PATTERN}'),
                       t -> regexp_matches(t, '^[a-z]+$'))) AS BIGINT) AS n_words,
  CAST(len(list_filter(regexp_extract_all(lower(text), '{_BPE_PATTERN}'),
                       t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_numbers
FROM documents"""


# ---------------------------------------------------------------- similarity: LSH-bucketed ANN
EMB_DIM = 64
N_PLANES = 4


def _planes():
    from searchengine_spark.plans import ann

    return ann.make_hyperplanes(EMB_DIM, N_PLANES)


# deterministic ±1 hyperplanes, identical arithmetic on both sides (the
# SQL oracle embeds the same values; generator shared with plans/ann.py)
HYPERPLANES = [
    [1.0 if ((i * 1103515245 + j * 12345) % 97) < 48 else -1.0 for i in range(EMB_DIM)]
    for j in range(N_PLANES)
]


def q_ann_lsh_bucketed(spark, sf_dir) -> DataFrame:
    """Scale path for ANN via the engine API (plans/ann.py): 4-sign-bit
    LSH buckets → search only the query's bucket → exact cosine on the
    candidates → top-5. Brute force (q_embedding_topk) is the baseline."""
    from searchengine_spark.plans import ann

    return ann.lsh_bucket_topk(
        _embeddings(spark, sf_dir), query=0, planes=_planes(), k=5, exclude_query_id=0
    ).select("vec_id", F.round("sim", 5).alias("sim"))


# ------------------------------------------------------- dedup: embedding-cosine near-dup
def _embedding_neardup(spark, sf_dir) -> DataFrame:
    """The embedding near-dup pair graph every dedup row shares."""
    from searchengine_spark.plans import ann

    return ann.lsh_neardup_pairs(
        _embeddings(spark, sf_dir), planes=_planes(), bands=[[0, 1], [2, 3]], threshold=0.4
    )


def q_embedding_neardup(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the engine API
    (plans/ann.py:lsh_neardup_pairs): 4 sign bits split into 2 bands of 2;
    vectors sharing ANY band key become candidates (band explode →
    self-join — the shuffle IS the bucketing, no O(n²) pair scan); exact
    cosine keeps pairs ≥ 0.4. Banded-LSH recall bound: 1-(1-p²)²."""
    return _embedding_neardup(spark, sf_dir).select(
        "vec_a", "vec_b", F.round("sim", 5).alias("sim")
    )


# ------------------------------------------------------- similarity: IVF probe-2 ANN
IVF_CELLS = 8
IVF_PROBE = 2


def q_ann_ivf_probe(spark, sf_dir) -> DataFrame:
    """IVF ANN via the engine API (plans/ann.py:ivf_topk): vectors
    1..IVF_CELLS serve as deterministic coarse centroids; every other
    vector joins its nearest centroid's cell (one broadcast pass); the
    query probes its IVF_PROBE nearest cells and exact-cosine ranks only
    those cells' members (IVF_PROBE/IVF_CELLS of the data per query)."""
    from searchengine_spark.plans import ann

    e = _embeddings(spark, sf_dir)
    cents = (
        e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_CELLS))
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ann.ivf_topk(
        e.filter(F.col("vec_id") > IVF_CELLS),
        cents,
        query=qvec,
        k=5,
        n_probe=IVF_PROBE,
    ).select("vec_id", F.round("sim", 5).alias("sim"))


SQL_ANN_IVF_PROBE = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CELLS}),
dists AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum([x * x FOR x IN list_transform(e.v, (a, i) -> a - c.cv[i])]) AS d
  FROM e CROSS JOIN cents c WHERE e.vec_id > {IVF_CELLS}),
assigned AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT vec_id, v, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) WHERE rn = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qcells AS (
  SELECT c.cid AS cell, q.qv
  FROM cents c, q
  ORDER BY list_sum([x * x FOR x IN list_transform(q.qv, (a, i) -> a - c.cv[i])]), c.cid
  LIMIT {IVF_PROBE})
SELECT vec_id, ROUND(sim, 5) AS sim FROM (
  SELECT a.vec_id,
         list_dot_product(a.v, qc.qv)
         / NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qc.qv, qc.qv)), 0) AS sim
  FROM assigned a JOIN qcells qc ON a.cell = qc.cell)
ORDER BY sim DESC, vec_id LIMIT 5"""


# ------------------------------------------------------- similarity: product quantization
PQ_M = 4  # subspaces
PQ_K = 8  # codebook entries per subspace (vectors 1..PQ_K, sliced)
PQ_DSUB = EMB_DIM // PQ_M


def _pq_codebooks(spark, sf_dir) -> list:
    """Deterministic codebooks mirroring the IVF entry's centroid choice:
    subspace m's codebook = the m-th slice of vectors 1..PQ_K (a tiny
    driver fetch — PQ_K rows; production would k-means a sample)."""
    rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in _embeddings(spark, sf_dir)
        .filter(F.col("vec_id").between(1, PQ_K))
        .collect()
    }
    return [
        [rows[cid][m * PQ_DSUB:(m + 1) * PQ_DSUB] for cid in range(1, PQ_K + 1)]
        for m in range(PQ_M)
    ]


def q_ann_pq(spark, sf_dir) -> DataFrame:
    """Product-quantization ANN via the engine API (plans/ann.py:pq_topk):
    every vector compresses to PQ_M codebook ids; ranking runs against the
    PQ reconstruction (asymmetric distance) — the billion-scale path where
    the scan reads M small ints per vector instead of d floats. Exact math
    twin in DuckDB (same slices, same argmin tie-break, same cosine)."""
    from searchengine_spark.plans import ann

    return ann.pq_topk(
        _embeddings(spark, sf_dir),
        _pq_codebooks(spark, sf_dir),
        query=0,
        k=5,
        exclude_query_id=0,
    ).select("vec_id", F.round("sim", 5).alias("sim"))


SQL_ANN_PQ = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {PQ_K}),
subs AS (SELECT unnest(range({PQ_M})) AS m),
d AS (
  SELECT e.vec_id, s.m, c.cid,
         list_sum([x * x FOR x IN list_transform(
             list_slice(e.v, s.m * {PQ_DSUB} + 1, s.m * {PQ_DSUB} + {PQ_DSUB}),
             (a, i) -> a - c.cv[s.m * {PQ_DSUB} + i])]) AS dist
  FROM e CROSS JOIN subs s CROSS JOIN cb c
  WHERE e.vec_id <> 0),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM d) WHERE rn = 1),
recon AS (
  SELECT codes.vec_id,
         flatten(list(list_slice(cb.cv, codes.m * {PQ_DSUB} + 1,
                                 codes.m * {PQ_DSUB} + {PQ_DSUB})
                      ORDER BY codes.m)) AS r
  FROM codes JOIN cb ON codes.cid = cb.cid
  GROUP BY codes.vec_id),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, ROUND(sim, 5) AS sim FROM (
  SELECT recon.vec_id,
         list_dot_product(recon.r, q.qv)
         / NULLIF(sqrt(list_dot_product(recon.r, recon.r))
                  * sqrt(list_dot_product(q.qv, q.qv)), 0) AS sim
  FROM recon, q)
ORDER BY sim DESC, vec_id LIMIT 5"""


def q_ann_ivfpq(spark, sf_dir) -> DataFrame:
    """IVF-PQ ANN via the engine API (plans/ann.py:ivfpq_topk) — the
    billion-scale serving composition: coarse-cell prune (probe the
    query's {IVF_PROBE} nearest of {IVF_CELLS} cells, same deterministic
    centroids as ann_ivf_probe) + table-ADC PQ scoring of only those
    cells' members (same codebooks as ann_pq). Exact math twin in DuckDB:
    IVF assignment composed with the PQ reconstruction cosine, restricted
    to the probed cells."""
    from searchengine_spark.plans import ann

    e = _embeddings(spark, sf_dir)
    cents = (
        e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= IVF_CELLS))
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ann.ivfpq_topk(
        e.filter(F.col("vec_id") > IVF_CELLS),
        cents,
        _pq_codebooks(spark, sf_dir),
        query=qvec,
        k=5,
        n_probe=IVF_PROBE,
    ).select("vec_id", F.round("sim", 5).alias("sim"))


SQL_ANN_IVFPQ = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {IVF_CELLS}),
cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 1 AND {PQ_K}),
dists AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum([x * x FOR x IN list_transform(e.v, (a, i) -> a - c.cv[i])]) AS d
  FROM e CROSS JOIN cents c WHERE e.vec_id > {IVF_CELLS}),
assigned AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT vec_id, v, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dists) WHERE rn = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qcells AS (
  SELECT c.cid AS cell, q.qv
  FROM cents c, q
  ORDER BY list_sum([x * x FOR x IN list_transform(q.qv, (a, i) -> a - c.cv[i])]), c.cid
  LIMIT {IVF_PROBE}),
cand AS (
  SELECT a.vec_id, a.v, qc.qv FROM assigned a JOIN qcells qc ON a.cell = qc.cell),
subs AS (SELECT unnest(range({PQ_M})) AS m),
d2 AS (
  SELECT cand.vec_id, s.m, c.cid,
         list_sum([x * x FOR x IN list_transform(
             list_slice(cand.v, s.m * {PQ_DSUB} + 1, s.m * {PQ_DSUB} + {PQ_DSUB}),
             (a, i) -> a - c.cv[s.m * {PQ_DSUB} + i])]) AS dist
  FROM cand CROSS JOIN subs s CROSS JOIN cb c),
codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1),
recon AS (
  SELECT codes.vec_id,
         flatten(list(list_slice(cb.cv, codes.m * {PQ_DSUB} + 1,
                                 codes.m * {PQ_DSUB} + {PQ_DSUB})
                      ORDER BY codes.m)) AS r
  FROM codes JOIN cb ON codes.cid = cb.cid
  GROUP BY codes.vec_id)
SELECT vec_id, ROUND(sim, 5) AS sim FROM (
  SELECT recon.vec_id,
         list_dot_product(recon.r, q.qv)
         / NULLIF(sqrt(list_dot_product(recon.r, recon.r))
                  * sqrt(list_dot_product(q.qv, q.qv)), 0) AS sim
  FROM recon, q)
ORDER BY sim DESC, vec_id LIMIT 5"""


def _sql_plane(j: int) -> str:
    return "list_value(" + ", ".join(str(c) for c in HYPERPLANES[j]) + ")"


_SQL_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_sql_plane(j)}) > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(N_PLANES)
)
def _sql_bit(j: int) -> str:
    return f"(CASE WHEN list_dot_product(v, {_sql_plane(j)}) > 0 THEN 1 ELSE 0 END)"


# the embedding twins join vectors back onto the distinct id pairs: a
# FIRST() aggregate over a LIST column peaked at ~8 GB RSS in DuckDB 1.0
# for the ~48k candidate groups of sf0.01 (the join-back: ~0.2 GB)
SQL_EMBEDDING_NEARDUP = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keys AS (SELECT vec_id, v,
  {_sql_bit(0)} + 2 * {_sql_bit(1)} AS k0,
  {_sql_bit(2)} + 2 * {_sql_bit(3)} AS k1 FROM e),
bands AS (
  SELECT vec_id, v, band, CASE band WHEN 0 THEN k0 ELSE k1 END AS key
  FROM keys CROSS JOIN (SELECT unnest([0, 1]) AS band)),
cand AS (
  SELECT p.vec_a, p.vec_b, ea.v AS va, eb.v AS vb FROM (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id) p
  JOIN e ea ON ea.vec_id = p.vec_a JOIN e eb ON eb.vec_id = p.vec_b)
SELECT vec_a, vec_b, ROUND(sim, 5) AS sim FROM (
  SELECT vec_a, vec_b,
         list_dot_product(va, vb)
         / NULLIF(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)), 0) AS sim
  FROM cand)
WHERE sim >= 0.4"""


# ------------------------------------------------- dedup: near-dup clusters (connected comps)
def q_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Pairs → clusters: connected components over the embedding near-dup
    pair graph (plans/graph.py — iterative min-label propagation, one keyed
    join+agg per round), with the component-minimum id as the canonical
    survivor. The step between q_embedding_neardup's PAIRS and a dedup
    pass actually DROPPING rows."""
    from searchengine_spark.plans import graph

    pairs = _embedding_neardup(spark, sf_dir)
    return graph.dedup_clusters(pairs).orderBy("vec_id")


# DuckDB twin: same LSH pair graph, closure via a recursive CTE (UNION set
# semantics terminates it); per node the MIN over all labels it can reach
# = the component minimum, exactly the propagation fixpoint. The CTE chain
# is shared with SQL_DEDUP_MATERIALIZE below.
_SQL_CC_CTES = f"""WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keys AS (SELECT vec_id, v,
  {{bit0}} + 2 * {{bit1}} AS k0,
  {{bit2}} + 2 * {{bit3}} AS k1 FROM e),
bands AS (
  SELECT vec_id, v, band, CASE band WHEN 0 THEN k0 ELSE k1 END AS key
  FROM keys CROSS JOIN (SELECT unnest([0, 1]) AS band)),
cand AS (
  SELECT p.vec_a, p.vec_b, ea.v AS va, eb.v AS vb FROM (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id) p
  JOIN e ea ON ea.vec_id = p.vec_a JOIN e eb ON eb.vec_id = p.vec_b),
pairs AS MATERIALIZED (
  SELECT vec_a, vec_b FROM (
    SELECT vec_a, vec_b,
           list_dot_product(va, vb)
           / NULLIF(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)), 0) AS sim
    FROM cand)
  WHERE sim >= 0.4),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
clusters AS (
  SELECT CAST(node AS BIGINT) AS vec_id,
         CAST(MIN(lab) AS BIGINT) AS cluster_id,
         (node = MIN(lab)) AS is_canonical
  FROM reach GROUP BY node)""".format(
    **{f"bit{j}": _sql_bit(j) for j in range(4)}
)

SQL_DEDUP_CLUSTERS = (
    _SQL_CC_CTES
    + "\nSELECT vec_id, cluster_id, is_canonical FROM clusters ORDER BY vec_id"
)


# --------------------------------------------- dedup: materialize (rows actually dropped)
def q_dedup_materialize(spark, sf_dir) -> DataFrame:
    """The END of the dedup story: pairs → clusters → anti-join — the
    corpus with non-canonical near-dup cluster members DROPPED
    (plans/graph.py:drop_duplicates_by_cluster). The embeddings row
    ``vec_id`` is the embedding of document ``doc_id`` (TESTDATA.md), so
    the cluster verdicts apply directly to the documents table. Scale
    shape: the drop set is ≤ the pair-involved ids (tiny vs the corpus),
    so the corpus passes through ONE left-anti hash join — AQE broadcasts
    the drop side — and never shuffles or scans pairwise."""
    from searchengine_spark.plans import graph

    pairs = _embedding_neardup(spark, sf_dir)
    clusters = graph.dedup_clusters(pairs)
    corpus = _documents(spark, sf_dir).select("doc_id", "n_chars")
    return graph.drop_duplicates_by_cluster(corpus, clusters).orderBy(
        "doc_id"
    )


SQL_DEDUP_MATERIALIZE = (
    _SQL_CC_CTES
    + """
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT vec_id FROM clusters WHERE NOT is_canonical)
ORDER BY d.doc_id"""
)


# ---------------------------------------------------------------- pagerank
# Deterministic synthetic link graph over the documents table (no URL
# column exists in the testdata, so the graph is derived from doc ids with
# pure integer arithmetic — bit-identical on both engines; the REAL
# pages→extract_links→pagerank chain is exercised in tests/test_graph.py
# over the webgen corpus). Three out-arms per doc, every 17th doc stripped
# of its out-links so the dangling-mass redistribution path is live.
PR_ITERATIONS = 5
PR_DAMPING = 0.85


def _pr_synthetic_edges(docs: DataFrame, n: int) -> DataFrame:
    """The deterministic 3-arm link graph both pagerank rows share: per
    doc ``d`` out-arms ``(31d+7) % N``, ``(17d+3) % N``, ``(d+1) % N``
    (pure integer arithmetic — bit-identical in DuckDB), docs with
    ``d % 17 == 0`` stripped of out-links (live dangling nodes). Dedup and
    self-loop drop happen inside the operator."""
    d = F.col("doc_id")
    return docs.filter(d % 17 != 0).select(
        d.alias("src"),
        F.explode(
            F.array(
                ((d * 31 + 7) % n).cast("long"),
                ((d * 17 + 3) % n).cast("long"),
                ((d + 1) % n).cast("long"),
            )
        ).alias("dst"),
    )


def q_pagerank(spark, sf_dir) -> DataFrame:
    """Fixed-iteration damped PageRank (plans/graph.py:pagerank) over the
    deterministic synthetic link graph of ``_pr_synthetic_edges``.
    5 iterations at damping 0.85; rank mass sums to exactly 1 by the
    stochastic completion. Scale shape documented on the operator: per
    round one src-keyed hash join + one dst-keyed map-side-combined agg +
    an in-plan broadcast dangling aggregate; head-term skew lands on the
    aggregation key only."""
    from searchengine_spark.plans import graph

    docs = _documents(spark, sf_dir).select("doc_id")
    n = docs.count()
    pr = graph.pagerank(
        _pr_synthetic_edges(docs, n),
        nodes=docs, iterations=PR_ITERATIONS, damping=PR_DAMPING,
    )
    return pr.select(
        F.col("node").alias("doc_id"), F.round("pr", 8).alias("pr")
    )


def q_pagerank_bucketed(spark, sf_dir) -> DataFrame:
    """The SAME contract as q_pagerank, FORCING the bucketed edge-table
    path (plans/graph.py:_pr_bucketize) — on the plain path the driver's
    gate would never execute the bucketed kernel (it is an opt-in for
    big graphs), so this row pins exchange-free-edge-scan execution under
    the DuckDB hash gate, exactly as wand_subsplit_topk does for the
    phase-1 sub-split. Exact results are contractually identical to the
    plain path (same summation semantics, different partial-agg order —
    absorbed by the shared ROUND(pr, 8)), so the twin IS SQL_PAGERANK."""
    from searchengine_spark.plans import graph

    docs = _documents(spark, sf_dir).select("doc_id")
    n = docs.count()
    pr = graph.pagerank(
        _pr_synthetic_edges(docs, n),
        nodes=docs, iterations=PR_ITERATIONS, damping=PR_DAMPING,
        bucket_table="_oracle_pagerank_edges", n_buckets=8,
    )
    return pr.select(
        F.col("node").alias("doc_id"), F.round("pr", 8).alias("pr")
    )


def _build_pagerank_sql(iterations: int, damping: float) -> str:
    """DuckDB twin with the iteration loop UNROLLED into CTEs r0..rK —
    same edge construction, same dangling redistribution, same base term.
    Float literals are interpolated from the exact Python doubles the
    engine uses, so the only cross-engine divergence is summation order
    (~1e-16 relative), absorbed by the shared ROUND(pr, 8)."""
    base = repr((1.0 - damping))
    damp = repr(damping)
    parts = [
        """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
uni AS (SELECT doc_id AS node FROM documents),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*31+7) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL SELECT doc_id, (doc_id*17+3) % (SELECT n FROM nn) FROM documents
    UNION ALL SELECT doc_id, (doc_id+1) % (SELECT n FROM nn) FROM documents)
  WHERE src % 17 <> 0 AND dst <> src),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS pr FROM uni)"""
    ]
    for t in range(iterations):
        parts.append(
            f""",
d{t} AS (SELECT COALESCE(SUM(pr), 0) AS m FROM r{t}
         WHERE node NOT IN (SELECT src FROM deg)),
c{t} AS (SELECT e.dst AS node, SUM(r.pr / deg.deg) AS c
         FROM e JOIN r{t} r ON r.node = e.src JOIN deg ON deg.src = e.src
         GROUP BY e.dst),
r{t + 1} AS (SELECT u.node,
           {base}/(SELECT n FROM nn)
           + {damp} * (COALESCE(c.c, 0) + (SELECT m FROM d{t})/(SELECT n FROM nn)) AS pr
           FROM uni u LEFT JOIN c{t} c ON c.node = u.node)"""
        )
    parts.append(
        f"\nSELECT node AS doc_id, ROUND(pr, 8) AS pr FROM r{iterations}"
    )
    return "".join(parts)


SQL_PAGERANK = _build_pagerank_sql(PR_ITERATIONS, PR_DAMPING)


SQL_ANN_LSH_BUCKETED = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, ROUND(sim, 5) AS sim FROM (
  SELECT b.vec_id,
         list_dot_product(b.v, q.qv)
         / NULLIF(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0) AS sim
  FROM b JOIN q ON b.bucket = q.qbucket WHERE b.vec_id <> 0)
ORDER BY sim DESC, vec_id LIMIT 5"""


# ---------------------------------------------------------------- phrase match (positional)
PHRASE_TERMS = ["fast", "table"]


def q_phrase_match(spark, sf_dir) -> DataFrame:
    """Exact phrase occurrence count over the token stream — the
    Catalyst-native path (within-row array lambda, map-only, no shuffle;
    plans/phrase.py). The positional-index path over the same semantics is
    q_phrase_sharded below; their agreement is tested in tests/test_phrase.py
    against a brute-force oracle."""
    from searchengine_spark.plans.phrase import phrase_tf_col

    toks = _toks(spark, sf_dir)
    return (
        toks.select(
            "doc_id", phrase_tf_col(F.col("toks"), PHRASE_TERMS).alias("phrase_tf")
        )
        .filter(F.col("phrase_tf") > 0)
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(100)
    )


_PHRASE_COND = " AND ".join(
    f"toks[i+{j}]='{t}'" for j, t in enumerate(PHRASE_TERMS)
)
SQL_PHRASE_MATCH = f"""WITH {_TOKS_CTE},
p AS (SELECT doc_id,
             len(list_filter(range(1, len(toks) - {len(PHRASE_TERMS) - 2}),
                             i -> {_PHRASE_COND})) AS phrase_tf
      FROM toks)
SELECT doc_id, phrase_tf FROM p WHERE phrase_tf > 0
ORDER BY phrase_tf DESC, doc_id LIMIT 100"""


PROX_WINDOW = 5


def q_proximity_cooccur(spark, sf_dir) -> DataFrame:
    """Proximity co-occurrence (positions within a token window) — the
    Catalyst-native path (plans/phrase.py:cooccur_count_col). The
    positional-index twin (proximity_match_sharded) is brute-force
    property-tested in tests/test_phrase.py."""
    from searchengine_spark.plans.phrase import cooccur_count_col

    toks = _toks(spark, sf_dir)
    a, b = PHRASE_TERMS
    return (
        toks.select(
            "doc_id",
            cooccur_count_col(F.col("toks"), a, b, PROX_WINDOW).alias("cooccur"),
        )
        .filter(F.col("cooccur") > 0)
        .orderBy(F.desc("cooccur"), F.asc("doc_id"))
        .limit(100)
    )


SQL_PROXIMITY_COOCCUR = f"""WITH {_TOKS_CTE},
p AS (
  SELECT doc_id,
         len(list_filter(
               list_filter(range(1, len(toks) + 1), i -> toks[i] = '{PHRASE_TERMS[0]}'),
               a -> len(list_filter(
                      list_filter(range(1, len(toks) + 1), i -> toks[i] = '{PHRASE_TERMS[1]}'),
                      b -> abs(a - b) <= {PROX_WINDOW} AND a <> b)) > 0
             )) AS cooccur
  FROM toks)
SELECT doc_id, cooccur FROM p WHERE cooccur > 0
ORDER BY cooccur DESC, doc_id LIMIT 100"""


WINDOW_TERMS = ["fast", "table", "join"]
WINDOW_W = 10


def q_window_cooccur(spark, sf_dir) -> DataFrame:
    """n-term window co-occurrence (every term within W tokens of an
    anchor occurrence of the first term) — Catalyst-native path
    (plans/phrase.py:window_count_col); the positional-index twin
    (window_match_sharded) is brute-force property-tested."""
    from searchengine_spark.plans.phrase import window_count_col

    toks = _toks(spark, sf_dir)
    return (
        toks.select(
            "doc_id",
            window_count_col(F.col("toks"), WINDOW_TERMS, WINDOW_W).alias("cooccur"),
        )
        .filter(F.col("cooccur") > 0)
        .orderBy(F.desc("cooccur"), F.asc("doc_id"))
        .limit(100)
    )


_WINDOW_OTHERS = " AND ".join(
    f"""len(list_filter(
               list_filter(range(1, len(toks) + 1), i -> toks[i] = '{t}'),
               b -> abs(a - b) <= {WINDOW_W})) > 0"""
    for t in WINDOW_TERMS[1:]
)
SQL_WINDOW_COOCCUR = f"""WITH {_TOKS_CTE},
p AS (
  SELECT doc_id,
         len(list_filter(
               list_filter(range(1, len(toks) + 1), i -> toks[i] = '{WINDOW_TERMS[0]}'),
               a -> {_WINDOW_OTHERS}
             )) AS cooccur
  FROM toks)
SELECT doc_id, cooccur FROM p WHERE cooccur > 0
ORDER BY cooccur DESC, doc_id LIMIT 100"""


def _scratch_dir(sf_dir: str, name: str) -> str:
    """Deterministic per-(sf, purpose) scratch path for throwaway index
    builds: repeated driver runs overwrite in place (parquet mode=overwrite)
    instead of leaking a fresh tempfile.mkdtemp per run."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/searchengine_spark_scratch/{name}_{key}"
    os.makedirs(path, exist_ok=True)
    return path


def q_phrase_sharded(spark, sf_dir) -> DataFrame:
    """Same phrase over the positional compressed sharded index (delta-gap +
    varint position streams, per-shard intersection kernel). Uses the simple
    tokenizer so it is SQL-checkable against the same oracle as
    q_phrase_match (the two Spark paths must agree with DuckDB)."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.phrase import phrase_match_sharded
    from searchengine_spark.plans.text_only import tokenize_text_documents_simple

    tokenized = tokenize_text_documents_simple(
        _documents(spark, sf_dir), with_positions=True
    )
    path = _scratch_dir(sf_dir, "phrase_sharded")
    index = shards.shard_and_write_from_tokenized(
        spark, tokenized, path, n_shards=8, with_positions=True
    )
    # top_k=None: take ALL matches, then apply the oracle's exact ordering
    # (phrase_tf desc, NUMERIC doc_id asc) before the limit — the engine's
    # internal tie-break is docno (string-ordered doc_id), which could pick
    # a different boundary set when phrase_tf ties straddle the cut.
    out = phrase_match_sharded(
        spark, index, " ".join(PHRASE_TERMS), top_k=None, terms=PHRASE_TERMS
    )
    return (
        out.select(F.col("doc_id").cast("long").alias("doc_id"), "phrase_tf")
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
        .limit(100)
    )


SQL_PHRASE_SHARDED = SQL_PHRASE_MATCH


def q_postings_export_roundtrip(spark, sf_dir) -> DataFrame:
    """Posting rows round-tripped through the full compressed physical
    layout: simple-tokenized documents → one-pass sharded build (delta-gap
    + varint blocks, block-max metadata) → ``shards.export_index`` decode →
    logical postings. Must equal the directly-computed ``postings_sample``
    (same DuckDB oracle checks both), so the codec encode/decode and the
    layout-export operator sit under the driver's correctness gate."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.text_only import tokenize_text_documents_simple

    tokenized = tokenize_text_documents_simple(_documents(spark, sf_dir))
    path = _scratch_dir(sf_dir, "export_roundtrip")
    index = shards.shard_and_write_from_tokenized(spark, tokenized, path, n_shards=8)
    tables = shards.export_index(spark, index)
    return (
        tables.postings.filter(F.col("term").isin(POSTING_TERMS))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "term", "tf")
    )


SQL_POSTINGS_EXPORT_ROUNDTRIP = SQL_POSTINGS_SAMPLE


# -------------------------------------------------- stemmed-path DuckDB oracle
# Porter stemming is not SQL-expressible, but the REST of the flagship path
# is: materialize the stemmed token arrays once, driver-side, with the SAME
# pure functions the engine's Arrow UDFs run (textproc.tokenize_filtered /
# make_snippet), then express BM25 + the full boost chain + normalize/top-k
# in pure SQL over that table. This puts the Porter path under the driver's
# independent hash gate instead of rows-only. The driver compares at
# sf=0.01, so the static SQL reads the sf0.01-derived parquet (the
# materializer is invoked from __spark_entry__.oracle_sql()).
STEMMED_QUERY = "dup fast join"
STEMMED_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def stemmed_oracle_path(sf_dir: str) -> str:
    import os

    return os.path.join(_scratch_dir(sf_dir, "stemmed_oracle"), "stemmed.parquet")


def materialize_stemmed_oracle_table(sf_dir: str) -> str:
    """Driver-side Python (NOT Spark): documents.parquet → (doc_id, toks,
    doc_len, snippet) parquet via the shared pure tokenizer. The documents
    table is small (10³-10⁴ rows at oracle scale); this is the DuckDB-side
    twin of plans/text_only.tokenize_text_documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.functions import textproc

    src = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = [str(x) for x in src.column("doc_id").to_pylist()]
    texts = src.column("text").to_pylist()
    toks = [textproc.tokenize_filtered(t or "") for t in texts]
    snippets = [textproc.make_snippet(t or "") for t in texts]
    # query-relevant snippet for STEMMED_QUERY (T9/T10 twin): the same
    # pure windowing function the engine's driver-side metadata tail runs
    # (plans/bm25.finish_with_metadata), precomputed per doc so the
    # serving-row oracle (SQL_BM25_SERVING) is a plain column read
    from searchengine_spark.plans.bm25 import analyze_query

    orig_tokens = (analyze_query(STEMMED_QUERY) or (None, [], None))[1]
    out = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "toks": pa.array(toks, pa.list_(pa.string())),
            "doc_len": pa.array([len(t) for t in toks], pa.int64()),
            "snippet": pa.array(snippets, pa.string()),
            "rel_snippet": pa.array(
                [textproc.relevant_snippet(s, orig_tokens) for s in snippets],
                pa.string(),
            ),
        }
    )
    path = stemmed_oracle_path(sf_dir)
    pq.write_table(out, path)
    return path


def _stemmed_norm_ctes(path: str, where: str = "") -> str:
    """The shared CTE chain of the stemmed-path oracles: materialized
    stemmed table → BM25 → boost chain → normalized scores (`norm`).
    BM25 + boost chain + normalize in DuckDB SQL — the exact SQL twin of
    BM25SearchEngine.score_batch for the text-only corpus (title/meta
    empty ⇒ only the snippet-phrase and proximity boosts can fire).
    Query analysis (expand/stem/weights) happens HERE at SQL-build time
    with the engine's own analyze_query, embedded as literals. Consumed
    by _build_stemmed_sql (top-10 tail), _build_hybrid_sql (2k-candidate
    arm of the 0.7/0.3 combine) and _build_masked_sql (tombstones).

    ``where`` (a full "WHERE ..." clause) restricts the corpus at the toks
    CTE — every downstream statistic (N, avgdl, df, idf, normalize max)
    derives from the SURVIVORS, which is exactly the tombstone-mask
    contract (operators/tombstones.py: a masked query is rank- and
    score-identical to a fresh build of the surviving corpus)."""
    from searchengine_spark.config import (
        ORIGINAL_TERM_IMPORTANCE,
        PROXIMITY_BOOST,
        SNIPPET_PHRASE_BOOST,
    )
    from searchengine_spark.plans.bm25 import analyze_query

    term_mult, orig_tokens, original_query = analyze_query(STEMMED_QUERY)
    weights = {
        t: float(m) * (ORIGINAL_TERM_IMPORTANCE if t in orig_tokens else 1.0)
        for t, m in term_mult.items()
    }
    w_values = ", ".join(f"('{t}', {w!r})" for t, w in sorted(weights.items()))
    term_in = "(" + ", ".join(f"'{t}'" for t in sorted(weights)) + ")"
    oq = original_query.replace("'", "''")
    prox = (
        " AND ".join(
            f"contains(lower(t.snippet), '{tok}')" for tok in orig_tokens
        )
        if len(orig_tokens) > 1
        else "FALSE"
    )
    return f"""toks AS (
  SELECT doc_id, toks, CAST(doc_len AS DOUBLE) AS doc_len, snippet
  FROM read_parquet('{path}') {where}),
w(term, wt) AS (VALUES {w_values}),
n AS (SELECT COUNT(*) AS n_docs FROM toks),
avgdl AS (SELECT AVG(doc_len) AS avgdl FROM toks),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
       WHERE term IN {term_in} GROUP BY doc_id, term),
idf AS (SELECT term, GREATEST(0.0, LN((n_docs - df + 0.5) / (df + 0.5))) AS idf
        FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), n),
raw AS (SELECT tf.doc_id,
               SUM(idf.idf * w.wt * ({K1 + 1.0} * tf.tf)
                   / ({K1} * ({1.0 - B} + {B} * d.doc_len / avgdl.avgdl) + tf.tf)) AS score
        FROM tf JOIN idf USING (term) JOIN w USING (term)
             JOIN toks d USING (doc_id), avgdl
        GROUP BY tf.doc_id),
boosted AS (
  SELECT r.doc_id,
         r.score
         * (CASE WHEN contains(lower(t.snippet), '{oq}')
                 THEN {SNIPPET_PHRASE_BOOST} ELSE 1.0 END)
         * (CASE WHEN {prox} THEN {PROXIMITY_BOOST} ELSE 1.0 END) AS score
  FROM raw r JOIN toks t USING (doc_id)),
norm AS (SELECT doc_id,
                CASE WHEN MAX(score) OVER () > 0
                     THEN score / MAX(score) OVER () ELSE score END AS nscore
         FROM boosted)"""


def _build_stemmed_sql(path: str) -> str:
    """Top-10 tail over the shared stemmed CTE chain — the exact SQL twin
    of BM25SearchEngine.search_batch (rank ≤ k, min-score threshold)."""
    from searchengine_spark.config import MIN_SCORE_THRESHOLD

    return f"""WITH {_stemmed_norm_ctes(path)}
SELECT CAST(rank AS INTEGER) AS rank, doc_id, ROUND(nscore, 6) AS score FROM (
  SELECT doc_id, nscore,
         ROW_NUMBER() OVER (ORDER BY nscore DESC, doc_id ASC) AS rank
  FROM norm)
WHERE rank <= 10 AND nscore > {MIN_SCORE_THRESHOLD}
ORDER BY rank"""


SQL_BM25_STEMMED_TOPK = _build_stemmed_sql(stemmed_oracle_path(STEMMED_ORACLE_SF_DIR))
SQL_WAND_STEMMED_TOPK = SQL_BM25_STEMMED_TOPK


# -------------------------------------------------- hybrid-path DuckDB oracle
# Q10 (optimized_indexer.py:119-203) under the driver's hash gate: the full
# HybridSearchEngine — BM25 2k-candidate arm, embedding top-k arm,
# intersection-only 0.7/0.3 combine — against a DuckDB twin. Same mechanism
# as the stemmed oracle: the one non-SQL-expressible stage (the encoder) is
# materialized driver-side with the engine's own pure function
# (plans/hybrid.make_encoder over the identical text composition), then ALL
# downstream math — FAISS d=2−2·dot → sim=1/(1+d) conversion, per-arm
# top-k, intersection join, weighted combine, final rank — is re-spelled in
# SQL over the materialized vectors + the stemmed token table.
# k for the hybrid oracle row. The combine keeps only the intersection of
# BM25-top-2k and embedding-top-k, and the two arms rank by different
# signals (full-text BM25 vs snippet-token cosine), so small k yields an
# empty — vacuous — intersection at oracle scale (measured: k=10 → 0 rows,
# k=20 → 1, k=40 → 4). k=40 keeps the hash check discriminative across
# both arms' ranks, the intersection join, and the 0.7/0.3 weights.
HYBRID_TOP_K = 40


def hybrid_oracle_emb_path(sf_dir: str) -> str:
    import os

    return os.path.join(_scratch_dir(sf_dir, "hybrid_oracle"), "embeddings.parquet")


def materialize_hybrid_oracle_embeddings(sf_dir: str) -> str:
    """Driver-side Python (NOT Spark) twin of
    plans/hybrid.build_doc_embeddings over the text-only corpus: documents
    → (doc_id, is_query, embedding:float32[]) parquet via the engine's own
    pure encoder, plus one query row (``is_query``) holding the encoded
    STEMMED_QUERY. The text composition matches build_doc_embeddings for
    text_only docs exactly — title/description empty, snippet =
    make_snippet(text), title doubled (bert_embeddings.py:106) — and the
    values are float32 like the engine's store, so the vectors are
    bit-identical (pinned by tests/test_hybrid.py). Encoding goes through
    make_encoder(), the SAME import gate the engine resolves — so if a
    real sentence-transformers ever appears in this environment, both
    sides switch together and the twin stays valid."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.functions import textproc
    from searchengine_spark.plans.hybrid import make_encoder

    encode = make_encoder()
    src = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = [str(x) for x in src.column("doc_id").to_pylist()]
    texts = src.column("text").to_pylist()
    t = d = ""
    embs = encode(
        [f"{t} {t} {d} {textproc.make_snippet(x or '')}" for x in texts]
    ).astype(np.float32)
    qv = encode([STEMMED_QUERY]).astype(np.float32)[0]
    out = pa.table(
        {
            "doc_id": pa.array(doc_ids + [""], pa.string()),
            "is_query": pa.array([False] * len(doc_ids) + [True]),
            "embedding": pa.array(
                [e.tolist() for e in embs] + [qv.tolist()],
                pa.list_(pa.float32()),
            ),
        }
    )
    path = hybrid_oracle_emb_path(sf_dir)
    pq.write_table(out, path)
    return path


def q_hybrid_topk(spark, sf_dir) -> DataFrame:
    """Full hybrid engine (plans/hybrid.HybridSearchEngine) over the
    text-only corpus: Porter-stemmed BM25 fetches 2k candidates, the
    embedding arm fetches k (hashing-trick encoder, FAISS sim conversion),
    only the intersection survives at 0.7·bm25_norm + 0.3·sim
    (optimized_indexer.py:138-140). The DuckDB twin re-spells every
    post-encoder stage in SQL (SQL_HYBRID_TOPK)."""
    from searchengine_spark.plans.hybrid import HybridSearchEngine
    from searchengine_spark.plans.text_only import build_text_only_index

    tables = build_text_only_index(spark, _documents(spark, sf_dir))
    engine = HybridSearchEngine(spark, tables)
    res = engine.search_batch(
        [(0, STEMMED_QUERY)], top_k=HYBRID_TOP_K, with_metadata=False
    )
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def _build_hybrid_sql(emb_path: str, stemmed_path: str) -> str:
    """The combine twin: BM25 2k candidates (shared stemmed CTE chain +
    search_batch's rank/threshold tail), embedding top-k with the engine's
    exact arithmetic shape — float32 products (the engine's zip_with on
    array<float> multiplies in float32) cast to double and summed in index
    order, sim = 1/(1+(2−2·dot)) — then intersection-only weighted
    combine."""
    from searchengine_spark.config import MIN_SCORE_THRESHOLD
    from searchengine_spark.plans.hybrid import BM25_WEIGHT, EMB_WEIGHT

    return f"""WITH {_stemmed_norm_ctes(stemmed_path)},
bm AS (SELECT doc_id, nscore FROM (
    SELECT doc_id, nscore,
           ROW_NUMBER() OVER (ORDER BY nscore DESC, doc_id ASC) AS rn
    FROM norm)
  WHERE rn <= {2 * HYBRID_TOP_K} AND nscore > {MIN_SCORE_THRESHOLD}),
ev AS (SELECT doc_id, embedding FROM read_parquet('{emb_path}') WHERE NOT is_query),
qv AS (SELECT embedding AS q FROM read_parquet('{emb_path}') WHERE is_query),
sims AS (SELECT e.doc_id,
                1.0 / (1.0 + (2.0 - 2.0 * list_sum(list_transform(
                    e.embedding, (a, i) -> CAST(a * q.q[i] AS DOUBLE))))) AS sim
         FROM ev e, qv q),
embk AS (SELECT doc_id, sim FROM (
    SELECT doc_id, sim,
           ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS rn
    FROM sims)
  WHERE rn <= {HYBRID_TOP_K}),
comb AS (SELECT b.doc_id,
                {BM25_WEIGHT} * b.nscore + {EMB_WEIGHT} * s.sim AS score
         FROM bm b JOIN embk s USING (doc_id))
SELECT CAST(rank AS INTEGER) AS rank, doc_id, ROUND(score, 6) AS score FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM comb)
WHERE rank <= {HYBRID_TOP_K} ORDER BY rank"""


SQL_HYBRID_TOPK = _build_hybrid_sql(
    hybrid_oracle_emb_path(STEMMED_ORACLE_SF_DIR),
    stemmed_oracle_path(STEMMED_ORACLE_SF_DIR),
)


# ------------------------------------------------------- serving-row oracle
def q_bm25_serving(spark, sf_dir) -> DataFrame:
    """The full serving row (Q6–Q8 projection + T9/T10 query-relevant
    snippet, indexer.py:344-374): search_batch WITH metadata — top-k join
    back to the docs dimension, snippet windowed around the query terms in
    the driver over the k result rows only (plans/bm25.finish_with_metadata).
    The twin reads the same pure windowing function's output from the
    stemmed materialization (rel_snippet) and rebuilds url/rank/score in
    SQL."""
    from searchengine_spark.plans.bm25 import BM25SearchEngine
    from searchengine_spark.plans.text_only import build_text_only_index

    tables = build_text_only_index(spark, _documents(spark, sf_dir))
    engine = BM25SearchEngine(spark, tables)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10)
    return res.select(
        "rank",
        "doc_id",
        "url",
        F.col("content_snippet").alias("snippet"),
        F.round("score", 6).alias("score"),
    )


def _build_serving_sql(path: str) -> str:
    from searchengine_spark.config import MIN_SCORE_THRESHOLD

    return f"""WITH {_stemmed_norm_ctes(path)},
snip AS (SELECT doc_id, rel_snippet FROM read_parquet('{path}')),
ranked AS (
  SELECT doc_id, nscore,
         ROW_NUMBER() OVER (ORDER BY nscore DESC, doc_id ASC) AS rank
  FROM norm)
SELECT CAST(rank AS INTEGER) AS rank, doc_id,
       'doc://' || doc_id AS url,
       rel_snippet AS snippet,
       ROUND(nscore, 6) AS score
FROM ranked JOIN snip USING (doc_id)
WHERE rank <= 10 AND nscore > {MIN_SCORE_THRESHOLD}
ORDER BY rank"""


SQL_BM25_SERVING = _build_serving_sql(stemmed_oracle_path(STEMMED_ORACLE_SF_DIR))


# ------------------------------------------------------ segment-merge oracle
def q_bm25_merged_topk(spark, sf_dir) -> DataFrame:
    """Segment merge under the hash gate: the corpus is tokenized as TWO
    disjoint half-segments (even/odd doc_id — the checkpoint-chunk /
    streamed-batch shape, operators/merge.py), merged through the one
    block encoder (merge.merge_segments) and served by block-max WAND; the
    full-corpus stemmed twin (SQL_BM25_STEMMED_TOPK) must then hash-match
    — merge ≡ build-from-union checked by an independent engine, not just
    the pytest property."""
    from searchengine_spark.operators import merge
    from searchengine_spark.plans.text_only import tokenize_text_documents
    from searchengine_spark.plans.wand import WandSearchEngine

    docs = _documents(spark, sf_dir)
    root = _scratch_dir(sf_dir, "bm25_merged_topk")
    segs = []
    for half in (0, 1):
        seg = f"{root}/seg{half}"
        tokenize_text_documents(docs.filter(F.col("doc_id") % 2 == half)).write.mode(
            "overwrite"
        ).parquet(f"{seg}/tokenized")
        segs.append(seg)
    merged = merge.merge_segments(spark, segs, f"{root}/merged", n_shards=8)
    engine = WandSearchEngine(spark, merged)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


# -------------------------------------------------- tombstone-masked oracle
# The query-time delete path (operators/tombstones.py — the Lucene
# live-docs model) under the driver's hash gate: its contract is that a
# masked query is rank- AND score-identical to a fresh build of the
# surviving corpus, so the DuckDB twin IS the stemmed chain restricted to
# the survivors — every statistic (N', avgdl', df', idf', normalize max)
# recomputed over them, which is exactly what the mask derives
# arithmetically without touching a block.
MASKED_DELETE_PRED = "CAST(doc_id AS BIGINT) % 2 = 0"


def _stemmed_sharded_index(spark, sf_dir, name):
    """The production sharded build over the Porter-stemmed text-only
    corpus (the tokenizer build_text_only_index uses), written to the
    row's own scratch dir — the index every stemmed WAND row queries."""
    from searchengine_spark.operators import shards
    from searchengine_spark.plans.text_only import tokenize_text_documents

    return shards.shard_and_write_from_tokenized(
        spark,
        tokenize_text_documents(_documents(spark, sf_dir)),
        _scratch_dir(sf_dir, name),
        n_shards=8,
    )


def _sharded_index_and_dead_set(spark, sf_dir, name):
    """Shared setup for the two delete-path oracle rows (mask vs rewrite):
    one sharded compressed index over the text-only corpus plus the
    even-doc_id dead set (the SQL mirror of MASKED_DELETE_PRED).  Both
    rows MUST build from identical inputs — they share one DuckDB twin
    (SQL_WAND_MASKED_TOPK), so any drift here would desynchronize them."""
    sharded = _stemmed_sharded_index(spark, sf_dir, name)
    dead = (
        _documents(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    return sharded, dead


def q_wand_masked_topk(spark, sf_dir) -> DataFrame:
    """Block-max WAND over the sharded compressed index with a tombstone
    mask killing every even doc_id (~half the corpus — a mass-takedown
    shape): the kernels drop masked docnos before scoring, and N'/avgdl'/
    per-term df' are derived exactly (tombstones.build_mask), so results
    equal a fresh build over the survivors — which is what the DuckDB twin
    computes."""
    from searchengine_spark.operators import tombstones
    from searchengine_spark.plans.wand import WandSearchEngine

    sharded, dead = _sharded_index_and_dead_set(spark, sf_dir, "wand_masked_topk")
    mask = tombstones.build_mask(spark, sharded, dead)
    engine = WandSearchEngine(spark, sharded, mask=mask)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def _build_masked_sql(path: str) -> str:
    from searchengine_spark.config import MIN_SCORE_THRESHOLD

    return f"""WITH {_stemmed_norm_ctes(path, where=f"WHERE NOT ({MASKED_DELETE_PRED})")}
SELECT CAST(rank AS INTEGER) AS rank, doc_id, ROUND(nscore, 6) AS score FROM (
  SELECT doc_id, nscore,
         ROW_NUMBER() OVER (ORDER BY nscore DESC, doc_id ASC) AS rank
  FROM norm)
WHERE rank <= 10 AND nscore > {MIN_SCORE_THRESHOLD}
ORDER BY rank"""


SQL_WAND_MASKED_TOPK = _build_masked_sql(stemmed_oracle_path(STEMMED_ORACLE_SF_DIR))


def q_wand_compacted_topk(spark, sf_dir) -> DataFrame:
    """The compaction rewrite (operators/merge.apply_tombstones — selective
    per-block decode/re-encode, stats recomputed exactly) under the gate:
    querying the compacted index must be rank- and score-identical to a
    fresh build over the survivors, i.e. the SAME twin as the query-time
    mask (SQL_WAND_MASKED_TOPK) — delete-by-mask, delete-by-rewrite and an
    independent SQL engine all agree on one answer."""
    from searchengine_spark.operators import merge
    from searchengine_spark.plans.wand import WandSearchEngine

    sharded, dead = _sharded_index_and_dead_set(spark, sf_dir, "wand_compacted_topk")
    compacted = merge.apply_tombstones(spark, sharded, dead)
    engine = WandSearchEngine(spark, compacted)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------- rows-only (non-SQL) queries
def q_bm25_stemmed_topk(spark, sf_dir) -> DataFrame:
    """Full engine (Porter-stemmed tokenizer + boost chain) over the
    text-only documents table; the DuckDB oracle runs the SQL twin over the
    driver-side-materialized stemmed token table (SQL_BM25_STEMMED_TOPK)."""
    from searchengine_spark.plans.text_only import build_text_only_index
    from searchengine_spark.plans.bm25 import BM25SearchEngine

    tables = build_text_only_index(spark, _documents(spark, sf_dir))
    engine = BM25SearchEngine(spark, tables)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def q_wand_stemmed_topk(spark, sf_dir) -> DataFrame:
    """Same query as q_bm25_stemmed_topk but through the sharded compressed
    index + block-max WAND path (plans/wand.py); rank/score-identity of the
    two paths is property-tested in tests/test_wand.py, and the same
    stemmed-table DuckDB oracle checks both."""
    from searchengine_spark.plans.wand import WandSearchEngine

    sharded = _stemmed_sharded_index(spark, sf_dir, "wand_stemmed_topk")
    engine = WandSearchEngine(spark, sharded)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def q_wand_subsplit_topk(spark, sf_dir) -> DataFrame:
    """q_wand_stemmed_topk with the phase-1 docno sub-range split FORCED on
    (sub_split=3) rather than left to the auto policy, so the round-5
    sub-split kernel (plans/wand.py `_sub_split`, the [V1] decoupling of
    kernel parallelism from shard count) is deterministically exercised
    under the driver's DuckDB hash gate regardless of the driver host's
    core count. Exact top-k must be unchanged: the twin is the SAME
    stemmed-table oracle as wand_stemmed_topk."""
    from searchengine_spark.plans.wand import WandSearchEngine

    sharded = _stemmed_sharded_index(spark, sf_dir, "wand_subsplit_topk")
    engine = WandSearchEngine(spark, sharded, sub_split=3)
    res = engine.search_batch([(0, STEMMED_QUERY)], top_k=10, with_metadata=False)
    return res.select("rank", "doc_id", F.round("score", 6).alias("score"))


def q_multimodal_features(spark, sf_dir) -> DataFrame:
    """Multimodal plumbing over a deterministic synthetic media table
    (binary column + typed metadata), end to end under the DuckDB hash
    gate: the Arrow featurizer pass emits its SQL-expressible core (byte
    length, magic-byte tag, md5 digest prefix) alongside the float feature
    vector, and the frame sampler's per-media frame count rides the same
    result — so both mapInPandas operators are value-checked against the
    oracle. Only the import-gated real decode (sources/multimodal.py
    decode_media) stays outside SQL."""
    from searchengine_spark.sources import multimodal

    media = multimodal.synth_media_from_documents(_documents(spark, sf_dir))
    feats = multimodal.extract_features(media)
    n_frames = (
        multimodal.sample_frames(media)
        .groupBy("media_id")
        .agg(F.count("*").cast("long").alias("n_frames"))
    )
    return (
        feats.join(n_frames, "media_id", "left")
        .select(
            "media_id",
            "media_type",
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "magic_hex",
            "md5_prefix",
            F.coalesce(F.col("n_frames"), F.lit(0)).cast("long").alias("n_frames"),
        )
        .orderBy("media_id")
    )


# DuckDB twin of q_multimodal_features: the synthetic media bytes are the
# utf-8 encoding of documents.text (sources/multimodal.py), so byte length /
# magic byte / md5 / frame count are all exactly derivable in SQL. hex() and
# md5() semantics verified: DuckDB hex(BLOB) is uppercase (matches the Arrow
# pass's %02X) and md5(VARCHAR) hashes the utf-8 bytes in lowercase hex.
SQL_MULTIMODAL_FEATURES = """
WITH m AS (
  SELECT
    doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
    encode(text) AS data,
    text
  FROM documents
)
SELECT
  media_id,
  media_type,
  CAST(octet_length(data) AS BIGINT) AS n_bytes,
  CASE WHEN octet_length(data) = 0 THEN '' ELSE substr(hex(data), 1, 2) END
    AS magic_hex,
  substr(md5(text), 1, 8) AS md5_prefix,
  CAST(
    CASE WHEN octet_length(data) = 0 THEN 0
         ELSE (CAST(ceil(octet_length(data) / 256.0) AS BIGINT) + 1) // 2 END
    AS BIGINT) AS n_frames
FROM m
ORDER BY media_id
"""

# ------------------------------------------- benchmark decontamination
# Test-set decontamination is a standard pass in large-scale training-data
# pipelines (GPT-3 appendix C; Llama 2 §A.6): any training document sharing
# enough word n-grams with a held-out benchmark is flagged/dropped so the
# eval stays honest. Here the "benchmark" is a deterministic md5-bucket
# slice of the corpus itself (self-contained; in production it is the eval
# suites — a few MB of text, which is why the benchmark-gram side of the
# join is broadcast: the cost at 100 TB is one map-side hash probe per
# doc-gram plus a single hash-agg keyed by doc_id, never an all-pairs scan).
DECON_GRAM_N = 3  # contamination n-gram width
DECON_BENCH_PER_MILLE = 30  # md5 buckets < 30/1000 form the benchmark slice
DECON_FLAG_RATE = 0.05  # flag docs with >= 5% of distinct grams overlapping


def distinct_trigrams(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """``text`` → one row per DISTINCT word trigram per input row
    (columns: *keep, gram). The single definition both the benchmark side
    and the document side of decontamination use — they must tokenize and
    gram identically for overlap to mean anything. Map-only (higher-order
    array fns + explode)."""
    g1 = _raw_tokens_col()
    return (
        docs.select(*keep, g1.alias("g1"))
        .withColumn(
            "gs",
            F.expr(
                "CASE WHEN size(g1) >= 3 THEN array_distinct("
                "transform(sequence(0, size(g1)-3),"
                " i -> concat(g1[i], ' ', g1[i+1], ' ', g1[i+2])))"
                " ELSE array() END"
            ),
        )
        .select(*keep, F.explode("gs").alias("gram"))
    )


DECON_BROADCAST_CEILING = 2_000_000  # distinct bench grams; ~100 MB broadcast


def decontaminate_against(
    docs: DataFrame,
    bench_grams: DataFrame,
    broadcast_ceiling: int = DECON_BROADCAST_CEILING,
) -> DataFrame:
    """Flag contamination of ``docs`` (doc_id, text) against a benchmark
    distinct-gram set (single column ``gram``). Returns one row per doc that
    has >= 1 trigram: (doc_id, n_grams, n_overlap, overlap_rate,
    contaminated). Map-only gram generation (higher-order array fns), a
    hash probe against the benchmark set, one doc-keyed hash-agg.

    Join-strategy gate (mirrors the WAND docs_join gate): production eval
    suites are MB-scale and the gram probe broadcasts, but the operator
    accepts ANY frame — a mis-sized call must not become a driver OOM
    (round-3 verdict #6). The RAW gram count — an upper bound on the
    distinct count — is checked with a bounded ``limit(ceiling+1).count()``
    job (map-only, no agg, no persist); past the ceiling the probe runs as
    a pinned gram-keyed shuffle join instead — same results, corpus-side
    rows move once, keyed, no driver collect."""
    grams = distinct_trigrams(docs, keep=("doc_id",))
    # Gate on a bounded count of the RAW gram frame — an upper bound on
    # the distinct count (map-only, early-exits at ceiling+1), so no
    # persist is needed: the distinct aggregation runs exactly once,
    # inside the join plan below. A frame with > ceiling raw grams but a
    # small distinct set is misclassified onto the shuffle arm — a
    # conservative extra shuffle, never an OOM — and the returned frame
    # stays fully lazy with zero cache entries left behind (a persist here
    # would live for the session: the result is lazy, so no caller-side
    # unpersist point exists).
    # one shared gate (operators/gates.py): the bounded count runs on the
    # RAW gram frame (upper bound on distinct), the gated build side is
    # the DISTINCT probe — its aggregation runs exactly once, inside the
    # join plan below, never in the size check
    hit, _ = gates.gated_build_side(
        bench_grams.select("gram").distinct().withColumn("_hit", F.lit(1)),
        broadcast_ceiling,
        count_frame=bench_grams.select("gram"),
    )
    joined = grams.join(hit, "gram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_overlap"),
    )
    rate = F.col("n_overlap").cast("double") / F.col("n_grams").cast("double")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        F.round(rate, 6).alias("overlap_rate"),
        (rate >= F.lit(DECON_FLAG_RATE)).cast("int").alias("contaminated"),
    )


def q_decontaminate_ngram(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination over ``documents``: the md5-bucket slice
    (same engine-stable hash as stratified_sample) plays the held-out
    benchmark; every non-benchmark doc reports its distinct-trigram overlap
    with the benchmark's gram set and a contaminated flag."""
    d = _documents(spark, sf_dir)
    bucket = _md5_bucket_expr()
    d = d.select("doc_id", "text", (bucket < DECON_BENCH_PER_MILLE).alias("is_bench"))
    bench_grams = distinct_trigrams(d.where("is_bench"))
    return decontaminate_against(d.where(~F.col("is_bench")), bench_grams)


SQL_DECONTAMINATE_NGRAM = f"""WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
                     t -> length(t) >= 1) AS g1,
         {_SQL_MD5_BUCKET} < {DECON_BENCH_PER_MILLE} AS is_bench
  FROM documents),
grams AS (
  SELECT doc_id, is_bench,
         unnest(list_distinct(list_transform(range(1, len(g1)-1),
                i -> g1[i] || ' ' || g1[i+1] || ' ' || g1[i+2]))) AS gram
  FROM t),
bench AS (SELECT DISTINCT gram FROM grams WHERE is_bench),
agg AS (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(b.gram) AS BIGINT) AS n_overlap
  FROM grams g LEFT JOIN bench b USING (gram)
  WHERE NOT g.is_bench
  GROUP BY g.doc_id)
SELECT doc_id, n_grams, n_overlap,
  ROUND(CAST(n_overlap AS DOUBLE) / n_grams, 6) AS overlap_rate,
  CAST(CASE WHEN CAST(n_overlap AS DOUBLE) / n_grams >= {DECON_FLAG_RATE}
       THEN 1 ELSE 0 END AS INT) AS contaminated
FROM agg"""


# ------------------------------------------------------- PII detect/redact
# A web-scale training pipeline scrubs personally identifiable strings
# before anything ships to training. Patterns are deliberately restricted
# to syntax shared verbatim by java.util.regex (Spark, codegen'd
# regexp_extract_all / regexp_replace — no Python in the plan) and RE2
# (DuckDB oracle): no backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Per-doc PII counts plus the redacted text (each match replaced by a
    typed placeholder). Map-only: every column is a native regexp expression
    inside whole-stage codegen; cost is O(bytes scanned) regardless of
    corpus size."""
    n_email = F.size(F.regexp_extract_all("text", F.lit(PII_PATTERNS["email"]), F.lit(0)))
    # count ipv4 on the EMAIL-REDACTED text, mirroring the sequential
    # replace order below — an IPv4 embedded inside an email-shaped match
    # (e.g. 'a@1.2.3.4.co') is consumed by the email redaction and never
    # yields an <IP> placeholder, so counting it would make n_ipv4 disagree
    # with the redacted output (round-3 ADVICE)
    email_red = F.regexp_replace("text", PII_PATTERNS["email"], "<EMAIL>")
    n_ipv4 = F.size(
        F.regexp_extract_all(email_red, F.lit(PII_PATTERNS["ipv4"]), F.lit(0))
    )
    red = F.regexp_replace(email_red, PII_PATTERNS["ipv4"], "<IP>")
    return docs.select(
        "doc_id",
        n_email.cast("long").alias("n_email"),
        n_ipv4.cast("long").alias("n_ipv4"),
        (n_email + n_ipv4 > 0).cast("int").alias("has_pii"),
        F.substring(F.md5(red), 1, 8).alias("redacted_md5"),
    )


def q_pii_scrub(spark, sf_dir) -> DataFrame:
    return pii_scrub(_documents(spark, sf_dir))


# {SRC}-parameterized template: SQL_PII_SCRUB instantiates it on
# `documents`, the corpus_clean twin on its survivor CTE — one body, so a
# pattern or replace-order change can never fork the two oracles
_SQL_PII_TEMPLATE = rf"""WITH p AS (
  SELECT doc_id, text,
         regexp_replace(text, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g')
           AS email_red
  FROM {{SRC}})
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS BIGINT)
    AS n_email,
  CAST(len(regexp_extract_all(email_red, '{PII_PATTERNS["ipv4"]}')) AS BIGINT)
    AS n_ipv4,
  CAST(CASE WHEN len(regexp_extract_all(text, '{PII_PATTERNS["email"]}'))
            + len(regexp_extract_all(email_red, '{PII_PATTERNS["ipv4"]}')) > 0
       THEN 1 ELSE 0 END AS INT) AS has_pii,
  substr(md5(regexp_replace(email_red,
           '{PII_PATTERNS["ipv4"]}', '<IP>', 'g')), 1, 8) AS redacted_md5
FROM p"""
SQL_PII_SCRUB = _SQL_PII_TEMPLATE.replace("{SRC}", "documents")


# ------------------------------------------------------- pipeline capstone: corpus clean
def q_corpus_clean(spark, sf_dir) -> DataFrame:
    """The full training-corpus cleaning pass as ONE composed pipeline —
    what a user of this engine actually runs before training: quality
    filter (map-side, :func:`quality_flags`) → exact dedup (canonical =
    min doc_id per md5(text)) → benchmark decontamination (held-out
    md5-bucket slice, broadcast gram probe) → PII redaction (map-only).
    Returns one row per SURVIVING doc: (doc_id, n_email, n_ipv4, has_pii,
    redacted_md5).

    Scale shape, stage by stage: quality flags are computed inline on the
    corpus scan (zero joins — the reusable ``quality_flags`` carries text
    through, so no corpus-sized join reattaches it); exact dedup is one
    hash agg on md5(text) plus one doc_id-keyed join back; decontamination
    broadcasts only the benchmark gram set and aggs per doc; the
    contamination verdict joins back keyed on doc_id (left — docs with no
    trigram have no verdict row and are kept). Every join in the pass is
    keyed on doc_id or the text hash; nothing is pairwise, nothing
    broadcasts a corpus-sized side."""
    d = _documents(spark, sf_dir)
    bucket = _md5_bucket_expr()
    db = d.select(
        "doc_id", "text", (bucket < DECON_BENCH_PER_MILLE).alias("_bench")
    )
    nonbench = db.where(~F.col("_bench"))
    # quality inline on the non-bench scan; survivors keep their text
    qual = (
        quality_flags(nonbench, keep=("text",))
        .where(F.col("is_kept") == 1)
        .select("doc_id", "text")
    )
    # exact-dup canonical ids over the FULL corpus (copies may straddle the
    # bench split; the canonical id is split-independent)
    canon = (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("_h"))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    contaminated = (
        decontaminate_against(nonbench, distinct_trigrams(db.where("_bench")))
        .where(F.col("contaminated") == 1)
        .select("doc_id")
    )
    surv = (
        qual.join(canon, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
    )
    return pii_scrub(surv)


SQL_CORPUS_CLEAN = rf"""WITH b AS (
  SELECT doc_id, text,
         {_SQL_MD5_BUCKET} < {DECON_BENCH_PER_MILLE} AS is_bench
  FROM documents),
qual AS (SELECT doc_id FROM ({{SQL_QUALITY_FILTER}}) WHERE is_kept = 1),
canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
contam AS (SELECT doc_id FROM ({{SQL_DECONTAMINATE_NGRAM}})
           WHERE contaminated = 1),
surv AS (
  SELECT doc_id, text FROM b
  WHERE NOT is_bench
    AND doc_id IN (SELECT doc_id FROM qual)
    AND doc_id IN (SELECT doc_id FROM canon)
    AND doc_id NOT IN (SELECT doc_id FROM contam))
SELECT * FROM ({{SQL_PII_ON_SURV}})"""
# every stage twin is EMBEDDED, never copied — the quality, decontamination
# and PII oracles are the single source of truth for their semantics, so a
# stage change updates the standalone twin and this composed twin together
SQL_CORPUS_CLEAN = (
    SQL_CORPUS_CLEAN.replace("{SQL_QUALITY_FILTER}", SQL_QUALITY_FILTER)
    .replace("{SQL_DECONTAMINATE_NGRAM}", SQL_DECONTAMINATE_NGRAM)
    .replace("{SQL_PII_ON_SURV}", _SQL_PII_TEMPLATE.replace("{SRC}", "surv"))
)


# ------------------------------------------------------- events: stream analytics (batch twins)
# The `events` table is the stream-shaped input (event_id, ts, user_id,
# event_type, value, props). These two queries are the BATCH-verified twins
# of the Structured Streaming semantics the engine ships
# (streaming/incremental.py, streaming/frontier.py): gap sessionization is
# what `applyInPandasWithState`-style session windows compute, and the
# tumbling rollup is `groupBy(window(ts, ...))`. Epoch-second integers
# (never raw timestamps) keep the cross-engine comparison free of
# timezone/rendering hazards.
SESSION_GAP_SEC = 1800
# Chunk width for the two-pass sessionize. MUST be >= SESSION_GAP_SEC: the
# boundary stitch only compares against the previous NONEMPTY chunk, which
# is exact iff any skipped (empty) chunk forces a gap > SESSION_GAP_SEC —
# guaranteed when every chunk spans at least the gap. Asserted at import.
SESSION_CHUNK_SEC = 3600
assert SESSION_CHUNK_SEC >= SESSION_GAP_SEC


def sessionize_events(e: DataFrame, gap_sec: int = SESSION_GAP_SEC,
                      chunk_sec: int = SESSION_CHUNK_SEC) -> DataFrame:
    """Gap-based sessionization of an (event_id, user_id, t, value) frame
    WITHOUT a bare-user window (round-4 verdict: a bot account at 10⁹
    events must not land in one task). Two-pass chunked plan, value-
    identical to the single-window formulation:

    1. Per-event window keyed (user_id, t div chunk_sec) → within-chunk
       new-session flags and local running session numbers. The heaviest
       key is now bounded by events-per-user-per-hour, not per-user-ever.
    2. Per-(user, chunk) summary (one row per nonempty user-chunk) →
       user-keyed window over CHUNKS (365·24 rows/user-year, never events):
       ``join_prev`` = the chunk's first event continues the previous
       chunk's last session (gap ≤ gap_sec — comparing against the previous
       nonempty chunk is exact because chunk_sec ≥ gap_sec makes any
       skipped chunk an automatic session break), and the running count of
       sessions contributed by earlier chunks. Global session_no =
       prefix + local_no − join_prev, which reproduces the 1-based
       (t, event_id)-ordered numbering of the bare-user window exactly.

    The summary is computed WINDOWLESSLY from the raw events (not from the
    pass-1 frame): n_local = 1 + #{consecutive sorted-t gaps > gap_sec in
    the chunk} — the same count `max(local_no)` would give (t-ties diff to
    0 ≤ gap, so tie order can't affect it), via one hash aggregate over
    `array_sort(collect_list(t))`. Branch independence matters because
    Catalyst prunes the two consumers of the pass-1 window differently, so
    their exchanges never canonicalize equal and ReusedExchange cannot fire
    (measured, round 5) — reusing `ev` here would re-scan AND re-shuffle
    full event rows through a second window sort; the aggregate branch
    ships only (user, chunk, t-list) partials with no sort. Group size is
    bounded by events-per-user-per-chunk, the same bound pass 1's window
    task already carries. Non-null t (the events schema contract) is
    ENFORCED with a per-row raise_error — a null t would increment pass
    1's local_no yet drop from pass 2's collect_list, silently shifting
    every later session_no; the DuckDB twin mirrors the failure.

    The stitch join back to events is keyed (user_id, chunk) — the same
    bounded key as pass 1, so no step of the plan concentrates a monster
    user. Ties break on the unique event_id, deterministic under any
    partitioning."""
    # the non-null-t contract enforced loudly (one map-side CASE, nothing
    # vs the window cost): a NULL t would increment pass 1's local_no but
    # drop out of pass 2's collect_list t-list, silently shifting every
    # later session_no for that user — fail, don't drift (twin mirrors
    # this with error() so the contract is engine-independent)
    e = e.withColumn(
        "t",
        F.when(F.col("t").isNotNull(), F.col("t")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("sessionize_events: NULL t for event_id="),
                    F.col("event_id").cast("string"),
                    F.lit(" — non-null t is required for exact chunked numbering"),
                )
            )
        ),
    )
    e = e.withColumn("chunk", (F.col("t") / chunk_sec).cast("long"))
    w_c = Window.partitionBy("user_id", "chunk").orderBy("t", "event_id")
    gap = F.col("t") - F.lag("t").over(w_c)
    ev = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    ).withColumn("local_no", F.sum("is_new").over(w_c))
    ts_sorted = F.array_sort(F.collect_list("t"))
    n_breaks = F.size(
        F.filter(
            F.zip_with(
                F.slice(ts_sorted, 2, F.greatest(F.size(ts_sorted) - 1, F.lit(0))),
                F.slice(ts_sorted, 1, F.greatest(F.size(ts_sorted) - 1, F.lit(0))),
                lambda a, b: a - b,
            ),
            lambda d: d > gap_sec,
        )
    )
    summ = e.groupBy("user_id", "chunk").agg(
        (n_breaks + F.lit(1)).cast("long").alias("n_local"),
        F.min("t").alias("t_first"),
        F.max("t").alias("t_last"),
    )
    w_u = Window.partitionBy("user_id").orderBy("chunk")
    prev_last = F.lag("t_last").over(w_u)
    summ = summ.withColumn(
        "join_prev",
        F.when(
            prev_last.isNotNull()
            & ((F.col("t_first") - prev_last) <= gap_sec),
            1,
        ).otherwise(0),
    ).withColumn(
        "prefix",
        F.coalesce(
            F.sum(F.col("n_local") - F.col("join_prev")).over(
                w_u.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    stitched = ev.join(
        summ.select("user_id", "chunk", "prefix", "join_prev"),
        ["user_id", "chunk"],
    ).withColumn(
        "session_no",
        F.col("prefix") + F.col("local_no") - F.col("join_prev"),
    )
    return stitched.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("t").alias("t_start"),
        F.max("t").alias("t_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        "user_id", F.col("session_no").cast("long").alias("session_no"),
        "n_events", "t_start", "t_end", "sum_value",
    )


def q_events_sessionize(spark, sf_dir) -> DataFrame:
    """Gap-based sessionization: a session breaks when a user is idle for
    more than SESSION_GAP_SEC. Chunked two-pass plan (see
    :func:`sessionize_events`) so no single user key can concentrate a
    task; output is value-identical to the classic one-window sessionize
    the DuckDB twin spells."""
    # parquet timestamps load as TIMESTAMP_NTZ; the engine session pins
    # spark.sql.session.timeZone=UTC (plans/session.py), so NTZ→LTZ→long is
    # the naive value's epoch seconds — exactly DuckDB's epoch_us(ts)//1e6
    e = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("t"),
        "value",
    )
    return sessionize_events(e)


SQL_EVENTS_SESSIONIZE = f"""WITH e AS (
  -- NULL ts fails loudly on BOTH engines (sessionize_events raise_error
  -- twin): the non-null-t contract is engine-independent
  SELECT event_id, user_id,
         CASE WHEN ts IS NULL
              THEN CAST(error('sessionize twin: NULL ts for event_id=' ||
                              CAST(event_id AS VARCHAR)) AS BIGINT)
              ELSE CAST(epoch_us(ts) // 1000000 AS BIGINT) END AS t,
         value
  FROM events),
m AS (
  SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                      IS NULL
                 OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                      > {SESSION_GAP_SEC}
             THEN 1 ELSE 0 END AS is_new
  FROM e),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id)
              AS session_no
  FROM m)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(t) AS t_start, MAX(t) AS t_end,
       ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, session_no"""


def q_events_hourly(spark, sf_dir) -> DataFrame:
    """Tumbling one-hour rollup per event type — the batch twin of
    ``groupBy(window(ts, "1 hour"), event_type)``. The window key is pure
    epoch arithmetic (map-side), so the whole plan is one hash agg."""
    e = _events(spark, sf_dir)
    t = F.col("ts").cast("timestamp_ltz").cast("long")
    hour = (t - (t % 3600)).alias("hour_start")
    return e.groupBy(hour, "event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_EVENTS_HOURLY = """WITH e AS (
  SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t, event_type, value
  FROM events)
SELECT t - (t % 3600) AS hour_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM e GROUP BY 1, 2"""


QUERIES = {
    "doc_token_stats": q_doc_token_stats,
    "index_stats": q_index_stats,
    "term_df_top100": q_term_df_top100,
    "postings_sample": q_postings_sample,
    "term_idf": q_term_idf,
    "bm25_topk": q_bm25_topk,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lang_dist": q_lang_dist,
    "quality_scores": q_quality_scores,
    "repetition_scores": q_repetition_scores,
    "quality_filter": q_quality_filter,
    "stratified_sample": q_stratified_sample,
    "jaccard_adjacent": q_jaccard_adjacent,
    "embedding_topk": q_embedding_topk,
    "doc_fingerprint": q_doc_fingerprint,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "minhash_jaccard_verified": q_minhash_jaccard_verified,
    "simhash16": q_simhash16,
    "simhash_neardup": q_simhash_neardup_pairs,
    "lang_id_heuristic": q_lang_id_heuristic,
    "token_count_regex": q_token_count_regex,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "embedding_neardup": q_embedding_neardup,
    "dedup_clusters": q_dedup_clusters,
    "dedup_materialize": q_dedup_materialize,
    "pagerank": q_pagerank,
    "pagerank_bucketed": q_pagerank_bucketed,
    "ann_ivf_probe": q_ann_ivf_probe,
    "ann_pq": q_ann_pq,
    "ann_ivfpq": q_ann_ivfpq,
    "phrase_match": q_phrase_match,
    "phrase_sharded": q_phrase_sharded,
    "postings_export_roundtrip": q_postings_export_roundtrip,
    "proximity_cooccur": q_proximity_cooccur,
    "window_cooccur": q_window_cooccur,
    "bm25_stemmed_topk": q_bm25_stemmed_topk,
    "wand_stemmed_topk": q_wand_stemmed_topk,
    "wand_subsplit_topk": q_wand_subsplit_topk,
    "hybrid_topk": q_hybrid_topk,
    "wand_masked_topk": q_wand_masked_topk,
    "bm25_merged_topk": q_bm25_merged_topk,
    "bm25_serving": q_bm25_serving,
    "wand_compacted_topk": q_wand_compacted_topk,
    "multimodal_features": q_multimodal_features,
    "decontaminate_ngram": q_decontaminate_ngram,
    "pii_scrub": q_pii_scrub,
    "corpus_clean": q_corpus_clean,
    "events_sessionize": q_events_sessionize,
    "events_hourly": q_events_hourly,
}

ORACLE_SQL = {
    "doc_token_stats": SQL_DOC_TOKEN_STATS,
    "index_stats": SQL_INDEX_STATS,
    "term_df_top100": SQL_TERM_DF_TOP100,
    "postings_sample": SQL_POSTINGS_SAMPLE,
    "term_idf": SQL_TERM_IDF,
    "bm25_topk": SQL_BM25_TOPK,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "lang_dist": SQL_LANG_DIST,
    "quality_scores": SQL_QUALITY_SCORES,
    "repetition_scores": SQL_REPETITION_SCORES,
    "quality_filter": SQL_QUALITY_FILTER,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "jaccard_adjacent": SQL_JACCARD_ADJACENT,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "minhash_jaccard_verified": SQL_MINHASH_JACCARD_VERIFIED,
    "simhash16": SQL_SIMHASH16,
    "simhash_neardup": SQL_SIMHASH_NEARDUP,
    "lang_id_heuristic": SQL_LANG_ID_HEURISTIC,
    "token_count_regex": SQL_TOKEN_COUNT_REGEX,
    "ann_lsh_bucketed": SQL_ANN_LSH_BUCKETED,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_materialize": SQL_DEDUP_MATERIALIZE,
    "pagerank": SQL_PAGERANK,
    # forced-bucketed path: exact results are contractually identical to
    # the plain path (see q_pagerank_bucketed), so the twin IS SQL_PAGERANK
    "pagerank_bucketed": SQL_PAGERANK,
    "ann_ivf_probe": SQL_ANN_IVF_PROBE,
    "ann_pq": SQL_ANN_PQ,
    "ann_ivfpq": SQL_ANN_IVFPQ,
    "phrase_match": SQL_PHRASE_MATCH,
    "phrase_sharded": SQL_PHRASE_SHARDED,
    "postings_export_roundtrip": SQL_POSTINGS_EXPORT_ROUNDTRIP,
    "proximity_cooccur": SQL_PROXIMITY_COOCCUR,
    "window_cooccur": SQL_WINDOW_COOCCUR,
    # stemmed path: SQL over the driver-side-materialized stemmed token
    # table (__spark_entry__.oracle_sql() runs the materializer first)
    "bm25_stemmed_topk": SQL_BM25_STEMMED_TOPK,
    "wand_stemmed_topk": SQL_WAND_STEMMED_TOPK,
    # forced-sub-split path: exact top-k is contractually unchanged, so the
    # twin IS the wand_stemmed oracle (see q_wand_subsplit_topk docstring)
    "wand_subsplit_topk": SQL_WAND_STEMMED_TOPK,
    # hybrid path: combine twin over the stemmed table + driver-side-
    # materialized embedding vectors (same mechanism, see _build_hybrid_sql)
    "hybrid_topk": SQL_HYBRID_TOPK,
    # tombstone path: the masked-query contract makes the twin the stemmed
    # chain over the SURVIVORS (stats recomputed) — see _build_masked_sql
    "wand_masked_topk": SQL_WAND_MASKED_TOPK,
    # merge path: merged segments must equal the full-corpus build, so the
    # twin IS the full-corpus stemmed oracle
    "bm25_merged_topk": SQL_BM25_STEMMED_TOPK,
    # serving row: metadata + T9/T10 query-relevant snippet (rel_snippet
    # precomputed by the stemmed materializer with the engine's own pure fn)
    "bm25_serving": SQL_BM25_SERVING,
    # compaction path: delete-by-rewrite must equal delete-by-mask must
    # equal a fresh build over the survivors — one twin for all three
    "wand_compacted_topk": SQL_WAND_MASKED_TOPK,
    # the featurizer's SQL-expressible core + frame counts; only the
    # import-gated real decode (multimodal.decode_media) stays un-oracled
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "decontaminate_ngram": SQL_DECONTAMINATE_NGRAM,
    "pii_scrub": SQL_PII_SCRUB,
    "corpus_clean": SQL_CORPUS_CLEAN,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "events_hourly": SQL_EVENTS_HOURLY,
}
