"""Hybrid BM25 + embedding retrieval (reference Q9/Q10).

Re-expresses ``OptimizedSearchIndexer.search`` (optimized_indexer.py:172-203)
and the FAISS embedding path (bert_embeddings.py:82-226) Spark-first:

* **Embedding build** — one Arrow pass over the ``docs`` dimension encodes
  ``f"{title} {title} {description} {snippet}"`` (bert_embeddings.py:106,
  title doubled) into L2-normalized vectors stored as an
  ``array<float>`` column — the Spark analog of the FAISS
  ``IndexFlatL2`` + ``doc_ids.json`` pair (bert_embeddings.py:133-162).
  The real MiniLM encoder is import-gated (sentence-transformers is not in
  this environment); the default encoder is a deterministic hashing-trick
  bag-of-stems stand-in with the same dimensionality/normalization
  contract, so every downstream operator (distance, top-k, combine) is
  real and testable.

* **Embedding search** (Q9, bert_embeddings.py:188-226) — brute-force
  exact top-k: for normalized vectors FAISS's L2 distance is
  ``d = 2 − 2·cos``, and the reference converts it to ``sim = 1/(1+d)``;
  we compute exactly that, distributed (one scan of the embeddings table,
  per-query top-k window). The LSH-bucketed variant in
  plans/entry_queries.py (``ann_lsh_bucketed``) is the approximate scale
  path; this one is the exactness baseline the reference actually runs.

* **Hybrid combine** (Q10, optimized_indexer.py:119-203) — BM25 fetches
  2·k candidates (``:184``), embeddings fetch k; ONLY the intersection
  (by doc) survives, scored ``0.7·bm25_norm + 0.3·sim`` with hard-coded
  weights (``:138-140`` — the config's hybrid_weight is ignored there,
  replicated faithfully); sort desc, top-k. An empty intersection yields an
  EMPTY result — the reference does the same (``combine_results`` returns
  ``[]``; its BM25-only fallback at ``:186-203`` triggers only when the
  embedding index is *unavailable* or the BERT search raises, the analog of
  which here is calling :class:`~searchengine_spark.plans.bm25.BM25SearchEngine`
  directly).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.config import DEFAULT_STOPWORDS
from searchengine_spark.functions import textproc
from searchengine_spark.plans.bm25 import (
    BM25SearchEngine,
    attach_result_metadata,
    local_frame,
)

EMBEDDING_DIM = 384  # MiniLM-L6-v2 dimensionality (utils/config.py:90-93)
BM25_WEIGHT = 0.7  # optimized_indexer.py:138-140 (hard-coded there)
EMB_WEIGHT = 0.3


def _hash_embed(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Deterministic stand-in encoder: signed hashing trick over the
    reference tokenizer's stems, L2-normalized. Same (dim, normalized)
    contract as MiniLM so distance/combine math is exercised for real."""
    vec = np.zeros(dim, dtype=np.float64)
    for tok in textproc.tokenize(text):
        h = hashlib.md5(tok.encode()).digest()
        idx = int.from_bytes(h[:4], "big") % dim
        sign = 1.0 if h[4] & 1 else -1.0
        vec[idx] += sign
    n = np.linalg.norm(vec)
    return (vec / n if n > 0 else vec).astype(np.float32)


def make_encoder():
    """Import-gated: real sentence-transformers encoder if present, else
    the deterministic stand-in."""
    try:
        from sentence_transformers import SentenceTransformer  # noqa

        model = SentenceTransformer("all-MiniLM-L6-v2")

        def encode(texts: list[str]) -> np.ndarray:
            return model.encode(
                texts, convert_to_numpy=True, normalize_embeddings=True
            )

        return encode
    except ImportError:
        return lambda texts: np.stack([_hash_embed(t) for t in texts])


def build_doc_embeddings(docs: DataFrame) -> DataFrame:
    """docs dimension → (doc_id, embedding). Text composition per
    bert_embeddings.py:100-106 (title doubled for weight)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encode = make_encoder()
        for pdf in batches:
            texts = [
                f"{t or ''} {t or ''} {d or ''} {c or ''}"
                for t, d, c in zip(
                    pdf["title"], pdf["description"], pdf["content_snippet"]
                )
            ]
            emb = encode(texts)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "embedding": list(emb.astype(np.float32))}
            )

    return docs.mapInPandas(run, "doc_id string, embedding array<float>")


class HybridSearchEngine:
    """BM25 (2k candidates) + embedding top-k → weighted intersection."""

    def __init__(self, spark: SparkSession, tables, embeddings: DataFrame | None = None):
        self.spark = spark
        self.tables = tables
        self.bm25 = BM25SearchEngine(spark, tables)
        self.embeddings = (
            embeddings if embeddings is not None else build_doc_embeddings(tables.docs)
        )

    def embedding_search_batch(
        self, queries: list[tuple[int, str]], top_k: int = 10, ann_planes=None
    ) -> DataFrame:
        """Q9: per query, sim = 1/(1 + L2²) over normalized vectors
        (bert_embeddings.py:216-226 — FAISS IndexFlatL2 returns squared
        L2), L2² = 2 − 2·dot. Exact top-k via per-query window.

        ``ann_planes`` (a hyperplane list from plans/ann.make_hyperplanes)
        switches to the LSH scale path: the corpus scan is restricted to
        each query's sign bucket (≈2^-n_planes of the table per query) —
        the same pruning as ann.lsh_bucket_topk, with this engine's FAISS
        similarity conversion. Empty list ⇒ one bucket ⇒ exact."""
        encode = make_encoder()
        qvecs = encode([q for _, q in queries])
        dot = F.aggregate(
            F.zip_with("embedding", "qvec", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, z: acc + z.cast("double"),
        )
        if ann_planes is not None:
            from searchengine_spark.plans import ann

            emb = ann.assign_lsh_buckets(self.embeddings, ann_planes)
            qdf = local_frame(
                self.spark,
                [
                    (
                        qid,
                        [float(x) for x in vec],
                        sum(
                            (1 << j)
                            for j, p in enumerate(ann_planes)
                            if float(np.dot(np.asarray(vec, np.float64), p)) > 0
                        ),
                    )
                    for (qid, _), vec in zip(queries, qvecs)
                ],
                "query_id int, qvec array<float>, qbucket int",
            )
            src = emb.join(F.broadcast(qdf), F.col("bucket") == F.col("qbucket"))
        else:
            qdf = local_frame(
                self.spark,
                [
                    (qid, [float(x) for x in vec])
                    for (qid, _), vec in zip(queries, qvecs)
                ],
                "query_id int, qvec array<float>",
            )
            src = self.embeddings.crossJoin(F.broadcast(qdf))
        sims = src.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (F.lit(1.0) + (F.lit(2.0) - F.lit(2.0) * dot))).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .drop("rank")
        )

    def search_batch(
        self,
        queries: list[tuple[int, str]],
        top_k: int = 10,
        stopwords=DEFAULT_STOPWORDS,
        with_metadata: bool = False,
    ) -> DataFrame | None:
        """Q10: intersection-weighted combine, reference order + weights.

        ``with_metadata=True`` attaches the same url/title/description/
        query-relevant-snippet columns the ranked engines return (shared
        :func:`~searchengine_spark.plans.bm25.attach_result_metadata` tail
        over the ≤ k·|batch| combined rows, finished in the driver), so the
        serving layer can put hybrid behind the identical JSON contract
        (app.py:104-194). That result is EAGER and local, already sorted by
        (query_id, rank); without metadata the plan stays lazy and sorts."""
        bm25 = self.bm25.search_batch(
            queries, top_k=2 * top_k, stopwords=stopwords, with_metadata=False
        )
        if bm25 is None:
            return None
        emb = self.embedding_search_batch(queries, top_k=top_k)
        combined = (
            bm25.select("query_id", "doc_id", F.col("score").alias("bm25_score"))
            .join(emb, ["query_id", "doc_id"])
            .select(
                "query_id",
                "doc_id",
                (
                    F.lit(BM25_WEIGHT) * F.col("bm25_score")
                    + F.lit(EMB_WEIGHT) * F.col("sim")
                ).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        out = combined.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= top_k
        )
        if not with_metadata:
            return out.orderBy("query_id", "rank")
        return attach_result_metadata(
            out.select("query_id", "rank", "doc_id", "score"),
            self.bm25._docs,
            queries,
            stopwords,
        )
