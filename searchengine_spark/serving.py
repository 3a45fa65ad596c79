"""Serving layer (EP1): the reference Flask app's endpoints re-expressed
over the Spark engines, on stdlib ``http.server`` (Flask is unavailable in
this environment; the route/JSON contract is the reference's).

Reference parity (app.py):

* ``/search?q=&page=``      — app.py:104-194: 3× over-fetch, excluded-domain
  filter, pagination (the shared :func:`plans.bm25.paginate`).
* ``/api/search?q=&limit=`` — app.py:197-244: 2× over-fetch, excluded-domain
  filter, truncate to ``limit``, ``{'results': [...], 'total': n}``.
* ``/health`` / ``/api/health`` — app.py:246-275: status + document_count +
  term_count + search_mode.

Serving is a presentation concern over already-tiny top-k rows: every
endpoint runs ONE batched Spark plan and slices driver-side, exactly as the
reference front-end does over its in-RAM index. Scale posture: a real
deployment runs many stateless replicas of this service against one shared
(immutable) index — the engine object is read-only, so the handler is
thread-safe under ``ThreadingHTTPServer``.
"""

from __future__ import annotations

import json
import queue
import threading
import time
import urllib.parse
from functools import cached_property
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from searchengine_spark.plans.bm25 import paginate
from searchengine_spark.plans.classify import EXCLUDED_DOMAINS

RESULTS_PER_PAGE = 10  # WEB_CONFIG['results_per_page'] (utils/config.py)
MAX_LIMIT = 100  # request-side cap: limit drives a top_k Spark job
MAX_PAGE = 10_000  # paginate() clamps to total_pages anyway; bound the int


def _clamp_int(raw, default: int, lo: int, hi: int) -> int:
    """Parse a query-string integer defensively: non-numeric → default,
    out-of-range → clamped (negative/huge values must not reach the
    engine or the paginator)."""
    try:
        val = int(raw)
    except (TypeError, ValueError):
        return default
    return max(lo, min(val, hi))


def _by_rank(rows: list) -> list:
    """Collected result rows in (query_id, rank) order — a driver-side sort
    of ≤ k·|batch| rows instead of a Spark ``orderBy`` job."""
    return sorted(rows, key=lambda r: (r["query_id"], r["rank"]))


class PhraseModeUnavailable(ValueError):
    """mode=phrase requested against an engine without a positional
    sharded index — a client error (400), not a server fault."""


class HybridModeUnavailable(ValueError):
    """mode=hybrid requested against a service with no embedding store —
    the analog of the reference's BM25-only fallback trigger
    (optimized_indexer.py:186-203: embedding index unavailable). Served as
    a client error (400) rather than a silent fallback so the caller
    KNOWS the ranking mode it asked for is not what it would get."""


class _MicroBatcher:
    """Micro-batching front for concurrent serving: requests arriving
    within ``window_ms`` of each other dispatch as ONE ``search_batch``
    Spark plan and demux by query_id.

    Why: the engine's per-batch cost is fixed stage overhead, not per-query
    work (measured 264 → 29-35 ms/query going 1 → 210+ queries per batch,
    BASELINE.md) — per-request dispatch leaves that amortization unused,
    which is exactly how the reference serializes requests on one worker
    (app.py:111-194). Per-request results are UNCHANGED by batching:
    scores max-normalize and rank per query_id, so a query scores the same
    alone or among 200 others (asserted in tests/test_serving.py).

    The ranked engines return their ``with_metadata`` result as a local
    frame (plans/bm25.finish_with_metadata), so the dispatch's ``collect``
    starts no Spark job; the ≤ k·|batch| rows are demuxed and ordered by
    rank in Python — an ``orderBy`` would add a sampling job and a sort
    stage to every batch.
    """

    def __init__(self, engine, window_ms: float, max_batch: int = 256):
        self.engine = engine
        self.window = window_ms / 1000.0
        self.max_batch = max_batch
        self.batches_dispatched = 0  # observability + test hook
        self._q: queue.Queue = queue.Queue()
        self._stop = False
        # guards the _stop-check-then-enqueue in submit() against close()'s
        # stop-then-drain: without it a submit preempted between its _stop
        # check and its put() can enqueue AFTER the drain, and that waiter
        # blocks for its full timeout on a slot nothing will ever complete
        # (round-3 verdict finding #2)
        self._gate = threading.Lock()
        self._thread = threading.Thread(
            target=self._loop, name="search-microbatch", daemon=True
        )
        self._thread.start()

    def submit(self, query: str, top_k: int, timeout: float = 300.0) -> list:
        done = threading.Event()
        slot: dict = {"done": done}
        with self._gate:
            if self._stop:
                raise RuntimeError("micro-batcher is shut down")
            self._q.put((query, top_k, slot))
        if not done.wait(timeout=timeout):
            raise TimeoutError("micro-batch dispatch timed out")
        if "err" in slot:
            raise slot["err"]
        return slot["rows"]

    def close(self) -> None:
        with self._gate:
            self._stop = True
        self._thread.join(timeout=5)
        # fail any request still queued at shutdown. The drain is complete:
        # every put() happens under _gate after a _stop re-check, so once
        # _stop is set no new item can ever enter the queue, and the worker
        # has already exited (joined above) — nothing consumes concurrently.
        with self._gate:
            while True:
                try:
                    _q, _k, slot = self._q.get_nowait()
                except queue.Empty:
                    break
                slot["err"] = RuntimeError("micro-batcher shut down")
                slot["done"].set()

    def _loop(self) -> None:
        while not self._stop:
            try:
                first = self._q.get(timeout=0.1)
            except queue.Empty:
                continue
            batch = [first]
            deadline = time.monotonic() + self.window
            while len(batch) < self.max_batch:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    break
                try:
                    batch.append(self._q.get(timeout=remaining))
                except queue.Empty:
                    break
            self._dispatch(batch)

    def _dispatch(self, batch: list) -> None:
        self.batches_dispatched += 1
        try:
            res = self.engine.search_batch(
                [(i, q) for i, (q, _k, _s) in enumerate(batch)],
                top_k=max(k for _q, k, _s in batch),
            )
            by_qid: dict[int, list] = {}
            if res is not None:
                for r in _by_rank(res.collect()):
                    by_qid.setdefault(int(r["query_id"]), []).append(r)
        except Exception as e:  # fan the failure out to every waiter
            for _q, _k, slot in batch:
                slot["err"] = e
                slot["done"].set()
            return
        for i, (_q, k, slot) in enumerate(batch):
            slot["rows"] = by_qid.get(i, [])[:k]
            slot["done"].set()


class SearchService:
    """Engine façade the HTTP layer calls; usable directly in tests/CLI.

    ``engine`` is a BM25SearchEngine or WandSearchEngine (same
    ``search_batch`` contract). Constructing a service starts no Spark job:
    the health counts are computed on the first ``health()`` and cached —
    the reference reads len() of its in-RAM dicts.

    ``batch_window_ms > 0`` routes requests through a :class:`_MicroBatcher`
    so concurrent clients share one Spark plan per window; 0 keeps the
    direct per-request dispatch."""

    def __init__(
        self,
        spark: SparkSession,
        engine,
        search_mode: str = "bm25",
        batch_window_ms: float = 0.0,
        hybrid=None,
    ):
        self.spark = spark
        self.engine = engine
        self.search_mode = search_mode
        # optional plans.hybrid.HybridSearchEngine for ?mode=hybrid
        # (Q10, optimized_indexer.py:119-203); None → 400 on that arm.
        # The engine's embeddings frame is a lazy mapInPandas encode pass
        # over the whole corpus — without a persist, EVERY hybrid request
        # would re-encode every document inside the crossJoin scan.  The
        # service owns the request loop, so it owns the materialization:
        # cache once at construction (mirrors the reference, which loads
        # the FAISS index into memory once at app startup,
        # bert_embeddings.py:188-205).
        self.hybrid = hybrid
        if hybrid is not None and not hybrid.embeddings.is_cached:
            hybrid.embeddings = hybrid.embeddings.cache()
        self.batcher = (
            _MicroBatcher(engine, batch_window_ms) if batch_window_ms > 0 else None
        )

    @cached_property
    def document_count(self) -> int:
        tables = getattr(self.engine, "tables", None)
        if tables is not None:
            return int(tables.stats.collect()[0]["n_docs"])
        return int(self.engine.index.n_docs)

    @cached_property
    def term_count(self) -> int:
        tables = getattr(self.engine, "tables", None)
        src = tables if tables is not None else self.engine.index
        return int(src.term_stats.count())

    # -- app.py:104-194 ------------------------------------------------
    def search(
        self,
        query: str,
        page: int = 1,
        per_page: int = RESULTS_PER_PAGE,
        mode: str = "ranked",
    ) -> dict:
        rows = self._dispatch(query, top_k=per_page * 3, mode=mode)
        page_data = paginate(rows, page=page, per_page=per_page)
        page_data["query"] = query
        page_data["search_source"] = (
            mode if mode in ("phrase", "hybrid") else self.search_mode
        )
        return page_data

    # -- app.py:197-244 ------------------------------------------------
    def api_search(
        self, query: str, limit: int = RESULTS_PER_PAGE, mode: str = "ranked"
    ) -> dict:
        if not query:
            return {"results": [], "total": 0}
        rows = self._dispatch(query, top_k=limit * 2, mode=mode)[:limit]
        return {"results": rows, "total": len(rows)}

    def _dispatch(self, query: str, top_k: int, mode: str) -> list[dict]:
        if mode == "phrase":
            return self._ranked_phrase(query, top_k=top_k)
        if mode == "hybrid":
            return self._ranked_hybrid(query, top_k=top_k)
        return self._ranked(query, top_k=top_k)

    # -- app.py:246-275 ------------------------------------------------
    def health(self) -> dict:
        return {
            "status": "healthy",
            "index_loaded": True,
            "document_count": self.document_count,
            "term_count": self.term_count,
            "search_mode": self.search_mode,
        }

    def _ranked(self, query: str, top_k: int) -> list[dict]:
        if self.batcher is not None:
            rows = self.batcher.submit(query, top_k)
        else:
            res = self.engine.search_batch([(0, query)], top_k=top_k)
            rows = [] if res is None else _by_rank(res.collect())
        return self._rows_to_results(rows, source=self.search_mode)

    def _ranked_hybrid(self, query: str, top_k: int) -> list[dict]:
        """Hybrid BM25+embedding arm (plans/hybrid.py, Q10) behind the same
        JSON contract: 0.7·bm25_norm + 0.3·sim over the candidate
        intersection, metadata via the shared attach_result_metadata tail,
        F11 domain filter applied like every other arm. Requires the
        service to have been constructed with a hybrid engine (an
        embedding store) — otherwise a client error, mirroring the
        reference's embedding-index-unavailable condition."""
        if self.hybrid is None:
            raise HybridModeUnavailable("no embedding store on this service")
        res = self.hybrid.search_batch(
            [(0, query)], top_k=top_k, with_metadata=True
        )
        rows = [] if res is None else _by_rank(res.collect())
        return self._rows_to_results(rows, source="hybrid")

    def _ranked_phrase(self, query: str, top_k: int) -> list[dict]:
        """Positional phrase arm (plans/phrase.py) behind the same JSON
        contract as the ranked arm: score = phrase occurrence count,
        tombstone-mask aware (a masked doc can never surface), F11 domain
        filter applied like the ranked path. Requires the engine to hold a
        positional sharded index — the exhaustive BM25 engine (logical
        tables) has no position streams, so the request is a client error,
        not a 500."""
        from searchengine_spark.plans import phrase as phrase_mod

        index = getattr(self.engine, "index", None)
        if index is None or not getattr(index, "with_positions", False):
            raise PhraseModeUnavailable(
                "phrase mode needs a positional sharded index"
            )
        res = phrase_mod.phrase_match_sharded(
            self.spark,
            index,
            query,
            top_k=top_k,
            mask=getattr(self.engine, "mask", None),
            extra_cols=("title", "description"),
        )
        # phrase_match_sharded(top_k=...) already caps the result frame
        rows = res.collect()
        return self._rows_to_results(rows, source="phrase", score_col="phrase_tf")

    def _rows_to_results(
        self, rows, source: str, score_col: str = "score"
    ) -> list[dict]:
        out = []
        for r in rows:
            url = (r["url"] or "").lower()
            # F11 (app.py:136-154): front-end substring domain filter
            if any(d in url for d in EXCLUDED_DOMAINS):
                continue
            out.append(
                {
                    "doc_id": r["doc_id"],
                    "url": r["url"],
                    "title": r["title"],
                    "meta_description": r["description"],
                    "content_snippet": r["content_snippet"],
                    "score": float(r[score_col]),
                    "source": source,
                }
            )
        return out


def make_handler(service: SearchService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test servers
            pass

        def _json(self, obj, status: int = 200):
            body = json.dumps(obj).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            qs = urllib.parse.parse_qs(parsed.query)
            q = qs.get("q", [""])[0]
            # unknown modes fall back to ranked (clamp-style defensive
            # parsing, same policy as the numeric params)
            mode = qs.get("mode", ["ranked"])[0]
            if mode not in ("ranked", "phrase", "hybrid"):
                mode = "ranked"
            try:
                if parsed.path in ("/health", "/api/health"):
                    self._json(service.health())
                elif parsed.path == "/api/search":
                    limit = _clamp_int(
                        qs.get("limit", [RESULTS_PER_PAGE])[0],
                        default=RESULTS_PER_PAGE, lo=1, hi=MAX_LIMIT,
                    )
                    self._json(service.api_search(q, limit=limit, mode=mode))
                elif parsed.path == "/search":
                    page = _clamp_int(
                        qs.get("page", ["1"])[0], default=1, lo=1, hi=MAX_PAGE
                    )
                    self._json(service.search(q, page=page, mode=mode))
                else:
                    self._json({"error": "not found"}, status=404)
            except PhraseModeUnavailable:
                # client error; generic message, no internals echoed
                self._json(
                    {"error": "phrase mode unavailable on this index"},
                    status=400,
                )
            except HybridModeUnavailable:
                self._json(
                    {"error": "hybrid mode unavailable on this service"},
                    status=400,
                )
            except Exception:  # app.py returns 500 + error payload
                # never echo internals (paths, plan text) to HTTP clients;
                # log server-side, return a generic payload
                import logging

                logging.getLogger(__name__).exception("search request failed")
                self._json(
                    {"status": "unhealthy", "error": "internal error"},
                    status=500,
                )

    return Handler


def serve(service: SearchService, port: int = 0) -> ThreadingHTTPServer:
    """Bind (port=0 → ephemeral) and return the server; caller drives
    ``serve_forever`` (typically on a thread) and ``shutdown``."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(service))
