"""The benchmark's workloads. Each reaches the engine only through its
public API and times every call at that boundary (``trace.py``).

A workload function takes a :class:`Run`, builds its inputs from
``Run.seed`` with the code under test, calls ``Run.setup_done()`` and then
measures for ``Run.seconds``. It returns a :class:`Result`: operations
attempted and failed, throughput and per-operation latencies, and the
workload's own figures, which ``run.py`` prints by name in the detail line.
"""

from __future__ import annotations

import bisect
import contextlib
import hashlib
import itertools
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

from perfbench import host, stats
from perfbench.trace import EngineProxy, Tracer

# ---------------------------------------------------------------- sizes
SERVE_DOCS = 2000  # serve-rw index
SERVE_READERS = 3
SERVE_WINDOW_MS = 20.0  # micro-batch window
SERVE_POOL = 240  # query pool drawn by Zipf, larger than the 21 references
# query popularity follows the same law as the corpus's word frequencies
# (webgen draws its vocabulary from Zipf(1.07))
SERVE_ZIPF_S = 1.07
TAKEDOWN_DOCS = 100
# the entry contract's sf0.01 table has 500 docs; at this size two rounds
# of the three ops fit a 15 s window
NEARDUP_DOCS = 300
# ordinary docs draw their words from this many; a large vocabulary keeps
# their chance MinHash collisions, whose number varies with the seed, few
# next to the planted family's pairs
NEARDUP_VOCAB = 30_000
NEARDUP_EMBED_CLUSTER = 10  # planted near-identical embeddings
# small table for the closure twin's check: dedup_materialize's DuckDB twin
# peaks at ~4 GB of resident memory on the 300-doc table, which would then
# dominate peak_rss_mb
NEARDUP_ORACLE_DOCS = 120
# planted boilerplate family = the hottest bucket. On the entry contract's
# sf0.01 documents table the hottest MinHash band bucket holds 397 of 500
# docs (79%); a family of 82% of the docs fills the hottest bucket to the
# same 79-80%, because a word substitution moves some members' min-hash
NEARDUP_FAMILY_SHARE = 0.82
NEARDUP_OPS = ("minhash_jaccard_verified", "simhash_neardup", "dedup_materialize")
TOP_K = 10
CHECK = "perfbench.check"  # job group of the benchmark's own verification jobs


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    cores: int
    trace: bool
    setup_only: bool = False
    setup_end: float | None = None
    window_cpu_s: float | None = None  # CPU of the process tree in the window
    _cpu0: float = 0.0

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()
        if self.setup_only:
            raise SetupOnly
        self._cpu0 = host.tree_cpu_s(os.getpid())

    def window_done(self) -> None:
        self.window_cpu_s = host.tree_cpu_s(os.getpid()) - self._cpu0


class SetupOnly(Exception):
    """Raised at the end of set-up when the run measures only its set-up."""


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_ok: bool = True
    throughput_per_s: float = 0.0
    latencies_s: list = field(default_factory=list)
    p50_s: float | None = None  # the median latency, when not that of latencies_s
    detail: dict = field(default_factory=dict)
    # per-layer figures only the workload can see (counts, sizes)
    layers: dict = field(default_factory=dict)


def _dir_bytes(path: str, skip: tuple = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def timing(values: list[float], prefix: str) -> dict:
    """``<prefix>_p50_s`` and ``<prefix>_tail_s``, with the tail's
    percentile (or ``max``) and the sample count."""
    if not values:
        return {}
    tail, pct, n = stats.tail(values)
    return {
        f"{prefix}_p50_s": statistics.median(values),
        f"{prefix}_tail_s": tail,
        f"{prefix}_tail_percentile": "max" if pct is None else pct,
        f"{prefix}_samples": n,
    }


# ---------------------------------------------------------------- shared set-up
@contextlib.contextmanager
def _build_layers(tracer: Tracer):
    """Split ``build_and_write_sharded`` into its two public stages: the
    stage-1 tokenize write (``operators.index_build``) and the sharded
    posting build that follows (``shards.shard_and_write_from_tokenized``,
    ``operators.shards``). The production entry point calls the second
    through its module global, so wrapping that global is a call boundary
    seen from outside."""
    from searchengine_spark.operators import shards

    inner = shards.shard_and_write_from_tokenized

    def wrapped(*args, **kwargs):
        with tracer.span("operators.shards"):
            return inner(*args, **kwargs)

    shards.shard_and_write_from_tokenized = wrapped
    try:
        with tracer.span("operators.index_build"):
            yield
    finally:
        shards.shard_and_write_from_tokenized = inner


def write_pages(run: Run, n_docs: int, path: str) -> int:
    """Seeded webgen corpus → parquet; returns its bytes on disk."""
    from searchengine_spark.sources import webgen

    with run.tracer.span("sources.webgen"):
        webgen.generate_spark(
            run.spark, n_docs, seed=run.seed, partitions=run.cores
        ).write.mode("overwrite").parquet(path)
    return _dir_bytes(path)


def build_index(run: Run, pages_path: str, out: str):
    """The production build with the code under test; returns the index as
    read back from disk."""
    from searchengine_spark.operators import shards

    pages = run.spark.read.parquet(pages_path)
    with _build_layers(run.tracer):
        shards.build_and_write_sharded(run.spark, pages, out, n_shards=run.cores)
    return shards.read_sharded_index(run.spark, out)


def index_files_bytes(path: str) -> int:
    """Bytes of the served index (the stage-1 ``tokenized`` scratch table
    the build leaves beside it is not part of it)."""
    return _dir_bytes(path, skip=("tokenized",))


# ---------------------------------------------------------------- serve-rw
def query_pool(seed: int) -> list[str]:
    """The 21 reference queries plus seeded one- and two-term queries over
    the corpus vocabulary, in seeded order (rank 0 is the hottest)."""
    from searchengine_spark.sources import webgen

    vocab = webgen.vocabulary(seed)
    rng = random.Random(seed * 31 + 5)
    pool = [q for _, q in webgen.reference_queries(seed)]
    while len(pool) < SERVE_POOL:
        if rng.random() < 0.5:
            pool.append(rng.choice(vocab[50:1500]))
        else:
            pool.append(f"{rng.choice(vocab[30:800])} {rng.choice(vocab[200:2500])}")
    rng.shuffle(pool)
    return pool


def zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


class _ServiceSlot:
    """The service readers currently use; the writer swaps in a new one."""

    def __init__(self, svc):
        self._lock = threading.Lock()
        self.svc = svc
        self.all = [svc]

    def get(self):
        with self._lock:
            return self.svc

    def swap(self, svc) -> None:
        with self._lock:
            self.svc = svc
            self.all.append(svc)


def _compact(run: Run, index, takedowns: list, service, slot, probe: str,
             res: Result) -> dict:
    """After the window of a traced run: compact the first takedown away
    with a selective ``merge.apply_tombstones``, serve the compacted index
    masked by the later takedowns, and check one read (query ``probe``) on
    it. In the window, a compaction (~20 s here) would outlast it and make
    the read latency swing with the share of reads it overlaps; after the
    window of every run, it would not fit the run budget. Returns the merge
    layer's figures."""
    from searchengine_spark.operators import merge, tombstones

    def frame(docs):
        return run.spark.createDataFrame([(d,) for d in sorted(docs)], "doc_id string")

    first, killed = takedowns[0][1], takedowns[-1][1]
    out = os.path.join(run.work, "compacted")
    with run.tracer.span("operators.merge"):
        idx = merge.apply_tombstones(run.spark, index, frame(first), out_path=out)
    mask = None
    if killed - first:
        with run.tracer.span("operators.tombstones"):
            mask = tombstones.build_mask(run.spark, idx, frame(killed - first))
    slot.swap(service(idx, mask))
    ids = [r["doc_id"] for r in slot.get().api_search(probe, limit=TOP_K)["results"]]
    res.attempted += 1
    res.failed += not killed.isdisjoint(ids)
    written = index_files_bytes(out)
    return {
        "operators.merge.bytes_written": written,
        "operators.merge.write_amplification":
            written / index_files_bytes(os.path.join(run.work, "index")),
    }


def serve_rw(run: Run) -> Result:
    """Three closed-loop readers on the micro-batched service while one
    writer takes docs down: a tombstone mask, then a fresh service over the
    masked index. The writer paces itself by the reads, one takedown per
    read batch: the first at the window start, each later one as soon as a
    read completes after the last takedown ended, so each read batch
    overlaps one takedown from its start. Set-up builds the index with the
    production sharded build, so the build is timed (``build_s``, inside
    ``setup_s``) and traced here too. A traced run then compacts the first
    takedown away and serves the compacted index (see ``_compact``)."""
    from searchengine_spark import serving
    from searchengine_spark.operators import tombstones
    from searchengine_spark.plans.wand import WandSearchEngine

    res = Result()
    spark, tracer = run.spark, run.tracer
    pages = os.path.join(run.work, "pages")
    input_bytes = write_pages(run, SERVE_DOCS, pages)
    index = build_index(run, pages, os.path.join(run.work, "index"))
    build_s = tracer.wall_s("operators.index_build")
    with tracer.span(CHECK):
        doc_ids = sorted(r["doc_id"] for r in index.docs.select("doc_id").collect())

    def service(idx, mask):
        proxy = EngineProxy(WandSearchEngine(spark, idx, mask=mask), tracer)
        with tracer.span("serving"):
            return serving.SearchService(
                spark, proxy, search_mode="wand", batch_window_ms=SERVE_WINDOW_MS
            )

    slot = _ServiceSlot(service(index, None))
    pool = query_pool(run.seed)
    cum = zipf_cum_weights(len(pool), SERVE_ZIPF_S)
    res.setup_ok = isinstance(slot.get().api_search(pool[0], limit=TOP_K)["results"], list)
    run.setup_done()

    stop = threading.Event()
    read_done = threading.Condition()
    last_read = [float("-inf")]  # completion time of the latest read
    reads: list = []  # (submitted, done, doc_ids, ok, service)
    takedowns: list = []  # (visible at, cumulative killed set, seconds)
    write_errors: list = []

    def reader(i: int) -> None:
        rng = random.Random(run.seed * 7919 + i)
        while not stop.is_set():
            q = rng.choices(pool, cum_weights=cum)[0]
            t0 = time.perf_counter()
            svc = slot.get()
            try:
                out = svc.api_search(q, limit=TOP_K)
                ids, ok = [r["doc_id"] for r in out["results"]], True
            except Exception:  # a failed read counts against failed_ratio
                ids, ok = [], False
            t1 = time.perf_counter()
            reads.append((t0, t1, ids, ok, svc))
            with read_done:
                last_read[0] = t1
                read_done.notify_all()

    def writer() -> None:
        rng = random.Random(run.seed * 104729 + 1)
        live, killed = list(doc_ids), []
        try:
            while not stop.is_set():
                victims = set(rng.sample(live, TAKEDOWN_DOCS))
                live = [d for d in live if d not in victims]
                killed.extend(sorted(victims))
                tomb = spark.createDataFrame([(d,) for d in killed], "doc_id string")
                t0 = time.perf_counter()
                with tracer.span("operators.tombstones"):
                    mask = tombstones.build_mask(spark, index, tomb)
                slot.swap(service(index, mask))
                t1 = time.perf_counter()
                takedowns.append((t1, frozenset(killed), t1 - t0))
                with read_done:
                    read_done.wait_for(lambda: stop.is_set() or last_read[0] > t1)
        except Exception as e:  # reported; the run then counts as failed
            write_errors.append(repr(e))

    threads = [threading.Thread(target=reader, args=(i,), name=f"reader{i}")
               for i in range(SERVE_READERS)]
    threads.append(threading.Thread(target=writer, name="writer"))
    start = time.perf_counter()
    for t in threads:
        t.start()
    stop.wait(run.seconds)
    stop.set()
    with read_done:
        read_done.notify_all()
    for t in threads:
        t.join(timeout=150)
    run.window_done()

    # a read issued after a takedown became visible must not return its
    # docs. Every read issued in the window counts, the last ones up to
    # their completion: the readers run in lockstep, and dropping the reads
    # in flight at the deadline would drop a whole batch or keep it by chance
    visible = [t for t, _k, _s in takedowns]
    wrong = 0
    for t0, _t1, ids, ok, _svc in reads:
        j = bisect.bisect_left(visible, t0) - 1
        if ok and j >= 0 and not takedowns[j][1].isdisjoint(ids):
            wrong += 1
    failed_reads = sum(not r[3] for r in reads)
    res.attempted = len(reads) + len(takedowns) + len(write_errors)
    res.failed = wrong + failed_reads + len(write_errors)
    res.latencies_s = [t1 - t0 for t0, t1, *_ in reads]
    res.throughput_per_s = len(reads) / (max(r[1] for r in reads) - start)
    compaction = (_compact(run, index, takedowns, service, slot, pool[0], res)
                  if run.trace and takedowns else {})
    for svc in slot.all:
        svc.batcher.close()

    # serving layer seen from outside: a read rides the first batch its
    # service's engine started after the read was issued
    waits = []
    for t0, t1, _ids, _ok, svc in reads:
        starts = [s.start for s in svc.engine.spans]
        k = bisect.bisect_left(starts, t0)
        if k < len(starts) and starts[k] <= t1:
            waits.append(starts[k] - t0)
    engine_walls = [s.wall_s for svc in slot.all for s in svc.engine.spans]
    n_batches = sum(svc.batcher.batches_dispatched for svc in slot.all)
    res.layers = {
        "serving.queue_wait_p50_s": statistics.median(waits) if waits else 0.0,
        "serving.engine_p50_s": statistics.median(engine_walls) if engine_walls else 0.0,
        # requests: the reads, the warm-up read and a traced run's probe
        "serving.batch_size_mean":
            (len(reads) + 1 + bool(compaction)) / n_batches if n_batches else 0.0,
        **compaction,
    }
    res.detail = {
        "read_qps": res.throughput_per_s,
        **timing(res.latencies_s, "read_latency"),
        **timing([s for _t, _k, s in takedowns], "takedown_visible"),
        "takedowns": len(takedowns),
        "compaction_s": run.tracer.wall_s("operators.merge") if compaction else None,
        "read_timeline": [(round(t0 - start, 2), round(t1 - t0, 2)) for t0, t1, *_ in reads],
        "wrong_reads": wrong,
        "write_errors": write_errors[:3],
        "index_docs": SERVE_DOCS,
        "build_s": build_s,
        "build_docs_per_s": SERVE_DOCS / build_s,
        "index_bytes_per_input_byte":
            index_files_bytes(os.path.join(run.work, "index")) / input_bytes,
    }
    return res


# ---------------------------------------------------------------- neardup
def _neardup_tables(seed: int, n_docs: int, out: str) -> None:
    """A seeded ``documents`` table (doc_id, text, lang, source, n_chars)
    and its ``embeddings`` twin (vec_id = doc_id). Ordinary docs draw their
    words uniformly from a ``NEARDUP_VOCAB``-word vocabulary, so their
    MinHash buckets stay small; a planted boilerplate family of
    ``NEARDUP_FAMILY_SHARE`` of the docs shares one text with two word substitutions each, so the
    family fills the hottest MinHash bucket. The first
    ``NEARDUP_EMBED_CLUSTER`` family members also share one embedding with
    small noise: a cluster ``dedup_materialize`` collapses to one row. (The
    DuckDB twin's transitive closure grows steeply with cluster size, so
    the cluster stays small enough to check at set-up.)"""
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    syll = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    words = set()
    while len(words) < NEARDUP_VOCAB:
        words.add("".join(rng.choices(syll, k=rng.randint(2, 4))))
    words = sorted(words)
    boiler = rng.choices(words, k=60)
    family = rng.sample(range(n_docs), int(n_docs * NEARDUP_FAMILY_SHARE))
    cluster = set(family[:NEARDUP_EMBED_CLUSTER])
    family = set(family)
    base = nrng.standard_normal(64)
    texts, vecs = [], []
    for d in range(n_docs):
        if d in family:
            toks = list(boiler)
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(words)
        else:
            toks = rng.choices(words, k=rng.randint(30, 90))
        if d in cluster:
            v = base + 0.05 * nrng.standard_normal(64)
        else:
            v = nrng.standard_normal(64)
        texts.append(" ".join(toks))
        vecs.append((v / np.linalg.norm(v)).astype(np.float32))
    os.makedirs(out, exist_ok=True)
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{d % 7}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(os.path.join(out, "documents.parquet"), index=False)
    pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": vecs,
        "label": np.array([int(d in family) for d in range(n_docs)], dtype=np.int32),
    }).to_parquet(os.path.join(out, "embeddings.parquet"), index=False)


def rows_digest(rows: list, cols: list[str]) -> str:
    """Order-insensitive digest of result rows (floats rounded to 9
    places), comparable between Spark rows and DuckDB tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        norm.append(repr(tuple(vals)))
    return hashlib.sha256("\n".join(sorted(norm)).encode()).hexdigest()


def _duckdb(sf: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, t + '.parquet')}')")
    return con


def _twin(con, op: str) -> tuple[list, str]:
    """(sorted column names, row digest) of ``op``'s DuckDB twin."""
    from searchengine_spark.plans.entry_queries import ORACLE_SQL

    res = con.execute(ORACLE_SQL[op])
    cols = [d[0] for d in res.description]
    return sorted(cols), rows_digest(res.fetchall(), cols)


def _spark_op(run: Run, op: str, sf: str, layer: str) -> tuple[float, list, str, list]:
    """(wall of the call, sorted column names, row digest, rows) of ``op``
    on Spark; the wall leaves the digest out."""
    from searchengine_spark.plans.entry_queries import QUERIES

    t0 = time.perf_counter()
    with run.tracer.span(layer):
        df = QUERIES[op](run.spark, sf)
        rows = df.collect()
    wall = time.perf_counter() - t0
    return wall, sorted(df.columns), rows_digest([tuple(r) for r in rows], df.columns), rows


def neardup(run: Run) -> Result:
    """The three near-dup pipelines of the entry contract over a table
    whose hottest MinHash bucket holds a planted boilerplate family.

    Every result is checked against the op's DuckDB twin
    (``entry_queries.ORACLE_SQL``), computed at set-up. The transitive
    closure in ``dedup_materialize``'s twin is a recursive CTE that peaks at
    ~4 GB at this table size, so that op is checked against its twin on a
    small table of the same generator at set-up, and each measured round
    must repeat its result of the set-up's warm-up round on the large one."""
    from searchengine_spark.plans.entry_queries import QUERIES

    res = Result()
    sf = os.path.join(run.work, "sf")
    _neardup_tables(run.seed, NEARDUP_DOCS, sf)
    small = os.path.join(run.work, "sf_small")
    _neardup_tables(run.seed, NEARDUP_ORACLE_DOCS, small)
    con = _duckdb(sf)
    try:
        expected = {op: _twin(con, op) for op in NEARDUP_OPS if op != "dedup_materialize"}
    finally:
        con.close()
    con = _duckdb(small)
    try:
        want = _twin(con, "dedup_materialize")
    finally:
        con.close()
    got = _spark_op(run, "dedup_materialize", small, CHECK)
    res.setup_ok = got[1:3] == want
    # a warm-up round (the first one in a session runs ~50% slower); it
    # also fixes the large table's closure result later rounds must repeat
    for op in NEARDUP_OPS:
        _wall, cols, digest, _rows = _spark_op(run, op, sf, CHECK)
        res.setup_ok &= expected.setdefault(op, (cols, digest)) == (cols, digest)
    run.setup_done()

    # a sample is one op call (one entry query); a round of the three ops
    # takes ~10 s here, so a window holds too few rounds for a median over
    # rounds. The window ends on a whole round, so every op is called as
    # often as the others.
    calls, verified_pairs, result_rows = {op: [] for op in NEARDUP_OPS}, 0, {}
    start = time.perf_counter()
    while True:
        for op in NEARDUP_OPS:
            wall, cols, digest, rows = _spark_op(run, op, sf, f"plans.entry_queries.{op}")
            calls[op].append(wall)
            res.attempted += 1
            res.failed += (cols, digest) != expected[op]
            result_rows[op] = len(rows)
            if op == "minhash_jaccard_verified":
                verified_pairs = sum(int(r["is_dup"]) for r in rows)
        if time.perf_counter() - start >= run.seconds:
            break
    run.window_done()
    rounds = len(calls[NEARDUP_OPS[0]])
    res.latencies_s = [t for op in NEARDUP_OPS for t in calls[op]]
    res.throughput_per_s = NEARDUP_DOCS * rounds / sum(res.latencies_s)
    # the middle op's median call: ops differ in cost, and a median over
    # all calls would mix two ops' calls whenever their times overlap
    by_op = {op: statistics.median(ts) for op, ts in calls.items()}
    res.p50_s = statistics.median(by_op.values())
    if run.trace:  # after the window, so both set-ups do the same work
        with run.tracer.span(CHECK):
            cand = QUERIES["minhash_lsh_pairs"](run.spark, sf).count()
        res.layers.update({
            "plans.entry_queries.candidate_pairs": float(cand),
            "plans.entry_queries.verified_pairs": float(verified_pairs),
            "plans.entry_queries.verified_ratio": verified_pairs / cand if cand else 0.0,
        })
    res.detail = {
        "neardup_docs_per_s": res.throughput_per_s,
        **timing(res.latencies_s, "call"),
        "call_p50_s": res.p50_s,
        "rounds": rounds,
        "call_p50_s_by_op": by_op,
        "docs": NEARDUP_DOCS,
        "family_share": NEARDUP_FAMILY_SHARE,
        "closure_check_docs": NEARDUP_ORACLE_DOCS,
        "result_rows": result_rows,
    }
    return res


WORKLOADS = {
    "serve-rw": serve_rw,
    "neardup": neardup,
}
