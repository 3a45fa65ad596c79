"""Per-layer metrics of a traced run.

Every name in ``PER_LAYER`` is reported on every workload; a layer that
does not run on a workload reports 0. Repeated calls are reported per call
(per build, per WAND batch, per takedown, per compaction, per near-dup
operation) so that runs of different length compare.
"""

from __future__ import annotations

import time

from perfbench.eventlog import LayerStats
from perfbench.workloads import NEARDUP_OPS

PER_LAYER = {
    "plans.session.session_s": "s",
    "functions.textproc.docs_per_core_s": "1/s",
    "operators.index_build.wall_s": "s",
    "operators.index_build.cpu_s": "s",
    "operators.index_build.python_s": "s",
    "operators.index_build.input_bytes": "bytes",
    "operators.index_build.output_bytes": "bytes",
    "operators.index_build.task_skew": "ratio",
    "operators.shards.wall_s": "s",
    "operators.shards.cpu_s": "s",
    "operators.shards.shuffle_write_bytes": "bytes",
    "operators.shards.shuffle_read_bytes": "bytes",
    "operators.shards.spill_bytes": "bytes",
    "operators.shards.output_bytes": "bytes",
    "operators.shards.task_skew": "ratio",
    "operators.shards.jobs": "count",
    "operators.shards.encode_postings_per_core_s": "1/s",
    "plans.wand.wall_s": "s",
    "plans.wand.cpu_s": "s",
    "plans.wand.input_bytes": "bytes",
    "plans.wand.input_records": "count",
    "plans.wand.shuffle_bytes": "bytes",
    "plans.wand.jobs": "count",
    "plans.wand.stages": "count",
    "plans.wand.tasks": "count",
    "plans.wand.task_skew": "ratio",
    "serving.queue_wait_p50_s": "s",
    "serving.engine_p50_s": "s",
    "serving.batch_size_mean": "count",
    "operators.tombstones.wall_s": "s",
    "operators.tombstones.cpu_s": "s",
    "operators.merge.wall_s": "s",
    "operators.merge.bytes_written": "bytes",
    "operators.merge.write_amplification": "ratio",
    **{
        f"plans.entry_queries.{op}.{m}": u
        for op in NEARDUP_OPS
        for m, u in (("wall_s", "s"), ("cpu_s", "s"),
                     ("shuffle_bytes", "bytes"), ("task_skew", "ratio"))
    },
    "plans.entry_queries.candidate_pairs": "count",
    "plans.entry_queries.verified_pairs": "count",
    "plans.entry_queries.verified_ratio": "ratio",
    "trace.overhead_s": "s",
}


def textproc_docs_per_core_s(seed: int, budget_s: float = 0.5) -> float:
    """Stage-1 per-doc functions (the body of the tokenize kernel: title,
    meta, snippet, three filtered tokenizations, field signatures, doc id)
    on a seeded webgen sample, in docs per CPU-second of this one thread."""
    from searchengine_spark.config import DEFAULT_STOPWORDS
    from searchengine_spark.functions import fieldsig, textproc
    from searchengine_spark.sources import webgen

    pdf = webgen.generate_pandas(200, seed=seed)
    htmls = [b.decode("utf-8", errors="replace") for b in pdf["html"]]
    done, t0 = 0, time.process_time()
    while time.process_time() - t0 < budget_s:
        titles = [textproc.extract_title_from_html(h) for h in htmls]
        metas = [textproc.extract_meta_description(h) for h in htmls]
        snippets = [textproc.make_snippet(t) for t in pdf["text"]]
        fieldsig.sig_words_batch(titles, metas, snippets)
        for url, title, meta, text in zip(pdf["url"], titles, metas, pdf["text"]):
            textproc.doc_id_for_url(url)
            for field in (title, meta, text):
                textproc.tokenize_filtered(field, DEFAULT_STOPWORDS)
        done += len(htmls)
    return done / (time.process_time() - t0)


def encode_postings_per_core_s(seed: int, budget_s: float = 0.5) -> float:
    """``shards.encode_blocks_pdf`` on a fixed seeded posting sample
    (2,000 terms, Zipf document frequencies), in postings per CPU-second."""
    import numpy as np
    import pandas as pd

    from searchengine_spark.operators import shards

    rng = np.random.default_rng(seed)
    n_docs, rows = 20_000, []
    for t in range(2000):
        df = min(n_docs, max(1, int(4000 / (t + 1))))
        docnos = np.sort(rng.choice(n_docs, size=df, replace=False))
        rows.append(pd.DataFrame({
            "shard": (docnos % 4).astype(np.int32),
            "term": f"t{t:05d}",
            "docno": docnos.astype(np.int64),
            "tf": rng.integers(1, 6, size=df).astype(np.float64),
            "doc_len": rng.integers(20, 400, size=df).astype(np.float64),
            "flags": rng.integers(0, 8, size=df).astype(np.int64),
        }))
    pdf = pd.concat(rows, ignore_index=True)
    done, t0 = 0, time.process_time()
    while time.process_time() - t0 < budget_s:
        shards.encode_blocks_pdf(pdf, avgdl=150.0, block_size=128)
        done += len(pdf)
    return done / (time.process_time() - t0)


def _per(total: float, calls: int) -> float:
    return total / calls if calls else 0.0


def per_layer(tracer, groups: dict[str, LayerStats], workload_layers: dict,
              session_s: float) -> tuple[dict[str, float], dict]:
    """Tracer spans + event-log groups → (every ``PER_LAYER`` metric,
    notes printed in the detail line)."""
    out = {name: 0.0 for name in PER_LAYER}
    notes = {}
    g = lambda layer: groups.get(layer) or LayerStats()  # noqa: E731
    out["plans.session.session_s"] = session_s

    builds = len(tracer.of("operators.index_build"))
    if builds:
        ib, sh = g("operators.index_build"), g("operators.shards")
        shards_wall = tracer.wall_s("operators.shards")
        out.update({
            # self time: the build span minus the sharded stage inside it
            "operators.index_build.wall_s":
                _per(tracer.wall_s("operators.index_build") - shards_wall, builds),
            "operators.index_build.cpu_s": _per(ib.cpu_s, builds),
            "operators.index_build.python_s": _per(ib.python_ms / 1000.0, builds),
            "operators.index_build.input_bytes": _per(ib.input_bytes, builds),
            "operators.index_build.output_bytes": _per(ib.output_bytes, builds),
            "operators.index_build.task_skew": ib.task_skew,
            "operators.shards.wall_s": _per(shards_wall, builds),
            "operators.shards.cpu_s": _per(sh.cpu_s, builds),
            "operators.shards.shuffle_write_bytes": _per(sh.shuffle_write_bytes, builds),
            "operators.shards.shuffle_read_bytes": _per(sh.shuffle_read_bytes, builds),
            "operators.shards.spill_bytes": _per(sh.spill_bytes, builds),
            "operators.shards.output_bytes": _per(sh.output_bytes, builds),
            "operators.shards.task_skew": sh.task_skew,
            "operators.shards.jobs": _per(len(sh.jobs), builds),
        })
        notes["operators.index_build.python_bytes"] = _per(ib.python_bytes, builds)
        if not ib.python_seen:
            notes["operators.index_build.python_s"] = (
                "not reported: this PySpark's task metrics carry no Python "
                "worker time for mapInPandas"
            )

    batches = len(tracer.of("plans.wand"))
    if batches:
        w = g("plans.wand")
        out.update({
            "plans.wand.wall_s": _per(tracer.wall_s("plans.wand"), batches),
            "plans.wand.cpu_s": _per(w.cpu_s, batches),
            "plans.wand.input_bytes": _per(w.input_bytes, batches),
            "plans.wand.input_records": _per(w.input_records, batches),
            "plans.wand.shuffle_bytes":
                _per(w.shuffle_read_bytes + w.shuffle_write_bytes, batches),
            "plans.wand.jobs": _per(len(w.jobs), batches),
            "plans.wand.stages": _per(len(w.stages), batches),
            "plans.wand.tasks": _per(w.tasks, batches),
            "plans.wand.task_skew": w.task_skew,
        })

    takedowns = len(tracer.of("operators.tombstones"))
    if takedowns:
        out["operators.tombstones.wall_s"] = _per(tracer.wall_s("operators.tombstones"), takedowns)
        out["operators.tombstones.cpu_s"] = _per(g("operators.tombstones").cpu_s, takedowns)
    compactions = len(tracer.of("operators.merge"))
    if compactions:
        out["operators.merge.wall_s"] = _per(tracer.wall_s("operators.merge"), compactions)

    for op in NEARDUP_OPS:
        layer = f"plans.entry_queries.{op}"
        calls = len(tracer.of(layer))
        if calls:
            s = g(layer)
            out[f"{layer}.wall_s"] = _per(tracer.wall_s(layer), calls)
            out[f"{layer}.cpu_s"] = _per(s.cpu_s, calls)
            out[f"{layer}.shuffle_bytes"] = _per(
                s.shuffle_read_bytes + s.shuffle_write_bytes, calls)
            out[f"{layer}.task_skew"] = s.task_skew

    out.update({k: v for k, v in workload_layers.items() if k in out})
    return out, notes
