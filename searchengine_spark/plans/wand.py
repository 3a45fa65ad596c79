"""Block-max WAND exact top-k over the sharded compressed index — two-phase.

The scale path for ``SearchIndexer.search`` (indexer.py:280-342): instead of
scoring every posting of every query term (the exhaustive Catalyst plan in
plans/bm25.py), each *document shard* prunes whole posting **blocks** whose
score upper bound cannot reach the running top-k threshold, decodes and
scores only the survivors, and emits a small per-shard candidate set; the
global answer is exact because every posting of a doc lives in exactly one
shard (operators/shards.py).

**Two phases plus a cross-shard refinement** (the metadata-light design):
phase 1 is a numpy kernel over the posting blocks ONLY — it never sees doc
metadata, so the per-batch exchange carries just
``(query_id, shard, docno, raw, lb, ub)`` for the candidates (``lb``/``ub``
are the per-doc boosted-score bounds derived below), never the ~350 B/doc
metadata of the corpus. Between the phases a **global θ-refinement** runs
over that narrow candidate frame: per query, θ_global = the kth-largest
``lb`` across ALL shards (an exact two-level top-k tree aggregation — per
(query, shard) top-k, per (query, shard-bucket) top-k, global top-k — so no
single task ever holds more than O(k·√n_shards) rows), and any
candidate with ``ub < θ_global`` is dropped — exact, because its boosted
score is ≤ ub < θ_global ≤ the true kth-best boosted score. This is what
makes candidate volume O(k·boost-margin) per query instead of
O(k·n_shards): phase-1 emission floors at ~k rows per shard holding a
query term, and shard count grows linearly with the corpus (at 10^12 docs
with task-sized shards that is 10^7–10^8 rows per batch — not
broadcastable), but after refinement only docs competitive with the GLOBAL
kth-best survive.

Phase 2 fetches metadata for the refined survivors only, applies the exact
shared boost chain (plans/bm25.py:boost_chain_expr — the same Catalyst
expression the exhaustive engine runs), then per-query normalize / top-k /
threshold. Two exchange-free-on-docs join modes, chosen by a size gate:

* **broadcast** (small refined set): ``index.docs`` probes the broadcast
  candidates map-side — a BroadcastHashJoin whose streamed side is the
  docs scan;
* **direct probe** (large refined set): candidates repartition by
  shard and each task reads ITS shard's rows of ``docs_sharded`` straight
  through pyarrow with (shard, docno-range) row-group pruning — the docs
  table never enters the Spark plan at all, so nothing about it can
  shuffle or broadcast regardless of candidate volume.

In both modes no shuffle of doc metadata ever happens (asserted in
tests/test_explain_plans for both).

The ranked winners (≤ k·|batch| rows) are then collected and finished in
the driver by the tail every ranked engine shares
(plans/bm25.finish_with_metadata): one pruned, JVM-only probe of the docs
store for the winners' url/title/description/snippet, the query-relevant
snippet windowed in Python on the driver, and the rows returned sorted by
(query_id, rank) as an Arrow-built local frame.

**Two arms for a ``with_metadata=True`` batch.** Everything above between
the phases (θ tree aggregation, θ/candidate/query broadcasts, the window
exchange, the winners' second probe) is there for scale, and at one query
per batch those fixed per-job costs, not the data, are the batch. So when
the phase-1 emission is small, ``search_batch`` finishes it in the driver:

* **driver arm** — when the batch's Σ df over its scored terms (an upper
  bound of the phase-1 emission, from the index's df memo) is at most G =
  ``DRIVER_CAND_CEILING``, the phase-1 frame is collected (2 jobs). With
  ≤ G rows in hand: θ-refinement in numpy by the same rule
  (:func:`theta_keep`), one docs probe for the survivors, the shared boost
  chain over a local frame (Spark folds that projection at planning time —
  no job), then the normalize / rank / top-k / threshold of the tree arm's
  window on those rows in the driver. A warm one-query batch runs 3 jobs
  instead of 13. The θ rule and the normalize / rank / threshold step are
  thus written twice, in numpy/Python here and as Spark aggregates and a
  window in the tree arm; tests/test_wand_refine (θ) and
  tests/test_wand_driver_arm (whole results, both arms) keep them in step.
* **tree arm** — the plan described above, unchanged. It serves batches
  whose Σ df exceeds G, explicit ``docs_join="broadcast"|"direct"``,
  and ``with_metadata=False``, whose contract is a lazy plan the caller
  executes: the driver arm would have to run phase 1 at call time.

Exactness argument (property-tested against the exhaustive engine):

* block upper bound: ``UB(b of term t) = w_t·max_partial(b) +
  Σ_{t'≠t} max(w_{t'}·max_partial(b') : b' of t' overlaps b's docno range)``
  — any doc in b raw-scores ≤ UB(b);
* the reference multiplies BM25 by a bounded boost chain
  (indexer.py:405-441): ``MAX_BOOST = max(1.8,1.5,1.3)·(1+2)·(1+1)·1.25``,
  so ``raw(d) ≤ boosted(d) ≤ raw(d)·MAX_BOOST``;
* θ is seeded with the kth-best **raw** score of the docs in the single
  highest-UB block; since boosted ≥ raw, θ ≤ true kth-best boosted score;
* a block is dropped iff ``UB·MAX_BOOST < θ`` ⇒ every doc in it is provably
  outside the top-k, and those docnos are *killed* (their partial sums in
  surviving blocks are discarded) so no doc ever leaves phase 1 with an
  incomplete raw score;
* candidate emission uses PER-DOC boost bounds from the index's per-posting
  flag bits (operators/shards.py FLAG_*: is the posting's term a substring
  of the doc's lowered title/description/snippet — the exact predicates the
  boost chain tests per query token). For doc d with matched flagged terms:

  - token-level factors are bounded both ways: the title/desc match pcts lie
    between (flag-present tokens)/n_orig and (flag-present + unknown
    tokens)/n_orig, where *unknown* covers orig tokens with no posting in d
    (they can still be field substrings); same for the all-tokens-in-snippet
    proximity test;
  - the phrase chain compares the FULL query string, and a stemmed token
    need not be a substring of it ("happily" → "happili"), so token bits
    alone cannot rule a phrase out. A matched term t that IS a substring of
    the query with field bit 0 does: field ⊉ t ⇒ field ⊉ query. The phrase
    factor upper bound walks the exclusive chain over fields not so ruled
    out; its lower bound is 1;
  - tokens with NO postings in the shard (stopwords and OOV words have
    none anywhere) carry no flags; the per-doc field Bloom signatures
    (functions/fieldsig.py — a ~35 B/doc pseudo-term sidecar inside the
    blocks table, one-sided: proves absence, never presence) resolve most
    of them per doc, shrinking the unknown set and ruling phrases out;
  - emit d iff ``raw(d)·UBboost(d) ≥ θ_k`` where θ_k is the shard's
    kth-largest ``raw·LBboost``: a dropped d has boosted(d) ≤ raw·UBboost
    < θ_k ≤ kth-largest boosted in the shard, so ≥ k shard-mates beat it.
    For the bulk of the corpus (matched tokens flagged 0, free tokens
    Bloom-absent) UBboost collapses to 1.0 and emission approaches the
    exact per-shard top-k; a doc whose tokens stay unresolved keeps the
    looser margin up to MAX_BOOST, which is still exact.

Everything inside the kernel is numpy/pandas over Arrow batches
(``applyInPandas`` by shard); decode is the vectorized varint codec. The
driver-side work is query analysis, the per-term df/idf lookup (memoized on
the index: ``ShardedIndex.term_stats_for``) and, on the driver arm, the
finish of ≤ G candidate rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark import config
from searchengine_spark.config import (
    DEFAULT_STOPWORDS,
    DESC_MATCH_BOOST,
    DESC_PHRASE_BOOST,
    MIN_SCORE_THRESHOLD,
    ORIGINAL_TERM_IMPORTANCE,
    PROXIMITY_BOOST,
    SNIPPET_PHRASE_BOOST,
    TITLE_MATCH_BOOST,
    TITLE_PHRASE_BOOST,
)
from searchengine_spark.functions import fieldsig
from searchengine_spark.operators import codec
from searchengine_spark.plans.bm25 import (
    RESULT_SCHEMA,
    analyze_query,
    boost_chain_expr,
    finish_with_metadata,
    local_frame,
)

MAX_BOOST = (
    max(TITLE_PHRASE_BOOST, DESC_PHRASE_BOOST, SNIPPET_PHRASE_BOOST, 1.0)
    * (1.0 + TITLE_MATCH_BOOST)
    * (1.0 + DESC_MATCH_BOOST)
    * PROXIMITY_BOOST
)


def _assert_phrase_chain_monotonic() -> None:
    """The kernel's phrase upper bound (``ph_ub``) walks the exclusive
    if/elif chain and takes the FIRST field not ruled out — sound only if
    the chain's boosts are non-increasing (title ≥ desc ≥ snippet ≥ 1).
    Validate at import, mirroring shards._assert_integral_boosts, so a
    non-monotonic boost config fails loudly instead of silently making the
    emission bound inexact."""
    if not (TITLE_PHRASE_BOOST >= DESC_PHRASE_BOOST >= SNIPPET_PHRASE_BOOST >= 1.0):
        raise ValueError(
            "WAND emission bounds require TITLE_PHRASE_BOOST >= "
            f"DESC_PHRASE_BOOST >= SNIPPET_PHRASE_BOOST >= 1.0; got "
            f"{TITLE_PHRASE_BOOST}/{DESC_PHRASE_BOOST}/{SNIPPET_PHRASE_BOOST}"
        )


_assert_phrase_chain_monotonic()

# phase-1 kernel output: per-shard candidate docnos with exact raw BM25
# plus the per-doc boosted-score bounds (raw·LBboost ≤ boosted ≤ raw·UBboost)
# that feed the cross-shard θ-refinement
_CAND_SCHEMA = "query_id int, shard int, docno long, raw double, lb double, ub double"


def theta_keep(query_id: np.ndarray, lb: np.ndarray, ub: np.ndarray, k: int) -> np.ndarray:
    """The cross-shard θ-refinement rule (module doc) over candidate arrays:
    per query, θ = the kth-largest ``lb``, none when the query has fewer
    than k candidates; keep a candidate iff there is no θ or ``ub ≥ θ``.
    Returns the keep mask. The driver arm applies it to the collected
    candidates; ``WandSearchEngine._refine`` implements the same rule a
    second time, as a Spark tree aggregation, and
    tests/test_wand_refine checks that the two keep the same rows."""
    keep = np.ones(query_id.size, dtype=bool)
    for q in np.unique(query_id):
        m = query_id == q
        if k > 0 and int(m.sum()) >= k:
            keep[m] = ub[m] >= np.partition(lb[m], -k)[-k]
    return keep


def _phase1_kernel(
    blocks_pdf: pd.DataFrame,
    qinfo,
    avgdl: float,
    k: int,
    prune: bool,
    kill: np.ndarray | None = None,
    live_bounds: bool = False,
    sub_range: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """One shard's block-max WAND pass (pure numpy/pandas; see module doc):
    block-UB pruning seeded with raw scores, exact raw scoring of surviving
    blocks, then candidate emission under per-doc flag-derived boost bounds
    against the shard's kth-largest boosted lower bound.

    ``kill`` is a sorted tombstone-mask docno array (operators/tombstones):
    masked docs are excluded from θ seeding, scoring, and emission, so a
    delete is live the moment the mask exists. ``live_bounds`` switches the
    per-block upper bound from the stored ``max_partial`` (exact, but baked
    with the BUILD-time avgdl) to partial(max_tf, min_dl) computed with the
    ``avgdl`` argument — required whenever the scoring avgdl differs from
    the baked one (a masked query), sound because partial is monotone in tf
    and antitone in dl.

    ``sub_range`` = inclusive (lo, hi) docno window of ONE sub-shard cell
    (the phase-1 parallelism decoupling — see ``_candidates``): decoded
    postings are masked to the window, so this task scores and emits only
    the cell's docs. Exact under any doc partition: a doc's every posting
    lands in the one cell containing its docno (the caller ships every
    block OVERLAPPING the cell here), θ seeding/emission gates are
    per-group heuristics whose soundness argument (module doc) never uses
    "group == whole shard" — a cell's kth-largest lower bound is ≤ the
    shard's, so emission only loosens, and the cross-shard θ-refinement
    re-tightens globally."""
    if len(blocks_pdf) == 0:
        return pd.DataFrame(columns=["query_id", "shard", "docno", "raw", "lb", "ub"])
    blocks_pdf = blocks_pdf.reset_index(drop=True)
    shard = int(blocks_pdf["shard"].iloc[0])
    decode_cache: dict[int, tuple] = {}
    # slice the global kill set to this task's docno range once
    kill_sh = None
    if kill is not None and kill.size:
        lo = int(blocks_pdf["min_docno"].min())
        hi = int(blocks_pdf["max_docno"].max())
        if sub_range is not None:
            lo, hi = max(lo, sub_range[0]), min(hi, sub_range[1])
        kill_sh = kill[np.searchsorted(kill, lo) : np.searchsorted(kill, hi, side="right")]
        if kill_sh.size == 0:
            kill_sh = None

    def decoded(i: int):
        if i not in decode_cache:
            r = blocks_pdf.iloc[i]
            d, t, dl = codec.decode_postings(r["gaps"], r["tfs"], r["dls"])
            fl = codec.varint_decode(r["fls"]).astype(np.int64)
            d = d.astype(np.int64)
            if sub_range is not None:
                # mask to the cell: docnos ascend within a block, so the
                # window is one contiguous slice
                a = int(np.searchsorted(d, sub_range[0]))
                z = int(np.searchsorted(d, sub_range[1], side="right"))
                d, t, dl, fl = d[a:z], t[a:z], dl[a:z], fl[a:z]
            decode_cache[i] = (d, t, dl, fl)
        return decode_cache[i]

    # field-signature sidecar rows (functions/fieldsig.py): pseudo-term
    # rows carrying each doc's per-field Bloom words. Decoded lazily — only
    # a query whose emission bounds need them (unresolvable orig tokens,
    # su.size > k) pays the decode, once per shard per batch.
    pseudo_mask = blocks_pdf["term"].str.startswith("\x00")
    sig_rows = blocks_pdf[blocks_pdf["term"] == fieldsig.SIG_TERM]
    if pseudo_mask.any():
        blocks_pdf = blocks_pdf[~pseudo_mask].reset_index(drop=True)
    sig_cache: list = []  # [(docnos, words)] once decoded

    def sig_data():
        """(sorted docnos, (n, SIG_WORDS) uint32 words) or None."""
        if not sig_cache:
            if len(sig_rows) == 0:
                sig_cache.append(None)
            else:
                ds, ws = [], []
                for r in sig_rows.itertuples():
                    d = np.cumsum(codec.varint_decode(r.gaps), dtype=np.uint64)
                    w = codec.varint_decode(r.tfs)
                    if w.size != d.size * fieldsig.SIG_WORDS:
                        continue  # foreign layout — treat as absent sidecar
                    ds.append(d.astype(np.int64))
                    ws.append(w.reshape(-1, fieldsig.SIG_WORDS).astype(np.uint32))
                if not ds:
                    sig_cache.append(None)
                else:
                    dcat = np.concatenate(ds)
                    wcat = np.concatenate(ws)
                    order = np.argsort(dcat, kind="stable")
                    dcat, wcat = dcat[order], wcat[order]
                    if sub_range is not None:
                        # keep only the cell's window — sidecar rows are
                        # chunked at build (shards.SIG_CHUNK_DOCS) so a
                        # cell receives ~its own chunks plus boundary
                        # spill; this trims the spill from the probe
                        # arrays (docnos ascend → contiguous slice)
                        a = int(np.searchsorted(dcat, sub_range[0]))
                        z = int(np.searchsorted(dcat, sub_range[1], side="right"))
                        dcat, wcat = dcat[a:z], wcat[a:z]
                    sig_cache.append((dcat, wcat))
        return sig_cache[0]

    by_term = {t: g for t, g in blocks_pdf.groupby("term")}
    out_rows = []

    for qid, weights, aux_terms, orig_tokens, original_query in qinfo:
        terms = [t for t in weights if t in by_term]
        if not terms:
            continue
        # per-query inputs for the flag-derived boost bounds (module doc):
        # orig-token multiplicity (boost pcts count duplicates), and which
        # scored terms are substrings of the query string (phrase rule-out)
        n_orig = len(orig_tokens)
        orig_mult: dict[str, int] = {}
        for t in orig_tokens:
            orig_mult[t] = orig_mult.get(t, 0) + 1
        in_q = {t for t in terms if t in original_query}
        # flatten block metadata across the query's terms
        t_idx, row_idx, mins, maxs, ubs = [], [], [], [], []
        per_term = {}
        for ti, t in enumerate(terms):
            g = by_term[t].sort_values("min_docno")
            w = weights[t]
            if live_bounds:
                mt = g["max_tf"].to_numpy(dtype=np.float64)
                md = g["min_dl"].to_numpy(dtype=np.float64)
                bnd = config.bm25_partial(mt, md, avgdl)
            else:
                bnd = g["max_partial"].to_numpy(dtype=np.float64)
            per_term[ti] = (
                g["min_docno"].to_numpy(dtype=np.int64),
                g["max_docno"].to_numpy(dtype=np.int64),
                w * bnd,
                g.index.to_numpy(),
            )
            t_idx.extend([ti] * len(g))
            row_idx.extend(g.index.tolist())
            mins.extend(per_term[ti][0])
            maxs.extend(per_term[ti][1])
            ubs.extend(per_term[ti][2])
        t_idx = np.asarray(t_idx)
        row_pos = np.asarray(row_idx, dtype=np.int64)
        mins_a = np.asarray(mins, dtype=np.int64)
        maxs_a = np.asarray(maxs, dtype=np.int64)
        ubs_a = np.asarray(ubs, dtype=np.float64)

        # UB_full per block: own ub + best overlapping ub of each other term
        ub_full = ubs_a.copy()
        for i in range(len(ubs_a)):
            lo, hi = mins_a[i], maxs_a[i]
            for ti, (tmins, tmaxs, tubs, _) in per_term.items():
                if ti == t_idx[i]:
                    continue
                # blocks of ti sorted by min_docno, non-overlapping:
                # overlap range = [first with max>=lo, last with min<=hi]
                a = np.searchsorted(tmaxs, lo, side="left")
                z = np.searchsorted(tmins, hi, side="right")
                if z > a:
                    ub_full[i] += tubs[a:z].max()

        def score_docnos(block_positions, restrict=None, killed=None, with_bounds=False):
            """Decode the given blocks, sum w·partial per docno. With
            ``with_bounds``, also accumulate the per-doc flag sums feeding
            the boost bounds: [known_mult, present_title, present_desc,
            present_snip, ruledout_title, ruledout_desc, ruledout_snip]."""
            parts_d, parts_s, parts_e = [], [], []
            for bi in block_positions:
                gpos = int(row_pos[bi])
                d, tf, dl, fl = decoded(gpos)
                t = terms[t_idx[bi]]
                w = weights[t]
                partial = config.bm25_partial(tf, dl, avgdl)
                parts_d.append(d)
                parts_s.append(w * partial)
                if with_bounds:
                    ext = np.zeros((d.size, 7))
                    b_t = (fl & 1) > 0
                    b_d = (fl & 2) > 0
                    b_s = (fl & 4) > 0
                    m_o = orig_mult.get(t, 0)
                    if m_o:
                        ext[:, 0] = m_o
                        ext[:, 1] = m_o * b_t
                        ext[:, 2] = m_o * b_d
                        ext[:, 3] = m_o * b_s
                    if t in in_q:
                        # term ⊆ query ∧ field ⊉ term ⇒ field ⊉ query
                        ext[:, 4] = ~b_t
                        ext[:, 5] = ~b_d
                        ext[:, 6] = ~b_s
                    parts_e.append(ext)
            if not parts_d:
                e = np.empty(0, np.int64), np.empty(0)
                return (*e, np.empty((0, 7))) if with_bounds else e
            dd = np.concatenate(parts_d)
            ss = np.concatenate(parts_s)
            ee = np.concatenate(parts_e) if with_bounds else None
            if restrict is not None:
                m = np.isin(dd, restrict)
                dd, ss = dd[m], ss[m]
                ee = ee[m] if with_bounds else None
            if killed is not None and killed.size:
                m = ~np.isin(dd, killed)
                dd, ss = dd[m], ss[m]
                ee = ee[m] if with_bounds else None
            if dd.size == 0:
                return (dd, ss, ee) if with_bounds else (dd, ss)
            order = np.argsort(dd, kind="stable")
            dd, ss = dd[order], ss[order]
            uniq, starts = np.unique(dd, return_index=True)
            sums = np.add.reduceat(ss, starts)
            if with_bounds:
                esums = np.add.reduceat(ee[order], starts, axis=0)
                return uniq, sums, esums
            return uniq, sums

        theta = 0.0
        if prune and len(ubs_a) > 1:
            # seed θ: exact RAW scores of the top-UB block's docs
            # (raw ≤ boosted, so θ lower-bounds the kth-best boosted)
            b_star = int(np.argmax(ub_full))
            lo, hi = mins_a[b_star], maxs_a[b_star]
            overlapping = [
                i
                for i in range(len(ubs_a))
                if mins_a[i] <= hi and maxs_a[i] >= lo
            ]
            seed_docnos = decoded(int(row_pos[b_star]))[0]
            du, su = score_docnos(overlapping, restrict=seed_docnos, killed=kill_sh)
            if su.size >= k:
                theta = float(np.partition(su, -k)[-k])

        kept = np.flatnonzero(ub_full * MAX_BOOST >= theta) if theta > 0 else np.arange(len(ubs_a))
        dropped = np.setdiff1d(np.arange(len(ubs_a)), kept)
        killed = (
            np.unique(
                np.concatenate(
                    [decoded(int(row_pos[i]))[0] for i in dropped]
                )
            )
            if dropped.size
            else np.empty(0, np.int64)
        )
        if kill_sh is not None:
            # tombstone-masked docs are dead everywhere: out of scoring,
            # out of emission, out of the θ statistics
            killed = np.union1d(killed, kill_sh) if killed.size else kill_sh
        du, su, eu = score_docnos(kept, killed=killed, with_bounds=True)
        if du.size == 0:
            continue
        # per-doc boost bounds (module doc) — computed for EVERY candidate,
        # not only when shard-local emission gates (su.size > k): the bounds
        # also feed the cross-shard θ-refinement in search_batch, where a
        # tight lb from any shard raises θ_global and a tight ub lets a
        # candidate be dropped before the phase-2 metadata probe.
        # bounds-only aux terms: the query's idf<=0 terms were dropped
        # from scoring (their contribution is 0), but their posting
        # FLAGS still resolve those orig tokens' field presence exactly
        # for every candidate that contains the term — and idf<=0 means
        # more than half the corpus does. One extra posting-list decode
        # per dropped term per shard (same unit cost as a scored term);
        # on tie-heavy corpora this is what collapses the emission
        # margin, because unknown-token slack is what keeps UB > 1.
        for t in aux_terms:
            if t not in by_term:
                continue
            m_o = orig_mult.get(t, 0)
            t_in_q = t in original_query
            if not m_o and not t_in_q:
                continue
            for ri in by_term[t].index:
                d, _tf, _dl, fl = decoded(int(ri))
                pos = np.searchsorted(du, d)
                ok = pos < du.size
                pos_ok = pos[ok]
                hit = du[pos_ok] == d[ok]
                idx = pos_ok[hit]
                if idx.size == 0:
                    continue
                flh = fl[ok][hit]
                b_t = (flh & 1) > 0
                b_d = (flh & 2) > 0
                b_s = (flh & 4) > 0
                if m_o:
                    eu[idx, 0] += m_o
                    eu[idx, 1] += m_o * b_t
                    eu[idx, 2] += m_o * b_d
                    eu[idx, 3] += m_o * b_s
                if t_in_q:
                    eu[idx, 4] += ~b_t
                    eu[idx, 5] += ~b_d
                    eu[idx, 6] += ~b_s
        # field-signature Bloom pass for FREE orig tokens — those with
        # no posting rows in this shard (stopwords and OOV words have
        # none anywhere; a scored/aux term can be absent shard-locally).
        # The filter proves per-doc per-field ABSENCE (never presence):
        # absent tightens the ub and, for tokens that are substrings of
        # the query (an orig token need not be — Porter can rewrite),
        # rules the field's phrase boost out. Disjoint from the flag
        # sums by construction: a free token contributed nothing to eu.
        kt, p_t, p_d, p_s, qa_t, qa_d, qa_s = eu.T
        abs_t = np.zeros(du.size)
        abs_d = np.zeros(du.size)
        abs_s = np.zeros(du.size)
        free = [
            (o, m) for o, m in orig_mult.items() if o not in by_term
        ] if n_orig > 0 else []
        if free:
            sd = sig_data()
            if sd is not None:
                sdoc, swords = sd
                pos = np.searchsorted(sdoc, du)
                ok = pos < sdoc.size
                ok[ok] &= sdoc[pos[ok]] == du[ok]
                W = swords[np.where(ok, pos, 0)]
                for o, m in free:
                    probes = fieldsig.token_bits(o)
                    if probes is None:
                        continue  # < 3 bytes: filter cannot speak
                    o_in_q = o in original_query
                    for field, acc, qa in (
                        ("title", abs_t, qa_t),
                        ("description", abs_d, qa_d),
                        ("snippet", abs_s, qa_s),
                    ):
                        absent = fieldsig.absent_mask(W, field, probes) & ok
                        acc += m * absent
                        if o_in_q:
                            qa += absent
        if n_orig > 0:
            ub_t = p_t + np.maximum(n_orig - kt - abs_t, 0.0)
            ub_d = p_d + np.maximum(n_orig - kt - abs_d, 0.0)
            ub_s = p_s + np.maximum(n_orig - kt - abs_s, 0.0)
            tfac_ub = np.where(
                ub_t > 0, 1.0 + TITLE_MATCH_BOOST * ub_t / n_orig, 1.0
            )
            tfac_lb = np.where(
                p_t > 0, 1.0 + TITLE_MATCH_BOOST * p_t / n_orig, 1.0
            )
            dfac_ub = np.where(
                ub_d > 0, 1.0 + DESC_MATCH_BOOST * ub_d / n_orig, 1.0
            )
            dfac_lb = np.where(
                p_d > 0, 1.0 + DESC_MATCH_BOOST * p_d / n_orig, 1.0
            )
            prox_ub = np.where(
                (n_orig > 1) & (ub_s >= n_orig), PROXIMITY_BOOST, 1.0
            )
            prox_lb = np.where(
                (n_orig > 1) & (p_s >= n_orig), PROXIMITY_BOOST, 1.0
            )
        else:
            tfac_ub = tfac_lb = dfac_ub = dfac_lb = prox_ub = prox_lb = (
                np.ones(su.size)
            )
        ph_ub = np.where(
            qa_t == 0,
            TITLE_PHRASE_BOOST,
            np.where(
                qa_d == 0,
                DESC_PHRASE_BOOST,
                np.where(qa_s == 0, SNIPPET_PHRASE_BOOST, 1.0),
            ),
        )
        ub = ph_ub * tfac_ub * dfac_ub * prox_ub
        lb = tfac_lb * dfac_lb * prox_lb  # phrase lower bound is 1
        # shard-local emission filter (module doc): emit d iff raw·UB(d) ≥
        # the shard's kth-largest raw·LB — only meaningful past k matches
        if su.size > k:
            theta_k = float(np.partition(su * lb, -k)[-k])
            keep = su * ub >= theta_k
            du, su, lb, ub = du[keep], su[keep], lb[keep], ub[keep]
        out_rows.append(
            pd.DataFrame(
                {
                    "query_id": np.full(du.size, qid, dtype=np.int32),
                    "shard": np.full(du.size, shard, dtype=np.int32),
                    "docno": du,
                    "raw": su,
                    "lb": su * lb,
                    "ub": su * ub,
                }
            )
        )
    if not out_rows:
        return pd.DataFrame(columns=["query_id", "shard", "docno", "raw", "lb", "ub"])
    return pd.concat(out_rows, ignore_index=True)


class WandSearchEngine:
    """Batched exact top-k over a :class:`ShardedIndex` via block-max WAND.

    ``mask`` (operators/tombstones.TombstoneMask) makes deletes live with
    NO index rewrite: the kernels drop masked docnos, block bounds
    recompute from the avgdl-free (max_tf, min_dl) metadata under the
    surviving avgdl, and per-query-term df is corrected by counting killed
    postings in the (already pruned) query-term blocks — so a masked query
    is rank- and score-identical to a fresh build of the survivors."""

    # phase-1 sub-splitting policy (auto mode): target this many kernel
    # groups per available core — a couple of scheduling waves so the
    # slowest group never sets the whole batch's wall — while keeping each
    # cell at least SUB_SPLIT_MIN_DOCS docs wide so per-group fixed costs
    # (Arrow batch, per-query python loop, duplicated boundary-block
    # decodes) stay amortized. At production geometry (4M docs/shard,
    # n_shards ≫ cores) auto resolves to 1 and the path is byte-identical
    # to the ungrouped plan.
    SUB_SPLIT_TASK_FACTOR = 4
    SUB_SPLIT_MIN_DOCS = 4096

    def __init__(self, spark: SparkSession, index, mask=None, sub_split: int | None = None):
        self.spark = spark
        self.index = index
        self.mask = mask
        # phase-1 parallelism decoupling (see _candidates): split each
        # shard's block set into this many contiguous docno sub-range
        # cells, one kernel task each. None = auto policy (_sub_split).
        self.sub_split = sub_split
        if mask is not None:
            self.avgdl = float(mask.avgdl)
            # mask and index are immutable on an engine instance, so a
            # term's killed-count never changes — memoize across batches
            # (repeat queries on a masked serving engine pay the decode once)
            self._killed_cache: dict[str, int] = {}
        else:
            self.avgdl = float(index.avgdl)
        # the one outstanding lazy-path persist (see search_batch): the
        # NEXT search_batch call (or release()) drops it, so an engine
        # holds at most one cache entry no matter how many lazy plans it
        # has served
        self._lazy_cands = None

    def release(self) -> None:
        """Drop the cache entry backing the last ``with_metadata=False``
        plan. Call when done with a lazy result; executing that plan
        afterwards stays correct (the phase-1 kernel just re-runs)."""
        if self._lazy_cands is not None:
            self._lazy_cands.unpersist(blocking=False)
            self._lazy_cands = None

    def _killed_df(self, term_list) -> dict[str, int]:
        """Per query term, how many of its postings the mask kills — the df
        correction a masked query needs for exact idf. One pruned pass over
        the query terms' blocks (gaps stream only), never an index scan;
        blocks outside the kill set's docno range are cleared by a
        searchsorted precheck (plan-side coarse range filter + per-block
        exact check) without decoding a byte."""
        kill = self.mask.killed
        if kill.size == 0:
            return {}
        missing = [t for t in term_list if t not in self._killed_cache]
        if missing:

            def count_killed(batches):
                for pdf in batches:
                    counts: dict[str, int] = {}
                    for r in pdf.itertuples(index=False):
                        # per-block precheck: any kill docno in range?
                        i = int(np.searchsorted(kill, r.min_docno))
                        if i >= kill.size or kill[i] > r.max_docno:
                            continue
                        d = np.cumsum(
                            codec.varint_decode(r.gaps), dtype=np.uint64
                        ).astype(np.int64)
                        c = int(np.isin(d, kill).sum())
                        if c:
                            counts[r.term] = counts.get(r.term, 0) + c
                    if counts:
                        yield pd.DataFrame(
                            {"term": list(counts), "killed": list(counts.values())}
                        )

            # the per-batch partial counts are summed here in the driver:
            # a groupBy would add an exchange, and with it a job of its own
            got: dict[str, int] = {}
            for r in (
                self.index.blocks.filter(F.col("term").isin(missing))
                # coarse kill-range filter is Catalyst-side: row groups
                # wholly outside [kill.min, kill.max] never reach Python
                .filter(
                    (F.col("max_docno") >= int(kill[0]))
                    & (F.col("min_docno") <= int(kill[-1]))
                )
                .select("term", "min_docno", "max_docno", "gaps")
                .mapInPandas(count_killed, "term string, killed long")
                .collect()
            ):
                got[r["term"]] = got.get(r["term"], 0) + int(r["killed"])
            for t in missing:
                self._killed_cache[t] = got.get(t, 0)
        return {
            t: self._killed_cache[t] for t in term_list if self._killed_cache.get(t)
        }

    def _analyze(self, queries, stopwords):
        """Driver-side: per-query term weights w = idf·mult·importance plus
        boost metadata. df/idf come from the index's memo
        (``ShardedIndex.term_stats_for``): a pruned collect of the unseen
        query terms only, no job at all for terms seen before."""
        analyzed = {}
        all_terms: set[str] = set()
        for qid, text in queries:
            a = analyze_query(text, stopwords)
            if a is None:
                continue
            analyzed[qid] = a
            all_terms.update(a[0].keys())
        if not analyzed:
            return None, []
        stats = self.index.term_stats_for(sorted(all_terms))
        if self.mask is None:
            idf = {t: st[1] for t, st in stats.items()}
        else:
            # masked idf: df' = df − killed postings, N' = surviving count —
            # the same formula a fresh build of the survivors would store.
            # A term whose every posting is masked vanishes from the
            # vocabulary (absent from idf), exactly as in a fresh build.
            killed_df = self._killed_df(sorted(stats))
            n2 = float(self.mask.n_docs)
            idf = {}
            for t, (df0, _) in stats.items():
                dfp = df0 - killed_df.get(t, 0)
                if dfp > 0:
                    idf[t] = max(0.0, math.log((n2 - dfp + 0.5) / (dfp + 0.5)))
        qinfo = []
        for qid, (term_mult, orig_tokens, original_query) in analyzed.items():
            weights = {}
            aux = []
            for t, m in term_mult.items():
                # idf == 0 (a term in ≥ half the corpus, e.g. a generator-
                # vocabulary word): contribution is 0 for every doc, and a
                # doc matching only such terms scores 0 ⇒ dies at the
                # post-normalize threshold — dropping the term is exact and
                # skips its (enormous) posting scan entirely. It is kept as
                # a BOUNDS-ONLY term when its flags can inform the emission
                # bounds (it is an orig token, or a query substring): the
                # kernel decodes its postings for flag bits, never scores.
                if idf.get(t, 0.0) <= 0.0:
                    if t in idf and (t in orig_tokens or t in original_query):
                        aux.append(t)
                    continue
                imp = ORIGINAL_TERM_IMPORTANCE if t in orig_tokens else 1.0
                weights[t] = idf[t] * float(m) * imp
            if weights:
                qinfo.append((qid, weights, aux, orig_tokens, original_query))
        return qinfo, sorted(
            {t for _, w, _, _, _ in qinfo for t in w}
            | {t for _, _, a, _, _ in qinfo for t in a}
        )

    def _sub_split(self) -> int:
        """Resolve the phase-1 sub-split factor S (cells per shard).

        Explicit ``sub_split`` wins. Auto resolves to 1 whenever the shard
        count already saturates the cores (n_shards >= cores — the
        production shape, shards ≫ executors, and also the break-even
        boundary: the round-5 2x2 on a 4-shard 1M-doc index measured
        S=4 at 4 cores REGRESSING 10% vs S=1, while S=auto at 16 cores
        ran 2.0x faster — splitting buys parallelism only when cores
        exceed shards; at saturation it only adds boundary duplication
        and per-cell fixed costs). Below saturation it targets
        SUB_SPLIT_TASK_FACTOR kernel groups per core, capped so a cell
        never shrinks below SUB_SPLIT_MIN_DOCS docs."""
        if self.sub_split is not None:
            return max(1, int(self.sub_split))
        par = self.spark.sparkContext.defaultParallelism
        if self.index.n_shards >= par:
            return 1
        want = math.ceil(
            self.SUB_SPLIT_TASK_FACTOR * par / max(1, self.index.n_shards)
        )
        cap = max(1, self.index.shard_size // self.SUB_SPLIT_MIN_DOCS)
        return max(1, min(want, cap))

    def _candidates(self, qinfo, term_list, top_k: int, prune: bool) -> DataFrame:
        """Phase 1: block-max WAND over posting blocks only → candidate
        (query_id, shard, docno, raw) rows (see module doc).

        Kernel parallelism is DECOUPLED from n_shards (round-4 measured
        ceiling: task count == n_shards caps query-side scaling at 0.49
        whenever shards ≤ cores): with sub-split factor S > 1 each shard's
        docno range is cut into S contiguous cells of width R, every block
        row is shipped to every cell its [min_docno, max_docno] overlaps
        (Catalyst ``explode(sequence(min div R, max div R))`` — no extra
        pass, same single exchange), and the kernel masks decoded postings
        to its cell. Per term the sorted non-overlapping blocks cross each
        of the S−1 internal cuts at most once, so duplication is ≤
        (n_query_terms+1)·(S−1) block rows per shard — boundary noise. The
        θ tree-agg downstream is grouping-agnostic, so refinement
        re-tightens the (per-cell, hence floor-S×) emission globally."""
        k = top_k
        # plain locals: the kernel closure must not capture self (it holds
        # the SparkSession, which cannot ship to workers)
        avgdl = self.avgdl
        kill = self.mask.killed if self.mask is not None else None
        live_bounds = self.mask is not None

        # term IN-list prunes the blocks scan (row-group stats on term);
        # explicit column select prunes the positional streams (pcounts/
        # pgaps) when scoring a positional index — BM25 never needs them
        from searchengine_spark.operators.shards import _BLOCK_COLS

        # the field-signature pseudo-term joins the IN-list so each shard's
        # kernel can prove free-token absence (emission bounds); its rows
        # are a ~35 B/doc sidecar scanned alongside the matched postings
        blocks = self.index.blocks.select(*_BLOCK_COLS).filter(
            F.col("term").isin(list(term_list) + [fieldsig.SIG_TERM])
        )
        S = self._sub_split()
        if S <= 1:

            def kernel(blocks_pdf: pd.DataFrame) -> pd.DataFrame:
                return _phase1_kernel(
                    blocks_pdf, qinfo, avgdl, k, prune, kill, live_bounds
                )

            return blocks.groupby("shard").applyInPandas(kernel, _CAND_SCHEMA)

        R = max(1, math.ceil(self.index.shard_size / S))

        def cell_kernel(blocks_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(blocks_pdf) == 0:
                return pd.DataFrame(
                    columns=["query_id", "shard", "docno", "raw", "lb", "ub"]
                )
            sub = int(blocks_pdf["_sub"].iloc[0])
            return _phase1_kernel(
                blocks_pdf.drop(columns=["_sub"]),
                qinfo, avgdl, k, prune, kill, live_bounds,
                sub_range=(sub * R, (sub + 1) * R - 1),
            )

        cells = blocks.withColumn(
            "_sub",
            F.explode(
                F.sequence(
                    F.expr(f"min_docno div {R}"), F.expr(f"max_docno div {R}")
                )
            ),
        )
        return cells.groupby("shard", "_sub").applyInPandas(
            cell_kernel, _CAND_SCHEMA
        )

    @staticmethod
    def _refine(
        candidates: DataFrame, top_k: int, n_shards: int | None = None
    ) -> DataFrame:
        """Cross-shard θ-refinement (module doc): per query, θ_global = the
        kth-largest ``lb`` over ALL shards' candidates; drop every candidate
        whose ``ub`` cannot reach it. Exact: for any true top-k doc d,
        ub(d) ≥ boosted(d) ≥ kth-best boosted ≥ kth-largest lb = θ_global
        (lb ≤ boosted pointwise, so the order statistics dominate too).

        θ is found by a TWO-LEVEL EXACT kth-largest tree aggregation, never
        a per-query sort: (1) per (query_id, shard) keep the top-k ``lb``
        values — an agg whose input per key is exactly the rows one phase-1
        kernel task held in memory when it emitted them, and whose output is
        ≤ k values; (2) fold shards into ~√n_shards buckets and keep the
        top-k per (query_id, bucket) — ≤ k·√n_shards input values per key;
        (3) top-k over the ≤ k·√n_shards bucket survivors per query and take
        element k. Truncating to the top-k inside any partition preserves
        the global top-k multiset (a value outside a partition's top-k is
        dominated by k values in that same partition, so it can never be the
        global kth-largest), so the θ value is IDENTICAL to a full sort —
        but no single task ever materializes more than O(k·√n_shards) rows,
        where the old per-query window sort concentrated the whole
        O(k·n_shards) phase-1 emission of a query in one task (round-3
        verdict finding #1). θ then broadcast-joins back onto the candidate
        frame (|batch| rows — always broadcastable) and the ``ub`` filter
        collapses volume from O(k·n_shards) to O(k·boost-margin) per query
        before any doc metadata is touched. Fewer than k candidates total ⇒
        the final array is shorter than k ⇒ no θ (NULL) ⇒ nothing is
        dropped; the count survives the truncations because each level
        outputs Σ_g min(k, c_g) ≥ min(k, Σ_g c_g) values.

        NOTE: θ and the filter both consume ``candidates`` — callers that
        care about single execution of the phase-1 kernel persist the
        candidate frame first (search_batch does)."""
        k = top_k
        fanout = max(1, int(round((n_shards or 1024) ** 0.5)))

        def topk_arr(col):
            return F.slice(F.sort_array(F.collect_list(col), asc=False), 1, k)

        per_shard = candidates.groupBy("query_id", "shard").agg(
            topk_arr("lb").alias("_lbs")
        )
        per_bucket = (
            per_shard.select(
                "query_id",
                F.pmod(F.col("shard"), F.lit(fanout)).alias("_b"),
                F.explode("_lbs").alias("_lb"),
            )
            .groupBy("query_id", "_b")
            .agg(topk_arr("_lb").alias("_lbs"))
        )
        theta = (
            per_bucket.select("query_id", F.explode("_lbs").alias("_lb"))
            .groupBy("query_id")
            .agg(topk_arr("_lb").alias("_lbs"))
            .select(
                "query_id",
                F.when(
                    F.size("_lbs") >= k, F.element_at("_lbs", k)
                ).alias("_theta"),
            )
        )
        return (
            candidates.join(F.broadcast(theta), "query_id", "left")
            .filter(F.col("_theta").isNull() | (F.col("ub") >= F.col("_theta")))
            .select("query_id", "shard", "docno", "raw")
        )

    # past this pre-refinement ceiling (k·n_shards·|batch| rows, the phase-1
    # emission floor for common terms) the refined set is no longer assumed
    # broadcast-safe and phase 2 switches to the direct per-shard probe
    BROADCAST_CAND_CEILING = 2_000_000
    # G, the driver-arm gate of search_batch: a with_metadata batch whose
    # Σ df (an upper bound of its phase-1 emission) is at most this many
    # candidate rows is finished in the driver (_finish_in_driver); past it
    # the tree arm runs. Measured (BASELINE.md §driver arm, local[4]): the
    # driver arm's cost grows ~40-60 µs per candidate (collect, survivors'
    # probe and boost), and it stops beating the tree arm at ~19.5k
    # candidates on a 2,000-doc 4-shard index and ~16k on a 20,000-doc
    # 8-shard index.
    DRIVER_CAND_CEILING = 16_000

    def _emission_floor(self, top_k: int, n_queries: int) -> int:
        """k·groups·|batch|: the phase-1 emission floor for common terms.
        Emission floors at ~k rows per kernel group (n_shards × sub-split
        cells) holding a query term; a tie-heavy corpus can emit far more."""
        return self.index.n_shards * self._sub_split() * max(top_k, 1) * n_queries

    def _probe_docs_direct(self, candidates: DataFrame) -> DataFrame:
        """Phase-2 docs probe that never puts the docs table in the Spark
        plan: candidates repartition by shard (narrow rows — the only
        exchange), then each task reads ITS shards' metadata rows straight
        from the ``docs_sharded`` parquet through pyarrow with a
        (shard == s AND docno BETWEEN lo/hi) predicate — the layout is
        sorted by (shard, docno) within files (operators/shards.py), so
        row-group statistics prune the read to the candidate ranges. Scales
        to any shard count: no broadcast, no docs-side shuffle, ever."""
        docs_path = f"{self.index.path}/docs_sharded"
        out_schema = (
            "query_id int, shard int, docno long, raw double, doc_id string, "
            "url string, title string, description string, "
            "content_snippet string"
        )
        meta_cols = [
            "shard", "docno", "doc_id", "url", "title", "description",
            "content_snippet",
        ]
        out_cols = ["query_id", "shard", "docno", "raw"] + meta_cols[2:]

        def probe(batches):
            import pyarrow.dataset as ds

            dataset = ds.dataset(docs_path, format="parquet")
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for shard_val, g in pdf.groupby("shard"):
                    lo, hi = int(g["docno"].min()), int(g["docno"].max())
                    filt = (
                        (ds.field("shard") == int(shard_val))
                        & (ds.field("docno") >= lo)
                        & (ds.field("docno") <= hi)
                    )
                    tbl = dataset.to_table(filter=filt, columns=meta_cols)
                    merged = g.merge(
                        tbl.to_pandas(), on=["shard", "docno"], how="inner"
                    )
                    yield merged[out_cols]

        return candidates.repartition("shard").mapInPandas(probe, out_schema)

    def search_batch(
        self,
        queries: list[tuple[int, str]],
        top_k: int = 20,
        stopwords=DEFAULT_STOPWORDS,
        with_metadata: bool = True,
        prune: bool = True,
        docs_join: str = "auto",
    ) -> DataFrame | None:
        """Exact batched top-k (module doc). ``docs_join`` picks the phase-2
        metadata strategy: ``"broadcast"`` (hash-join probe of the broadcast
        refined candidates), ``"direct"`` (per-shard pyarrow probe — needs a
        written index, i.e. ``index.path``), or ``"auto"`` (direct when the
        pre-refinement candidate ceiling k·n_shards·|batch| exceeds
        BROADCAST_CAND_CEILING; broadcast otherwise).

        Two arms (module doc). With ``with_metadata=True`` and
        ``docs_join="auto"``, a batch whose Σ df over its scored terms (an
        upper bound of its phase-1 emission) is at most
        ``DRIVER_CAND_CEILING`` = 16,000 candidate rows (measured: where the
        driver arm stops beating the tree arm, BASELINE.md §driver arm) is
        finished in the driver. Every other batch takes the tree arm: θ
        tree aggregation and a Spark phase 2.
        ``with_metadata=False`` always takes the tree arm, because its
        result is a lazy plan and the driver arm has to run phase 1 to
        finish. Both arms return the same rows.

        NOTE: with ``with_metadata=True`` this method is EAGER — the ranked
        winners (≤ k·|batch| rows) are collected here, their metadata is
        probed and their snippets windowed in the driver, so the full query
        pipeline executes at call time and the returned DataFrame is a
        local frame already sorted by (query_id, rank): collecting it
        starts no job. Pass ``with_metadata=False`` for a fully lazy
        plan."""
        qinfo, term_list = self._analyze(queries, stopwords)
        if qinfo is None:
            return None  # no analyzable query (empty / stopword-only)
        if not qinfo:
            # analyzable queries whose every term has idf <= 0: every match
            # scores 0 and dies at the threshold — exact result is ZERO ROWS
            # (the exhaustive engine returns an empty frame here, not None)
            return local_frame(
                self.spark,
                [],
                RESULT_SCHEMA
                if with_metadata
                else "query_id int, rank int, doc_id string, score double",
            )
        self.release()
        cands = self._candidates(qinfo, term_list, top_k, prune)
        if (
            with_metadata
            and docs_join == "auto"
            and self._match_bound(qinfo) <= self.DRIVER_CAND_CEILING
        ):
            # the emission provably fits under G: collect it and finish here
            return self._finish_in_driver(cands.collect(), qinfo, top_k)
        # persist the narrow phase-1 candidate frame: the θ tree-agg and the
        # ub-filter branch both consume it, and without the persist the
        # (expensive) phase-1 kernel would execute twice. Storage level by
        # lifecycle: the EAGER with_metadata path uses MEMORY_AND_DISK
        # (spill, don't OOM — the frame is narrow ~50 B rows but
        # O(k·n_shards·|batch|) worst case); the LAZY path returns a plan
        # the caller executes later, so it uses MEMORY_ONLY, whose blocks
        # are LRU-EVICTABLE (eviction just re-runs the kernel for the
        # evicted partitions). The finally below drops the persist on every
        # exit — eager success, ANY exception (including the docs_join
        # ValueError, which used to leak the entry) — except the lazy
        # return, which hands the entry to self._lazy_cands; the next call
        # (or release()) drops that one, so an engine never accumulates
        # cache entries however many batches it serves.
        from pyspark import StorageLevel

        raw_cands = cands.persist(
            StorageLevel.MEMORY_AND_DISK if with_metadata
            else StorageLevel.MEMORY_ONLY
        )
        try:
            return self._finish_batch(
                raw_cands, qinfo, top_k, with_metadata, docs_join
            )
        finally:
            if raw_cands is not self._lazy_cands:
                raw_cands.unpersist(blocking=False)

    def _match_bound(self, qinfo) -> int:
        """Σ over the batch's queries of their scored terms' df (memoized on
        the index). Every phase-1 candidate is a (query, doc matching one of
        its scored terms) pair, so this bounds the emission from above."""
        stats = self.index.term_stats_for({t for _, w, *_ in qinfo for t in w})
        return sum(stats[t][0] for _, w, *_ in qinfo for t in w)

    def _docs_meta(self, keys) -> dict:
        """(shard, docno) → (doc_id, url, title, description,
        content_snippet) for the given keys, in ONE pruned, JVM-only probe
        of the docs store with DRIVER-KNOWN keys: the shard IN-list prunes
        whole shard files, the docno range prunes row groups of the
        docno-sorted layout at the parquet scan, and the docno IN-list keeps
        the rows to the keys' docs — so the caller joins them in the driver;
        a join in the plan would broadcast the keys in a job of its own.
        The IN-lists are SQL text: ``Column.isin`` builds one JVM literal
        per value through py4j, ~0.35 ms each (1.1 s for 3,000 docnos)."""
        if not keys:
            return {}
        docnos = sorted({int(d) for _s, d in keys})
        shard_ids = sorted({int(sh) for sh, _d in keys})
        return {
            (m["shard"], m["docno"]): tuple(m[2:])
            for m in self.index.docs.select(
                "shard", "docno", "doc_id", "url", "title", "description",
                "content_snippet",
            )
            .filter(
                F.expr(f"shard IN ({','.join(map(str, shard_ids))})")
                & F.col("docno").between(docnos[0], docnos[-1])
                & F.expr(f"docno IN ({','.join(map(str, docnos))})")
            )
            .collect()
        }

    def _finish_in_driver(self, cands: list, qinfo, top_k: int) -> DataFrame:
        """Driver arm of search_batch, over the ≤ DRIVER_CAND_CEILING
        collected phase-1 rows: the θ-refinement rule (:func:`theta_keep`),
        one docs probe for the survivors (:meth:`_docs_meta`), the shared
        boost chain over a :func:`local_frame` (Spark folds a projection of
        a local relation at planning time, so scoring starts no job), then
        the per-query normalize, (−score, doc_id) rank, top-k and threshold
        of the tree arm's window, written again here in Python for the
        survivors (tests/test_wand_driver_arm requires both arms' rows to
        be equal)."""
        if cands:
            def col(i, dtype):
                return np.fromiter((c[i] for c in cands), dtype, len(cands))

            keep = theta_keep(
                col(0, np.int64), col(4, np.float64), col(5, np.float64), top_k
            )
            cands = [c for c, kept in zip(cands, keep) if kept]
        meta = self._docs_meta({(c[1], c[2]) for c in cands})
        qmeta = {qid: (oq, toks) for qid, _, _, toks, oq in qinfo}
        rows = [
            (q, meta[(sh, d)][0], raw, *meta[(sh, d)][2:], *qmeta[q])
            for q, sh, d, raw, _lb, _ub in cands
            if (sh, d) in meta
        ]
        scored = local_frame(
            self.spark,
            rows,
            "query_id int, doc_id string, score double, title string, "
            "description string, content_snippet string, "
            "original_query string, orig_tokens array<string>",
        ).select("query_id", "doc_id", boost_chain_expr().alias("score"))
        by_query: dict[int, list] = {}
        for q, doc_id, score in scored.collect():
            by_query.setdefault(q, []).append((doc_id, score))
        fields = {m[0]: m[1:] for m in meta.values()}
        winners = []
        for q, hits in by_query.items():
            top = max(score for _d, score in hits)
            if top > 0:
                hits = [(doc_id, score / top) for doc_id, score in hits]
            hits.sort(key=lambda h: (-h[1], h[0]))
            winners.extend(
                (q, rank, doc_id, *fields[doc_id], score)
                for rank, (doc_id, score) in enumerate(hits[:top_k], 1)
                if score > MIN_SCORE_THRESHOLD
            )
        return finish_with_metadata(
            self.spark, winners, {qid: toks for qid, _, _, toks, _ in qinfo}
        )

    def _finish_batch(
        self, raw_cands, qinfo, top_k, with_metadata, docs_join
    ) -> DataFrame:
        """Tree arm of search_batch, split out so the caller's finally can
        own the raw_cands persist lifecycle."""
        candidates = self._refine(raw_cands, top_k, self.index.n_shards)

        # ---- phase 2: metadata for REFINED survivors only ----------------
        # join-mode gate (module doc): broadcast is only safe while the
        # worst-case candidate ceiling stays small; past it, the direct
        # per-shard probe reads only the row groups the candidates touch —
        # exchange-free on docs in both modes (asserted in
        # tests/test_explain_plans).
        if docs_join == "auto":
            docs_join = (
                "direct"
                if self.index.path is not None
                and self._emission_floor(top_k, len(qinfo))
                > self.BROADCAST_CAND_CEILING
                else "broadcast"
            )
            # NOTE (measured, 1M-doc bench corpus, BASELINE.md §query-side
            # scaling): the k·n_shards·|batch| estimate is the emission
            # FLOOR — a tie-heavy corpus can emit orders of magnitude more
            # (33.6k estimated vs 1.6M refined). An over-floor emission
            # must NOT flip this gate to direct: the direct probe is a
            # winner-scale fetch (pyarrow row-group ranges), and a
            # candidate set whose docno ranges span whole shards makes it
            # re-read the docs store through pandas — measured 2× slower
            # than this broadcast join's JVM-side scan at 1.6M candidates
            # (an ~80 MB relation, still comfortably broadcastable).
        if docs_join == "direct" and self.index.path is None:
            raise ValueError(
                "docs_join='direct' needs a written index (index.path); "
                "this index is an in-memory plan"
            )
        qmeta = local_frame(
            self.spark,
            [(qid, oq, toks) for qid, _, _, toks, oq in qinfo],
            "query_id int, original_query string, orig_tokens array<string>",
        )
        if docs_join == "direct":
            fetched = self._probe_docs_direct(candidates)
        else:
            docs_side = self.index.docs.select(
                "shard", "docno", "doc_id", "url", "title", "description",
                "content_snippet",
            )
            fetched = docs_side.join(F.broadcast(candidates), ["shard", "docno"])
        # then the exact shared boost chain, per-query max-normalize (Q6),
        # threshold (F12), top-k (Q7)
        joined = fetched.join(F.broadcast(qmeta), "query_id").withColumn(
            "score", F.col("raw")
        )
        # Metadata is CONSUMED at the scan site by the boost expression;
        # only (query_id, shard, docno, doc_id, score) flows into the
        # normalize/top-k exchange. On a tie-heavy corpus the candidate set
        # can approach the match set, so keeping the windowed rows narrow
        # (~50 B vs ~400 B with metadata) is what keeps the exchange cheap;
        # winners re-fetch their metadata below via a PRUNED ≤k·|batch|-row
        # probe of the docs store.
        boosted = joined.select(
            "query_id", "shard", "docno", "doc_id",
            boost_chain_expr().alias("score"),
        )

        w = Window.partitionBy("query_id")
        rank_w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        out = (
            boosted.withColumn(
                "score",
                F.when(
                    F.max("score").over(w) > 0, F.col("score") / F.max("score").over(w)
                ).otherwise(F.col("score")),
            )
            .withColumn("rank", F.row_number().over(rank_w))
            .filter((F.col("rank") <= top_k) & (F.col("score") > MIN_SCORE_THRESHOLD))
        )
        if not with_metadata:
            # hand the persist to the engine: the returned plan consumes it
            # when the caller executes; the next batch (or release()) drops
            # it — see the lifecycle note in search_batch
            self._lazy_cands = raw_cands
            return out.select("query_id", "rank", "doc_id", "score")

        # winners-only metadata fetch: the ranked set is ≤ top_k·|batch|
        # rows, so collect it (tiny — the same cardinality the caller will
        # collect) and probe the docs store for the winners alone
        # (_docs_meta: pruned, JVM-only, joined in the driver), so no doc
        # metadata ever enters an exchange. The collect is the last job that
        # touches raw_cands, so search_batch's finally can drop the persist
        # as soon as this method returns (or raises).
        winners = out.select("query_id", "rank", "shard", "docno", "score").collect()
        meta = self._docs_meta({(w["shard"], w["docno"]) for w in winners})
        return finish_with_metadata(
            self.spark,
            [
                (q, rank, *meta[(shard, docno)], score)
                for q, rank, shard, docno, score in winners
                if (shard, docno) in meta
            ],
            {qid: toks for qid, _, _, toks, _ in qinfo},
        )
