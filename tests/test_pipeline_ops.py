"""Behavior tests for the round-3 training-pipeline additions:
benchmark n-gram decontamination and PII detect/redact.

The engine-vs-DuckDB hash equivalence of both operators is covered by
tests/test_entry_contract.py (auto-parametrized over the registry); these
tests pin the *semantics* on hand-built rows — verbatim contamination must
flag at rate 1.0, disjoint text at 0.0, and PII must be counted and
replaced exactly.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from searchengine_spark.plans.dedup import (
    banded_candidate_pairs,
    jaccard_verify_pairs,
    simhash_neardup_pairs,
)
from searchengine_spark.plans.entry_queries import (
    PII_PATTERNS,
    decontaminate_against,
    distinct_trigrams,
    pii_scrub,
)


def _bench_grams(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return distinct_trigrams(docs)


def test_verbatim_contamination_flags_at_full_rate(spark):
    bench = _bench_grams(spark, ["the quick brown fox jumps over the lazy dog"])
    docs = spark.createDataFrame(
        [
            # contains the benchmark text verbatim -> every shared trigram hits
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            # fully disjoint vocabulary -> zero overlap
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            # too short for a trigram -> no output row
            (3, "two words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate_against(docs, bench).collect()}
    assert set(out) == {1, 2}
    assert out[1]["contaminated"] == 1 and out[1]["n_overlap"] == 7
    assert out[1]["overlap_rate"] > 0.5
    assert out[2]["contaminated"] == 0 and out[2]["n_overlap"] == 0
    assert out[2]["overlap_rate"] == 0.0


def test_partial_overlap_rate_is_exact(spark):
    bench = _bench_grams(spark, ["a b c d"])  # grams: "a b c", "b c d"
    docs = spark.createDataFrame(
        # distinct grams: "a b c", "b c d", "c d x", "d x y" -> 2/4 overlap
        [(1, "a b c d x y")],
        "doc_id long, text string",
    )
    row = decontaminate_against(docs, bench).collect()[0]
    assert row["n_grams"] == 4 and row["n_overlap"] == 2
    assert abs(row["overlap_rate"] - 0.5) < 1e-9
    assert row["contaminated"] == 1


def test_pii_scrub_counts_and_redacts(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact jane.doe+x@example.co.uk or 10.0.0.1 today"),
            (2, "no pii here at all"),
            (3, "a@b.io b@c.net 192.168.1.255"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["has_pii"]) == (1, 1, 1)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["has_pii"]) == (0, 0, 0)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["has_pii"]) == (2, 1, 1)
    # the redaction hash is over the placeholder-substituted text
    import hashlib

    expect = hashlib.md5(b"contact <EMAIL> or <IP> today").hexdigest()[:8]
    assert out[1]["redacted_md5"] == expect
    # unredacted rows hash to the original text
    expect2 = hashlib.md5(b"no pii here at all").hexdigest()[:8]
    assert out[2]["redacted_md5"] == expect2


def test_pii_patterns_are_re2_and_java_compatible(spark):
    """Both engines must see identical matches — the contract test proves it
    end-to-end on the corpus; this pins the tricky boundary cases."""
    cases = [
        ("x@y.z", 0),  # single-letter TLD rejected by {2,}
        ("x@y.io", 1),
        ("1.2.3.4", 0),  # counted as ipv4, not email
        ("a.b-c_d%e+f@g-h.i-j.com", 1),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_email"] for r in pii_scrub(docs).collect()}
    for i, (_, n) in enumerate(cases):
        assert got[i] == n, cases[i]


def test_pii_ipv4_counted_on_email_redacted_text(spark):
    """Round-3 ADVICE: an IPv4 embedded inside an email-shaped match (the
    email regex eats 'a@1.2.3.4.co' whole) must NOT count toward n_ipv4,
    because the sequential redaction (email first) never emits an <IP>
    placeholder for it — counts and redacted output must agree."""
    import hashlib

    docs = spark.createDataFrame(
        [
            (1, "mail a@1.2.3.4.co now"),  # ip swallowed by the email match
            (2, "mail a@x.co from 1.2.3.4"),  # genuinely separate ip
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"]) == (1, 0)
    assert out[1]["redacted_md5"] == hashlib.md5(b"mail <EMAIL> now").hexdigest()[:8]
    assert (out[2]["n_email"], out[2]["n_ipv4"]) == (1, 1)
    assert (
        out[2]["redacted_md5"]
        == hashlib.md5(b"mail <EMAIL> from <IP>").hexdigest()[:8]
    )


def test_decontaminate_gram_gate_switches_off_broadcast(spark):
    """Round-3 verdict #6: an oversized benchmark-gram frame must not be
    broadcast (driver OOM) — past the ceiling the probe becomes a
    gram-keyed shuffle join with IDENTICAL results."""
    bench = _bench_grams(spark, ["the quick brown fox jumps over the lazy dog"])
    docs = spark.createDataFrame(
        [
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    small = decontaminate_against(docs, bench)  # default: broadcast path
    big = decontaminate_against(docs, bench, broadcast_ceiling=2)  # forced off
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small, plan_small
    assert "BroadcastHashJoin" not in plan_big, plan_big
    assert "Join" in plan_big  # still a join, now keyed/shuffled
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(small) == rows(big)


def test_simhash_banded_pairs_are_exact_vs_bruteforce(spark):
    """The banded blocking + popcount filter must return EXACTLY the pairs
    within max_hamming — the pigeonhole argument (any pair within
    n_bands-1 flips shares a clean band) makes blocking lossless, and the
    XOR filter kills every band-collision false positive. Random 64-bit
    signatures, production geometry (16-bit bands)."""
    import itertools
    import random

    rng = random.Random(11)
    # cluster the signatures so some pairs land within distance 3
    base = [rng.getrandbits(64) - (1 << 63) for _ in range(6)]
    sigs = {}
    for i in range(120):
        b = base[i % 6]
        flips = rng.sample(range(64), rng.randint(0, 4))
        v = b
        for f in flips:
            v ^= 1 << f
        # keep signed-64 domain (Spark long)
        sigs[i] = ((v + (1 << 63)) % (1 << 64)) - (1 << 63)
    df = spark.createDataFrame(
        list(sigs.items()), "doc_id long, simhash long"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(
            df, n_bits=64, n_bands=4, max_hamming=3
        ).collect()
    )
    want = sorted(
        (a, b, bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1"))
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    )
    assert want, "test corpus planted no near pairs"
    assert got == want


@pytest.mark.parametrize("n_bands", [3, 4])
def test_banded_candidate_pairs_match_bruteforce(spark, n_bands):
    """The shared banded join over random small-integer band keys (many
    ids collide on several bands) equals the brute-force pair set: every
    a < b sharing >= 1 band key, n_bands = the number of agreeing bands,
    no self-pairs, and ``carry`` returns each side's own payload."""
    import itertools
    import random

    rng = random.Random(29 + n_bands)
    rows = [(i, [rng.randint(0, 4) for _ in range(n_bands)]) for i in range(100)]
    df = spark.createDataFrame(
        [(i, *ks, i * 7) for i, ks in rows],
        ", ".join(["id long", *[f"k{b} int" for b in range(n_bands)], "p long"]),
    )
    got = {
        (r["a"], r["b"]): (r["n_bands"], r["p_a"], r["p_b"])
        for r in banded_candidate_pairs(
            df, "id", [f"k{b}" for b in range(n_bands)], ("a", "b"), carry="p"
        ).collect()
    }
    keys = dict(rows)
    want = {}
    for a, b in itertools.combinations(sorted(keys), 2):
        agree = sum(x == y for x, y in zip(keys[a], keys[b]))
        if agree:
            want[(a, b)] = (agree, a * 7, b * 7)
    assert any(n > 1 for n, _, _ in want.values()), "no multi-band collisions"
    assert all(a < b for a, b in got)
    assert got == want


def test_simhash_banded_pairs_pigeonhole_guard(spark):
    df = spark.createDataFrame([(0, 1)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, n_bits=16, n_bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divisible"):
        simhash_neardup_pairs(df, n_bits=17, n_bands=4, max_hamming=3)


def test_jaccard_verify_kills_band_collision_false_positives(spark):
    """Stage-2 exact verification must (a) confirm true near-dups, (b) kill
    candidate pairs that only collided on a band, (c) carry the pair's
    extra columns through, and (d) survive empty element sets."""
    elems = spark.createDataFrame(
        [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b", "c", "e"]),   # jaccard(1,2) = 3/5 = 0.6
            (3, ["x", "y"]),             # jaccard(1,3) = 0
            (4, []),                     # empty set: union may be 0
        ],
        "doc_id long, terms array<string>",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 1), (4, 4, 4)],
        "doc_a long, doc_b long, n_bands long",
    )
    out = {
        (r["doc_a"], r["doc_b"]): (r["n_bands"], r["jaccard"], r["is_dup"])
        for r in jaccard_verify_pairs(pairs, elems).collect()
    }
    assert out[(1, 2)] == (2, 0.6, 1)
    assert out[(1, 3)] == (1, 0.0, 0)
    assert out[(4, 4)] == (4, 0.0, 0)  # 0/0 defined as 0, not NULL


def test_quality_filter_rules_on_planted_docs(spark, tmp_path):
    """Per-rule semantics of the composite quality filter: a good doc
    passes all rules; each planted pathology trips exactly its rule(s);
    an empty doc fails every ratio rule (flags 1, never NULL)."""
    from searchengine_spark.plans.entry_queries import (
        QF_MIN_TOKENS,
        q_quality_filter,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then walks into "
        "town where it meets many other animals of various shapes sizes "
        "and colors before returning home for a well earned rest in its "
        "den under the old oak tree near the quiet river bank at dusk "
        "when all the birds have gone to sleep for the night ahead"
    )
    stuffed = "buy cheap pills " * 40                    # top-2/3-gram + stopword
    short = "tiny document"                              # < QF_MIN_TOKENS
    numeric = " ".join(str(i) for i in range(120))       # alpha ratio 0
    rows = [(1, good), (2, stuffed), (3, short), (4, numeric), (5, "")]
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in q_quality_filter(spark, str(tmp_path)).collect()
    }
    assert len(good.split()) >= QF_MIN_TOKENS  # premise of the good doc
    assert out[1]["is_kept"] == 1 and out[1]["fail_stopword"] == 0
    assert out[2]["is_kept"] == 0 and (
        out[2]["fail_top2gram"] == 1 or out[2]["fail_top3gram"] == 1
    )
    assert out[3]["is_kept"] == 0 and out[3]["fail_word_count"] == 1
    assert out[4]["is_kept"] == 0 and out[4]["fail_alpha"] == 1
    e = out[5]
    assert e["is_kept"] == 0 and all(
        e[c] == 1
        for c in (
            "fail_word_count", "fail_mean_word_len", "fail_stopword",
            "fail_alpha", "fail_top2gram", "fail_top3gram",
        )
    )


def test_quality_flags_null_text_fails_all_rules_on_both_engines(spark, tmp_path):
    """Round-4 review finding: NULL text must behave as a ZERO-TOKEN doc —
    every ratio rule fails with flag 1 (never NULL, never 0) — and the
    two engines must agree row-for-row (the old Spark fail() NULL-logic
    and the DuckDB 'CASE WHEN n = 0' silently disagreed on NULL)."""
    import duckdb
    import pandas as pd

    from searchengine_spark.plans.entry_queries import (
        SQL_QUALITY_FILTER,
        q_quality_filter,
    )

    pd.DataFrame(
        {"doc_id": [1, 2], "text": [None, "short text"]}
    ).to_parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["doc_id"]: r.asDict()
        for r in q_quality_filter(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    cols = [d[0] for d in con.execute(SQL_QUALITY_FILTER).description]
    oracle = {
        row[0]: dict(zip(cols, row))
        for row in con.execute(SQL_QUALITY_FILTER).fetchall()
    }
    assert got[1]["n_tokens"] == 0 and got[1]["is_kept"] == 0
    for c in ("fail_word_count", "fail_mean_word_len", "fail_stopword",
              "fail_alpha", "fail_top2gram", "fail_top3gram"):
        assert got[1][c] == 1, c
    for did in (1, 2):
        assert got[did] == oracle[did], (did, got[did], oracle[did])


def test_jaccard_verify_missing_element_row_fails_loudly(spark):
    """A pair id absent from elems must raise at execution, not silently
    vanish (an unjudged near-dup candidate must never read as clean)."""
    elems = spark.createDataFrame(
        [(1, ["a", "b"])], "doc_id long, terms array<string>"
    )
    pairs = spark.createDataFrame(
        [(1, 99, 2)], "doc_a long, doc_b long, n_bands long"
    )
    with pytest.raises(Exception, match="id universe|element-set"):
        jaccard_verify_pairs(pairs, elems).collect()


def test_mode_count_sorted_run_equals_naive(spark):
    """_mode_count_expr (round-4 verdict #1 rewrite): the sorted
    longest-equal-run fold must return exactly the naive
    max-multiplicity value — including NULL on the empty array — for
    arbitrary token arrays."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    arrays = [[]] + [
        [rng.choice(vocab) for _ in range(rng.randrange(1, 60))]
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i int, arr array<string>"
    )
    from searchengine_spark.plans.entry_queries import _mode_count_expr

    naive = F.expr(
        "array_max(transform(array_distinct(arr),"
        " x -> size(filter(arr, y -> y = x))))"
    )
    rows = df.select(
        "i", _mode_count_expr("arr").alias("got"), naive.alias("want")
    ).collect()
    assert len(rows) == len(arrays)
    for r in rows:
        assert r["got"] == r["want"], (r["i"], r["got"], r["want"])


def test_mode_count_ignores_null_elements(spark):
    """NULL elements must not form a counted run (the naive form counts a
    NULL element as 0): ['a', NULL, NULL, NULL] is mode-count 1, not 3.
    An all-NULL array behaves like the empty array (NULL), documented."""
    from pyspark.sql import functions as F

    from searchengine_spark.plans.entry_queries import _mode_count_expr

    df = spark.createDataFrame(
        [
            (0, ["a", None, None, None], 1),
            (1, [None, "b", "b", None, "c"], 2),
            (2, [None, None], None),
            (3, [], None),
        ],
        "i int, arr array<string>, want int",
    )
    for r in df.select("i", _mode_count_expr("arr").alias("got"), "want").collect():
        assert r["got"] == r["want"], (r["i"], r["got"], r["want"])


def test_quality_filter_100k_distinct_doc_completes_fast(spark, tmp_path):
    """Round-4 verdict #2 (the top-share quadratic): a near-cap page of
    100k DISTINCT tokens was the straggler shape — O(distinct × grams)
    ≈ 10^10 comparisons in one row (hours). The sorted-run rewrite is
    O(n log n); the whole filter over the planted doc must finish in
    seconds, not minutes."""
    import time

    import pandas as pd

    from searchengine_spark.plans.entry_queries import (
        QF_MAX_TOKENS,
        q_quality_filter,
    )

    n = QF_MAX_TOKENS  # exactly at cap: top-share rules DO evaluate
    huge = " ".join(f"tok{i}" for i in range(n))
    pd.DataFrame({"doc_id": [1], "text": [huge]}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    t0 = time.time()
    row = q_quality_filter(spark, str(tmp_path)).collect()[0]
    wall = time.time() - t0
    assert row["n_tokens"] == n
    # all grams distinct → top-share rules evaluated and PASS
    assert row["fail_top2gram"] == 0 and row["fail_top3gram"] == 0
    assert row["fail_word_count"] == 0
    assert wall < 120, f"quality filter took {wall:.1f}s on a 100k-token doc"


def test_quality_filter_over_cap_doc_skips_top_share_on_both_engines(
    spark, tmp_path
):
    """Docs past QF_MAX_TOKENS are dropped by fail_word_count regardless,
    so the (expensive) top-share rules are not evaluated — both flags
    read 1 (rule-not-evaluated ≡ failed, the zero-token convention) on
    BOTH engines."""
    import duckdb
    import pandas as pd

    from searchengine_spark.plans.entry_queries import (
        QF_MAX_TOKENS,
        SQL_QUALITY_FILTER,
        q_quality_filter,
    )

    over = "spam word " * (QF_MAX_TOKENS // 2 + 10)  # repetitive: cheap twin
    pd.DataFrame({"doc_id": [1], "text": [over]}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = q_quality_filter(spark, str(tmp_path)).collect()[0].asDict()
    assert got["n_tokens"] > QF_MAX_TOKENS
    assert got["fail_word_count"] == 1
    assert got["fail_top2gram"] == 1 and got["fail_top3gram"] == 1
    assert got["is_kept"] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    cols = [d[0] for d in con.execute(SQL_QUALITY_FILTER).description]
    oracle = dict(zip(cols, con.execute(SQL_QUALITY_FILTER).fetchall()[0]))
    assert got == oracle, (got, oracle)


# ---------------------------------------------------------- chunked sessionize
def _fold_sessions(rows, gap):
    """Reference sessionizer: plain-python fold in (t, event_id) order —
    the classic one-window formulation the DuckDB twin spells."""
    out = {}
    by_user = {}
    for eid, user, t, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        sessions = by_user.setdefault(user, [])
        if not sessions or t - sessions[-1]["t_last"] > gap:
            sessions.append({"no": len(sessions) + 1, "t_first": t,
                             "t_last": t, "n": 0, "sv": 0.0})
        s = sessions[-1]
        s["t_last"] = t
        s["n"] += 1
        s["sv"] += v
    for user, sessions in by_user.items():
        for s in sessions:
            out[(user, s["no"])] = (s["n"], s["t_first"], s["t_last"],
                                    round(s["sv"], 4))
    return out


def test_sessionize_chunked_equals_fold_on_adversarial_layout(spark):
    """Round-4 verdict #5: the chunked two-pass sessionize must be value-
    identical to the bare-user-window formulation, including every boundary
    shape: a session spanning a chunk boundary, a gap exactly == GAP at the
    boundary, empty chunks between events, tie timestamps at the boundary,
    and a hot user with many sessions across many chunks."""
    from searchengine_spark.plans.entry_queries import (
        SESSION_CHUNK_SEC, SESSION_GAP_SEC, sessionize_events)

    C, G = SESSION_CHUNK_SEC, SESSION_GAP_SEC
    rows = []
    # u1: session spanning a chunk boundary (gap < G across the hour mark)
    rows += [("e01", "u1", 10 * C - 60, 1.0), ("e02", "u1", 10 * C + 60, 1.0)]
    # u1: boundary gap exactly == G (continues: rule is > G breaks)
    rows += [("e03", "u1", 11 * C - 10, 1.0), ("e04", "u1", 11 * C - 10 + G, 1.0)]
    # u1: boundary gap == G+1 (breaks)
    rows += [("e05", "u1", 13 * C - 5, 1.0), ("e06", "u1", 13 * C - 5 + G + 1, 1.0)]
    # u2: empty chunks between events (auto-break via chunk_sec >= gap)
    rows += [("e07", "u2", 5 * C + 100, 2.0), ("e08", "u2", 9 * C + 100, 2.0)]
    # u2: tie timestamps straddling nothing — event_id breaks the tie
    rows += [("e09", "u2", 20 * C, 0.5), ("e10", "u2", 20 * C, 0.25)]
    # u3 hot user: 300 events, alternating 1s and G+1 gaps across chunks
    t = 1000
    for i in range(300):
        t += 1 if i % 3 else G + 1
        rows.append((f"h{i:03d}", "u3", t, 0.1))
    df = spark.createDataFrame(
        rows, "event_id string, user_id string, t long, value double")
    got = {
        (r["user_id"], r["session_no"]):
            (r["n_events"], r["t_start"], r["t_end"], r["sum_value"])
        for r in sessionize_events(df).collect()
    }
    assert got == _fold_sessions(rows, G)


def test_sessionize_null_t_fails_loudly_on_both_engines(spark):
    """Contract pin: a NULL event time must RAISE on both engines — in the
    chunked plan a NULL t would increment pass 1's local_no but drop from
    pass 2's t-list, silently shifting every later session_no for that
    user, so drift is converted to failure (engine raise_error; DuckDB
    twin error())."""
    import duckdb

    from searchengine_spark.plans.entry_queries import (
        SQL_EVENTS_SESSIONIZE, sessionize_events)

    df = spark.createDataFrame(
        [("e1", "u1", 100, 1.0), ("e2", "u1", None, 1.0)],
        "event_id string, user_id string, t long, value double")
    with pytest.raises(Exception, match="NULL t for event_id=e2"):
        sessionize_events(df).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, 'u1', TIMESTAMP '2026-01-01 00:00:00', 1.0), "
        "(2, 'u1', CAST(NULL AS TIMESTAMP), 1.0)) "
        "AS t(event_id, user_id, ts, value)"
    )
    with pytest.raises(Exception, match="NULL ts for event_id"):
        con.execute(SQL_EVENTS_SESSIONIZE).fetchall()


def test_sessionize_plan_has_no_bare_user_window(spark):
    """The per-event window must be keyed (user_id, chunk) — grep the
    optimized plan for a Window whose partition spec is user_id alone
    (events-wide windows over chunk-summary ROWS are fine; this guards the
    per-EVENT exchange)."""
    from searchengine_spark.plans.entry_queries import sessionize_events

    df = spark.createDataFrame(
        [("e1", "u1", 100, 1.0)],
        "event_id string, user_id string, t long, value double")
    plan = sessionize_events(df)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(user_id" in line and "chunk" not in line:
            # the only user-alone windows allowed are over the chunk
            # summary (inputs carry n_local/t_first/t_last, never event_id)
            assert "t_last" in line or "n_local" in line, line


def test_sessionize_summary_branch_is_windowless(spark):
    """The (user, chunk) summary must come from ONE hash aggregate over the
    raw events, not a second execution of the pass-1 window: Catalyst
    prunes the two consumers differently so their exchanges never
    canonicalize equal and ReusedExchange cannot fire (measured round 5) —
    a window-derived summary would re-scan and re-sort full event rows.
    Pin: exactly the pass-1 pair of per-EVENT windows (spec orders by
    event_id) appears in the plan, and the sorted-t gap-count aggregate is
    present."""
    from searchengine_spark.plans.entry_queries import sessionize_events

    df = spark.createDataFrame(
        [("e1", "u1", 100, 1.0)],
        "event_id string, user_id string, t long, value double")
    plan = sessionize_events(df)._jdf.queryExecution().optimizedPlan().toString()
    per_event_windows = [
        line for line in plan.splitlines()
        if "windowspecdefinition(" in line and "event_id" in line
    ]
    assert len(per_event_windows) == 2, plan  # lag + running-sum, once
    assert "collect_list" in plan and "array_sort" in plan, plan
