"""Engine constants, mirroring the reference configuration.

Reference: /root/reference/utils/config.py (INDEXER_CONFIG) and
/root/reference/search_engine/indexer/indexer.py:49-56.
"""

from __future__ import annotations

# --- BM25 parameters (indexer.py:49-52; k3=8.0 is defined there but never
# used by any code path, so it is intentionally omitted here) ---
K1: float = 1.2
B: float = 0.75


def bm25_partial(tf, dl, avgdl):
    """BM25 term partial ((k1+1)·tf)/(k1·(1−b+b·dl/avgdl)+tf), scalar or
    numpy-vectorized. THE single definition of the formula that block-max
    metadata (operators/shards.encode_blocks_pdf), selective-compaction
    bound refresh (operators/merge.apply_tombstones), and live-bound
    recompute under a tombstone mask (plans/wand) all rely on — their
    bound-soundness argument requires the three sites to agree exactly.
    ``avgdl<=0`` (empty surviving corpus) falls back to 1.0 rather than
    dividing by zero; every partial is 0-valued then anyway."""
    denom_avgdl = avgdl if avgdl > 0 else 1.0
    return ((K1 + 1.0) * tf) / (K1 * (1.0 - B + B * dl / denom_avgdl) + tf)

# --- Field boosts (utils/config.py:84-85 override indexer.py:55-56 defaults) ---
TITLE_BOOST: float = 5.0
META_BOOST: float = 3.0
CONTENT_WEIGHT: float = 1.0

# --- Token filtering (utils/config.py:81-82) ---
MIN_TOKEN_LENGTH: int = 2
MAX_TOKEN_LENGTH: int = 20

# --- Query-time constants ---
# Exact-query-term importance multiplier (indexer.py:391)
ORIGINAL_TERM_IMPORTANCE: float = 1.8
# Post-normalization relevance threshold (indexer.py:332)
MIN_SCORE_THRESHOLD: float = 0.05
# Phrase / field-match boost chain (indexer.py:405-441)
TITLE_PHRASE_BOOST: float = 1.8
DESC_PHRASE_BOOST: float = 1.5
SNIPPET_PHRASE_BOOST: float = 1.3
TITLE_MATCH_BOOST: float = 2.0
DESC_MATCH_BOOST: float = 1.0
PROXIMITY_BOOST: float = 1.25

# --- Snippet (indexer.py:141, indexer.py:344-374) ---
SNIPPET_LENGTH: int = 200
SNIPPET_WINDOW_STEP: int = 20

# --- Default stopword set: the 40-word fallback materialized by
# build_index.py:40-45 == text_processing.py:35-38 ---
DEFAULT_STOPWORDS: frozenset[str] = frozenset({
    "a", "an", "the", "and", "or", "but", "if", "because", "as", "what",
    "when", "where", "how", "who", "which", "this", "that", "these", "those",
    "is", "are", "was", "were", "be", "been", "being", "have", "has", "had",
    "do", "does", "did", "for", "of", "on", "in", "to", "from", "with",
})

# --- Index layout knobs (engine-side; no reference analog — the reference
# is single-process and keeps everything in RAM) ---
# Zipf-skew handling: head-term postings are never aggregated into one task.
# The compressed layout shards every term's postings by contiguous docno range
# (operators/shards.py — the "salting" analog with ordered, block-codable
# ranges); property-tested n_shards=1 ≡ n_shards=16 in tests/test_wand.py. The
# in-memory logical postings table is a flat (term, doc_id, tf) table — no
# per-term collect_list exists anywhere in the build.
# Posting block size for the delta-gap+varint codec (docs per block); each
# block carries (max_tf, max_doc_id) metadata for block-max WAND.
POSTING_BLOCK_SIZE: int = 128
# Default shuffle partitions for local test sessions.
DEFAULT_SHUFFLE_PARTITIONS: int = 32
