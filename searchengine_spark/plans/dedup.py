"""Near-duplicate detection: the one banded candidate-pair join and the
family stages built on it.

Each family emits one key per band per row; rows sharing a (band, key)
bucket become candidates (:func:`banded_candidate_pairs`), and an exact
test disposes of false positives. MinHash-LSH (``entry_queries``) keys on
one min-hash per band and verifies with :func:`jaccard_verify_pairs`;
SimHash (:func:`simhash_neardup_pairs`) keys on bit slices and filters on
the popcount of XOR; embedding LSH (``ann.lsh_neardup_pairs``) keys on
sign-bit slices of the LSH bucket and filters on cosine. The (band, key)
shuffle IS the bucketing — no pairwise scan — but a bucket of m rows
still emits m²/2 pairs, so bits per band bound the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def banded_candidate_pairs(
    df: DataFrame,
    id_col: str,
    keys: list[Column | str],
    out: tuple[str, str],
    carry: str | None = None,
) -> DataFrame:
    """Candidate pairs of ``df`` rows that agree on at least one band key.

    ``keys`` holds one same-typed expression per band, evaluated per row
    (``df`` holds one row per id). Returns (out[0], out[1], n_bands) with
    out[0] < out[1], one row per pair; ``n_bands`` is the number of bands
    whose keys agree (each row emits exactly one key per band, so the join
    yields one row per agreeing band). With ``carry`` set, each side's
    value of that column rides along as ``{carry}_a`` / ``{carry}_b``, so
    verification needs no second join back to ``df``."""
    a_id, b_id = out
    bands = df.select(
        F.col(id_col).alias("_id"),
        *([F.col(carry).alias("_c")] if carry else []),
        F.posexplode(F.array(*keys)).alias("band", "key"),
    )

    def side(name: str, suffix: str) -> DataFrame:
        c = [F.col("_c").alias(f"{carry}_{suffix}")] if carry else []
        return bands.select(F.col("_id").alias(name), "band", "key", *c)

    carried = [F.first(f"{carry}_{s}").alias(f"{carry}_{s}") for s in "ab"] if carry else []
    return (
        side(a_id, "a")
        .join(side(b_id, "b"), ["band", "key"])
        .filter(F.col(a_id) < F.col(b_id))
        .groupBy(a_id, b_id)
        .agg(F.count("*").alias("n_bands"), *carried)
    )


# ---------------------------------------------------------------- MinHash: exact-Jaccard verify
JACCARD_DUP_THRESHOLD = 0.5


def jaccard_verify_pairs(
    pairs: DataFrame,
    elems: DataFrame,
    threshold: float = JACCARD_DUP_THRESHOLD,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
    set_col: str = "terms",
) -> DataFrame:
    """Exact-Jaccard VERIFICATION of sketch-generated candidate pairs — the
    second stage of the standard near-dup pipeline (MinHash/LSH proposes,
    exact similarity disposes; false positives from band collisions die
    here, and only here, so the pipeline is exact given candidate recall).

    ``pairs``: (id_a, id_b, *extras) candidate pairs; ``elems``: one row
    per id with its distinct element array (``set_col``) — for MinHash over
    tokens that is the doc's distinct TERM set, i.e. exactly the quantity
    the sketch estimates. Appends (jaccard, is_dup) to the pair rows.

    Scale shape: two hash joins keyed on the pair ids (the candidate set
    is orders of magnitude smaller than n² — that was the sketch's job)
    plus a map-side intersect/union size; no pairwise scan, nothing
    quadratic, and the element arrays travel only to matched pairs.

    A pair id with NO row in ``elems`` (mismatched tokenizer runs, a
    stale snapshot) fails LOUDLY at execution instead of silently
    vanishing from the output — a proposed near-dup must be confirmed or
    rejected, never dropped unjudged (same contract as the PQ codebook
    and phrase extra_cols guards)."""

    def _guarded(side: str, idc: str):
        return F.when(F.col(side).isNotNull(), F.col(side)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "jaccard_verify_pairs: no element-set row for "
                        f"pair id in '{idc}' (id="
                    ),
                    F.col(idc).cast("string"),
                    F.lit(") — pairs and elems disagree on the id universe"),
                )
            )
        )

    ea = elems.select(F.col(id_col).alias(id_a), F.col(set_col).alias("_sa"))
    eb = elems.select(F.col(id_col).alias(id_b), F.col(set_col).alias("_sb"))
    j = (
        pairs.join(ea, id_a, "left")
        .join(eb, id_b, "left")
        .withColumn("_sa", _guarded("_sa", id_a))
        .withColumn("_sb", _guarded("_sb", id_b))
    )
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size("_sa").cast("double") + F.size("_sb").cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select(
        *[c for c in pairs.columns],
        F.round(jac, 6).alias("jaccard"),
        (jac >= F.lit(threshold)).cast("int").alias("is_dup"),
    )


# ---------------------------------------------------------------- SimHash: banded Hamming pairs
def simhash_neardup_pairs(
    sig: DataFrame,
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """EXACT Hamming-neighbor pairs over a SimHash signature frame via
    banded blocking (Charikar '02 signatures + the multi-index pigeonhole
    of Manku et al., WWW'07 "Detecting Near-Duplicates for Web Crawling"):
    split each ``n_bits`` signature into ``n_bands`` equal-width band keys;
    two signatures within Hamming distance ``max_hamming < n_bands`` MUST
    agree on at least one whole band (pigeonhole), so the band-keyed
    self-join finds every qualifying pair — never a pairwise scan — and
    the popcount-of-XOR filter then makes the result exact, no false
    positives. Returns (doc_a, doc_b, hamming), doc_a < doc_b.

    Scale shape: :func:`banded_candidate_pairs` — one explode (n_bands
    rows/doc) + one equi-join keyed on (band, key) + one pair groupBy, the
    same bucket-join shape as MinHash-LSH. Bucket fan-in is
    corpus/2^(n_bits/n_bands) per key, so PRODUCTION uses 64-bit
    signatures with 16-bit bands (65,536 buckets per band); the
    driver-contract query runs the identical plan at 16/4 where the DuckDB
    twin is exact. ``max_hamming >= n_bands`` would break the pigeonhole
    guarantee (missed pairs), so it fails loudly."""
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: the banded "
            "blocking would MISS pairs (pigeonhole needs one clean band); "
            "raise n_bands or lower max_hamming"
        )
    w = n_bits // n_bands
    s = sig.select(id_col, F.col(sim_col).cast("long").alias("simhash"))
    keys = [
        F.shiftright("simhash", b * w).bitwiseAND(F.lit((1 << w) - 1))
        for b in range(n_bands)
    ]
    cand = banded_candidate_pairs(s, id_col, keys, ("doc_a", "doc_b"), carry="simhash")
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
