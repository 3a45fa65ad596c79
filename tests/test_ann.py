"""ANN engine API (plans/ann.py): exactness and recall properties.

* brute-force cosine_topk is the exactness oracle (reference analog:
  bert_embeddings.py:186-226 full-scan cos_sim);
* LSH bucket search is EXACT restricted to the query's bucket (its top-k
  equals brute force over the bucket members);
* IVF with n_probe == n_cells degenerates to the exact full scan;
* on clustered data both approximate paths reach high recall vs brute
  force (deterministic rng — the standard ANN recall property);
* near-dup banded LSH finds every planted near-duplicate pair whose
  vectors agree on some band (and never reports a pair below threshold).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.plans import ann

DIM = 16
N_CLUSTERS = 8
PER_CLUSTER = 40


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        for _ in range(PER_CLUSTER):
            v = centers[c] + 0.05 * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return rows


@pytest.fixture(scope="module")
def emb(spark, vectors):
    return spark.createDataFrame(
        vectors, "vec_id long, embedding array<double>"
    ).cache()


def _brute(vectors, qid, k, universe=None):
    vecs = {i: np.asarray(v) for i, v in vectors}
    q = vecs[qid]
    sims = []
    for i, v in vecs.items():
        if i == qid or (universe is not None and i not in universe):
            continue
        sims.append((-float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q))), i))
    sims.sort()
    return [i for _, i in sims[:k]]


def test_cosine_topk_matches_numpy_oracle(emb, vectors):
    got = [r["vec_id"] for r in ann.cosine_topk(emb, query=3, k=10, exclude_query_id=3).collect()]
    assert got == _brute(vectors, 3, 10)


def test_lsh_bucket_topk_exact_within_bucket(emb, vectors):
    planes = ann.make_hyperplanes(DIM, 4)
    b = ann.assign_lsh_buckets(emb, planes)
    buckets = {r["vec_id"]: r["bucket"] for r in b.select("vec_id", "bucket").collect()}
    qid = 3
    members = {i for i, bk in buckets.items() if bk == buckets[qid] and i != qid}
    got = [
        r["vec_id"]
        for r in ann.lsh_bucket_topk(emb, query=qid, planes=planes, k=10, exclude_query_id=qid).collect()
    ]
    assert got == _brute(vectors, qid, 10, universe=members)


def test_lsh_recall_on_clustered_data(emb, vectors):
    planes = ann.make_hyperplanes(DIM, 4)
    hits = total = 0
    for qid in (0, 45, 123, 250):
        want = set(_brute(vectors, qid, 10))
        got = {
            r["vec_id"]
            for r in ann.lsh_bucket_topk(emb, query=qid, planes=planes, k=10, exclude_query_id=qid).collect()
        }
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.7, f"LSH recall {hits}/{total}"


@pytest.fixture(scope="module")
def centroids(spark, vectors):
    # first vector of each cluster as the coarse centroid
    rows = [
        (c, vectors[c * PER_CLUSTER][1]) for c in range(N_CLUSTERS)
    ]
    return spark.createDataFrame(rows, "cid long, cv array<double>")


def test_ivf_full_probe_is_exact(emb, vectors, centroids):
    got = [
        r["vec_id"]
        for r in ann.ivf_topk(
            emb, centroids, query=3, k=10, n_probe=N_CLUSTERS,
            exclude_query_id=3,
        ).collect()
    ]
    assert got == _brute(vectors, 3, 10)


def test_ivf_probe2_recall_on_clustered_data(emb, vectors, centroids):
    hits = total = 0
    for qid in (0, 45, 123, 250):
        want = set(_brute(vectors, qid, 10))
        got = {
            r["vec_id"]
            for r in ann.ivf_topk(
                emb, centroids, query=qid, k=10, n_probe=2,
                exclude_query_id=qid,
            ).collect()
        }
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.9, f"IVF recall {hits}/{total}"


def test_neardup_pairs_threshold_and_bands(spark):
    # planted: 0/1 near-identical, 2 far from both
    rows = [
        (0, [1.0] * DIM),
        (1, [1.0] * (DIM - 1) + [0.9]),
        (2, [(-1.0) ** i for i in range(DIM)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = ann.make_hyperplanes(DIM, 4)
    out = ann.lsh_neardup_pairs(
        df, planes, bands=[[0, 1], [2, 3]], threshold=0.9
    ).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    assert (0, 1) in pairs
    assert all(r["sim"] >= 0.9 for r in out)
    assert not any(2 in p for p in pairs)


def test_neardup_pairs_reject_unknown_plane(spark):
    df = spark.createDataFrame([(0, [1.0] * DIM)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="outside"):
        ann.lsh_neardup_pairs(
            df, ann.make_hyperplanes(DIM, 4), bands=[[0, 4]], threshold=0.9
        )


def test_entry_constants_match_api_generator():
    from searchengine_spark.plans.entry_queries import EMB_DIM, HYPERPLANES, N_PLANES

    assert ann.make_hyperplanes(EMB_DIM, N_PLANES) == HYPERPLANES


@pytest.fixture(scope="module")
def codebooks(vectors):
    # subspace codebooks = slices of the 8 cluster-leading vectors (the
    # same deterministic choice the entry query makes on the test tables)
    M, dsub = 4, DIM // 4
    leads = [vectors[c * PER_CLUSTER][1] for c in range(N_CLUSTERS)]
    return [
        [lead[m * dsub:(m + 1) * dsub] for lead in leads]
        for m in range(M)
    ]


def test_pq_codes_are_valid_and_compact(emb, codebooks):
    coded = ann.assign_pq_codes(emb, codebooks).collect()
    assert len(coded) == N_CLUSTERS * PER_CLUSTER
    for r in coded:
        assert len(r["codes"]) == len(codebooks)
        assert all(0 <= c < N_CLUSTERS for c in r["codes"])


def test_pq_exactness_limit_identity_codebook(emb, vectors):
    """With one subspace whose codebook contains EVERY corpus vector, the
    PQ reconstruction is the vector itself (duplicate-free data), so
    pq_topk must equal brute force exactly."""
    full_cb = [[v for _, v in vectors]]
    got = [
        r["vec_id"]
        for r in ann.pq_topk(
            emb, full_cb, query=3, k=10, exclude_query_id=3
        ).collect()
    ]
    assert got == _brute(vectors, 3, 10)


def test_pq_rerank_full_is_exact(emb, vectors, codebooks):
    """rerank ≥ corpus size re-scores every candidate with exact cosine —
    the coarse codebooks then only order the shortlist, and the result
    must equal brute force regardless of quantization error."""
    n = N_CLUSTERS * PER_CLUSTER
    got = [
        r["vec_id"]
        for r in ann.pq_topk(
            emb, codebooks, query=3, k=10, exclude_query_id=3, rerank=n
        ).collect()
    ]
    assert got == _brute(vectors, 3, 10)


def test_pq_coarse_ranking_finds_the_right_cluster(emb, vectors, codebooks):
    """PQ-only ranking is COARSE by construction: every member of the
    query's cluster quantizes to (nearly) the same codes, so in-cluster
    order is tie-broken, not ranked — exactly why the production path
    re-ranks a shortlist (tested above). The property PQ alone must hold:
    every PQ top-k candidate for a cluster-0 query comes from cluster 0
    (ids 0..PER_CLUSTER-1), i.e. quantization never confuses clusters."""
    got = {
        r["vec_id"]
        for r in ann.pq_topk(
            emb, codebooks, query=3, k=10, exclude_query_id=3
        ).collect()
    }
    assert len(got) == 10
    assert got <= set(range(PER_CLUSTER)), sorted(got)


def test_ivfpq_full_probe_full_rerank_is_exact(emb, vectors, centroids, codebooks):
    n = N_CLUSTERS * PER_CLUSTER
    got = [
        r["vec_id"]
        for r in ann.ivfpq_topk(
            emb, centroids, codebooks, query=3, k=10,
            n_probe=N_CLUSTERS, rerank=n, exclude_query_id=3,
        ).collect()
    ]
    assert got == _brute(vectors, 3, 10)


def test_ivfpq_probe2_rerank_recall(emb, vectors, centroids, codebooks):
    """The production composition (2-cell probe + PQ shortlist + exact
    re-rank of 3k) keeps high recall on clustered data."""
    want = set(_brute(vectors, 3, 10))
    got = {
        r["vec_id"]
        for r in ann.ivfpq_topk(
            emb, centroids, codebooks, query=3, k=10, n_probe=2,
            rerank=30, exclude_query_id=3,
        ).collect()
    }
    assert len(got & want) >= 8, (sorted(got), sorted(want))


def test_pq_codebook_dim_mismatch_fails_loudly(emb, codebooks):
    """Subspace dims that don't sum to the vector dim must raise at encode
    time — a NULL-padded reconstruction would otherwise rank every row's
    sim as NULL and return a silently wrong (id-ordered) top-k."""
    bad = [cb for cb in codebooks]
    bad[0] = [cent[:-1] for cent in bad[0]]  # covers DIM-1 of DIM dims
    with pytest.raises(Exception, match="dims"):
        ann.assign_pq_codes(emb, bad).collect()


def test_pq_codebook_mixed_centroid_dims_rejected(emb, codebooks):
    bad = [cb for cb in codebooks]
    bad[1] = [bad[1][0][:-1]] + [list(c) for c in bad[1][1:]]
    with pytest.raises(ValueError, match="mixed dims"):
        ann.assign_pq_codes(emb, bad)


def test_pq_coded_frame_geometry_mismatch_fails_loudly(emb, codebooks):
    """The public coded= path ('encode once, query many') must fail loudly
    when the precomputed frame was encoded against DIFFERENT codebooks —
    a code ≥ this codebook's K (or a wrong M) would otherwise NULL the ADC
    table lookups and silently sink those rows to the bottom."""
    coded = ann.assign_pq_codes(emb, codebooks)  # codes in [0, 8)
    small = [cb[:4] for cb in codebooks]  # K=4: codes 4..7 out of range
    with pytest.raises(Exception, match="geometry"):
        ann.pq_topk(emb, small, query=3, k=10, coded=coded).collect()
    wrong_m = codebooks[:3]  # M=3 vs codes arrays of length 4
    with pytest.raises(Exception, match="geometry"):
        ann.pq_topk(emb, wrong_m, query=3, k=10, coded=coded).collect()


def test_pq_reconstruct_expr_matches_code_layout(emb, vectors, codebooks):
    """pq_reconstruct_expr (the decode/debug inverse of assign_pq_codes)
    stays in sync with the code layout the ADC scoring path reads: the
    reconstruction equals the numpy gather of each subspace's chosen
    centroid, concatenated in subspace order."""
    coded = ann.assign_pq_codes(emb, codebooks)
    rows = coded.withColumn(
        "recon", ann.pq_reconstruct_expr(F.col("codes"), codebooks)
    ).collect()
    assert len(rows) == N_CLUSTERS * PER_CLUSTER
    for r in rows[:50]:
        want = np.concatenate(
            [np.asarray(cb[c]) for cb, c in zip(codebooks, r["codes"])]
        )
        assert np.allclose(np.asarray(r["recon"]), want), r["vec_id"]
