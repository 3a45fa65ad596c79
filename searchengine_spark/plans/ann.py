"""ANN engine API: similarity search over any (id, embedding) DataFrame.

Reference parity: the reference's semantic index is a brute-force in-RAM
cosine scan over MiniLM vectors (bert_embeddings.py:133-226 — encode corpus,
`util.cos_sim(query, all_embeddings)`, argsort top-k). This module provides
that exact baseline (:func:`cosine_topk`) plus the two scale paths the
reference lacks — random-hyperplane LSH bucketing and IVF coarse
quantization — as composable plans over ANY embeddings DataFrame:

* :func:`cosine_topk` — exact full-scan baseline (the correctness oracle).
* :func:`lsh_bucket_topk` — sign-bucket prune: score only the query's
  bucket (~1/2^n_planes of the corpus per probe).
* :func:`lsh_neardup_pairs` — banded-LSH near-duplicate pairs: band keys
  sliced from the sign-bit bucket, candidates from the shared banded join
  (plans/dedup.py), exact cosine on the survivors (recall follows the
  standard banded bound 1-(1-p^r)^b).
* :func:`ivf_topk` — inverted-file probe: assign vectors to their nearest
  coarse centroid once (broadcast join), probe the query's n_probe cells.

Scale notes (10⁹+ vectors): every plan is bucket-join shaped — the only
shuffles are keyed by bucket/band/cell; queries broadcast; no driver-side
vector loops. At that scale `assign_*` outputs should be persisted columns
(partition the table BY bucket/cell so a probe prunes at the scan), which
composes naturally: the assign functions are plain column transforms.

All distance math is Catalyst (`F.aggregate`/`zip_with` dot products —
whole-stage codegen, no Python in the hot path). Hyperplanes/centroids are
injected (deterministic helpers provided) so results are reproducible and
SQL-oracle-checkable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from searchengine_spark.plans import dedup


def dot_expr(x: Column, y: Column) -> Column:
    """Catalyst dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
    )


def l2sq_expr(x: Column, y: Column) -> Column:
    """Catalyst squared-L2 distance of two array<double> columns."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def cosine_expr(x: Column, y: Column) -> Column:
    """Cosine similarity; null when either vector has zero norm."""
    denom = F.sqrt(dot_expr(x, x)) * F.sqrt(dot_expr(y, y))
    return F.when(denom != 0, dot_expr(x, y) / denom)


def make_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (LCG-hash sign pattern) — the
    reproducible default; callers may supply their own (e.g. Gaussian)."""
    return [
        [1.0 if ((i * 1103515245 + j * 12345) % 97) < 48 else -1.0 for i in range(dim)]
        for j in range(n_planes)
    ]


def _query_frame(df: DataFrame, query, id_col: str, vec_col: str):
    """Normalize the query argument: an id value (select that row from df)
    or a python list (literal vector). Returns a 1-row frame ('qv')."""
    if isinstance(query, (list, tuple)):
        return df.sparkSession.range(1).select(
            F.array(*[F.lit(float(v)) for v in query]).alias("qv")
        )
    return df.filter(F.col(id_col) == query).select(F.col(vec_col).alias("qv")).limit(1)


def cosine_topk(
    df: DataFrame,
    query,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_id=None,
) -> DataFrame:
    """Exact brute-force cosine top-k (the reference's semantic search,
    bert_embeddings.py:186-226). One corpus scan; the query is broadcast.
    Columns: (id_col, sim). Deterministic tie-break by id."""
    e = df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    if exclude_query_id is not None:
        e = e.filter(F.col(id_col) != exclude_query_id)
    q = _query_frame(df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)), query, id_col, vec_col)
    return (
        e.crossJoin(F.broadcast(q))
        .select(id_col, cosine_expr(F.col("v"), F.col("qv")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def assign_lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Add the sign-bit LSH bucket column (bit j = sign of v·plane_j).
    Pure column transform — persist/partition by it for scan-prunable
    probes at scale."""
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0)  # zero planes → the single bucket 0 (exact scan)
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(float(c)) for c in plane])
        bit = F.when(dot_expr(v, p) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if j == 0 else bucket + bit
    return df.withColumn(bucket_col, bucket)


def lsh_bucket_topk(
    df: DataFrame,
    query,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_id=None,
) -> DataFrame:
    """ANN top-k scanning only the query's LSH bucket, exact cosine on the
    candidates. At 10⁹ vectors the bucket prune replaces the full scan
    (≈ 2^-n_planes of the data per probe)."""
    b = assign_lsh_buckets(
        df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)),
        planes,
        vec_col=vec_col,
    ).select(id_col, F.col(vec_col).alias("v"), "bucket")
    if exclude_query_id is not None:
        cand_src = b.filter(F.col(id_col) != exclude_query_id)
    else:
        cand_src = b
    if isinstance(query, (list, tuple)):
        q = _query_frame(df, query, id_col, vec_col)
        q = assign_lsh_buckets(q, planes, vec_col="qv").select(
            "qv", F.col("bucket").alias("qbucket")
        )
    else:
        q = b.filter(F.col(id_col) == query).select(
            F.col("v").alias("qv"), F.col("bucket").alias("qbucket")
        ).limit(1)
    cand = cand_src.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    return (
        cand.select(id_col, cosine_expr(F.col("v"), F.col("qv")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_neardup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    bands: list[list[int]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH.

    ``bands`` lists, per band, the plane indices whose sign bits form that
    band's key (sliced out of the :func:`assign_lsh_buckets` bucket).
    Vectors sharing ANY band key become candidate pairs
    (:func:`dedup.banded_candidate_pairs` — the shuffle is the bucketing);
    exact cosine keeps pairs ≥ threshold. Columns: (vec_a, vec_b, sim)."""
    if any(not 0 <= pi < len(planes) for band in bands for pi in band):
        raise ValueError(f"bands {bands} name a plane outside 0..{len(planes) - 1}")
    e = assign_lsh_buckets(
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v")), planes, vec_col="v"
    )
    keys = [
        sum(
            F.shiftleft(F.shiftright("bucket", pi).bitwiseAND(1), pos)
            for pos, pi in enumerate(band)
        )
        for band in bands
    ]
    cand = dedup.banded_candidate_pairs(e, id_col, keys, ("vec_a", "vec_b"), carry="v")
    return (
        cand.select("vec_a", "vec_b", cosine_expr(F.col("v_a"), F.col("v_b")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def assign_ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (L2, ties by
    centroid id). ``centroids`` is a small (cid, cv array<double>) frame —
    broadcast; the assignment is one map-side pass. Persist/partition by
    ``cell`` at scale. Columns: (id_col, v, cell)."""
    e = df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    return (
        e.crossJoin(F.broadcast(centroids))
        .groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    l2sq_expr(F.col("v"), F.col("cv")).alias("d"),
                    F.col("cid").alias("cid"),
                )
            )["cid"].alias("cell"),
            F.any_value("v").alias("v"),
        )
    )


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    query,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    exclude_query_id=None,
) -> DataFrame:
    """IVF ANN: probe the query's ``n_probe`` nearest cells, exact cosine
    on their members only (n_probe/n_cells of the data per query). Pass a
    precomputed ``assigned`` frame (from :func:`assign_ivf_cells`) to skip
    re-assignment — the production pattern (assign once, probe many).
    ``exclude_query_id`` drops that id from the candidates — the same
    explicit contract as :func:`cosine_topk`/:func:`pq_topk` (an id-valued
    ``query`` is NOT auto-excluded)."""
    if assigned is None:
        assigned = assign_ivf_cells(df, centroids, id_col=id_col, vec_col=vec_col)
    q = _query_frame(df, query, id_col, vec_col)
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .select("qv", "cid", l2sq_expr(F.col("qv"), F.col("cv")).alias("d"))
        .orderBy("d", "cid")
        .limit(n_probe)
        .select("qv", F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(qcells), "cell")
    if exclude_query_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_query_id)
    return (
        cand.select(id_col, cosine_expr(F.col("v"), F.col("qv")).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def assign_pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011 — the standard billion-scale
    compression): split each vector into M = len(codebooks) contiguous
    subspaces; in subspace m replace the sub-vector with the id of its
    nearest codebook centroid (L2, ties to the lowest code). A 10¹²-vector
    corpus stores M small ints per vector instead of d floats — the scan a
    PQ query touches is ~d/M·⌈log₂K⌉/32 of the raw data.

    ``codebooks[m][c]`` is centroid c of subspace m (all centroids of a
    subspace share its dimension). Codebooks are tiny (M·K·d/M floats) and
    embed as literals — pure map-side Catalyst, no shuffle, no Python.
    Columns: (id_col, *keep, v, codes array<int>) — ``keep`` carries
    further columns (e.g. an IVF ``cell``) through the map-side pass, so
    callers never need a self-join to reattach them.

    Subspace dims must sum to the vector dimension; a mismatched codebook
    would otherwise NULL-pad the reconstruction and silently rank every
    row's sim as NULL, so the encode fails loudly instead: cheap Python
    checks on the codebook shape here, and a per-row guard (raise_error)
    on the vector length at execution."""
    if not codebooks or any(not cb for cb in codebooks):
        raise ValueError("assign_pq_codes: empty codebook list or subspace")
    for m, cb in enumerate(codebooks):
        if any(len(cent) != len(cb[0]) for cent in cb):
            raise ValueError(
                f"assign_pq_codes: subspace {m} centroids have mixed dims"
            )
    total_dim = sum(len(cb[0]) for cb in codebooks)
    v_raw = F.col(vec_col).cast("array<double>")
    v_checked = F.when(F.size(v_raw) == total_dim, v_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "assign_pq_codes: codebook subspace dims sum to "
                    f"{total_dim} but vector has "
                ),
                F.size(v_raw).cast("string"),
                F.lit(" dims"),
            )
        )
    )
    e = df.select(id_col, *keep, v_checked.alias("v"))
    codes = []
    offset = 0
    for cb in codebooks:
        dsub = len(cb[0])
        sub = F.slice(F.col("v"), offset + 1, dsub)
        dists = F.array(
            *[
                l2sq_expr(sub, F.array(*[F.lit(float(x)) for x in cent]))
                for cent in cb
            ]
        )
        # array_position returns the FIRST index of the min → ties break to
        # the lowest code, matching the SQL twin's (d, cid) ordering
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
        offset += dsub
    return e.select(id_col, *keep, "v", F.array(*codes).alias("codes"))


def pq_reconstruct_expr(
    codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """The PQ-reconstructed vector: concat of each subspace's chosen
    centroid. Kept public for decode/debug paths; the SCORING path no
    longer touches it — :func:`_pq_query_tables` precomputes the classical
    per-query ADC distance table instead (d/M× less work per scanned
    row)."""
    parts = []
    for m, cb in enumerate(codebooks):
        cb_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in cent]) for cent in cb]
        )
        parts.append(F.element_at(cb_lit, F.element_at(codes, m + 1) + 1))
    return F.concat(*parts)


def _pq_query_tables(
    q: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Decorate a 1-row query frame ('qv') with the classical ADC
    per-query distance table (Jégou TPAMI 2011 §IV.A): ``dot_tab[m][c]`` =
    dot(q_m, centroid_{m,c}) for every subspace m and code c, plus the
    query norm. Computed ONCE on the broadcast build side (BroadcastExchange
    materializes the child projection before shipping), so each scanned
    candidate row pays M ``element_at`` lookups instead of a d-dim
    reconstruction dot — d/M× less work per row (48× at the production
    geometry M=8, d=384)."""
    offset = 0
    sub_tabs = []
    for cb in codebooks:
        dsub = len(cb[0])
        sub = F.slice(F.col("qv"), offset + 1, dsub)
        sub_tabs.append(
            F.array(
                *[
                    dot_expr(sub, F.array(*[F.lit(float(x)) for x in cent]))
                    for cent in cb
                ]
            )
        )
        offset += dsub
    return q.withColumns(
        {
            "dot_tab": F.array(*sub_tabs),
            "q_norm": F.sqrt(dot_expr(F.col("qv"), F.col("qv"))),
        }
    )


def _pq_norm2_table(codebooks: list[list[list[float]]]) -> Column:
    """Literal M×K table of centroid squared norms. Query-independent —
    a pure codebook constant — so the PQ-reconstruction norm in the ADC
    denominator is M lookups too: subspaces are disjoint slices, hence
    ‖recon‖² = Σ_m ‖centroid_{m,codes[m]}‖²."""
    return F.array(
        *[
            F.array(
                *[F.lit(float(sum(x * x for x in cent))) for cent in cb]
            )
            for cb in codebooks
        ]
    )


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_id=None,
    coded: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ approximate top-k: rank by cosine(query, PQ-reconstruction).
    Pass a precomputed ``coded`` frame (from :func:`assign_pq_codes`) to
    skip re-encoding — the production pattern (encode once, query many).

    ``rerank=R`` takes the top-R by PQ score and re-ranks them by EXACT
    cosine on the raw vectors (the standard two-stage ADC + re-rank): the
    exact pass touches only R rows. With R ≥ corpus size the result equals
    :func:`cosine_topk` exactly (property-tested exactness limit).
    Columns: (id_col, sim) — sim is the PQ-approximate score, or the exact
    score when re-ranking."""
    if coded is None:
        coded = assign_pq_codes(df, codebooks, id_col=id_col, vec_col=vec_col)
    if exclude_query_id is not None:
        coded = coded.filter(F.col(id_col) != exclude_query_id)
    q = _pq_query_tables(
        _query_frame(
            df.select(
                id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            query, id_col, vec_col,
        ),
        codebooks,
    )
    return _pq_score_and_rerank(
        coded.crossJoin(F.broadcast(q)), codebooks, k, rerank, id_col
    )


def _pq_score_and_rerank(
    cand: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    rerank: int | None,
    id_col: str,
) -> DataFrame:
    """Shared PQ scoring tail: classical table-lookup ADC — sim numerator
    Σ_m dot_tab[m][codes[m]] and denominator √(Σ_m ‖centroid‖²)·‖q‖, i.e.
    M+M ``element_at`` lookups per scanned row, never a d-dim dot — then
    either top-k directly or exact-cosine re-rank of the top-``rerank``
    shortlist. ``cand`` must carry (id_col, v, codes, qv, dot_tab, q_norm)
    (the latter two from :func:`_pq_query_tables`).

    Fail-loud on geometry mismatch: a precomputed ``coded=`` frame encoded
    against DIFFERENT codebooks (wrong M, or codes ≥ this codebook's K)
    would otherwise NULL the ``element_at`` lookups and silently sink those
    rows to the bottom of the ranking — so every row's codes are guarded
    with a per-row raise_error, the same contract assign_pq_codes applies
    to vector length."""
    M = len(codebooks)
    codes_ok = F.size("codes") == M
    for m, cb in enumerate(codebooks):
        c = F.element_at(F.col("codes"), m + 1)
        codes_ok = codes_ok & (c >= 0) & (c < len(cb))
    cand = cand.withColumn(
        "codes",
        F.when(codes_ok, F.col("codes")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "pq scoring: codes row does not match the codebook "
                        f"geometry (M={M}, K="
                        f"{[len(cb) for cb in codebooks]}): "
                    ),
                    F.col("codes").cast("string"),
                )
            )
        ),
    )
    code_at = lambda m: F.element_at(F.col("codes"), m + 1) + 1  # noqa: E731
    num = reduce(
        lambda a, b: a + b,
        [
            F.element_at(F.element_at(F.col("dot_tab"), m + 1), code_at(m))
            for m in range(len(codebooks))
        ],
    )
    norm2_tab = _pq_norm2_table(codebooks)
    recon_norm = F.sqrt(
        reduce(
            lambda a, b: a + b,
            [
                F.element_at(F.element_at(norm2_tab, m + 1), code_at(m))
                for m in range(len(codebooks))
            ],
        )
    )
    denom = recon_norm * F.col("q_norm")
    scored = cand.select(
        id_col,
        F.col("v"),
        F.col("qv"),
        F.when(denom != 0, num / denom).alias("sim"),
    )
    if rerank is None:
        return scored.select(id_col, "sim").orderBy(
            F.desc("sim"), F.asc(id_col)
        ).limit(k)
    shortlist = scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(rerank)
    return (
        shortlist.select(
            id_col, cosine_expr(F.col("v"), F.col("qv")).alias("sim")
        )
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    query,
    k: int = 10,
    n_probe: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    exclude_query_id=None,
) -> DataFrame:
    """IVF-PQ: coarse-cell prune (probe the query's ``n_probe`` nearest
    cells) + PQ-approximate scoring of only those cells' members + optional
    exact re-rank of the short list — the composition that serves
    billion-scale ANN in practice (n_probe/n_cells of the corpus scanned,
    at M ints per vector, exact math on ≤ rerank rows). With
    n_probe = |cells| and rerank ≥ corpus size this equals
    :func:`cosine_topk` called with the same ``exclude_query_id`` exactly
    (property-tested); exclusion is explicit-only, matching every other
    ``*_topk`` in this module."""
    if assigned is None:
        assigned = assign_ivf_cells(df, centroids, id_col=id_col, vec_col=vec_col)
    # keep=("cell",) carries the IVF cell through the map-side encoding —
    # no self-join, so the (expensive) assign_ivf_cells subtree is planned
    # exactly once
    coded = assign_pq_codes(
        assigned, codebooks, id_col=id_col, vec_col="v", keep=("cell",)
    )
    q = _pq_query_tables(
        _query_frame(
            df.select(
                id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            query, id_col, vec_col,
        ),
        codebooks,
    )
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "qv", "dot_tab", "q_norm", "cid",
            l2sq_expr(F.col("qv"), F.col("cv")).alias("d"),
        )
        .orderBy("d", "cid")
        .limit(n_probe)
        .select("qv", "dot_tab", "q_norm", F.col("cid").alias("cell"))
    )
    cand = coded.join(F.broadcast(qcells), "cell")
    if exclude_query_id is not None:
        cand = cand.filter(F.col(id_col) != exclude_query_id)
    return _pq_score_and_rerank(cand, codebooks, k, rerank, id_col)
