"""Connected components over an edge frame — the clustering step of
near-duplicate deduplication.

Pairwise near-dup detection (MinHash-LSH, SimHash, embedding-cosine —
plans/dedup.py) yields candidate PAIRS; an actual
dedup pass needs CLUSTERS: the transitive closure of the pair relation,
with one canonical survivor per cluster (conventionally the minimum id).
The reference engine never needs this (its corpus fits one pickle and
dedup is the crawler's visited-set, crawler.py:210-219); at 10^12 docs it
is the step between "pairs found" and "rows dropped".

Two algorithms behind one contract:

* **min-label propagation** (the fast path): each node starts labeled with
  itself; every round each node takes the minimum label in its closed
  neighborhood (one hash join edge⋈label + one hash agg); fixpoint when no
  label changes. Rounds = graph diameter — near-dup clusters are dense and
  tiny (a duplicated page and its copies all pair with each other), so 2-3
  rounds is typical and every round is a keyed shuffle, never a pairwise
  scan.
* **alternating large-star/small-star** (the adversarial-diameter path —
  Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): each round rewires every node's strictly-larger neighbors to
  the minimum of its closed neighborhood (large-star), then collapses each
  node's strictly-smaller neighborhood onto its minimum (small-star); both
  steps preserve connectivity and monotonically pull components toward
  their minima, converging to one star per component in O(log² n) rounds
  REGARDLESS of diameter. Same primitive as propagation (keyed join + hash
  agg per step), so the 100 TB shuffle shape is unchanged — a
  mutated-template family forming a 10⁶-node chain converges in tens of
  rounds instead of 10⁶.

``algorithm="auto"`` (the default) runs propagation for ``max_iter``
rounds and, instead of failing, FALLS BACK to the star algorithm on the
original graph augmented with the partially-propagated node→label edges as
shortcut chords (a label edge joins two nodes of the same component, so
components are unchanged, while the chords cut the residual diameter by
the rounds already spent). ``algorithm="propagation"`` keeps the round-2
loud-failure contract; ``algorithm="star"`` forces the O(log² n) path.

Lineage per round is truncated with an eager ``localCheckpoint`` —
without it the plan doubles every iteration and the job dies on plan
bloat long before data size matters (the standard iterative-DataFrame
pitfall). On a cluster with HDFS-backed checkpointing, swap for
``checkpoint()`` to also survive executor loss.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """(a, b) pairs → the distinct symmetric edge frame (u, v), u ≠ v."""
    e = pairs.select(F.col(pairs.columns[0]).alias("u"),
                     F.col(pairs.columns[1]).alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(sym: DataFrame) -> DataFrame:
    """One large-star + small-star rewiring round (Kiveris et al. SoCC'14
    §3, the Alternating algorithm). Input and output are distinct symmetric
    edge frames; connectivity is preserved exactly, and each round pulls
    every node closer to its component minimum. Each step is one hash agg
    (per-node neighborhood min) + one keyed join — the same shuffle
    primitive as a propagation round, never a pairwise scan."""
    # large-star: per node u, m = min(Γ(u) ∪ {u}); rewire every STRICTLY
    # LARGER neighbor v > u to m. Every edge is processed from its smaller
    # endpoint's row of the symmetric frame.
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("_m"))
    ls = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("_m").alias("b"))
    )
    ls_sym = _symmetrize(ls)
    # small-star: per node u over its strictly-smaller neighbors N(u)
    # (each edge appears exactly once under its larger endpoint in the
    # symmetric frame), m = min(N(u)); collapse N(u) ∪ {u} onto m.
    small = ls_sym.filter(F.col("v") < F.col("u"))
    mins2 = small.groupBy("u").agg(F.min("v").alias("_m"))
    ss = (
        small.join(mins2, "u")
        .select(F.col("v").alias("a"), F.col("_m").alias("b"))
        .union(mins2.select(F.col("u").alias("a"), F.col("_m").alias("b")))
    )
    return _symmetrize(ss)


def _cc_star(
    sym: DataFrame, max_rounds: int = 60, stats: dict | None = None
) -> DataFrame:
    """Run alternating star rounds to the fixpoint (one star per
    component, centered at the component minimum), then read labels off
    the final stars. O(log² n) rounds regardless of diameter — in practice
    ~2·log₂(diameter) rounds (a 10⁶-node chain converges in ~40); the
    bound of 60 covers any realistic graph with slack, so hitting it means
    a logic bug, not a big input, and it fails loudly.

    ``stats`` (optional dict) receives ``rounds`` and the cumulative
    ``fixpoint_check_sec`` — observability for the bench's --cc arm.

    Fixpoint detection is stats-guarded (measured on the 100 k-node chain
    bench: the naive per-round two-sided exceptAll was 26 % of total wall):
    each round pays ONE cheap aggregate over the new frame — (row count,
    Σ xxhash64(u, v)), a single map-side-combined job, no anti-join
    shuffle — and the EXACT two-sided exceptAll confirmation runs only
    when the cheap stats match the previous round's (≈ once per call).
    Sound by construction: stats differ ⇒ frames differ (sum/count are
    functions of the multiset), and a hash collision merely triggers one
    extra exact check, never a wrong answer."""
    sym = sym.localCheckpoint(eager=True)

    def _edge_stats(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _edge_stats(sym)
    for r in range(max_rounds):
        new = _star_round(sym).localCheckpoint(eager=True)
        _t0 = time.time()
        cur = _edge_stats(new)
        changed = 1
        if cur == prev:
            changed = (
                new.exceptAll(sym).limit(1).count()
                + sym.exceptAll(new).limit(1).count()
            )
        if stats is not None:
            stats["rounds"] = r + 1
            stats["fixpoint_check_sec"] = (
                stats.get("fixpoint_check_sec", 0.0) + time.time() - _t0
            )
        sym, prev = new, cur
        if changed == 0:
            # fixpoint: each component is a star on its minimum → label =
            # min over the closed neighborhood
            return sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("_mn")).alias("label"),
            )
    raise RuntimeError(
        f"star connected-components did not converge in {max_rounds} "
        "rounds — this exceeds the O(log² n) bound for any realistic n "
        "and indicates a bug, not a large graph"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Exact connected components of the undirected graph ``edges``.

    Returns one row per node appearing in any edge: ``(node, label)``
    where ``label`` is the minimum node id in the component — stable,
    deterministic cluster ids regardless of partitioning or edge order.

    ``algorithm``: ``"auto"`` (propagation, star fallback past
    ``max_iter`` — never raises on a long chain), ``"propagation"``
    (loud RuntimeError past ``max_iter``), ``"star"`` (O(log² n)
    alternating large-star/small-star from round one).

    ``stats`` (optional dict) receives ``rounds`` (propagation rounds +
    star rounds actually run) and ``fixpoint_check_sec``.
    """
    if algorithm not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # one eager materialization of the input edge frame — it is typically
    # the EXPENSIVE subtree (an LSH band self-join in the dedup pipeline),
    # and both derived frames below are checkpointed off this copy, so no
    # returned label plan ever re-executes the input on a later action
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    sym = _symmetrize(e).localCheckpoint(eager=True)
    # every endpoint of the input, INCLUDING pure-self-loop nodes that the
    # symmetric frame drops — they are singleton components (label = self)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _complete(star_labels: DataFrame) -> DataFrame:
        return nodes.join(star_labels, "node", "left").select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )

    if algorithm == "star":
        return _complete(_cc_star(sym, stats=stats))

    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )

    # stats-guarded fixpoint (same scheme as _cc_star): one cheap
    # Σ xxhash64(node, label) aggregate per round; the exact label-diff
    # join runs only when the hash matches the previous round's
    def _label_hash(df: DataFrame):
        return df.agg(
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_h = _label_hash(labels)
    for r in range(max_iter):
        # min label over the closed neighborhood of each node
        prop = sym.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "label")
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        _t0 = time.time()
        cur_h = _label_hash(new)
        changed = 1
        if cur_h == prev_h:
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
        if stats is not None:
            stats["rounds"] = r + 1
            stats["fixpoint_check_sec"] = (
                stats.get("fixpoint_check_sec", 0.0) + time.time() - _t0
            )
        labels, prev_h = new, cur_h
        if changed == 0:
            return labels
    if algorithm == "auto":
        # adversarial diameter (e.g. a mutated-template chain): hand off to
        # the star algorithm on the original graph + the partially-
        # propagated node→label edges as shortcut chords. A label edge
        # joins two nodes of one component (labels only ever move along
        # edges), so components are unchanged, while the chords already
        # span ``max_iter`` hops each.
        chords = labels.select(
            F.col("node").alias("u"), F.col("label").alias("v")
        )
        star_stats: dict = {}
        out = _complete(_cc_star(_symmetrize(sym.union(chords)), stats=star_stats))
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + star_stats.get("rounds", 0)
            stats["fixpoint_check_sec"] = stats.get(
                "fixpoint_check_sec", 0.0
            ) + star_stats.get("fixpoint_check_sec", 0.0)
        return out
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "pathological graph diameter; use algorithm='auto'/'star' "
        "(large-star/small-star, O(log² n) rounds) or raise max_iter"
    )


def _pr_contribs(ew: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank iteration's contribution aggregation: src-keyed hash
    join of the rank frame against the (u, v[, w], deg) edge frame, then
    a dst-keyed map-side-combined hash agg. Factored out so the bucketed
    path's no-edge-exchange plan is directly assertable in tests. The
    weighted form multiplies by the edge weight (deg is then the src's
    total out-weight); the unweighted frame carries no ``w`` column and
    keeps the exact original expression."""
    share = (
        F.col("pr") * F.col("w") / F.col("deg")
        if "w" in ew.columns
        else F.col("pr") / F.col("deg")
    )
    return (
        ew.join(ranks.withColumnRenamed("node", "u"), "u")
        .groupBy(F.col("v").alias("node"))
        .agg(F.sum(share).alias("c"))
    )


def _pr_bucketize(
    ew: DataFrame, table: str, n_buckets: int
) -> DataFrame:
    """Write the (u, v, deg) frame ONCE as a parquet table bucketed on the
    join key ``u`` and return the bucketed scan. A ``localCheckpoint`` of
    the edge frame loses its partitioning for Catalyst (LogicalRDD reports
    unknown partitioning), so every iteration's join re-exchanges the FULL
    edge frame — at web scale edges ≫ nodes and that exchange dominates
    the loop (measured: both arms' absolute throughput fell at 46M edges).
    A bucketed scan carries HashPartitioning, so each iteration exchanges
    only the rank frame (|nodes| rows) into the bucket layout; the edge
    bytes never move again. This is the standard Spark co-location move
    for iterative joins; the caller owns the table name, the operator
    drops it on exit."""
    # the name is interpolated into SQL (DROP/saveAsTable) — fail loudly
    # on anything but a plain [db.]identifier rather than risk injection
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", table):
        raise ValueError(f"bucket_table must be a plain identifier, got {table!r}")
    spark = ew.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        ew.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "u")
        .sortBy("u")
        .saveAsTable(table)
    )
    return spark.table(table)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    nodes: DataFrame | None = None,
    stats: dict | None = None,
    bucket_table: str | None = None,
    n_buckets: int | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed link graph — the classic
    web-scale link-authority score (Page et al. 1999) over the graph that
    F5 link extraction (plans/classify.py:245) produces from a crawled
    corpus. The reference ranks purely lexically (BM25/TF-IDF,
    indexer.py:376-443); at web scale a link prior is the standard
    complement, and it is exactly the kind of iterative keyed-agg job the
    engine's CC machinery above already models.

    Semantics (the exact contract the DuckDB twin mirrors):

    * the node universe is ``nodes`` (a one-column frame) if given, else
      the distinct endpoints of ``edges``; ranks are defined for every
      universe node, including isolated ones;
    * edges are deduplicated and self-loops dropped; out-degree counts the
      distinct non-self out-links;
    * ``r_0(v) = 1/N``;
    * each of the ``iterations`` rounds computes, with ``d = damping``::

          r_{t+1}(v) = (1-d)/N + d * ( sum_{(u,v) in E} r_t(u)/deg(u)
                                       + dangling_t / N )

      where ``dangling_t`` is the total rank mass sitting on zero-out-
      degree nodes that round (redistributed uniformly, the standard
      stochastic-matrix completion — total mass stays exactly 1).

    ``weight``: optional edge-weight column — contributions become
    ``r_t(u) · w(u,v) / W(u)`` with ``W(u)`` the total out-weight
    (weighted PageRank, e.g. link multiplicity or anchor-term counts as
    weights). Duplicate ``(u, v)`` rows SUM their weights; a NULL or
    non-positive weight fails per-row, loudly. ``weight=None`` keeps the
    exact unweighted expressions (w(u,v)=1, W=out-degree).

    Returns ``(node, pr)``, one row per universe node, ``pr`` a double.

    Scale shape: the edge frame is joined with its out-degree ONCE and the
    result persisted — each iteration then pays one hash join of the rank
    frame (|nodes| rows) against it keyed on ``src`` plus one map-side-
    combined hash agg keyed on ``dst``; the dangling mass is a 1-row
    aggregate folded into the SAME job as a broadcast subtree (no
    per-iteration driver collect / cluster sync — measured 1.8× on the
    bench graph). Lineage is truncated with an eager localCheckpoint per
    round, same as the CC loop above.

    ``bucket_table``: name for a one-time bucketed materialization of the
    edge frame (bucketed on the join key, ``n_buckets`` buckets, dropped
    on exit). Without it the per-iteration join re-exchanges the FULL
    edge frame every round (a checkpointed frame loses its partitioning
    for Catalyst); with it only the rank frame moves — at web scale
    (edges ≫ nodes, e.g. ~30 links/page) this is the difference between
    shuffling the web graph ``iterations`` times and once. See
    :func:`_pr_bucketize`. Head-term skew (a page every other
    page links to, e.g. a site home) lands on the ``dst`` AGGREGATION key,
    where partial aggregation absorbs it map-side — there is deliberately
    no join keyed on ``dst`` anywhere in the loop.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not (0.0 <= damping <= 1.0):
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    if weight is None:
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    else:
        # weighted graph: duplicate (u, v) rows SUM their weights (link
        # multiplicity composes additively); a NULL / non-positive weight
        # is a caller bug that would silently skew every downstream rank —
        # fail per-row, loudly, on both. ``deg`` becomes total out-weight.
        wc = F.col(weight).cast("double")
        e = (
            edges.select(
                F.col(src).alias("u"),
                F.col(dst).alias("v"),
                F.when(
                    wc.isNull() | (wc <= 0.0),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"pagerank: weight column {weight!r} must "
                                "be positive and non-NULL, got "
                            ),
                            F.coalesce(wc.cast("string"), F.lit("NULL")),
                        )
                    ).cast("double"),
                )
                .otherwise(wc)
                .alias("w"),
            )
            .filter(F.col("u") != F.col("v"))
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
        )
    if nodes is not None:
        universe = nodes.select(
            F.col(nodes.columns[0]).alias("node")
        ).distinct()
        # an edge endpoint outside an explicit universe would leak rank
        # mass in or out, breaking sum(pr)=1 — restrict to universe×universe
        e = e.join(universe.select(F.col("node").alias("u")), "u").join(
            universe.select(F.col("node").alias("v")), "v"
        )
    else:
        universe = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct()
        )
    universe = universe.localCheckpoint(eager=True)
    n = universe.count()
    if n == 0:
        return universe.withColumn("pr", F.lit(0.0))
    # single execution of the (typically expensive) input edge subtree —
    # everything below (deg, the ew join, the dangling anti-join) reads
    # this materialized copy, same discipline as connected_components
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(
        (F.count("*") if weight is None else F.sum("w")).alias("deg")
    )
    # one materialized (u, v, deg) frame — the loop's only big operand.
    # ``bucket_table`` trades a one-time bucketed write for exchange-free
    # edge scans in EVERY iteration (see _pr_bucketize) — the right call
    # whenever iterations × |edges| dwarfs one write, i.e. always at scale
    ew = e.join(deg, "u")
    if bucket_table is not None:
        nb = n_buckets or edges.sparkSession.sparkContext.defaultParallelism
        ew = _pr_bucketize(ew, bucket_table, nb)
    else:
        ew = ew.localCheckpoint(eager=True)
    # zero-out-degree detection off the materialized ew (never a second
    # execution of the input subtree)
    dangling_nodes = universe.join(
        ew.select(F.col("u").alias("node")).distinct(), "node", "left_anti"
    ).localCheckpoint(eager=True)

    ranks = universe.withColumn("pr", F.lit(1.0 / n)).localCheckpoint(
        eager=True
    )
    base = (1.0 - damping) / n
    try:
        for it in range(iterations):
            # dangling mass as an IN-PLAN broadcast 1-row aggregate — a
            # driver-side collect here would add a blocking scalar job (a
            # full cluster sync) per iteration; as a broadcast subtree it
            # executes inside the same job that materializes the new rank
            # frame, off the previous round's checkpointed ranks
            dang_df = (
                ranks.join(dangling_nodes, "node")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang"))
            )
            ranks = (
                universe.join(_pr_contribs(ew, ranks), "node", "left")
                .crossJoin(F.broadcast(dang_df))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.col("_dang") / F.lit(float(n))
                        )
                    ).alias("pr"),
                )
                .localCheckpoint(eager=True)
            )
            if stats is not None:
                stats["rounds"] = it + 1
        if stats is not None:
            # observability only (one extra tiny job, asked-for only):
            # the rank mass sitting on dangling nodes in the FINAL frame
            stats["dangling_mass"] = (
                ranks.join(dangling_nodes, "node")
                .agg(F.sum("pr"))
                .collect()[0][0]
                or 0.0
            )
    finally:
        if bucket_table is not None:
            # every rank frame is checkpointed, so nothing returned keeps
            # lineage into the bucketed table — safe to drop on every exit
            edges.sparkSession.sql(f"DROP TABLE IF EXISTS {bucket_table}")
    return ranks


def dedup_clusters(
    pairs: DataFrame, id_a: str = "vec_a", id_b: str = "vec_b"
) -> DataFrame:
    """Near-dup pairs → clusters with a canonical survivor.

    ``(vec_id, cluster_id, is_canonical)`` for every id in a pair:
    ``cluster_id`` is the component minimum; the canonical row (the one a
    dedup pass KEEPS) is the member equal to it. Downstream: anti-join the
    corpus against the non-canonical ids to drop duplicates."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def drop_duplicates_by_cluster(
    corpus: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a near-dup dedup pass: DROP every corpus row whose id is
    a non-canonical cluster member, keep canonical members and rows in no
    cluster at all. This is the anti-join that turns ``dedup_clusters``
    output into a smaller corpus — the step between "clusters labeled" and
    "rows gone" (reference analog: the crawler's visited-set skip,
    crawler.py:210-219, generalized from URL identity to content identity).

    Scale shape: one LEFT ANTI hash join keyed on ``id_col``. The drop set
    is ≤ the ids that appeared in any near-dup pair — orders of magnitude
    smaller than the corpus — so AQE broadcasts it and the corpus never
    shuffles; even in the sort-merge worst case the corpus moves once,
    keyed, with no pairwise scan anywhere."""
    losers = clusters.filter(~F.col("is_canonical")).select(
        F.col("vec_id").alias(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")
