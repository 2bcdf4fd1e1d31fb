"""Graph centrality — PageRank (Brin & Page 1998) over an edge table.

Why in a data-curation engine: link-graph centrality is a standard
document-quality signal for web-crawl corpora (rank the crawl's domain
graph, keep/weight documents from central hosts — the same role the
CCNet/Gopher scores play on the text side). The companion to
``clustering.connected_components`` on the graph-analytics shelf.

Scale design: the rank vector lives as a ``(node, rank)`` DataFrame —
never collected. Each iteration is one join of the edge table against
the current ranks (shuffle keyed on the source node) plus one keyed
aggregation onto the destination (map-side partial sums), i.e. exactly
the A^T x product shape of ``similarity.pca_power_iteration``, with the
same determinism contract: ranks round to 6dp per iteration, so a
fixed-``n_iter`` run unrolls to plain SQL for the DuckDB oracle, and
per-iteration lineage is truncated with lazy localCheckpoints.

Dangling nodes (no out-edges) keep receiving rank but redistribute
nothing — the "lost mass" formulation of the original paper (total mass
shrinks below 1; ranks remain a valid relative ordering). The
alternative (re-spreading dangling mass uniformly) needs one extra
scalar aggregate per iteration; left out to keep the unrolled oracle
small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    collect_if_small,
    driver_frame,
    ensure_parallelism,
    np_round_half_up_like_spark,
)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Ranks after ``n_iter`` damped power iterations from the uniform
    start: ``(node, rank)``, 6dp-rounded each iteration.

    ``weight_col`` makes the walk weighted (transition probability
    w(u,v) / Σ_v' w(u,v')); ``None`` treats every edge as weight 1.
    Parallel edges are legal and simply add weight. Self-loops are legal
    too (they hold mass in place).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    # persist the edge projection AND the transition table for the whole
    # iteration: the rank loop references trans once per iteration (and
    # trans references e twice, via e ⋈ outw(e)) — without the caches an
    # upstream edge pipeline (e.g. the 4-table trade-graph join of
    # q_nation_pagerank) re-executes ~2x per iteration
    e = ensure_parallelism(edges).select(
        F.col(src).alias("__u"), F.col(dst).alias("__v"), w.alias("__w")
    ).persist()
    nodes = (
        e.select(F.col("__u").alias("node"))
        .union(e.select(F.col("__v").alias("node")))
        .distinct()
        .persist()
    )
    trans = None
    try:
        # per-source transition probabilities: one groupBy + join back
        # (out-degree tables are node-sized, not edge-sized); persisted
        # before the size probe, so the partitions the probe reads stay
        # cached for the loop
        outw = e.groupBy("__u").agg(F.sum("__w").alias("__ow"))
        trans = (
            e.join(outw, "__u")
            .select(
                "__u", "__v",
                F.round(F.col("__w") / F.col("__ow"), 6).alias("__p"),
            )
            .persist()
        )
        # r14 driver contraction — same branch as personalized_pagerank;
        # uniform base/start are the same 6dp rounds via the pinned
        # HALF_UP twin of F.round
        trans_rows = collect_if_small(trans)
        if trans_rows is not None:
            node_rows = nodes.collect()
            n = len(node_rows)
        else:
            # fills the nodes and e caches the loop references
            n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty edge table")
        if trans_rows is not None:
            r1n = float(np_round_half_up_like_spark(1.0 / n))
            b0 = float(np_round_half_up_like_spark((1.0 - damping) / n))
            base_rows = [
                {"node": r["node"], "__p0": r1n, "__b": b0}
                for r in node_rows
            ]
            return _ppr_driver_iterate(
                edges.sparkSession,
                trans_rows,
                base_rows,
                n_iter,
                damping,
                dict(nodes.dtypes)["node"],
            )
        # HALF_UP via F.round, never Python round() (banker's) — the
        # parity-kit rule for every literal that reaches a comparison
        base = F.round(F.lit((1.0 - damping) / n), 6)
        ranks = nodes.select(
            "node", F.round(F.lit(1.0 / n), 6).alias("rank")
        )
        for _ in range(n_iter):
            contrib = (
                trans.join(
                    ranks.select(F.col("node").alias("__u"), "rank"), "__u"
                )
                .groupBy("__v")
                .agg(F.sum(F.col("rank") * F.col("__p")).alias("__in"))
            )
            ranks = (
                nodes.join(
                    contrib.select(F.col("__v").alias("node"), "__in"),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.round(
                        base
                        + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0)),
                        6,
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        # materialize the final ranks ONCE while the e/trans/nodes caches
        # are still live (they are unpersisted below); the eager
        # checkpoint pins the result so later actions replay nothing
        return ranks.localCheckpoint(eager=True)
    finally:
        nodes.unpersist()
        e.unpersist()
        if trans is not None:
            trans.unpersist()


def _ppr_driver_iterate(
    spark, trans_rows, base_rows, n_iter: int, damping: float, node_type: str
) -> DataFrame:
    """Driver-side damped power iteration over collected transition
    rows ``(__u, __v, __p)`` and base rows ``(node, __p0, __b)`` — the
    exact per-iteration formula of the distributed loop:
    ``rank_v ← round6(b_v + d·Σ_u rank_u·p_uv)`` from ``rank = p0``.
    Rounding is the pinned Spark-parity HALF_UP helper; summation runs
    in collected edge order (the distributed form's own partial-sum
    order is partition-dependent — both live under the contract's 6dp
    tolerance)."""
    import numpy as np

    nodes = [r["node"] for r in base_rows]
    idx = {x: i for i, x in enumerate(nodes)}
    b = np.array([r["__b"] for r in base_rows], dtype=np.float64)
    ranks = np.array([r["__p0"] for r in base_rows], dtype=np.float64)
    ui = np.array([idx[r["__u"]] for r in trans_rows], dtype=np.int64)
    vi = np.array([idx[r["__v"]] for r in trans_rows], dtype=np.int64)
    p = np.array([r["__p"] for r in trans_rows], dtype=np.float64)
    for _ in range(n_iter):
        inflow = np.zeros(len(nodes), dtype=np.float64)
        np.add.at(inflow, vi, ranks[ui] * p)
        ranks = np_round_half_up_like_spark(b + damping * inflow)
    return driver_frame(
        spark,
        [(nodes[i], float(ranks[i])) for i in range(len(nodes))],
        f"node {node_type}, rank double",
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    seed_node_col: str = "node",
    seed_weight_col: str | None = None,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Haveliwala 2002; Gyongyi
    2004): damped power iteration where ALL teleport mass returns to
    the ``seeds`` distribution instead of uniform — the web-curation
    trust propagator (seed a vetted allowlist of hosts, walk the link
    graph, read off per-host trust; documents from rank-0 hosts have NO
    path from any trusted seed). Same execution shape and determinism
    contract as :func:`pagerank`: per-iteration 6dp rounds, lost-mass
    dangling handling, per-iteration lazy lineage truncation — so a
    fixed-``n_iter`` run unrolls to the DuckDB oracle.

    ``seeds`` is a ``(node [, weight])`` DataFrame (duplicate seed rows
    sum their weight); weights must be positive and non-NULL — raises
    otherwise, because a silently-dropped seed changes every rank. The
    start vector IS the seed distribution (rounded 6dp per seed).
    Reduction pin: seeds = every node at equal weight makes this
    EXACTLY :func:`pagerank` (base (1-d)/n, start 1/n).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    sw = (
        F.col(seed_weight_col).cast("double")
        if seed_weight_col
        else F.lit(1.0)
    )
    sd = seeds.select(
        F.col(seed_node_col).alias("node"), sw.alias("__sw")
    )
    # ONE aggregate replaces the filter-count guard AND the later
    # empty-seed limit-count (r14: two serial driver jobs fused — §1.2)
    seed_stats = sd.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(
                F.col("__sw").isNull()
                | (F.col("__sw") <= 0)
                | F.col("node").isNull(),
                1,
            ).otherwise(0)
        ).alias("__bad"),
    ).first()
    if int(seed_stats["__n"]) == 0:
        raise ValueError("personalized_pagerank: empty seed table")
    if int(seed_stats["__bad"] or 0) > 0:
        raise ValueError(
            "personalized_pagerank: seed nodes must be non-NULL with "
            "positive non-NULL weights"
        )
    # p0 holds exactly the distinct seed nodes, so the node table reads
    # them off the raw seeds: no groupBy, cross join or broadcast (three
    # jobs) under the nodes cache
    seed_nodes = sd.select("node")
    sd = sd.groupBy("node").agg(F.sum("__sw").alias("__sw"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = ensure_parallelism(edges).select(
        F.col(src).alias("__u"), F.col(dst).alias("__v"), w.alias("__w")
    ).persist()
    # seed total via an alias-qualified cross join (sd appears on both
    # sides — the self-join lineage rule)
    p0 = (
        sd.alias("__s")
        .crossJoin(
            sd.agg(F.sum("__sw").alias("__tw")).alias("__t")
        )
        .select(
            F.col("__s.node").alias("node"),
            F.round(F.col("__s.__sw") / F.col("__t.__tw"), 6)
            .alias("__p"),
        )
    )
    nodes = (
        e.select(F.col("__u").alias("node"))
        .union(e.select(F.col("__v").alias("node")))
        .union(seed_nodes)
        .distinct()
        .persist()
    )
    trans = None
    basev = None
    try:
        # persisted before the size probe (the pagerank pattern)
        outw = e.groupBy("__u").agg(F.sum("__w").alias("__ow"))
        trans = (
            e.join(outw, "__u")
            .select(
                "__u", "__v",
                F.round(F.col("__w") / F.col("__ow"), 6).alias("__p"),
            )
            .persist()
        )
        trans_rows = collect_if_small(trans)
        if trans_rows is not None:
            # r14 driver contraction: Spark computed the w/Σw transition
            # probs and the 6dp seed distribution p0; the driver rounds
            # the teleport base round6((1-d)·p0) with the pinned HALF_UP
            # twin and runs the Σ rank·p rounds (partial-sum order is
            # already partition-dependent in the loop: 6dp tolerance).
            # Nodes are the transition endpoints plus the seeds: only
            # the target of a NULL-source edge, ranked 0 by the loop,
            # has no row here.
            p0_rows = dict(p0.collect())
            node_ids = dict.fromkeys(
                [x for r in trans_rows for x in (r["__u"], r["__v"])] + list(p0_rows)
            )
            p0v = [p0_rows.get(x, 0.0) for x in node_ids]
            bv = np_round_half_up_like_spark([(1.0 - damping) * x for x in p0v])
            return _ppr_driver_iterate(
                seeds.sparkSession,
                trans_rows,
                [
                    {"node": x, "__p0": p, "__b": float(b)}
                    for x, p, b in zip(node_ids, p0v, bv)
                ],
                n_iter,
                damping,
                dict(nodes.dtypes)["node"],
            )
        # per-node teleport base (1-d)*p_seed, 0 off-seed; carried with
        # the node table so every iteration is one extra column, not an
        # extra join
        basev = (
            nodes.join(p0, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__p"), F.lit(0.0)).alias("__p0"),
                F.round(
                    F.lit(1.0 - damping)
                    * F.coalesce(F.col("__p"), F.lit(0.0)),
                    6,
                ).alias("__b"),
            )
            .persist()
        )
        # basev is referenced by EVERY iteration of the unrolled loop —
        # an unmaterialized cache gets recomputed per reference inside
        # the one big final job. Its count also fills the nodes cache;
        # the probe above filled e (outw reads all of it) and the trans
        # partitions it read. Node-sized, so the extra action is cheap
        basev.count()
        ranks = basev.select("node", F.col("__p0").alias("rank"))
        for _ in range(n_iter):
            contrib = (
                trans.join(
                    ranks.select(F.col("node").alias("__u"), "rank"), "__u"
                )
                .groupBy("__v")
                .agg(F.sum(F.col("rank") * F.col("__p")).alias("__in"))
            )
            ranks = (
                basev.join(
                    contrib.select(F.col("__v").alias("node"), "__in"),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    F.round(
                        F.col("__b")
                        + F.lit(damping)
                        * F.coalesce(F.col("__in"), F.lit(0.0)),
                        6,
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
        return ranks.localCheckpoint(eager=True)
    finally:
        nodes.unpersist()
        e.unpersist()
        if trans is not None:
            trans.unpersist()
        if basev is not None:
            basev.unpersist()


def triangle_counts(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient
    over an undirected simple graph (self-loops dropped, parallel edges
    collapsed) — the cohesion companion to PageRank's centrality on the
    graph-analytics shelf (web-graph curation reads both: a central but
    triangle-free host is a hub/aggregator, a clustered one a
    community).

    Degree-ordered orientation (the standard wedge-bounding trick —
    Schank & Wagner 2005): each canonical edge points from its
    (degree, id)-SMALLER endpoint to the larger, making out-degrees
    O(sqrt(m))-bounded, so the wedge self-join — pairs of out-neighbors
    of a shared pivot — is O(m^1.5) worst-case instead of the naive
    sum-of-deg² that melts on hub nodes; every triangle is generated
    exactly once at its smallest vertex and closed by ONE semi join
    against the oriented edges (y→z is oriented by construction when
    ord(y) < ord(z)). Comparisons stay on the raw (degree, id) pairs —
    no global rank window (the key_skew_report lesson).

    Returns ``(node, degree, n_triangles, clustering_coef)`` with
    ``clustering_coef = round(2·t / (d·(d−1)), 6)`` (NULL when degree
    < 2). All joins are keyed and AQE-splittable; nothing collects.

    The shared frames are persisted for the call (the ``pagerank``
    pattern above): ``orient`` is referenced 3x (both wedge sides + the
    closers semi join) and ``deg`` 2x — without the caches the caller's
    upstream edge pipeline (e.g. the 4-table trade-graph join of
    ``q_nation_triangles``) re-executes ~5-6x per action, which at a
    real web graph makes the corpus-sized edge derivation the dominant
    cost. The result is pinned with an eager localCheckpoint so the
    caches can be dropped before returning.
    """
    u, v = F.col(src), F.col(dst)
    e = (
        edges.where(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .persist()
    )
    orient = None
    try:
        g = (
            e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
            .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
        )
        lower_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        orient = g.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
        ).persist()
        e1, e2 = orient.alias("e1"), orient.alias("e2")
        ord_lt = (F.col("e1.dy") < F.col("e2.dy")) | (
            (F.col("e1.dy") == F.col("e2.dy")) & (F.col("e1.y") < F.col("e2.y"))
        )
        wedges = e1.join(
            e2, (F.col("e1.x") == F.col("e2.x")) & ord_lt
        ).select(
            F.col("e1.x").alias("ta"),
            F.col("e1.y").alias("tb"),
            F.col("e2.y").alias("tc"),
        )
        closers = orient.select(F.col("x").alias("tb"), F.col("y").alias("tc"))
        tri = wedges.join(closers, ["tb", "tc"], "left_semi")
        counts = (
            tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        )
        t = F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint"))
        result = (
            deg.join(counts, "node", "left")
            .select(
                "node",
                "degree",
                t.alias("n_triangles"),
                F.when(
                    F.col("degree") >= 2,
                    F.round(
                        (F.lit(2.0) * t.cast("double"))
                        / (
                            F.col("degree").cast("double")
                            * (F.col("degree") - F.lit(1)).cast("double")
                        ),
                        6,
                    ),
                ).alias("clustering_coef"),
            )
        )
        return result.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        deg.unpersist()
        if orient is not None:
            orient.unpersist()


def _lpa_driver_iterate(
    spark, edge_rows, n_iter: int, node_type: str
) -> DataFrame:
    """Driver-side synchronous LPA over collected canonical undirected
    edges — the exact integer twin of the distributed loop: per round
    every node's ballot is its neighbors' labels plus ONE self-vote,
    winner by (count desc, label asc)."""
    nbrs: dict = {}
    for u, v in edge_rows:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    labels = {x: x for x in nbrs}
    for _ in range(n_iter):
        new = {}
        for node, ns in nbrs.items():
            votes: dict = {labels[node]: 1}  # the self-vote
            for nb in ns:
                lbl = labels[nb]
                votes[lbl] = votes.get(lbl, 0) + 1
            new[node] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    return driver_frame(
        spark, list(labels.items()), f"node {node_type}, community {node_type}"
    )


def label_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    n_iter: int = 4,
) -> DataFrame:
    """Community partition by synchronous label propagation (Raghavan
    et al. 2007, with the two standard determinism fixes): each node
    starts labeled with its own id; per round, a node adopts the label
    with the MOST votes among its neighbors PLUS ONE SELF-VOTE for its
    current label, ties broken toward the SMALLEST label. The self-vote
    kills the 2-cycle oscillation of pure synchronous LPA (a—b with
    labels 1,2 would swap forever; with self-votes both tie and take
    min = 1), and the (count desc, label asc) total order removes the
    paper's random tie-break — fixed ``n_iter`` then unrolls to an
    exact SQL oracle (the pagerank precedent), with integer labels so
    no rounding contract is needed at all.

    The missing graph-shelf member next to centrality (PageRank),
    cohesion (triangles) and connectivity (CC): communities are denser-
    than-chance groups, the unit web-curation mixes weight by (a CC
    component fuses everything reachable; LPA splits it along sparse
    cuts). Returns ``(node, community)``.

    Scale: one keyed join + one keyed aggregate per round (the A^T x
    shape again); votes combine map-side; ``max(struct(cnt, -label))``
    picks the winner with no per-node window. Self-loops and duplicate
    edges are collapsed; isolated nodes never appear (no edge, no row —
    match CC's edge-table contract). Labels truncate lineage per round
    via lazy localCheckpoint; the edge projection is persisted for the
    loop and the result eagerly checkpointed (the pagerank pattern).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    u, v = F.col(src), F.col(dst)
    e = (
        ensure_parallelism(edges)
        .where(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .persist()
    )
    nodes = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct().persist()
    try:
        # r14 driver contraction (guide §8; the CC/PPR pattern): LPA is
        # INTEGER-exact (vote counts, smallest-label tie-break), so the
        # driver twin is arithmetic-identical, not merely
        # tolerance-equal; small graphs skip n_iter unrolled
        # join+aggregate rounds entirely.
        dtypes = dict(e.dtypes)
        if dtypes["u"] == dtypes["v"] and dtypes["u"] in (
            "bigint", "int", "smallint", "tinyint"
        ):
            rows = collect_if_small(e)
            if rows is not None:
                return _lpa_driver_iterate(
                    edges.sparkSession,
                    [(r["u"], r["v"]) for r in rows],
                    n_iter,
                    dtypes["u"],
                )
        # every round references e: fill its cache before the loop
        e.count()
        both = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        labels = nodes.select("node", F.col("node").alias("community"))
        for _ in range(n_iter):
            # one ballot row per (neighbor edge ∪ self); ONE keyed
            # aggregate per round (map-side partial sums) — a separate
            # neighbor groupBy before the union would add a second
            # shuffle for nothing
            nbr_votes = both.join(
                labels.select(
                    F.col("node").alias("v"),
                    F.col("community").alias("lbl"),
                ),
                "v",
            ).select(F.col("u").alias("node"), "lbl")
            self_votes = labels.select(
                "node", F.col("community").alias("lbl")
            )
            votes = nbr_votes.unionByName(self_votes).groupBy(
                "node", "lbl"
            ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            labels = (
                votes.groupBy("node")
                .agg(
                    F.max(
                        F.struct(
                            F.col("cnt"),
                            (-F.col("lbl")).alias("neg_lbl"),
                        )
                    ).alias("w")
                )
                .select("node", (-F.col("w.neg_lbl")).alias("community"))
                .localCheckpoint(eager=False)
            )
        return labels.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        nodes.unpersist()


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 8,
) -> DataFrame:
    """The k-core of an undirected simple graph (Seidman 1983): the
    maximal subgraph in which every node has degree >= k, by synchronous
    peeling — drop all nodes of degree < k, recompute degrees in the
    survivor-induced subgraph, repeat. Coreness is the graph-shelf
    member the others don't cover: a high-PageRank node can be a
    pendant hub, a high-triangle node a one-clique wonder; surviving
    the k-core peel needs k MUTUALLY-surviving neighbors (the standard
    web-spam/link-farm signal and the densest-region prefilter).

    Determinism is free (no ties, no floats: a node is dropped iff its
    integer survivor-degree < k), so a FIXED-round run unrolls to an
    exact SQL oracle (the pagerank precedent) — and because peeling is
    monotone (survivor sets only shrink; a converged round is a no-op),
    the engine may stop EARLY at a fixpoint and still equal the oracle's
    full ``max_rounds`` unroll. Raises if the peel has not converged
    after ``max_rounds`` (the bound is the oracle's unroll depth, not a
    truncation — an unconverged cut would be a silent wrong answer).

    Plan per round: one semi join of the edge table against survivors
    on EACH endpoint + one keyed degree count — edge-sized shuffles,
    AQE-splittable, nothing collects but the per-round survivor count
    (one scalar driver read, the convergence test). Returns
    ``(node, degree)`` of the k-core subgraph.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    u, v = F.col(src), F.col(dst)
    e0 = (
        ensure_parallelism(edges)
        .where(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .persist()
    )
    live = e0
    try:
        n_prev = None
        for _ in range(max_rounds):
            deg = (
                live.select(F.explode(F.array("u", "v")).alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
            )
            keep = deg.filter(F.col("degree") >= k).localCheckpoint(
                eager=True
            )
            n = keep.count()
            if n_prev is not None and n == n_prev:
                return keep
            n_prev = n
            if n == 0:
                return keep
            survivors = keep.select("node")
            live = (
                live.join(
                    survivors.withColumnRenamed("node", "u"), "u", "left_semi"
                )
                .join(
                    survivors.withColumnRenamed("node", "v"), "v", "left_semi"
                )
                .localCheckpoint(eager=False)
            )
        raise ValueError(
            f"kcore: peel did not converge within max_rounds={max_rounds} "
            "(raise max_rounds; the oracle unroll depth must match)"
        )
    finally:
        e0.unpersist()

def modularity_report(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
) -> DataFrame:
    """Community-quality report: Newman modularity contribution per
    community (Newman & Girvan 2004), the quality signal the mixes
    lacked when weighting by :func:`label_propagation` communities —
    one row ``(community, n_nodes, intra_edges, degree_sum, q_c)``
    where ``q_c = e_c/m − (D_c/(2m))²``; global ``Q = Σ_c q_c`` (read
    it with one more aggregate). Q near 0 means the partition is no
    better than chance; LPA occasionally converges to one giant
    community, and this is the report that catches it.

    Determinism/exactness: ``e_c`` (intra-community edges), ``D_c``
    (endpoint-degree sum) and ``m`` (total edges) are exact integers on
    the normalized undirected simple graph (the
    :func:`label_propagation` edge contract: NULLs and self-loops drop,
    duplicates collapse); only the final ``q_c`` ratio rounds, once, to
    6dp — so a SQL oracle unrolls exactly.

    Plan: ONE labeled-edge table (two broadcast-or-shuffle joins of the
    edge projection against the node-keyed labels) eagerly checkpointed
    — the report branches 3 ways off it (m, intra counts, degree sums)
    and Catalyst reuses no subtree across branches (the r12 vote-table
    lesson); every branch after the pin is edge- or community-sized.
    Communities with no intra edge (singletons can't occur from LPA,
    but sparse cuts can) surface with ``intra_edges = 0`` via the outer
    join, not a dropped row.

    ``weight_col`` switches to the weighted Newman form (Newman 2004):
    ``m``/``intra_edges``/``degree_sum`` become WEIGHT sums (exact when
    weights are integers — the trade-count shape), same ``q_c``
    formula over the sums. Duplicate orientations of one undirected
    edge collapse by SUMMING their weights (pass one row per
    undirected edge for the standard reading).
    """
    u, v = F.col(src), F.col(dst)
    base = ensure_parallelism(edges).where(
        u.isNotNull() & v.isNotNull() & (u != v)
    )
    if weight_col is None:
        e = base.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        ).distinct().select(
            "u", "v", F.lit(1).cast("bigint").alias("w")
        )
    else:
        e = (
            base.select(
                F.least(u, v).alias("u"),
                F.greatest(u, v).alias("v"),
                F.col(weight_col).cast("bigint").alias("w"),
            )
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
        )
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(community_col).alias("c")
    )
    el = (
        e.join(
            lab.select(F.col("node").alias("u"), F.col("c").alias("cu")),
            "u",
        )
        .join(
            lab.select(F.col("node").alias("v"), F.col("c").alias("cv")),
            "v",
        )
        .localCheckpoint(eager=True)
    )
    m = el.agg(F.sum("w").cast("bigint").alias("m")).alias("tg")
    intra = (
        el.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("w").cast("bigint").alias("intra_edges"))
    )
    deg = (
        el.select(F.col("cu").alias("community"), "w")
        .unionAll(el.select(F.col("cv").alias("community"), "w"))
        .groupBy("community")
        .agg(F.sum("w").cast("bigint").alias("degree_sum"))
    )
    nodes = lab.groupBy(F.col("c").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    return (
        nodes.join(deg, "community", "left")
        .join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint")
            .alias("intra_edges"),
            F.coalesce(F.col("degree_sum"), F.lit(0)).cast("bigint")
            .alias("degree_sum"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("intra_edges"), F.lit(0))
                    .cast("double"),
                    F.col("tg.m").cast("double"),
                )
                - F.pow(
                    F.try_divide(
                        F.coalesce(F.col("degree_sum"), F.lit(0))
                        .cast("double"),
                        F.lit(2.0) * F.col("tg.m").cast("double"),
                    ),
                    F.lit(2.0),
                ),
                6,
            ).alias("q_c"),
        )
    )

def conductance_report(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-community conductance (Kannan-Vempala-Vetta 2004) — the
    cut-quality companion to :func:`modularity_report`: ``phi_c =
    cut_c / min(vol_c, 2m − vol_c)`` where ``cut_c`` is the (weighted)
    number of edges leaving the community and ``vol_c`` its endpoint-
    degree volume. Low phi = a well-separated community; modularity
    rewards denser-than-chance INSIDES while conductance punishes leaky
    BOUNDARIES, and a partition can score well on one and badly on the
    other — quality reports read both. One row ``(community, n_nodes,
    cut_edges, volume, phi)``.

    Exactness: cut/volume/m are exact integer (weight) sums on the
    normalized undirected simple graph (the modularity contract; same
    duplicate-orientation weight-sum collapse); only ``phi`` rounds,
    once, to 6dp. ``phi`` is NULL (``try_divide``) when the community
    is the whole graph (2m − vol = 0 and cut = 0 — conductance of the
    trivial cut is undefined, not 0).

    Plan: the same ONE checkpointed labeled-edge table as modularity
    (3 bounded branches: volume, cut, total), nothing data-sized
    collects.
    """
    u, v = F.col(src), F.col(dst)
    base = ensure_parallelism(edges).where(
        u.isNotNull() & v.isNotNull() & (u != v)
    )
    if weight_col is None:
        e = base.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        ).distinct().select(
            "u", "v", F.lit(1).cast("bigint").alias("w")
        )
    else:
        e = (
            base.select(
                F.least(u, v).alias("u"),
                F.greatest(u, v).alias("v"),
                F.col(weight_col).cast("bigint").alias("w"),
            )
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
        )
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(community_col).alias("c")
    )
    el = (
        e.join(
            lab.select(F.col("node").alias("u"), F.col("c").alias("cu")),
            "u",
        )
        .join(
            lab.select(F.col("node").alias("v"), F.col("c").alias("cv")),
            "v",
        )
        .localCheckpoint(eager=True)
    )
    m = el.agg(F.sum("w").cast("bigint").alias("m")).alias("tg")
    cut = (
        el.filter(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("community"), "w")
        .unionAll(
            el.filter(F.col("cu") != F.col("cv")).select(
                F.col("cv").alias("community"), "w"
            )
        )
        .groupBy("community")
        .agg(F.sum("w").cast("bigint").alias("cut_edges"))
    )
    vol = (
        el.select(F.col("cu").alias("community"), "w")
        .unionAll(el.select(F.col("cv").alias("community"), "w"))
        .groupBy("community")
        .agg(F.sum("w").cast("bigint").alias("volume"))
    )
    nodes = lab.groupBy(F.col("c").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    return (
        nodes.join(vol, "community", "left")
        .join(cut, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("cut_edges"), F.lit(0)).cast("bigint")
            .alias("cut_edges"),
            F.coalesce(F.col("volume"), F.lit(0)).cast("bigint")
            .alias("volume"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("cut_edges"), F.lit(0))
                    .cast("double"),
                    F.least(
                        F.coalesce(F.col("volume"), F.lit(0)),
                        2 * F.col("tg.m")
                        - F.coalesce(F.col("volume"), F.lit(0)),
                    ).cast("double"),
                ),
                6,
            ).alias("phi"),
        )
    )
