"""Connected components over a pair list — dedup *clustering*.

Pairwise near-dup detection (MinHash-LSH, SimHash, Jaccard — see
``operators.dedup``) yields edges; curation needs CLUSTERS: every doc
labeled with its duplicate-group id so one representative per group can
be kept. That grouping is connected components on the pair graph.

Algorithm: iterative min-label propagation (the MapReduce-CC / Pregel
formulation). Each vertex starts labeled with its own id; every round
each vertex takes the min of its label and its neighbors' labels; stop
when a round changes nothing. Rounds = graph diameter, and near-dup
components are small and dense (duplicate families), so 3-5 rounds
cover real corpora; ``max_iter`` bounds the pathological chain case.

Scale design:
- each round is one join (edges ⨝ labels, shuffle keyed on vertex id)
  + one min-aggregation — all partial-aggregated, nothing collects to
  the driver; the convergence check is a 1-row count per round (a
  driver-side *decision*, not driver-side data).
- ``localCheckpoint`` truncates lineage each round so plans don't grow
  exponentially across iterations (the standard iterative-Spark trap).
- at trillion-edge / deep-graph scale use ``connected_components_star``
  (Kiveris et al., "Connected Components in MapReduce and Beyond"):
  O(log^2 n) rounds on any topology vs diameter rounds here, same
  labeling (equivalence pinned by tests).

The result is oracle-checked against a DuckDB recursive CTE computing
min-reachable-id per vertex (__spark_entry__ `dedup_clusters`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import collect_if_small, driver_frame

# r14 (guide §8 "decide with small rows"): edge lists under the driver
# bound (``util.collect_if_small``) are solved with exact min-label
# union-find — replacing 3-10 distributed rounds (each an eager
# checkpoint job + a convergence-check job) with ZERO Spark jobs after
# the (already required) edge materialization. Near-dup pair lists are
# tiny relative to the corpus at every scale (sf0.1: 256 edges; a
# 100 TB corpus with billions of dup edges takes the distributed loop
# unchanged).
_CC_DRIVER_OK_TYPES = ("bigint", "int", "smallint", "tinyint")


def _cc_driver_labels(edge_rows) -> dict:
    """Min-label union-find over collected ``(u, v)`` edge rows: every
    endpoint vertex → the minimum id reachable from it. Exact integer
    arithmetic — identical to the fixpoint of min-label propagation and
    to the recursive-CTE oracle. Union-by-min keeps each root the
    component minimum, so ``find(x)`` IS the label."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        # path compression
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    verts = set()
    for u, v in edge_rows:
        verts.add(u)
        verts.add(v)
    return {x: find(x) for x in verts}


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every vertex of the undirected pair graph with the minimum
    vertex id reachable from it. Returns (id, cluster_id).

    ``pairs`` is an edge list; direction and duplicates don't matter.
    """
    # symmetrize via explode, not union-of-two-selects: a union consumes
    # the ``pairs`` subtree twice, and when pairs come straight off the
    # MinHash-LSH pipeline that re-runs its (expensive) verify stage —
    # explode duplicates each row map-side in a single evaluation
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    # r14 size-adaptive contraction (guide §8): the checkpoint above
    # already materialized the edge list, so collecting it is cheap;
    # tiny graphs (the common near-dup case at EVERY corpus scale — the
    # pair list is dup-structure-sized, not corpus-sized) solve exactly
    # on the driver instead of paying diameter× (checkpoint + count)
    # jobs. Integral id types only: Python/Spark orderings agree on
    # ints; strings would need collation care, so they keep the loop.
    dtypes = dict(edges.dtypes)
    if dtypes["u"] == dtypes["v"] and dtypes["u"] in _CC_DRIVER_OK_TYPES:
        rows = collect_if_small(edges)
        if rows is not None:
            lab = _cc_driver_labels([(r["u"], r["v"]) for r in rows])
            spark = pairs.sparkSession
            return driver_frame(
                spark,
                list(lab.items()),
                f"id {dtypes['u']}, cluster_id {dtypes['u']}",
            )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.u == labels.id)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        merged = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("new_cluster_id"),
                "cluster_id",
            )
            .localCheckpoint()
        )
        changed = merged.filter(F.col("new_cluster_id") != F.col("cluster_id")).count()
        labels = merged.select("id", F.col("new_cluster_id").alias("cluster_id"))
        if changed == 0:
            break
    if changed != 0:
        # silently returning intermediate labels would surface downstream
        # as an inscrutable data diff — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter (components "
            f"with diameter > max_iter exist)"
        )
    return labels


def cluster_members(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster id for EVERY row of ``all_ids`` (singletons label
    themselves): the curation-facing wrapper around
    ``connected_components``. Returns (id_col, cluster_id)."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    return (
        all_ids.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def cluster_representatives(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """One keeper per duplicate cluster (the min id — deterministic).
    Anti-joining the corpus against this is 'drop near-duplicates'."""
    members = cluster_members(all_ids, pairs, id_col=id_col, **kwargs)
    return members.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)


def select_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Quality-ranked survivorship — the step that turns clusters into a
    deduplicated corpus: per duplicate cluster keep the member with the
    highest ``score`` (a Column over ``docs``; ties → lowest id), not
    just the min id. Returns ``(cluster_id, canonical_doc, n_members)``
    — one row per cluster, singletons included (their own canonical).
    Semi-joining the corpus on ``canonical_doc`` is "drop near-dups,
    keep the best copy" (the RefinedWeb/FineWeb survivorship rule:
    duplicates differ in truncation and boilerplate, so keeping an
    arbitrary member leaks the worst copy into training).

    One keyed aggregate after the membership join: ``max_by`` over
    ``struct(score, -id)`` partial-aggregates map-side (the
    assign_cells argmax pattern — no per-cluster window sort), so the
    reduction is a single cluster-keyed shuffle of pre-combined rows.
    """
    members = cluster_members(docs.select(id_col), pairs, id_col, **kwargs)
    scored = docs.select(id_col, score.alias("__score")).join(
        members, id_col
    )
    return scored.groupBy("cluster_id").agg(
        F.max_by(
            id_col, F.struct(F.col("__score"), (-F.col(id_col)).alias("nid"))
        ).alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the deep-graph scale path. Same contract as ``connected_components``
    (every vertex of ``pairs`` labeled with its component's min id).

    Why a second algorithm: min-label propagation needs one round per
    unit of graph DIAMETER — a million-vertex chain is a million rounds.
    Large-star hooks every vertex onto its neighborhood minimum, which
    doubles the hop distance covered per round (pointer halving), so the
    alternating pair converges in O(log^2 n) rounds on ANY topology.
    Near-dup graphs are shallow (dense duplicate families — min-label's
    3-5 rounds win on constant factors); this variant is for adversarial
    or unknown-depth graphs (citation chains, web link graphs).

    Per round: two groupBy-min aggregations and two projections, each a
    shuffle keyed on vertex id; edge sets are deduplicated per step to
    keep volume bounded by the (shrinking) forest size. Convergence is
    a (count, xor-of-hashes) checksum comparison — two numbers to the
    driver per round, never data. Fails loudly past ``max_iter``.
    """
    # persist the input projection across the two eager materializations
    # below: verts and edges otherwise EACH re-run the whole upstream
    # pair pipeline (for MinHash-LSH input that is the full
    # signature+band+verify pass — one redundant corpus pass)
    e = pairs.select(
        F.col(src).cast("bigint").alias("u"),
        F.col(dst).cast("bigint").alias("v"),
    ).persist()
    verts = (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .distinct()
        .localCheckpoint()
    )
    # canonical orientation big -> small; self-loops carry no information
    edges = (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    e.unpersist()

    def checksum(df: DataFrame):
        # xor, not sum: ANSI mode makes a sum of 64-bit hashes a long-
        # overflow error; xor is overflow-free and order-independent
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return row["n"], row["h"]

    # r14 size-adaptive contraction — same branch as
    # ``connected_components`` (endpoints are cast to bigint above, so
    # no dtype guard needed); replaces O(log²) alternating-star rounds
    # (2 jobs each) with an exact driver-side union-find for edge lists
    # that are tiny at any corpus scale. The distributed loop below is
    # unchanged for large graphs.
    rows = collect_if_small(edges)
    if rows is not None:
        lab = _cc_driver_labels([(r["u"], r["v"]) for r in rows])
        spark = pairs.sparkSession
        members = [(x, c) for x, c in lab.items() if x != c]
        labels = driver_frame(spark, members, "u bigint, v bigint")
        labels = labels.select(
            F.col("u").alias("id"), F.col("v").alias("cluster_id")
        )
        return (
            verts.join(labels, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
            )
        )

    prev = checksum(edges)
    converged = False
    for _ in range(max_iter):
        # large-star: over the symmetrized neighborhoods, hook every
        # neighbor LARGER than u onto m = min(neighborhood + self)
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mv")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orientation is big->small, so every neighbor of u
        # is smaller; rewire them (and u) onto the minimum
        smins = large.groupBy("u").agg(F.min("v").alias("mv"))
        small = (
            large.join(smins, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("mv").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("mv").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        edges = small
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds; raise max_iter"
        )
    # at the fixed point edges are stars (member -> component min)
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    return (
        verts.join(labels, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
        )
    )


def extend_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Incremental connected components — the daily-crawl cluster
    maintenance op: given the EXISTING labeling (id, cluster_id) and
    the new edges a fresh batch introduced (new↔new and new↔corpus
    pairs from the LSH index probe), produce the labeling of the grown
    graph WITHOUT re-running CC over the corpus-sized edge set.

    Super-node contraction: each new edge endpoint maps to its existing
    cluster label if it has one (a whole old component collapses into
    one super-node) or to itself; CC runs on THIS graph — its size is
    O(new edges + touched components), never corpus-sized — and the
    result relabels touched old components and labels the new ids.

    Extend ≡ rebuild EXACTLY (pinned by test): an old label IS the
    minimum id of its component, so the min-reachable-id of a merged
    super-component equals the min over every underlying member id —
    the same (id, cluster_id) mapping a from-scratch
    :func:`connected_components` over (old edges ∪ new edges) returns.
    Old ids whose component no new edge touches keep their label
    untouched (their rows never shuffle through the delta CC).

    Returns (id, cluster_id) covering all previously-labeled ids plus
    every id appearing in ``new_pairs``.
    """
    lab_a = labels.select(
        F.col("id").alias(src), F.col("cluster_id").alias("__la")
    )
    lab_b = labels.select(
        F.col("id").alias(dst), F.col("cluster_id").alias("__lb")
    )
    t_pairs = (
        new_pairs.select(src, dst)
        .join(lab_a, src, "left")
        .join(lab_b, dst, "left")
        .select(
            F.coalesce(F.col("__la"), F.col(src)).alias(src),
            F.coalesce(F.col("__lb"), F.col(dst)).alias(dst),
        )
    )
    sup = connected_components(t_pairs, src=src, dst=dst, max_iter=max_iter)
    old = (
        labels.join(
            sup.select(
                F.col("id").alias("cluster_id"),
                F.col("cluster_id").alias("__new"),
            ),
            "cluster_id",
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("__new"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    known = labels.select("id")
    fresh = (
        new_pairs.select(F.explode(F.array(F.col(src), F.col(dst))).alias("id"))
        .distinct()
        .join(known, "id", "left_anti")
        .join(sup.withColumnRenamed("cluster_id", "__new"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("__new"), F.col("id")).alias("cluster_id"),
        )
    )
    return old.select("id", "cluster_id").unionByName(
        fresh.select("id", "cluster_id")
    )
