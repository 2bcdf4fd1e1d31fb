"""PageRank operator tests (operators/graph.py)."""

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    graph as GR,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
    pagerank,
)


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_symmetric_cycle_is_uniform(spark):
    # 2-cycle: symmetry forces equal ranks at every iteration; with all
    # mass recirculating they stay at the uniform 0.5
    e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    r = _ranks(pagerank(e, n_iter=5))
    assert r[1] == r[2] == pytest.approx(0.5, abs=1e-6)


def test_pagerank_star_center_dominates(spark):
    # leaves all point at the center: center accumulates, leaves decay
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, 1)], ["src", "dst"]
    )
    r = _ranks(pagerank(e, n_iter=3))
    assert all(r[0] > r[i] for i in range(1, 5))  # center highest
    # node 1 alone receives the center's back-edge mass; pure leaves
    # only get the teleport base and tie
    assert r[1] > r[2] == r[3] == r[4]


def test_pagerank_dangling_mass_is_lost_not_crashed(spark):
    # 1 -> 2, 2 has no out-edges: total mass shrinks below 1 (lost-mass
    # formulation) but node 2 still outranks node 1
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    r = _ranks(pagerank(e, n_iter=3))
    assert r[2] > r[1]
    assert sum(r.values()) < 1.0


def test_pagerank_weighted_edges_shift_mass(spark):
    # 1 splits 9:1 between 2 and 3 -> rank(2) > rank(3)
    e = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        ["src", "dst", "w"],
    )
    r = _ranks(pagerank(e, "src", "dst", "w", n_iter=4))
    assert r[2] > r[3]


def test_pagerank_bad_args(spark):
    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(e, n_iter=0)
    with pytest.raises(ValueError):
        pagerank(e, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(e.filter(F.lit(False)))


def test_triangle_counts_hand_graph(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        triangle_counts,
    )

    # triangle 1-2-3 plus pendant 3-4; self-loop and parallel/reversed
    # edges must be dropped/collapsed
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1), (1, 1)], "a BIGINT, b BIGINT"
    )
    out = {r["node"]: r for r in triangle_counts(e).collect()}
    assert (out[1]["degree"], out[1]["n_triangles"], out[1]["clustering_coef"]) == (2, 1, 1.0)
    assert (out[2]["degree"], out[2]["n_triangles"], out[2]["clustering_coef"]) == (2, 1, 1.0)
    assert (out[3]["degree"], out[3]["n_triangles"], out[3]["clustering_coef"]) == (3, 1, 0.333333)
    # degree-1 node: zero triangles, undefined coefficient
    assert (out[4]["degree"], out[4]["n_triangles"], out[4]["clustering_coef"]) == (1, 0, None)


def test_triangle_counts_complete_graph(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        triangle_counts,
    )

    # K5: every node degree 4, C(4,2)=6 triangles each, coefficient 1
    k5 = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(i + 1, 5)], "a BIGINT, b BIGINT"
    )
    rows = triangle_counts(k5).collect()
    assert len(rows) == 5
    assert all(
        (r["degree"], r["n_triangles"], r["clustering_coef"]) == (4, 6, 1.0)
        for r in rows
    )


def test_triangle_counts_no_cartesian(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        triangle_counts,
    )

    e = spark.createDataFrame([(1, 2), (2, 3)], "a BIGINT, b BIGINT")
    plan = triangle_counts(e)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_propagation_two_triangles_bridge(spark):
    """Communities split a bridged pair of triangles that CC would fuse
    — the operator's reason to exist on the graph shelf."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        label_propagation,
    )

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (7, 8)]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    out = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7}


def test_label_propagation_no_oscillation_and_dedup(spark):
    """The self-vote kills pure-synchronous LPA's 2-cycle label swap
    (a—b with labels 1,2 would flip forever; with self-votes both tie
    and take min), for any even/odd n_iter. Self-loops and duplicate /
    reversed edges collapse; NULL endpoints drop."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        label_propagation,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (1, 2), (None, 2)],
        "a BIGINT, b BIGINT",
    )
    for it in (1, 2, 3, 4):
        out = {
            r["node"]: r["community"]
            for r in label_propagation(df, n_iter=it).collect()
        }
        assert out == {1: 1, 2: 1}, it
    with _pytest.raises(ValueError, match="n_iter"):
        label_propagation(df, n_iter=0)


def test_label_propagation_hub_takes_majority(spark):
    """A node with neighbors in two communities adopts the majority
    one; at an exact tie the smallest label wins (deterministic)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        label_propagation,
    )

    # clique {1,2,3} and clique {10,11,12}; node 20 sees 1,2 from the
    # first and 10 from the second -> majority pulls 20 to community 1
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12),
             (20, 1), (20, 2), (20, 10)]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    out = {r["node"]: r["community"] for r in label_propagation(df).collect()}
    assert out[20] == 1
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12] == 10


def test_kcore_hand_graphs(spark):
    """Triangle + tail: the k=2 core is exactly the triangle (the tail
    peels in two rounds — node 5 first, then 4); K4 minus an edge has a
    3-core of nothing but a 2-core of everything; k exceeding max
    degree peels to empty."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        kcore,
    )

    tri_tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "a BIGINT, b BIGINT"
    )
    assert sorted(tuple(r) for r in kcore(tri_tail, k=2).collect()) == [
        (1, 2), (2, 2), (3, 2)
    ]
    # K4 minus edge (1,2): degrees 2,2,3,3 -> 3-core empty (peeling 1
    # and 2 leaves a single edge), 2-core everything
    k4m = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "a BIGINT, b BIGINT"
    )
    assert kcore(k4m, k=3).count() == 0
    assert kcore(k4m, k=2).count() == 4
    assert kcore(k4m, k=5).count() == 0


def test_kcore_validation_and_convergence_guard(spark):
    import pytest as _pytest

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        kcore,
    )

    df = spark.createDataFrame([(1, 2)], "a BIGINT, b BIGINT")
    with _pytest.raises(ValueError, match="k must"):
        kcore(df, k=0)
    # a long path peels one node per end per round: 10 nodes at k=2
    # need ~4 rounds to empty; max_rounds=1 must refuse, not truncate
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "a BIGINT, b BIGINT"
    )
    with _pytest.raises(ValueError, match="converge"):
        kcore(path, k=2, max_rounds=1)
    assert kcore(path, k=2, max_rounds=8).count() == 0


def test_modularity_report_two_triangles_bridge(spark):
    """Hand-checked Newman modularity on a bridged pair of triangles:
    m = 7, each triangle community has 3 intra edges and degree sum 7,
    so q_c = 3/7 - (7/14)^2 = 0.178571 each (Q = 0.357143 > 0 — a
    genuine community structure)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        label_propagation,
        modularity_report,
    )

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    labels = label_propagation(df)
    out = {
        r["community"]: (
            r["n_nodes"], r["intra_edges"], r["degree_sum"], r["q_c"]
        )
        for r in modularity_report(df, labels).collect()
    }
    assert set(out) == {1, 4}
    for c in (1, 4):
        assert out[c] == (3, 3, 7, 0.178571)


def test_modularity_report_zero_intra_community_and_chance(spark):
    """A community with NO intra edge surfaces with intra_edges = 0
    (outer join, not a dropped row); a custom anti-community labeling
    of a path graph scores negative."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        modularity_report,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a BIGINT, b BIGINT"
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 10)], "node BIGINT, community BIGINT"
    )
    out = {
        r["community"]: (r["n_nodes"], r["intra_edges"], r["degree_sum"],
                         r["q_c"])
        for r in modularity_report(edges, labels).collect()
    }
    # m=3; community 10 = {1,4}: no intra edge, degrees 1+1
    assert out[10] == (2, 0, 2, -0.111111)
    # community 20 = {2,3}: 1 intra edge, degrees 2+2
    assert out[20] == (2, 1, 4, -0.111111)


def test_modularity_report_single_community_is_zero(spark):
    """All nodes one community: e_c = m and D_c = 2m, so
    q_c = 1 - 1 = 0 exactly — the 'LPA collapsed to one giant
    community' signature the report exists to catch."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        modularity_report,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a BIGINT, b BIGINT"
    )
    labels = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "node BIGINT, community BIGINT"
    )
    rows = modularity_report(edges, labels).collect()
    assert len(rows) == 1
    assert rows[0]["q_c"] == 0.0 and rows[0]["intra_edges"] == 3


def test_modularity_report_weighted(spark):
    """Weighted Newman form: unit weights equal the unweighted report;
    skewing weight onto intra-community edges raises q_c (exact
    integer weight sums, hand-checked)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        modularity_report,
    )

    edges_w1 = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "a BIGINT, b BIGINT, w BIGINT"
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)], "node BIGINT, community BIGINT"
    )
    unw = sorted(map(tuple, modularity_report(
        edges_w1.select("a", "b"), labels).collect()))
    w1 = sorted(map(tuple, modularity_report(
        edges_w1, labels, weight_col="w").collect()))
    assert unw == w1

    # weight 8 on each intra edge, 1 on the bridge: W=17,
    # intra_10 = 8, deg_10 = 8+8+1 = 17 -> q = 8/17 - (17/34)^2
    heavy = spark.createDataFrame(
        [(1, 2, 8), (2, 3, 1), (3, 4, 8)], "a BIGINT, b BIGINT, w BIGINT"
    )
    out = {
        r["community"]: (r["intra_edges"], r["degree_sum"], r["q_c"])
        for r in modularity_report(heavy, labels, weight_col="w").collect()
    }
    assert out[10] == (8, 17, round(8 / 17 - 0.25, 6))
    assert out[20] == (8, 17, round(8 / 17 - 0.25, 6))
    # duplicate orientations collapse by SUMMING weights
    dup = spark.createDataFrame(
        [(1, 2, 3), (2, 1, 5)], "a BIGINT, b BIGINT, w BIGINT"
    )
    lab2 = spark.createDataFrame(
        [(1, 1), (2, 1)], "node BIGINT, community BIGINT"
    )
    row = modularity_report(dup, lab2, weight_col="w").first()
    assert row["intra_edges"] == 8 and row["q_c"] == 0.0


def test_conductance_report_hand_graph(spark):
    """Bridged triangles: each community cuts exactly the bridge (1),
    volume 7, m=7 -> phi = 1/min(7,7) = 0.142857; a whole-graph
    community has no cut and phi NULL (undefined trivial cut); unit
    weights equal the unweighted form."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.graph import (
        conductance_report,
        label_propagation,
    )

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    labels = label_propagation(df)
    out = {
        r["community"]: (r["n_nodes"], r["cut_edges"], r["volume"], r["phi"])
        for r in conductance_report(df, labels).collect()
    }
    assert out[1] == (3, 1, 7, 0.142857)
    assert out[4] == (3, 1, 7, 0.142857)

    one = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (4, 9), (5, 9), (6, 9)],
        "node BIGINT, community BIGINT",
    )
    r = conductance_report(df, one).first()
    assert r["cut_edges"] == 0 and r["phi"] is None

    dfw = df.withColumn("w", F.lit(1))
    a = sorted(map(tuple, conductance_report(df, labels).collect()))
    b = sorted(map(tuple, conductance_report(
        dfw, labels, weight_col="w").collect()))
    assert a == b


def test_personalized_pagerank_all_seeds_equals_pagerank(spark):
    # reduction pin: uniform seeds over every node == plain pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,), (4,)], "node INT")
    pr = {r["node"]: r["rank"]
          for r in GR.pagerank(edges, n_iter=3).collect()}
    ppr = {r["node"]: r["rank"]
           for r in GR.personalized_pagerank(
               edges, seeds, n_iter=3).collect()}
    assert ppr == pr


def test_personalized_pagerank_unreachable_component_is_zero(spark):
    # two disjoint cycles; seed only in the first -> no trust path to
    # the second (rank exactly 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(1,)], "node INT")
    ranks = {r["node"]: r["rank"]
             for r in GR.personalized_pagerank(
                 edges, seeds, n_iter=4).collect()}
    assert ranks[10] == 0.0 and ranks[11] == 0.0
    assert ranks[1] > 0.0 and ranks[2] > 0.0
    # seed holds more mass than its neighbor under damping
    assert ranks[1] > ranks[2]


def test_personalized_pagerank_weighted_seeds_shift_mass(spark):
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 1), (3, 2)], "src INT, dst INT"
    )
    heavy1 = spark.createDataFrame(
        [(1, 9.0), (2, 1.0)], "node INT, w DOUBLE"
    )
    ranks = {r["node"]: r["rank"]
             for r in GR.personalized_pagerank(
                 edges, heavy1, seed_weight_col="w", n_iter=3
             ).collect()}
    assert ranks[1] > ranks[2]
    # duplicate seed rows SUM their weight: (2, 1.0) three times ≡ (2, 3.0)
    dup = spark.createDataFrame(
        [(1, 9.0), (2, 1.0), (2, 1.0), (2, 1.0)], "node INT, w DOUBLE"
    )
    tri = spark.createDataFrame([(1, 9.0), (2, 3.0)], "node INT, w DOUBLE")
    r_dup = {r["node"]: r["rank"]
             for r in GR.personalized_pagerank(
                 edges, dup, seed_weight_col="w", n_iter=3).collect()}
    r_tri = {r["node"]: r["rank"]
             for r in GR.personalized_pagerank(
                 edges, tri, seed_weight_col="w", n_iter=3).collect()}
    assert r_dup == r_tri


def test_personalized_pagerank_guards(spark):
    edges = spark.createDataFrame([(1, 2)], "src INT, dst INT")
    with pytest.raises(ValueError, match="positive"):
        GR.personalized_pagerank(
            edges,
            spark.createDataFrame([(1, 0.0)], "node INT, w DOUBLE"),
            seed_weight_col="w",
        )
    with pytest.raises(ValueError, match="positive"):
        GR.personalized_pagerank(
            edges,
            spark.createDataFrame([(None,)], "node INT"),
        )
    with pytest.raises(ValueError, match="empty seed"):
        GR.personalized_pagerank(
            edges, spark.createDataFrame([], "node INT")
        )
    with pytest.raises(ValueError, match="n_iter"):
        GR.personalized_pagerank(
            edges, spark.createDataFrame([(1,)], "node INT"), n_iter=0
        )
