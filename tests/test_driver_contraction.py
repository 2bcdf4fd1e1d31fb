"""Driver contractions (CC, star, PageRank, PPR, LPA, k-means, PQ, logreg,
the Bradley-Terry/Rao-Kupper MM fit):
inputs under one size bound (``util.DRIVER_CONTRACT_MAX_ROWS``) are
collected through ``util.collect_if_small`` and solved on the driver,
larger ones take the operator's distributed loop. Both paths must give
the same answer; each case below forces the loop by setting the one
bound to 0."""

import random
import uuid

import pytest

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    annotation as AN,
    classifier as CL,
    clustering,
    graph as GR,
    retrieval as R,
    similarity as S,
    util,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.util import (
    collect_if_small,
)


def _force_loop(monkeypatch):
    monkeypatch.setattr(util, "DRIVER_CONTRACT_MAX_ROWS", 0)


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def _cc_edges(spark):
    """Mixed topology: a chain, a clique, a cycle with a tail, a
    self-loop, an isolated pair and a random graph."""
    edges = []
    edges += [(i + 1, i) for i in range(30, 50)]
    edges += [(a, b) for a in range(5) for b in range(a)]
    edges += [(60, 61), (61, 62), (62, 60), (62, 63)]
    edges += [(70, 70), (71, 72)]
    rnd = random.Random(11)
    nodes = list(range(100, 140))
    edges += [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(50)]
    return spark.createDataFrame(edges, "a BIGINT, b BIGINT")


# --- collect_if_small -------------------------------------------------------


def test_collect_if_small_bound(spark):
    df = spark.range(5)
    assert collect_if_small(df, 5) == df.collect()
    assert collect_if_small(df, 4) is None
    assert collect_if_small(spark.range(0), 0) == []
    assert collect_if_small(spark.range(1), 0) is None


def test_collect_if_small_default_is_the_one_bound(spark, monkeypatch):
    monkeypatch.setattr(util, "DRIVER_CONTRACT_MAX_ROWS", 2)
    assert collect_if_small(spark.range(3)) is None
    assert len(collect_if_small(spark.range(2))) == 2


# --- driver ≡ distributed loop ----------------------------------------------


def _case_cc(spark, monkeypatch):
    """Both CC algorithms label identically on both paths; a string-keyed
    graph must not take the driver path (collation guard) and still gets
    the right labels."""
    df = _cc_edges(spark)
    driver_min = _rowset(clustering.connected_components(df, max_iter=60))
    driver_star = _rowset(clustering.connected_components_star(df))
    _force_loop(monkeypatch)
    loop_min = _rowset(clustering.connected_components(df, max_iter=60))
    loop_star = _rowset(clustering.connected_components_star(df))
    assert driver_min == loop_min == driver_star == loop_star
    monkeypatch.undo()

    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a STRING, b STRING"
    )
    got = _rowset(clustering.connected_components(sdf, max_iter=10))
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def _case_ppr(spark, monkeypatch):
    """Weighted edges, weighted seeds, a dangling node and an unreachable
    component."""
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 1.0),
         (4, 5, 1.0), (10, 11, 1.0), (11, 10, 2.0)],
        "src INT, dst INT, w DOUBLE",
    )
    seeds = spark.createDataFrame([(1, 2.0), (3, 1.0)], "node INT, sw DOUBLE")
    kw = dict(weight_col="w", seed_weight_col="sw", n_iter=4)
    driver = _rowset(GR.personalized_pagerank(edges, seeds, **kw))
    _force_loop(monkeypatch)
    loop = _rowset(GR.personalized_pagerank(edges, seeds, **kw))
    assert driver == loop


def _case_lpa(spark, monkeypatch):
    """Two triangles with a bridge, a chain, duplicate and self edges;
    LPA is integer-exact, so the partitions must be identical."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4),
         (10, 11), (11, 12), (7, 7), (1, 2)],
        "a INT, b INT",
    )
    driver = _rowset(GR.label_propagation(edges, n_iter=4))
    _force_loop(monkeypatch)
    loop = _rowset(GR.label_propagation(edges, n_iter=4))
    assert driver == loop


def _case_pagerank(spark, monkeypatch):
    """Weighted edges, a dangling node and a self-loop."""
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 1.0),
         (4, 4, 1.0), (5, 1, 2.5)],
        "src INT, dst INT, w DOUBLE",
    )
    driver = _rowset(GR.pagerank(edges, weight_col="w", n_iter=4))
    _force_loop(monkeypatch)
    loop = _rowset(GR.pagerank(edges, weight_col="w", n_iter=4))
    assert driver == loop


def _case_kmeans(spark, monkeypatch):
    """Assignments, dist2 AND centroids match, including a cluster that
    empties and the early_stop path."""
    rnd = random.Random(7)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    # two far outlier seeds so one seed cluster empties after round 1
    rows += [(100, [50.0] * 8), (101, [50.1] * 8)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    for es in (False, True):
        a_d, c_d = S.kmeans_fit(df, k=5, n_iter=3, early_stop=es)
        driver = (_rowset(a_d), _rowset(c_d))
        _force_loop(monkeypatch)
        a_l, c_l = S.kmeans_fit(df, k=5, n_iter=3, early_stop=es)
        loop = (_rowset(a_l), _rowset(c_l))
        monkeypatch.undo()
        assert driver == loop, f"early_stop={es}"


def _case_pq(spark, monkeypatch):
    """The per-subspace driver kernel reproduces the fused distributed
    fit's codebooks."""
    rnd = random.Random(13)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    driver = _rowset(S.pq_fit(df, m_sub=4, k_codes=6, n_iter=2))
    _force_loop(monkeypatch)
    loop = _rowset(S.pq_fit(df, m_sub=4, k_codes=6, n_iter=2))
    assert driver == loop


def _case_logreg(spark, monkeypatch):
    """The weight table matches over several iterations with lr != 1."""
    rows = [
        (i, f"alpha beta doc {i} " + ("good text " * (i % 5)), float(i % 2))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, y DOUBLE")
    driver = _rowset(CL.logreg_fit(df, "y", dim=32, n_iter=3, lr=2.0))
    _force_loop(monkeypatch)
    loop = _rowset(CL.logreg_fit(df, "y", dim=32, n_iter=3, lr=2.0))
    assert driver == loop


def _case_bradley_terry(spark, monkeypatch):
    """Counted comparisons in both directions, a never-winner (d) and a
    NULL count that drops; several round counts."""
    pairs = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1), ("a", "c", 2), ("c", "b", 2),
         ("b", "d", 1), ("c", "d", 4), ("e", "a", 1), ("c", "e", 2),
         ("e", "b", None)],
        "winner STRING, loser STRING, n BIGINT",
    )
    for it in (1, 3, 5):
        driver = _rowset(AN.bradley_terry_strengths(pairs, count_col="n", n_iter=it))
        _force_loop(monkeypatch)
        loop = _rowset(AN.bradley_terry_strengths(pairs, count_col="n", n_iter=it))
        monkeypatch.undo()
        assert driver == loop, f"n_iter={it}"
        assert ("d", 0.0) in driver and len(driver) == 5


def _case_rao_kupper(spark, monkeypatch):
    """θ=1.5 with a never-winner (z), a tie-only item (t), ties listed in
    both orders and a repeated pair; integer item ids."""
    rows = [(1, 2, False), (1, 2, False), (2, 1, False), (2, 3, False),
            (3, 9, False), (1, 9, False), (7, 1, True), (2, 7, True),
            (3, 1, True), (1, 3, True), (4, 2, False), (3, 4, False)]
    pairs = spark.createDataFrame(rows, "winner INT, loser INT, is_tie BOOLEAN")
    driver = _rowset(AN.bradley_terry_rao_kupper(pairs, theta=1.5, n_iter=4))
    _force_loop(monkeypatch)
    loop = _rowset(AN.bradley_terry_rao_kupper(pairs, theta=1.5, n_iter=4))
    assert driver == loop
    got = dict(driver)
    assert got[9] == 0.0 and got[7] > 0.0


_CASES = {
    "cc": _case_cc,
    "ppr": _case_ppr,
    "lpa": _case_lpa,
    "pagerank": _case_pagerank,
    "kmeans": _case_kmeans,
    "pq": _case_pq,
    "logreg": _case_logreg,
    "bradley_terry": _case_bradley_terry,
    "rao_kupper": _case_rao_kupper,
}


@pytest.mark.parametrize("case", list(_CASES))
def test_driver_contraction_equals_distributed_loop(spark, monkeypatch, case):
    _CASES[case](spark, monkeypatch)


# --- jobs -------------------------------------------------------------------


def _group_jobs(sc, build):
    group = f"contraction-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver contraction build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_graph_builds_job_count(spark):
    """Spark jobs issued while each graph operator builds its result on
    the CC fixture. Before one limit-collect replaced the count() +
    collect() pairs and PPR read its node table off the raw seeds, the
    builds took CC 5, star 8, LPA 5, PageRank 12 and PPR 19 jobs (the
    same under local[2] with 32 shuffle partitions and under this
    suite's session, repeated across passes). PPR then took 16 until its
    driver path built the teleport base from the collected seed
    distribution instead of collecting a joined node table."""
    df = _cc_edges(spark)
    seeds = spark.createDataFrame([(0,), (31,)], "node BIGINT")
    builds = {
        "cc": (3, lambda: clustering.connected_components(df, max_iter=60)),
        "star": (6, lambda: clustering.connected_components_star(df)),
        "lpa": (3, lambda: GR.label_propagation(df)),
        "pagerank": (9, lambda: GR.pagerank(df, src="a", dst="b")),
        "ppr": (12, lambda: GR.personalized_pagerank(df, seeds, src="a", dst="b")),
    }
    sc = spark.sparkContext
    got = {name: len(_group_jobs(sc, build)) for name, (_, build) in builds.items()}
    assert all(got[name] <= pin for name, (pin, _) in builds.items()), got


def test_fixed_round_fit_builds_job_count(spark):
    """Spark jobs issued while the fixed-round fits build on small
    fixtures: the BT and RK fits collect their directed table once and
    run the MM rounds on the driver; MMR is one lazy grouped map. When
    each of them unrolled its rounds into DataFrame joins with per-round
    checkpoints, the builds took BT 39-40, RK 39 and MMR 36 jobs
    (local[2], two passes)."""
    pairs = spark.createDataFrame(
        [("a", "b", False), ("b", "c", True), ("c", "a", False), ("a", "c", False)],
        "winner STRING, loser STRING, is_tie BOOLEAN",
    )
    cand = spark.createDataFrame(
        [(q, i, 1.0 - i / 10.0) for q in (0, 1) for i in range(1, 7)],
        "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(1, 7)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    builds = {
        "bradley_terry": (2, lambda: AN.bradley_terry_strengths(pairs, n_iter=3)),
        "rao_kupper": (2, lambda: AN.bradley_terry_rao_kupper(pairs, n_iter=3)),
        "mmr": (0, lambda: R.mmr_rerank(cand, vecs, k=4)),
    }
    sc = spark.sparkContext
    got = {name: len(_group_jobs(sc, build)) for name, (_, build) in builds.items()}
    assert all(got[name] <= pin for name, (pin, _) in builds.items()), got


def test_logreg_over_bound_falls_through_before_featurizing(spark, monkeypatch):
    """A corpus with more docs than the bound has more feature rows too
    (each doc has a bias row), so the driver attempt gives up on the
    narrow (id, label) probe: no job of the attempt runs a shuffle stage
    (the tokenize+hash aggregate)."""
    rows = [(i, f"alpha beta doc {i}", float(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, y DOUBLE")
    monkeypatch.setattr(util, "DRIVER_CONTRACT_MAX_ROWS", 10)
    sc = spark.sparkContext
    got = []
    jobs = _group_jobs(
        sc,
        lambda: got.append(
            CL._logreg_fit_driver(df, "y", "text", "doc_id", 32, 2, 1.0)
        ),
    )
    assert got == [None]
    tracker = sc.statusTracker()
    stages = [len(tracker.getJobInfo(j).stageIds) for j in jobs]
    assert stages and all(n == 1 for n in stages), stages
