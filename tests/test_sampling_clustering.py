"""Unit tests: deterministic sampling, connected-components clustering,
vocab/scrub text ops, centroid assignment."""

from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    clustering,
    sampling,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    similarity as SM,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import text as TX


def test_hash_sample_deterministic_and_proportional(spark):
    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    s1 = sampling.hash_sample(df, "k", 0.2)
    s2 = sampling.hash_sample(df, "k", 0.2)
    rows1 = {r.k for r in s1.collect()}
    rows2 = {r.k for r in s2.collect()}
    assert rows1 == rows2  # reproducible
    assert 0.17 < len(rows1) / 10000 < 0.23  # ~fraction
    # different seed → different (mostly disjoint-ish) sample
    s3 = {r.k for r in sampling.hash_sample(df, "k", 0.2, seed="other|").collect()}
    assert s3 != rows1


def test_hash_sample_fraction_nesting(spark):
    # a 10% sample is a subset of a 20% sample (same seed): thresholds nest
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    small = {r.k for r in sampling.hash_sample(df, "k", 0.1).collect()}
    big = {r.k for r in sampling.hash_sample(df, "k", 0.2).collect()}
    assert small <= big


def test_stratified_sample_respects_fractions(spark):
    df = spark.range(0, 6000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    out = sampling.stratified_hash_sample(
        df, strata_col="s", fractions={"0": 1.0, "1": 0.5}, key_col="k",
        default_fraction=0.0,
    )
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts["0"] == 2000  # keep all
    assert 800 < counts.get("1", 0) < 1200  # ~half
    assert "2" not in counts  # default 0


def test_group_topk_sample_exact_size(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    out = sampling.group_topk_sample(df, group_col="g", key_col="k", k=7)
    sizes = [r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()]
    assert sizes == [7, 7, 7, 7]
    # deterministic across runs
    a = sorted((r.g, r.k) for r in out.collect())
    b = sorted(
        (r.g, r.k)
        for r in sampling.group_topk_sample(df, "g", "k", k=7).collect()
    )
    assert a == b


def test_connected_components_two_chains(spark):
    # components: {1,2,3,4} (chain), {10,11} and singleton-free vertices only
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    comp = {r.id: r.cluster_id for r in clustering.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_members_includes_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["a", "b"])
    out = {r.doc_id: r.cluster_id for r in clustering.cluster_members(docs, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}
    reps = sorted(
        r.doc_id for r in clustering.cluster_representatives(docs, pairs).collect()
    )
    assert reps == [0, 1, 2, 4]


def test_top_terms_count_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a d d")], ["doc_id", "text"]
    )
    out = [(r.term, r.n) for r in TX.top_terms(docs, k=3).collect()]
    # a:3, b:3 tie → term asc; then d:2
    assert out == [("a", 3), ("b", 3), ("d", 2)]


def test_scrub_text_masks_emails_then_numbers(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob42@host.org or call 555 1234")], ["doc_id", "text"]
    )
    out = TX.scrub_text(docs).collect()[0].scrubbed
    assert out == "mail <EMAIL> or call <NUM> <NUM>"


def test_assign_nearest_centroid_self_consistent(spark):
    # two well-separated labels → self-assignment recovers the label
    rows = [
        (0, [0.0, 0.0], 0), (1, [0.1, 0.0], 0), (2, [0.0, 0.1], 0),
        (3, [5.0, 5.0], 1), (4, [5.1, 5.0], 1), (5, [5.0, 5.1], 1),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = SM.assign_nearest_centroid(emb)
    got = {r.vec_id: r.assigned_label for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}
    # one row per vector, dist2 non-negative
    assert all(r.dist2 >= 0 for r in out.collect())


def test_star_cc_matches_min_label(spark):
    """Alternating large-star/small-star must produce exactly the same
    labeling as min-label propagation on mixed topologies: a long chain
    (the case min-label is worst at), a clique, a triangle reached via
    bridge, self-loops, and a two-node component."""
    import random

    edges = []
    edges += [(i + 1, i) for i in range(30, 50)]        # chain 30..50
    edges += [(a, b) for a in range(5) for b in range(a)]  # clique 0-4
    edges += [(60, 61), (61, 62), (62, 60), (62, 63)]   # triangle + tail
    edges += [(70, 70), (71, 72)]                       # self-loop, pair
    rnd = random.Random(11)
    nodes = list(range(100, 140))
    edges += [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(50)]
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    base = {
        (r["id"], r["cluster_id"])
        for r in clustering.connected_components(df, max_iter=60).collect()
    }
    star = {
        (r["id"], r["cluster_id"])
        for r in clustering.connected_components_star(df).collect()
    }
    assert star == base
    # chain case: component min is 30
    got = dict(star)
    assert all(got[i] == 30 for i in range(30, 51))


def test_training_shards_permutation(spark):
    """(shard, pos) is a dense, reproducible permutation: every row
    appears once, positions are 0..n_s-1 within each shard, a reseed
    reorders, and the same seed reproduces exactly."""
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id BIGINT")
    a = sampling.assign_training_shards(df, n_shards=4, seed="e0|").collect()
    assert len(a) == 200 and len({r["doc_id"] for r in a}) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # balance: md5 spreads 200 rows roughly evenly over 4 shards
    assert all(30 <= len(p) <= 70 for p in by_shard.values())
    again = sampling.assign_training_shards(df, n_shards=4, seed="e0|").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, a))
    reseeded = sampling.assign_training_shards(df, n_shards=4, seed="e1|").collect()
    assert sorted(map(tuple, reseeded)) != sorted(map(tuple, a))


def test_pack_sequences_greedy_budget(spark):
    """Packs close exactly when the next row would overflow; an
    oversized row gets a pack of its own; order within a shard is the
    pos order; the whole thing is deterministic."""
    rows = [  # (shard, pos, n_tokens)
        (0, 0, 40), (0, 1, 50), (0, 2, 30), (0, 3, 90), (0, 4, 150),
        (0, 5, 10),
        (1, 0, 100), (1, 1, 1),
    ]
    df = spark.createDataFrame(rows, "shard INT, pos INT, n_tokens INT")
    out = sampling.pack_sequences(df, budget_tokens=100)
    got = {(r["shard"], r["pos"]): r["pack_id"] for r in out.collect()}
    # shard 0 greedy: 40+50=90 fits; +30 overflows -> pack1 opens with
    # 30; +90 overflows -> pack2; 150 overflows -> pack3 (oversized row
    # alone); 10 overflows the 150 -> pack4
    assert got[(0, 0)] == 0 and got[(0, 1)] == 0
    assert got[(0, 2)] == 1
    assert got[(0, 3)] == 2
    assert got[(0, 4)] == 3          # oversized: own pack
    assert got[(0, 5)] == 4
    # 100 fills the budget exactly; +1 would overflow -> next pack
    assert got[(1, 0)] == 0 and got[(1, 1)] == 1
    again = {(r["shard"], r["pos"]): r["pack_id"]
             for r in sampling.pack_sequences(df, budget_tokens=100).collect()}
    assert again == got


# --- token-budget subset selection ------------------------------------------


def test_select_token_budget_greedy_cut(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        select_token_budget,
    )

    # levels: score 1.0 has docs 1,2 (100+200); score 0.5 has 3,4 (300+150)
    df = spark.createDataFrame(
        [(1, 1.0, 100), (2, 1.0, 200), (3, 0.5, 300), (4, 0.5, 150)],
        ["doc_id", "score", "n_tok"],
    )
    # budget 600: order is 1(100),2(300),3(600),4(750) -> keep 1,2,3
    out = {
        r["doc_id"]: r["cum_tokens"]
        for r in select_token_budget(df, 600, "score", "n_tok").collect()
    }
    assert out == {1: 100, 2: 300, 3: 600}
    # budget 599: doc 3 (inclusive 600) no longer fits
    out2 = {
        r["doc_id"]: r["cum_tokens"]
        for r in select_token_budget(df, 599, "score", "n_tok").collect()
    }
    assert out2 == {1: 100, 2: 300}


def test_select_token_budget_no_global_single_partition_window(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        select_token_budget,
    )

    df = spark.createDataFrame(
        [(i, float(i % 3), 10) for i in range(100)],
        ["doc_id", "score", "n_tok"],
    )
    plan = (
        select_token_budget(df, 500, "score", "n_tok")
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = [ln.strip() for ln in plan.splitlines()]
    # the heavy per-row running sum must be a PARTITIONED window (keyed
    # hash exchange on the score level, never a global sort-to-one-task)
    run_win = [ln for ln in lines if "Window" in ln and "_lvl_run" in ln]
    assert run_win and all("score" in ln for ln in run_win)
    # exactly one SinglePartition exchange is allowed, and it must feed
    # the per-level OFFSETS frame (downstream of the HashAggregate that
    # collapsed the data to one row per score level) — i.e. the line
    # after it in the tree is that aggregate, not a scan of raw rows
    singles = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(singles) == 1
    assert "HashAggregate" in lines[singles[0] + 1]




# --- source mixing toward target proportions ---------------------------------


def test_mix_to_proportions_binding_group_keeps_all(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        mix_to_proportions,
    )

    # a: 100 units, b: 900 units; target 50/50 -> a binds (T=200):
    # a keeps everything, b downsampled to ~100 units of mass
    rows = [(i, "a", 10) for i in range(10)] + [
        (100 + i, "b", 10) for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "mass"])
    out = mix_to_proportions(
        df, {"a": 0.5, "b": 0.5}, weight_unit_col="mass"
    )
    kept = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in kept}
    assert by_src["a"] == 10  # binding group complete
    # b's keep fraction is 100/900 ~ 0.111 -> expect ~10 of 90; hash
    # sampling is exact-deterministic but not exact-count: allow slack
    assert 4 <= by_src.get("b", 0) <= 18


def test_mix_to_proportions_absent_group_dropped_and_rowcount_mode(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        mix_to_proportions,
    )

    rows = [(i, "a") for i in range(20)] + [(100 + i, "c") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mix_to_proportions(df, {"a": 1.0})  # row-count mass; c absent
    got = out.select("source").distinct().collect()
    assert [r["source"] for r in got] == ["a"]
    assert out.count() == 20  # single group at weight 1 keeps everything


def test_mix_to_proportions_deterministic(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        mix_to_proportions,
    )

    rows = [(i, "a" if i % 2 else "b", 5) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "mass"])
    w = {"a": 0.7, "b": 0.3}
    ids1 = sorted(
        r["doc_id"]
        for r in mix_to_proportions(df, w, weight_unit_col="mass").collect()
    )
    ids2 = sorted(
        r["doc_id"]
        for r in mix_to_proportions(df, w, weight_unit_col="mass").collect()
    )
    assert ids1 == ids2 and len(ids1) > 0


def test_temperature_weights_alpha_scaling(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        mix_to_proportions,
        temperature_weights,
    )

    rows = (
        [(i, "web") for i in range(100)]
        + [(100 + i, "books") for i in range(25)]
        + [(200 + i, "wiki") for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    w = temperature_weights(df, alpha=0.5)
    assert w == {"web": 10.0, "books": 5.0, "wiki": 2.0}
    # alpha=1 reproduces natural proportions; alpha=0 is uniform
    assert temperature_weights(df, alpha=1.0) == {
        "web": 100.0, "books": 25.0, "wiki": 4.0
    }
    assert temperature_weights(df, alpha=0.0) == {
        "web": 1.0, "books": 1.0, "wiki": 1.0
    }
    # feeds mix_to_proportions: wiki (scarcest vs its boosted share)
    # binds; kept counts follow the 10:5:2 recipe
    out = mix_to_proportions(df, w, key_col="doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["wiki"] == 4  # binding group keeps everything
    # other groups ~ proportional to weights; md5-hash sampling is
    # binomial around the target (web: n=100 p=0.2 -> sigma 4; books:
    # n=25 p=0.4 -> sigma 2.4), so assert within ~2 sigma
    assert abs(counts["web"] - 20) <= 8 and abs(counts["books"] - 10) <= 5


def test_temperature_weights_rejects_negative_alpha(spark):
    import pytest as _pt

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        temperature_weights,
    )

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with _pt.raises(ValueError):
        temperature_weights(df, alpha=-0.1)


def test_split_assign_deterministic_partition(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        split_assign,
    )

    df = spark.range(2000).selectExpr("id AS doc_id")
    out = split_assign(df, "doc_id", fractions=(0.8, 0.1, 0.1))
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] + counts["val"] + counts["test"] == 2000
    assert 1500 < counts["train"] < 1700  # ~80% ± hash noise
    # stability: repartitioned input yields the identical assignment
    again = split_assign(df.repartition(13), "doc_id", (0.8, 0.1, 0.1))
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b
    # custom labels + validation
    two = split_assign(df, "doc_id", (0.5, 0.5), ("a", "b"))
    assert set(r["split"] for r in two.collect()) == {"a", "b"}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        split_assign(df, "doc_id", (0.5, 0.4))
    with _pytest.raises(ValueError):
        split_assign(df, "doc_id", (0.5, 0.5), ("only",))


def test_weighted_sample_proportional_and_deterministic(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        weighted_sample,
    )

    # 100 heavy rows (w=100) vs 900 light rows (w=1): a 50-row draw
    # should be dominated by heavy rows (heavy mass ratio ~10:0.9)
    rows = [(i, 100.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [r["doc_id"] for r in weighted_sample(df, "w", k=50).collect()]
    heavy = sum(1 for i in got if i < 100)
    assert heavy >= 35  # E[heavy] ≈ 46 under ES sampling
    # deterministic: identical draw on a repartitioned input
    again = [r["doc_id"] for r in
             weighted_sample(df.repartition(17), "w", k=50).collect()]
    assert sorted(got) == sorted(again)
    # zero/negative/NULL weights never selected
    bad = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 5.0)], "doc_id: long, w: double"
    )
    assert [r["doc_id"] for r in weighted_sample(bad, "w", k=10).collect()] == [4]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        weighted_sample(df, "w", k=0)


def test_cap_per_group_ascending_nulls_last(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        sampling as SP,
    )

    # DuckDB parity: ascending order puts NULL order_col values LAST
    # (Spark's bare .asc() would put them first and silently diverge)
    df = spark.createDataFrame(
        [("g", 1, None), ("g", 2, 5.0), ("g", 3, 1.0), ("g", 4, None)],
        ["source", "doc_id", "score"],
    )
    kept = sorted(
        r["doc_id"]
        for r in SP.cap_per_group(
            df, "source", 2, "score", descending=False
        ).collect()
    )
    assert kept == [2, 3]  # the two non-NULL scores, never the NULLs
    kept_desc = sorted(
        r["doc_id"]
        for r in SP.cap_per_group(
            df, "source", 2, "score", descending=True
        ).collect()
    )
    assert kept_desc == [2, 3]


def test_semantic_dedup_default_k_scales_with_n(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        similarity as SM,
    )

    # the k ∝ n invariant is ENFORCED by default: a 10x corpus gets ~10x
    # the clusters, so expected cluster size (and the Σ|c|² pair scan per
    # row) stays constant instead of growing linearly
    assert SM.auto_k(10_000, 1024) == 10
    assert SM.auto_k(100_000, 1024) == 98
    assert SM.auto_k(0, 1024) == 2 and SM.auto_k(5, 1024) == 2
    # smoke: k=None derives k and runs end-to-end
    rows = [(i, [float((i * 7 + d) % 13) for d in range(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    kept = SM.semantic_dedup(df, threshold=0.999, k=None, target_cluster_size=10)
    labels = {r["assigned_label"] for r in kept.collect()}
    assert len(labels) > 2  # auto_k(60, 10) = 6 clusters fitted


def test_select_canonical_keeps_best_scored_member(spark):
    # component {1,2,3} (chain), component {7,8}, singleton 9
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "a"), (7, "bbb"), (8, "bbb"), (9, "c")],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a bigint, b bigint"
    )
    out = {
        r["cluster_id"]: (r["canonical_doc"], r["n_members"])
        for r in clustering.select_canonical(
            docs, pairs, score=F.length("text")
        ).collect()
    }
    # longest member wins; equal lengths tie-break to the LOWEST id;
    # singleton is its own canonical
    assert out == {1: (2, 3), 7: (7, 2), 9: (9, 1)}


def test_select_canonical_null_text_scores_like_empty(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    rows = clustering.select_canonical(
        docs, pairs, score=F.length(F.coalesce(F.col("text"), F.lit("")))
    ).collect()
    assert [(r["canonical_doc"], r["n_members"]) for r in rows] == [(2, 2)]


def test_cap_per_group_salted_equals_plain(spark):
    """The salted two-phase top-n keeps EXACTLY the plain window's set
    (any n, both directions, hot group, ties, NULL order values)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        cap_per_group,
        cap_per_group_hot_routed,
        cap_per_group_salted,
    )

    rows = []
    # hot group: 200 rows, many order ties; cold groups: under and over cap
    for i in range(200):
        rows.append((i, "hot", float(i % 7)))
    for i in range(200, 203):
        rows.append((i, "cold_small", float(i)))
    for i in range(203, 220):
        rows.append((i, "cold_big", None if i % 5 == 0 else float(i)))
    df = spark.createDataFrame(rows, "doc_id BIGINT, g STRING, v DOUBLE")
    for n in (1, 5, 50):
        for desc in (True, False):
            plain = sorted(
                map(tuple, cap_per_group(
                    df, "g", n, "v", descending=desc).collect())
            )
            for n_salts in (1, 4, 16):
                salted = sorted(
                    map(tuple, cap_per_group_salted(
                        df, "g", n, "v", descending=desc,
                        n_salts=n_salts).collect())
                )
                assert salted == plain, (n, desc, n_salts)
            # routed: threshold 100 puts ONLY the hot group on the
            # salted path — both branches exercised
            routed = sorted(
                map(tuple, cap_per_group_hot_routed(
                    df, "g", n, "v", descending=desc, n_salts=4,
                    hot_min_rows=100).collect())
            )
            assert routed == plain, (n, desc, "routed")


def test_pack_manifest_offsets_and_boundaries(spark):
    """Manifest offsets are exclusive prefix sums in pack order; every
    pack's members and totals agree with the packed rows."""
    rows = [
        # shard, pos, doc_id, n_tokens  (budget 10: packs [7,3], [9], [12])
        (0, 0, 100, 7), (0, 1, 101, 3), (0, 2, 102, 9), (0, 3, 103, 12),
        (1, 0, 200, 5), (1, 1, 201, 5),
    ]
    df = spark.createDataFrame(
        rows, "shard INT, pos INT, doc_id BIGINT, n_tokens INT"
    )
    packed = sampling.pack_sequences(df, budget_tokens=10)
    man = {
        (r["shard"], r["pack_id"]): r
        for r in sampling.pack_manifest(packed).collect()
    }
    p00 = man[(0, 0)]
    assert list(p00["member_ids"]) == [100, 101]
    assert list(p00["token_counts"]) == [7, 3]
    assert list(p00["offsets"]) == [0, 7]
    assert p00["total_tokens"] == 10 and p00["n_docs"] == 2
    assert list(man[(0, 1)]["member_ids"]) == [102]
    # an over-budget single doc still gets its own manifest row
    assert man[(0, 2)]["total_tokens"] == 12
    p10 = man[(1, 0)]
    assert list(p10["offsets"]) == [0, 5] and p10["total_tokens"] == 10
    # global invariant: every offset equals the prefix sum of counts
    for r in man.values():
        acc = 0
        for off, t in zip(r["offsets"], r["token_counts"]):
            assert off == acc
            acc += t
        assert acc == r["total_tokens"]


def test_pack_manifest_single_shuffle(spark):
    """The window prefix sum and the pack groupBy share one exchange
    on (shard, pack_id) — the O(p) rewrite must not add a shuffle."""
    df = spark.createDataFrame(
        [(0, 0, 1, 4), (0, 1, 2, 5)],
        "shard INT, pos INT, doc_id BIGINT, n_tokens INT",
    )
    packed = spark.createDataFrame(
        [(0, 0, 1, 4, 0), (0, 1, 2, 5, 0)],
        "shard INT, pos INT, doc_id BIGINT, n_tokens INT, pack_id INT",
    )
    plan = (
        sampling.pack_manifest(packed)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_packing_efficiency_report(spark):
    rows = [
        (0, 0, 100, 7), (0, 1, 101, 3), (0, 2, 102, 9), (0, 3, 103, 12),
        (1, 0, 200, 5), (1, 1, 201, 5),
    ]
    df = spark.createDataFrame(
        rows, "shard INT, pos INT, doc_id BIGINT, n_tokens INT"
    )
    packed = sampling.pack_sequences(df, budget_tokens=10)
    rep = {
        r["shard"]: r.asDict()
        for r in sampling.packing_efficiency_report(
            packed, budget_tokens=10
        ).collect()
    }
    # shard 0: packs [10, 9, 12] -> fills 1.0, 0.9, 1.2; waste (30-31)/30
    assert rep[0]["n_packs"] == 3 and rep[0]["n_docs"] == 4
    assert rep[0]["total_tokens"] == 31
    assert rep[0]["mean_fill"] == round((1.0 + 0.9 + 1.2) / 3, 6)
    assert rep[0]["padding_waste_frac"] == round((30 - 31) / 30, 6)
    assert rep[0]["max_pack_tokens"] == 12
    # shard 1: one full pack
    assert rep[1]["n_packs"] == 1 and rep[1]["mean_fill"] == 1.0
    assert rep[1]["padding_waste_frac"] == 0.0
    import pytest as _pt
    with _pt.raises(ValueError):
        sampling.packing_efficiency_report(packed, budget_tokens=0)


def test_pack_sequences_bfd_best_fit_rule(spark):
    """BFD hand case (budget 100): sorted desc [60, 60, 50, 40, 30] —
    40 joins the FULLEST fitting bin (the first 60), 30 the second 60;
    final loads {100, 90, 50} in 3 packs (greedy arrival order on the
    same rows needs 4)."""
    rows = [(0, 0, 60), (0, 1, 60), (0, 2, 50), (0, 3, 40), (0, 4, 30)]
    df = spark.createDataFrame(rows, "shard INT, pos INT, n_tokens INT")
    out = sampling.pack_sequences_bfd(df, budget_tokens=100).collect()
    loads = {}
    for r in out:
        loads[r["pack_id"]] = loads.get(r["pack_id"], 0) + r["n_tokens"]
    assert sorted(loads.values(), reverse=True) == [100, 90, 50]
    greedy = sampling.pack_sequences(df, budget_tokens=100).collect()
    assert len({r["pack_id"] for r in greedy}) == 4


def test_pack_sequences_bfd_oversize_isolated(spark):
    rows = [(0, 0, 150), (0, 1, 10), (0, 2, 10)]
    df = spark.createDataFrame(rows, "shard INT, pos INT, n_tokens INT")
    out = sampling.pack_sequences_bfd(df, budget_tokens=100).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    # the oversized row is alone; the two 10s share a bin
    assert sorted(map(sorted, by_pack.values())) == [[10, 10], [150]]


def test_pack_sequences_bfd_matches_python_mirror(spark):
    import random

    rnd = random.Random(7)
    rows = [(s, p, rnd.randint(5, 95)) for s in (0, 1) for p in range(40)]
    df = spark.createDataFrame(rows, "shard INT, pos INT, n_tokens INT")
    out = sampling.pack_sequences_bfd(df, budget_tokens=100).collect()

    def mirror(items):
        items = sorted(items, key=lambda x: (-x[1], x[0]))
        loads, assign = [], {}
        for pos, t in items:
            best = -1
            for i, l in enumerate(loads):
                if l + t <= 100 and (best == -1 or l > loads[best]):
                    best = i
            if best == -1:
                loads.append(t)
                assign[pos] = len(loads) - 1
            else:
                loads[best] += t
                assign[pos] = best
        return assign

    for s in (0, 1):
        expected = mirror([(p, t) for sh, p, t in rows if sh == s])
        got = {r["pos"]: r["pack_id"] for r in out if r["shard"] == s}
        assert got == expected
    with __import__("pytest").raises(ValueError):
        sampling.pack_sequences_bfd(df, budget_tokens=0)


def test_extend_components_equals_rebuild(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.clustering import (
        connected_components,
        extend_components,
    )

    old_pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (100, 101)], "a BIGINT, b BIGINT"
    )
    # new edges exercise every merge shape: a new id SMALLER than an old
    # component's min (5-12), an old component gaining a larger new id
    # (21-30), a brand-new component (40-41), and a late old-old edge
    # merging two existing components (12-20)
    new_pairs = spark.createDataFrame(
        [(5, 12), (21, 30), (40, 41), (12, 20)], "a BIGINT, b BIGINT"
    )
    rebuild = connected_components(old_pairs.unionByName(new_pairs))
    ext = extend_components(connected_components(old_pairs), new_pairs)
    assert sorted(map(tuple, ext.collect())) == sorted(
        map(tuple, rebuild.collect())
    )
    got = {r.id: r.cluster_id for r in ext.collect()}
    # 5 joined {10,11,12} and the late edge merged in {20,21,30}: all -> 5
    assert all(got[i] == 5 for i in (5, 10, 11, 12, 20, 21, 30))
    assert got[40] == 40 and got[41] == 40
    # the untouched component kept its label without re-clustering
    assert got[100] == 100 and got[101] == 100
