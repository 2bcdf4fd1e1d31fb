"""Physical-plan pins for the round-3 curation operators.

PLANS.md records these numbers as documentation; this test enforces the
scale-critical ones so a refactor that silently adds a shuffle, drops a
broadcast, or pushes work into Python fails CI instead of the 100 TB run.
"""

from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import dedup as D
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import text as T
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.bucketing import (
    count_exchanges,
)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_stats_is_map_side_only(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = T.repetition_stats(docs)
    assert count_exchanges(plan) == 0  # pure projection — no shuffle
    ex = _executed(plan)
    assert "EvalPython" not in ex and "InPandas" not in ex


def test_text_stats_is_map_side_only(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = T.text_stats(docs)
    assert count_exchanges(plan) == 0
    assert "EvalPython" not in _executed(plan)


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    plan = D.decontaminate(docs, bench, shingle_n=3)
    ex = _executed(plan)
    # the gram probe and the final anti-join must both be broadcast —
    # the corpus must never shuffle on content
    assert ex.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in ex
    assert "EvalPython" not in ex


def test_unigram_logprob_has_no_python_and_broadcast_total(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = T.unigram_logprob(docs)
    ex = _executed(plan)
    assert "EvalPython" not in ex and "InPandas" not in ex
    # the corpus-total scalar must come in via broadcast (q11 shape),
    # never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in ex or "BroadcastExchange" in ex
    assert "CartesianProduct" not in ex


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_en = F.coalesce(F.col("lang"), F.lit("")) == "en"
    plan = T.dsir_select(docs.filter(~is_en), docs.filter(is_en), k=10, dim=256)
    ex = _executed(plan)
    # log-ratio table (≤ dim rows) joins back onto the raw features via
    # broadcast; the raw corpus must not shuffle for the scoring join
    assert "BroadcastHashJoin" in ex
    assert "EvalPython" not in ex and "InPandas" not in ex
    # top-k is TakeOrdered, not a global Sort+Limit materialization
    assert "TakeOrderedAndProject" in ex


def test_contamination_scores_broadcasts_bench(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    plan = D.contamination_scores(docs, bench, shingle_n=3)
    ex = _executed(plan)
    assert "BroadcastHashJoin" in ex
    assert "EvalPython" not in ex


def test_repeated_passages_single_keyed_shuffle_and_takeordered(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = T.repeated_passages(docs, n=5, min_docs=2, k=20)
    ex = _executed(plan)
    assert "TakeOrderedAndProject" in ex
    assert "EvalPython" not in ex


def test_logreg_iteration_broadcasts_weights(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        classifier as CL,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "__y", (F.coalesce(F.col("lang"), F.lit("")) == "en").cast("double")
    )
    w = CL.logreg_fit(docs, "__y", dim=32, n_iter=2)
    plan = CL.logreg_predict(docs, w, dim=32)
    ex = _executed(plan)
    # the ≤ dim+1-row weight table must broadcast onto the features
    assert "BroadcastHashJoin" in ex
    assert "SortMergeJoin" not in ex


def test_pca_component_broadcast_and_no_python(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        similarity as SM,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    comp = SM.pca_power_iteration(emb, n_iter=1)
    plan = SM.pca_project(emb, comp)
    ex = _executed(plan)
    assert "BroadcastHashJoin" in ex or "BroadcastExchange" in ex
    assert "EvalPython" not in ex and "InPandas" not in ex
    assert "CartesianProduct" not in ex


def _fmt_plan(spark, df) -> str:
    qe = df._jdf.queryExecution()
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(fmt)


def test_indexed_intake_corpus_scan_count(spark, tmp_path):
    """The 100 TB claim behind corpus_admitted_indexed: with persisted
    fp/band index tables, an intake batch touches the CORPUS file only
    for the candidate-restricted Jaccard verify (1 scan), never the
    full fingerprint + MinHash-band recompute (3+ corpus scans in the
    index-less form). New-batch scans are delta-sized and don't matter
    at scale; corpus scans are the ones that cost ~3 full passes per
    arriving crawl batch."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_path = str(tmp_path / "existing_side")
    new_path = str(tmp_path / "arriving_side")
    docs.filter(F.substring("source", 4, 10).cast("int") < 10).write.parquet(
        corpus_path
    )
    docs.filter(F.substring("source", 4, 10).cast("int") >= 10).write.parquet(
        new_path
    )
    corpus = spark.read.parquet(corpus_path)
    new = spark.read.parquet(new_path)

    def corpus_scans(df) -> int:
        plan = _fmt_plan(spark, df)
        return sum(
            1
            for ln in plan.splitlines()
            if "Location:" in ln and "existing_side" in ln
        )

    unindexed = corpus_scans(D.dedup_against_corpus(new, corpus, threshold=0.2))
    fp, bands = D.build_corpus_index(corpus)
    fp = fp.localCheckpoint(eager=True)
    bands = bands.localCheckpoint(eager=True)
    indexed = corpus_scans(
        D.dedup_against_corpus(
            new, corpus, threshold=0.2, corpus_fp=fp, corpus_bands=bands
        )
    )
    assert unindexed >= 3  # fp pass + band pass + verify pass
    assert indexed == 1  # candidate-restricted Jaccard verify only


def test_indexed_intake_contract_query_scans_drop(spark):
    """Same claim on the contract-query formulation (corpus and new
    carved from one documents.parquet): total file-scan count must drop
    vs the index-less corpus_admitted (19 scans at round-3's PLANS.md;
    the survivors remain new-batch-sized re-reads)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    unindexed = _fmt_plan(spark, e.q_corpus_admitted(spark, sf)).count(
        "Location:"
    )
    indexed = _fmt_plan(spark, e.q_corpus_admitted_indexed(spark, sf)).count(
        "Location:"
    )
    assert unindexed >= 15
    assert indexed <= 11
    assert indexed < unindexed


def test_skyline_grouped_is_one_keyed_shuffle(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        skyline as SKY,
    )

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = SKY.skyline_grouped(
        part.select("p_brand", "p_partkey", "p_size", "p_retailprice"),
        ["p_brand"],
        {"p_retailprice": "min", "p_size": "max"},
    )
    # per-group fronts: one keyed shuffle on the group column, dominance
    # in applyInPandas, and NO global single-partition merge stage
    assert count_exchanges(plan) == 1
    ex = _executed(plan)
    assert ex.count("FlatMapGroupsInPandas") == 1
    assert "Coalesce 1" not in ex and "SinglePartition" not in ex


def test_pagerank_no_cartesian_no_python(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        graph as GR,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    edges = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            (F.col("l_partkey") % 25).alias("dst"),
        )
        .count()
        .withColumnRenamed("count", "w")
    )
    ranks = GR.pagerank(edges, "src", "dst", "w", n_iter=2)
    # the small graph contracts to the driver: downstream plans read the
    # ranks as a local relation (util.driver_frame), with no file
    # re-scan after the fit and no Python worker behind the rows
    plan = _fmt_plan(spark, ranks)
    assert "LocalTableScan" in plan
    assert "Location:" not in plan  # no file re-scan after the fit
    lineage = ranks._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_bm25_plan_shape(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = T.bm25_scores(docs, ["spark", "join", "vector"], top_k=10)
    ex = _executed(plan)
    # stats row broadcasts back; no (doc, term) explode/shuffle, no
    # Python, and the top-k is per-partition heaps, never a global sort
    assert "BroadcastNestedLoopJoin" in ex or "BroadcastHashJoin" in ex
    assert "Generate" not in ex  # no explode
    assert "EvalPython" not in ex and "InPandas" not in ex
    assert "TakeOrderedAndProject" in ex
    # tokenization evaluates once per corpus pass (scoring side): the
    # m per-term filters reference ONE materialized token array
    fmtd = _fmt_plan(spark, plan)
    import re as _re

    per_node = [
        seg.count("regexp_extract_all") for seg in fmtd.split("Project")
    ]
    assert max(per_node) <= 1, "token regex inlined into per-term filters"


def test_scd2_single_join_single_generate(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        scd2 as S2,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cur = o.limit(500).select(
        "o_orderkey", "o_orderstatus",
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    upd = o.limit(300).select(
        "o_orderkey", F.lit("Z").alias("o_orderstatus"),
        F.lit(9).cast("bigint").alias("effective_ts"),
    )
    plan = S2.scd2_apply(cur, upd, ["o_orderkey"], ["o_orderstatus"])
    ex = _executed(plan)
    # one keyed full-outer join, versions emitted by ONE explode, no
    # Python anywhere, no three-branch re-scan of the join output
    assert ex.count("Generate") == 1
    assert "EvalPython" not in ex and "InPandas" not in ex
    joins = ex.count("SortMergeJoin") + ex.count("ShuffledHashJoin")
    assert joins == 1


def test_resample_no_python_mapside_grid(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.functions import (
        event_time,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        timeseries as TS,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = TS.resample_ffill(e, "user_id", event_time(e, "ts"), "value")
    ex = _executed(plan)
    assert "EvalPython" not in ex and "InPandas" not in ex
    assert "Generate" in ex  # sequence+explode grid, map-side
    assert "Window" in ex    # per-key forward fill


def test_bm25_indexed_serve_never_scans_corpus(spark, tmp_path):
    """The 100 TB claim behind bm25_search_indexed: served from the
    persisted (stats, doclen, postings) tables, a query batch never
    touches the corpus TEXT again — corpus-sized serve work is exactly
    one scan of the narrow doclen table; postings scans are term-pruned
    index probes."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_path = str(tmp_path / "corpus_text")
    docs.select("doc_id", "text").write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    stats, doclen, postings = T.build_bm25_index(corpus)
    ixdir = tmp_path / "bm25_index"
    stats.write.parquet(str(ixdir / "stats"))
    doclen.write.parquet(str(ixdir / "doclen"))
    postings.write.parquet(str(ixdir / "postings"))
    idx = (
        spark.read.parquet(str(ixdir / "stats")),
        spark.read.parquet(str(ixdir / "doclen")),
        spark.read.parquet(str(ixdir / "postings")),
    )
    served = T.bm25_scores_indexed(idx, ["spark", "join"], top_k=10)
    plan = _fmt_plan(spark, served)
    scans = [ln for ln in plan.splitlines() if "Location:" in ln]
    assert not any("corpus_text" in ln for ln in scans)  # text never re-read
    assert sum(1 for ln in scans if "doclen" in ln) == 1  # one narrow corpus-sized scan
    # and the direct form, for contrast, scans the corpus text
    direct_plan = _fmt_plan(spark, T.bm25_scores(corpus, ["spark", "join"]))
    assert "corpus_text" in direct_plan


# --- round-10 composite-query shape pins ------------------------------


import re

import __spark_entry__ as entry


def _shape(df):
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    spark = df.sparkSession
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    formatted = qe.explainString(fmt)
    return {
        "scans": formatted.count("Location:"),
        "cartesian": executed.count("CartesianProduct"),
        "python": sum(
            executed.count(op)
            for op in (
                "ArrowEvalPython",
                "BatchEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
            )
        ),
        "exchanges": len(
            re.findall(r"Exchange (?:hash|range)partitioning", executed)
        ),
        "executed": executed,
    }


def _q(spark, sf_dir, name):
    return entry.queries()[name](spark, sf_dir)


def test_cross_source_sweep_is_pair_sized_after_verify(spark, sf_dir):
    """The sweep's per-threshold branches read the MATERIALIZED pair
    frame: zero parquet scans downstream of the checkpoint (one more
    corpus pass per threshold otherwise) and zero Python."""
    s = _shape(_q(spark, sf_dir, "cross_source_dup_sweep"))
    assert s["scans"] == 0, s["executed"]
    assert s["python"] == 0 and s["cartesian"] == 0


def test_cross_source_report_pair_sized_joins_only(spark, sf_dir):
    """Source lookups join the PAIR table (never corpus x corpus): no
    cartesian product, no Python, bounded scan count."""
    s = _shape(_q(spark, sf_dir, "cross_source_dup_report"))
    assert s["cartesian"] == 0 and s["python"] == 0
    assert s["scans"] <= 4, s["scans"]


def test_cascade_census_reads_only_stage_checkpoints(spark, sf_dir):
    """The census aggregates the lazily-checkpointed stage outputs —
    re-running upstream stages would show as parquet scans."""
    s = _shape(_q(spark, sf_dir, "curation_cascade_census"))
    assert s["scans"] == 0, s["executed"]


# (the fused-rewrite single-tokenize pin lives in
# test_exactsubstr_web.py::test_exactsubstr_decon_rewrite_single_corpus_tokenize
# at the position-entries level — the top-level query plan is truncated
# at the localCheckpoint, so it cannot be asserted here)


def test_frame_near_dup_native_and_banded(spark, sf_dir):
    """dHash near-dup: all-native columns (zero Python) and banded
    equi-join candidates (never a cartesian all-pairs)."""
    s = _shape(_q(spark, sf_dir, "frame_near_dup_pairs"))
    assert s["python"] == 0 and s["cartesian"] == 0


def test_c4_query_is_shuffle_free(spark, sf_dir):
    s = _shape(_q(spark, sf_dir, "c4_line_filtered_docs"))
    assert s["exchanges"] == 0, s["executed"]
    assert s["python"] == 0


def test_hot_split_join_is_one_broadcast_plus_one_smj(spark, sf_dir):
    """r11 skew lever: the hot path must be a broadcast hash join (hot
    rows never enter an exchange), the cold residual a sort-merge join,
    and nothing in the plan may collapse to a single partition. The
    auto-broadcast threshold is disabled so the cold side can't be
    broadcast by size at test scale — at fact sizes it never would be."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.skew import (
        hot_split_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id")
        )
        purch = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id")
        )
        out = hot_split_join(clicks, purch, "user_id", hot_keys=[1, 2, 3])
        ex = _executed(out)
        assert ex.count("BroadcastHashJoin") == 1
        assert ex.count("SortMergeJoin") == 1
        assert "Exchange SinglePartition" not in ex
        assert "CartesianProduct" not in ex
        assert "EvalPython" not in ex and "InPandas" not in ex
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_triangle_counts_persists_shared_frames(spark, sf_dir):
    """r12 (VERDICT r11 #1): triangle_counts references `orient` 3x
    (both wedge sides + the closers semi join) and `deg` 2x — without
    persists the caller's upstream edge pipeline re-executes ~5-6x
    (nation_triangles planned 40 parquet scans for a 25-node result).
    Pins (a) the pagerank-style eager-checkpoint result (downstream
    plans are scan-free), and (b) that the shared frames actually went
    through persist() during the call, so a refactor that drops the
    caches fails here instead of on the 100 TB graph."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        graph as GR,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    edges = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("s_nationkey").alias("a"),
            (F.col("l_partkey") % 25).alias("b"),
        )
    )
    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.DataFrame
    # is abstract; the classic subclass overrides persist)
    cls = type(edges)
    persists = []
    orig = cls.persist

    def counting_persist(self, *a, **kw):
        persists.append(1)
        return orig(self, *a, **kw)

    cls.persist = counting_persist
    try:
        out = GR.triangle_counts(edges, "a", "b")
    finally:
        cls.persist = orig
    # e, deg, orient each persisted exactly once for the call
    assert len(persists) == 3
    plan = _fmt_plan(spark, out)
    assert "Scan ExistingRDD" in plan
    assert "Location:" not in plan  # no file re-scan after the build


def test_annotation_reports_scan_raw_table_once(spark, sf_dir):
    """r12: consensus/kappa branch 2-4 ways off the vote table, and
    Catalyst does not reuse an aggregate subtree across branches — the
    operators pin the checkpointed vote table so the raw (event-volume)
    table is scanned ONCE at build; every downstream plan reads the
    materialized item x label rows."""
    import __spark_entry__ as e

    for q in ("consensus_event_labels", "annotator_agreement"):
        plan = _fmt_plan(spark, e.queries()[q](spark, sf_dir))
        assert "Location:" not in plan, q  # no raw re-scan
        assert "Scan ExistingRDD" in plan, q


def test_residual_ivfpq_serve_plan_reads_checkpoints_only(spark, sf_dir):
    """r13 (VERDICT r12 #8): the inline-build residual IVF-PQ serve was
    the heaviest plan in PLANS.md (10 parquet scans / 12 shuffles — the
    fit loop, encode, query assignment and serve join each re-ran the
    corpus scan + cell assignment). With every shared build artifact
    eagerly checkpointed (the nation_triangles fix) the SERVE plan
    reads materialized frames only: zero parquet scans."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["ann_ivfpq_residual_topk"](spark, sf_dir)
    )
    assert "Location:" not in plan  # no raw parquet scan anywhere
    assert "Scan ExistingRDD" in plan


def test_reliability_and_alpha_scan_raw_table_once(spark, sf_dir):
    """r13: annotator_reliability branches off the checkpointed triple
    log (election + vote-side join), krippendorff_alpha off the
    checkpointed vote table (self-join + marginals) — both scan the
    raw event-volume table exactly once at build, serve plans read the
    materialized rows."""
    import __spark_entry__ as e

    for q in ("annotator_reliability", "annotation_alpha"):
        plan = _fmt_plan(spark, e.queries()[q](spark, sf_dir))
        assert "Location:" not in plan, q
        assert "Scan ExistingRDD" in plan, q


def test_modularity_report_single_labeled_edge_table(spark, sf_dir):
    """r13: the modularity report branches 3 ways (m, intra, degrees)
    off the labeled-edge table; the eager checkpoint pins ONE build of
    it — the serve plan reads materialized frames only (the raw
    lineitem-volume joins happen once, at checkpoint time)."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["community_modularity"](spark, sf_dir)
    )
    assert "Location:" not in plan
    assert "Scan ExistingRDD" in plan


def test_rbo_report_reads_checkpointed_rank_lists(spark, sf_dir):
    """r13: rbo_report's depth-cut rank lists feed THREE branches
    (max-rank histogram, group set, depth grid) — without the eager
    checkpoints every branch re-ran the caller's whole ranking
    pipeline (8 raw scans / 15 shuffles in the contract query's
    plan). The serve plan reads materialized rows only."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["region_nation_rank_rbo"](spark, sf_dir)
    )
    assert "Location:" not in plan
    assert "Scan ExistingRDD" in plan


# --- round-13 optimization shape pins ---------------------------------


def test_flat_ivfpq_serve_plan_scan_bounded(spark, sf_dir):
    """r13 opt: the flat ivf_pq_topk inline build re-ran the Lloyd fit
    and cell assignment per consumer branch (12 parquet scans / 40
    exchanges before). With centroids/corpus_cells/codes eagerly
    checkpointed the serve plan reads materialized frames plus at most
    the query-side scans."""
    import __spark_entry__ as e

    plan = _fmt_plan(spark, e.queries()["ann_ivfpq_topk"](spark, sf_dir))
    assert plan.count("Location:") <= 4
    assert "Scan ExistingRDD" in plan


def test_bm25_inline_build_serve_scans_nothing(spark, sf_dir):
    """r13 opt: build_bm25_index materializes postings/doclen off ONE
    corpus tokenize; an inline build+serve (bm25_batch_topk) reads the
    checkpointed index tables only — zero parquet scans in the serve
    plan (8 before)."""
    import __spark_entry__ as e

    plan = _fmt_plan(spark, e.queries()["bm25_batch_topk"](spark, sf_dir))
    assert "Location:" not in plan
    assert "Scan ExistingRDD" in plan


def test_prefix_index_build_shingles_once(spark, sf_dir):
    """r13 opt: build_prefix_index's (dfreq, pref, sh) tables each
    re-derived the corpus shingling per reference (10 parquet scans in
    prefix_intake_admitted before). Eager checkpoints build each table
    once off the previous one's blocks — the probe plan keeps only the
    new-batch scans."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["prefix_intake_admitted"](spark, sf_dir)
    )
    assert plan.count("Location:") <= 2
    assert "Scan ExistingRDD" in plan


def test_dedup_clusters_extended_builds_pairs_once(spark, sf_dir):
    """r13 opt: the MinHash pair list feeds the old-graph CC build and
    both extend_components references — checkpointed once, the plan
    keeps only the singleton-labeling scans (6 parquet scans before)."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["dedup_clusters_extended"](spark, sf_dir)
    )
    assert plan.count("Location:") <= 2
    assert "Scan ExistingRDD" in plan


def test_depth_histogram_approx_reads_pair_table(spark, sf_dir):
    """r13 opt: exact histogram, approx counts and total are marginals
    of ONE checkpointed (exact, approx) bucket-pair table — 2 corpus
    passes at build (6 before), zero parquet scans in the serve plan."""
    import __spark_entry__ as e

    plan = _fmt_plan(
        spark, e.queries()["depth_histogram_approx"](spark, sf_dir)
    )
    assert "Location:" not in plan
    assert "Scan ExistingRDD" in plan


def test_pca_gram_frame_evaluates_deflated_array_once(spark):
    """r14 opt: _pca_gram_frame must not let the optimizer push an
    inferred size(__cv)>0/isnotnull(__cv) filter below the staging
    projections — with plain posexplode that re-inlines the whole
    deflated zip_with/aggregate chain (incl. the O(d) dot fold) into a
    per-row Filter, a full duplicate evaluation (the span_dedup
    lesson). posexplode_outer + explicit null filter keeps exactly one
    copy of the dot-fold `aggregate(` in the plan."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        similarity as S,
    )

    d = 8
    vecs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(d)]) for i in range(6)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    base = S._pca_base(vecs, "vec_id", "embedding")
    mu_arr = F.array(*[F.lit(0.0)] * d)
    cw = base.select(
        "__id", F.zip_with("__v", mu_arr, lambda x, m: x - m).alias("__cv")
    )
    v_arr = F.array(*[F.lit(0.1)] * d)
    staged = cw.select(
        "__id",
        "__cv",
        F.aggregate(
            F.zip_with("__cv", v_arr, lambda x, vv: x * vv),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("__dot"),
    )
    deflated = staged.select(
        "__id",
        F.zip_with(
            "__cv", v_arr, lambda x, vv: F.round(x - F.col("__dot") * vv, 6)
        ).alias("__cv"),
    )
    plan = _fmt_plan(spark, S._pca_gram_frame(deflated, d))
    assert plan.count("aggregate(") == 1, plan.count("aggregate(")
