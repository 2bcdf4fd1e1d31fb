"""Benchmark harness: runs every contract query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data, see ``SF_DIR``) on local[$SPARK_GRAFT_CPUS]
and prints one JSON line {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}, then one compact line per query
({"q", "sec", "jobs"}, ascending by sec, so the heaviest queries sit
nearest the end of the output) and the headline total, last.

Each query is timed by ``time_query`` (also the loop ``tools/probe.py``
uses): build the DataFrame, force it with a noop-format write (full
computation, nothing collected), best of $BENCH_BEST_OF (default 2).
Before timing, an untimed warmup pass scans EVERY input table once (JVM
+ codegen init + parquet footers + OS page cache) so the first timed
queries are not charged session/cold-IO startup — round 1 showed
2.5-4.8x cold-start inflation on the earliest queries when only
lineitem was warmed.

Failure isolation: a raising query is recorded as an error row and timing
continues — one regression must not cost the whole round's perf signal
(round 2's bench DNF'd on the first exception). Exit code is non-zero if
any query failed, but the JSON lines are always emitted.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark

from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    resolve_sf_dir,
)

# SPARK_GRAFT_SF_DIR canonical, legacy SF_DIR honored with a warning —
# the SAME resolver tools/check_correctness.py uses (no more split).
SF_DIR = resolve_sf_dir(default="/root/testdata/sf0.1")

# benchmark set: scan-heavy, shuffle-heavy, join-heavy, window-heavy
BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "pz_quarantine_rollup",
    "pz_validation_matrix",
    "price_zone_pipeline",
    "region_rollup",
    "top_revenue_orders",
    "admission_topk",
    "latest_event_per_user_type",
    "status_rollup",
    "transform_typed",
    "route_clusters",
    "asof_latest_order",
    "range_activity_24h",
    "running_revenue",
    "rollup_revenue",
    "embedding_dim_stats",
    "sql_api",
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash_signatures",
    "text_stats",
    "ann_cosine_topk",
    # ann_topk_vectorized is contract-checked but not a headline query:
    # at sf0.1 (5k vectors) Python-worker startup dominates; its win is
    # the scale regime — see BASELINE.md ANN probe (6.8x at 200k x 64d)
    "events_tumbling_window",
    # round-1 continuation: subquery-shaped joins + curation operators
    "tpch_q9",
    "tpch_q13",
    "tpch_q21",
    "dedup_clusters",
    "centroid_assign",
    "vocab_top_terms",
    "group_sample_events",
    # round-3 additions: curation + non-fake multimodal paths
    "decontaminated_docs",
    "repetition_stats",
    "multimodal_real_decode",
    "span_dedup",
    "token_budget_subset",
    "semantic_dedup",
    "corpus_admitted",
    # round-4: indexed intake (same admissions, corpus scanned once at
    # index build — the 100 TB posture; bench pays build + probe),
    # containment near-dup, MinHash calibration report
    "corpus_admitted_indexed",
    "containment_pairs",
    "minhash_estimate_report",
    "skyline_parts",
    "skyline_brand_fronts",
    "nation_pagerank",
    "event_anomaly",
    # round-6: BM25 served from the persisted inverted index, and the
    # oracle-proven approx-percentile swaps
    "bm25_search_indexed",
    "price_quantiles_approx",
    "depth_histogram_approx",
    # round-5: lexical retrieval (BM25), held-out PCA scoring,
    # character-level near-dup on LSH candidates
    "bm25_search",
    "pca_project_heldout",
    "edit_near_dup",
    "orders_profile",
    "price_histogram",
    "price_depth_histogram",
    "order_price_outliers",
    "scd2_orders_snapshot",
    "scd2_orders",
    "events_resampled",
    "user_value_trend",
    "gopher_quality_flags",
    "corpus_report",
    # round-3 continuation: sketches + model-based curation
    "hll_user_sketch",
    "ccnet_buckets",
    "dsir_selected_docs",
    "langid_classifier_scores",
    "pca_projections",
    "embedding_near_dup_lsh",
    "hll_overlap_report",
    "repeated_passages_report",
    "per_source_caps",
    "contamination_report",
    "dataset_splits",
    "weighted_doc_sample",
    "corpus_diff",
    "pca_top2_projections",
    "event_funnel",
    "weekly_retention",
    "events_throttle",
    "stats_unpivot",
    # round-8 tier refresh (VERDICT r7 item 4): round-7 representatives
    # — one per new family, heaviest first — so the curated tier
    # represents the whole engine again. Totals are NOT comparable to
    # the frozen r6 83-entry tier (BASELINE.md records both).
    "prefix_intake_admitted",
    "prefix_jaccard_pairs",
    "dedup_rate_report",
    "dedup_canonical_docs",
    "pca_top2_sampled",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    "ann_quantized_topk",
    "hybrid_rrf_search",
    "bm25_batch_topk",
    "winnow_fingerprints",
    "winnow_matches",
    "orders_bloom_semi",
    "bottomk_user_sample",
    "priority_user_sample",
    "join_size_estimate",
    "orders_profile_hll",
    "bigram_logprob_pruned",
    "drift_report",
    "decontaminated_docs_bloom",
    # round-8 additions: ExactSubstr dedup + URL/domain curation
    "exactsubstr_rewrite",
    "exactsubstr_removals",
    "domain_report",
    "domain_blocklist_docs",
    "domain_capped_docs",
    "canonical_urls",
    "url_dedup_docs",
    "doc_entropy_report",
    "domain_split_assign",
    "ann_ivf_trained_topk",
    "decontaminated_spans",
    "user_value_ewma",
    "exactsubstr_dup_stats",
]


from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    TESTDATA_TABLES,
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warmup(spark) -> None:
    """Untimed: one full scan of every input table + one tiny query.
    Initializes the JVM, codegen, Arrow/Python workers, parquet footer
    cache, and the OS page cache for the data files. Each step is
    failure-isolated like the timed loop: a bad table or a broken warm
    query must cost its own warmth, not the whole bench's JSON line."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import (
        ensure_runtime_confs,
    )

    ensure_runtime_confs(spark)
    qs = entrymod.queries()
    steps = [
        (t, lambda t=t: force(spark.read.parquet(f"{SF_DIR}/{t}.parquet")))
        for t in TESTDATA_TABLES
        if os.path.exists(f"{SF_DIR}/{t}.parquet")
    ] + [
        ("warm:tpch_q1", lambda: force(qs["tpch_q1"](spark, SF_DIR))),
        # spin the Arrow/Python daemon pool: the first mapInPandas query
        # otherwise pays worker startup (~3x on small stages — CLAUDE.md)
        (
            "warm:python_workers",
            lambda: force(
                spark.range(64)
                .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
                .mapInPandas(lambda it: it, "id long")
            ),
        ),
    ]
    for name, step in steps:
        try:
            step()
        except Exception as exc:  # noqa: BLE001
            print(f"BENCH-WARMUP-ERROR {name}: {exc}", file=sys.stderr)


def time_query(spark, build, best_of: int = 2) -> dict:
    """Time one query: ``build()`` makes the DataFrame (its eager
    construction jobs run there), then a noop write forces it.

    ``total_s`` is the minimum over ``best_of`` attempts of build +
    force; ``build_s`` and ``exec_s`` are each their own minimum. Each
    phase runs under its own job group, and ``build_jobs`` /
    ``exec_jobs`` count the Spark jobs of the last attempt. An exception
    in the first attempt propagates. One in a later attempt ends the
    loop: the result keeps the successful attempts' timings and carries
    the exception text as ``error``."""
    sc = spark.sparkContext
    best: dict[str, float] = {}
    groups: dict[str, str] = {}
    error = None
    try:
        for _ in range(best_of):
            attempt = {ph: f"{ph}-{uuid.uuid4().hex}" for ph in ("build", "exec")}
            try:
                sc.setJobGroup(attempt["build"], attempt["build"])
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
                sc.setJobGroup(attempt["exec"], attempt["exec"])
                force(df)
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — keep earlier attempts
                if not best:
                    raise
                error = f"{type(exc).__name__}: {exc}"[:500]
                break
            for key, el in (
                ("build_s", t1 - t0), ("exec_s", t2 - t1), ("total_s", t2 - t0)
            ):
                best[key] = min(best.get(key, el), el)
            groups = attempt
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store fills from the listener bus: drain it so the last
    # job of the exec phase is counted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out: dict = {k: round(v, 3) for k, v in best.items()}
    for ph, group in groups.items():
        out[f"{ph}_jobs"] = len(tracker.getJobIdsForGroup(group))
    if error is not None:
        out["error"] = error
    return out


def main() -> None:
    spark = get_spark(app_name="spark-graft-bench")
    qs = entrymod.queries()
    # curated lead order first (it sets Python-worker and IO warmth
    # identically run-to-run), then every remaining contract query
    # alphabetically, so >2x regressions are detectable on the whole
    # surface
    names = [n for n in BENCH_QUERIES if n in qs]
    names += sorted(n for n in qs if n not in names)
    # r14 (VERDICT r13 item 6, amended): the three DOCUMENTED quadratic
    # /index-less oracle mirrors (each has a pinned-equivalent scale
    # sibling) cost ~15 s of every run. The verdict proposed dropping
    # them from the DEFAULT run, but the driver contract says bench
    # entries may be ADDED, never removed — so the skip is strictly
    # OPT-IN for local iteration (BENCH_SKIP_MIRRORS=1); the default
    # run keeps all entries and stays driver-comparable.
    if os.environ.get("BENCH_SKIP_MIRRORS"):
        _MIRRORS = {"dedup_jaccard", "corpus_admitted", "lsh_banding_report"}
        names = [n for n in names if n not in _MIRRORS]

    warmup(spark)

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    errors: dict[str, str] = {}
    # best-of-N (default 2): run-to-run variance on this host is large
    # (semantic_dedup measured 2.9-13 s across identical runs); the min
    # of two attempts is a far steadier estimate of plan cost than one
    # draw, at the cost of one extra execution per query
    best_of = max(1, int(os.environ.get("BENCH_BEST_OF", "2")))
    for name in names:
        try:
            r = time_query(spark, lambda: qs[name](spark, SF_DIR), best_of)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"BENCH-ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        if "error" in r:  # a later attempt failed; the earlier ones count
            print(f"BENCH-ERROR {name}: {r['error']}", file=sys.stderr)
        timings[name] = r["total_s"]
        jobs[name] = r["build_jobs"] + r["exec_jobs"]

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    # persist the FULL per-query map: BENCH_rN.json keeps only a
    # truncated tail of stdout, so only ~70/232 queries were
    # regression-diffable across rounds (r10 verdict task 3). Record
    # runs commit this file; BASELINE.md regression claims cite it.
    # Guarded (ADVICE r11): a subset or errored dev run must not
    # clobber the committed 239-query map that bench_diff.py claims
    # cite — those runs only write when BENCH_FULL_JSON names an
    # explicit (presumably untracked) path.
    full_path = os.environ.get("BENCH_FULL_JSON")
    skip_reason = None
    if full_path is None:
        if os.environ.get("BENCH_SKIP_MIRRORS"):
            skip_reason = "BENCH_SKIP_MIRRORS subset run"
        elif errors:
            skip_reason = f"{len(errors)} errored queries"
        elif sf_val != 0.1:
            skip_reason = f"sf={sf_val} (record runs are sf0.1)"
        else:
            full_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
            )
    if skip_reason is not None:
        print(
            f"BENCH-WARN not updating bench_full.json ({skip_reason}); "
            "set BENCH_FULL_JSON to write elsewhere",
            file=sys.stderr,
        )
    else:
        try:
            with open(full_path, "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError as exc:
            print(f"BENCH-WARN could not write {full_path}: {exc}", file=sys.stderr)
    summary_line = json.dumps({
        "metric": "headline_total",
        "value": result["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
    })
    print(summary_line)
    # the single big per-query map line above overflows a tail-truncated
    # stdout record, so re-emit the map as one COMPACT line per query —
    # each line is complete, parseable JSON on its own. Ascending by
    # seconds, errors after them: whatever suffix of stdout is kept
    # carries the heaviest queries and every error.
    for name in sorted(timings, key=timings.get):
        print(json.dumps({"q": name, "sec": timings[name], "jobs": jobs[name]}))
    for name in sorted(errors):
        print(json.dumps({"q": name, "error": errors[name][:120]}))
    # compact summary LAST: the driver's bench record keeps only the
    # tail of the output (BENCH_r04.json lost the headline total) —
    # repeating this line at the very end guarantees it survives any
    # tail truncation regardless of how many per-query lines fit.
    print(summary_line)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
