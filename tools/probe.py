"""Time contract queries solo, or at 1x and on Nx-replicated facts.

    python tools/probe.py QUERY... [--replicate N] [--best-of N]
                                   [--conf K=V]... [--plans DIR]

Each query is timed by ``bench.time_query``, the loop bench.py uses:
build the DataFrame, force it with a noop write, best of N; the build
and the execution phase each run under their own job group, so every
line carries seconds and Spark jobs per phase. ``bench.warmup`` runs
first, at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data). Output is
one JSON line per query, then one summary line.

--replicate N   Replicate the fact tables N times into a temporary
                directory (shifted primary ids, dimension tables 1x —
                see ``replicate``), time each query at 1x first as the
                same-session control, then at Nx, and report
                ``ratio`` = Nx total / 1x total. The directory is
                deleted on exit. Linear scaling reads ratio <= N (less
                when the 1x run is overhead-bound); ratio > N means
                superlinear work or a capacity cliff. Nx figures are
                comparable only within one run: the 1x control moves
                with the testdata generation.
--best-of N     Attempts per query and directory (default 2, as bench).
--conf K=V      Runtime SQL conf set before the warmup (repeatable),
                for A/B arms without editing session.py.
--plans DIR     Write each query's formatted physical plan to
                DIR/QUERY.txt (DIR/QUERY.Nx.txt for the replicated arm).

Run solo: a concurrent JVM inflates timings 1.3-3x. The measurements
BASELINE.md records from the retired one-off sweeps are these commands:

    # 16x scale sweep (round 6): the top-10 r5 bench queries
    probe.py pca_top2_projections dedup_clusters_star approx_aggregates \\
        price_quantiles pca_component corpus_curation kmeans_clusters \\
        language_id multi_distinct bigram_logprob --replicate 16
    # 64x lever sweep (round 7): each lever beside its lever-off sibling
    probe.py bigram_logprob bigram_logprob_pruned price_quantiles \\
        price_quantiles_approx --replicate 64
    # model-operator scale (round 3)
    probe.py dsir_selected_docs langid_classifier_scores ccnet_buckets \\
        pca_projections semantic_dedup --replicate 8
    # curation-operator scale (round 3)
    probe.py decontaminated_docs repetition_stats unigram_logprob \\
        span_dedup gopher_quality_flags containment_pairs \\
        minhash_estimate_report --replicate 16
    # single-query timing and plans (round 13)
    probe.py QUERY... --plans DIR
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import SF_DIR, force, time_query, warmup
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark
from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
    TESTDATA_TABLES,
)

# (id column to shift, shift stride) per fact table; dims are copied 1x.
# orders and lineitem share the orderkey stride so the join keys stay
# consistent across replicas. Facts grow and dims broadcast, so
# per-entity group sizes grow Nx too: the adversarial direction for
# groupBy-heavy plans.
FACT_SHIFTS = {
    "orders": [("o_orderkey", 1_000_000_000)],
    "lineitem": [("l_orderkey", 1_000_000_000)],
    "events": [("event_id", 1_000_000_000)],
    "documents": [("doc_id", 10_000_000)],
    "embeddings": [("vec_id", 10_000_000)],
}


def replicate(spark, src_dir: str, dst_dir: str, n: int) -> None:
    """Write every table of ``src_dir`` to ``dst_dir``: fact tables
    (``FACT_SHIFTS``) as ``n`` copies with replica ``i``'s ids shifted
    by ``i * stride``, dimension tables once."""
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    for t in TESTDATA_TABLES:
        src = f"{src_dir}/{t}.parquet"
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        if t in FACT_SHIFTS:
            parts = []
            for i in range(n):
                p = df
                for col, stride in FACT_SHIFTS[t]:
                    p = p.withColumn(col, F.col(col) + F.lit(i * stride))
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.repartition(32).write.parquet(f"{dst_dir}/{t}.parquet")
        else:
            df.write.parquet(f"{dst_dir}/{t}.parquet")


def _write_plan(spark, df, path: str) -> None:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    with open(path, "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(mode))


def _conf(kv: str) -> tuple[str, str]:
    k, sep, v = kv.partition("=")
    if not sep or not k.strip():
        raise argparse.ArgumentTypeError(f"expected K=V, got {kv!r}")
    return k.strip(), v.strip()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Time contract queries solo or at Nx replication"
    )
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--replicate", type=int, default=1, metavar="N")
    ap.add_argument("--best-of", type=int, default=2, metavar="N")
    ap.add_argument("--conf", type=_conf, action="append", default=[])
    ap.add_argument("--plans", metavar="DIR")
    ns = ap.parse_args(argv)
    if ns.replicate < 1 or ns.best_of < 1:
        ap.error("--replicate and --best-of must be >= 1")

    qs = entrymod.queries()
    unknown = [n for n in ns.queries if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark(app_name="probe")
    for k, v in ns.conf:
        spark.conf.set(k, v)
    if ns.plans:
        os.makedirs(ns.plans, exist_ok=True)
    warmup(spark)

    tag = f"{ns.replicate}x"
    with tempfile.TemporaryDirectory(prefix="probe_") as tmp:
        arms = [("", SF_DIR)]
        if ns.replicate > 1:
            work = os.path.join(tmp, tag)
            replicate(spark, SF_DIR, work, ns.replicate)
            for t in sorted(os.listdir(work)):
                force(spark.read.parquet(f"{work}/{t}"))
            arms.append((tag, work))
        lines = []
        for name in ns.queries:
            line: dict = {"q": name}
            for arm, sf_dir in arms:
                try:
                    r = time_query(
                        spark, lambda: qs[name](spark, sf_dir), ns.best_of
                    )
                    if ns.plans:
                        suffix = f".{arm}" if arm else ""
                        _write_plan(
                            spark,
                            qs[name](spark, sf_dir),
                            os.path.join(ns.plans, f"{name}{suffix}.txt"),
                        )
                except Exception as exc:  # noqa: BLE001 — isolate per query
                    line["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    break
                if arm:
                    line[arm] = r
                    line["ratio"] = round(
                        r["total_s"] / max(line["total_s"], 1e-9), 2
                    )
                else:
                    line.update(r)
            print(json.dumps(line), flush=True)
            lines.append(line)

    ok = [ln for ln in lines if "error" not in ln]
    summary = {
        "metric": "probe_total",
        "value": round(sum(ln["total_s"] for ln in ok), 3),
        "unit": "sec",
        "sf_dir": SF_DIR,
        "best_of": ns.best_of,
        "n_queries": len(ok),
        "n_errors": len(lines) - len(ok),
    }
    if ns.replicate > 1:
        summary["replicate"] = ns.replicate
        summary[f"value_{tag}"] = round(sum(ln[tag]["total_s"] for ln in ok), 3)
    print(json.dumps(summary))
    return 1 if len(ok) < len(lines) else 0


if __name__ == "__main__":
    sys.exit(main())
