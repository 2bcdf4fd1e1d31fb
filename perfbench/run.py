"""spark-graft benchmark: one workload, one process, Spark at local[N] with
N half the CPUs the process may use (see ``spark_cores``).

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload pz_load --seed 1 --seconds 10 --trace 0

Steps:

1. Generate the workload's inputs from ``--seed`` in a child process
   (``gen.py``), under ``.perfbench_tmp/`` in the checkout. Untimed.
2. Set-up, timed as ``setup_s``: import the package, create the session
   (``session.get_spark``), ``ensure_runtime_confs``, and the workload's
   warm passes; the first one's outputs are kept for the checks.
3. Measure: whole passes until ``--seconds`` have elapsed (at least one).
   With ``--trace 1`` passes alternate untraced and traced, starting and
   ending untraced; the traced ones give the per-layer metrics and the
   two kinds give ``trace_overhead_frac``.
4. Check the outputs (``checks.py``), print one line per metric, then the
   result as the last line of stdout: ``{"correct", "attempted",
   "failed", "metrics"}``. An op fails if it raised or its output check
   failed; ``attempted`` counts timed ops.

Exit status is 0 when the run completed (also with failed ops, which the
result reports), 2 when the checkout has no package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

from counters import StatusReader
from workloads import WORKLOADS, Groups, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sample_python_lambdas_glue_and_pyspark_scripts_spark"


def spark_cores() -> int:
    """Spark's task slots: half the CPUs this process may use, at least one.

    The driver thread, the JIT compiler threads and the Python driver need
    CPUs of their own. With as many task threads as CPUs, task bursts
    delay the driver thread that builds the next plan, and on a shared
    host the figures then follow the host's load: ``curation_build``
    passes read 3.0-6.3 s at ``local[4]`` on 4 vCPUs against 3.1-3.9 s
    at ``local[2]`` in the same stretch."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def registered_units(kind: str) -> dict[str, str]:
    """``{metric: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    that ``BENCHMARK.json`` registers."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _isolate_scratch(tmp: str) -> dict[str, str]:
    """Keep Spark's and Python's scratch files inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return {
        "spark.local.dir": tmp,
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, args, cores: int, tmp: str) -> dict:
    phases = {}
    t_gen = time.perf_counter()
    data_dir = os.path.join(tmp, f"data-{wl.name}-{args.seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), *wl.gen_args(args.seed, data_dir)],
        check=True, capture_output=True, text=True,
    )
    manifest = json.loads(gen.stdout)
    extra_conf = _isolate_scratch(tmp)

    t0 = time.perf_counter()
    phases["gen_s"] = t0 - t_gen
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import (
        ensure_runtime_confs,
        get_spark,
    )

    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=extra_conf)
    try:
        ensure_runtime_confs(spark)
        wl.bind(spark, manifest, data_dir, os.path.join(tmp, "work"), cores)
        wl.warm()
        for n in range(2, wl.warm_passes + 1):
            wl.run_pass(-n, None)
        setup_s = time.perf_counter() - t0
        plain, traced = run_passes(wl, spark, args)
        phases["setup_s"] = setup_s
        phases["measure_s"] = time.perf_counter() - t0 - setup_s
        py_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_peak = _vm_hwm_mb(jvm_pid)
        t_check = time.perf_counter()
        check_problems = wl.check(ROOT)
        phases["check_s"] = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_stop
    shutil.rmtree(data_dir, ignore_errors=True)
    return {
        "setup_s": setup_s,
        "plain": plain,
        "traced": traced,
        "py_peak_rss_mb": py_peak,
        "jvm_peak_rss_mb": jvm_peak,
        "check_problems": check_problems,
        "inputs": wl.inputs(),
        "phases": phases,
    }


def run_passes(wl, spark, args):
    """Whole passes until ``args.seconds`` have elapsed. Traced runs go
    untraced, traced, untraced, ... and end untraced, so every traced
    pass sits between two untraced ones and warm-up drift cancels out of
    ``trace_overhead_frac``."""
    reader = StatusReader(spark.sparkContext) if args.trace else None
    plain, traced = [], []
    t_end = time.perf_counter() + args.seconds
    n = 0
    while True:
        use_trace = bool(args.trace) and n % 2 == 1
        res = wl.run_pass(n, Groups(spark, reader) if use_trace else None)
        (traced if use_trace else plain).append(res)
        n += 1
        if time.perf_counter() >= t_end and not use_trace and (traced or not args.trace):
            return plain, traced


def op_p50(passes) -> float:
    """Median over ops of each op's median latency across passes: the
    latency of the typical op, robust to one slow pass and to ops whose
    latencies are far apart."""
    per_op = zip(*(p.op_s for p in passes))
    return median([median(list(samples)) for samples in per_op])


def summarize(wl, args, cores: int, m: dict) -> dict:
    passes = m["plain"] + m["traced"]
    ops = list(wl.ops)
    failed_ops = sorted({op for p in passes for op in p.failed_ops})
    # an op whose warm-pass output failed its check fails every time it ran
    bad_by_check = set()
    for key in m["check_problems"]:
        head = key.split(":", 1)[0]
        bad_by_check |= {head} if head in ops else set(ops)
    attempted = sum(len(p.op_s) for p in passes)
    failed = sum(
        1
        for p in passes
        for op in ops
        if op in p.failed_ops or op in bad_by_check
    )
    if args.trace:
        units = registered_units("per_layer")
        layers = {k: median([p.layers.get(k, 0.0) for p in m["traced"]]) for k in units}
        plain_wall = median([p.wall_s for p in m["plain"]])
        layers["trace_overhead_frac"] = (
            median([p.wall_s for p in m["traced"]]) / plain_wall - 1.0
        )
        layers["jvm_peak_rss_mb"] = m["jvm_peak_rss_mb"]
        layers["spark.cores"] = cores
        metrics = {k: (layers[k], units[k]) for k in units}
    else:
        wall = median([p.wall_s for p in m["plain"]])
        values = {
            "setup_s": m["setup_s"],
            "wall_s": wall,
            "op_p50_s": op_p50(m["plain"]),
            "rows_per_s": wl.input_rows / wall,
            "py_peak_rss_mb": m["py_peak_rss_mb"],
        }
        units = registered_units("end_to_end")
        metrics = {k: (values[k], units[k]) for k in units}

    print(f"perfbench workload={wl.name} seed={args.seed} cores={cores} "
          f"trace={args.trace} passes={len(passes)} inputs={json.dumps(m['inputs'])}")
    print("perfbench phases " + " ".join(f"{k}={v:.2f}" for k, v in m["phases"].items())
          + " pass_wall_s=" + ",".join(f"{p.wall_s:.2f}" for p in passes))
    for name, (value, unit) in metrics.items():
        print(f"perfbench metric {name} = {value:.6g} {unit} (cores={cores})")
    print(f"perfbench metric fail_frac = {failed / max(attempted, 1):.6g} "
          f"({failed}/{attempted} ops; failing ops: "
          f"{', '.join(sorted(set(failed_ops) | bad_by_check)) or 'none'})")
    for op, why in sorted(m["check_problems"].items()):
        print(f"perfbench check-failed {op}: {why}")
    for p in passes:
        for op, why in p.problems.items():
            print(f"perfbench op-failed {op}: {why}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark (one workload)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
    ):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = spark_cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    wl = WORKLOADS[args.workload]()
    try:
        m = measure(wl, args, cores, tmp)
        result = summarize(wl, args, cores, m)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
