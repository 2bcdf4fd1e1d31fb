"""Steadiness report: run the benchmark repeatedly and summarize.

For each metric: median, first and third quartile
(``statistics.quantiles(values, n=4)``) and the spread, i.e. the
interquartile distance as a share of the median, beside the metric's
bound from ``BENCHMARK.json``. With ``--repeat 2`` or more, every seed is
run that many times and the report lists which metrics repeated exactly
for every seed; the deterministic Spark counters (jobs, shuffle bytes)
should.

    python3 perfbench/steadiness.py --workload pz_load --seeds 1 2 3 4 5
    python3 perfbench/steadiness.py --workload curation_build --seeds 1 2 --repeat 2 --trace 1

Each run is a separate ``run.py`` process, run one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    """One ``run.py`` process: its result and how long the process took."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"run failed (exit {proc.returncode}): {proc.stderr[-2000:]}")
    return json.loads(lines[-1]), time.perf_counter() - t0


def summarize(runs: list[tuple[int, dict]], bounds: dict[str, float],
              run_s: list[float]) -> list[str]:
    names = list(runs[0][1]["metrics"])
    out = [f"{'metric':32} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}"]
    for name in names:
        vals = [r["metrics"][name]["value"] for _, r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        out.append(
            f"{name:32} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f} "
            f"{'' if bound is None else bound:>6}"
        )
    by_seed: dict[int, list[dict]] = {}
    for seed, r in runs:
        by_seed.setdefault(seed, []).append(r)
    if any(len(rs) > 1 for rs in by_seed.values()):
        exact = [
            n for n in names
            if all(len({r["metrics"][n]["value"] for r in rs}) == 1 for rs in by_seed.values())
        ]
        out.append("repeated exactly for every seed: " + (", ".join(exact) or "none"))
        out.append("varied: " + (", ".join(n for n in names if n not in exact) or "none"))
    failed = sum(r["failed"] for _, r in runs)
    attempted = sum(r["attempted"] for _, r in runs)
    out.append(f"runs={len(runs)} ops failed {failed}/{attempted} "
               f"process seconds: median {statistics.median(run_s):.1f} max {max(run_s):.1f}")
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    runs, run_s = [], []
    for seed in a.seeds:
        for _ in range(a.repeat):
            res, took = run_once(a.workload, seed, seconds, a.trace)
            runs.append((seed, res))
            run_s.append(took)
            print(f"seed={seed} process_s={took:.1f} " + json.dumps(res), flush=True)
    print("\n".join(summarize(runs, bounds, run_s)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
