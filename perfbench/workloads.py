"""The benchmark's workloads and the tracing that measures their layers.

A workload is a list of *ops* run as one *pass*:

* ``curation_build``: an op is one contract query,
  ``queries()[name](spark, dir)`` built and then forced with a ``noop``
  write, as ``bench.py`` forces it;
* ``pz_load``: an op is one ``plans.orchestrate.run_pipeline`` call; a
  pass is a partial load then a full load into an empty work dir.

Untraced passes call the package and nothing else. Traced passes measure
each layer from outside it: a job group around each phase or layer call,
wall time around it, and the group's counters read from Spark's status
store afterwards (``counters.StatusReader``). For ``pz_load`` the layer
calls are the package's public functions, wrapped for the duration of the
traced pass only (``Spans.patched``).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from counters import GroupCounters, StatusReader, covered_s

CURATION_QUERIES = ["minhash_estimate_report", "kmeans_clusters"]

# Job group ids are unique for the whole run: the status store keeps every
# group's jobs, so a traced pass that reused an earlier pass's id would
# read both passes' counters.
_GROUP_IDS = itertools.count()


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class PassResult:
    wall_s: float
    op_s: list[float]
    failed_ops: list[str]
    layers: dict[str, float] = field(default_factory=dict)
    problems: dict[str, str] = field(default_factory=dict)  # op -> reason


class Groups:
    """Job groups for one traced pass: opens a uniquely named group per
    phase and reads every group's counters when the pass is over."""

    def __init__(self, spark, reader: StatusReader):
        self.sc = spark.sparkContext
        self.reader = reader
        self.opened: list[tuple[str, str]] = []  # (label, group id)

    @contextlib.contextmanager
    def group(self, label: str):
        gid = f"perfbench-{next(_GROUP_IDS)}-{label}"
        self.opened.append((label, gid))
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def read(self) -> dict[str, GroupCounters]:
        """Counters summed per label."""
        out: dict[str, GroupCounters] = {}
        for label, gid in self.opened:
            out.setdefault(label, GroupCounters()).add(self.reader.read_group(gid))
        return out


def spark_layer(total: GroupCounters, wall_s: float, lo: float, cores: int) -> dict:
    """The Spark-runtime layer metrics of one traced pass."""
    return {
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.task_s": total.task_s,
        "spark.core_busy_frac": total.task_s / (wall_s * cores),
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "spark.input_bytes": total.input_bytes,
        "driver.nojob_s": wall_s - covered_s(total.intervals, lo, lo + wall_s),
    }


class QueryWorkload:
    """Contract queries over generated tables (see ``gen.gen_tables``)."""

    def __init__(self, name: str, rows: int, ops: list[str], warm_passes: int):
        self.name, self.rows, self.ops = name, rows, ops
        self.warm_passes = warm_passes
        self.results: dict[str, object] = {}  # op -> (cols, schema, rows) | error

    def gen_args(self, seed: int, out: str) -> list[str]:
        return ["tables", "--seed", str(seed), "--rows", str(self.rows), "--out", out]

    def bind(self, spark, manifest: dict, data_dir: str, work_root: str, cores: int):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.cores = spark, data_dir, cores
        self.queries = entry.queries()
        self.seed = manifest["seed"]
        self.table_rows = manifest["rows"]
        # every generated table is read by one of the ops
        self.input_rows = sum(self.table_rows.values())

    def warm(self) -> None:
        """The first warm pass: every op once, collecting its result for
        the output check."""
        for op in self.ops:
            try:
                df = self.queries[op](self.spark, self.data_dir)
                self.results[op] = (df.columns, df.schema, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 — isolate per op
                self.results[op] = f"{type(exc).__name__}: {exc}"[:300]

    def run_pass(self, pass_no: int, groups: Groups | None) -> PassResult:
        op_s, failed, problems = [], [], {}
        lo, t0 = time.time(), time.perf_counter()
        layers = {"entry.construct_s": 0.0, "entry.plan_s": 0.0, "entry.exec_s": 0.0,
                  "entry.construct_self_s": 0.0}
        for op in self.ops:
            t = time.perf_counter()
            try:
                if groups is None:
                    force(self.queries[op](self.spark, self.data_dir))
                else:
                    self._traced_op(op, groups, layers)
            except Exception as exc:  # noqa: BLE001 — isolate per op
                failed.append(op)
                problems[op] = f"{type(exc).__name__}: {exc}"[:300]
            op_s.append(time.perf_counter() - t)
        wall = time.perf_counter() - t0
        if groups is not None:
            layers.update(self._layer_counts(groups, wall, lo))
        return PassResult(wall, op_s, failed, layers, problems)

    def _traced_op(self, op: str, groups: Groups, layers: dict) -> None:
        lo = time.time()
        t = time.perf_counter()
        with groups.group(f"{op}:construct") as gid:
            df = self.queries[op](self.spark, self.data_dir)
        construct = time.perf_counter() - t
        c = groups.reader.read_group(gid)
        layers["entry.construct_s"] += construct
        layers["entry.construct_self_s"] += construct - covered_s(
            c.intervals, lo, lo + construct
        )
        t = time.perf_counter()
        with groups.group(f"{op}:plan"):
            df._jdf.queryExecution().executedPlan()
        layers["entry.plan_s"] += time.perf_counter() - t
        t = time.perf_counter()
        with groups.group(f"{op}:exec"):
            force(df)
        layers["entry.exec_s"] += time.perf_counter() - t

    def _layer_counts(self, groups: Groups, wall: float, lo: float) -> dict:
        by_label = groups.read()
        total, jobs = GroupCounters(), {"construct": 0, "exec": 0}
        for label, c in by_label.items():
            total.add(c)
            phase = label.rsplit(":", 1)[1]
            if phase in jobs:
                jobs[phase] += c.jobs
        return {
            "entry.construct_jobs": jobs["construct"],
            "entry.exec_jobs": jobs["exec"],
            **spark_layer(total, wall, lo, self.cores),
        }

    def check(self, root: str) -> dict[str, str]:
        """Compare each warm-pass result with its ``oracle_sql()`` on
        DuckDB over the same files; return ``{op: reason}`` per failure."""
        import checks

        return checks.check_queries(root, self.data_dir, self.results)

    def inputs(self) -> dict:
        return {"seed": self.seed, "rows": self.table_rows}


class Spans:
    """Wall-time spans around wrapped layer functions, nested by call
    order. A span may also open a job group so its Spark jobs can be
    attributed to it."""

    def __init__(self, groups: Groups):
        self.groups = groups
        # (name, seconds, depth); depth 1 = called directly from the op
        self.done: list[tuple[str, float, int]] = []
        self.calls: dict[str, int] = {}
        self._depth = 0

    def wrap(self, fn, name: str, group: bool = False):
        spans = self

        def traced(*args, **kwargs):
            spans.calls[name] = spans.calls.get(name, 0) + 1
            spans._depth += 1
            depth = spans._depth
            cm = spans.groups.group(name) if group else contextlib.nullcontext()
            t = time.perf_counter()
            try:
                with cm:
                    return fn(*args, **kwargs)
            finally:
                spans._depth -= 1
                spans.done.append((name, time.perf_counter() - t, depth))

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Install ``wrap`` on each ``(owner, attribute, span, group)``
        for the duration of the block."""
        saved = []
        for owner, attr, name, group in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name, group))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def total(self, name: str) -> float:
        return sum(s for n, s, _ in self.done if n == name)

    def top_level(self) -> float:
        """Seconds inside spans called directly from the op."""
        return sum(s for _, s, d in self.done if d == 1)


class PriceZoneLoad:
    """The price_zone pipeline end to end: partial then full load."""

    name = "pz_load"
    ops = ["partial", "full"]

    def __init__(self, rows: int, opcos: int, warm_passes: int):
        self.rows, self.n_opcos = rows, opcos
        self.warm_passes = warm_passes

    def gen_args(self, seed: int, out: str) -> list[str]:
        return ["price_zone", "--seed", str(seed), "--rows", str(self.rows),
                "--opcos", str(self.n_opcos), "--out", out]

    def bind(self, spark, manifest: dict, data_dir: str, work_root: str, cores: int):
        self.spark, self.manifest, self.cores = spark, manifest, cores
        self.work_root = work_root
        self.input_rows = sum(f["rows"] for f in manifest["files"].values())
        self.input_bytes = sum(f["bytes"] for f in manifest["files"].values())

    def _work_dir(self, pass_no: int) -> str:
        return os.path.join(self.work_root, f"pass{pass_no}")

    def _config(self, kind: str, pass_no: int):
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.orchestrate import (
            RunConfig,
        )

        return RunConfig(
            input_path=self.manifest["files"][kind]["path"],
            work_dir=self._work_dir(pass_no),
            active_opcos=self.manifest["active_opcos"],
            file_name=f"prices_{kind}.csv",
            etl_timestamp=f"pass{pass_no}",
            file_type=kind,
        )

    def warm(self) -> None:
        """The first warm pass; its work dir is kept for ``check``."""
        self.warm_pass = self.run_pass(-1, None, keep=True)

    def run_pass(self, pass_no: int, groups: Groups | None, keep: bool = False) -> PassResult:
        import checks
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans import orchestrate

        work = self._work_dir(pass_no)
        shutil.rmtree(work, ignore_errors=True)
        op_s, failed, problems, outcomes = [], [], {}, []
        spans = Spans(groups) if groups is not None else None
        lo, t0 = time.time(), time.perf_counter()
        with spans.patched(self._targets()) if spans else contextlib.nullcontext():
            for kind in self.ops:
                cfg = self._config(kind, pass_no)
                t = time.perf_counter()
                try:
                    if groups is None:
                        out = orchestrate.run_pipeline(self.spark, cfg)
                    else:
                        with groups.group(f"run_pipeline:{kind}"):
                            out = orchestrate.run_pipeline(self.spark, cfg)
                    outcomes.append(out)
                    problem = checks.outcome_problem(self.manifest, kind, out)
                except Exception as exc:  # noqa: BLE001 — isolate per op
                    problem = f"{type(exc).__name__}: {exc}"[:300]
                op_s.append(time.perf_counter() - t)
                if problem:
                    failed.append(kind)
                    problems[kind] = problem
        wall = time.perf_counter() - t0
        layers = {}
        if groups is not None:
            layers = self._layers(groups, spans, wall, lo, sum(op_s), outcomes)
            layers["sources.files_written"] = sum(
                f.endswith(".parquet") for _, _, fs in os.walk(work) for f in fs
            )
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
        return PassResult(wall, op_s, failed, layers, problems)

    def _targets(self):
        from pyspark.sql import DataFrameWriter

        from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.versioning import (
            VersionedCatalog,
        )
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans import orchestrate
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.run_ledger import (
            RunLedger,
        )
        from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources import promote

        return [
            (orchestrate, "run_price_zone_transform", "price_zone.transform", True),
            (VersionedCatalog, "load_opco", "versioning.load_opco", True),
            (VersionedCatalog, "init_opco_if_absent", "versioning.init_opco", True),
            (VersionedCatalog, "table_name", "versioning.table_name", False),
            (VersionedCatalog, "table_is_empty", "versioning.table_is_empty", False),
            (promote, "promote_swap", "promote.swap", False),
            (DataFrameWriter, "parquet", "writer.parquet", False),
            (RunLedger, "record", "run_ledger.record", False),
            (RunLedger, "admit", "run_ledger.admit", False),
            (RunLedger, "full_export_opcos", "run_ledger.full_export_opcos", False),
        ]

    def _layers(self, groups: Groups, spans: Spans, wall: float, lo: float,
                ops_s: float, outcomes: list) -> dict:
        by_label = groups.read()
        total = GroupCounters()
        for c in by_label.values():
            total.add(c)
        empty = GroupCounters()
        opco_jobs = (by_label.get("versioning.load_opco", empty).jobs
                     + by_label.get("versioning.init_opco", empty).jobs)
        loads = spans.calls.get("versioning.load_opco", 0)
        attempts = sum(sum(o.load_attempts.values()) for o in outcomes)
        loaded = sum(len(o.loaded_opcos) for o in outcomes)
        cnt = spans.calls.get
        return {
            "price_zone.transform_s": spans.total("price_zone.transform"),
            "price_zone.transform_jobs": by_label.get("price_zone.transform", empty).jobs,
            "versioning.load_opco_s": spans.total("versioning.load_opco"),
            "versioning.load_opco_calls": loads,
            "versioning.init_opco_s": spans.total("versioning.init_opco"),
            "versioning.table_lookup_calls": cnt("versioning.table_name", 0)
            + cnt("versioning.table_is_empty", 0),
            "versioning.attempts_per_load": attempts / loaded if loaded else 0.0,
            "spark.jobs_per_opco": opco_jobs / loaded if loaded else 0.0,
            "promote.swap_s": spans.total("promote.swap"),
            "promote.swap_calls": cnt("promote.swap", 0),
            "writer.parquet_s": spans.total("writer.parquet"),
            "writer.parquet_calls": cnt("writer.parquet", 0),
            "sources.bytes_written": total.output_bytes,
            "sources.write_amp": total.output_bytes / self.input_bytes,
            "run_ledger.record_s": spans.total("run_ledger.record"),
            "run_ledger.record_calls": cnt("run_ledger.record", 0),
            "run_ledger.admit_s": spans.total("run_ledger.admit"),
            "orchestrate.self_s": ops_s - spans.top_level(),
            **spark_layer(total, wall, lo, self.cores),
        }

    def check(self, root: str) -> dict[str, str]:
        """Deep check of the warm pass: outcomes, per-opco ACTIVE/FUTURE
        row counts and the final ledger status."""
        import checks

        problems = dict(self.warm_pass.problems)
        problems.update(checks.check_price_zone_tables(
            self.spark, self.manifest, self._work_dir(-1)))
        shutil.rmtree(self._work_dir(-1), ignore_errors=True)
        return problems

    def inputs(self) -> dict:
        return {
            "seed": self.manifest["seed"],
            "rows": self.input_rows,
            "rows_per_opco": {
                k: f["rows_per_opco"] for k, f in self.manifest["files"].items()
            },
        }


WORKLOADS = {
    # warm_passes: passes run before timing, the first one cold. The
    # curation queries' large plans keep getting faster for six to ten
    # passes while the JIT compiles Spark's planner code; with five warm
    # passes the measured ones still fell pass by pass. pz_load's second
    # pass is 10-25% slower than later ones, by an amount that varies from
    # run to run, so it is a warm pass too.
    "curation_build": lambda: QueryWorkload(
        "curation_build", 500, CURATION_QUERIES, warm_passes=7
    ),
    "pz_load": lambda: PriceZoneLoad(rows=8_000, opcos=3, warm_passes=2),
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
