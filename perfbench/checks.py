"""Output checks. They run outside every timed region.

* Query ops: each result is compared with the query's ``oracle_sql()``
  on DuckDB over the same generated files, order-insensitively, with the
  row count, column set, type-kind lint and canonical value comparison of
  ``tools/check_correctness.py`` (imported, not copied).
* ``pz_load``: each ``RunOutcome`` is compared with counts derived from
  the generator's manifest, and the warm pass's tables and ledger are
  read back: ACTIVE/FUTURE row counts per opco and the final ledger
  status of both runs.
"""

from __future__ import annotations

import importlib.util
import os


def _oracle_tools(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(root: str, data_dir: str, results: dict) -> dict[str, str]:
    """``results`` maps op -> ``(columns, schema, rows)`` or an error
    string; returns ``{op: reason}`` for every op that does not match."""
    import duckdb

    import __spark_entry__ as entry

    cc = _oracle_tools(root)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    problems: dict[str, str] = {}
    for op, res in results.items():
        if isinstance(res, str):
            problems[op] = f"spark error: {res}"
            continue
        if op not in oracles:
            problems[op] = "no oracle_sql() entry"
            continue
        cols, schema, rows = res
        try:
            rel = con.sql(oracles[op])
            ocols, otypes, orows = list(rel.columns), list(rel.types), rel.fetchall()
        except Exception as exc:  # noqa: BLE001 — isolate per op
            problems[op] = f"duckdb error: {exc}"[:300]
            continue
        msgs = []
        if len(rows) != len(orows):
            msgs.append(f"rowcount {len(rows)} vs oracle {len(orows)}")
        if sorted(cols) != sorted(ocols):
            msgs.append(f"schema {sorted(cols)} vs {sorted(ocols)}")
        msgs += cc.dtype_lint(schema, ocols, otypes)
        if not msgs and cc.canon(rows, cols) != cc.canon(orows, ocols):
            msgs.append("values differ")
        if msgs:
            problems[op] = "; ".join(msgs)[:300]
    con.close()
    return problems


def _expected(manifest: dict, kind: str) -> dict:
    per_opco = manifest["files"][kind]["rows_per_opco"]
    bad = set(manifest["quarantined"])
    valid = sum(n for o, n in per_opco.items() if o not in bad)
    return {
        "status": "SUCCEEDED",
        "total_count": sum(per_opco.values()),
        "valid_count": valid,
        "invalid_count": sum(per_opco.values()) - valid,
        "invalid_opcos": sorted(bad),
        "loaded_opcos": sorted(o for o in per_opco if o not in bad),
        "failed_opcos": [],
    }


def outcome_problem(manifest: dict, kind: str, out) -> str | None:
    """Mismatch between a ``RunOutcome`` and the manifest, or None."""
    want = _expected(manifest, kind)
    got = {k: getattr(out, k) for k in want}
    got["invalid_opcos"] = sorted(got["invalid_opcos"], key=str)
    got["loaded_opcos"] = sorted(got["loaded_opcos"])
    bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    return f"outcome mismatch (got, want): {bad}"[:300] if bad else None


def check_price_zone_tables(spark, manifest: dict, work_dir: str) -> dict[str, str]:
    """After partial then full: ACTIVE holds the partial file's rows of
    each loaded opco, FUTURE the full file's, and both ledger runs end
    SUCCEEDED."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.versioning import (
        VersionedCatalog,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.run_ledger import (
        RunLedger,
    )

    problems: dict[str, str] = {}
    try:
        cat = VersionedCatalog(spark, f"{work_dir}/tables")
        bad = set(manifest["quarantined"])
        for kind, version in (("partial", "ACTIVE"), ("full", "FUTURE")):
            want = {
                o: n
                for o, n in manifest["files"][kind]["rows_per_opco"].items()
                if o not in bad
            }
            got = {
                o: spark.read.parquet(cat.table_path(cat.table_name(o, version))).count()
                for o in want
            }
            if got != want:
                problems[f"{kind}:{version}"] = f"rows per opco {got} vs {want}"[:300]
        status = {
            r["file_name"]: r["status"]
            for r in RunLedger(spark, f"{work_dir}/ledger").current().collect()
        }
        want_status = {"prices_partial.csv": "SUCCEEDED", "prices_full.csv": "SUCCEEDED"}
        if status != want_status:
            problems["ledger"] = f"final status {status} vs {want_status}"
    except Exception as exc:  # noqa: BLE001 — a broken load is a failed check
        problems["tables"] = f"{type(exc).__name__}: {exc}"[:300]
    return problems
