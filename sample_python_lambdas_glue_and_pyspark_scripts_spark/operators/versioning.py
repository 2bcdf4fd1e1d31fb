"""ACTIVE/FUTURE versioned-load planner + runtime (SURVEY.md §2.8, §7.1 M4).

The reference maintains two versions of each per-opco target table —
ACTIVE (serving) and FUTURE (being built by a full export) — in a
PRICE_ZONE_MASTER_DATA catalog, and decides per load which tables to
write (/root/reference/src/price_zone/load_job.py:304-368):

Partial load:
  1. always load ACTIVE;
  2. FUTURE empty  → also load FUTURE iff a full export is in flight AND
     this opco is in its RECEIVED_OPCOS (load_job.py:326-344);
  3. FUTURE non-empty → also load FUTURE (load_job.py:346-350).
Full export:
  4. FUTURE empty → load FUTURE, record min(EFFECTIVE_DATE) in the
     catalog (load_job.py:355-366);
  5. FUTURE non-empty → soft-validation knob (load_job.py:285-301):
     0=FAIL raise, 1=SKIP load, 2=FORCE load FUTURE (no date update).

``plan_load`` is the pure decision function; ``VersionedCatalog`` is the
engine runtime: a parquet-backed catalog + per-version parquet tables,
with a swap operation promoting FUTURE → ACTIVE after a full export.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..sources import promote
from .util import literal_rows


class ValidationPolicy(int, Enum):
    """O4: the reference's 0/1/2 knob (load_job.py:285-301)."""

    FAIL = 0
    SKIP = 1
    FORCE = 2


class ETLLoadError(RuntimeError):
    """Reference: ETLLoadJobException (load_job.py:292)."""


@dataclass(frozen=True)
class LoadDecision:
    write_active: bool
    write_future: bool
    record_effective_date: bool
    proceed: bool
    reason: str


def plan_load(
    *,
    is_partial: bool,
    future_empty: bool,
    full_export_running: bool = False,
    opco_in_running_export: bool = False,
    policy: ValidationPolicy = ValidationPolicy.FAIL,
) -> LoadDecision:
    """The exact decision tree of find_tables_to_load (load_job.py:304-368)."""
    if is_partial:
        if future_empty:
            dual = full_export_running and opco_in_running_export
            return LoadDecision(
                write_active=True,
                write_future=dual,
                record_effective_date=False,
                proceed=True,
                reason="partial → ACTIVE"
                + (" + FUTURE (full export in flight for opco)" if dual else ""),
            )
        return LoadDecision(
            write_active=True,
            write_future=True,
            record_effective_date=False,
            proceed=True,
            reason="partial → ACTIVE + FUTURE (future table non-empty)",
        )
    # full export
    if future_empty:
        return LoadDecision(
            write_active=False,
            write_future=True,
            record_effective_date=True,
            proceed=True,
            reason="full export → FUTURE + effective-date catalog update",
        )
    if policy == ValidationPolicy.FAIL:
        raise ETLLoadError("full load and future table is not empty")
    if policy == ValidationPolicy.SKIP:
        return LoadDecision(
            write_active=False,
            write_future=False,
            record_effective_date=False,
            proceed=True,
            reason="full export, FUTURE non-empty → skipped (policy=SKIP)",
        )
    return LoadDecision(
        write_active=False,
        write_future=True,
        record_effective_date=False,
        proceed=True,
        reason="full export, FUTURE non-empty → forced (policy=FORCE)",
    )


CATALOG_SCHEMA = StructType([
    StructField(c, StringType())
    for c in ("opco_id", "table_type", "table_name", "effective_date")
])
_CatalogRow = Row(*CATALOG_SCHEMA.fieldNames())


@dataclass
class LoadResult:
    decision: LoadDecision
    rows_written_active: int
    rows_written_future: int
    effective_date: str | None


class VersionedCatalog:
    """Parquet-backed ACTIVE/FUTURE catalog + table runtime.

    Layout: ``root/_catalog`` (parquet, ``CATALOG_SCHEMA``) and
    ``root/<table_name>/`` parquet data dirs. Data writes append; the
    catalog is rewritten atomically per update (small — one row per opco
    x version, bounded like the reference's master-data table), so each
    catalog operation reads it ONCE into driver rows and rewrites from
    those rows.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog_path = f"{self.root}/_catalog"

    # --- catalog ---------------------------------------------------------
    def init_opco(self, opco: str) -> None:
        self._write_catalog(_with_opco(self._read_catalog(), opco))

    def init_opco_if_absent(self, opco: str) -> list[Row]:
        """Register ``opco`` unless the catalog has it; returns the catalog
        rows as they stand afterwards, for ``load_opco``."""
        rows = self._read_catalog()
        if not any(r["opco_id"] == opco for r in rows):
            rows = _with_opco(rows, opco)
            self._write_catalog(rows)
        return rows

    def _read_catalog(self) -> list[Row]:
        """The catalog rows; ``[]`` only when no catalog was ever written.

        A catalog that exists but cannot be read raises: reading it as
        absent would rewrite it holding only the caller's opco."""
        # recover a crashed swap BEFORE reading: otherwise a run that
        # died between the two renames reads "no catalog" and the next
        # write rebuilds it without every other opco's rows
        promote.recover_backup(self.spark, self.catalog_path, error_cls=ETLLoadError)
        if not _exists(self.spark, self.catalog_path):
            return []
        return self.spark.read.schema(CATALOG_SCHEMA).parquet(self.catalog_path).collect()

    def _write_catalog(self, rows: list[tuple]) -> None:
        # write-then-rename swap via the shared checked-rename helper
        # (sources/promote.py): the live path is only ever a complete
        # catalog, the old catalog survives as backup until the new one
        # is promoted, and a crash between the renames is recovered on
        # the next write (the engine is single-writer, SURVEY §4.3)
        df = literal_rows(self.spark, rows, CATALOG_SCHEMA)
        promote.promote_swap(
            self.spark,
            self.catalog_path,
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
            error_cls=ETLLoadError,
        )

    def table_name(self, opco: str, table_type: str) -> str:
        return _lookup(self._read_catalog(), opco, table_type)

    def table_path(self, table_name: str) -> str:
        return f"{self.root}/{table_name}"

    def table_is_empty(self, table_name: str, schema: StructType | None = None) -> bool:
        """check_table_is_empty (load_job.py:193): LIMIT-1 probe. A table
        never written is empty; one that exists but cannot be read
        raises. ``schema`` (the table's, when the caller knows it) skips
        the parquet footer inference job."""
        path = self.table_path(table_name)
        if not _exists(self.spark, path):
            return True
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return not reader.parquet(path).limit(1).collect()

    def _append(self, df: DataFrame, table_name: str, *metrics: Column) -> dict:
        """Append ``df`` to a table; returns the write's own observed
        metrics: ``n`` rows written plus any of ``metrics``."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n"), *metrics).write.mode(
            "append"
        ).parquet(self.table_path(table_name))
        return obs.get

    # --- load ------------------------------------------------------------
    def load_opco(
        self,
        df: DataFrame,
        opco: str,
        *,
        is_partial: bool,
        running_export_opcos: set[str] | None = None,
        policy: ValidationPolicy = ValidationPolicy.FAIL,
        effective_date_col: str = "effective_date",
    ) -> LoadResult:
        """The per-opco load of find_tables_to_load, on parquet tables.

        Registers ``opco`` first if the catalog lacks it; the rows that
        registration read or wrote serve the whole load, so the catalog
        is read once."""
        rows = self.init_opco_if_absent(opco)
        active = _lookup(rows, opco, "ACTIVE")
        future = _lookup(rows, opco, "FUTURE")
        running = running_export_opcos or set()
        decision = plan_load(
            is_partial=is_partial,
            future_empty=self.table_is_empty(future, df.schema),
            full_export_running=bool(running),
            opco_in_running_export=opco in running,
            policy=policy,
        )
        # counts ride the writes (DataFrame.observe on each append): every
        # table's count is what its own write wrote, with no count() job,
        # even if the upstream plan is non-deterministic
        n_active = n_future = 0
        eff: str | None = None
        if decision.write_active:
            n_active = self._append(df, active)["n"]
        if decision.write_future:
            # min(EFFECTIVE_DATE) of the freshly-built FUTURE table
            # (load_job.py:238,361-363). plan_load records the date only
            # when FUTURE was empty, so the min over this append IS the
            # min over the table
            eff_min = F.date_format(F.min(effective_date_col), "yyyy-MM-dd HH:mm:ss")
            m = self._append(
                df, future, *([eff_min.alias("eff")] if decision.record_effective_date else [])
            )
            n_future, eff = m["n"], m.get("eff")
        if decision.record_effective_date:
            self._write_catalog([
                (*r[:3], eff) if (r["opco_id"], r["table_type"]) == (opco, "FUTURE") else r
                for r in rows
            ])
        return LoadResult(decision, n_active, n_future, eff)

    # --- swap ------------------------------------------------------------
    def swap_active_future(self, opco: str) -> None:
        """Promote FUTURE → ACTIVE after a completed full export: the
        catalog pointers swap atomically (names, not data, move) and the
        new FUTURE (old ACTIVE) is truncated for the next export cycle."""
        rows = self._read_catalog()
        old_active = _lookup(rows, opco, "ACTIVE")
        flip = {"ACTIVE": "FUTURE", "FUTURE": "ACTIVE"}
        self._write_catalog([
            (r[0], flip[r[1]], *r[2:]) if r["opco_id"] == opco else r for r in rows
        ])
        # truncate the demoted table (now FUTURE) for the next cycle
        path = self.table_path(old_active)
        fs, hpath = promote.hadoop_fs(self.spark, path)
        fs.delete(hpath(path), True)


def _with_opco(rows: list[Row], opco: str) -> list[Row]:
    """Catalog rows with ``opco`` (re)registered: fresh ACTIVE/FUTURE
    table names, no effective date."""
    return [r for r in rows if r["opco_id"] != opco] + [
        _CatalogRow(opco, "ACTIVE", f"price_zone_{opco}_a", None),
        _CatalogRow(opco, "FUTURE", f"price_zone_{opco}_b", None),
    ]


def _lookup(rows: list[Row], opco: str, table_type: str) -> str:
    """S8 analog over the catalog rows (load_job.py:163-181)."""
    for r in rows:
        if r["opco_id"] == opco and r["table_type"] == table_type:
            return r["table_name"]
    raise ETLLoadError(f"no {table_type} table registered for opco {opco}")


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = promote.hadoop_fs(spark, path)
    return fs.exists(hpath(path))
