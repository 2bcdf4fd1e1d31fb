"""Run-ledger runtime: the engine's LOAD_JOB_EXECUTION_STATUS
(SURVEY.md §1.1 control tables, §2.9 O2/O8).

The reference keeps run state in MySQL with FOR UPDATE row locks and a
Teams/Datadog notifier
(/root/reference/src/AnalyzeEtlWaitStatusLambda/index.py:76-196,
 /root/reference/src/Notifier/index.py:114-261). The engine equivalent:
an append-only parquet event log; every derived view (current status,
admission ranking, roll-ups) is a query over it via operators/ledger.py.
Idempotency comes from the (file_name, etl_timestamp) key + latest-wins
semantics instead of row locks — append-only logs don't need them.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.ledger import admission_rank, idempotent_latest
from ..operators.util import literal_rows
from ..sources.promote import hadoop_fs

LEDGER_SCHEMA = StructType([
    StructField("file_name", StringType()),
    StructField("etl_timestamp", StringType()),
    StructField("execution_id", StringType()),
    StructField("status", StringType()),
    StructField("file_type", StringType()),
    StructField("total_count", LongType()),
    StructField("valid_count", LongType()),
    StructField("invalid_count", LongType()),
    StructField("received_opcos", StringType()),
    StructField("updated_at", LongType()),
])

# ``record`` folds the event files into one when there are this many, so
# the one-partition read of ``events`` stays one short task. Measured on
# one-row event files (4 vCPUs, local[32]): at 64 files a one-task read
# answers ``admit`` faster than the parallel read with its window
# exchanges, at 256 files slower, and at 5,000 files 1.8x slower.
COMPACT_AT_FILES = 64


@dataclass
class RunLedger:
    spark: SparkSession
    path: str
    notifiers: list[Callable[[dict], None]] = field(default_factory=list)

    # --- write side ------------------------------------------------------
    def record(
        self,
        file_name: str,
        etl_timestamp: str,
        execution_id: str,
        status: str,
        file_type: str = "unknown",
        total_count: int = 0,
        valid_count: int = 0,
        invalid_count: int = 0,
        received_opcos: str = "",
    ) -> None:
        """Append one status event + fire notifier hooks (O8: the metric
        names/values the reference emits, minus the webhook transport)."""
        row = {
            "file_name": file_name,
            "etl_timestamp": etl_timestamp,
            "execution_id": execution_id,
            "status": status,
            "file_type": file_type,
            "total_count": total_count,
            "valid_count": valid_count,
            "invalid_count": invalid_count,
            "received_opcos": received_opcos,
            "updated_at": time.time_ns(),
        }
        # one job, one file per event; ``_compact`` bounds the file count
        literal_rows(self.spark, [tuple(row.values())], LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(self.path)
        self._compact()
        for notify in self.notifiers:
            notify(dict(row))

    def _compact(self) -> None:
        """Fold the event files into one once there are
        ``COMPACT_AT_FILES`` of them (one job every that many events).

        Deletes exactly the files the fold read, so an event another
        writer appends meanwhile stays in its own file. A reader between
        the fold's write and its deletes sees the folded events twice;
        ``current`` keeps one row per run key, so every answer is the
        same."""
        fs, hpath = hadoop_fs(self.spark, self.path)
        if len(fs.globStatus(hpath(f"{self.path}/part-*"))) < COMPACT_AT_FILES:
            return
        ev = self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        files = ev.inputFiles()
        ev.coalesce(1).write.mode("append").parquet(self.path)
        for f in files:
            fs.delete(hpath(f), False)

    # --- read side -------------------------------------------------------
    def events(self) -> DataFrame:
        """Every event, as ONE partition. ``record`` keeps the ledger
        under ``COMPACT_AT_FILES`` files however many runs it holds, so a
        single task reads it, and every window over it — ``current``'s
        latest-per-key, the admission ranking — is satisfied by that one
        partition with no exchange: ``admit`` and ``full_export_opcos``
        run one job each (three and two with a shuffle per window)."""
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path).coalesce(1)

    def current(self) -> DataFrame:
        """Latest status per (file_name, etl_timestamp) run key — the
        reference's retry-dedup on exactly this key."""
        return idempotent_latest(
            self.events(), keys=["file_name", "etl_timestamp"], ts_col="updated_at"
        )

    def running(self) -> DataFrame:
        return self.current().filter(F.col("status") == "RUNNING")

    def admit(self, execution_id: str, max_concurrency: int) -> bool:
        """W1 admission: may ``execution_id`` run now?

        Rank RUNNING executions by (start event time, execution_id) and
        admit iff this execution's rank <= max_concurrency — the exact
        rank-and-compare of AnalyzeEtlWaitStatusLambda/index.py:99-139.
        """
        running = self.running().withColumnRenamed("updated_at", "start_time")
        ranked = admission_rank(running, max_concurrency, "start_time", "execution_id")
        mine = ranked.filter(F.col("execution_id") == execution_id).collect()
        if not mine:
            raise ValueError(f"execution {execution_id} has no RUNNING record")
        return bool(mine[0]["admitted"])

    def full_export_opcos(self) -> set[str]:
        """RECEIVED_OPCOS of RUNNING full exports — drives the dual-write
        rule (O5; reference load_job.py:252-274)."""
        rows = (
            self.running()
            .filter(F.col("file_type") == "full")
            .select("received_opcos")
            .collect()
        )
        out: set[str] = set()
        for r in rows:
            out |= {o for o in (r["received_opcos"] or "").split(",") if o}
        return out
