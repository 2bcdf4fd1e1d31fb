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
        # one job, one file per event: every later read lists them all
        literal_rows(self.spark, [tuple(row.values())], LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(self.path)
        for notify in self.notifiers:
            notify(dict(row))

    # --- read side -------------------------------------------------------
    def events(self) -> DataFrame:
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

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
