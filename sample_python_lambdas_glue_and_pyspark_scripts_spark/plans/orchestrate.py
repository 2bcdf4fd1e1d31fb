"""End-to-end orchestrated run: the reference's whole Step Function as one
engine call (SURVEY.md §3.1).

Reference flow: S3 trigger → admission gate → decompress → transform
(validate/quarantine) → partitioned write → per-opco versioned DB load →
status roll-up → archive → notify. Here:

    run_pipeline(spark, RunConfig(...)) →
        classify file → ledger RUNNING + admission → staged read (gz-aware)
        → single-pass validate + quarantine → derive/cast
        → partitionBy(opco_id) parquet → per-opco VersionedCatalog load
        (dual-write rule from the ledger's running full exports)
        → ledger SUCCEEDED/FAILED with counts → optional archive.

Boundaries that were 8 Lambdas + Step Functions + Glue jobs in the
reference collapse into one Spark application; per-opco load failures
first RETRY with backoff (interval/attempts/multiplier knobs defaulting to
the reference's 3 s / 2 / x10 — etl_controller_step_function.json:42-51,
each retry recorded as a LOAD_RETRY ledger row) and only then are
isolated (try/except per opco) exactly like the reference's Map-state
Catch (etl_controller_step_function.json:23-67).

The run is bound by Spark jobs, not data, so it issues none it does not
need: the opcos to load come from the validation report, every read of
an engine-owned artifact (ledger, catalog, partitioned output, FUTURE
probe) passes its known schema instead of inferring it from parquet
footers, each catalog operation reads the catalog once into driver rows,
ledger/catalog rows are one-partition JVM literals (one job, one file
per write), and per-table row counts plus FUTURE's min(effective_date)
are observed on the ACTIVE/FUTURE appends themselves
(``DataFrame.observe``) rather than counted or re-read afterwards.
Each ledger read is one job (the ledger is read as one partition, so its
windows need no exchange): admission at the start of the run and the
running full exports at load time, where the reference reads them.
Each opco load reads the catalog once: ``load_opco`` registers the opco
if absent and loads from the rows that registration read or wrote,
afresh on every retry attempt.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.validation import ValidationReport
from ..operators.versioning import ValidationPolicy, VersionedCatalog
from ..session import ensure_runtime_confs
from ..sources.archive import archive_and_cleanup
from ..sources.readers import read_csv_staged
from .. import schemas as S
from .price_zone import run_price_zone_transform
from .run_ledger import RunLedger
from .runs import new_run_id


@dataclass
class RunConfig:
    input_path: str
    work_dir: str  # partitioned-output + catalog + ledger root
    active_opcos: list[str]
    file_name: str
    etl_timestamp: str
    file_type: str = "partial"  # 'partial' | 'full'
    max_concurrency: int = 2
    policy: ValidationPolicy = ValidationPolicy.FAIL
    archive_dir: str | None = None
    input_sep: str = ","
    # O1 Retry: the reference retries each per-opco load on failure
    # (etl_controller_step_function.json:42-51 — IntervalSeconds 3,
    # MaxAttempts 2, BackoffRate 10). Same knobs, same defaults:
    # attempts = 1 initial try + load_retry_attempts retries, sleeping
    # interval, interval*backoff, ... between them.
    load_retry_attempts: int = 2
    load_retry_interval_sec: float = 3.0
    load_retry_backoff: float = 10.0


@dataclass
class RunOutcome:
    execution_id: str
    status: str
    total_count: int
    valid_count: int
    invalid_count: int
    invalid_opcos: list
    loaded_opcos: list[str] = field(default_factory=list)
    failed_opcos: list[str] = field(default_factory=list)
    admitted: bool = True
    # opco -> repr(exception): the Map-state Catch's error cause, kept so
    # operators can tell a policy rejection from a storage failure
    failure_reasons: dict = field(default_factory=dict)
    # opco -> number of load attempts actually made (1 = first try
    # succeeded; >1 = the Retry state fired)
    load_attempts: dict = field(default_factory=dict)


def loadable_opcos(rep: ValidationReport) -> list[str]:
    """The opcos the partitioned write holds, read off the validation
    report: quarantine drops whole groups and nothing after it drops rows,
    so they are the valid groups with rows. A null opco never gets here
    (``member_of`` flags it invalid)."""
    return sorted(
        r[rep.group_col] for r in rep.matrix
        if r["__n"] > 0 and r[rep.group_col] not in rep.invalid_groups
    )


def run_pipeline(spark: SparkSession, cfg: RunConfig) -> RunOutcome:
    # the pipeline round-trips its own partitionBy output (and reads
    # nanos-timestamped inputs); enforce the contract confs on whatever
    # session the caller hands us
    ensure_runtime_confs(spark)
    ledger = RunLedger(spark, f"{cfg.work_dir}/ledger")
    catalog = VersionedCatalog(spark, f"{cfg.work_dir}/tables")
    execution_id = new_run_id()

    # admission (W1): insert RUNNING row, rank, bail out if over capacity
    received = ",".join(cfg.active_opcos) if cfg.file_type == "full" else ""
    ledger.record(
        cfg.file_name, cfg.etl_timestamp, execution_id, "RUNNING",
        file_type=cfg.file_type, received_opcos=received,
    )
    if not ledger.admit(execution_id, cfg.max_concurrency):
        ledger.record(cfg.file_name, cfg.etl_timestamp, execution_id, "WAITING",
                      file_type=cfg.file_type)
        return RunOutcome(execution_id, "WAITING", 0, 0, 0, [], admitted=False)

    try:
        raw = read_csv_staged(
            spark, cfg.input_path, S.PRICE_ZONE_STAGING_SCHEMA,
            sep=cfg.input_sep, repartition_gz=spark.sparkContext.defaultParallelism,
        )
        result = run_price_zone_transform(raw, cfg.active_opcos)
        rep = result.report

        # partitioned staging write (S5) — repartition keyed on opco_id
        out_path = f"{cfg.work_dir}/partitioned/{execution_id}"
        result.output.repartition("opco_id").write.partitionBy("opco_id").mode(
            "overwrite"
        ).parquet(out_path)

        # per-opco versioned load with failure isolation (O1 Map-state)
        written = spark.read.schema(result.output.schema).parquet(out_path)
        opcos = loadable_opcos(rep)
        running_exports = ledger.full_export_opcos()
        loaded, failed, reasons, attempts_map = [], [], {}, {}
        for opco in opcos:
            # O1 Retry then Catch, like the reference's Load Job state:
            # each failed attempt (while retries remain) appends a
            # LOAD_RETRY ledger row naming the opco, sleeps the
            # backed-off interval, and tries again; only exhaustion
            # lands in the Catch (failed + reason).
            attempt, delay = 0, cfg.load_retry_interval_sec
            while True:
                attempt += 1
                try:
                    catalog.load_opco(
                        written.filter(F.col("opco_id") == opco),
                        opco,
                        is_partial=(cfg.file_type != "full"),
                        running_export_opcos=running_exports,
                        policy=cfg.policy,
                    )
                    loaded.append(opco)
                    break
                except Exception as e:  # isolated, like the Map-state Catch
                    if attempt <= cfg.load_retry_attempts:
                        ledger.record(
                            cfg.file_name, cfg.etl_timestamp, execution_id,
                            "LOAD_RETRY", file_type=cfg.file_type,
                            received_opcos=opco,
                        )
                        if delay > 0:
                            import time as _time

                            _time.sleep(delay)
                        delay *= cfg.load_retry_backoff
                        continue
                    failed.append(opco)
                    reasons[opco] = repr(e)
                    break
            attempts_map[opco] = attempt

        status = "FAILED" if failed else "SUCCEEDED"
        ledger.record(
            cfg.file_name, cfg.etl_timestamp, execution_id, status,
            file_type=cfg.file_type, total_count=rep.total_count,
            valid_count=rep.valid_count, invalid_count=rep.invalid_count,
            received_opcos=",".join(opcos),
        )
        if cfg.archive_dir:
            try:
                archive_and_cleanup(spark, cfg.input_path, cfg.archive_dir,
                                    delete_source=False)
            except Exception as e:
                # the LOAD already happened and was recorded with its true
                # counts — an archive failure must not masquerade as a load
                # failure (a retry would double-append into ACTIVE tables).
                # Record a distinct status, keep the counts. But never
                # UPGRADE a failed load: FAILED must stay the latest
                # ledger word so the per-opco retry still happens.
                reasons["__archive__"] = repr(e)
                if status == "SUCCEEDED":
                    status = "ARCHIVE_FAILED"
                    ledger.record(
                        cfg.file_name, cfg.etl_timestamp, execution_id,
                        status, file_type=cfg.file_type,
                        total_count=rep.total_count,
                        valid_count=rep.valid_count,
                        invalid_count=rep.invalid_count,
                        received_opcos=",".join(opcos),
                    )
        return RunOutcome(
            execution_id, status, rep.total_count, rep.valid_count,
            rep.invalid_count, sorted(rep.invalid_groups, key=str),
            loaded, failed, failure_reasons=reasons,
            load_attempts=attempts_map,
        )
    except Exception:
        ledger.record(cfg.file_name, cfg.etl_timestamp, execution_id, "FAILED",
                      file_type=cfg.file_type)
        raise
