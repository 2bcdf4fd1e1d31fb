"""End-to-end orchestrated-run test: CSV in → quarantine → partitioned
write → versioned per-opco load → ledger close-out (SURVEY.md §3.1)."""

import shutil
import tempfile

import pytest

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.versioning import (
    VersionedCatalog,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.orchestrate import (
    RunConfig,
    RunOutcome,
    run_pipeline,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.run_ledger import RunLedger


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="orch-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


CSV = (
    "co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm\n"
    "019,104612,5,1234567,2020-08-06 00:00:00\n"
    "019,104613,4,1234567,2020-08-07 00:00:00\n"
    "020,104614,9,1234568,2020-08-06 00:00:00\n"   # price_zone 9 → 020 quarantined
    "021,104615,3,1234569,2020-08-06 00:00:00\n"
    "022,104616,2,1234570,2020-08-06 00:00:00\n"   # 022 not active → quarantined
)


def test_partial_run_end_to_end(spark, workdir):
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)

    cfg = RunConfig(
        input_path=inp,
        work_dir=f"{workdir}/engine",
        active_opcos=["019", "020", "021"],
        file_name="ctt_prices.csv",
        etl_timestamp="t1",
        file_type="partial",
        archive_dir=f"{workdir}/archive",
    )
    out = run_pipeline(spark, cfg)
    assert isinstance(out, RunOutcome)
    assert out.status == "SUCCEEDED"
    assert out.total_count == 5
    assert out.valid_count == 3          # 019 x2 + 021
    assert out.invalid_count == 2        # 020 (range), 022 (inactive)
    assert set(out.invalid_opcos) == {"020", "022"}
    assert out.loaded_opcos == ["019", "021"] and out.failed_opcos == []

    # versioned tables: partial load → ACTIVE only
    cat = VersionedCatalog(spark, f"{workdir}/engine/tables")
    active_019 = cat.table_name("019", "ACTIVE")
    assert spark.read.parquet(cat.table_path(active_019)).count() == 2
    assert cat.table_is_empty(cat.table_name("019", "FUTURE"))

    # ledger closed out with counts
    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    cur = lg.current().collect()
    assert len(cur) == 1 and cur[0]["status"] == "SUCCEEDED"
    assert cur[0]["valid_count"] == 3

    # archive populated, source retained
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.archive import (
        list_files,
    )
    assert len(list_files(spark, f"{workdir}/archive")) == 1


def test_full_export_then_partial_dual_writes(spark, workdir):
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write("co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm\n"
                "019,104612,5,1234567,2020-08-06 00:00:00\n")

    base = dict(
        input_path=inp,
        work_dir=f"{workdir}/engine",
        active_opcos=["019"],
    )
    # full export loads FUTURE and stays RUNNING?  No — completes; but a
    # SECOND run arriving while a full export is RUNNING uses the dual rule.
    # Simulate: record a RUNNING full export in the ledger first.
    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    lg.record("wtp_full.csv", "t0", "e-full", "RUNNING", file_type="full",
              received_opcos="019")

    out = run_pipeline(
        spark,
        RunConfig(**base, file_name="ctt_p.csv", etl_timestamp="t1",
                  file_type="partial", max_concurrency=5),
    )
    assert out.status == "SUCCEEDED"
    cat = VersionedCatalog(spark, f"{workdir}/engine/tables")
    # dual write: ACTIVE and FUTURE both loaded (full export in flight)
    assert spark.read.parquet(
        cat.table_path(cat.table_name("019", "ACTIVE"))).count() == 1
    assert spark.read.parquet(
        cat.table_path(cat.table_name("019", "FUTURE"))).count() == 1


def test_admission_blocks_over_capacity(spark, workdir):
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write("co_nbr,supc,prc_zone,cust_nbr,eff_from_dttm\n"
                "019,104612,5,1234567,2020-08-06 00:00:00\n")
    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    lg.record("f1", "t1", "e1", "RUNNING")
    lg.record("f2", "t2", "e2", "RUNNING")

    out = run_pipeline(
        spark,
        RunConfig(input_path=inp, work_dir=f"{workdir}/engine",
                  active_opcos=["019"], file_name="f3", etl_timestamp="t3",
                  file_type="partial", max_concurrency=2),
    )
    assert out.status == "WAITING" and out.admitted is False


def test_run_pipeline_survives_inference_enabled_session(spark, workdir):
    """A caller session with partition-value inference ON (the vanilla
    default) must not corrupt numeric-string opco ids on the partitioned
    round-trip — run_pipeline enforces the contract confs itself."""
    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    spark.conf.set(conf, "true")
    try:
        out = run_pipeline(spark, RunConfig(
            input_path=inp, work_dir=f"{workdir}/engine",
            active_opcos=["019", "020", "021"], file_name="ctt_x.csv",
            etl_timestamp="t9", file_type="partial",
        ))
    finally:
        spark.conf.set(conf, "false")
    assert out.status == "SUCCEEDED"
    assert out.loaded_opcos == ["019", "021"]  # strings, not ints


def test_archive_failure_keeps_load_status_and_counts(spark, workdir):
    """Archive failure after a successful load must surface as
    ARCHIVE_FAILED with the true counts — never as a FAILED load (which
    would invite a double-loading retry)."""
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    # a directory nested under a regular FILE: mkdirs raises on local FS
    bad_archive = f"{inp}/nested"

    out = run_pipeline(spark, RunConfig(
        input_path=inp, work_dir=f"{workdir}/engine",
        active_opcos=["019", "020", "021"], file_name="ctt_y.csv",
        etl_timestamp="t10", file_type="partial", archive_dir=bad_archive,
    ))
    assert out.status == "ARCHIVE_FAILED"
    assert out.loaded_opcos == ["019", "021"]
    assert out.total_count == 5 and out.valid_count == 3
    assert "__archive__" in out.failure_reasons

    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    rec = lg.events().filter("file_name = 'ctt_y.csv'").orderBy(
        "updated_at", ascending=False).first()
    assert rec["status"] == "ARCHIVE_FAILED"
    assert rec["total_count"] == 5 and rec["valid_count"] == 3


def test_archive_failure_never_upgrades_failed_load(spark, workdir, monkeypatch):
    """Load failure + archive failure: FAILED must remain the latest
    ledger word (the per-opco retry is still needed) — ARCHIVE_FAILED
    only ever replaces SUCCEEDED."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        versioning as V,
    )

    orig = V.VersionedCatalog.load_opco

    def flaky(self, df, opco, *a, **k):
        if opco == "021":
            raise RuntimeError("storage down")
        return orig(self, df, opco, *a, **k)

    monkeypatch.setattr(V.VersionedCatalog, "load_opco", flaky)
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    out = run_pipeline(spark, RunConfig(
        input_path=inp, work_dir=f"{workdir}/engine",
        active_opcos=["019", "020", "021"], file_name="ctt_z.csv",
        etl_timestamp="t11", file_type="partial",
        archive_dir=f"{inp}/nested",  # mkdirs under a FILE raises
        load_retry_interval_sec=0.0,  # permanent failure: don't sleep out
    ))
    assert out.status == "FAILED"
    assert out.loaded_opcos == ["019"] and out.failed_opcos == ["021"]
    assert "021" in out.failure_reasons and "__archive__" in out.failure_reasons

    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    rec = lg.events().filter("file_name = 'ctt_z.csv'").orderBy(
        "updated_at", ascending=False).first()
    assert rec["status"] == "FAILED"


def test_transient_load_failure_retries_and_succeeds(spark, workdir, monkeypatch):
    """O1 Retry parity (etl_controller_step_function.json:42-51): a load
    that fails once then succeeds must be retried — attempt 2 loads the
    opco, the run SUCCEEDs, and the ledger shows a LOAD_RETRY row naming
    the opco between RUNNING and SUCCEEDED."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        versioning as V,
    )

    orig = V.VersionedCatalog.load_opco
    calls = {"021": 0}

    def transient(self, df, opco, *a, **k):
        if opco == "021":
            calls["021"] += 1
            if calls["021"] == 1:
                raise RuntimeError("transient storage blip")
        return orig(self, df, opco, *a, **k)

    monkeypatch.setattr(V.VersionedCatalog, "load_opco", transient)
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    out = run_pipeline(spark, RunConfig(
        input_path=inp, work_dir=f"{workdir}/engine",
        active_opcos=["019", "020", "021"], file_name="ctt_r.csv",
        etl_timestamp="t20", file_type="partial",
        load_retry_interval_sec=0.01, load_retry_backoff=2.0,
    ))
    assert out.status == "SUCCEEDED"
    assert "021" in out.loaded_opcos and out.failed_opcos == []
    assert out.load_attempts["021"] == 2 and out.load_attempts["019"] == 1
    assert calls["021"] == 2

    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    evs = [
        (r["status"], r["received_opcos"])
        for r in lg.events().filter("file_name = 'ctt_r.csv'")
        .orderBy("updated_at").collect()
    ]
    statuses = [s for s, _ in evs]
    assert "LOAD_RETRY" in statuses and statuses[-1] == "SUCCEEDED"
    assert ("LOAD_RETRY", "021") in evs  # the retried attempt names its opco
    # exactly one retry row: the second attempt succeeded
    assert statuses.count("LOAD_RETRY") == 1


def test_retries_exhausted_lands_in_catch(spark, workdir, monkeypatch):
    """Permanent failure: retries burn down, then the Catch isolates the
    opco — attempts = 1 + load_retry_attempts, each retry ledgered."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        versioning as V,
    )

    orig = V.VersionedCatalog.load_opco

    def broken(self, df, opco, *a, **k):
        if opco == "021":
            raise RuntimeError("storage down")
        return orig(self, df, opco, *a, **k)

    monkeypatch.setattr(V.VersionedCatalog, "load_opco", broken)
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    out = run_pipeline(spark, RunConfig(
        input_path=inp, work_dir=f"{workdir}/engine",
        active_opcos=["019", "020", "021"], file_name="ctt_s.csv",
        etl_timestamp="t21", file_type="partial",
        load_retry_interval_sec=0.0,
    ))
    assert out.status == "FAILED"
    assert out.failed_opcos == ["021"] and "021" in out.failure_reasons
    assert out.load_attempts["021"] == 3  # 1 initial + 2 retries (ref parity)

    lg = RunLedger(spark, f"{workdir}/engine/ledger")
    statuses = [
        r["status"]
        for r in lg.events().filter("file_name = 'ctt_s.csv'")
        .orderBy("updated_at").collect()
    ]
    assert statuses.count("LOAD_RETRY") == 2 and statuses[-1] == "FAILED"


def test_loadable_opcos_match_partitioned_output(spark, workdir):
    """The opcos run_pipeline loads are read off the validation report;
    they equal distinct(opco_id) of the partitioned write they replace."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark import schemas as S
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.orchestrate import (
        loadable_opcos,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.price_zone import (
        run_price_zone_transform,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.readers import (
        read_csv_staged,
    )

    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    result = run_price_zone_transform(
        read_csv_staged(spark, inp, S.PRICE_ZONE_STAGING_SCHEMA),
        ["019", "020", "021"],
    )
    out = f"{workdir}/partitioned"
    result.output.write.partitionBy("opco_id").parquet(out)
    written = spark.read.schema(result.output.schema).parquet(out)
    assert loadable_opcos(result.report) == sorted(
        r["opco_id"] for r in written.select("opco_id").distinct().collect()
    ) == ["019", "021"]


def test_run_pipeline_job_count_pin(spark, workdir, monkeypatch):
    """Fast-tier pin on the Spark jobs of a partial then a full
    run_pipeline on the 5-row fixture (local[4] test session, two opcos
    loaded per run): 86 jobs before the load path's job diet, 41 after
    it, 31 with one-job ledger reads and one catalog read per opco load.
    The diet: schema-pinned reads of the ledger, catalog, partitioned
    output and FUTURE probe; one catalog read per catalog operation;
    loaded opcos from the validation report; row counts and FUTURE's
    min(effective_date) observed on the appends; one-partition
    ledger/catalog rows; the ledger read as one partition, so
    ``admit`` and ``full_export_opcos`` need no exchange; ``load_opco``
    loading from the rows its own registration step read.

    Every parquet read also targets an existing path: absence is decided
    with ``fs.exists``, so a run on a fresh work dir never raises (and
    logs the stack trace of) a missing-path AnalysisException."""
    import uuid

    from pyspark.sql import DataFrameReader

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.promote import (
        hadoop_fs,
    )

    missing = []
    read_parquet = DataFrameReader.parquet

    def checked_parquet(self, *paths, **kw):
        for p in paths:
            fs, hpath = hadoop_fs(spark, p)
            if not fs.exists(hpath(p)):
                missing.append(p)
        return read_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", checked_parquet)
    inp = f"{workdir}/in.csv"
    with open(inp, "w") as f:
        f.write(CSV)
    sc = spark.sparkContext
    group = f"orchestrate-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_pipeline partial + full")
    try:
        for kind in ("partial", "full"):
            out = run_pipeline(spark, RunConfig(
                input_path=inp, work_dir=f"{workdir}/engine",
                active_opcos=["019", "020", "021"], file_name=f"ctt_{kind}.csv",
                etl_timestamp="t30", file_type=kind,
            ))
            assert out.status == "SUCCEEDED" and out.loaded_opcos == ["019", "021"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert missing == []
    assert jobs <= 31, jobs
