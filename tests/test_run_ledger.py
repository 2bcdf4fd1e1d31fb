"""RunLedger runtime tests: admission, idempotent status, dual-write set,
notifier hooks (SURVEY.md §2.9 O2/O5/O8)."""

import shutil
import tempfile

import pytest

from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.run_ledger import (
    LEDGER_SCHEMA,
    RunLedger,
)


@pytest.fixture()
def ledger_path():
    d = tempfile.mkdtemp(prefix="ledger-")
    yield f"{d}/ledger"
    shutil.rmtree(d, ignore_errors=True)


def test_admission_fifo(spark, ledger_path):
    lg = RunLedger(spark, ledger_path)
    lg.record("f1", "t1", "e1", "RUNNING")
    lg.record("f2", "t2", "e2", "RUNNING")
    lg.record("f3", "t3", "e3", "RUNNING")
    assert lg.admit("e1", max_concurrency=2) is True
    assert lg.admit("e2", max_concurrency=2) is True
    assert lg.admit("e3", max_concurrency=2) is False
    # e1 finishes → e3 admitted
    lg.record("f1", "t1", "e1", "SUCCEEDED")
    assert lg.admit("e3", max_concurrency=2) is True


def test_idempotent_status_latest_wins(spark, ledger_path):
    lg = RunLedger(spark, ledger_path)
    lg.record("f1", "t1", "e1", "RUNNING")
    lg.record("f1", "t1", "e1", "SUCCEEDED", total_count=100, valid_count=90,
              invalid_count=10)
    cur = lg.current().collect()
    assert len(cur) == 1
    assert cur[0]["status"] == "SUCCEEDED" and cur[0]["invalid_count"] == 10


def test_full_export_opcos_dual_write_set(spark, ledger_path):
    lg = RunLedger(spark, ledger_path)
    lg.record("full1", "t1", "e1", "RUNNING", file_type="full",
              received_opcos="019,020")
    lg.record("full2", "t2", "e2", "RUNNING", file_type="full",
              received_opcos="021")
    lg.record("full3", "t3", "e3", "SUCCEEDED", file_type="full",
              received_opcos="099")  # finished → excluded
    assert lg.full_export_opcos() == {"019", "020", "021"}


def test_notifier_hook(spark, ledger_path):
    events = []
    lg = RunLedger(spark, ledger_path, notifiers=[events.append])
    lg.record("f1", "t1", "e1", "RUNNING")
    lg.record("f1", "t1", "e1", "FAILED", invalid_count=5)
    assert [e["status"] for e in events] == ["RUNNING", "FAILED"]
    assert events[1]["invalid_count"] == 5


def test_datadog_metric_name_parity(spark, ledger_path):
    """Exact metric names/values the reference Notifier emits
    (/root/reference/src/Notifier/index.py:193,207-209,230-233,256-264)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import validation as V
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans import notifier as N

    df = spark.createDataFrame(
        [("019", "1"), ("019", "2"), ("020", "bad#"), ("020", "3")],
        "opco_id string, supc string",
    )
    _, report = V.validate(
        df, [V.Rule("supc_num", "supc", "required_numeric")], "opco_id"
    )
    # opco 020 quarantined wholesale: total 4, valid 2, invalid 2
    assert N.price_zone_metrics_from_report(report) == {
        "ref_price_etl.pz_valid_record_count": 2,
        "ref_price_etl.pz_invalid_record_count": 2,
        "ref_price_etl.pz_total_record_count": 4,
    }

    assert N.pa_metrics(100, 7, 5, 4, 1) == {
        "ref_price_etl.pa_total_record_count": 100,
        "ref_price_etl.pa_invalid_records": 7,
        "ref_price_etl.pa_total_opco_count": 5,
        "ref_price_etl.pa_successful_opco_count": 4,
        "ref_price_etl.pa_failed_opco_count": 1,
    }
    assert N.error_metric("price_zone") == {"ref_price_etl.price_zone_error": 1}
    assert N.error_metric("pa") == {"ref_price_etl.pa_error": 1}

    emitted = []
    lg = RunLedger(
        spark, ledger_path, notifiers=[N.ledger_metric_notifier(emitted.append)]
    )
    lg.record("f0", "t0", "e0", "RUNNING")  # non-terminal: no metric
    lg.record("f1", "t1", "e1", "SUCCEEDED", total_count=4, valid_count=2)
    lg.record("f2", "t2", "e2", "FAILED")
    assert emitted == [
        {
            "ref_price_etl.pz_valid_record_count": 2,
            "ref_price_etl.pz_invalid_record_count": 2,
            "ref_price_etl.pz_total_record_count": 4,
        },
        {"ref_price_etl.price_zone_error": 1},
    ]


def test_one_file_per_record(spark, ledger_path):
    """Each append writes exactly one parquet file (no empty slices), so
    admission reads list one file per event."""
    import os

    lg = RunLedger(spark, ledger_path)
    for i in range(3):
        lg.record(f"f{i}", "t", f"e{i}", "RUNNING")
    assert len([f for f in os.listdir(ledger_path) if f.endswith(".parquet")]) == 3
    assert lg.events().count() == 3


def test_record_round_trips_values(spark, ledger_path):
    """Event values reach the ledger exactly as the notifiers see them:
    quotes, backslashes and non-ASCII text, counts past 32 bits and the
    nanosecond timestamp."""
    seen = []
    lg = RunLedger(spark, ledger_path, notifiers=[seen.append])
    lg.record('it\'s "a" \\ prix-é.csv', "t", "e1", "RUNNING", total_count=2**40)
    (row,) = lg.events().collect()
    assert row.asDict() == seen[0]


def test_literal_rows_rejects_mistyped_value(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.util import (
        literal_rows,
    )

    schema = StructType([StructField("n", LongType())])
    assert literal_rows(spark, [(7,), (None,)], schema).collect() == [(7,), (None,)]
    with pytest.raises(Exception):
        literal_rows(spark, [("seven",)], schema).collect()


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"ledger-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ledger read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ledger_reads_are_one_job_each(spark, ledger_path):
    """``admit`` and ``full_export_opcos`` each run one job over a ledger
    of many event files, and answer as the window plans over the plain
    (many-partition) read do: latest event per run key, RUNNING runs
    ranked by (start, execution_id)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.ledger import (
        admission_rank,
        idempotent_latest,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.util import (
        literal_rows,
    )

    events = [  # (file, etl_ts, execution, status, type, opcos, updated_at)
        ("a.csv", "t1", "e1", "RUNNING", "partial", "", 100),
        ("a.csv", "t1", "e1", "SUCCEEDED", "partial", "", 300),
        # two running full exports that started at the same instant
        ("c.csv", "t3", "e3", "RUNNING", "full", "021", 200),
        ("b.csv", "t2", "e2", "RUNNING", "full", "019,020", 200),
        # a full export that failed, was retried and succeeded
        ("f.csv", "t5", "e5", "RUNNING", "full", "030", 150),
        ("f.csv", "t5", "e5", "FAILED", "full", "030", 160),
        ("f.csv", "t5", "e6", "RUNNING", "full", "031", 250),
        ("f.csv", "t5", "e6", "SUCCEEDED", "full", "031", 350),
        # a retry still running supersedes its first attempt
        ("g.csv", "t6", "e7", "RUNNING", "partial", "", 120),
        ("g.csv", "t6", "e8", "RUNNING", "partial", "", 260),
        ("h.csv", "t7", "e9", "RUNNING", "partial", "", 50),
    ]
    for f, ts, eid, st, ftype, opcos, at in events:
        literal_rows(
            spark, [(f, ts, eid, st, ftype, 0, 0, 0, opcos, at)], LEDGER_SCHEMA
        ).write.mode("append").parquet(ledger_path)
    lg = RunLedger(spark, ledger_path)

    plain = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    assert plain.rdd.getNumPartitions() > 1
    running = idempotent_latest(plain).filter("status = 'RUNNING'")
    order = [
        r["execution_id"]
        for r in admission_rank(
            running.withColumnRenamed("updated_at", "start_time"), 1
        ).orderBy("admission_rank").collect()
    ]
    assert order == ["e9", "e2", "e3", "e8"]
    for k in (1, 2, 3):
        for rank, eid in enumerate(order, 1):
            admitted, jobs = _jobs(spark, lambda: lg.admit(eid, k))
            assert (admitted, jobs) == (rank <= k, 1)
    for superseded in ("e1", "e7"):
        with pytest.raises(ValueError, match="no RUNNING record"):
            lg.admit(superseded, 2)

    opcos, jobs = _jobs(spark, lg.full_export_opcos)
    assert (opcos, jobs) == ({"019", "020", "021"}, 1)
    assert opcos == {
        o
        for r in running.filter("file_type = 'full'").collect()
        for o in r["received_opcos"].split(",")
    }


def test_record_folds_event_files_and_keeps_every_event(spark, ledger_path, monkeypatch):
    """Once ``COMPACT_AT_FILES`` event files build up, ``record`` folds
    them into one: the ledger stays under the bound, no event is lost or
    doubled, no checksum file is orphaned, and ``admit`` and
    ``full_export_opcos`` still run one job each on the folded ledger."""
    import os

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans import run_ledger

    monkeypatch.setattr(run_ledger, "COMPACT_AT_FILES", 4)
    seen = []
    lg = RunLedger(spark, ledger_path, notifiers=[seen.append])
    events = [  # (file, execution, status, type, opcos)
        ("a.csv", "e1", "RUNNING", "full", "019"),
        ("b.csv", "e2", "RUNNING", "full", "020"),
        ("c.csv", "e3", "RUNNING", "partial", ""),
        ("a.csv", "e1", "SUCCEEDED", "full", "019"),
        ("d.csv", "e4", "RUNNING", "full", "021"),
        ("c.csv", "e3", "FAILED", "partial", ""),
        ("e.csv", "e5", "RUNNING", "partial", ""),
        ("f.csv", "e6", "RUNNING", "partial", ""),
        ("b.csv", "e2", "SUCCEEDED", "full", "020"),
    ]
    counts = []
    for f, eid, st, ftype, opcos in events:
        lg.record(f, "t", eid, st, file_type=ftype, received_opcos=opcos)
        names = os.listdir(ledger_path)
        parts = [n for n in names if n.startswith("part-")]
        assert sorted(n for n in names if n.startswith(".part-")) == sorted(
            f".{p}.crc" for p in parts
        )
        counts.append(len(parts))
    assert counts == [1, 2, 3, 1, 2, 3, 1, 2, 3]

    key = ("file_name", "execution_id", "status", "updated_at")
    assert sorted(tuple(r[k] for k in key) for r in lg.events().collect()) == sorted(
        tuple(e[k] for k in key) for e in seen
    )
    for eid, k, admitted in (("e4", 1, True), ("e5", 1, False), ("e6", 2, False),
                             ("e6", 3, True)):
        assert _jobs(spark, lambda: lg.admit(eid, k)) == (admitted, 1)
    assert _jobs(spark, lg.full_export_opcos) == ({"021"}, 1)
