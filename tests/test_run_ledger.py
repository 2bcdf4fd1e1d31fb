"""RunLedger runtime tests: admission, idempotent status, dual-write set,
notifier hooks (SURVEY.md §2.9 O2/O5/O8)."""

import shutil
import tempfile

import pytest

from sample_python_lambdas_glue_and_pyspark_scripts_spark.plans.run_ledger import RunLedger


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
