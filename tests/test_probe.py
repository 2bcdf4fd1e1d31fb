"""tools/probe.py's replication and bench.py's ``time_query`` loop."""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import time_query
from tools.probe import FACT_SHIFTS, replicate


@pytest.fixture(scope="module")
def doubled(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("probe") / "2x")
    replicate(spark, sf_dir, out, 2)
    return out


def test_replicate_doubles_facts_only(spark, sf_dir, doubled):
    tables = sorted(os.listdir(sf_dir))
    assert sorted(os.listdir(doubled)) == tables
    for t in tables:
        base = spark.read.parquet(f"{sf_dir}/{t}")
        rep = spark.read.parquet(f"{doubled}/{t}")
        shifts = FACT_SHIFTS.get(t.removesuffix(".parquet"), [])
        assert rep.count() == (2 if shifts else 1) * base.count(), t
        # the replicas' shifted ids never collide: twice the distinct ids
        for col, _ in shifts:
            n_ids = base.select(col).distinct().count()
            assert rep.select(col).distinct().count() == 2 * n_ids, (t, col)


def test_replicated_orderkeys_join_within_replica(spark, sf_dir, doubled):
    def joined(d):
        orders = spark.read.parquet(f"{d}/orders.parquet")
        lineitem = spark.read.parquet(f"{d}/lineitem.parquet")
        return orders.join(
            lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        ).count()

    assert joined(doubled) == 2 * joined(sf_dir)


@pytest.mark.parametrize(
    "name, build_jobs, exec_jobs",
    [("tpch_q6", 1, 2), ("event_type_strengths", 4, 3)],
)
def test_time_query_fields_and_jobs(spark, sf_dir, name, build_jobs, exec_jobs):
    q = entrymod.queries()[name]
    r = time_query(spark, lambda: q(spark, sf_dir), best_of=2)
    assert set(r) == {"build_s", "exec_s", "total_s", "build_jobs", "exec_jobs"}
    # each phase is its own minimum, so their sum bounds the best total
    assert 0 < r["build_s"] + r["exec_s"] <= r["total_s"] + 0.002
    assert (r["build_jobs"], r["exec_jobs"]) == (build_jobs, exec_jobs)


def test_time_query_keeps_earlier_attempts_on_a_later_failure(spark):
    calls = []

    def build():
        calls.append(1)
        if len(calls) > 1:
            raise RuntimeError("second attempt")
        return spark.range(3)

    r = time_query(spark, build, best_of=3)
    assert r["error"] == "RuntimeError: second attempt"
    assert r["total_s"] > 0 and r["exec_jobs"] >= 1

    def fails():
        raise RuntimeError("first attempt")

    with pytest.raises(RuntimeError, match="first attempt"):
        time_query(spark, fails, best_of=2)
