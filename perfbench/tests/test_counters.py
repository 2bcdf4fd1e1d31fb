"""Pins the benchmark's status-store reader on queries whose Spark
counters are known exactly.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # checkout root

from counters import StatusReader, covered_s  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark

    # AQE off: the aggregation below is then one job of two stages
    # (AQE would split it into one job per query stage).
    s = get_spark(
        app_name="perfbench-counters-test",
        master="local[2]",
        shuffle_partitions=3,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


def test_covered_s_merges_overlaps_and_clips():
    assert covered_s([], 0.0, 10.0) == 0.0
    assert covered_s([(1, 3), (2, 5), (7, 8)], 0.0, 10.0) == pytest.approx(5.0)
    assert covered_s([(-5, 2), (9, 20)], 0.0, 10.0) == pytest.approx(3.0)
    assert covered_s([(1, 9), (2, 3)], 0.0, 10.0) == pytest.approx(8.0)


def test_two_stage_aggregation(spark):
    sc = spark.sparkContext
    reader = StatusReader(sc)
    sc.setJobGroup("counters-two-stage", "two-stage aggregation")
    try:
        rows = (
            spark.range(0, 1000, 1, 4)
            .selectExpr("id % 10 AS k")
            .groupBy("k")
            .count()
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10
    c = reader.read_group("counters-two-stage")
    assert c.jobs == 1
    assert c.stages == 2
    assert c.tasks == 4 + 3  # 4 map tasks, 3 shuffle partitions
    assert c.shuffle_write_bytes > 0
    assert c.shuffle_read_bytes == c.shuffle_write_bytes
    assert c.spill_bytes == 0
    assert c.input_bytes == 0  # spark.range reads no files
    assert c.task_s >= 0.0
    assert len(c.intervals) == 1
    lo, hi = c.intervals[0]
    assert hi >= lo
    # an unknown group reads as empty, not as an error
    assert reader.read_group("counters-no-such-group").jobs == 0


def test_skipped_stage_is_not_counted(spark):
    sc = spark.sparkContext
    reader = StatusReader(sc)
    pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
        lambda a, b: a + b, 2
    )
    pairs.collect()  # materializes the shuffle
    sc.setJobGroup("counters-reuse", "shuffle reuse")
    try:
        assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    c = reader.read_group("counters-reuse")
    assert c.jobs == 1
    assert c.stages == 1  # the map stage is skipped, only the reduce runs
    assert c.tasks == 2
    assert c.shuffle_write_bytes == 0
    assert c.shuffle_read_bytes > 0
