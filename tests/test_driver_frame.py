"""``operators.util.driver_frame``: the Arrow-backed primitive that every
driver contraction returns its rows through."""

import math

import pytest

from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.util import (
    driver_frame,
    np_round_half_up_like_spark,
)

_SCHEMA = (
    "a bigint, i int, d double, s string, v array<double>, "
    "m array<array<double>>"
)
_ROWS = [
    (1, 2, 0.5, "x", [1.0, 2.5], [[1.0], [2.0, 3.0]]),
    (2**40, -7, -1e300, "", [], []),
    (None, None, None, None, None, None),
    (3, 0, 1.25, "é\\\"q", [None, 4.0], [None, [5.0]]),
]


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_rows_and_schema_equal_create_dataframe(spark):
    got = driver_frame(spark, _ROWS, _SCHEMA)
    ref = spark.createDataFrame(_ROWS, _SCHEMA)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )


def test_empty_rows(spark):
    got = driver_frame(spark, [], _SCHEMA)
    assert got.schema == spark.createDataFrame([], _SCHEMA).schema
    assert got.collect() == []


def test_nan_stays_nan_and_none_stays_null(spark):
    got = driver_frame(
        spark, [(1, float("nan"), [float("nan")]), (2, None, [None])],
        "k int, x double, v array<double>",
    )
    rows = {r["k"]: r for r in got.collect()}
    assert math.isnan(rows[1]["x"]) and math.isnan(rows[1]["v"][0])
    assert rows[2]["x"] is None and rows[2]["v"] == [None]
    # Spark sees NaN as a value, not as null
    assert got.filter("x is null").count() == 1


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("x",)], "a bigint"),
        ([(1.5,)], "a bigint"),
        ([("1.0",)], "d double"),
        ([([1.0, "y"],)], "v array<double>"),
    ],
)
def test_mistyped_value_raises(spark, rows, schema):
    with pytest.raises(Exception):
        driver_frame(spark, rows, schema)


def test_works_with_arrow_conf_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = driver_frame(spark, _ROWS, _SCHEMA)
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, spark.createDataFrame(_ROWS, _SCHEMA).collect()), key=repr
        )
    finally:
        spark.conf.set(key, prev)


def test_no_python_worker_in_lineage(spark):
    got = driver_frame(spark, _ROWS, _SCHEMA).groupBy("i").count()
    assert "PythonRDD" not in _rdd_lineage(got)
    # the path it replaces does carry one
    ref = spark.createDataFrame(_ROWS, _SCHEMA).groupBy("i").count()
    assert "PythonRDD" in _rdd_lineage(ref)


def test_np_round_matches_spark(spark):
    """The numpy half-up twin must reproduce Spark ROUND on boundary
    doubles where the shortest decimal repr disagrees with the binary
    value (the 2.675 pattern) — Spark rounds the repr, not the bits.
    A scalar in the boundary band (1/128 = 0.0078125) rounds too, and
    tiny negatives round to +0.0, as Spark's BigDecimal has no -0.0."""
    import numpy as np

    vals = [
        0.1234565,   # binary sits just BELOW the .5 boundary
        -0.1234565,
        0.9999995,
        0.12345649999,  # genuinely below: must NOT round up
        0.1234564999999999,
        2.675,
        -2.675,
        0.5000004999,
        0.1,
        0.0,
        1.0,
        -1.0,
        -0.0,
        -1e-9,         # fast path: sign(x) * floor(...) is -0.0
        -4e-7,
        -4.9999999e-7,  # boundary band: Decimal gives -0.000000
        1.0 / 128,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
    want = [r["r"] for r in
            df.select(F.round("x", 6).alias("r")).collect()]
    got = np_round_half_up_like_spark(np.array(vals), 1e6).tolist()
    assert got == want
    assert [math.copysign(1.0, v) for v in got] == [
        math.copysign(1.0, v) for v in want
    ]
    assert float(np_round_half_up_like_spark(1.0 / 128)) == want[-1]
