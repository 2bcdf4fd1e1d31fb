"""Operator-level scale utilities."""

from __future__ import annotations

import json
import numbers
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

# Inputs smaller than cores x this are "small": a full repartition costs
# less than leaving any core idle on a compute-heavy stage.
SMALL_INPUT_BYTES_PER_CORE = 64 * 1024 * 1024

# The one size bound of every driver contraction (CC, star, PageRank,
# PPR, LPA, logreg; k-means and PQ take a tenth of it): inputs with at
# most this many rows are collected and solved on the driver, larger
# ones take the operator's distributed loop. 1M bigint edge pairs is
# ~32 MB on the driver — the class of the broadcast relations the engine
# already collects. 0 sends every non-empty input to the distributed loop.
DRIVER_CONTRACT_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_DRIVER_CONTRACT_MAX_ROWS", "1000000")
)


def collect_if_small(df: DataFrame, max_rows: int | None = None) -> list[Row] | None:
    """The rows of ``df`` if there are at most ``max_rows`` of them
    (default ``DRIVER_CONTRACT_MAX_ROWS``), else None — the input side of
    a driver contraction. One ``limit(max_rows + 1).collect()``: Spark
    stops scanning partitions once the limit is reached, so an input over
    the bound costs a few partitions rather than a full pass, and one
    under it costs one collect with no separate ``count()``. Rows come
    back in partition order, the order a plain ``collect()`` returns."""
    if max_rows is None:
        max_rows = DRIVER_CONTRACT_MAX_ROWS
    rows = df.limit(max_rows + 1).collect()
    return None if len(rows) > max_rows else rows


def np_round_half_up_like_spark(x, scale: float = 1e6):
    """numpy twin of Spark ``ROUND(double, n)`` (n = log10(scale)) for an
    array or a scalar; the result is an ndarray of ``x``'s shape.

    Spark rounds via BigDecimal.valueOf(x).setScale(n, HALF_UP): it
    rounds the SHORTEST DECIMAL REPR of the double, not the binary
    value. The fast floor(|x|*scale + .5) path matches it everywhere
    except the 2.675-style boundary band (shortest repr ends in ...5
    while the binary value sits just below); only that band routes
    through Python's repr -> Decimal, which reproduces
    BigDecimal.valueOf exactly. NaN and ±inf pass through and zero is
    never negative, as in Spark.
    Parity is pinned by tests/test_driver_frame.py::test_np_round_matches_spark.
    """
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    scaled = np.abs(x) * scale
    out = np.asarray(np.sign(x) * np.floor(scaled + 0.5) / scale)
    frac = scaled - np.floor(scaled)
    band = np.abs(frac - 0.5) < 1e-6
    if band.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1) / Decimal(int(scale))
        out[band] = [
            float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
            for v in x[band].ravel()
        ]
    # Spark rounds through BigDecimal, which has no negative zero: a
    # result that rounds to zero is +0.0 (both paths can give -0.0)
    out += 0.0
    return out


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (file bytes for scans)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def literal_rows(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A few driver-side rows as a DataFrame built in the JVM, in ONE
    partition: the rows travel as one JSON string literal that a one-row
    ``range`` plan parses to ``schema``, so writing it costs one job and
    one file. ``createDataFrame(list)`` ships the rows through Python
    serialization and spreads them over ``defaultParallelism`` slices —
    one (mostly empty) file each. A column expression per value would
    cost dozens of py4j round trips per row, and as many JVM references
    that py4j's finalizer thread releases later, in the background; the
    one literal keeps both at a handful per call, whatever the row and
    column count."""
    doc = json.dumps([dict(zip(schema.fieldNames(), row)) for row in rows])
    parsed = F.from_json(F.lit(doc), ArrayType(schema), {"mode": "FAILFAST"})
    return spark.range(0, 1, 1, 1).select(F.inline(parsed))


def driver_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """Rows computed on the driver (the output of a driver contraction:
    k-means/PQ/PCA fits, union-find labels, PageRank, logistic-regression
    weights, small lookup tables) as a DataFrame that reaches the JVM as
    Arrow record batches — a local relation, so executing it never starts
    a Python worker, whatever the session's Arrow confs say.

    Each column is built as a typed ``pa.array`` from
    ``to_arrow_schema(schema)``: a value of the wrong type raises here,
    NaN stays NaN and None stays null. ``schema`` is a ``StructType`` or
    a DDL string.

    Which helper for which job:
    - ``collect_if_small``: the way in — a contraction's input rows, or
      None when the input is over the bound and the distributed loop runs.
    - ``driver_frame``: driver-computed rows that a query goes on to
      join or aggregate. Its cost grows with the Arrow bytes only.
    - ``literal_rows``: a handful of control rows that are WRITTEN
      (ledger, catalog), where one partition and one file per append
      matter.
    - ``np_round_half_up_like_spark``: every 6dp round a driver kernel
      makes, so its numbers equal what ``F.round`` gives in the plan.
    - ``spark.createDataFrame(list)``: avoid for query data — in classic
      PySpark it wraps ``parallelize`` in a PythonRDD, so every execution
      pays a Python-worker round trip.
    Build + noop write, local[2] on a 4-vCPU host: 46 ms for 500 rows and
    118 ms for 20k, against 264 ms and 327 ms for
    ``createDataFrame(list)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    for c, f in zip(cols, arrow_schema):
        # pa.array would truncate a float into an integer type silently
        if pa.types.is_integer(f.type):
            bad = [x for x in c if x is not None and not isinstance(x, numbers.Integral)]
            if bad:
                raise TypeError(f"driver_frame: {f.name} is {f.type}, got {bad[0]!r}")
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition small inputs so compute-heavy map stages use all cores.

    Byte-based file splitting gives a few-MB table one (or one *useful*)
    partition, which serializes hashing/vector-math stages onto a single
    core. Partition COUNT can lie — byte-range splits of a one-rowgroup
    parquet file put every row in one split — so the trigger is the
    plan-size estimate, not the partition count: inputs under
    ``cores x 64MB`` repartition unconditionally (the shuffle is trivially
    cheap at that size); bigger inputs keep their natural splits, so this
    is a no-op at 100 TB.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Probe the LOGICAL plan, never df.rdd: under AQE, materializing the
    # RDD of a plan that contains an exchange EXECUTES the upstream query
    # stages just to learn the partition count. An explicit upstream
    # repartition means the caller already fanned out — trust it.
    try:
        plan_str = df._jdf.queryExecution().logical().toString()
        if "Repartition" in plan_str:
            return df
    except Exception:
        pass
    try:
        small = estimated_size_bytes(df) < target * SMALL_INPUT_BYTES_PER_CORE
    except Exception:
        small = True
    if small:
        return df.repartition(target)
    return df


# Raw all-pairs baselines (exact Jaccard, all-pairs cosine, brute-force
# top-k) are kept as oracle mirrors of their LSH/index scale siblings —
# correct, but quadratic. Above this row count the quadratic plan is not
# runnable in practice and the guard refuses to build it.
QUADRATIC_GUARD_ROWS = int(
    os.environ.get("SPARK_GRAFT_QUADRATIC_GUARD_ROWS", "200000")
)


class QuadraticPlanError(RuntimeError):
    """An all-pairs baseline was asked to run over an input too large for
    a quadratic plan. Use the registered scale sibling (LSH candidates,
    IVF/vectorized top-k, indexed intake) or pass ``allow_quadratic=True``
    after sizing the cluster for |n|² work."""


def guard_quadratic(
    df: DataFrame,
    op_name: str,
    scale_alternative: str,
    allow_quadratic: bool = False,
    max_rows: int | None = None,
) -> None:
    """Refuse to build an O(n²) plan over a large input.

    Probe cost is one ``limit(max_rows + 1).count()`` over a single
    column — it short-circuits as soon as the limit is hit, so the guard
    never scans more than the threshold. The exact count is irrelevant;
    only "over the line" matters.
    """
    if allow_quadratic:
        return
    limit = QUADRATIC_GUARD_ROWS if max_rows is None else max_rows
    probe = df.select(df.columns[0]).limit(limit + 1).count()
    if probe > limit:
        raise QuadraticPlanError(
            f"{op_name}: input exceeds {limit} rows — the all-pairs plan "
            f"is quadratic and will not finish at this size. Scale path: "
            f"{scale_alternative}. Pass allow_quadratic=True to override."
        )
