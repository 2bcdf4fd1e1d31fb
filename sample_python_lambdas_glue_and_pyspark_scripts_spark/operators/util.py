"""Operator-level scale utilities."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

# Inputs smaller than cores x this are "small": a full repartition costs
# less than leaving any core idle on a compute-heavy stage.
SMALL_INPUT_BYTES_PER_CORE = 64 * 1024 * 1024


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
    __import__("os").environ.get("SPARK_GRAFT_QUADRATIC_GUARD_ROWS", "200000")
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
