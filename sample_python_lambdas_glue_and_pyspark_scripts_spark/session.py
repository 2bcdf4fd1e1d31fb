"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace the reference's manual
  worker-sizing heuristic (/root/reference/src/price_zone/s3_trigger_lambda.py:72-117).
- ``spark.sql.shuffle.partitions`` is a *ceiling*; AQE coalesces down.
  On a real cluster set it ~2-3x total cores; locally it defaults to the
  local core count.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle regardless of host timezone.
- Arrow enabled for the Pandas-UDF operators (dedup/similarity/multimodal).
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``).
  While it is on, PySpark wraps every ``functions``/DataFrame call in
  ``pyspark.errors.utils._with_origin``, which records the Python call
  site in the JVM: about five py4j round trips per call (active session,
  JVM class lookup, ``conf.get``, origin set, origin clear), half of all
  the driver's round trips on the price_zone load and the curation
  queries, and an ``import IPython`` (26 MB of peak driver RSS on the
  perfbench price_zone load) plus a failing ``import ipykernel`` (a full
  ``sys.path`` scan) per call. With
  it off, the ``== DataFrame ==`` block of a runtime error names a JVM
  frame instead of the Python file and line that built the failing
  column; the error class and message text are unchanged. To get the
  Python line back, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to the FIRST session of the process: PySpark reads the value once, on
  the first wrapped call, and caches it process-wide.
- The package's parent directory is the Python workers' PYTHONPATH
  (``spark.executorEnv.PYTHONPATH``): pandas kernels pickle package
  functions by reference, so a worker must import the package whatever
  the driver's working directory is. Spark puts this entry after its own
  pyspark/py4j zips and before the PYTHONPATH the executor JVM inherited
  (in local mode, the driver's).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime-settable confs the contract queries depend on. ``get_spark``
# builds with them and ``ensure_runtime_confs`` applies them to any
# session. (ANSI stays on — Spark 4 default; null-on-failure uses try_*.)
RUNTIME_CONFS = {
    # TIMESTAMP(NANOS) parquet (events.ts) has no Spark type; read as
    # nanos-since-epoch long (ordering-compatible; convert on output
    # with functions.nanos_to_timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # formatted/epoch outputs must match the timezone-naive DuckDB
    # oracle on any host
    "spark.sql.session.timeZone": "UTC",
    # no ancient-date exceptions on vanilla sessions
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # keep hive-partition values as strings: 'opco_id=019' must read
    # back as '019', not int 19 (reference treats opco ids as strings;
    # the orchestrated pipelines read their own partitionBy output back)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime re-planning -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle / scan sizing ----------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", package_parent)
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # the determinism / oracle-parity confs, then the caller's overrides
    for k, v in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply ``RUNTIME_CONFS`` to an ARBITRARY caller-provided session
    (a caller may build its own, unconfigured). One definition —
    __spark_entry__ and every plan module must use this, not a private
    copy (conf drift broke only the copies' queries in the past)."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
