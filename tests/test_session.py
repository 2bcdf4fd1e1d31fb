"""``session.get_spark``: what the engine's session sets up for the
driver and its Python workers."""

import json
import os
import subprocess
import sys
import tempfile
import threading

import py4j.clientserver
from pyspark.errors import utils as error_utils

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    validation as V,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FOREIGN_CWD_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from sample_python_lambdas_glue_and_pyspark_scripts_spark.session import get_spark
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import retrieval as R
spark = get_spark(app_name="foreign-cwd", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
vecs = spark.sql(
    "SELECT * FROM VALUES ('a', array(1D, 0D)), ('b', array(0D, 1D)),"
    " ('c', array(1D, 1D)) AS t(vec_id, embedding)"
)
cand = spark.sql(
    "SELECT * FROM VALUES (1L, 'a', 0.9D), (1L, 'b', 0.8D), (1L, 'c', 0.7D),"
    " (2L, 'b', 0.6D), (2L, 'c', 0.5D) AS t(query_id, neighbor_id, sim)"
)
rows = sorted(tuple(r) for r in R.mmr_rerank(cand, vecs, k=2, lam=0.5).collect())
worker_path = spark.sparkContext.parallelize([0], 1).mapPartitions(
    lambda _: [__import__("sys").path]
).first()
print("RESULT " + json.dumps(
    {"rows": rows, "ipython": "IPython" in sys.modules, "worker_path": worker_path}
))
spark.stop()
"""


def test_pandas_kernel_runs_from_any_working_directory():
    """A driver outside the repo root that only puts the repo on its own
    ``sys.path`` runs a package pandas kernel: the workers, which unpickle
    the kernel by reference, find the package through the session's
    executor PYTHONPATH, which comes before the driver's own PYTHONPATH
    (still on the workers' path). The driver never imports IPython, which
    PySpark's DataFrame-debugging hook does on every wrapped call."""
    with tempfile.TemporaryDirectory(prefix="foreign-cwd-") as cwd:
        extra = os.path.join(cwd, "driver-pythonpath")
        os.mkdir(extra)
        env = {**os.environ, "PYTHONPATH": extra, "SPARK_GRAFT_DRIVER_MEM": "1g"}
        out = subprocess.run(
            [sys.executable, "-c", FOREIGN_CWD_SCRIPT, REPO],
            cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
        )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, out.stderr[-3000:]
    got = json.loads(line[0][len("RESULT "):])
    assert [tuple(r) for r in got["rows"]] == [
        (1, "a", 1, 0.45), (1, "b", 2, 0.4), (2, "b", 1, 0.3), (2, "c", 2, -0.103554),
    ]
    assert got["ipython"] is False
    worker_path = got["worker_path"]
    assert worker_path.index(REPO) < worker_path.index(extra), worker_path


def test_plan_building_round_trips_pin(spark, monkeypatch):
    """py4j round trips to build the price_zone validation matrix over a
    3-row frame. With DataFrame debugging on (PySpark's default), every
    ``functions``/DataFrame call adds about five round trips to record
    its call site, and this build needs 911 round trips instead of 319; the
    engine's session turns it off. The hook's on/off value is cached
    process-wide on first use, so the cache is cleared to read the
    session's setting."""
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    df = spark.createDataFrame(
        [("019", "1", "2", "3", "2024-01-01 00:00:00")] * 3,
        "opco_id string, supc string, customer_id string, price_zone string, "
        "eff_from_dttm string",
    )

    def build():
        rules = V.price_zone_rules(["019"])
        return V.flag_columns(df, rules).groupBy("opco_id").agg(*V.matrix_aggs(rules))

    build()  # first-use lookups (JVM classes, function registry) are not counted
    calls = [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        # py4j's finalizer thread releases dead JVM references on its own
        # schedule; only the building thread's round trips are counted
        calls[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert calls[0] <= 330, calls[0]
