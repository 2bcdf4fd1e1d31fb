"""The driver-contraction operators return their rows through
``util.driver_frame``: ``createDataFrame(list)`` would put a PythonRDD
(one Python-worker round trip per execution) back under every query
that consumes a contraction."""

import os

import pytest

_OPS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sample_python_lambdas_glue_and_pyspark_scripts_spark",
    "operators",
)


@pytest.mark.parametrize(
    "module", ["similarity.py", "clustering.py", "graph.py", "classifier.py"]
)
def test_contraction_modules_do_not_call_create_dataframe(module):
    with open(os.path.join(_OPS, module), encoding="utf-8") as fh:
        hits = [
            f"{module}:{n}: {ln.strip()}"
            for n, ln in enumerate(fh, 1)
            if "createDataFrame(" in ln
        ]
    assert hits == [], "use util.driver_frame:\n" + "\n".join(hits)
