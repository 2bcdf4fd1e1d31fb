"""The driver-contraction operators take their input through
``util.collect_if_small`` and return their rows through
``util.driver_frame``: ``createDataFrame(list)`` would put a PythonRDD
(one Python-worker round trip per execution) back under every query
that consumes a contraction."""

import os
import re

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


def test_one_driver_contraction_bound():
    """Every driver contraction sizes its input against the one bound in
    ``util.py`` (``DRIVER_CONTRACT_MAX_ROWS``, through
    ``collect_if_small``): no other module reads a ``*DRIVER*MAX*`` env
    var or defines a bound of its own."""
    pkg = os.path.dirname(_OPS)
    own_bound = re.compile(r"^\s*_?[A-Z_]*DRIVER[A-Z_]*MAX[A-Z_]*\s*=")
    env_read = re.compile(r"(environ|getenv).*DRIVER\w*MAX")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(_OPS, "util.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                hits += [
                    f"{os.path.relpath(path, pkg)}:{n}: {ln.strip()}"
                    for n, ln in enumerate(fh, 1)
                    if own_bound.match(ln) or env_read.search(ln)
                ]
    assert hits == [], "use util.collect_if_small:\n" + "\n".join(hits)
