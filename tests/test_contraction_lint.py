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
    "module",
    [
        "similarity.py",
        "clustering.py",
        "graph.py",
        "classifier.py",
        "retrieval.py",
        "annotation.py",
        "sketches.py",
    ],
)
def test_contraction_modules_do_not_call_create_dataframe(module):
    with open(os.path.join(_OPS, module), encoding="utf-8") as fh:
        hits = [
            f"{module}:{n}: {ln.strip()}"
            for n, ln in enumerate(fh, 1)
            if "createDataFrame(" in ln
        ]
    assert hits == [], "use util.driver_frame:\n" + "\n".join(hits)


def _package_hits(pattern, allowed=("util.py",)):
    """``path:line: text`` for every line of a package module (other
    than ``allowed`` in ``operators/``) that ``pattern`` matches."""
    pkg = os.path.dirname(_OPS)
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path in {
                os.path.join(_OPS, a) for a in allowed
            }:
                continue
            with open(path, encoding="utf-8") as fh:
                hits += [
                    f"{os.path.relpath(path, pkg)}:{n}: {ln.strip()}"
                    for n, ln in enumerate(fh, 1)
                    if pattern(ln)
                ]
    return hits


def test_one_driver_contraction_bound():
    """Every driver contraction sizes its input against the one bound in
    ``util.py`` (``DRIVER_CONTRACT_MAX_ROWS``, through
    ``collect_if_small``): no other module reads a ``*DRIVER*MAX*`` env
    var or defines a bound of its own."""
    own_bound = re.compile(r"^\s*_?[A-Z_]*DRIVER[A-Z_]*MAX[A-Z_]*\s*=")
    env_read = re.compile(r"(environ|getenv).*DRIVER\w*MAX")
    hits = _package_hits(lambda ln: own_bound.match(ln) or env_read.search(ln))
    assert hits == [], "use util.collect_if_small:\n" + "\n".join(hits)


def test_one_spark_parity_round_helper():
    """Driver kernels round like ``F.round`` through the one helper in
    ``util.py`` (``np_round_half_up_like_spark``): no other module does
    its own decimal HALF_UP rounding."""
    hits = _package_hits(lambda ln: "ROUND_HALF_UP" in ln)
    assert hits == [], "use util.np_round_half_up_like_spark:\n" + "\n".join(hits)
