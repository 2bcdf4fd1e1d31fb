"""VersionedCatalog runtime tests: the full ACTIVE/FUTURE lifecycle
(SURVEY.md §7.1 M4; reference find_tables_to_load, load_job.py:304-368)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.versioning import (
    ETLLoadError,
    ValidationPolicy,
    VersionedCatalog,
)


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="vcat-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch(spark, opco, dates):
    return spark.createDataFrame(
        [(opco, f"supc{i}", d) for i, d in enumerate(dates)],
        "opco_id string, supc string, effective_date timestamp",
    ).selectExpr("opco_id", "supc", "cast(effective_date as timestamp) effective_date")


def _df(spark, opco, *date_strs):
    rows = [(opco, f"supc{i}", s) for i, s in enumerate(date_strs)]
    df = spark.createDataFrame(rows, "opco_id string, supc string, eff string")
    return df.selectExpr("opco_id", "supc", "to_timestamp(eff) as effective_date")


def test_full_lifecycle(spark, root):
    cat = VersionedCatalog(spark, root)
    cat.init_opco("019")

    # 1. partial load, FUTURE empty, no export running → ACTIVE only
    r = cat.load_opco(_df(spark, "019", "2024-01-05 00:00:00"), "019", is_partial=True)
    assert (r.rows_written_active, r.rows_written_future) == (1, 0)

    # 2. full export → FUTURE + effective date recorded
    r = cat.load_opco(
        _df(spark, "019", "2024-02-01 00:00:00", "2024-02-03 00:00:00"),
        "019",
        is_partial=False,
    )
    assert r.rows_written_future == 2 and r.rows_written_active == 0
    assert r.effective_date == "2024-02-01 00:00:00"
    cat_df = spark.read.parquet(cat.catalog_path)
    eff = cat_df.filter("table_type = 'FUTURE'").first()["effective_date"]
    assert eff == "2024-02-01 00:00:00"

    # 3. partial load while FUTURE non-empty → dual write
    r = cat.load_opco(_df(spark, "019", "2024-01-06 00:00:00"), "019", is_partial=True)
    assert (r.rows_written_active, r.rows_written_future) == (1, 1)

    # 4. second full export while FUTURE non-empty → policy knob
    with pytest.raises(ETLLoadError):
        cat.load_opco(_df(spark, "019", "2024-03-01 00:00:00"), "019", is_partial=False)
    r = cat.load_opco(
        _df(spark, "019", "2024-03-01 00:00:00"),
        "019",
        is_partial=False,
        policy=ValidationPolicy.SKIP,
    )
    assert (r.rows_written_active, r.rows_written_future) == (0, 0)

    # 5. swap: FUTURE (3 rows) becomes ACTIVE; old ACTIVE truncated
    active_before = cat.table_name("019", "ACTIVE")
    cat.swap_active_future("019")
    assert cat.table_name("019", "FUTURE") == active_before
    assert spark.read.parquet(
        cat.table_path(cat.table_name("019", "ACTIVE"))
    ).count() == 3
    assert cat.table_is_empty(cat.table_name("019", "FUTURE"))


def test_partial_dual_write_during_running_export(spark, root):
    cat = VersionedCatalog(spark, root)
    cat.init_opco("020")
    # FUTURE empty + full export running with this opco → dual write
    r = cat.load_opco(
        _df(spark, "020", "2024-01-05 00:00:00"),
        "020",
        is_partial=True,
        running_export_opcos={"020", "021"},
    )
    assert (r.rows_written_active, r.rows_written_future) == (1, 1)
    # opco not in running export → ACTIVE only
    cat.init_opco("022")
    r = cat.load_opco(
        _df(spark, "022", "2024-01-05 00:00:00"),
        "022",
        is_partial=True,
        running_export_opcos={"020"},
    )
    assert (r.rows_written_active, r.rows_written_future) == (1, 0)


def test_catalog_isolated_per_opco(spark, root):
    cat = VersionedCatalog(spark, root)
    cat.init_opco("019")
    cat.init_opco("020")
    cat.load_opco(_df(spark, "019", "2024-01-05 00:00:00"), "019", is_partial=True)
    assert cat.table_is_empty(cat.table_name("020", "ACTIVE"))
    assert not cat.table_is_empty(cat.table_name("019", "ACTIVE"))


def _snapshot(path):
    """{relative file path: bytes} of a directory tree."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def _garble(path):
    """Overwrite every parquet file under ``path`` with non-parquet bytes
    (dropping the local checksums, so the read fails on the format)."""
    for name in os.listdir(path):
        if name.endswith(".crc"):
            os.remove(os.path.join(path, name))
        elif name.endswith(".parquet"):
            with open(os.path.join(path, name), "wb") as fh:
                fh.write(b"not a parquet file")


def _future_date(spark, cat, opco):
    return (
        spark.read.parquet(cat.catalog_path)
        .filter((F.col("opco_id") == opco) & (F.col("table_type") == "FUTURE"))
        .first()["effective_date"]
    )


def test_unreadable_catalog_raises_and_keeps_other_opcos(spark, root):
    """An existing catalog that cannot be read is an error, never "no
    catalog": registering a new opco must not rewrite it with only that
    opco's rows."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("001")
    cat.init_opco("002")
    _garble(cat.catalog_path)
    before = _snapshot(cat.catalog_path)
    with pytest.raises(Exception, match="(?i)parquet"):
        cat.init_opco_if_absent("003")
    assert _snapshot(cat.catalog_path) == before
    assert sorted(os.listdir(root)) == ["_catalog"]


def test_unreadable_future_fails_full_load(spark, root):
    """Under FAIL, a FUTURE table that exists but cannot be read must not
    pass for empty and let a full export load into it."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("019")
    cat.load_opco(
        _df(spark, "019", "2024-01-05 00:00:00"), "019",
        is_partial=True, running_export_opcos={"019"},
    )
    future = cat.table_path(cat.table_name("019", "FUTURE"))
    _garble(future)
    before_catalog, before_future = _snapshot(cat.catalog_path), _snapshot(future)
    with pytest.raises(Exception, match="(?i)parquet"):
        cat.load_opco(
            _df(spark, "019", "2024-02-01 00:00:00"), "019", is_partial=False
        )
    assert _snapshot(cat.catalog_path) == before_catalog
    assert _snapshot(future) == before_future


def test_observed_counts_match_tables(spark, root):
    """The row counts observed on the appends equal the rows read back."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("020")
    r = cat.load_opco(
        _df(spark, "020", "2024-01-05 00:00:00", "2024-01-06 00:00:00"), "020",
        is_partial=True, running_export_opcos={"020"},
    )

    def rows(table_type):
        return spark.read.parquet(
            cat.table_path(cat.table_name("020", table_type))
        ).count()

    assert (r.rows_written_active, r.rows_written_future) == (
        rows("ACTIVE"), rows("FUTURE")
    ) == (2, 2)


def test_full_export_date_is_min_of_future(spark, root):
    """The effective date observed on the FUTURE append of a full export
    equals min(effective_date) read back from FUTURE."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("019")
    r = cat.load_opco(
        _df(spark, "019", "2024-02-03 10:00:00", "2024-02-01 08:30:00",
            "2024-02-02 00:00:00"),
        "019",
        is_partial=False,
    )
    back = (
        spark.read.parquet(cat.table_path(cat.table_name("019", "FUTURE")))
        .agg(F.date_format(F.min("effective_date"), "yyyy-MM-dd HH:mm:ss"))
        .first()[0]
    )
    assert r.effective_date == _future_date(spark, cat, "019") == back
    assert back == "2024-02-01 08:30:00"


def test_date_unchanged_when_future_was_nonempty(spark, root):
    """Partial dual-writes and FORCE full exports into a non-empty FUTURE
    leave the recorded effective date alone, even with earlier dates."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("019")
    cat.load_opco(_df(spark, "019", "2024-02-01 00:00:00"), "019", is_partial=False)
    r = cat.load_opco(_df(spark, "019", "2023-12-01 00:00:00"), "019", is_partial=True)
    assert (r.rows_written_active, r.rows_written_future, r.effective_date) == (1, 1, None)
    assert _future_date(spark, cat, "019") == "2024-02-01 00:00:00"
    r = cat.load_opco(
        _df(spark, "019", "2023-11-01 00:00:00"), "019",
        is_partial=False, policy=ValidationPolicy.FORCE,
    )
    assert (r.rows_written_future, r.effective_date) == (1, None)
    assert _future_date(spark, cat, "019") == "2024-02-01 00:00:00"


def test_load_opco_reads_the_catalog_once(spark, root, monkeypatch):
    """A load reads the catalog once, both for an opco it registers and
    for one already registered, and the effective-date rewrite made from
    the rows registration wrote keeps every other opco's rows."""
    cat = VersionedCatalog(spark, root)
    cat.init_opco("001")
    reads = []
    read = VersionedCatalog._read_catalog

    def counted(self):
        reads.append(1)
        return read(self)

    monkeypatch.setattr(VersionedCatalog, "_read_catalog", counted)
    full = cat.load_opco(
        _df(spark, "019", "2024-02-03 00:00:00", "2024-02-01 00:00:00"), "019",
        is_partial=False,
    )
    assert len(reads) == 1
    partial = cat.load_opco(
        _df(spark, "001", "2024-01-05 00:00:00"), "001", is_partial=True,
    )
    assert len(reads) == 2
    monkeypatch.undo()
    assert (full.rows_written_future, full.effective_date) == (2, "2024-02-01 00:00:00")
    assert (partial.rows_written_active, partial.rows_written_future) == (1, 0)
    assert _future_date(spark, cat, "019") == "2024-02-01 00:00:00"
    assert sorted(
        (r["opco_id"], r["table_type"])
        for r in spark.read.parquet(cat.catalog_path).collect()
    ) == [("001", "ACTIVE"), ("001", "FUTURE"), ("019", "ACTIVE"), ("019", "FUTURE")]
