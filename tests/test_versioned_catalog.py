"""VersionedCatalog runtime tests: the full ACTIVE/FUTURE lifecycle
(SURVEY.md §7.1 M4; reference find_tables_to_load, load_job.py:304-368)."""

import os
import shutil
import tempfile

import pytest

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


def test_broken_catalog_raises_instead_of_reading_as_absent(spark, root):
    """A catalog that exists but cannot be read must raise: reading it
    as absent made the next init rewrite it with only the new opco, and
    every other opco lost its ACTIVE/FUTURE pointers."""
    cat = VersionedCatalog(spark, root)
    assert cat._read_catalog() is None  # absent catalog: None, no error
    cat.init_opco("001")
    cat.init_opco("002")
    parts = [n for n in os.listdir(cat.catalog_path) if n.startswith("part-")]
    for name in parts:
        with open(os.path.join(cat.catalog_path, name), "wb") as fh:
            fh.write(b"not a parquet file")
        crc = os.path.join(cat.catalog_path, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    with pytest.raises(ETLLoadError, match="unreadable"):
        cat.init_opco_if_absent("003")
    # nothing was rewritten: the broken part files are still the catalog
    assert sorted(
        n for n in os.listdir(cat.catalog_path) if n.startswith("part-")
    ) == sorted(parts)
