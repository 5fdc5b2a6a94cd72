"""The declared testdata schemas: ``schemas.TESTDATA`` is what Spark
infers from each table's footer, so reading with it changes no column
type and starts no schema-inference job."""

import glob
import os

import pytest

from kgflow.schemas import TESTDATA, TESTDATA_TABLES

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))


def _assert_declared_equals_inferred(spark, sf_dir):
    for name in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        assert spark.read.schema(TESTDATA[name]).parquet(p).schema == (
            spark.read.parquet(p).schema
        ), (sf_dir, name)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_testdata_schema_equals_inferred(spark, sf_dir):
    _assert_declared_equals_inferred(spark, sf_dir)


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    """The tables the benchmark generates with pyarrow."""
    from perfbench import inputs

    d = str(tmp_path_factory.mktemp("testdata"))
    inputs.testdata(d, seed=7)
    return d


def test_perfbench_testdata_schema_equals_inferred(spark, generated):
    _assert_declared_equals_inferred(spark, generated)


def test_testdata_reader_starts_no_job(spark, generated):
    """``__spark_entry__._t`` builds every table's scan without a Spark
    job (an inferring read starts one per table to read a footer).

    A test may hand ``_t`` a narrower file than the declared table:
    ``test_contamination_probe_ac_matches_literal_token_form`` writes a
    three-column ``documents``, so ``lang`` and ``n_chars`` read as NULL
    there, and the query it runs never touches them."""
    import __spark_entry__ as entry
    from perfbench.trace import StatusReader

    status = StatusReader(spark)
    for name in TESTDATA_TABLES:
        entry._t(spark, generated, name)
    assert status.read()[0] == 0
