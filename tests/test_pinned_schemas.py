"""Every test table is read through its pinned schema (schemas.TABLE_SCHEMAS).

Two guards: the pins must equal what Spark infers from the parquet footers
(the test data and the benchmark's generated tables), so a pin
cannot drift from the data; and building a load — or the complaints fixture
plan on top of four of them — must launch no Spark job.
"""

from __future__ import annotations

import glob
import os
import uuid

import pytest

from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark import (  # noqa: E501
    schemas,
)
from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.sources import (  # noqa: E501
    fixtures,
    readers,
)

from .conftest import SF_SMOKE

# every scale factor of the test data (SF_SMOKE's siblings)
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*")))


def _assert_pins_match_footers(spark, sf_dir, names):
    """Names, order, types and nullability, as Spark infers them."""
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        assert schemas.TABLE_SCHEMAS[name] == inferred, path
        assert readers.load_table(spark, sf_dir, name).schema == inferred, path


def test_every_testdata_file_has_a_pinned_schema():
    for sf_dir in SF_DIRS:
        on_disk = {os.path.basename(p)[: -len(".parquet")]
                   for p in glob.glob(os.path.join(sf_dir, "*.parquet"))}
        assert on_disk <= set(schemas.TABLE_SCHEMAS), sf_dir


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_pinned_schemas_match_testdata_footers(spark, sf_dir):
    names = [n for n in schemas.TESTDATA_TABLES
             if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))]
    assert names
    _assert_pins_match_footers(spark, sf_dir, names)


def test_pinned_schemas_match_benchmark_datagen(spark, tmp_path):
    from perfbench import datagen

    tables = datagen.make_tables(seed=3, n_orders=200)
    datagen.write_tables(tables, str(tmp_path))
    _assert_pins_match_footers(spark, str(tmp_path), sorted(tables))


def test_unknown_table_name_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="TABLE_SCHEMAS"):
        readers.load_table(spark, sf_dir, "complaints")


def test_loads_and_fixture_plan_launch_no_spark_job(spark, sf_dir):
    """Building every load and the complaints fixture plan is analysis only:
    no footer-inference job, no action."""
    sc = spark.sparkContext
    group = f"pinned-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build loads without an action")
    try:
        frames = [readers.load_table(spark, sf_dir, n) for n in schemas.TESTDATA_TABLES]
        frames.append(fixtures.complaints(spark, sf_dir))
        assert all(f.columns for f in frames)
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_events_stream_build_launches_no_spark_job(spark, sf_dir):
    """Starting the events stream reads through the pinned events encoding
    (readers.events_encoding): building the streaming frame runs no
    schema-inference job."""
    from consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark.streaming import (  # noqa: E501
        jobs as SJ,
    )

    sc = spark.sparkContext
    group = f"events-stream-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build the events stream without starting it")
    try:
        stream = SJ.read_events_stream(spark, sf_dir)
        assert stream.isStreaming
        assert stream.schema["ts"].dataType.typeName() == "timestamp"
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
