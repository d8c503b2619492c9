"""Lazy-build contract of the dashboard panels: once a panel has been
built and run, building it again (``Query.fn``) submits no Spark job.
Table scans reuse the footer schema ``load_table`` inferred on the
first call, so everything that runs a job waits for the action.

The warm serve path also compiles nothing: the session's codegen class
cache holds every class the 13 panels need, so a refresh in any order
reuses them instead of recompiling evicted ones."""

from __future__ import annotations

import pytest

from perfbench.workloads import DASHBOARD
from real_estate_etl_dev_spark.plans.catalog import CATALOG
from tests.conftest import BOUNDED_SORT_PANELS, newest_job_id


@pytest.mark.parametrize("name", DASHBOARD)
def test_warm_panel_build_runs_no_job(spark, sf_dir, name):
    fn = CATALOG[name].fn
    fn(spark, sf_dir).collect()  # warm: first call infers the schemas
    before = newest_job_id(spark)
    fn(spark, sf_dir)
    assert newest_job_id(spark) - before == 0


# A bounded panel sorts in its result task: its aggregate's shuffle
# stage plus that task, with no range-partition sampling job or second
# shuffle.  revenue_by_nation also broadcasts nation and customer.
WARM_COLLECT_JOBS = {name: 2 for name in BOUNDED_SORT_PANELS} | {"revenue_by_nation": 4}


@pytest.mark.parametrize("name", BOUNDED_SORT_PANELS)
def test_warm_bounded_panel_collect_jobs(spark, sf_dir, name):
    fn = CATALOG[name].fn
    fn(spark, sf_dir).collect()
    before = newest_job_id(spark)
    fn(spark, sf_dir).collect()
    assert newest_job_id(spark) - before == WARM_COLLECT_JOBS[name]


def _codegen_compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_dashboard_refresh_compiles_nothing(spark, sf_dir):
    for name in DASHBOARD:  # warm pass, catalog order
        CATALOG[name].fn(spark, sf_dir).collect()
    before = _codegen_compiles(spark)
    for name in reversed(DASHBOARD):
        CATALOG[name].fn(spark, sf_dir).collect()
    assert _codegen_compiles(spark) - before == 0
