import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_estate_etl_dev_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Dashboard-style queries whose group-key domain is bounded at any
# scale, so their final sort runs in one task
# (``operators.analytics.order_bounded``).
BOUNDED_SORT_PANELS = (
    "monthly_order_counts", "event_type_counts", "union_sources_counts",
    "run_report_rows", "revenue_grouping_sets", "order_status_pivot",
    "revenue_by_nation", "order_status_unpivot",
)


def newest_job_id(spark) -> int:
    """Id of the newest Spark job in the status store (-1 before any),
    read after every posted listener event is delivered.  Job ids are
    sequential, so the difference of two readings counts the jobs
    submitted between them."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.length() else -1


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("real-estate-etl-dev-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE
