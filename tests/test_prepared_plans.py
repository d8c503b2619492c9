"""Prepared plans: ``Query.fn`` reuses the analyzed plan of a build that
only reads its inputs, and never serves a plan whose key has moved on.

A hit re-runs optimization, planning and every job, so these tests
check the key (inputs, conf, session) and the rules that decide which
builds are stored: no Spark job, no ``setup_span``, deterministic, and
only inputs read through ``sources.readers`` or constant leaves."""

from __future__ import annotations

import datetime as dt
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from perfbench.workloads import DASHBOARD
from real_estate_etl_dev_spark.benchmeta import setup_span
from real_estate_etl_dev_spark.plans import catalog
from real_estate_etl_dev_spark.plans.catalog import CATALOG
from real_estate_etl_dev_spark.session import conf_scope
from real_estate_etl_dev_spark.sources.readers import load_table


def _stored(name: str, sf_dir: str) -> bool:
    return (name, sf_dir) in catalog._PREPARED


def _prime(fn, spark, sf_dir):
    """Build twice: the first build may infer the input schemas (a Spark
    job, so it is not stored); the second stores the plan."""
    fn(spark, sf_dir).collect()
    return fn(spark, sf_dir).collect()


def _write_events(path, event_types) -> None:
    """One row group per row: a plan that kept the old file listing
    would read the rewritten file only up to its old length."""
    n = len(event_types)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, 12, 0, i) for i in range(n)],
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "user_id": pa.array([7] * n, type=pa.int64()),
                "event_type": pa.array(event_types),
                "value": pa.array([1.0] * n, type=pa.float64()),
                "props": pa.array([None] * n, type=pa.string()),
            }
        ),
        str(path),
        row_group_size=1,
    )


def _write_orders_dir(path, dates, part="part-00000.parquet") -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(len(dates)), type=pa.int64()),
                "o_orderdate": pa.array(dates, type=pa.date32()),
            }
        ),
        str(path / part),
        row_group_size=1,
    )


def test_input_rewritten_in_place_yields_new_rows(spark, tmp_path):
    _write_events(tmp_path / "events.parquet", ["error", "view", "click"])
    fn, sf = CATALOG["filtered_error_count"].fn, str(tmp_path)
    assert _prime(fn, spark, sf)[0].n_errors == 1
    assert _stored("filtered_error_count", sf)
    _write_events(tmp_path / "events.parquet", ["view"] * 3 + ["error"] * 9)
    assert fn(spark, sf).collect()[0].n_errors == 9


def test_recreated_input_directory_yields_new_rows(spark, tmp_path):
    orders = tmp_path / "orders.parquet"
    _write_orders_dir(orders, [dt.date(1995, 1, 5), dt.date(1995, 2, 5)])
    fn, sf = CATALOG["monthly_order_counts"].fn, str(tmp_path)
    assert [tuple(r) for r in _prime(fn, spark, sf)] == [("1995-01", 1), ("1995-02", 1)]
    assert _stored("monthly_order_counts", sf)
    shutil.rmtree(orders)
    _write_orders_dir(orders, [dt.date(1996, 3, 5)] * 3, part="part-00001.parquet")
    assert [tuple(r) for r in fn(spark, sf).collect()] == [("1996-03", 3)]


def test_part_file_rewritten_in_kept_directory_yields_new_rows(spark, tmp_path):
    orders = tmp_path / "orders.parquet"
    _write_orders_dir(orders, [dt.date(1995, 1, 5)])
    fn, sf = CATALOG["monthly_order_counts"].fn, str(tmp_path)
    assert [tuple(r) for r in _prime(fn, spark, sf)] == [("1995-01", 1)]
    assert _stored("monthly_order_counts", sf)
    # the same part file, rewritten in place: the directory is kept
    _write_orders_dir(orders, [dt.date(1995, 1, 5)] + [dt.date(1995, 2, 5)] * 8)
    assert [tuple(r) for r in fn(spark, sf).collect()] == [("1995-01", 1), ("1995-02", 8)]


def _ts_probe(spark, sf_dir):
    return load_table(spark, sf_dir, "events").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm").alias("first")
    )


def test_changed_conf_misses(spark, tmp_path):
    """The session time zone is resolved into the analyzed plan, so a
    plan prepared under one zone must not serve another."""
    _write_events(tmp_path / "events.parquet", ["view"])
    fn, sf = catalog._memoized("prepared_tz_probe", _ts_probe), str(tmp_path)
    with conf_scope(spark, **{"spark.sql.session.timeZone": "UTC"}):
        assert _prime(fn, spark, sf)[0].first == "2024-01-01 12:00"
        utc = catalog._PREPARED[("prepared_tz_probe", sf)]
    with conf_scope(spark, **{"spark.sql.session.timeZone": "America/Los_Angeles"}):
        assert fn(spark, sf).collect()[0].first == "2024-01-01 04:00"
        assert catalog._PREPARED[("prepared_tz_probe", sf)] is not utc


def _now(spark, sf_dir):
    return spark.range(1).select(
        F.current_timestamp().alias("ts"), F.current_date().alias("day")
    )


def test_current_time_resolves_per_request(spark, sf_dir):
    fn = catalog._memoized("prepared_now", _now)
    first = _prime(fn, spark, sf_dir)[0]
    assert _stored("prepared_now", sf_dir)
    time.sleep(0.01)
    hit = fn(spark, sf_dir).collect()[0]
    assert hit.ts > first.ts
    assert hit.day >= first.day


def _setup_then(spark, sf_dir):
    with setup_span("prepared_setup_span"):
        pass
    return load_table(spark, sf_dir, "region")


def _collect_then(spark, sf_dir):
    region = load_table(spark, sf_dir, "region")
    region.collect()
    return region


INELIGIBLE = {
    # a fixture write: a setup span that here runs no job
    "setup_span": _setup_then,
    # an eager step: a Spark job during the build
    "spark_job": _collect_then,
    # a nondeterministic plan over readers' input
    "nondeterministic": lambda spark, sf: load_table(spark, sf, "orders").select(
        F.rand(1).alias("r")
    ),
    # deterministic on the outer tree, nondeterministic in a subquery
    "nondeterministic_subquery": lambda spark, sf: load_table(spark, sf, "region").filter(
        F.col("r_regionkey")
        <= load_table(spark, sf, "nation")
        .filter(F.rand(1) < 0.5)
        .select(F.max("n_regionkey"))
        .scalar()
    ),
    # a leaf that is neither a file relation nor a constant
    "rdd_leaf": lambda spark, sf: load_table(spark, sf, "region").localCheckpoint(
        eager=False
    ),
}


@pytest.mark.parametrize("case", sorted(INELIGIBLE))
def test_ineligible_builds_are_not_stored(spark, sf_dir, case):
    name = f"prepared_{case}"
    fn = catalog._memoized(name, INELIGIBLE[case])
    _prime(fn, spark, sf_dir)
    assert not _stored(name, sf_dir)


def test_input_read_around_readers_is_not_stored(spark, sf_dir, tmp_path):
    """A schema-given read runs no job, but its path was not read
    through ``sources.readers``, so nothing signs it."""
    copy = tmp_path / "region_copy.parquet"
    shutil.copy(f"{sf_dir}/region.parquet", copy)

    def build(spark, sf):
        schema = load_table(spark, sf, "region").schema
        return spark.read.schema(schema).parquet(str(copy))

    fn = catalog._memoized("prepared_unrecorded", build)
    _prime(fn, spark, sf_dir)
    assert not _stored("prepared_unrecorded", sf_dir)


@pytest.mark.parametrize("around_readers", [False, True])
def test_subquery_leaves_are_checked(spark, sf_dir, tmp_path, around_readers):
    """A scalar subquery's leaves follow the same rule as the outer
    plan's: read through ``sources.readers`` or the build is not stored."""
    copy = tmp_path / "nation_copy.parquet"
    shutil.copy(f"{sf_dir}/nation.parquet", copy)

    def build(spark, sf):
        nation = load_table(spark, sf, "nation")
        if around_readers:
            nation = spark.read.schema(nation.schema).parquet(str(copy))
        top = nation.select(F.max("n_regionkey")).scalar()
        return load_table(spark, sf, "region").filter(F.col("r_regionkey") <= top)

    name = f"prepared_subquery_{around_readers}"
    fn = catalog._memoized(name, build)
    _prime(fn, spark, sf_dir)
    assert _stored(name, sf_dir) is not around_readers


@pytest.mark.parametrize(
    "name", ["streaming_merge_scd1", "snapshot_time_travel", "partition_pruned_scan"]
)
def test_stream_write_and_fixture_queries_are_never_stored(spark, sf_dir, name):
    fn = CATALOG[name].fn
    for _ in range(2):
        fn(spark, sf_dir).collect()
        assert not _stored(name, sf_dir)


@pytest.mark.parametrize("name", DASHBOARD)
def test_dashboard_panel_is_stored_after_second_build(spark, sf_dir, name):
    q = CATALOG[name]
    rows = _prime(q.fn, spark, sf_dir)
    assert _stored(name, sf_dir)
    entry = catalog._PREPARED[(name, sf_dir)]
    hit = q.fn(spark, sf_dir).collect()
    assert catalog._PREPARED[(name, sf_dir)] is entry
    assert Counter(hit) == Counter(rows) == Counter(q.fn.__wrapped__(spark, sf_dir).collect())


def test_other_session_misses(spark, sf_dir):
    fn = CATALOG["event_type_counts"].fn
    _prime(fn, spark, sf_dir)
    entry = catalog._PREPARED[("event_type_counts", sf_dir)]
    other = spark.newSession()
    assert Counter(fn(other, sf_dir).collect()) == Counter(fn(spark, sf_dir).collect())
    assert catalog._PREPARED[("event_type_counts", sf_dir)] is not entry
