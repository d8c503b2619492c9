"""The staged-SQL SCD-1 kernel (``operators.merge.merge_listings``)
against its Column-API reference (``tests/merge_reference.py``), plus
pins on the work one build does.

The differential cases are drawn by hypothesis FIRST (one listing key
per case) and then merged in ONE frame per comparison, so ≥200 cases
cost one Spark job per side instead of one per case.
"""

from __future__ import annotations

import datetime as dt
import gc
import threading

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from py4j.java_gateway import GatewayClient
from pyspark.sql.types import LongType, StringType, StructField, StructType

from real_estate_etl_dev_spark import planview as pv
from real_estate_etl_dev_spark.operators.merge import merge_listings

from tests.merge_reference import reference_merge_listings
from tests.test_merge import RUN_DATE, SCHEMA, STAMP, row

N_CASES = 240

_STR = st.sampled_from([None, "", "a", "b"])
_NUM = st.sampled_from([None, 0.0, -1.0, 2.0, 25.0])
VALUES = {
    "price": st.sampled_from([None, 0, -1, 1, 150000, 5_000_000, 78_656_000_000]),
    "currency": st.sampled_from([None, "", "IDR", "USD"]),
    "availability": st.sampled_from(["Available", "Sold", None, ""]),
    "is_available": st.sampled_from([None, True, False]),
    "is_off_plan": st.sampled_from([None, True, False]),
    "property_type": st.sampled_from([None, "", "Villa", "Land"]),
    "sold_at": st.sampled_from([None, STAMP, dt.datetime(2025, 12, 1, 8, 30)]),
}
LISTING = st.fixed_dictionaries(
    {
        f.name: VALUES.get(f.name, _NUM if f.dataType.typeName() == "double" else _STR)
        for f in SCHEMA.fields[1:]
    }
)
# (kind, current fields, staging versions, current tab); "same" stages
# an exact copy of the current row, so the merge must log nothing.
CASE = st.tuples(
    st.sampled_from(["update", "insert", "carry", "same"]),
    LISTING,
    st.lists(LISTING, min_size=1, max_size=3),
    st.sampled_from([None, "DATA", "LUXURY LISTINGS", "ALL LAND"]),
)


def _draw(strategy, n: int) -> list:
    drawn = []

    @settings(
        max_examples=n,
        database=None,
        derandomize=True,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(strategy)
    def collect(x):
        drawn.append(x)

    collect()
    return drawn


@pytest.fixture(scope="module")
def cases():
    drawn = _draw(CASE, N_CASES)
    assert len(drawn) >= 200
    return drawn


def _with(schema: StructType, name: str, dtype) -> StructType:
    return StructType([*schema.fields, StructField(name, dtype)])


def _frames(spark, cases, key="url", with_tab=True, versions=False):
    """(current, staging) over all cases; with ``versions`` the staging
    side holds every drawn version with a unique ``batch_seq`` per key
    (the last version wins), else the first version only."""
    names = [key if f.name == "url" else f.name for f in SCHEMA.fields]
    cur, stg = [], []
    for i, (kind, fields, staged, tab) in enumerate(cases):
        url = f"u{i:04d}"
        if kind != "insert":
            cur.append((*row(url, **fields), tab))
        if kind == "same":
            staged = [fields]
        if kind != "carry":
            for seq, version in enumerate(staged if versions else staged[:1]):
                stg.append((*row(url, **version), seq))
    cur_df = spark.createDataFrame(cur, _with(SCHEMA, "tab", StringType())).toDF(*names, "tab")
    if not with_tab:
        cur_df = cur_df.drop("tab")
    stg_df = spark.createDataFrame(stg, _with(SCHEMA, "batch_seq", LongType()))
    stg_df = stg_df.toDF(*names, "batch_seq")
    if not versions:
        stg_df = stg_df.drop("batch_seq")
    return cur_df, stg_df


def _assert_same(got, want, key):
    assert got.schema.json() == want.schema.json()
    g = sorted(got.collect(), key=lambda r: r[key])
    w = sorted(want.collect(), key=lambda r: r[key])
    assert g == w


@pytest.mark.parametrize(
    "key,with_tab,run_date",
    [
        ("url", True, RUN_DATE),
        ("url", False, RUN_DATE),
        ("listing url", True, "2025-12-15 13:45:00"),
    ],
)
def test_kernel_matches_reference(spark, cases, key, with_tab, run_date):
    """Full rows (``changes`` included) and the schema with its
    nullability equal the Column-API reference's, over inserts,
    carry-overs, unchanged and changed rows, NULL / '' / 0 / -1 prices,
    Available / Sold / NULL availability, timestamps, a current table
    with or without ``tab`` and a key name that needs quoting."""
    cur, stg = _frames(spark, cases, key=key, with_tab=with_tab)
    kinds = {k for k, *_ in cases}
    assert kinds == {"update", "insert", "carry", "same"}
    got = merge_listings(cur, stg, key=key, run_date=run_date)
    want = reference_merge_listings(cur, stg, key=key, run_date=run_date)
    _assert_same(got, want, key)
    assert got.filter("n_changes > 0").count() > 0


def test_kernel_matches_reference_with_staging_order_col(spark, cases):
    """Duplicate staging keys resolve last-write-wins the same way."""
    cur, stg = _frames(spark, cases, versions=True)
    assert stg.count() > stg.select("url").distinct().count()
    got = merge_listings(cur, stg, run_date=RUN_DATE, staging_order_col="batch_seq")
    want = reference_merge_listings(
        cur, stg, run_date=RUN_DATE, staging_order_col="batch_seq"
    )
    _assert_same(got, want, "url")


def _small_merge_inputs(spark):
    cur = spark.createDataFrame([row("u1"), row("u2")], SCHEMA)
    stg = spark.createDataFrame([row("u1", price=150000), row("u3")], SCHEMA)
    return cur, stg


def test_dropped_changes_build_no_structs(spark):
    """A caller that drops ``changes`` (the streaming publish,
    ``merge_scd1``) never builds the per-field change structs: column
    pruning removes them from the optimized plan, because ``n_changes``
    and ``tab`` read the change flags, not the array."""
    cur, stg = _small_merge_inputs(spark)
    merged = merge_listings(cur, stg, run_date=RUN_DATE)
    assert "CreateNamedStruct" in pv.expression_classes(merged, "optimized")
    published = pv.expression_classes(merged.drop("changes"), "optimized")
    assert "CaseWhen" in published
    assert "CreateNamedStruct" not in published


def test_one_build_makes_few_py4j_round_trips(spark, monkeypatch):
    """One ``merge_listings`` build stays a few hundred py4j round trips
    (the Column-API form made ~9,500: each Column op records its
    Python call site)."""
    cur, stg = _small_merge_inputs(spark)
    gc.collect()  # earlier tests' JVM references are released first
    calls = []
    send = GatewayClient.send_command
    builder = threading.get_ident()

    def counting(self, *args, **kwargs):
        # only the build's own calls: py4j's FinalizerWorker thread
        # sends a memory-delete ("m", "d") for each Java reference
        # Python has collected, and in a full run the gc.collect()
        # above queues ~2,000 of them from earlier tests; no earlier
        # test leaves a stream or a listener running
        if threading.get_ident() == builder:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    merge_listings(cur, stg, run_date=RUN_DATE)
    monkeypatch.undo()
    assert 0 < len(calls) <= 1000, len(calls)
