"""Scenario goldens for the SCD-1 merge engine (SURVEY §2.3 J9, §2.10
R4/R6/R7).

Expected values were traced through the reference implementation
(``/root/reference/models/listing.py:103-167`` compare) per scenario
and hard-coded here.  run_date is pinned to 2026-01-31, so the
availability branch stamps sold_at with 2026-01-01.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from real_estate_etl_dev_spark.operators.merge import (
    MERGE_FIELDS,
    apply_tombstones,
    change_log,
    merge_listings,
)
from real_estate_etl_dev_spark.operators.rules import backfill_sold_at

RUN_DATE = "2026-01-31"
STAMP = dt.datetime(2026, 1, 1)

SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("price", LongType()),
        StructField("currency", StringType()),
        StructField("availability", StringType()),
        StructField("is_available", BooleanType()),
        StructField("is_off_plan", BooleanType()),
        StructField("image_url", StringType()),
        StructField("description", StringType()),
        StructField("location", StringType()),
        StructField("leasehold_years", DoubleType()),
        StructField("contract_type", StringType()),
        StructField("property_type", StringType()),
        StructField("bedrooms", DoubleType()),
        StructField("bathrooms", DoubleType()),
        StructField("build_size", DoubleType()),
        StructField("land_size", DoubleType()),
        StructField("land_zoning", StringType()),
        StructField("property_id", StringType()),
        StructField("listed_date", StringType()),
        StructField("sold_at", TimestampType()),
    ]
)

BASE = dict(
    price=100000,
    currency="IDR",
    availability="Available",
    is_available=True,
    is_off_plan=False,
    image_url="img1",
    description="old desc",
    location="Loc1",
    leasehold_years=None,
    contract_type="Freehold",
    property_type="Villa",
    bedrooms=2.0,
    bathrooms=1.0,
    build_size=100.0,
    land_size=200.0,
    land_zoning=None,
    property_id="P1",
    listed_date="2024-01-15",
    sold_at=None,
)


def row(url, **over):
    d = {**BASE, "url": url, **over}
    return tuple(d[f.name] for f in SCHEMA.fields)


def run_merge(spark, cur_rows, stg_rows):
    cur = spark.createDataFrame(cur_rows, SCHEMA)
    stg = spark.createDataFrame(stg_rows, SCHEMA)
    out = merge_listings(cur, stg, run_date=RUN_DATE)
    return {r["url"]: r.asDict() for r in out.collect()}


def test_merge_core_scenarios(spark):
    cur = [
        row("u1"),                                       # changed price
        row("u2"),                                       # price sentinel
        row("u3"),                                       # flip to Sold, no staging sold_at
        row("u4"),                                       # flip to Sold + staging sold_at
        row("u5", leasehold_years=25.0),                 # overwrite-to-null
        row("u6", image_url="", location=None),          # fill empties
        row("u7"),                                       # untouched (no staging)
        row("u8", availability="Sold", is_available=False,
            sold_at=dt.datetime(2025, 12, 1)),           # back to Available
    ]
    stg = [
        row("u1", price=150000),
        row("u2", price=-1),
        row("u3", availability="Sold", is_available=False),
        row("u4", availability="Sold", is_available=False, sold_at=dt.datetime(2026, 1, 1)),
        row("u5", leasehold_years=None),
        row("u6", image_url="img2", location="L2"),
        row("u9", price=777000, property_type="Land"),   # brand-new insert
        row("u8", availability="Available", is_available=True, sold_at=None),
    ]
    got = run_merge(spark, cur, stg)

    assert got["u1"]["price"] == 150000 and got["u1"]["n_changes"] == 1
    assert [c["field"] for c in got["u1"]["changes"]] == ["price"]

    assert got["u2"]["price"] == 100000 and got["u2"]["n_changes"] == 0

    # availability flip: value quirk — availability column KEEPS old;
    # is_available forced false; the sold_at stamp is then undone by
    # the trailing sold_at overwrite (staging carried NULL).
    u3 = got["u3"]
    assert u3["availability"] == "Available" and u3["is_available"] is False
    assert u3["sold_at"] is None
    assert [(c["field"], c["old"], c["new"]) for c in u3["changes"]] == [
        ("availability", "Available", "Sold"),
        ("sold_at", "2026-01-01 00:00:00", None),
    ]

    u4 = got["u4"]
    assert u4["is_available"] is False and u4["sold_at"] == dt.datetime(2026, 1, 1)
    assert [c["field"] for c in u4["changes"]] == ["availability"]

    assert got["u5"]["leasehold_years"] is None
    assert [c["field"] for c in got["u5"]["changes"]] == ["leasehold_years"]

    u6 = got["u6"]
    assert u6["image_url"] == "img2" and u6["location"] == "L2"
    assert [c["field"] for c in u6["changes"]] == ["image_url", "location"]

    u7 = got["u7"]
    assert u7["n_changes"] == 0 and not u7["is_new"] and u7["price"] == 100000

    u8 = got["u8"]
    assert u8["availability"] == "Available" and u8["is_available"] is True
    assert u8["sold_at"] is None
    assert [c["field"] for c in u8["changes"]] == [
        "availability",
        "is_available",
        "sold_at",
    ]

    u9 = got["u9"]
    assert u9["is_new"] and u9["n_changes"] == 0 and u9["price"] == 777000
    assert u9["tab"] == "ALL LAND"  # classified on insert


def test_merge_never_unfills(spark):
    cur = [row("a", is_off_plan=True), row("b"), row("c", price=0)]
    stg = [row("a", is_off_plan=False), row("b", description=""), row("c", price=90000)]
    got = run_merge(spark, cur, stg)
    assert got["a"]["is_off_plan"] is True and got["a"]["n_changes"] == 0
    assert got["b"]["description"] == "old desc" and got["b"]["n_changes"] == 0
    assert got["c"]["price"] == 90000  # fill over falsy old


def test_change_log_explode(spark):
    cur = [row("u1")]
    stg = [row("u1", price=150000, location="L2")]
    out = merge_listings(
        spark.createDataFrame(cur, SCHEMA),
        spark.createDataFrame(stg, SCHEMA),
        run_date=RUN_DATE,
    )
    log = {(r["field"]): (r["old"], r["new"]) for r in change_log(out).collect()}
    assert log == {"price": ("100000", "150000"), "location": ("Loc1", "L2")}


def test_tombstones_and_backfill(spark):
    cur = spark.createDataFrame(
        [row("u1"), row("u2", is_available=False, sold_at=None)], SCHEMA
    ).withColumn("updated_at", F.lit("2026-03-15 10:00:00").cast("timestamp"))
    tombs = spark.createDataFrame([("u1",)], "url string")
    out = {
        r["url"]: r.asDict()
        for r in apply_tombstones(cur, tombs, run_date=RUN_DATE).collect()
    }
    assert out["u1"]["availability"] == "Delisted"
    assert out["u1"]["is_available"] is False
    assert out["u1"]["sold_at"] == STAMP
    assert out["u2"]["availability"] == "Available"

    # R7: month before updated_at, day 1 (ref fill_missing_sold_at.py)
    filled = cur.withColumn(
        "sold_at", backfill_sold_at("is_available", "sold_at", "updated_at")
    )
    got = {r["url"]: r["sold_at"] for r in filled.collect()}
    assert got["u1"] is None  # available → untouched
    assert got["u2"] == dt.datetime(2026, 2, 1)


# --- tag reconcile: the second, smaller merge engine -----------------------


def test_tag_reconcile_states(spark):
    from real_estate_etl_dev_spark.operators.tags import reconcile_tags

    cur = spark.createDataFrame(
        [
            ("p1", "no_price", False, False),   # still failing -> open
            ("p1", "no_title", False, False),   # disappeared -> auto_solved
            ("p2", "no_price", True, False),    # recurs but solved -> acknowledged
            ("p2", "no_title", False, True),    # recurs but ignored -> acknowledged
        ],
        "property_id string, name string, is_solved boolean, is_ignored boolean",
    )
    obs = spark.createDataFrame(
        [
            ("p1", "no_price"),
            ("p1", "no_price"),      # duplicate observation collapses
            ("p2", "no_price"),
            ("p2", "no_title"),
            ("p3", "no_location"),   # brand new property/tag
        ],
        "property_id string, name string",
    )
    got = {
        (r["property_id"], r["name"]): (r["is_solved"], r["is_ignored"], r["state"])
        for r in reconcile_tags(cur, obs).collect()
    }
    assert got == {
        ("p1", "no_price"): (False, False, "open"),
        ("p1", "no_title"): (True, False, "auto_solved"),
        ("p2", "no_price"): (True, False, "acknowledged"),
        ("p2", "no_title"): (False, True, "acknowledged"),
        ("p3", "no_location"): (False, False, "new"),
    }
    # idempotence: feeding the reconciled table back with the same
    # observations changes nothing but auto_solved -> acknowledged
    out1 = reconcile_tags(cur, obs).drop("state")
    out2 = reconcile_tags(out1, obs)
    states = {
        (r["property_id"], r["name"]): r["state"] for r in out2.collect()
    }
    assert states[("p1", "no_title")] == "acknowledged"  # stays solved
    assert states[("p1", "no_price")] == "open"


def test_tag_reconcile_null_is_solved_not_new(spark):
    """ADVICE r02: an existing tag row with is_solved NULL must be
    treated as existing (state != 'new') and keep its is_ignored."""
    from real_estate_etl_dev_spark.operators.tags import reconcile_tags

    cur = spark.createDataFrame(
        [("p1", "no_price", None, True)],
        "property_id string, name string, is_solved boolean, is_ignored boolean",
    )
    obs = spark.createDataFrame(
        [("p1", "no_price")], "property_id string, name string"
    )
    (r,) = reconcile_tags(cur, obs).collect()
    # was_closed: is_ignored=True → acknowledged, never 'new'
    assert r["state"] == "acknowledged"
    assert r["is_ignored"] is True


def test_tombstones_shuffled_join_path(spark):
    """broadcast_tombstones=False must produce identical results via a
    non-broadcast join (ADVICE r02: large delisting batches)."""
    cur = spark.createDataFrame([row("u1"), row("u2")], SCHEMA)
    tombs = spark.createDataFrame([("u1",)], "url string")
    a = {
        r["url"]: r["availability"]
        for r in apply_tombstones(cur, tombs, run_date=RUN_DATE).collect()
    }
    b = {
        r["url"]: r["availability"]
        for r in apply_tombstones(
            cur, tombs, run_date=RUN_DATE, broadcast_tombstones=False
        ).collect()
    }
    assert a == b == {"u1": "Delisted", "u2": "Available"}


def test_merge_staging_last_write_wins(spark):
    """staging_order_col keeps exactly the highest-order staging row
    per key before the full-outer join (duplicate-staging guard)."""
    cur = spark.createDataFrame([row("u1", price=100000)], SCHEMA)
    stg = (
        spark.createDataFrame(
            [row("u1", price=111111), row("u1", price=222222)], SCHEMA
        )
        .withColumn(
            "batch_seq", F.when(F.col("price") == 222222, 2).otherwise(1)
        )
    )
    out = merge_listings(cur, stg, run_date=RUN_DATE, staging_order_col="batch_seq")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["price"] == 222222


def test_scd2_null_is_current_passes_through_as_closed(spark):
    """A history row whose is_current is NULL must survive the merge
    (as a closed pass-through), not vanish from both branches — the
    silent-loss hazard the coalesce in merge_scd2 guards against."""
    from real_estate_etl_dev_spark.operators.merge import merge_scd2

    hist = spark.createDataFrame(
        [
            (1, "A", dt.datetime(2020, 1, 1), None, True),
            (1, "Z", dt.datetime(2010, 1, 1), dt.datetime(2020, 1, 1), None),
            (2, "B", dt.datetime(2020, 1, 1), None, True),
        ],
        "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "A2", dt.datetime(2026, 1, 1))],
        "k int, attr string, eff timestamp",
    )
    out = merge_scd2(hist, upd, key="k", attrs=["attr"], effective="eff")
    rows = {(r.k, r.attr, bool(r.is_current) if r.is_current is not None else None)
            for r in out.collect()}
    # the NULL-flag legacy row is retained
    assert (1, "Z", False) in rows or (1, "Z", None) in rows
    # key 1 closed its open A row and opened A2; key 2 untouched
    assert (1, "A", False) in rows
    assert (1, "A2", True) in rows
    assert (2, "B", True) in rows
    assert out.count() == 4


def test_scd2_unchanged_update_is_passthrough(spark):
    """An update identical to the open row's attributes must NOT close
    or duplicate the interval."""
    from real_estate_etl_dev_spark.operators.merge import merge_scd2

    hist = spark.createDataFrame(
        [(1, "A", dt.datetime(2020, 1, 1), None, True)],
        "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "A", dt.datetime(2026, 1, 1))], "k int, attr string, eff timestamp"
    )
    out = merge_scd2(hist, upd, key="k", attrs=["attr"], effective="eff").collect()
    assert len(out) == 1
    assert out[0].is_current and out[0].valid_to is None


def test_pit_asof_formulation_matches_interval_join(spark):
    """pit_segment_revenue's docstring promises the deep-history swap:
    sort versions and AS-OF join on valid_from gives the SAME
    attribution as the interval-containment join.  Prove it on the
    query's own fixture at sf0.001."""
    from pyspark.sql import functions as F
    from real_estate_etl_dev_spark.operators.asof import asof_join
    from real_estate_etl_dev_spark.plans.catalog import CATALOG
    from real_estate_etl_dev_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    interval = {
        (r.segment_at_order_time, r.n_orders)
        for r in CATALOG["pit_segment_revenue"].fn(spark, sf).collect()
    }

    c = load_table(spark, sf, "customer")
    versions = (
        c.select(
            F.col("c_custkey").alias("ck"),
            F.col("c_mktsegment").alias("segment"),
            F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        )
        .unionByName(
            c.filter(
                (F.col("c_custkey") % 7 == 0)
                & (F.col("c_mktsegment") != "MACHINERY")
            ).select(
                F.col("c_custkey").alias("ck"),
                F.lit("MACHINERY").alias("segment"),
                F.lit("1998-07-01").cast("timestamp").alias("valid_from"),
            )
        )
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").alias("ts"),
    )
    joined = asof_join(
        o,
        versions.withColumnRenamed("valid_from", "ts"),
        on="ck",
        payload=["segment"],
    )
    asof = {
        (r.segment, r.n)
        for r in joined.groupBy(F.col("r_segment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert asof == {(s, n) for s, n in interval}


def test_streaming_merge_keeps_one_output_dir(spark, sf_dir, tmp_path, monkeypatch):
    """Each streaming_merge_scd1 call deletes the previous call's
    publish dir, so N calls leave at most one; the last frame still
    reads back the full merge.  The temp root is the test's own, so a
    process running the query beside it cannot add dirs to the count."""
    import glob
    import tempfile

    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    from tests.oracle_harness import compare

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pattern = f"{tmp_path}/stream_merge_out_*"
    q = CATALOG["streaming_merge_scd1"]
    for _ in range(3):
        df = q.fn(spark, sf_dir)
    assert len(glob.glob(pattern)) <= 1
    problems = compare(spark, sf_dir, lambda s, d: df, q.oracle)
    assert not problems, "; ".join(problems)


def test_streaming_merge_output_dir_removed_at_exit(tmp_path):
    """The last call's publish dir does not outlive the interpreter."""
    import os
    import subprocess
    import sys

    out = tmp_path / "stream_merge_out_last"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"")
    code = (
        "import real_estate_etl_dev_spark.plans.merging as m; "
        f"m._stream_merge_out = {str(out)!r}"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)
    assert not out.exists()
