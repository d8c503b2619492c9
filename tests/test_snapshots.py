"""Manifest-versioned table tier (operators/snapshots.py): the commit
protocol's contracts — immutability, atomic-manifest resolution,
latest-pointer, and refuse-to-overwrite."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_estate_etl_dev_spark.operators.snapshots import (
    publish_version,
    read_snapshot,
)


@pytest.fixture
def table_dir(tmp_path):
    d = tmp_path / "versions"
    d.mkdir()
    return str(d)


def test_snapshot_isolation_reader_pinned_to_version(spark, table_dir):
    v1 = spark.range(0, 100).select("id", F.lit("a").alias("tag"))
    publish_version(v1, table_dir, 1)
    # a reader resolves v1's manifest...
    pinned = read_snapshot(spark, table_dir, 1)
    # ...then two newer versions land
    publish_version(spark.range(0, 50).select("id", F.lit("b").alias("tag")), table_dir, 2)
    publish_version(spark.range(0, 10).select("id", F.lit("c").alias("tag")), table_dir, 3)
    # the pinned reader still sees exactly v1
    assert pinned.count() == 100
    assert pinned.agg(F.count_distinct("tag")).first()[0] == 1
    assert pinned.select("tag").first().tag == "a"


def test_latest_pointer_resolves_newest(spark, table_dir):
    publish_version(spark.range(0, 5), table_dir, 1)
    publish_version(spark.range(0, 7), table_dir, 2)
    assert read_snapshot(spark, table_dir).count() == 7


def test_publish_refuses_committed_version(spark, table_dir):
    publish_version(spark.range(0, 5), table_dir, 1)
    with pytest.raises(ValueError, match="already committed"):
        publish_version(spark.range(0, 9), table_dir, 1)
    # the refused publish must not have disturbed the committed data
    assert read_snapshot(spark, table_dir, 1).count() == 5


def test_manifest_counts_and_commit_ordering(spark, table_dir):
    m = publish_version(spark.range(0, 123), table_dir, 1)
    assert m["n_rows"] == 123
    assert m["columns"] == ["id"]
    assert all(os.path.exists(f) for f in m["files"])
    # every manifest-listed file sits inside the version directory —
    # data lands before the manifest commit point by construction
    assert all(os.sep + "v00001" + os.sep in f for f in m["files"])


def test_snapshot_diff_classifies_all_change_types(spark):
    from real_estate_etl_dev_spark.operators.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(2, "b", 25), (3, "c", 30), (4, "d", None), (5, "e", 50)],
        "k int, s string, v int",
    )
    got = {r.k: r for r in snapshot_diff(old, new, "k").collect()}
    # 1 deleted, 2 updated, 5 inserted; 3 identical and 4 identical
    # (null-safe compare) must NOT appear
    assert set(got) == {1, 2, 5}
    assert got[1].change_type == "delete" and got[1].new_v is None
    assert got[2].change_type == "update" and (got[2].old_v, got[2].new_v) == (20, 25)
    assert got[5].change_type == "insert" and got[5].old_v is None


def test_snapshot_diff_rejects_schema_mismatch(spark):
    from real_estate_etl_dev_spark.operators.snapshots import snapshot_diff

    old = spark.createDataFrame([(1, "a")], "k int, s string")
    new = spark.createDataFrame([(1, "a", 2)], "k int, s string, extra int")
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_diff(old, new, "k")
