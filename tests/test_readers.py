"""Reader dtype-adaptivity regression tests.

The driver has regenerated ``events.parquet`` with different physical
``ts`` types across rounds — TIMESTAMP(NANOS) (r01-r02 era) and plain
``timestamp[us]`` (r03 testdata refresh), the latter breaking the
hard-coded nanos path and 12/89 queries (VERDICT r03 item 1).  These
tests pin the contract: whatever variant the file carries, ``load_table``
surfaces one stable session-UTC TimestampType with identical values.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_estate_etl_dev_spark.planview import scan_metadata
from real_estate_etl_dev_spark.sources.readers import load_table

INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 9, 58, 778549),
    dt.datetime(2024, 3, 15, 12, 0, 0, 1),
    dt.datetime(2025, 12, 31, 23, 59, 59, 999999),
]


def _write_events(dirpath, ts_type) -> str:
    ts = pa.array(INSTANTS, type=ts_type)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 20, 30], type=pa.int64()),
            "event_type": pa.array(["click", "error", "view"]),
            "value": pa.array([1.5, 2.5, 3.5], type=pa.float64()),
            "props": pa.array(['{"k": 1}', '{"k": 2}', None]),
        }
    )
    dirpath.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(dirpath / "events.parquet"))
    return str(dirpath)


VARIANTS = {
    # r01-r02 era: parquet TIMESTAMP(NANOS) — Spark 4 reads it as
    # epoch-nanos int64 only under the legacy conf.
    "nanos": pa.timestamp("ns"),
    # r03 testdata refresh: timestamp[us], isAdjustedToUTC=false —
    # surfaces as TIMESTAMP_NTZ unless inferTimestampNTZ is disabled.
    "micros_ntz": pa.timestamp("us"),
    # UTC-adjusted micros: Spark's native TimestampType representation.
    "micros_utc": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_events_ts_variant_loads_as_timestamp(spark, tmp_path, variant):
    sf_dir = _write_events(tmp_path / variant, VARIANTS[variant])
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = [
        r["s"]
        for r in df.selectExpr(
            "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS s"
        ).orderBy("event_id").collect()
    ]
    want = [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in INSTANTS]
    assert got == want


def test_all_variants_agree(spark, tmp_path):
    """The same instants round-trip identically regardless of the file's
    physical type — downstream plans never see the variant."""
    results = []
    for variant, ts_type in sorted(VARIANTS.items()):
        sf_dir = _write_events(tmp_path / f"agree_{variant}", ts_type)
        df = load_table(spark, sf_dir, "events")
        results.append(
            [tuple(r) for r in df.orderBy("event_id").collect()]
        )
    assert results[0] == results[1] == results[2]


def test_events_load_restores_session_confs(spark, tmp_path):
    """A scan must never permanently mutate a (driver-owned) session."""
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    sf_dir = _write_events(tmp_path / "confcheck", pa.timestamp("us"))
    load_table(spark, sf_dir, "events").count()
    after = {k: spark.conf.get(k, None) for k in keys}
    assert before == after


def test_events_ts_filter_pushdown(spark, tmp_path):
    """The micros variant must keep ts-range predicate pushdown — the old
    nanos conversion expression blocked it entirely."""
    from pyspark.sql import functions as F

    sf_dir = _write_events(tmp_path / "pushdown", pa.timestamp("us"))
    df = load_table(spark, sf_dir, "events").filter(
        F.col("ts") >= "2024-02-01"
    )
    pushed = [m["PushedFilters"] for m in scan_metadata(df)]
    assert pushed and "GreaterThanOrEqual(ts" in pushed[0]
