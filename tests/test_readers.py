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
from real_estate_etl_dev_spark.sources.readers import input_signature, load_table
from tests.conftest import newest_job_id

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


def _ts_strings(df):
    return [
        r["s"]
        for r in df.selectExpr(
            "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS s"
        ).orderBy("event_id").collect()
    ]


@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_events_ts_variant_loads_as_timestamp(spark, tmp_path, variant):
    """Same instants on the first load (footer schema inferred) and on a
    second one (cached schema, no Spark job): the hit takes the same ts
    branch as the miss."""
    sf_dir = _write_events(tmp_path / variant, VARIANTS[variant])
    miss = load_table(spark, sf_dir, "events")
    before = newest_job_id(spark)
    hit = load_table(spark, sf_dir, "events")
    assert newest_job_id(spark) == before
    assert hit.schema == miss.schema
    assert miss.schema["ts"].dataType.typeName() == "timestamp"
    want = [t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in INSTANTS]
    assert _ts_strings(miss) == _ts_strings(hit) == want


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
    """A scan must never permanently mutate a (driver-owned) session,
    on a schema-cache miss or a hit."""
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    sf_dir = _write_events(tmp_path / "confcheck", pa.timestamp("us"))
    load_table(spark, sf_dir, "events").count()
    load_table(spark, sf_dir, "events").count()  # cached schema
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


def test_second_load_runs_no_spark_job(spark, sf_dir):
    """The first load infers the footer schema (a Spark job); a second
    load of the unchanged file reuses it and submits no job at all."""
    first = load_table(spark, sf_dir, "orders")
    before = newest_job_id(spark)
    second = load_table(spark, sf_dir, "orders")
    assert newest_job_id(spark) == before
    assert second.schema == first.schema


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """Rewriting events.parquet in place changes its stat signature: the
    next load returns the new schema and the new values."""
    sf_dir = _write_events(tmp_path / "rewrite", pa.timestamp("us"))
    old = load_table(spark, sf_dir, "events")
    assert "extra" not in old.columns
    table = pq.read_table(str(tmp_path / "rewrite" / "events.parquet"))
    table = table.set_column(
        table.schema.get_field_index("ts"),
        "ts",
        pa.array(INSTANTS, type=pa.timestamp("ns")),
    ).append_column("extra", pa.array([7, 8, 9], type=pa.int32()))
    pq.write_table(table, str(tmp_path / "rewrite" / "events.parquet"))
    new = load_table(spark, sf_dir, "events")
    assert new.schema["extra"].dataType.typeName() == "integer"
    assert new.schema["ts"].dataType.typeName() == "timestamp"
    assert [r.extra for r in new.orderBy("event_id").collect()] == [7, 8, 9]
    assert _ts_strings(new) == [
        t.strftime("%Y-%m-%d %H:%M:%S.%f") for t in INSTANTS
    ]


def test_part_file_rewritten_in_kept_directory_is_reinferred(spark, tmp_path):
    """A directory table is signed by its leaf files: rewriting its one
    part file in place, with the directory kept, changes the signature,
    so the next load returns the new schema and the new rows."""
    part_dir = tmp_path / "events.parquet"
    _write_events(tmp_path / "src", pa.timestamp("us", tz="UTC"))
    table = pq.read_table(str(tmp_path / "src" / "events.parquet"))
    part_dir.mkdir()
    pq.write_table(table, str(part_dir / "part-00000.parquet"))
    sig = input_signature(str(part_dir))
    old = load_table(spark, str(tmp_path), "events")
    assert "extra" not in old.columns
    pq.write_table(
        table.append_column("extra", pa.array([7, 8, 9], type=pa.int32())),
        str(part_dir / "part-00000.parquet"),
    )
    assert input_signature(str(part_dir)) != sig
    new = load_table(spark, str(tmp_path), "events")
    assert [r.extra for r in new.orderBy("event_id").collect()] == [7, 8, 9]


def test_cached_loads_self_join(spark, sf_dir):
    """Two loads of one table are distinct relations (fresh attribute
    ids): a self-join on the key resolves and matches every row once.
    Caching DataFrames instead of schemas would break this."""
    load_table(spark, sf_dir, "orders")  # warm the cache
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    n = a.count()
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == n
