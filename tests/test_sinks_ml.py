"""Round-trip tests for sources (S11/S12), sinks (S13/S14/S16/S17/
S18/S19), observe-metrics (A9), and the ML pipeline (§2.11)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_etl_dev_spark.ml.region import (
    evaluate_accuracy,
    predict_regions,
    train_region_model,
)
from real_estate_etl_dev_spark.operators.sinks import (
    append_parquet,
    dead_letter_frame,
    observed,
    overwrite_parquet,
    run_report,
    write_csv,
    write_json,
)
from real_estate_etl_dev_spark.planview import partition_filter_columns
from real_estate_etl_dev_spark.sources.readers import read_csv_source, read_json_source


def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", None), (2, "b", "boom"), (3, "b", "boom")],
        "id long, grp string, error_message string",
    )


def test_parquet_append_and_overwrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    d = small_df(spark)
    append_parquet(d, path)
    append_parquet(d, path)
    assert spark.read.parquet(path).count() == 6  # S13: bulk appends
    overwrite_parquet(d, path)
    assert spark.read.parquet(path).count() == 3  # S14 publish step


def test_partitioned_append_prunes(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    append_parquet(small_df(spark), path, partition_by=("grp",))
    scanned = spark.read.parquet(path).filter(F.col("grp") == "b")
    assert scanned.count() == 2
    # partition pruning visible in the plan (PartitionFilters)
    assert partition_filter_columns(scanned) == {"grp"}


def test_csv_json_roundtrip(spark, tmp_path):
    d = small_df(spark).select("id", "grp")
    cpath, jpath = str(tmp_path / "c"), str(tmp_path / "j")
    write_csv(d, cpath)
    write_json(d, jpath)
    c = read_csv_source(spark, cpath)  # S12 source
    j = read_json_source(spark, jpath)  # S11 source
    assert sorted((r["id"], r["grp"]) for r in c.collect()) == [(1, "a"), (2, "b"), (3, "b")]
    assert sorted((r["id"], r["grp"]) for r in j.collect()) == [(1, "a"), (2, "b"), (3, "b")]


def test_dead_letter_dedup(spark):
    errors = spark.createDataFrame(
        [("u1", "boom"), ("u1", "boom"), ("u1", "other"), ("u2", "boom")],
        "url string, error_message string",
    )
    assert dead_letter_frame(errors).count() == 3  # S16 unique (url, msg)


def test_observed_metrics(spark):
    d, obs = observed(small_df(spark))
    d.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == 3 and got["n_errors"] == 2  # A9/S17: zero extra passes


def test_run_report_row(spark):
    r = run_report(spark, "SrcA", "2026-01-01", 10, 2, 1, 12.5).collect()[0]
    assert r["source"] == "SrcA" and r["item_scraped_count"] == 10


def region_fixture(spark, n=400):
    regions = ["canggu", "ubud", "seminyak", "uluwatu"]
    rows = []
    for i in range(n):
        r = regions[i % 4]
        t = [
            f"beautiful villa near {r} beach area",
            f"family home in central {r} district",
            f"land plot {r} rice field view",
            f"{r} modern apartment close to cafes",
        ][(i // 4) % 4]
        rows.append((i, r, t))
    return spark.createDataFrame(rows, "key long, region string, location string")


def test_ml_region_pipeline_roundtrip(spark, tmp_path):
    fixture = region_fixture(spark)
    model = train_region_model(fixture, num_trees=20)
    acc = evaluate_accuracy(model, fixture)
    assert acc > 0.95  # region token is in every location string

    pred = predict_regions(model, fixture)
    assert pred.filter(F.col("predicted_region").isNull()).count() == 0

    # S19: model artifact sink/source round trip
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    loaded = PipelineModel.load(path)
    a = {r["key"]: r["predicted_region"] for r in predict_regions(model, fixture).collect()}
    b = {r["key"]: r["predicted_region"] for r in predict_regions(loaded, fixture).collect()}
    assert a == b
