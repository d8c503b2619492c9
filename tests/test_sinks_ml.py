"""Tests for partitioned appends (S13), the dead-letter sink (S16) and
the ML pipeline with its model artifact round trip (§2.11, S19)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_etl_dev_spark.ml.region import predict_regions, train_region_model
from real_estate_etl_dev_spark.operators.sinks import dead_letter_frame
from real_estate_etl_dev_spark.planview import partition_filter_columns


def test_partitioned_append_prunes(spark, tmp_path):
    """Two hive-partitioned appends into one directory: the read-back
    holds both, and a predicate on the partition column prunes
    directories (PartitionFilters), not rows."""
    path = str(tmp_path / "p.parquet")
    d = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], "id long, grp string"
    )
    for _ in range(2):
        d.write.partitionBy("grp").mode("append").parquet(path)
    scanned = spark.read.parquet(path).filter(F.col("grp") == "b")
    assert scanned.count() == 4
    assert partition_filter_columns(scanned) == {"grp"}


def test_dead_letter_dedup(spark):
    errors = spark.createDataFrame(
        [("u1", "boom"), ("u1", "boom"), ("u1", "other"), ("u2", "boom")],
        "url string, error_message string",
    )
    assert dead_letter_frame(errors).count() == 3  # S16 unique (url, msg)


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
    pred = predict_regions(model, fixture)
    assert pred.filter(F.col("predicted_region").isNull()).count() == 0
    hits = pred.filter(F.col("predicted_region") == F.col("region")).count()
    assert hits / fixture.count() > 0.95  # region token is in every location string

    # S19: model artifact sink/source round trip
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    loaded = PipelineModel.load(path)
    a = {r["key"]: r["predicted_region"] for r in predict_regions(model, fixture).collect()}
    b = {r["key"]: r["predicted_region"] for r in predict_regions(loaded, fixture).collect()}
    assert a == b
