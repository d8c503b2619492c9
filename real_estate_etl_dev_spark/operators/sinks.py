"""Sinks + run metrics — SURVEY §2.1 S13-S18, §2.4 A9.

Reference semantics: ``reid/pipelines/property.py:39-44`` (row append
→ bulk append), 53-66 (dead-letter with unique (url, error_message)),
70-87 (run report row per spider close); ``api/routers/
data_routes.py:124-142`` (batched insert — a no-op on Spark, writes
are bulk by construction); ``ml_region_prediction.py:116-118,139``
(CSV/JSON result sinks).

Scale posture: appends are partitioned by a low-cardinality run/date
column so compaction and pruning stay tractable; the upsert sink is
the merge engine (operators/merge.py) + an atomic partition rewrite;
metrics ride ``df.observe`` accumulators — zero extra passes over the
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..benchmeta import local_frame


def append_parquet(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """S13: staging append (one bulk write per batch — the reference
    commits per item)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_parquet(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """S14 companion: publish a merge result atomically by rewriting
    the target (or, with partition_by + dynamic overwrite conf, just
    the touched partitions)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S18: CSV result sink (ref ml_region_prediction.py:116-118)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """S18: JSON result sink (ref ml_region_prediction.py:139)."""
    df.write.mode("overwrite").json(path)


def dead_letter_frame(errors: DataFrame) -> DataFrame:
    """S16: dead-letter rows deduped on (url, error_message) — the
    reference's unique constraint (models/error.py:14-16) as a
    set-based dropDuplicates before append."""
    return errors.dropDuplicates(["url", "error_message"])


def observed(df: DataFrame, name: str = "run_metrics") -> tuple[DataFrame, Observation]:
    """A9/S17: accumulator-style run metrics via ``df.observe`` —
    counts ride the action that materializes the frame, no second
    pass (ref reid/pipelines/property.py:70-87 spider stats)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("error_message").isNotNull(), 1).otherwise(0)).alias(
            "n_errors"
        )
        if "error_message" in df.columns
        else F.lit(0).alias("n_errors"),
    )
    return out, obs


def run_report(
    spark,
    source: str,
    scraped_at: str,
    item_scraped_count: int,
    item_dropped_count: int,
    response_error_count: int,
    elapsed_time_seconds: float,
) -> DataFrame:
    """S17: the run-report row (ref models/report.py:7-17 shape)."""
    return local_frame(
        spark,
        [
            (
                source,
                scraped_at,
                item_scraped_count,
                item_dropped_count,
                response_error_count,
                float(elapsed_time_seconds),
            )
        ],
        "source string, scraped_at string, item_scraped_count long, "
        "item_dropped_count long, response_error_count long, elapsed_time_seconds double",
    )
