"""Multimodal column plumbing — opaque binary payloads with typed
metadata, decoded/featurized via Arrow-batched ``mapInPandas``
(driver north-star component; image/audio libs are NOT in this
container, so the decode kernel is stubbed — the Spark-side schema,
partitioning, batch shape, and UDF signatures are real and tested).

Design for 100 TB: binary payloads live in their own parquet column
(columnar pruning skips them unless selected); decode runs map-only
(no shuffle) with Arrow batches bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``; features come back
as flat typed columns so downstream filters stay JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

try:  # pragma: no cover - vendored-API availability guard
    import sys

    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Treat a payload as an opaque binary column + metadata struct
    (content length, md5) — the storage shape for image/audio/video
    blobs.  Pure expressions; md5 gives a content-addressable key."""
    bin_col = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", bin_col).withColumn(
        "payload_meta",
        F.struct(
            F.length(F.col("payload")).cast("long").alias("n_bytes"),
            F.md5(F.col("payload")).alias("md5"),
        ),
    )


FAKE_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, first_byte long, last_byte long, n_tokens long"
)


def fake_feature_extractor(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Deterministic stand-in for a decode/feature kernel: maps each
    binary payload to (n_bytes, first_byte, last_byte, n_tokens).

    The plumbing is the real thing — Arrow batches in, per-partition
    pandas transform, typed flat schema out, map-only plan — only the
    kernel body is a fake.  Swap the body for image decode + resize +
    embed when the libs exist."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else None),
                    "last_byte": payloads.map(lambda b: b[-1] if len(b) else None),
                    "n_tokens": payloads.map(
                        lambda b: len(b.decode("utf-8", "ignore").split(" "))
                    ),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, FAKE_FEATURE_SCHEMA)


def frame_sample_schedule(
    df: DataFrame,
    duration_ms: Column | str,
    fps_milli: Column | str,
    max_frames: int = 8,
) -> Column:
    """Uniform-k video frame-sampling schedule as an array of
    (frame_idx, ts_ms) structs — the standard video-LM prep step
    (sample ≤ max_frames frames endpoint-inclusive across the clip),
    computed ENTIRELY in exact integer arithmetic so the schedule is
    engine-portable: fps arrives in millihertz (23.976 fps = 23976),
    total frames = duration_ms·fps_milli div 10^6, the j-th sampled
    index is the linspace floor j·(n-1) div (k-1), and each frame's
    timestamp is idx·10^6 div fps_milli milliseconds.

    The DECODE of a scheduled frame is the stubbed kernel
    (:func:`fake_feature_extractor` plumbing);
    the schedule itself is what the planner ships to the decode tier,
    and at 100 TB it is pure map-side column math — no shuffle, no
    Python."""
    dur = F.col(duration_ms) if isinstance(duration_ms, str) else duration_ms
    fps = F.col(fps_milli) if isinstance(fps_milli, str) else fps_milli
    n_frames = F.floor(
        (dur.cast("long") * fps.cast("long"))
        / F.lit(1_000_000).cast("long")
    ).cast("long")
    k = F.least(F.lit(max_frames).cast("long"), n_frames)

    def frame(j):
        idx = F.when(k > 1, F.floor((j * (n_frames - 1)) / (k - 1))).otherwise(
            F.lit(0)
        ).cast("long")
        return F.struct(
            idx.alias("frame_idx"),
            F.floor(
                (idx * F.lit(1_000_000).cast("long")) / fps.cast("long")
            )
            .cast("long")
            .alias("ts_ms"),
        )

    # Zero-frame guard: when n_frames == 0 (duration_ms * fps_milli
    # < 10^6), k == 0 and sequence(0, -1) would DESCEND in Spark,
    # emitting two spurious frame-0 entries where DuckDB's
    # generate_series(0, -1) is empty — a silent cross-engine
    # divergence.  Zero-frame clips get an empty schedule on both.
    return F.when(
        k > 0, F.transform(F.sequence(F.lit(0).cast("long"), k - 1), frame)
    ).otherwise(
        F.array().cast("array<struct<frame_idx:bigint,ts_ms:bigint>>")
    )
