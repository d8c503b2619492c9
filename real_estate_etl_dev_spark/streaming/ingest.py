"""Structured Streaming variants — SURVEY §2.12.

The reference is batch (each ``scrapy crawl`` run = one micro-batch
stamped ``scraped_at = first_month()``, reid/spiders/base.py:10); the
streaming-shaped semantics it carries map onto Structured Streaming:

* micro-batch ingestion  → file source + ``Trigger.AvailableNow``
* in-run dedup           → ``withWatermark`` + ``dropDuplicatesWithinWatermark``
* monthly/tumbling aggs  → ``window()`` group with watermark
* upsert current-state   → ``foreachBatch`` into the merge engine
* queue status machine   → ``applyInPandasWithState`` keyed by url

Scale posture: state stores are keyed by url (uniform), watermarks
bound state size, and the foreachBatch merge reuses the batch merge
engine — one code path for both modes.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import conf_scope

if TYPE_CHECKING:
    import pandas as pd

try:  # pragma: no cover
    import sys

    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


def stream_source(
    spark: SparkSession, path: str, schema: str, fmt: str = "json", **options
) -> DataFrame:
    """Micro-batch file ingestion — each dropped file is a batch, the
    streaming analog of one spider run.  ``options`` pass through to the
    reader (e.g. ``maxFilesPerTrigger`` to slice availableNow runs into
    multiple micro-batches)."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    delay: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with late-data tolerance — the
    monthly-bucket analytics shape (analytics_routes.py:28-43) under
    event time."""
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def run_available_now(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Run a shaped stream writer to completion: every file available at
    start, in as many micro-batches as ``maxFilesPerTrigger`` slices
    them, then stop.  The caller shapes ``writer`` (here a memory sink,
    or ``foreachBatch(fn)``); this adds the checkpoint and
    ``Trigger.AvailableNow``, blocks until the query terminates and
    returns it (``recentProgress`` stays readable).  A failing
    micro-batch re-raises here."""
    writer = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True)
    query = writer.start()
    query.awaitTermination()
    return query


def drop_files(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` under ``path`` as 4 parquet files and return their
    file stream at 2 files per trigger, so an availableNow run takes at
    least two micro-batches and any state the stream keeps must carry
    across them (a fixture dropped as one batch would certify a batch
    query in disguise)."""
    df.repartition(4).write.parquet(path)
    return stream_source(
        df.sparkSession, path, df.schema, fmt="parquet", maxFilesPerTrigger=2
    )


# State partitions of a memory-sink run.  A stateful operator's
# partition count is fixed in the checkpoint at the first batch, and
# every state-store partition costs a commit (and, for
# ``applyInPandasWithState``, a Python-worker round trip) PER
# MICRO-BATCH: at 32 local partitions that constant cost dwarfs the
# fixtures' data.  The certification streams key a few hundred keys at
# most (windows x event types, urls, users), so 8 partitions cut that
# overhead 4x with no skew risk; a real deployment sizes this to its
# key cardinality before the first checkpoint write.  foreachBatch runs
# keep the session value: there a pin would also re-plan the batch
# shuffles inside each micro-batch.
_STATE_PARTITIONS = "8"


@contextmanager
def memory_sink(
    stream: DataFrame, checkpoint: str, output_mode: str
) -> Iterator[DataFrame]:
    """Run ``stream`` to completion into a uniquely named memory sink
    and yield the sink's table.

    ``spark.sql.shuffle.partitions`` is pinned to 8 (via
    :func:`conf_scope`, restored afterwards, also when the run raises)
    for the run only; the read-back plans under the session's own
    value.  The sink's temp view is dropped on exit, also when the run
    or the read-back raises, so repeated invocations keep no
    driver-resident copy of a result.  Read the rows back (e.g.
    ``collect_local``) inside the block."""
    spark = stream.sparkSession
    name = f"sink_{uuid.uuid4().hex[:8]}"
    try:
        with conf_scope(spark, **{"spark.sql.shuffle.partitions": _STATE_PARTITIONS}):
            writer = stream.writeStream.format("memory").queryName(name)
            run_available_now(writer.outputMode(output_mode), checkpoint)
        yield spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def publish_batches(
    stream: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Run ``stream`` to completion, overwriting ``fn(batch_df)`` at
    ``out_dir/batch=<id>`` for each micro-batch, and return the read of
    all batches (with a ``batch`` partition column).

    Overwrite per batch id is the idempotent publish for a
    non-transactional sink: a retried batch REPLACES its own output
    instead of appending a duplicate, as plain append under
    ``foreachBatch`` would."""

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        fn(batch_df).write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    run_available_now(stream.writeStream.foreachBatch(publish), checkpoint)
    return stream.sparkSession.read.parquet(out_dir)


def run_merge_sink(
    staging_stream: DataFrame,
    current_supplier,
    publish,
    run_date: str,
    checkpoint: str,
) -> StreamingQuery:
    """Upsert sink: every micro-batch full-outer merges into the
    current table via the BATCH merge engine (one code path), then
    publishes atomically.  ``current_supplier()`` -> DataFrame,
    ``publish(df, batch_id)`` persists.  Runs the stream to completion
    and returns the finished query.

    (ref ListingPipeline upsert, reid/pipelines/property.py:96-126 —
    per-item; here per micro-batch.)"""
    from ..operators.merge import merge_listings

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        merged = merge_listings(current_supplier(), batch_df, run_date=run_date)
        publish(merged.drop("changes"), batch_id)

    return run_available_now(
        staging_stream.writeStream.foreachBatch(do_merge), checkpoint
    )


QUEUE_STATE_SCHEMA = "status string, n_events long"
QUEUE_OUTPUT_SCHEMA = "url string, status string, n_events long"

_STATUS_RANK = {"Available": 0, "Error": 1, "Delisted": 2, "Sold": 3}


def _queue_status_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Queue status machine (models/queue.py:5-13 lifecycle): per url,
    keep the highest-severity status seen plus an event count.
    Deterministic under replays: max-rank is order-insensitive.

    r15 (guide §4.2): the per-row Python loop over ``pdf["status"]``
    (~|events| iterations per micro-batch) is replaced by a vectorized
    rank map + idxmax.  Same result: rank→status is injective for the
    known statuses, an unknown status ranks 0 and can therefore never
    strictly exceed the running status (the only case the old loop
    accepted), and the update stays strictly-greater-only."""
    import pandas as pd

    if state.exists:
        status, n = state.get
    else:
        status, n = "Available", 0
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            ranks = pdf["status"].map(_STATUS_RANK).fillna(0)
            i = ranks.idxmax()
            if ranks[i] > _STATUS_RANK.get(status, 0):
                status = pdf["status"][i]
    state.update((status, n))
    yield pd.DataFrame({"url": [key[0]], "status": [status], "n_events": [n]})


def queue_status_stream(updates: DataFrame) -> DataFrame:
    """Stateful per-url status tracking via applyInPandasWithState
    (the Queue url state machine as streaming state)."""
    return updates.groupBy("url").applyInPandasWithState(
        _queue_status_fn,
        outputStructType=QUEUE_OUTPUT_SCHEMA,
        stateStructType=QUEUE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
