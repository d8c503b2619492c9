"""Structured Streaming tests (SURVEY §2.12): the certification
harness (drop, memory sink, publish), windowed counts, foreachBatch
merge, stateful queue status."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from real_estate_etl_dev_spark.session import conf_scope
from real_estate_etl_dev_spark.streaming import ingest
from real_estate_etl_dev_spark.streaming.ingest import (
    queue_status_stream,
    run_merge_sink,
    stream_source,
    windowed_counts,
)

SCHEMA = "url string, scraped_at timestamp, price long, availability string"


def write_batch(tmp_path, name, rows):
    p = tmp_path / "in"
    p.mkdir(exist_ok=True)
    with open(p / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_ingest_dedup_availablenow(spark, tmp_path):
    """An availableNow run of a watermarked (url, ts) dedup into the
    memory sink drops the exact duplicate and keeps distinct urls."""
    path = write_batch(
        tmp_path,
        "b1.json",
        [
            {"url": "u1", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "Available"},
            {"url": "u1", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "Available"},
            {"url": "u2", "scraped_at": "2026-01-01T01:00:00Z", "price": 2, "availability": "Sold"},
        ],
    )
    stream = stream_source(spark, path, SCHEMA).withWatermark(
        "scraped_at", "1 hour"
    ).dropDuplicates(["url", "scraped_at"])
    with ingest.memory_sink(stream, str(tmp_path / "cp1"), "append") as sink:
        got = sorted(r["url"] for r in sink.collect())
    assert got == ["u1", "u2"]  # dup dropped


def test_windowed_counts(spark, tmp_path):
    rows = [
        {"url": "a", "scraped_at": "2026-01-01T00:10:00Z", "price": 1, "availability": "x"},
        {"url": "b", "scraped_at": "2026-01-01T00:50:00Z", "price": 1, "availability": "x"},
        {"url": "c", "scraped_at": "2026-01-01T01:10:00Z", "price": 1, "availability": "x"},
    ]
    path = write_batch(tmp_path, "b1.json", rows)
    src = stream_source(spark, path, SCHEMA).withColumn("event_type", F.lit("e"))
    agg = windowed_counts(src, ts_col="scraped_at", window="1 hour")
    with ingest.memory_sink(agg, str(tmp_path / "cp2"), "complete") as sink:
        got = {str(r["window_start"]): r["n"] for r in sink.collect()}
    assert list(sorted(got.values())) == [1, 2]  # 2 in hour-0, 1 in hour-1


def test_foreachbatch_merge(spark, tmp_path):
    from tests.test_merge import BASE, SCHEMA as MERGE_SCHEMA, row

    current = spark.createDataFrame([row("u1"), row("u2")], MERGE_SCHEMA)
    staging_rows = [
        {**BASE, "url": "u1", "price": 150000},
        {**BASE, "url": "u3", "price": 999},
    ]
    path = tmp_path / "stg"
    path.mkdir()
    with open(path / "b.json", "w") as f:
        for r in staging_rows:
            f.write(json.dumps({k: v for k, v in r.items() if v is not None}) + "\n")
    stream = spark.readStream.schema(MERGE_SCHEMA).json(str(path))

    results = {}

    def publish(df, batch_id):
        results[batch_id] = {r["url"]: r.asDict() for r in df.collect()}

    run_merge_sink(
        stream,
        current_supplier=lambda: current,
        publish=publish,
        run_date="2026-01-31",
        checkpoint=str(tmp_path / "cp3"),
    )
    merged = results[0]
    assert merged["u1"]["price"] == 150000 and merged["u1"]["n_changes"] == 1
    assert merged["u2"]["n_changes"] == 0          # untouched carry
    assert merged["u3"]["is_new"] and merged["u3"]["price"] == 999


def test_queue_status_state(spark, tmp_path):
    rows = [
        {"url": "u1", "status": "Available"},
        {"url": "u1", "status": "Error"},
        {"url": "u2", "status": "Sold"},
        {"url": "u2", "status": "Available"},
    ]
    path = tmp_path / "q"
    path.mkdir()
    with open(path / "b.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("url string, status string").json(str(path))
    out = queue_status_stream(stream)
    with ingest.memory_sink(out, str(tmp_path / "cp4"), "update") as sink:
        got = {r["url"]: (r["status"], r["n_events"]) for r in sink.collect()}
    assert got == {"u1": ("Error", 2), "u2": ("Sold", 2)}  # max-severity wins


# --- restarts from a checkpoint: late data, stateful status ----------------


def _run_once(stream, checkpoint, sink, mode="append"):
    # foreachBatch sink: the memory sink cannot recover stateful
    # queries (windowed aggregates, applyInPandasWithState) from a
    # checkpoint.
    ingest.run_available_now(
        stream.writeStream.foreachBatch(
            lambda df, _bid: sink.extend(df.collect())
        ).outputMode(mode),
        checkpoint,
    )


def test_windowed_counts_drops_late_data(spark, tmp_path):
    rows = [
        {"url": "a", "scraped_at": "2026-01-01T00:30:00Z", "price": 1, "availability": "x"},
        {"url": "b", "scraped_at": "2026-01-01T04:00:00Z", "price": 1, "availability": "x"},
    ]
    path = write_batch(tmp_path, "late1.json", rows)
    def make():
        src = stream_source(spark, path, SCHEMA).withColumn("event_type", F.lit("e"))
        return windowed_counts(src, ts_col="scraped_at", window="1 hour", delay="2 hours")

    cp = str(tmp_path / "cp_late")
    rows_out = []
    _run_once(make(), cp, rows_out)
    # watermark after run1 = 04:00 - 2h = 02:00; hour-0 window is final.
    # A late row for hour-0 must be DROPPED, not double-counted.
    write_batch(tmp_path, "late2.json", [
        {"url": "c", "scraped_at": "2026-01-01T00:40:00Z", "price": 1, "availability": "x"},
        {"url": "d", "scraped_at": "2026-01-01T04:30:00Z", "price": 1, "availability": "x"},
    ])
    _run_once(make(), cp, rows_out)
    hour0 = [r["n"] for r in rows_out if "00:00:00" in str(r["window_start"])]
    assert hour0 == [1]  # on-time row counted once, late arrival dropped


def test_queue_status_state_survives_restart(spark, tmp_path):
    """SURVEY §7.4: applyInPandasWithState under restart — state from
    run 1's checkpoint must carry into run 2's batch (counts
    accumulate, max-severity status is order-insensitive)."""
    from real_estate_etl_dev_spark.streaming.ingest import queue_status_stream

    p = tmp_path / "qr"
    p.mkdir()

    def add_batch(name, rows):
        with open(p / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run_once(sink):
        stream = spark.readStream.schema("url string, status string").json(str(p))
        _run_once(
            queue_status_stream(stream), str(tmp_path / "cp_qr"), sink, mode="update"
        )

    add_batch("b1.json", [
        {"url": "u1", "status": "Available"},
        {"url": "u1", "status": "Error"},
    ])
    rows1 = []
    run_once(rows1)
    assert {(r["url"], r["status"], r["n_events"]) for r in rows1} == {("u1", "Error", 2)}

    # restart: new batch sees the checkpointed (Error, 2) state
    add_batch("b2.json", [
        {"url": "u1", "status": "Sold"},       # higher severity wins
        {"url": "u1", "status": "Available"},  # lower severity ignored
        {"url": "u2", "status": "Delisted"},   # fresh key starts clean
    ])
    rows2 = []
    run_once(rows2)
    got2 = {(r["url"], r["status"], r["n_events"]) for r in rows2}
    assert ("u1", "Sold", 4) in got2   # 2 carried + 2 new, severity upgraded
    assert ("u2", "Delisted", 1) in got2


def test_available_now_slices_micro_batches(spark, sf_dir, tmp_path):
    """A ``drop_files`` stream must run the availableNow trigger as
    >=2 micro-batches — the property that makes the streaming catalog
    queries exercise cross-batch state rather than a single batch in
    disguise."""
    from real_estate_etl_dev_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    stream = ingest.drop_files(events, str(tmp_path / "events"))

    batch_ids = []

    def record(df, batch_id):
        batch_ids.append(batch_id)
        df.count()

    ingest.run_available_now(
        stream.writeStream.foreachBatch(record), str(tmp_path / "ckpt")
    )
    assert len(batch_ids) >= 2, batch_ids


def test_publish_batches_overwrites_per_batch(spark, sf_dir, tmp_path):
    """Every micro-batch lands under its own ``batch=<id>`` dir, and
    the read-back is the union of all of them: a multi-batch drop of
    ``event_id`` comes back complete and without duplicates."""
    from real_estate_etl_dev_spark.sources.readers import load_table

    ids = load_table(spark, sf_dir, "events").select("event_id")
    out = ingest.publish_batches(
        ingest.drop_files(ids, str(tmp_path / "in")),
        lambda df: df.withColumn("twice", F.col("event_id") * 2),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    rows = out.collect()
    assert len({r["batch"] for r in rows}) >= 2
    assert sorted(r["event_id"] for r in rows) == sorted(
        r["event_id"] for r in ids.collect()
    )
    assert all(r["twice"] == 2 * r["event_id"] for r in rows)


def test_incremental_dedup_keeps_same_text_across_langs(spark):
    """The dedup key is (lang, text), not text alone: the same text
    under two language tags is two records, and both must survive a
    corpus that contains neither (pinning the review finding that
    text-only keying made per-lang counts split-dependent)."""
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.dedup import (
        dedup_exact_keep_first,
        flag_corpus_dups,
    )

    corpus = spark.createDataFrame(
        [(1, "en", "only in corpus")], "doc_id long, lang string, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, "en", "shared words"),
            (11, "fr", "shared words"),   # same text, different lang: keep
            (12, "en", "shared words"),   # same (lang, text) as 10: drop
            (13, "en", "only in corpus"), # in corpus (same lang): drop
            (14, "fr", "only in corpus"), # corpus text but OTHER lang: keep
        ],
        "doc_id long, lang string, text string",
    )
    key = F.concat(F.col("lang"), F.lit("\n"), F.col("text")).alias("__k")
    survivors = (
        flag_corpus_dups(
            dedup_exact_keep_first(incoming.withColumn("__k", key), text_col="__k"),
            corpus.select(key),
            text_col="__k",
        )
        .filter(~F.col("in_corpus"))
    )
    assert {r.doc_id for r in survivors.collect()} == {10, 11, 14}


# --- shared harness: memory-sink run, scratch dir --------------------------

_SHUFFLE = "spark.sql.shuffle.partitions"


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _run_conf(checkpoint, key):
    """``key`` as the run recorded it in its first offset-log entry
    (the session conf live when batch 0 was planned)."""
    import os

    with open(os.path.join(checkpoint, "offsets", "0")) as f:
        return json.loads(f.read().splitlines()[1])["conf"][key]


def test_memory_sink_pins_state_partitions(spark, tmp_path):
    """A stateful memory-sink run (a watermarked stream dedup) drops the
    duplicate row, keeps 8 state partitions whatever the session's
    shuffle partitions, and leaves the session value and its temp views
    as they were."""
    import os

    path = write_batch(tmp_path, "sp.json", [
        {"url": "u1", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "x"},
        {"url": "u1", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "x"},
        {"url": "u2", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "x"},
    ])
    views = _temp_views(spark)
    cp = str(tmp_path / "cp_sp")
    stream = stream_source(spark, path, SCHEMA).withWatermark(
        "scraped_at", "1 hour"
    ).dropDuplicates(["url", "scraped_at"])
    with conf_scope(spark, **{_SHUFFLE: "3"}):
        with ingest.memory_sink(stream, cp, "append") as sink:
            assert sorted(r["url"] for r in sink.collect()) == ["u1", "u2"]
        assert spark.conf.get(_SHUFFLE) == "3"
    assert _run_conf(cp, _SHUFFLE) == "8"
    parts = [d for d in os.listdir(os.path.join(cp, "state", "0")) if d.isdigit()]
    assert len(parts) == 8, parts
    assert _temp_views(spark) == views


def test_failing_batch_cleans_up_and_restores_conf(spark):
    """A memory-sink run whose batch raises, inside scratch_dir: the
    error propagates, the pin was live while the batch ran, and the
    session value, the temp views and the workdir are all restored."""
    import os

    from real_estate_etl_dev_spark.benchmeta import scratch_dir

    views = _temp_views(spark)
    with conf_scope(spark, **{_SHUFFLE: "3"}), pytest.raises(
        Exception, match="boom in batch"
    ):
        with scratch_dir("test_harness_") as workdir:
            p = os.path.join(workdir, "in")
            os.mkdir(p)
            with open(os.path.join(p, "b.json"), "w") as f:
                f.write(json.dumps({"url": "u1"}) + "\n")
            stream = stream_source(spark, p, "url string").select(
                F.when(F.col("url") == "u1", F.raise_error(F.lit("boom in batch")))
                .otherwise(F.col("url"))
                .alias("url")
            )
            cp = os.path.join(workdir, "cp")
            try:
                with ingest.memory_sink(stream, cp, "append"):
                    pass
            finally:
                pinned = _run_conf(cp, _SHUFFLE)
                restored = spark.conf.get(_SHUFFLE)
    assert pinned == "8"  # the pin was live while the batch ran
    assert restored == "3"
    assert not os.path.exists(workdir)
    assert _temp_views(spark) == views


def test_memory_view_dropped_when_read_back_raises(spark, tmp_path):
    path = write_batch(tmp_path, "mv.json", [
        {"url": "u1", "scraped_at": "2026-01-01T00:00:00Z", "price": 1, "availability": "x"},
    ])
    views = _temp_views(spark)
    with pytest.raises(RuntimeError):
        stream = stream_source(spark, path, SCHEMA)
        with ingest.memory_sink(stream, str(tmp_path / "cp_mv"), "append") as sink:
            assert sink.count() == 1
            assert len(_temp_views(spark) - views) == 1  # the sink's view
            raise RuntimeError("read-back failed")
    assert _temp_views(spark) == views
