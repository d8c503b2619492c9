"""Catalog queries for the temporal / sketch extensions: as-of join,
sessionization, rolling time-range aggregation, exact percentiles,
and HLL approximate-distinct (additive scale-path operators in the
spirit of SURVEY §2's J/W/A families; the reference has no temporal
joins — its nearest analog is the per-row latest-state probe in
reid/pipelines/property.py:96-126).

Oracle notes: event timestamps are emitted as epoch-µs BIGINTs
(``unix_micros`` ↔ ``epoch_us``) so no strftime fractional-second
format skew can flake the hash; the as-of oracle uses DuckDB's native
``ASOF LEFT JOIN``, which makes it a genuinely independent
implementation of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..benchmeta import local_frame
from ..operators.asof import asof_join, sessionize
from .catalog import query, T

_GAP_S = 1800
_US = 1_000_000


@query(
    "asof_error_click",
    """
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id,
           epoch_us(e.ts) AS ts_us,
           c.click_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS lag_us
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY e.event_id
    """,
    survey="J-asof",
    tags=("temporal",),
)
def asof_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every error event gets the most recent prior click
    by the same user (backward, ties match, left semantics).  The
    oracle is DuckDB's native ASOF LEFT JOIN — an independent engine's
    implementation of the same operator.

    Scale: union + ONE shuffle on user_id + in-partition sort; the
    payload travels as one struct.  No range join, no per-key loop.
    Clicks are pre-aggregated to one row per (user_id, ts) so the
    match is deterministic under timestamp ties."""
    events = T(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(errors, clicks, on="user_id", payload=["click_id"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "r_click_id",
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("lag_us"),
    ).withColumnRenamed("r_click_id", "click_id").orderBy("event_id")


@query(
    "event_sessions",
    f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_S * _US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
               AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(epoch_us(ts)) AS start_us,
           max(epoch_us(ts)) AS end_us,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
    survey="W-session",
    tags=("temporal",),
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session)
    + per-session rollup.  Two keyed shuffles total (window on
    user_id, then agg on (user_id, session_seq)); integer-µs gap
    arithmetic, so no double drift.  The RANGE cumulative frame makes
    timestamp-tied rows share a session deterministically — the
    DuckDB oracle's default window frame has identical semantics."""
    events = T(spark, sf_dir, "events")
    sess = sessionize(events, key="user_id", ts_col="ts", gap_seconds=_GAP_S)
    us = F.unix_micros("ts")
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "rolling_7d_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             count(*) AS n_orders,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           n_orders,
           round(rev, 2) AS revenue,
           round(sum(rev) OVER (
             ORDER BY date_diff('day', DATE '1970-01-01', d)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS revenue_7d
    FROM daily ORDER BY day
    """,
    survey="A-rolling,W-range",
    tags=("temporal",),
)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue via a RANGE window over day numbers —
    calendar-aware (missing days shrink the frame), not a ROWS-7
    approximation.

    Scale: the raw fact table is reduced by a keyed hash-agg FIRST;
    the global-ordered RANGE window then runs over one bounded row
    per calendar day (~2.4k rows for 7 years regardless of SF), so
    the single-partition sort is safe at any scale."""
    orders = T(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("rev"),
        )
        .withColumn("day_num", F.datediff("d", F.lit("1970-01-01").cast("date")))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_orders",
        F.round("rev", 2).alias("revenue"),
        F.round(F.sum("rev").over(w), 2).alias("revenue_7d"),
    ).orderBy("day")


@query(
    "price_percentiles_by_priority",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.90), 2) AS p90
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    survey="A-quantile",
    tags=("temporal",),
)
def price_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark ``percentile``
    and DuckDB ``quantile_cont`` both compute the type-7 linear
    interpolation, so the oracle is exact.

    Scale note: exact percentile shuffles the value multiset per
    group; at 100 TB swap in ``percentile_approx`` (t-digest,
    mergeable map-side partials) — same query shape."""
    orders = T(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.50)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.90)), 2).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey="A-approx",
    tags=("temporal",),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct vs the exact count, gated to
    ±5% (HLL is deterministic for fixed data, so the gate is stable;
    rsd=0.01 gives the gate ~5σ of margin — rsd=0.05 measurably
    breaches 5% on the sf0.1 user pool).  At 100 TB the approx path
    is the serve-path default: mergeable map-side sketches, no
    distinct-shuffle of the full key set."""
    events = T(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    exact = F.countDistinct("user_id")
    return (
        events.groupBy("event_type")
        .agg(exact.alias("exact_users"), approx.alias("approx_users"))
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(1.0), F.col("exact_users") * 0.05)
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "hll_sketch_mergeable_users",
    """
    SELECT count(DISTINCT user_id) AS exact_total, TRUE AS within_5pct
    FROM events
    """,
    survey="A-sketch",
    tags=("temporal",),
)
def hll_sketch_mergeable_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct count: per-event_type HLL sketches
    (``hll_sketch_agg``) re-merged with ``hll_union_agg`` into a
    global estimate — the re-aggregation pattern a 1000-executor
    rollup needs (partial sketches per partition/day, union at serve
    time; never re-scan raw keys).  Gated ±5% against the exact
    count; deterministic for fixed data."""
    events = T(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n"),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_total")
    )
    exact = events.agg(F.countDistinct("user_id").alias("exact_total"))
    return exact.crossJoin(merged).select(
        "exact_total",
        (
            F.abs(F.col("approx_total") - F.col("exact_total"))
            <= F.greatest(F.lit(1.0), F.col("exact_total") * 0.05)
        ).alias("within_5pct"),
    )


@query(
    "kll_quantile_sketch_prices",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           TRUE AS sketch_n_ok, TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
    FROM orders
    """,
    survey="A-sketch",
    tags=("temporal",),
)
def kll_quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-QUANTILE sketch: per-priority KLL sketches over
    o_totalprice (``kll_sketch_agg_double``) re-merged with
    ``kll_merge_agg_double`` into a global sketch — the quantile
    counterpart of ``hll_sketch_mergeable_users``: partial sketches
    per partition/day, union at serve time, never re-sort raw values
    (an exact distributed percentile costs a full shuffle+sort; the
    sketch is one map pass + tiny merges).

    Gate design: ``kll_sketch_get_rank_double`` only takes a FOLDABLE
    value, so the probe is inverted — read the sketch's p50/p90
    VALUES, then measure each value's EXACT rank with a second
    aggregate (avg of an indicator, map-only over a 1-row broadcast
    combine) and certify |exact_rank − q| ≤ 0.05.  KLL's compaction is
    randomized, so the certified booleans use a tolerance ~3× the
    k=200 sketch's 99%-confidence rank error (±1.65%) instead of
    pinning bytes; the sketch's tracked n, however, must equal the
    exact row count exactly."""
    orders = T(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    per = orders.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk")
    )
    merged = per.agg(F.kll_merge_agg_double("sk").alias("sk"))
    probe = merged.select(
        F.kll_sketch_get_n_double("sk").alias("sketch_n"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("q90"),
    )
    # 1-row broadcast combine: every order row checks against the two
    # sketch values; the aggregate yields the values' exact ranks.
    checked = orders.crossJoin(F.broadcast(probe)).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.first("sketch_n").alias("sketch_n"),
        F.avg((F.col("o_totalprice") <= F.col("q50")).cast("double")).alias("r50"),
        F.avg((F.col("o_totalprice") <= F.col("q90")).cast("double")).alias("r90"),
    )
    return checked.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("sketch_n") == F.col("n_orders")).alias("sketch_n_ok"),
        (F.abs(F.col("r50") - 0.5) <= 0.05).alias("p50_rank_ok"),
        (F.abs(F.col("r90") - 0.9) <= 0.05).alias("p90_rank_ok"),
    )


_BANDS = [
    ("budget", 0, 100_000),
    ("mid", 100_000, 250_000),
    ("upper", 250_000, 400_000),
    ("premium", 400_000, 550_000),
    ("luxury", 550_000, 10_000_000_000),
]
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS band, {lo} AS lo, {hi} AS hi" for n, lo, hi in _BANDS
)


@query(
    "price_band_join",
    f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT b.band, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
    survey="J-range",
    tags=("temporal",),
)
def price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: classify every order into a price band via
    an inequality join against a tiny bands dim — the tier/SLA/bucket
    lookup every analytics stack needs and equi-join can't express.

    Scale: the bands side is bounded (5 rows) and broadcast, so the
    plan is a BroadcastNestedLoopJoin — a map-side O(n·5) scan, no
    shuffle of the fact table; the only shuffle is the 5-key
    re-aggregation.  Never run an inequality join with two unbounded
    sides — bin to an equi-key first."""
    orders = T(spark, sf_dir, "orders")
    bands = local_frame(spark, _BANDS, "band string, lo long, hi long")
    p = F.col("o_totalprice")
    return (
        orders.join(
            F.broadcast(bands), (p >= F.col("lo")) & (p < F.col("hi")), "inner"
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("band")
    )


@query(
    "price_winsorized_stats",
    """
    WITH cuts AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           round(avg(o.o_totalprice), 2) AS raw_avg,
           round(avg(least(greatest(o.o_totalprice, c.p05), c.p95)), 2)
             AS winsorized_avg,
           count(*) FILTER (WHERE o.o_totalprice > c.p95) AS n_clipped_high
    FROM orders o JOIN cuts c USING (o_orderpriority)
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    survey="A-winsorize,R-outlier",
    tags=("temporal",),
)
def price_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust stats: per-group p05/p95 cuts, values clipped to
    the cuts (winsorization), plus a clipped-count audit — the
    standard guard before training on heavy-tailed numerics.

    Scale: pass 1 aggregates the cuts to |groups| rows; the join back
    broadcasts those rows so the fact table never shuffles for the
    join; pass 2 re-aggregates on the same key.  At 100 TB swap the
    exact percentile for percentile_approx (mergeable t-digest)."""
    orders = T(spark, sf_dir, "orders")
    cuts = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    p = F.col("o_totalprice")
    clipped = F.least(F.greatest(p, F.col("p05")), F.col("p95"))
    return (
        orders.join(F.broadcast(cuts), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg(p), 2).alias("raw_avg"),
            F.round(F.avg(clipped), 2).alias("winsorized_avg"),
            F.count_if(p > F.col("p95")).alias("n_clipped_high"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "salted_skew_event_sums",
    """
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey="A-skew",
    tags=("temporal",),
)
def salted_skew_event_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/layout.py:
    salted_count_sum): phase 1 groups on (key, salt) so a hot key's
    rows spread across 16 reducers, phase 2 merges the partials per
    key.  The oracle is the PLAIN group-by — salting must never change
    the answer, and the hash-match proves it.  event_type has 5 values
    over millions of rows at scale: exactly the shape where one
    reducer otherwise takes the whole table."""
    from ..operators.layout import salted_count_sum

    events = T(spark, sf_dir, "events")
    out = salted_count_sum(events, "event_type", "value", n_salts=16)
    return out.select(
        "event_type", "n", F.round("total", 2).alias("total")
    ).orderBy("event_type")


@query(
    "streaming_windowed_counts",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_day,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY window_day, event_type
    ORDER BY window_day, event_type
    """,
    survey="§2.12,A1",
    tags=("streaming",),
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 streaming windowed aggregation, batch-certified: the events
    table is dropped as FOUR parquet files and ingested by a REAL
    Structured Streaming query (``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=2`` → at least two micro-batches, so the
    aggregation state genuinely carries across batches), watermarked
    1-day tumbling windows counted per event_type.  Tumbling windows
    align to UTC midnight, so the DuckDB batch oracle is
    ``date_trunc('day', ts)`` — the streaming result must equal the
    batch group-by exactly.

    The memory/complete sink is the CERTIFICATION read-back only (all
    windows visible regardless of watermark progress on bounded data);
    the production path — append mode to files, late rows dropped past
    the watermark — is covered by tests/test_streaming.py.

    Scale: state is keyed by (window, event_type) — bounded keys; the
    watermark evicts closed windows, so state size tracks the window
    span, not the stream history."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink, windowed_counts

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")

    with scratch_dir("stream_wc_") as workdir:
        with setup_span("streaming_windowed_counts"):
            stream = drop_files(events, f"{workdir}/events")
        counts = windowed_counts(stream, ts_col="ts", window="1 day", delay="2 hours")
        with memory_sink(counts, f"{workdir}/checkpoint", "complete") as sink:
            out = sink.select(
                F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
                "event_type",
                F.col("n").cast("long").alias("n"),
            ).orderBy("window_day", "event_type")
            # |windows| × |event_types| rows (150 at sf0.01)
            return collect_local(out)


@query(
    "streaming_watermark_dedup",
    """
    WITH incoming AS (
      SELECT event_id, event_type FROM events
      UNION ALL SELECT event_id, event_type FROM events
      UNION ALL SELECT event_id, event_type FROM events WHERE event_id % 3 = 0
    )
    SELECT e.event_type,
           CAST((SELECT count(*) FROM incoming i
                 WHERE i.event_type = e.event_type) AS BIGINT) AS n_in,
           CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_kept
    FROM events e GROUP BY e.event_type ORDER BY e.event_type
    """,
    survey="streaming-dedup",
    tags=("temporal", "streaming"),
)
def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 + dedup: the ENGINE-NATIVE streaming dedup —
    ``dropDuplicatesWithinWatermark`` keyed on event_id over a real
    multi-file stream (availableNow, maxFilesPerTrigger=2, so
    duplicate copies genuinely arrive in different micro-batches and
    are dropped by state carried ACROSS batches).  Complements
    ``streaming_incremental_dedup``, which implements dedup in
    foreachBatch application code: this one certifies Spark's built-in
    stateful operator on the same crawl-recrawl shape (every event
    re-delivered once, every third one twice).

    The watermark delay is set beyond the fixture's whole event-time
    span, so no state expires and no row is late — the streaming
    result must equal exact batch DISTINCT, which is what the oracle
    checks (plus per-type input counts, pinning that the duplicate
    fan-in actually happened).  In production the delay bounds BOTH
    state size and the dedup horizon: duplicates farther apart than
    the delay are kept — that trade is the operator's contract, and
    the bounded-state posture is exactly why it scales to unbounded
    streams where the foreachBatch corpus-anti-join needs a persisted
    corpus table instead."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    incoming = events.unionByName(events).unionByName(
        events.filter(F.col("event_id") % 3 == 0)
    )

    with scratch_dir("stream_wmdedup_") as workdir:
        with setup_span("streaming_watermark_dedup"):
            stream = drop_files(incoming, f"{workdir}/incoming")
        deduped = stream.withWatermark(
            "ts", "3650 days"
        ).dropDuplicatesWithinWatermark(["event_id"])
        totals = incoming.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_in")
        )
        with memory_sink(deduped, f"{workdir}/checkpoint", "append") as sink:
            kept = sink.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_kept")
            )
            out = (
                totals.join(kept, "event_type", "left")
                .select(
                    "event_type",
                    "n_in",
                    F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                )
                .orderBy("event_type")
            )
            # |event_types| rows
            return collect_local(out)


_QSTATUS_CASE_SQL = """
      CASE event_type
        WHEN 'purchase' THEN 'Sold'
        WHEN 'error'    THEN 'Error'
        ELSE 'Available'
      END
"""


@query(
    "streaming_queue_status",
    f"""
    WITH upd AS (
      SELECT 'https://example.com/item/' || CAST(user_id AS VARCHAR) AS url,
             {_QSTATUS_CASE_SQL} AS status
      FROM events
    ),
    ranked AS (
      SELECT url,
             CASE status WHEN 'Available' THEN 0 WHEN 'Error' THEN 1
                         WHEN 'Delisted' THEN 2 ELSE 3 END AS r
      FROM upd
    )
    SELECT url,
           CASE max(r) WHEN 0 THEN 'Available' WHEN 1 THEN 'Error'
                       WHEN 2 THEN 'Delisted' ELSE 'Sold' END AS status,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY url ORDER BY url
    """,
    survey="stream-stateful-queue",
    tags=("streaming",),
)
def streaming_queue_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 CUSTOM stateful streaming operator, batch-certified: the
    reference's per-url queue lifecycle (models/queue.py:5-13 — a url's
    status escalates Available → Error → Delisted → Sold and never
    de-escalates) runs as ``applyInPandasWithState`` keyed by url
    (streaming/ingest.py:queue_status_stream), fed by a REAL
    multi-micro-batch file stream (4 files, maxFilesPerTrigger=2, so
    per-key state provably carries across batches).

    The state transition is order-insensitive (max severity rank +
    running event count), so the final state per url is expressible as
    a batch aggregate — that equivalence IS the oracle: the streaming
    fixpoint must equal DuckDB's batch max-rank/count per url exactly.
    The update-mode memory sink retains one emitted row per (url,
    micro-batch); the final state is recovered by the same monotone
    max/count aggregates, which is how an idempotent upsert sink would
    consume this stream in production.

    Scale: state is one (status, count) pair per live url — bytes per
    key; update-mode emission ships only touched keys per batch, and a
    state-store TTL (GroupStateTimeout) would bound the key set on an
    unbounded url space."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink, queue_status_stream

    events = load_table(spark, sf_dir, "events")
    updates = events.select(
        F.concat(
            F.lit("https://example.com/item/"), F.col("user_id").cast("string")
        ).alias("url"),
        F.expr(_QSTATUS_CASE_SQL).alias("status"),
    )

    rank = F.expr(
        "CASE status WHEN 'Available' THEN 0 WHEN 'Error' THEN 1"
        " WHEN 'Delisted' THEN 2 ELSE 3 END"
    )
    with scratch_dir("stream_qs_") as workdir:
        with setup_span("streaming_queue_status"):
            stream = drop_files(updates, f"{workdir}/updates")
        states = queue_status_stream(stream)
        with memory_sink(states, f"{workdir}/checkpoint", "update") as sink:
            out = (
                sink.select("url", rank.alias("r"), "n_events")
                .groupBy("url")
                .agg(
                    F.expr(
                        "CASE max(r) WHEN 0 THEN 'Available' WHEN 1 THEN 'Error'"
                        " WHEN 2 THEN 'Delisted' ELSE 'Sold' END"
                    ).alias("status"),
                    F.max("n_events").cast("long").alias("n_events"),
                )
                .orderBy("url")
            )
            # |urls| rows (~150 keys in the fixture)
            return collect_local(out)


@query(
    "streaming_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM flagged
    ),
    per_sess AS (
      SELECT user_id, sid, count(*) AS n FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS max_session_events
    FROM per_sess GROUP BY user_id ORDER BY user_id
    """,
    survey="§2.12,W-session",
    tags=("temporal", "streaming"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 + sessionization: the ENGINE-NATIVE streaming session
    operator — ``F.session_window(ts, '4 hours')`` grouped per user
    over a real multi-file stream (availableNow,
    ``maxFilesPerTrigger=2`` → ≥2 micro-batches).  Files are written
    with a round-robin repartition, so one user's events are spread
    across micro-batches and the engine must MERGE partial sessions
    across batches — the stateful behavior batch ``sessionize``
    (``operators/asof.py``) gets for free from a sorted window, and
    exactly what this query certifies.

    The DuckDB oracle is the independent batch gaps-and-islands
    implementation (lag → break flags → running session ids).  Session
    windows are half-open ``[first_ts, last_ts + gap)``, so a gap of
    exactly 4h starts a NEW session in Spark — hence the oracle's
    ``>= INTERVAL 4 HOUR`` break (verified both ways at sf0.01).

    Scale: state is keyed by (user_id, open session) and the
    production path sets a watermark to evict closed sessions, so
    state tracks concurrent OPEN sessions, not stream history.  The
    certification read-back (complete-mode memory sink) is bounded by
    |users| × |sessions|; the returned frame re-aggregates it to one
    row per user."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    with scratch_dir("stream_sess_") as workdir:
        with setup_span("streaming_session_windows"):
            stream = drop_files(events, f"{workdir}/events")
        sess = stream.groupBy(
            "user_id", F.session_window("ts", "4 hours").alias("w")
        ).agg(F.count(F.lit(1)).alias("n_events"))
        with memory_sink(sess, f"{workdir}/checkpoint", "complete") as sink:
            out = (
                sink.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_sessions"),
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.max("n_events").cast("long").alias("max_session_events"),
                )
                .orderBy("user_id")
            )
            # |users| rows
            return collect_local(out)


@query(
    "streaming_static_enrichment",
    """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    survey="§2.12,J2",
    tags=("temporal", "streaming"),
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 stream-static join: each micro-batch of the events stream
    is enriched against the STATIC customer→nation dimension (the
    standard streaming star-join: facts stream in, dims are a table),
    then aggregated per nation in complete mode.  This is the
    streaming twin of ``revenue_by_nation`` and the engine analog of
    the reference's per-item lookup enrichment
    (reid/pipelines/property.py:96-126) under continuous arrival.

    Scale: the dim side is broadcast — every micro-batch plans a
    BroadcastHashJoin with NO stream-side shuffle and NO join state
    (unlike stream-stream joins, stream-static joins are stateless by
    construction); the only state is the running (nation → count,sum)
    aggregate, bounded by |nations|.  A dim too big to broadcast
    bucketizes instead; re-broadcast per batch also picks up
    slowly-changing dim updates in production."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "n_name")
    )

    with scratch_dir("stream_enrich_") as workdir:
        with setup_span("streaming_static_enrichment"):
            stream = drop_files(events, f"{workdir}/events")
        enriched = (
            stream.join(dim, stream.user_id == dim.c_custkey, "inner")
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )
        with memory_sink(enriched, f"{workdir}/checkpoint", "complete") as sink:
            # |nations| rows
            return collect_local(sink.orderBy("n_name"))


# Count-min sketch geometry: depth 5 (five independent xxhash64
# seeds), width 1024 — eps = 2/w ≈ 0.002, so a cell overcount beyond
# 4·N/w has per-row Markov probability ≤ 1/4 and the min over 5 rows
# exceeds it with probability ≤ 4⁻⁵ ≈ 0.1% (and the check is
# deterministic for fixed data: it either always passes or always
# fails — verified passing at sf0.001/0.01/0.1).
_CMS_W = 1024
_CMS_SEEDS = (101, 102, 103, 104, 105)


def _cms_coords(col: F.Column) -> F.Column:
    """(depth, bucket) coordinate pairs for one key — the same
    expression builds the sketch and probes it."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                F.pmod(F.xxhash64(col, F.lit(s)), F.lit(_CMS_W)).alias("b"),
            )
            for i, s in enumerate(_CMS_SEEDS)
        ]
    )


@query(
    "cms_heavy_hitters_users",
    """
    WITH tot AS (SELECT count(*) AS n, count(DISTINCT user_id) AS u
                 FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n,
           TRUE AS found, TRUE AS no_underestimate, TRUE AS within_bound
    FROM events
    GROUP BY user_id
    HAVING count(*) * 20 * (SELECT u FROM tot) >= 23 * (SELECT n FROM tot)
    ORDER BY user_id
    """,
    survey="A-sketch",
    tags=("temporal",),
)
def cms_heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable FREQUENCY sketch (count-min) — completes the sketch
    trio next to ``hll_sketch_mergeable_users`` (distinct) and
    ``kll_quantile_sketch_prices`` (quantiles).  Built ENGINE-NATIVE
    as a DataFrame instead of an opaque binary: each row contributes
    (depth, xxhash64(key, seed_d) % width) coordinate pairs and the
    sketch IS ``groupBy(d, b).count()`` — a table of ≤ d·w rows.
    Partial aggregation makes the build map-side (each partition ships
    at most d·w cells, never raw keys), and two sketches merge by
    summing cells — the union-at-serve-time property the sketch
    functions' binary blobs give you, kept in plain SQL where it can
    also be stored, diffed, and re-aggregated by day/source.

    Heavy-hitter screen: keys with exact frequency ≥ 1.15× the mean
    (integer-exact threshold: ``20·u·n_k ≥ 23·n``).  The certified
    gates are the textbook CMS guarantees — ``no_underestimate``
    (est ≥ exact: CMS never undercounts, deterministic), ``found``
    (the sketch estimate clears the same threshold — implied by
    no-underestimate, so a sketch-only screen has NO false
    negatives), and ``within_bound`` (est − exact ≤ 4·N/w, the
    Markov bound at 4× the mean cell load).  Probes join the ≤ d·w
    cell table BROADCAST, so the probe side never shuffles.

    Scale: the sketch build is one map pass + a ≤ d·w-row combine
    regardless of input size; the exact per-key frame here is the
    CERTIFICATION side (the oracle needs truth), not the serve path —
    at 100 TB you keep only the sketch and a candidate heap."""
    events = T(spark, sf_dir, "events").select("user_id")
    pairs = events.select(F.explode(_cms_coords(F.col("user_id"))).alias("c")).select(
        "c.d", "c.b"
    )
    cms = pairs.groupBy("d", "b").agg(F.count(F.lit(1)).alias("cnt"))

    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    tot = events.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("user_id").alias("n_users"),
    )
    probes = exact.select(
        "user_id", "exact_n", F.explode(_cms_coords(F.col("user_id"))).alias("c")
    ).select("user_id", "exact_n", "c.d", "c.b")
    est = (
        probes.join(F.broadcast(cms), ["d", "b"], "inner")
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("exact_n") * 20 * F.col("n_users") >= 23 * F.col("n_total"))
        .select(
            "user_id",
            F.col("exact_n").cast("long").alias("exact_n"),
            (F.col("est") * 20 * F.col("n_users") >= 23 * F.col("n_total")).alias(
                "found"
            ),
            (F.col("est") >= F.col("exact_n")).alias("no_underestimate"),
            ((F.col("est") - F.col("exact_n")) * _CMS_W <= 4 * F.col("n_total")).alias(
                "within_bound"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_stream_stream_join",
    """
    SELECT e.user_id AS err_user, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_errors_with_click
    FROM events e
    JOIN events c
      ON e.event_type = 'error' AND c.event_type = 'click'
     AND e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
    GROUP BY e.user_id ORDER BY err_user
    """,
    survey="§2.12,J-stream",
    tags=("temporal", "streaming"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 stream-STREAM join: two live streams (errors, clicks —
    each its own multi-file source with ≥2 micro-batches) joined on
    user with an EVENT-TIME range constraint (click within the hour
    before the error) — the attribution-join shape (error ⟵ preceding
    click) that stream-static joins can't express because BOTH sides
    arrive continuously.  Completes the streaming join family next to
    ``streaming_static_enrichment``.

    Both sides are watermarked and the join carries the time-bound
    predicate, which is what makes the state FINITE: each side only
    buffers rows until the other side's watermark passes the range
    bound, so state tracks the 1-hour correlation window, not stream
    history.  Files are dropped round-robin, so matching pairs
    genuinely arrive in different micro-batches and must meet through
    the join state.  The fixture watermark delay spans the whole
    bounded fixture (nothing expires ⇒ the result must equal the
    batch inequality join, which is the DuckDB oracle); production
    tightens it to bound state and accepts the late-data trade.

    The append-mode sink emits each matched pair exactly once; the
    returned frame re-aggregates pairs per user."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..sources.readers import load_table
    from ..streaming.ingest import drop_files, memory_sink

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )

    with scratch_dir("stream_ssj_") as workdir:
        with setup_span("streaming_stream_stream_join"):
            se = drop_files(errors, f"{workdir}/errors")
            sc = drop_files(clicks, f"{workdir}/clicks")
        se = se.withWatermark("err_ts", "3650 days")
        sc = sc.withWatermark("click_ts", "3650 days")
        joined = se.join(
            sc,
            (F.col("err_user") == F.col("click_user"))
            & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("click_ts") <= F.col("err_ts")),
            "inner",
        )
        with memory_sink(joined, f"{workdir}/checkpoint", "append") as sink:
            out = (
                sink.groupBy(F.col("err_user").alias("err_user"))
                .agg(
                    F.count(F.lit(1)).alias("n_pairs"),
                    F.countDistinct("err_id").alias("n_errors_with_click"),
                )
                .orderBy("err_user")
            )
            # |users with an attributed error| rows
            return collect_local(out)


@query(
    "price_mad_outliers",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    med AS (
      SELECT o_orderpriority, o_totalprice AS med, n
      FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT r.o_orderpriority, m.med, m.n,
             abs(r.o_totalprice - m.med) AS d,
             row_number() OVER (PARTITION BY r.o_orderpriority
                                ORDER BY abs(r.o_totalprice - m.med),
                                         r.o_orderkey) AS drn
      FROM ranked r JOIN med m USING (o_orderpriority)
    ),
    mad AS (
      SELECT o_orderpriority, med, n, d AS mad
      FROM dev WHERE drn = (n + 1) // 2
    )
    SELECT d.o_orderpriority,
           CAST(m.n AS BIGINT) AS n_orders,
           round(m.med, 2) AS median_price,
           round(m.mad, 2) AS mad,
           CAST(count(*) FILTER (WHERE d.d > 3 * m.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY d.o_orderpriority, m.n, m.med, m.mad
    ORDER BY d.o_orderpriority
    """,
    survey="A-robust,R-outlier",
    tags=("temporal",),
)
def price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by MEDIAN ABSOLUTE DEVIATION: per
    priority group, the exact (lower) median, the exact MAD, and the
    count of orders deviating more than 3 MADs — the heavy-tail-safe
    complement to ``price_winsorized_stats`` (a single far outlier
    moves a percentile cut; it cannot move the MAD).

    Determinism: BOTH medians come from rank arithmetic
    (value at row (n+1) div 2 of a totally-ordered window, ties broken
    by o_orderkey) — each is an ELEMENT of the data, not an
    interpolation, so engine-independent to the bit; the 3×MAD
    comparison then operates on identical doubles in both engines.

    Plan: ONE scan, ONE shuffle.  Every window partitions on the same
    key, and each scalar (median, then MAD) propagates to its group's
    rows as an unbounded-frame ``max(when(rn = cut, value))`` over
    that SAME partitioning — no self-join, no broadcast, no re-scan
    (the naive three-frame formulation re-scans orders three times
    and shuffles four; the oracle SQL keeps that shape on purpose as
    the independent derivation).  The chained windows re-SORT within
    partitions (price → deviation) but never re-exchange.  At 100 TB
    swap the full-sort windows for sampled range-partition medians if
    one group outgrows an executor's sort spill."""
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    grp = Window.partitionBy("o_orderpriority")
    cut = F.expr("(n + 1) div 2")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number()
        .over(grp.orderBy("o_totalprice", "o_orderkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(grp).alias("n"),
        "o_orderkey",
    )
    with_med = ranked.withColumn(
        "med",
        F.max(F.when(F.col("rn") == cut, F.col("o_totalprice"))).over(grp),
    ).withColumn("d", F.abs(F.col("o_totalprice") - F.col("med")))
    with_mad = with_med.withColumn(
        "drn", F.row_number().over(grp.orderBy("d", "o_orderkey"))
    ).withColumn("mad", F.max(F.when(F.col("drn") == cut, F.col("d"))).over(grp))
    return (
        with_mad.groupBy("o_orderpriority")
        .agg(
            F.first("n").cast("long").alias("n_orders"),
            F.round(F.first("med"), 2).alias("median_price"),
            F.round(F.first("mad"), 2).alias("mad"),
            F.sum((F.col("d") > 3 * F.col("mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "event_funnel_counts",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage, count(*) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click_after_view', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase_after_click', count(*) FROM p
    ) ORDER BY ord
    """,
    survey="A-funnel",
    tags=("temporal",),
)
def event_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel analysis — users who viewed, then clicked AFTER
    their first view, then purchased AFTER that click: the sequential
    conversion metric (each stage's timestamp must follow the previous
    stage's), not the unordered "did all three ever" overcount.

    Plan: each stage is a conditional min-aggregation of the
    pre-filtered event type joined to the PREVIOUS stage's per-user
    frame — the stage frames only shrink (stage N ⊆ stage N-1), so at
    100 TB every inter-stage join is a broadcast of an already-reduced
    user set against a scan-pruned event slice; no sort, no window,
    no whole-table shuffle.  Funnel depth = chain length, each step
    one agg + one broadcast join."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_type")

    def stage(prev, etype: str, tcol: str, prev_t: str):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        return (
            e.join(F.broadcast(prev), "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = stage(None, "view", "t1", "")
    c = stage(v, "click", "t2", "t1")
    p = stage(c, "purchase", "t3", "t2")
    rows = [
        v.agg(F.lit(1).alias("ord"), F.lit("view").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit(2).alias("ord"), F.lit("click_after_view").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit(3).alias("ord"), F.lit("purchase_after_click").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
    ]
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return out.orderBy("ord").select("stage", "n_users")


@query(
    "user_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS week
      FROM events e
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_active
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    survey="A-cohort",
    tags=("temporal",),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid — users grouped by first-seen week, counted
    in each subsequent activity week: the (cohort × offset) triangle
    every growth dashboard is built on.

    Plan: ONE shuffle on user_id computes both the cohort assignment
    (min ts) and the distinct active weeks (dropDuplicates on
    user+week re-uses the same hash partitioning), then the per-user
    cohort joins back user-partitioned before the final small
    (cohort, offset) rollup.  Weeks are date_trunc('week') in both
    engines (Monday start) and the offset is integer day-diff div 7 —
    no timezone or interpolation ambiguity."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).dropDuplicates(["user_id", "week"])
    return (
        active.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "event_gap_stats",
    """
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) AS us,
             event_type,
             lag(epoch_us(ts)) OVER w AS prev_us,
             first_value(event_type) OVER w AS first_type,
             last_value(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS last_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_events,
           min(first_type) AS first_type,
           min(last_type) AS last_type,
           CAST(max(us - prev_us) AS BIGINT) AS max_gap_us,
           CAST(sum(us - prev_us) // (count(*) - 1) AS BIGINT)
             AS avg_gap_us
    FROM seq GROUP BY user_id
    HAVING count(*) > 1
    ORDER BY user_id
    """,
    survey="W-lag,W-firstlast",
    tags=("temporal",),
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event cadence per user via the navigation-window family
    this catalog had only used implicitly: ``lag`` for consecutive
    gaps, ``first_value``/``last_value`` (with the explicit
    unbounded-following frame last_value requires) for the session's
    bookend event types, then a rollup of max/mean gap.

    Determinism: gaps are integer microsecond differences and the mean
    is EXPLICIT integer division (div / //) of an exact integer sum —
    no float anywhere (a plain ``/`` would detour through double and
    the engines round the cast back differently); ties
    in the event order break on event_id in both engines.  Scale: ONE
    hash exchange on user_id feeds every window (same partitioning),
    and the rollup groups on the partition key so it re-uses the
    exchange too."""
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        us.alias("us"),
        "event_type",
        F.lag(us).over(w).alias("prev_us"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("last_type"),
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("first_type").alias("first_type"),
            F.min("last_type").alias("last_type"),
            F.max(F.col("us") - F.col("prev_us")).cast("long").alias("max_gap_us"),
            # if-guarded: under ANSI mode a single-event user would
            # raise DIVIDE_BY_ZERO inside the aggregate, before the
            # n_events > 1 filter could drop the group
            F.expr(
                "if(count(1) > 1, sum(us - prev_us) div (count(1) - 1), null)"
            )
            .cast("long")
            .alias("avg_gap_us"),
        )
        .filter(F.col("n_events") > 1)
        .orderBy("user_id")
    )


@query(
    "salted_skew_user_join",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(20,8))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY segment ORDER BY segment
    """,
    survey="J-salted",
    tags=("temporal",),
)
def salted_skew_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe SHUFFLE JOIN by salting (operators/layout.py:
    salted_join) — the join-side counterpart of
    ``salted_skew_event_sums``: the fact's join key gains a
    deterministic salt, the dim side replicates ×8, and the shuffle
    keys become (user, salt) so a hot user's rows spread over 8
    reducers.  The dim side carries a shuffle_hash hint because the
    DEMONSTRATION is the salted shuffle — at this SF Spark would
    otherwise broadcast the replicated dim and no skew could exist in
    the first place (broadcast IS the first-choice skew fix when the
    dim fits; salting is for when it doesn't).

    Certification: the salted join must return EXACTLY the plain
    join's rows — the oracle is the unsalted join, so any lost or
    duplicated row under salting breaks the hash.  Value sums are
    exact decimal."""
    from ..operators.layout import salted_join

    ev = T(spark, sf_dir, "events").select("user_id", "value")
    dim = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, on="user_id", n_salts=8, force_shuffle=True)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,8)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("segment")
    )


@query(
    "order_price_percentile_position",
    """
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS pr,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS cd
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority,
           round(o_totalprice, 2) AS price,
           round(pr, 6) AS pct_rank,
           round(cd, 6) AS cume_dist
    FROM ranked
    WHERE pr >= 0.999
    ORDER BY o_orderpriority, o_orderkey
    """,
    survey="W-pctrank",
    tags=("temporal",),
)
def order_price_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing within a group — ``percent_rank`` (rank-1)/(n-1)
    and ``cume_dist`` rank/n for the top 0.1% of orders per priority:
    the distribution-position window pair the catalog had not yet
    exercised.  Both are exact RATIONALS of the tie-broken rank, so
    round(…,6) is engine-stable (ties on price break on o_orderkey in
    both engines).

    Scale: one window shuffle on the 5-key group; the 0.999 filter
    keeps the output at |groups|·0.1% of rows."""
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.filter(F.col("pr") >= 0.999)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
            F.round("pr", 6).alias("pct_rank"),
            F.round("cd", 6).alias("cume_dist"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


@query(
    "event_hour_heatmap",
    """
    SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(20,8))) AS DOUBLE), 2)
             AS total_value
    FROM events
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
    survey="A-heatmap",
    tags=("temporal",),
)
def event_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity grid — the traffic heatmap behind
    every ops dashboard.  The weekday comes from INTEGER epoch-day
    arithmetic (``(days_since_epoch + 4) % 7``, **0 = Sunday**: epoch
    day 0, 1970-01-01, was a Thursday, so the +4 shift lands Sunday —
    three days later — on 0; ADVICE r06 docstring fix) instead of each
    engine's dayofweek builtin, whose numbering conventions differ
    (Spark counts Sunday = 1, DuckDB Sunday = 0) — the classic silent
    cross-engine off-by-one.

    Scale: map-only key derivation + one ≤168-key hash-agg with
    map-side partials; value sums exact decimal."""
    ev = T(spark, sf_dir, "events")
    dow = (
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 4) % 7
    ).cast("long")
    return (
        ev.groupBy(dow.alias("dow"), F.hour("ts").cast("long").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,8)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("dow", "hour")
    )
