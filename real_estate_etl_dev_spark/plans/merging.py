"""Catalog queries for the merge engine — SURVEY §2.3 J9, §2.10
R4/R6/R7, §2.5 W1/R5 sequence continuation.

Fixture strategy: ``current`` and ``staging`` listing tables are
derived from ``orders`` via SQL snippets valid in BOTH Spark SQL and
DuckDB (shared by construction — inputs aren't what's under test).
The Spark side then runs :func:`operators.merge.merge_listings`; the
oracle is an independent hand-derived SQL implementation of the
published merge policy (models/listing.py:103-167).  pytest scenario
goldens (tests/test_merge.py) anchor that policy to reference traces.

Scale: the merge is one full-outer hash join on url + projection; the
fixture adds only a scan+filter on each side.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import apply_tombstones, change_log, merge_listings
from ..operators.rules import backfill_sold_at
from ..planview import EXCHANGES, node_classes
from ..sources.readers import load_table
from .catalog import query
from .fixtures import RUN_DATE

# --- shared fixture snippets (valid in Spark SQL *and* DuckDB) -------------

K = "o_orderkey"

CUR_COLS: dict[str, str] = {
    "url": f"'u' || {K}",
    "price": f"({K} % 7) * 100000",
    "currency": f"CASE {K} % 2 WHEN 0 THEN 'IDR' ELSE 'USD' END",
    "availability": "'Available'",
    "is_available": "TRUE",
    "is_off_plan": f"({K} % 4) = 0",
    "image_url": f"CASE {K} % 3 WHEN 0 THEN '' ELSE 'img' || ({K} % 3) END",
    "description": f"CASE {K} % 5 WHEN 0 THEN '' ELSE 'old desc ' || ({K} % 5) END",
    "location": f"CASE {K} % 3 WHEN 0 THEN NULL ELSE 'Loc' || ({K} % 3) END",
    "leasehold_years": f"CASE {K} % 2 WHEN 0 THEN NULL ELSE CAST({K} % 30 AS DOUBLE) END",
    "contract_type": f"CASE {K} % 2 WHEN 0 THEN 'Freehold' ELSE 'Leasehold' END",
    "property_type": f"CASE {K} % 3 WHEN 0 THEN 'Villa' WHEN 1 THEN 'Land' ELSE 'House' END",
    "bedrooms": f"CAST({K} % 6 AS DOUBLE)",
    "bathrooms": f"CAST({K} % 4 AS DOUBLE)",
    "build_size": f"CAST(({K} % 9) * 10 AS DOUBLE)",
    "land_size": f"CAST(({K} % 11) * 10 AS DOUBLE)",
    "land_zoning": "CAST(NULL AS STRING)",
    "property_id": f"'P' || {K}",
    "listed_date": "'2024-01-15'",
    "sold_at": "CAST(NULL AS TIMESTAMP)",
    "tab": "'DATA'",
}
CUR_FILTER = f"{K} % 10 <> 0"

STG_COLS: dict[str, str] = {
    "url": f"'u' || {K}",
    "price": (
        f"CASE {K} % 5 WHEN 2 THEN -1 WHEN 3 THEN 0 WHEN 4 THEN 6000000 "
        f"ELSE ({K} % 13) * 90000 END"
    ),
    "currency": f"CASE {K} % 2 WHEN 0 THEN 'IDR' ELSE 'USD' END",
    "availability": (
        f"CASE {K} % 6 WHEN 1 THEN 'Sold' WHEN 3 THEN 'Delisted' "
        f"WHEN 5 THEN NULL ELSE 'Available' END"
    ),
    "is_available": f"{K} % 6 NOT IN (1, 3, 5)",
    "is_off_plan": f"({K} % 8) = 0",
    "image_url": f"'img-new' || ({K} % 2)",
    "description": f"CASE {K} % 4 WHEN 0 THEN '' ELSE 'new desc ' || ({K} % 4) END",
    "location": f"CASE {K} % 5 WHEN 0 THEN NULL ELSE 'NewLoc' || ({K} % 5) END",
    "leasehold_years": f"CASE {K} % 3 WHEN 0 THEN NULL ELSE CAST({K} % 25 AS DOUBLE) END",
    "contract_type": f"CASE {K} % 5 WHEN 0 THEN 'Leasehold' ELSE 'Freehold' END",
    "property_type": (
        f"CASE {K} % 4 WHEN 0 THEN 'Villa' WHEN 1 THEN 'Land' "
        f"WHEN 2 THEN 'House' ELSE 'Apartment' END"
    ),
    "bedrooms": f"CAST({K} % 5 AS DOUBLE)",
    "bathrooms": f"CAST({K} % 4 AS DOUBLE)",
    "build_size": f"CAST(({K} % 10) * 10 AS DOUBLE)",
    "land_size": f"CAST(({K} % 11) * 10 AS DOUBLE)",
    "land_zoning": f"CASE {K} % 6 WHEN 0 THEN 'Residential' ELSE NULL END",
    "property_id": f"'P' || {K}",
    "listed_date": f"CASE {K} % 7 WHEN 0 THEN '01/15/24' ELSE '2024-01-15' END",
    "sold_at": (
        f"CASE {K} % 9 WHEN 5 THEN TIMESTAMP '2026-01-01 00:00:00' "
        f"ELSE CAST(NULL AS TIMESTAMP) END"
    ),
}
STG_FILTER = f"{K} % 3 <> 2"


def _fixture_frame(
    spark: SparkSession, sf_dir: str, cols: dict[str, str], flt: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.expr(flt)).selectExpr(
        *[f"({expr}) AS {name}" for name, expr in cols.items()]
    )


def current_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fixture_frame(spark, sf_dir, CUR_COLS, CUR_FILTER)


def staging_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fixture_frame(spark, sf_dir, STG_COLS, STG_FILTER)


def _cte(name: str, cols: dict[str, str], flt: str) -> str:
    sels = ", ".join(f"({expr}) AS {col}" for col, expr in cols.items())
    return f"{name} AS (SELECT {sels} FROM orders WHERE {flt})"


# --- oracle: independent SQL implementation of the merge policy ------------

_T = {
    "str": "({x} IS NOT NULL AND {x} <> '')",
    "num": "({x} IS NOT NULL AND {x} <> 0)",
    "bool": "COALESCE({x}, FALSE)",
    "ts": "({x} IS NOT NULL)",
}


def _generic(new: str, old: str, falsy: str) -> tuple[str, str]:
    """(changed_cond, merged_value) for the fill/override rule."""
    tn = _T[falsy].format(x=new)
    to = _T[falsy].format(x=old)
    changed = f"(({tn} AND NOT {to}) OR ({tn} AND {to} AND {new} <> {old}))"
    value = f"CASE WHEN {changed} THEN {new} ELSE {old} END"
    return changed, value


_FIELD_SPECS: list[tuple[str, str, str]] = [
    ("price", "price", "num"),
    ("currency", "generic", "str"),
    ("availability", "availability", "str"),
    ("is_available", "generic", "bool"),
    ("is_off_plan", "generic", "bool"),
    ("image_url", "generic", "str"),
    ("description", "generic", "str"),
    ("location", "generic", "str"),
    ("leasehold_years", "overwrite_diff", "num"),
    ("contract_type", "generic", "str"),
    ("property_type", "generic", "str"),
    ("bedrooms", "generic", "num"),
    ("bathrooms", "generic", "num"),
    ("build_size", "generic", "num"),
    ("land_size", "generic", "num"),
    ("land_zoning", "generic", "str"),
    ("property_id", "generic", "str"),
    ("listed_date", "generic", "str"),
    ("sold_at", "overwrite_diff", "ts"),
]

_AVAIL_COND = "(matched AND (s_availability IS DISTINCT FROM 'Available'))"
_STAMP = "TIMESTAMP '2026-01-01 00:00:00'"


def _field_sql(name: str, kind: str, falsy: str) -> tuple[str, str]:
    """(changed_cond, merged_value) over the joined CTE columns."""
    new, old = f"s_{name}", f"c_{name}"
    if name == "sold_at":
        old = f"(CASE WHEN {_AVAIL_COND} THEN {_STAMP} ELSE c_sold_at END)"
    if name == "is_available":
        old = f"(CASE WHEN {_AVAIL_COND} THEN FALSE ELSE c_is_available END)"
    if kind == "availability":
        g_changed, g_value = _generic(new, old, falsy)
        changed = f"({_AVAIL_COND} OR (NOT {_AVAIL_COND} AND {g_changed}))"
        value = f"CASE WHEN {_AVAIL_COND} THEN {old} ELSE {g_value} END"
    elif kind == "price":
        g_changed, g_value = _generic(new, old, falsy)
        changed = f"(({new} <> -1 OR {new} IS NULL) AND {g_changed})"
        value = f"CASE WHEN {new} = -1 THEN {old} ELSE {g_value} END"
    elif kind == "overwrite_diff":
        changed = f"({new} IS DISTINCT FROM {old})"
        value = f"CASE WHEN {changed} THEN {new} ELSE {old} END"
    else:
        changed, value = _generic(new, old, falsy)
    changed = f"(matched AND COALESCE({changed}, FALSE))"
    final = (
        f"CASE WHEN c_url IS NULL THEN {new} "
        f"WHEN s_url IS NULL THEN c_{name} ELSE ({value}) END"
    )
    return changed, final


def _joined_cte() -> str:
    c_sel = ", ".join(f"c.{n} AS c_{n}" for n in list(CUR_COLS))
    s_sel = ", ".join(f"s.{n} AS s_{n}" for n in list(STG_COLS))
    return (
        f"j AS (SELECT {c_sel}, {s_sel}, "
        "(c.url IS NOT NULL AND s.url IS NOT NULL) AS matched "
        "FROM cur c FULL OUTER JOIN stg s ON c.url = s.url)"
    )


def _merge_oracle_sql() -> str:
    fields = []
    changed_terms = []
    for name, kind, falsy in _FIELD_SPECS:
        changed, final = _field_sql(name, kind, falsy)
        if name == "sold_at":
            final = f"strftime(({final}), '%Y-%m-%d %H:%M:%S')"
        fields.append(f"({final}) AS {name}")
        changed_terms.append(f"CAST({changed} AS INT)")
    n_changes = " + ".join(changed_terms)
    _, price_final = _field_sql("price", "price", "num")
    _, cur_final = _field_sql("currency", "generic", "str")
    _, pt_final = _field_sql("property_type", "generic", "str")
    classify = (
        f"CASE WHEN ({price_final}) IS NOT NULL AND ({price_final}) >= 78656000000 "
        f"AND ({cur_final}) = 'IDR' THEN 'LUXURY LISTINGS' "
        f"WHEN ({price_final}) IS NOT NULL AND ({price_final}) >= 5000000 "
        f"AND ({cur_final}) = 'USD' THEN 'LUXURY LISTINGS' "
        f"WHEN ({pt_final}) = 'Land' THEN 'ALL LAND' ELSE 'DATA' END"
    )
    return f"""
    WITH {_cte("cur", CUR_COLS, CUR_FILTER)},
         {_cte("stg", STG_COLS, STG_FILTER)},
         {_joined_cte()}
    SELECT COALESCE(c_url, s_url) AS url,
           {", ".join(fields)},
           CAST(c_url IS NULL AS BOOLEAN) AS is_new,
           CAST(({n_changes}) AS BIGINT) AS n_changes,
           CASE WHEN c_url IS NULL OR ({n_changes}) > 0
                THEN ({classify}) ELSE 'DATA' END AS tab
    FROM j ORDER BY url
    """


def _change_log_oracle_sql() -> str:
    selects = []
    for name, kind, falsy in _FIELD_SPECS:
        changed, _ = _field_sql(name, kind, falsy)
        new, old = f"s_{name}", f"c_{name}"
        if name == "sold_at":
            old = f"(CASE WHEN {_AVAIL_COND} THEN {_STAMP} ELSE c_sold_at END)"
            old_s = f"strftime({old}, '%Y-%m-%d %H:%M:%S')"
            new_s = f"strftime({new}, '%Y-%m-%d %H:%M:%S')"
        elif name == "is_available":
            old = f"(CASE WHEN {_AVAIL_COND} THEN FALSE ELSE c_is_available END)"
            old_s, new_s = f"CAST({old} AS STRING)", f"CAST({new} AS STRING)"
        else:
            old_s, new_s = f"CAST({old} AS STRING)", f"CAST({new} AS STRING)"
        selects.append(
            f"SELECT COALESCE(c_url, s_url) AS url, '{name}' AS field, "
            f"{old_s} AS old, {new_s} AS new FROM j WHERE {changed}"
        )
    union = " UNION ALL ".join(selects)
    return f"""
    WITH {_cte("cur", CUR_COLS, CUR_FILTER)},
         {_cte("stg", STG_COLS, STG_FILTER)},
         {_joined_cte()}
    SELECT * FROM ({union}) ORDER BY url, field
    """


def _merge_projection(merged: DataFrame) -> DataFrame:
    """The oracle-comparable shape of a merge result: drop the nested
    change array, stringify sold_at, stable column order + sort."""
    return merged.select(
        "url",
        *[c for c in merged.columns if c not in ("url", "changes", "sold_at", "is_new", "n_changes", "tab")],
        F.date_format("sold_at", "yyyy-MM-dd HH:mm:ss").alias("sold_at"),
        "is_new",
        "n_changes",
        "tab",
    ).orderBy("url")


@query("merge_scd1", _merge_oracle_sql(), survey="J9,R4,S14")
def merge_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/R4: the SCD-1 field-policy merge over staging vs current
    fixture tables — inserts, untouched carries, sentinel price,
    availability side effects, overwrite-to-null, fill/override rules,
    tab re-classification (ref models/listing.py:103-167,
    reid/pipelines/property.py:96-126).

    Scale: one full-outer shuffle join on url; no per-key probes."""
    cur = current_fixture(spark, sf_dir)
    stg = staging_fixture(spark, sf_dir)
    merged = merge_listings(cur, stg, run_date=RUN_DATE)
    return _merge_projection(merged)


# The publish dir of the last streaming_merge_scd1 call (its result
# frame reads from it lazily); the next call, or interpreter exit,
# deletes it.
_stream_merge_out: str | None = None


@atexit.register
def _remove_stream_merge_out() -> None:
    global _stream_merge_out
    if _stream_merge_out is not None:
        shutil.rmtree(_stream_merge_out, ignore_errors=True)
        _stream_merge_out = None


@query("streaming_merge_scd1", _merge_oracle_sql(), survey="§2.12,J9,R4,S14")
def streaming_merge_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 streaming upsert, batch-equivalent (VERDICT r02 item 6):
    the staging fixture is dropped as files, ingested with a REAL
    Structured Streaming query (``Trigger.AvailableNow``), and merged
    into the current table inside ``foreachBatch`` via the SAME batch
    merge engine (streaming/ingest.py run_merge_sink — one code path
    for both modes, ref reid/pipelines/property.py:96-126).  The
    published micro-batch result must equal the batch merge, so the
    batch oracle certifies the streaming path.

    Scale: the stream shuffles exactly like the batch merge (one
    full-outer join per micro-batch); checkpointing gives exactly-once
    publication.

    The published merge output is read back LAZILY from ``out_dir``,
    a temp dir that outlives the call.  Publishing into the scratch
    dir and returning ``collect_local`` instead copies ~14.5k rows
    through the driver JVM: on local[4] at scale 0.01 that form took
    a median 2.43 s per warm call against 2.26 s for the lazy read
    (8 alternated calls each in one process), and this query is the
    nightly job's slowest step.  Each call deletes the previous call's
    ``out_dir``, so the returned frame is valid until the next call;
    the last one is deleted at interpreter exit.  The drop files and
    checkpoint are scratch."""
    from ..benchmeta import scratch_dir, setup_span
    from ..streaming.ingest import run_merge_sink, stream_source

    global _stream_merge_out
    _remove_stream_merge_out()
    cur = current_fixture(spark, sf_dir)
    stg = staging_fixture(spark, sf_dir)
    out_dir = _stream_merge_out = tempfile.mkdtemp(prefix="stream_merge_out_")

    def publish(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(out_dir)

    with scratch_dir("stream_merge_") as workdir:
        with setup_span("streaming_merge_scd1"):
            # One file => one micro-batch => the publish IS the full merge.
            stg.coalesce(1).write.parquet(f"{workdir}/staging")
        stream = stream_source(spark, f"{workdir}/staging", stg.schema, fmt="parquet")
        run_merge_sink(
            stream, lambda: cur, publish, RUN_DATE, checkpoint=f"{workdir}/checkpoint"
        )
    return _merge_projection(spark.read.parquet(out_dir))


@query("merge_change_log", _change_log_oracle_sql(), survey="R4-cdc")
def merge_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 CDC: the per-field change entries exploded to rows — the
    reference's ``get_changes`` dicts as a change-feed DataFrame
    (models/listing.py:151-170)."""
    cur = current_fixture(spark, sf_dir)
    stg = staging_fixture(spark, sf_dir)
    merged = merge_listings(cur, stg, run_date=RUN_DATE)
    return change_log(merged).orderBy("url", "field")


@query("merge_bucketed_scd1", _merge_oracle_sql(), survey="J9,R4,S14,layout")
def merge_bucketed_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/R4 on the BUCKETED layout — the end-to-end proof of the
    operators/layout.py promise (VERDICT r04 item 4): current and
    staging are persisted ``bucketBy(8, url)`` tables, and the SAME
    full-outer merge then plans with ZERO Exchange nodes — both sides
    hash-partition identically at WRITE time, so the nightly merge is
    a map-side zip instead of a 2-sided shuffle.  The assertion below
    fails the query (and its certification row) if any Exchange
    appears above the merge join; the merge RESULT is certified by the
    same independent SQL oracle as ``merge_scd1``.

    This is the 100×-scale answer to the reference's per-item merge
    probes (reid/pipelines/property.py:96-126): at 100 TB the current
    table is written bucketed once, and every batch merge after that
    moves only the (much smaller) staging side — zero big-side bytes
    over the network.

    Note the final oracle projection still sorts (orderBy url), which
    adds the output range Exchange every certified query pays — the
    no-Exchange invariant is asserted on the merge plan itself, where
    the scale claim lives."""
    from urllib.parse import urlparse

    from ..operators.layout import bucketed_merge_ready, write_bucketed

    cur_t, stg_t = "merge_audit_current_bkt", "merge_audit_staging_bkt"
    # Reset both the catalog entry AND any stale managed location: a
    # previous SESSION's files survive in the warehouse dir while the
    # in-memory catalog forgets the table, and saveAsTable then fails
    # with LOCATION_ALREADY_EXISTS.
    from ..benchmeta import setup_span

    with setup_span("merge_bucketed_scd1"):
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in (cur_t, stg_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        # repartition(8, url): Spark's bucket id IS the hash-partition
        # id (both are pmod(murmur3(url), 8)), so partition-aligning
        # the writer gives EXACTLY one file per bucket — the same
        # canonical layout the old repartition(1) single writer
        # produced — with 8 writers in parallel instead of one task
        # writing all 8 files sequentially (r14; the one-file-per-
        # bucket invariant is asserted right below).  At a real
        # deployment the current table is written bucketed ONCE and
        # amortized over every nightly merge — this span is the
        # per-invocation analog of that one-time cost, hence setup,
        # not merge time.
        write_bucketed(
            current_fixture(spark, sf_dir).repartition(8, F.col("url")),
            cur_t, n_buckets=8, sort_col="url",
        )
        write_bucketed(
            staging_fixture(spark, sf_dir).repartition(8, F.col("url")),
            stg_t, n_buckets=8, sort_col="url",
        )
        # one-file-per-bucket invariant: a second file in any bucket
        # would silently demote the sorted-bucket read to Sort-on-read
        # (no Exchange, so the plan assert below would NOT catch it)
        import os as _os

        for t in (cur_t, stg_t):
            data_files = [
                fn
                for fn in _os.listdir(f"{wh}/{t}")
                if fn.endswith(".parquet") and not fn.startswith("_")
            ]
            # ADVICE r14: 'one file per bucket', not 'every bucket
            # non-empty' — an empty bucket at a small SF is still the
            # canonical layout.  Parse the _NNNNN bucket suffix and
            # assert no bucket carries a second file (which would
            # silently demote the sorted-bucket read to Sort-on-read).
            bucket_ids = [fn.split("_")[-1].split(".")[0] for fn in data_files]
            if len(data_files) > 8 or len(set(bucket_ids)) != len(bucket_ids):
                raise AssertionError(
                    f"bucketed table {t}: expected at most one file per "
                    f"bucket (≤8), found {len(data_files)} files over "
                    f"buckets {sorted(bucket_ids)}"
                )
    cur, stg = bucketed_merge_ready(spark, cur_t, stg_t)
    merged = merge_listings(cur, stg, run_date=RUN_DATE)
    exchanges = [c for c in node_classes(merged) if c in EXCHANGES]
    if exchanges:
        raise AssertionError(
            "bucketed merge planned an exchange — the shuffle-free "
            f"layout promise (operators/layout.py) is broken: {exchanges}"
        )
    return _merge_projection(merged)


@query(
    "sold_at_backfill",
    f"""
    WITH listing AS (
      SELECT 'u' || {K} AS url,
             ({K} % 3 <> 0) AS is_available,
             CASE {K} % 4 WHEN 1 THEN TIMESTAMP '2025-06-15 08:00:00' ELSE CAST(NULL AS TIMESTAMP) END AS sold_at,
             o_orderdate AS updated_at
      FROM orders
    )
    SELECT url,
           strftime(
             CASE WHEN NOT is_available AND sold_at IS NULL
                  THEN date_trunc('month', updated_at) - INTERVAL 1 MONTH
                  ELSE sold_at END,
             '%Y-%m-%d %H:%M:%S') AS sold_at_filled
    FROM listing ORDER BY url
    """,
    survey="R7",
)
def sold_at_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: unavailable rows missing sold_at get first-of-previous-month
    of updated_at (ref fill_missing_sold_at.py:7-27) — one projection
    instead of the reference's per-row commit loop."""
    orders = load_table(spark, sf_dir, "orders")
    listing = orders.selectExpr(
        f"'u' || {K} AS url",
        f"({K} % 3 <> 0) AS is_available",
        f"CASE {K} % 4 WHEN 1 THEN TIMESTAMP '2025-06-15 08:00:00' ELSE CAST(NULL AS TIMESTAMP) END AS sold_at",
        "o_orderdate AS updated_at",
    )
    return listing.select(
        "url",
        F.date_format(
            backfill_sold_at("is_available", "sold_at", "updated_at"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("sold_at_filled"),
    ).orderBy("url")


@query(
    "delist_tombstones",
    f"""
    WITH {_cte("cur", CUR_COLS, CUR_FILTER)}
    SELECT url,
           CASE WHEN {K} % 12 = 7 THEN 'Delisted' ELSE availability END AS availability,
           CASE WHEN {K} % 12 = 7 THEN FALSE ELSE is_available END AS is_available,
           CASE WHEN {K} % 12 = 7 THEN strftime({_STAMP}, '%Y-%m-%d %H:%M:%S') END AS sold_at
    FROM (SELECT c.*, CAST(substring(c.url, 2) AS BIGINT) AS {K} FROM cur c)
    ORDER BY url
    """,
    survey="R6",
)
def delist_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: redirect/404 tombstones applied as one broadcast join over
    the current table (ref reid/spiders/lazudi.py:83-107,
    base.py:14-30 do per-row UPDATEs)."""
    cur = current_fixture(spark, sf_dir)
    tombs = (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr(f"{CUR_FILTER} AND {K} % 12 = 7"))
        .selectExpr(f"'u' || {K} AS url")
    )
    out = apply_tombstones(cur, tombs, run_date=RUN_DATE)
    return out.select(
        "url",
        "availability",
        "is_available",
        F.date_format("sold_at", "yyyy-MM-dd HH:mm:ss").alias("sold_at"),
    ).orderBy("url")


@query(
    "snapshot_time_travel",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN price_cents + 500
                  ELSE price_cents END AS price_cents
      FROM base
    ),
    v3 AS (SELECT * FROM v2 WHERE o_orderstatus <> 'F')
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
             CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open
      FROM base
      UNION ALL
      SELECT 2, count(*), CAST(sum(price_cents) AS BIGINT),
             count(*) FILTER (WHERE o_orderstatus = 'O') FROM v2
      UNION ALL
      SELECT 3, count(*), CAST(sum(price_cents) AS BIGINT),
             count(*) FILTER (WHERE o_orderstatus = 'O') FROM v3
    ) ORDER BY version
    """,
    survey="S-snapshot,J9",
    tags=("merging",),
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-versioned table + TIME TRAVEL (operators/snapshots.py):
    three versions are published — v1 the base table, v2 an upsert
    (open orders' price bumped 500 cents, read from the COMMITTED v1
    snapshot, not the in-memory frame — version-to-version chaining),
    v3 a delete (finished orders dropped) — and only then are all
    three read back BY VERSION via their manifests.  Reading v1
    correctly after v2/v3 exist is the snapshot-isolation property;
    the manifest write being the single commit point is what makes
    publish atomic on an object store.  All stats are integer cents,
    so the cross-engine certification is exact, not rounded.

    Scale: a version read lists files from its manifest (no directory
    LIST, no eventual-consistency window); publish cost is the data
    write + one small JSON PUT.  Production amortizes storage with
    delta manifests + compaction (the layout tier's compact_files),
    same commit protocol."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..operators.snapshots import publish_version, read_snapshot

    # (fan_out on this scan was measured and REJECTED in r15: spreading
    # the v1 publish to 32 writers costs more in task-commit overhead
    # and 32-tiny-file re-reads than the single-task write it replaces
    # — snapshot_time_travel 2.9→4.0s cold. The write is one task
    # because the fixture is one row group; at real scale the scan
    # carries ≥ cores row groups and parallelizes by itself.)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )

    with scratch_dir("snap_tt_") as workdir:
        table_dir = f"{workdir}/orders_versions"
        with setup_span("snapshot_time_travel"):
            publish_version(base, table_dir, 1)
            v1 = read_snapshot(spark, table_dir, 1)
            updates = v1.filter(F.col("o_orderstatus") == "O").select(
                "o_orderkey", (F.col("price_cents") + 500).alias("new_cents")
            )
            v2 = (
                v1.join(updates, "o_orderkey", "left")
                .select(
                    "o_orderkey",
                    "o_orderstatus",
                    F.coalesce("new_cents", "price_cents").alias("price_cents"),
                )
            )
            publish_version(v2, table_dir, 2)
            v3 = read_snapshot(spark, table_dir, 2).filter(
                F.col("o_orderstatus") != "F"
            )
            publish_version(v3, table_dir, 3)

        stats = [
            read_snapshot(spark, table_dir, v)
            .agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("price_cents").alias("sum_price_cents"),
                F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            )
            .select("version", "n_rows", "sum_price_cents", "n_open")
            for v in (1, 2, 3)
        ]
        out = stats[0].unionByName(stats[1]).unionByName(stats[2]).orderBy("version")
        # ≤ |versions|·|groups| rows
        return collect_local(out)


@query(
    "snapshot_change_feed",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    )
    SELECT * FROM (
      SELECT 'delete' AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(-sum(price_cents) AS BIGINT) AS net_cents
      FROM base WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT 'insert', count(*), CAST(sum(price_cents) AS BIGINT)
      FROM base WHERE o_orderstatus = 'P'
      UNION ALL
      SELECT 'update', count(*), CAST(500 * count(*) AS BIGINT)
      FROM base WHERE o_orderstatus = 'O'
    ) ORDER BY change_type
    """,
    survey="S-snapshot,R4-cdc",
    tags=("merging",),
)
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC DERIVED from versioned snapshots (operators/snapshots.py:
    snapshot_diff): v2 applies an upsert (open orders +500 cents),
    a delete (finished orders dropped), and an insert (pending orders
    re-keyed to -(key+1), collision-free with the natural keys) in one publish; the change feed is then
    computed from the two COMMITTED snapshots — no write-path log —
    and every row classifies as insert/delete/update with old/new
    values (identical rows drop out).  This is the reference's change
    log (models/listing.py change tracking) recovered AFTER the fact
    from table versions, the way a lakehouse derives CDC between
    commits.

    The certified rollup is per-change-type row counts + the exact
    net cents delta; all integer arithmetic, so the oracle is exact.

    Scale: the diff is ONE full-outer hash join on the key plus
    null-safe column compares — JVM expressions only; bucketed
    versions (layout tier) would diff with zero exchanges."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..operators.snapshots import publish_version, read_snapshot, snapshot_diff

    # (fan_out on this scan was measured and REJECTED in r15: spreading
    # the v1 publish to 32 writers costs more in task-commit overhead
    # and 32-tiny-file re-reads than the single-task write it replaces
    # — snapshot_time_travel 2.9→4.0s cold. The write is one task
    # because the fixture is one row group; at real scale the scan
    # carries ≥ cores row groups and parallelizes by itself.)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )

    with scratch_dir("snap_cf_") as workdir:
        table_dir = f"{workdir}/orders_versions"
        with setup_span("snapshot_change_feed"):
            publish_version(base, table_dir, 1)
            v1 = read_snapshot(spark, table_dir, 1)
            survived = v1.filter(F.col("o_orderstatus") != "F").select(
                "o_orderkey",
                "o_orderstatus",
                F.when(
                    F.col("o_orderstatus") == "O", F.col("price_cents") + 500
                )
                .otherwise(F.col("price_cents"))
                .alias("price_cents"),
            )
            inserts = v1.filter(F.col("o_orderstatus") == "P").select(
                (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
                "o_orderstatus",
                "price_cents",
            )
            publish_version(survived.unionByName(inserts), table_dir, 2)

        feed = snapshot_diff(
            read_snapshot(spark, table_dir, 1),
            read_snapshot(spark, table_dir, 2),
            key="o_orderkey",
        )
        out = (
            feed.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.coalesce("new_price_cents", F.lit(0))
                    - F.coalesce("old_price_cents", F.lit(0))
                ).alias("net_cents"),
            )
            .orderBy("change_type")
        )
        # ≤ |versions|·|groups| rows
        return collect_local(out)


@query(
    "incremental_agg_maintenance",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN price_cents + 500
                  ELSE price_cents END AS price_cents
      FROM base WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT -(o_orderkey + 1), o_orderstatus, price_cents
      FROM base WHERE o_orderstatus = 'P'
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(price_cents) AS BIGINT) AS sum_cents,
           TRUE AS matches_full_recompute
    FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    survey="A-ivm,R4-cdc",
    tags=("merging",),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIEW maintenance: the materialized per-status
    rollup of version 1 is advanced to version 2 by applying the CDC
    feed's deltas (+new for inserts, −old for deletes, new−old for
    updates) — the base table is NEVER rescanned.  The certified
    frame is the incrementally-maintained rollup; the
    ``matches_full_recompute`` gate re-derives the same rollup
    directly from the v2 snapshot and asserts groupwise equality, so
    the delta algebra is proven inside the query, and the oracle
    recomputes v2's rollup independently in DuckDB.

    Scale: this is THE pattern for keeping serving aggregates fresh at
    100 TB — the full rollup costs a fact-table scan per refresh; the
    incremental path costs a scan of the DELTA only (here derived from
    two snapshots via ``snapshot_diff``; a streaming source feeds the
    same algebra).  Sum/count are self-inverting under deltas; min/max
    are not — those need the full recompute or a monotone argument,
    which is why the gate column exists."""
    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..operators.snapshots import publish_version, read_snapshot, snapshot_diff

    # (fan_out on this scan was measured and REJECTED in r15: spreading
    # the v1 publish to 32 writers costs more in task-commit overhead
    # and 32-tiny-file re-reads than the single-task write it replaces
    # — snapshot_time_travel 2.9→4.0s cold. The write is one task
    # because the fixture is one row group; at real scale the scan
    # carries ≥ cores row groups and parallelizes by itself.)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )

    with scratch_dir("snap_ivm_") as workdir:
        table_dir = f"{workdir}/orders_versions"
        with setup_span("incremental_agg_maintenance"):
            publish_version(base, table_dir, 1)
            v1 = read_snapshot(spark, table_dir, 1)
            survived = v1.filter(F.col("o_orderstatus") != "F").select(
                "o_orderkey",
                "o_orderstatus",
                F.when(F.col("o_orderstatus") == "O", F.col("price_cents") + 500)
                .otherwise(F.col("price_cents"))
                .alias("price_cents"),
            )
            inserts = v1.filter(F.col("o_orderstatus") == "P").select(
                (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
                "o_orderstatus",
                "price_cents",
            )
            publish_version(survived.unionByName(inserts), table_dir, 2)

        v1 = read_snapshot(spark, table_dir, 1)
        v2 = read_snapshot(spark, table_dir, 2)
        agg_v1 = v1.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").alias("sum_cents"),
        )
        feed = snapshot_diff(v1, v2, key="o_orderkey")
        # Delta algebra: status never changes across versions here, so
        # each feed row contributes to ONE status group.  count delta:
        # +1 insert / −1 delete / 0 update; sum delta: new − old with
        # absent sides as 0.
        deltas = feed.groupBy(
            F.coalesce("new_o_orderstatus", "old_o_orderstatus").alias("o_orderstatus")
        ).agg(
            F.sum(
                F.when(F.col("change_type") == "insert", 1)
                .when(F.col("change_type") == "delete", -1)
                .otherwise(0)
            ).alias("d_n"),
            F.sum(
                F.coalesce("new_price_cents", F.lit(0))
                - F.coalesce("old_price_cents", F.lit(0))
            ).alias("d_sum"),
        )
        maintained = (
            agg_v1.join(deltas, "o_orderstatus", "full_outer")
            .select(
                "o_orderstatus",
                (F.coalesce("n_rows", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                    "n_rows"
                ),
                (
                    F.coalesce("sum_cents", F.lit(0)) + F.coalesce("d_sum", F.lit(0))
                ).alias("sum_cents"),
            )
            .filter(F.col("n_rows") > 0)
        )
        full = v2.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("f_n"), F.sum("price_cents").alias("f_sum")
        )
        out = (
            maintained.join(full, "o_orderstatus", "full_outer")
            .select(
                "o_orderstatus",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("sum_cents").cast("long").alias("sum_cents"),
                (
                    F.col("n_rows").eqNullSafe(F.col("f_n"))
                    & F.col("sum_cents").eqNullSafe(F.col("f_sum"))
                ).alias("matches_full_recompute"),
            )
            .orderBy("o_orderstatus")
        )
        # ≤ |versions|·|groups| rows
        return collect_local(out)


@query(
    "merge_scd2_intervals",
    """
    WITH hist AS (
      SELECT c_custkey AS ck, c_mktsegment AS segment,
             round(c_acctbal, 2) AS acctbal,
             TIMESTAMP '2020-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to,
             true AS is_current
      FROM customer
    ),
    upd AS (
      SELECT c_custkey AS ck,
             CASE WHEN c_custkey % 7 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS segment,
             CASE WHEN c_custkey % 5 = 0 THEN round(c_acctbal + 100, 2)
                  ELSE round(c_acctbal, 2) END AS acctbal,
             TIMESTAMP '2026-01-01' AS eff
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + (SELECT greatest(1000000, max(c_custkey) + 1)
                          FROM customer),
             c_mktsegment, round(c_acctbal, 2),
             TIMESTAMP '2026-01-01'
      FROM customer WHERE c_custkey % 100 = 0
    ),
    joined AS (
      SELECT h.ck AS hck, u.ck AS uck,
             h.segment AS hseg, h.acctbal AS hbal, h.valid_from AS hfrom,
             u.segment AS useg, u.acctbal AS ubal, u.eff AS eff
      FROM hist h FULL OUTER JOIN upd u ON h.ck = u.ck
    )
    SELECT ck,
           segment,
           acctbal,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(valid_to, '%Y-%m-%d') AS valid_to,
           is_current
    FROM (
      -- brand-new key: first open interval
      SELECT uck AS ck, useg AS segment, ubal AS acctbal,
             eff AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
             true AS is_current
      FROM joined WHERE hck IS NULL
      UNION ALL
      -- changed key: closed old interval
      SELECT hck, hseg, hbal, hfrom, eff, false
      FROM joined
      WHERE hck IS NOT NULL AND uck IS NOT NULL
        AND (hseg IS DISTINCT FROM useg OR hbal IS DISTINCT FROM ubal)
      UNION ALL
      -- changed key: new open interval
      SELECT hck, useg, ubal, eff, CAST(NULL AS TIMESTAMP), true
      FROM joined
      WHERE hck IS NOT NULL AND uck IS NOT NULL
        AND (hseg IS DISTINCT FROM useg OR hbal IS DISTINCT FROM ubal)
      UNION ALL
      -- unchanged / untouched key: open interval passes through
      SELECT hck, hseg, hbal, hfrom, CAST(NULL AS TIMESTAMP), true
      FROM joined
      WHERE hck IS NOT NULL
        AND (uck IS NULL OR (hseg IS NOT DISTINCT FROM useg
                             AND hbal IS NOT DISTINCT FROM ubal))
    )
    ORDER BY ck, valid_from, is_current
    """,
    survey="J9-scd2,R4",
)
def merge_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 merge (operators/merge.py:merge_scd2) — the
    audit-grade sibling of the reference's overwrite-in-place SCD-1
    (models/listing.py:103-167): a changed key's open validity
    interval CLOSES at the update's effective timestamp and a new open
    interval appends; closed history never rewrites.  The fixture
    derives updates from the customer dim itself (every 3rd key
    staged, every 7th changes segment, every 5th changes balance,
    every 100th arrives as a brand-new key), so both engines build
    bit-identical inputs.

    Scale: untouched closed history is a pass-through filter (no
    shuffle); the open slice joins the updates ONCE full-outer on the
    key and explodes each row into its 1-or-2 output intervals inline
    — the whole merge is one keyed shuffle regardless of history
    depth, and on a bucketed layout (merge_bucketed_scd1) even that
    exchange disappears."""
    from ..operators.merge import merge_scd2

    c = load_table(spark, sf_dir, "customer")
    hist = c.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    staged = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("ck"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MACHINERY"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.when(
            F.col("c_custkey") % 5 == 0, F.round(F.col("c_acctbal") + 100, 2)
        )
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal"),
        F.lit("2026-01-01").cast("timestamp").alias("eff"),
    )
    # brand-new arrival keys live in a DATA-DERIVED disjoint namespace
    # (ADVICE r06): offset = greatest(1e6, max(key)+1), so the synthetic
    # keys can never collide with staged real keys at any scale factor
    # (a fixed +1e6 collides once real keys reach ~1,000,003).  At the
    # committed fixtures max(c_custkey) < 1e6, so the offset — and the
    # certified output — is unchanged.  The offset rides a 1-row
    # broadcast combine, no driver collect; the oracle computes the
    # same scalar subquery.
    off = c.agg(
        F.greatest(F.lit(1_000_000), F.max("c_custkey") + 1).alias("_off")
    )
    arrivals = (
        c.filter(F.col("c_custkey") % 100 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("c_custkey") + F.col("_off")).alias("ck"),
            F.col("c_mktsegment").alias("segment"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit("2026-01-01").cast("timestamp").alias("eff"),
        )
    )
    updates = staged.unionByName(arrivals)
    merged = merge_scd2(
        hist, updates, key="ck", attrs=["segment", "acctbal"], effective="eff"
    )
    return merged.select(
        "ck",
        "segment",
        "acctbal",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    ).orderBy("ck", "valid_from", "is_current")


@query(
    "pit_segment_revenue",
    """
    WITH hist AS (
      SELECT c_custkey AS ck, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer
    ),
    upd AS (
      SELECT c_custkey AS ck, 'MACHINERY' AS segment,
             TIMESTAMP '1998-07-01' AS eff
      FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY'
    ),
    versions AS (
      SELECT h.ck, h.segment, h.valid_from,
             CASE WHEN u.ck IS NOT NULL THEN u.eff ELSE h.valid_to END
               AS valid_to
      FROM hist h LEFT JOIN upd u ON u.ck = h.ck
      UNION ALL
      SELECT ck, segment, eff, CAST(NULL AS TIMESTAMP) FROM upd
    )
    SELECT v.segment AS segment_at_order_time,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(20,8))), 2)
                AS DOUBLE) AS revenue
    FROM orders o
    JOIN versions v
      ON v.ck = o.o_custkey
     AND v.valid_from <= o.o_orderdate
     AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
    GROUP BY segment_at_order_time
    ORDER BY segment_at_order_time
    """,
    survey="J-pit,J9-scd2",
)
def pit_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD-2 history — the reason
    type-2 intervals exist: each order joins the customer segment
    version VALID AT ORDER TIME, not today's (training pipelines call
    this the feature-store PIT lookup; without it, features leak the
    future).  The fixture's history flips every 7th customer's segment
    mid-1998, so orders before and after the flip provably land in
    different versions.

    Plan: the interval predicate rides the equi-join as a residual —
    one hash join on the key, containment filtered in the same
    operator, never a fan-out-then-window.  Per-key fan-out equals
    that key's version count (≤2 here); at deep histories, sort the
    versions and as-of join on valid_from instead (operators/asof.py
    — same output, one keyed shuffle).  Revenue sums exact decimal,
    is rounded to 2dp IN DECIMAL (HALF_UP == half-away for positive
    values on both engines), and only then converts to double: the
    r10 sf0.1 sweep caught the engines' wide-scale decimal→double
    conversions one ulp apart at ~7e9 magnitude (Spark
    7043080884.77 vs DuckDB ...7699995 — DuckDB divides the int128
    by 1e8 through double, losing the low bits), a divergence 6dp
    rounding cannot absorb above ~1e7.  At scale 2 the scaled
    integer stays below 2^53 for sums under ~9e13, so the one
    conversion is exact on both engines."""
    c = load_table(spark, sf_dir, "customer")
    hist = c.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        c.filter((F.col("c_custkey") % 7 == 0) & (F.col("c_mktsegment") != "MACHINERY"))
        .select(
            F.col("c_custkey").alias("ck"),
            F.lit("MACHINERY").alias("segment"),
            F.lit("1998-07-01").cast("timestamp").alias("eff"),
        )
    )
    closed = (
        hist.alias("h")
        .join(upd.alias("u"), F.col("h.ck") == F.col("u.ck"), "left")
        .select(
            F.col("h.ck").alias("ck"),
            F.col("h.segment").alias("segment"),
            F.col("h.valid_from").alias("valid_from"),
            F.when(F.col("u.ck").isNotNull(), F.col("u.eff"))
            .otherwise(F.col("h.valid_to"))
            .alias("valid_to"),
        )
    )
    opened = upd.select(
        "ck",
        "segment",
        F.col("eff").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    versions = closed.unionByName(opened)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    pit = o.join(
        versions,
        (F.col("ck") == F.col("o_custkey"))
        & (F.col("valid_from") <= F.col("o_orderdate"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
    )
    return (
        pit.groupBy(F.col("segment").alias("segment_at_order_time"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(20,8)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("segment_at_order_time")
    )


@query(
    "streaming_merge_scd2",
    """
    WITH base AS (
      SELECT c_custkey AS ck, c_mktsegment AS seg, round(c_acctbal, 2) AS bal,
             c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY' AS f1,
             c_custkey % 5 = 0 AS f2
      FROM customer
    )
    SELECT ck, segment, acctbal,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(valid_to, '%Y-%m-%d') AS valid_to,
           is_current
    FROM (
      -- original interval: closes at e1 if batch-1 changed it, else at
      -- e2 if batch-2 changed it, else stays open
      SELECT ck, seg AS segment, bal AS acctbal,
             TIMESTAMP '1990-01-01' AS valid_from,
             CASE WHEN f1 THEN TIMESTAMP '2026-01-01'
                  WHEN f2 THEN TIMESTAMP '2026-06-01' END AS valid_to,
             NOT (f1 OR f2) AS is_current
      FROM base
      UNION ALL
      -- batch-1 interval (segment flip): closes at e2 when batch 2
      -- also touches the key
      SELECT ck, 'MACHINERY', bal, TIMESTAMP '2026-01-01',
             CASE WHEN f2 THEN TIMESTAMP '2026-06-01' END,
             NOT f2
      FROM base WHERE f1
      UNION ALL
      -- batch-2 interval (balance bump on whatever batch 1 left)
      SELECT ck, CASE WHEN f1 THEN 'MACHINERY' ELSE seg END,
             round(bal + 100, 2), TIMESTAMP '2026-06-01', NULL, true
      FROM base WHERE f2
    )
    ORDER BY ck, valid_from, is_current
    """,
    survey="§2.12,J9-scd2",
)
def streaming_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 under the STREAMING runtime: two update files arrive as
    two ORDERED micro-batches (maxFilesPerTrigger=1), each
    foreachBatch applies :func:`merge_scd2` against the history the
    PREVIOUS batch published — so a key changed in both batches ends
    with a 3-interval chain whose middle interval opens at batch 1's
    effective time and closes at batch 2's.  That cross-batch chaining
    is exactly what the oracle certifies: it CONSTRUCTS the expected
    interval set directly from the change flags (an independent
    derivation, not a re-run of the merge).

    Scale: same one-join-per-micro-batch plan as the batch SCD-2;
    versioned publishing (v{batch_id} dirs) keeps each batch's read
    and write paths disjoint — the self-overwrite trap a naive
    read-merge-overwrite sink springs at ANY scale."""
    import os
    import time

    from ..benchmeta import collect_local, scratch_dir, setup_span
    from ..operators.merge import merge_scd2
    from ..streaming.ingest import run_available_now, stream_source

    c = load_table(spark, sf_dir, "customer")
    hist0 = c.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    b1 = (
        c.filter((F.col("c_custkey") % 7 == 0) & (F.col("c_mktsegment") != "MACHINERY"))
        .select(
            F.col("c_custkey").alias("ck"),
            F.lit("MACHINERY").alias("segment"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.lit("2026-01-01").cast("timestamp").alias("eff"),
        )
    )
    b2 = c.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("ck"),
        F.when(
            (F.col("c_custkey") % 7 == 0) & (F.col("c_mktsegment") != "MACHINERY"),
            F.lit("MACHINERY"),
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.round(F.col("c_acctbal") + 100, 2).alias("acctbal"),
        F.lit("2026-06-01").cast("timestamp").alias("eff"),
    )

    with scratch_dir("stream_scd2_") as workdir:
        drop_dir = f"{workdir}/updates"
        out_root = f"{workdir}/history"
        with setup_span("streaming_merge_scd2"):
            # micro-batch order = file modification time (file source
            # processes oldest first) — but back-to-back writes can TIE on
            # filesystems with coarse mtime granularity, and tied files
            # have no guaranteed order (ADVICE r06).  Pin the order
            # explicitly: stamp every b1 file strictly older than every
            # b2 file.
            b1.coalesce(1).write.parquet(f"{drop_dir}/b1")
            b2.coalesce(1).write.parquet(f"{drop_dir}/b2")
            now = time.time()
            for sub, ts in (("b1", now - 120), ("b2", now - 60)):
                for root_, _dirs, files in os.walk(f"{drop_dir}/{sub}"):
                    for fn in files:
                        os.utime(os.path.join(root_, fn), (ts, ts))

        stream = stream_source(
            spark, f"{drop_dir}/*", b1.schema, fmt="parquet", maxFilesPerTrigger=1
        )
        published: list[str] = []

        def do_merge(batch_df: DataFrame, batch_id: int) -> None:
            current = (
                spark.read.parquet(published[-1]) if published else hist0
            )
            merged = merge_scd2(
                current,
                batch_df,
                key="ck",
                attrs=["segment", "acctbal"],
                effective="eff",
            )
            path = f"{out_root}/v{batch_id}"
            merged.write.mode("overwrite").parquet(path)
            published.append(path)

        run_available_now(
            stream.writeStream.foreachBatch(do_merge), f"{workdir}/checkpoint"
        )
        final = spark.read.parquet(published[-1])
        out = final.select(
            "ck",
            "segment",
            "acctbal",
            F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
            F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
            "is_current",
        ).orderBy("ck", "valid_from", "is_current")
        return collect_local(out)
