"""Catalog queries for the scan/ingest stage — SURVEY §2.1 S1-S9 and
the §2.2 P1-P3 projection DSL.

Network-free by design: the fetch kernel is a deterministic fake
(sources/scans.py), so the dataflow shapes — pagination fan-out,
detail-fetch map stage, HTML-in-JSON parsing, incremental seeding —
are exercised end-to-end and oracle-checked without HTTP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as fx
from ..benchmeta import local_frame
from ..operators.projection import Field, project_fields, rename_and_derive
from ..planview import partition_filter_columns
from ..sources.readers import load_table
from ..sources.scans import fetch_details, html_in_json, incremental_seed, page_fanout
from .catalog import query
from .fixtures import PRICE_TEXTS, TITLES, listing_fixture


@query(
    "page_fanout_scan",
    """
    SELECT n_name AS source,
           CAST(unnest(generate_series(1, greatest(CAST(ceil((n_nationkey * 37 + 12) / 10.0) AS INT), 1))) AS BIGINT) AS page
    FROM nation ORDER BY source, page
    """,
    survey="S1,S3,S4",
)
def page_fanout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3/S4: pagination fan-out — manifest rows explode into page
    tasks from a count-derived last page (ref ubudproperty.py:34-67,
    luxindoproperty.py:25-60, balipropertiesforsale.py:40-76).

    Scale: the manifest is tiny; explode is map-side; repartition
    after fan-out spreads the fetch stage."""
    nation = load_table(spark, sf_dir, "nation")
    manifest = nation.select(
        F.col("n_name").alias("source"),
        F.concat(F.lit("https://api/"), F.col("n_name")).alias("base_url"),
        (F.col("n_nationkey") * 37 + 12).alias("total_count"),
    )
    out = page_fanout(manifest, page_size=10)
    return out.select("source", F.col("page").cast("long").alias("page")).orderBy(
        "source", "page"
    )


@query(
    "detail_fetch_extract",
    """
    SELECT 'https://site/listing/' || o_orderkey AS url,
           CAST(200 AS BIGINT) AS status,
           CAST(o_orderkey AS BIGINT) AS listing_key,
           CAST(o_orderkey * 1000 AS BIGINT) AS usd
    FROM orders ORDER BY url
    """,
    survey="S2,S7",
)
def detail_fetch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S7: the detail-fetch map stage (mapInPandas, deterministic
    fake kernel) chained straight into the extraction library — title
    key + USD price mined from the fetched body
    (ref ubudproperty.py:69-172 parse_detail; the kernel swap point
    is where cookies/proxies live, balihomeimmo.py:46-82)."""
    orders = load_table(spark, sf_dir, "orders")
    urls = orders.select(
        F.concat(F.lit("https://site/listing/"), F.col("o_orderkey").cast("string")).alias(
            "url"
        )
    )
    fetched = fetch_details(urls)
    return fetched.select(
        "url",
        "status",
        fx.finder("body", r"Listing (\d+)", 1, "long").alias("listing_key"),
        fx.find_usd("body").alias("usd"),
    ).orderBy("url")


@query(
    "html_in_json_extract",
    """
    SELECT o_orderkey AS key,
           CAST((o_orderkey % 9) * 1000000 AS BIGINT) AS idr_price
    FROM orders ORDER BY key
    """,
    survey="S5",
)
def html_in_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: AJAX HTML-in-JSON payloads — JSON field pull, tag strip,
    then the Indonesian price miner, all JVM-side
    (ref baliexception.py:41-102, tealestate.py:22-59)."""
    orders = load_table(spark, sf_dir, "orders")
    payload = F.concat(
        F.lit('{"html": "<div class=\\"p\\">IDR '),
        (F.col("o_orderkey") % 9).cast("string"),
        F.lit(' juta</div>"}'),
    )
    html = html_in_json(payload)
    inner = fx.rex(html, r">([^<]+)<", 1)
    return orders.select(
        F.col("o_orderkey").alias("key"),
        fx.re_extract_price(inner).alias("idr_price"),
    ).orderBy("key")


@query(
    "incremental_seed_scan",
    """
    SELECT url FROM (
      SELECT DISTINCT 'u' || (o_orderkey % 500) AS url FROM orders
    ) c
    WHERE NOT EXISTS (
      SELECT 1 FROM (
        SELECT DISTINCT 'u' || (o_orderkey % 500) AS url FROM orders WHERE o_orderkey % 100 = 0
      ) k WHERE k.url = c.url
    )
    ORDER BY url
    """,
    survey="S8,S9,J6",
)
def incremental_seed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9: in-run URL dedup + already-crawled anti-join BEFORE the
    fetch stage (ref balihomeimmo.py:23-43,91 visited set + DB seed).
    One dropDuplicates + one anti-join; at scale the known set is the
    curated table's url column — bucketed on url, the join co-locates."""
    orders = load_table(spark, sf_dir, "orders")
    candidates = orders.select(
        F.concat(F.lit("u"), (F.col("o_orderkey") % 500).cast("string")).alias("url")
    )
    known = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        F.concat(F.lit("u"), (F.col("o_orderkey") % 500).cast("string")).alias("url")
    )
    return incremental_seed(candidates, known).orderBy("url")


_PRICE_GOLDEN = [1250000, 2500000000, 850000000, 3500000000, 750000000, 0]
_AVAIL_GOLDEN = ["Sold", "Delisted", "Available", "Available"]
_PTYPE_GOLDEN = [
    "Villa",
    "House",
    "Land",
    "Apartment",
    "Boutique hotel near the beach",
    "Townhouse",
]


@query(
    "projection_dsl_listing",
    f"""
    SELECT o_orderkey AS key,
           (CASE (o_orderkey % 6) {" ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(TITLES))} END) AS title,
           CAST((CASE (o_orderkey % 6) {" ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(_PRICE_GOLDEN))} END) AS BIGINT) AS price,
           (CASE (o_orderkey % 4) {" ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_AVAIL_GOLDEN))} END) AS availability,
           CAST((o_orderkey % 4) IN (2, 3) AS BOOLEAN) AS is_available,
           (CASE (o_orderkey % 6) {" ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_PTYPE_GOLDEN))} END) AS property_type
    FROM orders ORDER BY key
    """,
    survey="P1,P2,P3,C1,C2",
)
def projection_dsl_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3 + C1/C2: the ItemLoader-style record assembly as ONE
    declarative projection — per-field candidate inputs, MapCompose
    chains, TakeFirst outputs, then the rename/derive pass
    (ref ubudproperty.py:96-137 loader wiring, items.py:18-87
    processors, pipelines/property.py:30-36 rename+derive).  Raw
    helper columns (dirty_title, price_text, label_text) are dropped
    by not being selected (P2)."""
    raw = listing_fixture(spark, sf_dir).select(
        "key",
        F.concat(F.lit("  "), F.col("title"), F.lit("   ")).alias("dirty_title"),
        "title",
        "price_text",
        "label_text",
    )
    fields = [
        Field(
            name="title",
            inputs=("dirty_title", "title"),
            processors=(fx.remove_whitespace,),
        ),
        Field(
            name="price",
            inputs=("price_text",),
            output=lambda c: F.coalesce(
                fx.find_usd(c), fx.find_idr(c), fx.re_extract_price(c)
            ),
        ),
        Field(
            name="availability_label",
            inputs=(F.split("label_text", r"\|"),),
            output=lambda c: fx.any_sold_delisted(c),
        ),
        Field(
            name="property_type",
            inputs=("title",),
            processors=(fx.standardize_property_type,),
        ),
    ]
    projected = project_fields(
        raw, fields, keep=("key",), drop_helpers=("dirty_title", "price_text", "label_text")
    )
    out = rename_and_derive(
        projected,
        renames={"availability_label": "availability"},
        derived={"is_available": F.col("availability") == "Available"},
    )
    return out.select(
        "key", "title", "price", "availability", "is_available", "property_type"
    ).orderBy("key")


# Oracle SF bound (ADVICE r04): files_in=32/files_out=1 are pinned
# constants that hold while the 2-column orders projection stays under
# the 128 MB compaction budget (one output file) AND repartition(32)
# yields 32 non-empty fragments.  Measured: ~3 MB at sf0.1, ~60 MB
# extrapolated at sf1 — the bound breaks somewhere past sf2.  The query
# body asserts both preconditions loudly (_AUDIT_* messages below), so
# certifying at a larger SF fails with "raise the oracle constants",
# never with a silent hash mismatch of the invariant itself.
_AUDIT_FRAGMENTS = 32
_AUDIT_BUDGET_MB = 128


@query(
    "layout_maintenance_audit",
    f"""
    SELECT 'compact' AS op,
           CAST({_AUDIT_FRAGMENTS} AS BIGINT) AS files_in,
           CAST(1 AS BIGINT) AS files_out,
           TRUE AS rows_preserved,
           TRUE AS invariant_ok
    UNION ALL
    SELECT 'range_sort',
           CAST({_AUDIT_FRAGMENTS} AS BIGINT),
           CAST(4 AS BIGINT),
           TRUE, TRUE
    ORDER BY op
    """,
    survey="layout-maintenance",
    tags=("layout",),
)
def layout_maintenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the two file-layout maintenance ops end-to-end: a
    32-fragment orders zone is (a) compacted to the byte-budgeted file
    count with rows preserved, and (b) rewritten range-sorted with
    pairwise-DISJOINT per-file min/max footer ranges on the sort key —
    the invariant file/row-group skipping depends on.  The oracle pins
    the expected file counts and invariant booleans; any row loss,
    fragment-count drift, or overlapping range breaks the hash.

    Footer inspection runs driver-side over the ≤36-file test fixture
    (bounded by the assertion below) — the audit tool's natural home
    for a fixture.  A real 100k-file zone would fan the file list out
    as a DataFrame and open each footer executor-side (pure metadata
    reads), then check disjointness in one sort-by-min + lag-window
    pass; no catalog query needs that form, so the library does not
    carry it."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from ..benchmeta import scratch_dir
    from ..operators.layout import compact_files, write_range_sorted

    import os as _os

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    n_rows = orders.count()
    with scratch_dir("layout_audit_") as workdir:
        src = f"{workdir}/fragmented"
        orders.repartition(_AUDIT_FRAGMENTS).write.parquet(src)
        frag_files = _glob.glob(f"{src}/part-*.parquet")
        files_in = len(frag_files)
        # Loud preconditions for the pinned oracle constants (ADVICE r04):
        # certifying past the SF bound must say WHICH constant to raise.
        src_bytes = sum(_os.path.getsize(f) for f in frag_files)
        if src_bytes >= _AUDIT_BUDGET_MB * 1024 * 1024:
            raise AssertionError(
                f"_AUDIT_SF_BOUND: fixture is {src_bytes} bytes >= the "
                f"{_AUDIT_BUDGET_MB} MB budget — compaction would emit >1 "
                "file; raise the oracle's files_out constant for this SF"
            )
        if files_in != _AUDIT_FRAGMENTS:
            raise AssertionError(
                f"_AUDIT_FRAGMENT_DRIFT: repartition({_AUDIT_FRAGMENTS}) "
                f"wrote {files_in} non-empty files — oracle files_in is stale"
            )

        # (a) compaction
        dst_c = f"{workdir}/compacted"
        files_compact = compact_files(spark, src, dst_c, target_file_mb=_AUDIT_BUDGET_MB)
        rows_compact = spark.read.parquet(dst_c).count()

        # (b) range-sorted rewrite + disjointness audit from real footers
        dst_r = f"{workdir}/range_sorted"
        write_range_sorted(orders, dst_r, ["o_totalprice"], n_files=4)
        rs_files = _glob.glob(f"{dst_r}/part-*.parquet")
        # Driver-side footer loop is fixture-scoped BY CONSTRUCTION — keep
        # it that way (the 100k-file form is sketched in the docstring).
        assert len(rs_files) <= _AUDIT_FRAGMENTS + 4, (
            f"footer audit is driver-side and bounded; got {len(rs_files)} files"
        )
        ranges = []
        for f in rs_files:
            md = _pq.ParquetFile(f).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "o_totalprice"
            )
            stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
        ranges.sort()
        disjoint = all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))
        rows_range = spark.read.parquet(dst_r).count()

    return local_frame(
        spark,
        [
            ("compact", files_in, files_compact, rows_compact == n_rows, True),
            ("range_sort", files_in, len(rs_files), rows_range == n_rows, disjoint),
        ],
        "op string, files_in long, files_out long, rows_preserved boolean, invariant_ok boolean",
    ).orderBy("op")


# Morton spread steps, shared with operators/layout.py:_MORTON_STEPS —
# the oracle SQL below applies the SAME five shift-or-mask rounds so
# DuckDB recomputes the interleave bit for bit.
_Z_STEPS_SQL = "\n".join(
    f"    s{i + 1} AS (SELECT (a | (a << {sh})) & {mask} AS a,"
    f" (b | (b << {sh})) & {mask} AS b FROM s{i})"
    + ("," if i < 4 else "")
    for i, (sh, mask) in enumerate(
        [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
    )
)


@query(
    "zorder_bucket_stats",
    f"""
    WITH s0 AS (
      SELECT (o_custkey & 65535) AS a,
             (date_diff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) & 65535) AS b
      FROM orders
    ),
{_Z_STEPS_SQL},
    z AS (SELECT (a | (b << 1)) AS z FROM s5)
    SELECT CAST(z >> 16 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(z) AS BIGINT) AS z_min,
           CAST(max(z) AS BIGINT) AS z_max
    FROM z GROUP BY bucket ORDER BY bucket
    """,
    survey="layout-zorder",
    tags=("layout",),
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout key certified cross-engine: the Morton interleave
    of (o_custkey, days-since-1992) — the derived key a Z-ordered
    layout range-sorts files on (``write_range_sorted`` over a
    ``morton_code`` column) so a 2-D box predicate (customer range ×
    date range) skips files on BOTH columns at once, where the
    existing range-sorted layout clusters only its leading column.  The query buckets the curve
    (z >> 16) and certifies per-bucket count + exact min/max Morton
    codes; the DuckDB oracle recomputes the full five-step shift-or-
    mask spread bit for bit, so any deviation in the interleave math
    anywhere in the key domain breaks the hash.

    Scale: the key is five shift/mask expressions per row — pure
    whole-stage codegen, no UDF, no shuffle beyond the audit's own
    bounded (≤256-bucket) aggregate; at write time the layout costs
    the same single range exchange as ``write_range_sorted``.
    ``tests/test_layout_ivf.py`` proves the locality claim: a band on
    the trailing dimension touches at most half the files on the
    Z-ordered layout that it touches on the 1-D sort of the same
    data."""
    from ..operators.layout import morton_code

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.to_date(F.lit("1992-01-01"))
    )
    z = morton_code(F.col("o_custkey"), day, bits=16)
    return (
        orders.select(z.alias("z"))
        .groupBy(F.shiftrightunsigned("z", 16).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("z").cast("long").alias("z_min"),
            F.max("z").cast("long").alias("z_max"),
        )
        .orderBy("bucket")
    )


@query(
    "partition_pruned_scan",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,8))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE year(o_orderdate) = 1995
    GROUP BY month ORDER BY month
    """,
    survey="S-partitioned,P6",
    tags=("ingest",),
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style PARTITION PRUNING end-to-end: orders are laid out
    ``partitionBy(o_year)`` (the write a 100 TB deployment does once),
    and a one-year query must then touch ONLY that year's directory —
    the filter becomes a PartitionFilter resolved against directory
    names at planning time, so 6/7ths of the data is never opened,
    listed footers aside.  The in-query assertion fails the
    certification row if the pushed partition filter ever leaves the
    plan; the RESULT is certified against the unpartitioned original
    via an independent year() derivation.

    Scale: this is THE dominant I/O lever at 100 TB (a year-
    partitioned fact table turns a 7-year scan into a 1-year scan
    before a single task launches); the layout write costs one
    shuffle-free pass, billed as setup."""
    from ..benchmeta import collect_local, scratch_dir, setup_span

    with scratch_dir("part_prune_") as workdir:
        with setup_span("partition_pruned_scan"):
            orders = load_table(spark, sf_dir, "orders")
            (
                orders.withColumn("o_year", F.year("o_orderdate"))
                .write.partitionBy("o_year")
                .mode("overwrite")
                .parquet(f"{workdir}/orders_by_year")
            )

        df = (
            spark.read.parquet(f"{workdir}/orders_by_year")
            .filter(F.col("o_year") == 1995)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(20,8)"))
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("month")
        )
        # raise, not assert: the gate must survive python -O
        if "o_year" not in partition_filter_columns(df):
            raise AssertionError("partition filter did not reach the scan")
        return collect_local(df)


@query(
    "schema_evolution_union",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE year(o_orderdate) = 1995
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE year(o_orderdate) = 1996
    )
    SELECT coalesce(o_orderpriority, '(pre-schema)') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,8))) AS DOUBLE)
             AS revenue
    FROM unioned GROUP BY priority ORDER BY priority
    """,
    survey="S-evolution",
    tags=("ingest",),
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on read: an early batch written WITHOUT the
    ``o_orderpriority`` column and a later batch written WITH it are
    read as one table via ``mergeSchema`` — old rows surface NULL for
    the added column, new rows carry their value; no rewrite of the
    old files.  The aggregate certifies both the row routing and that
    no value leaked across the schema boundary.

    Scale: mergeSchema reconciles footers at planning time (on a huge
    table, pin the merged schema explicitly via ``.schema(...)`` to
    skip the footer sweep — documented trade); the data files
    themselves are never rewritten, which is the point: at 100 TB a
    column add must be O(metadata), not O(data)."""
    from ..benchmeta import collect_local, scratch_dir, setup_span

    with scratch_dir("schema_evo_") as workdir:
        with setup_span("schema_evolution_union"):
            orders = load_table(spark, sf_dir, "orders")
            (
                orders.filter(F.year("o_orderdate") == 1995)
                .select("o_orderkey", "o_totalprice")
                .write.mode("overwrite")
                .parquet(f"{workdir}/t/batch=1995")
            )
            (
                orders.filter(F.year("o_orderdate") == 1996)
                .select("o_orderkey", "o_totalprice", "o_orderpriority")
                .write.mode("overwrite")
                .parquet(f"{workdir}/t/batch=1996")
            )

        df = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{workdir}/t")
            .groupBy(
                F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias(
                    "priority"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(20,8)"))
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("priority")
        )
        return collect_local(df)
