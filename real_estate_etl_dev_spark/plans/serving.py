"""Catalog queries for serve-path pagination, set ops, sum shapes,
filters, sinks-shaped frames and the ML transform — SURVEY §2.6
O1/O3/O5, §2.7 E3/E4, §2.4 A5/A7, §2.2 P7/P10/P12/P14, §2.1 S16/S17,
§2.11 ML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import order_bounded, paginate_keyset, top1_by_key
from ..operators.sinks import dead_letter_frame
from ..sources.readers import load_table
from .catalog import query


@query(
    "orders_keyset_page",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    WHERE o_totalprice < 55000
       OR (o_totalprice = 55000 AND o_orderkey > 0)
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
    survey="O1,O5-keyset",
)
def orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination — the 100 TB replacement for OFFSET (VERDICT
    r01 item 7): a sargable seek predicate pushed to the scan + a
    bounded top-k, instead of a global row_number sort
    (ref queue_routes.py:28-37 offset version; orders_page3_by_price
    keeps the faithful analog)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    page = paginate_keyset(
        orders,
        sort_col="o_totalprice",
        key_col="o_orderkey",
        last_sort_value=55000.0,
        last_key_value=0,
        page_size=50,
    )
    return page.select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))


@query(
    "top1_order_by_price",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    """,
    survey="O3",
)
def top1_order_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: ORDER BY ... LIMIT 1 → TakeOrderedAndProject (per-partition
    top-1, driver merge; no total sort) (ref models/listing.py:72-74)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    top = top1_by_key(orders, "o_totalprice", "o_orderkey")
    return top.select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))


@query(
    "union_sources_counts",
    """
    SELECT source, batch, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT source, 'even' AS batch FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT source, 'odd' AS batch FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY source, batch ORDER BY source, batch
    """,
    survey="E3",
)
def union_sources_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: unionByName of per-source frames — the multi-spider merge
    (ref crawl.sh:1-24 runs 22 spiders into one table)."""
    docs = load_table(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0).select(
        "source", F.lit("even").alias("batch")
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1).select(
        "source", F.lit("odd").alias("batch")
    )
    counts = (
        even.unionByName(odd)
        .groupBy("source", "batch")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return order_bounded(counts, "source", "batch")


@query(
    "distinct_label_tokens",
    """
    SELECT lang,
           CAST(sum(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS n_distinct_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    survey="E4",
)
def distinct_label_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: array_distinct label uniquify (ref models/property.py:120-121
    ``issues = list(set(issues))``) applied per-row before aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.array_distinct(F.split("text", " ")))
    return (
        docs.select("lang", n.alias("nd"))
        .groupBy("lang")
        .agg(F.sum("nd").cast("long").alias("n_distinct_tokens"))
        .orderBy("lang")
    )


@query(
    "supplier_line_sums",
    """
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
    survey="A5",
)
def supplier_line_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-key sum aggregates (ref analytics_routes.py:70-95
    per-report sums).  Partial aggregation map-side; one shuffle on
    l_suppkey."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
        .orderBy("l_suppkey")
    )


@query(
    "lineitem_totals",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty,
           round(sum(l_extendedprice), 2) AS total_price,
           round(avg(l_discount), 6) AS avg_discount
    FROM lineitem
    """,
    survey="A7",
)
def lineitem_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: the dashboard's client-side reduce sums
    (ref dashboard/components/report-table.jsx:123-126) pushed into
    one engine-side global aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
    )


@query(
    "event_predicate_filters",
    """
    SELECT CAST(sum(CASE WHEN nullif(value, 0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
           CAST(sum(CASE WHEN value > 0.5 AND event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN event_type LIKE 'p%' THEN 1 ELSE 0 END) AS BIGINT) AS n_p_prefixed,
           CAST(sum(CASE WHEN props IS NOT NULL AND props <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_props
    FROM events
    """,
    survey="P7,P10,P12",
)
def event_predicate_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 null predicates (via nullif-derived NULLs — the testdata has
    none), P10 compound boolean flags, P12 validity/startswith checks
    (ref fill_missing_sold_at.py:11-14, tag_routes.py:29,
    data_routes.py:106-107) — all pushed into one scan."""
    ev = load_table(spark, sf_dir, "events")
    nullable_v = F.nullif(F.col("value"), F.lit(0.0))
    return ev.agg(
        F.sum(F.when(nullable_v.isNull(), 1).otherwise(0)).cast("long").alias("n_null_value"),
        F.sum(
            F.when((F.col("value") > 0.5) & (F.col("event_type") != "error"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged"),
        F.sum(F.when(F.col("event_type").startswith("p"), 1).otherwise(0))
        .cast("long")
        .alias("n_p_prefixed"),
        F.sum(
            F.when(F.col("props").isNotNull() & (F.col("props") != ""), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_valid_props"),
    )


@query(
    "dead_letter_dedup",
    """
    SELECT DISTINCT 'u' || user_id AS url,
           event_type || ':' || substring(props, 1, 12) AS error_message
    FROM events WHERE event_type = 'error'
    ORDER BY url, error_message
    """,
    survey="S16",
)
def dead_letter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: dead-letter sink frame — failures deduped on
    (url, error_message), the reference's unique constraint
    (models/error.py:14-16, pipelines/property.py:53-66)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    errors = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.concat_ws(
            ":", F.col("event_type"), F.substring("props", 1, 12)
        ).alias("error_message"),
    )
    return dead_letter_frame(errors).orderBy("url", "error_message")


@query(
    "run_report_rows",
    """
    SELECT 'src' || (user_id % 5) AS source,
           CAST(count(*) AS BIGINT) AS item_scraped_count,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS response_error_count,
           round(sum(value), 2) AS elapsed_proxy
    FROM events GROUP BY source ORDER BY source
    """,
    survey="S17,A9",
)
def run_report_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17/A9: per-source run-report rows (scraped/error counts —
    ref models/report.py:13-17, pipelines/property.py:70-87), one
    grouped aggregate over the events."""
    ev = load_table(spark, sf_dir, "events")
    report = ev.groupBy(
        F.concat(F.lit("src"), (F.col("user_id") % 5).cast("string")).alias("source")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("item_scraped_count"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("response_error_count"),
        F.round(F.sum("value"), 2).alias("elapsed_proxy"),
    )
    return order_bounded(report, "source")


@query(
    "ml_region_prediction",
    """
    SELECT ['canggu','ubud','seminyak','uluwatu'][CAST(o_orderkey % 4 AS INT) + 1]
             AS region,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS acc_ge_90
    FROM orders WHERE o_orderkey <= 8000
    GROUP BY region ORDER BY region
    """,
    survey="ML,S19",
)
def ml_region_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 ML: TF-IDF(1-2grams, minDF=2) + RandomForest region
    classifier as a pyspark.ml Pipeline; trained on a deterministic
    location fixture, inference as ONE distributed transform
    (ref ml_region_prediction.py:44-98,142-152 trains sklearn and
    predicts row-by-row with a commit per row).

    Self-verifying oracle (VERDICT r02 item 5): the fixture is keyed
    on a DETERMINISTIC predicate (o_orderkey <= 8000 — not limit(),
    whose row choice DuckDB couldn't reproduce), each location text
    embeds its region token, and the output carries exact per-region
    row counts plus an accuracy >= 0.9 boolean per region.  DuckDB
    recomputes the counts and states the boolean; training quality
    below the gate hash-mismatches the row.  (Boolean, not exact
    n_correct: seeded RF is deterministic here, but vocabulary index
    ties can flip single rows across partitionings — the gate should
    certify learning, not tie-breaking.)"""
    from ..ml.region import predict_regions, train_region_model

    regions = ["canggu", "ubud", "seminyak", "uluwatu"]
    templates = [
        "beautiful villa near {r} beach area",
        "family home in central {r} district",
        "land plot {r} rice field view",
        "{r} modern apartment close to cafes",
    ]
    k = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(k.alias("key")).filter(
        F.col("key") <= 8000
    )
    region = F.element_at(
        F.array(*[F.lit(r) for r in regions]), (F.col("key") % 4).cast("int") + 1
    )
    template = F.element_at(
        F.array(*[F.lit(t) for t in templates]), ((F.col("key") / 4) % 4).cast("int") + 1
    )
    fixture = base.select(
        "key",
        region.alias("region"),
        F.replace(template, F.lit("{r}"), region).alias("location"),
    )
    # Pipeline.fit makes ~6 passes over the training frame (two
    # CountVectorizer fits, StringIndexer, IDF, RF); cache so each pass
    # reuses the materialized 8k-row fixture instead of re-running the
    # parquet scan + text synthesis.  Unpersisted after fit — the one
    # inference pass recomputing it is a single cheap scan.
    fixture = fixture.cache()
    try:
        model = train_region_model(fixture, num_trees=20)
    finally:
        fixture.unpersist(blocking=False)
    pred = predict_regions(model, fixture)
    return (
        pred.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("predicted_region") == F.col("region"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "region",
            "n",
            (F.col("n_correct") * 10 >= F.col("n") * 9).alias("acc_ge_90"),
        )
        .orderBy("region")
    )
