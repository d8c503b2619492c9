"""Catalog queries for the OLAP reshaping families: pivot, unpivot,
and hierarchical rollup — standard serve-path shapes (the reference's
dashboard tables pivot report rows client-side, e.g.
dashboard/components/report-table.jsx; here the engine does it).

All three are exactly SQL-expressible, so the oracles are full
independent implementations (DuckDB conditional aggregation / UNPIVOT
/ ROLLUP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import order_bounded
from .catalog import query, T

_STATUSES = ["F", "O", "P"]


@query(
    "order_status_pivot",
    f"""
    SELECT o_orderpriority,
           {", ".join(f"count(*) FILTER (WHERE o_orderstatus = '{s}') AS status_{s}" for s in _STATUSES)}
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    survey="A-pivot",
    tags=("olap",),
)
def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts as one column per status.  The pivot values
    are DECLARED (not discovered), so the plan is a single hash-agg
    with one conditional count per status — no values-discovery job,
    which is the difference between one pass and two at 100 TB.  It is
    written as the conditional counts themselves: ``groupBy().pivot()``
    plans Spark's two-phase pivot (a second aggregate with
    ``PivotFirst`` behind one more shuffle)."""
    return order_bounded(_status_counts(spark, sf_dir), "o_orderpriority")


def _status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsorted pivot: one row per priority, one count per status."""
    orders = T(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    return orders.groupBy("o_orderpriority").agg(
        *[F.count(F.when(status == s, 1)).alias(f"status_{s}") for s in _STATUSES]
    )


@query(
    "order_status_unpivot",
    f"""
    WITH wide AS (
      SELECT o_orderpriority,
             {", ".join(f"count(*) FILTER (WHERE o_orderstatus = '{s}') AS status_{s}" for s in _STATUSES)}
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n
    FROM wide UNPIVOT (n FOR status IN ({", ".join(f"status_{s}" for s in _STATUSES)}))
    ORDER BY o_orderpriority, status
    """,
    survey="A-unpivot",
    tags=("olap",),
)
def order_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide pivot back to (priority, status, n)
    rows via ``unpivot`` — a zero-shuffle projection (each input row
    expands in place), so it composes freely after any aggregate.  The
    result is bounded (priorities × statuses), so it sorts in one task."""
    melted = _status_counts(spark, sf_dir).unpivot(
        "o_orderpriority", [f"status_{s}" for s in _STATUSES], "status", "n"
    )
    return order_bounded(melted, "o_orderpriority", "status")


@query(
    "revenue_rollup_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS BIGINT)
             AS agg_level,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY agg_level, status, priority
    """,
    survey="A-rollup",
    tags=("olap",),
)
def revenue_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: (status, priority) → status subtotals →
    grand total in ONE pass — Spark expands grouping sets map-side, so
    the three levels cost one shuffle, not three scans (the
    dashboard's subtotal rows without re-querying).  ``grouping()``
    disambiguates real NULL keys from subtotal rows."""
    orders = T(spark, sf_dir, "orders")
    lvl = (
        F.grouping("o_orderstatus") + F.grouping("o_orderpriority")
    ).cast("long")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            lvl.alias("agg_level"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "agg_level",
            "n_orders",
            "revenue",
        )
        .orderBy("agg_level", "status", "priority")
    )


@query(
    "revenue_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY grp_id, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    survey="A-groupingsets",
    tags=("olap",),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form rollup/cube specialize: three
    independent aggregation grains (by status, by priority, grand
    total) in ONE pass over the fact table, disambiguated by
    ``grouping_id`` (the null-vs-aggregated marker rollup consumers
    need; bit order follows the listed group-by columns and matches
    DuckDB's ``GROUPING()``).

    Scale: Catalyst plans grouping sets as a single Expand + hash
    aggregate — the fact table is scanned ONCE and expanded ×|sets|
    with map-side partial aggregation, vs |sets| separate scans if the
    grains ran as separate queries; the shuffle carries only the
    per-grain group cardinalities."""
    orders = T(spark, sf_dir, "orders")
    grains = (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("grp_id"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "grp_id", "n_orders", "revenue")
    )
    return order_bounded(
        grains,
        "grp_id",
        F.col("o_orderstatus").asc_nulls_first(),
        F.col("o_orderpriority").asc_nulls_first(),
    )
