"""Catalog queries for the remaining classic decision-support shapes
(TPC-H Q4/Q12/Q14/Q18 analogs) plus the INTERSECT set op.

The reference's API tier composes at most two tables per route
(api/routers/analytics_routes.py); these certify the four-table /
subquery compositions a user of that API would eventually reach for
once the engine makes them cheap: EXISTS-probe aggregation, fact-fact
conditional classification, a global conditional ratio, and a
HAVING-filtered self-aggregation joined back to its dimensions.

Adaptation note: the driver's lineitem fixture carries no
l_commitdate / l_receiptdate / l_shipmode columns, so Q4's EXISTS
probe tests l_returnflag = 'R' and Q12's two-way classification
groups by l_returnflag and classifies o_orderpriority — same plan
shapes (semi-join + agg; join + conditional agg), different
predicates.

Also here: the Q5 six-table co-location join (the only query joining
the ``region`` dimension), the exact-moment correlation, and the
equi-width histogram.  All are exactly SQL-expressible; every oracle
is an independent DuckDB formulation (EXISTS subquery, FILTER
aggregates, INTERSECT).  Money sums use the exact-DECIMAL discipline
established in shipping_priority_topn so certified digits never
depend on partial-aggregate order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query, T

_Q4_LO, _Q4_HI = "1995-07-01", "1995-10-01"
_Q12_LO, _Q12_HI = "1995-01-01", "1996-01-01"
_Q14_LO, _Q14_HI = "1995-09-01", "1995-10-01"
_Q18_MIN_QTY = 300

_DEC = "decimal(20,8)"


@query(
    "order_priority_exists_counts",
    f"""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{_Q4_LO}'
      AND o.o_orderdate <  TIMESTAMP '{_Q4_HI}'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    survey="P11,A1,J7",
    tags=("tpch",),
)
def order_priority_exists_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — per-priority count of one quarter's orders that
    have at least one matching lineitem (EXISTS probe; returned-item
    flag stands in for the fixture's missing commit/receipt dates).

    Plan: the EXISTS compiles to a LEFT SEMI join, so each order is
    counted at most once no matter how many lineitems match — the bug
    an inner-join + distinct formulation invites.  Scale: the quarter
    filter prunes orders at the scan BEFORE the semi join; the probe
    side projects to (l_orderkey) only after its own pushed flag
    filter; the final agg is 5 keys."""
    o = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q4_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_Q4_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    probe = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(probe, o.o_orderkey == probe.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "returnflag_priority_classes",
    f"""
    SELECT l.l_returnflag,
           count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '{_Q12_LO}'
      AND l.l_shipdate <  TIMESTAMP '{_Q12_HI}'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    survey="J2,A2,P8",
    tags=("tpch",),
)
def returnflag_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — fact-fact join with a two-way conditional
    classification: for each lineitem return flag, how many shipped
    lines belonged to urgent/high-priority orders vs the rest
    (returnflag stands in for the fixture's missing l_shipmode).

    Plan: the priority test is a CASE inside the aggregate, not a
    pre-split union — ONE join, ONE agg, both branches share the scan.
    Scale: the ship-year filter prunes lineitem before the join; only
    (l_orderkey, l_returnflag) and (o_orderkey, o_orderpriority)
    survive projection into the shuffle."""
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_Q12_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q12_HI).cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(is_high.cast("long")).cast("long").alias("high_line_count"),
            F.sum((~is_high).cast("long")).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "promo_revenue_ratio",
    f"""
    SELECT
      CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8)))
             FILTER (WHERE p.p_type = 'PROMO') AS DOUBLE) AS promo_revenue,
      CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8)))
             AS DOUBLE) AS total_revenue,
      round(100.0 *
        CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8)))
               FILTER (WHERE p.p_type = 'PROMO') AS DOUBLE) /
        CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(20,8)))
               AS DOUBLE), 6) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '{_Q14_LO}'
      AND l.l_shipdate <  TIMESTAMP '{_Q14_HI}'
    """,
    survey="J2,A6",
    tags=("tpch",),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — one month's promo-part revenue share: a
    fact→dimension join reduced to a single global row holding a
    conditional-sum ratio.

    Numeric determinism: BOTH sums are exact DECIMAL(20,8) (the
    per-item term is exact at that scale), so numerator and
    denominator are bit-identical across engines and the double
    division + round(…,6) cannot flake with partitioning.  Scale: the
    month filter prunes the fact scan; part projects to
    (p_partkey, p_type) and broadcasts; the global agg is a two-level
    partial→final over ONE group."""
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_Q14_LO).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q14_HI).cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(_DEC)
    # no .otherwise(0): sum must be NULL when zero promo rows survive,
    # matching the oracle's sum(...) FILTER semantics in every window
    promo = F.when(F.col("p_type") == "PROMO", rev)
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_pct"),
    )


@query(
    "large_volume_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(20,8))) AS DOUBLE)
               AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(20,8))) > {_Q18_MIN_QTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
           round(o.o_totalprice, 2) AS totalprice,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    """,
    survey="A4,J2,O1",
    tags=("tpch",),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — orders whose total line quantity exceeds a
    threshold, joined back to their order and customer rows: the
    HAVING-filtered self-aggregation the reference's API cannot
    express in one round trip.

    Plan: lineitem aggregates FIRST (partial map-side sums on
    l_orderkey), and only the >threshold survivors — a few per ten
    thousand orders — enter the joins, so the expensive side of both
    joins is tiny.  At 100 TB the `big` frame is small enough to
    BROADCAST against orders; at test SF Spark picks broadcast via
    AQE from actual size.  Quantities sum as exact DECIMAL before the
    HAVING comparison, so threshold membership is engine-independent."""
    big = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("sq"))
        .filter(F.col("sq") > _Q18_MIN_QTY)
        .select("l_orderkey", F.col("sq").cast("double").alias("sum_qty"))
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "order_day"
            ),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
    )


@query(
    "trade_ready_nations_intersect",
    """
    SELECT n.n_name
    FROM nation n
    JOIN (
      SELECT DISTINCT c_nationkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
      INTERSECT
      SELECT DISTINCT s_nationkey AS k FROM supplier
      WHERE s_acctbal > 5000
    ) x ON x.k = n.n_nationkey
    ORDER BY n.n_name
    """,
    survey="E-intersect",
    tags=("tpch",),
)
def trade_ready_nations_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op — nations that BOTH hold a rich
    building-segment customer AND a well-capitalized supplier,
    enriched with the nation name.  Completes the set-op family
    (distinct / except / union are certified elsewhere; this is the
    missing intersect).

    Plan: `intersect` compiles to a distinct + LEFT SEMI join over the
    two pre-filtered, pre-projected key sets — each side collapses to
    ≤25 nation keys BEFORE the set op, and the 25-row nation dim
    broadcasts for the name lookup.  No full-table shuffle survives
    the projection."""
    cust = (
        T(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000))
        .select(F.col("c_nationkey").alias("k"))
        .distinct()
    )
    supp = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("k"))
        .distinct()
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.intersect(supp)
        .join(F.broadcast(n), F.col("k") == F.col("n_nationkey"))
        .select("n_name")
        .orderBy("n_name")
    )


@query(
    "price_qty_exact_corr",
    """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(10,2))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
             sum(CAST(l_quantity AS DECIMAL(10,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
             sum(CAST(l_quantity AS DECIMAL(10,2))
                 * CAST(l_quantity AS DECIMAL(10,2))) AS sxx,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_lines,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS qty_price_corr
    FROM m ORDER BY l_returnflag
    """,
    survey="A-corr",
    tags=("tpch",),
)
def price_qty_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from EXACT decimal moments —
    deliberately NOT the built-in ``corr`` aggregate: streaming
    covariance accumulators are floating-point and order-dependent,
    so two engines (or two partitionings of the same engine) disagree
    in the last digits.  Here the five moments (Σx, Σy, Σxy, Σx²,
    Σy²) are exact DECIMAL(38,8) sums — associative, commutative,
    partial-aggregatable map-side — and the correlation assembles
    from identical doubles on both engines.

    Scale: one map-side-combinable hash-agg on a 3-value key; the
    moment trick is the standard one-pass parallel corr/covariance
    at any cluster size (same posture as embedding_centroids' exact
    partial_avg)."""
    # (10,2)/(12,2), not (38,8): every product must fit decimal-38
    # EXACTLY on both engines — 38,8 squares would overflow precision
    # and each engine degrades differently (Spark truncates scale,
    # DuckDB falls back to double), which stays latent at small SF
    # and flips digits at large SF.  Quantities are 2-digit integers
    # and prices 2-dp, so (23,4)/(21,4)/(25,4) products are exact.
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(10,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_lines"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("qty_price_corr"),
    ).orderBy("l_returnflag")


@query(
    "price_histogram",
    """
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT)
               AS bucket
      FROM orders
    )
    SELECT bucket,
           CAST(bucket * 50000.0 AS DOUBLE) AS lo,
           CAST(CASE WHEN bucket = 9 THEN NULL
                ELSE (bucket + 1) * 50000.0 END AS DOUBLE) AS hi,
           count(*) AS n_orders,
           CAST(sum(count(*)) OVER (ORDER BY bucket) AS BIGINT) AS cum_orders
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    survey="A-histogram",
    tags=("tpch",),
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram with a cumulative count — the
    fixed-bucket profile pass a pipeline runs before choosing range
    partition bounds or quality thresholds.  Buckets are pure integer
    floor arithmetic (width 50k, last bucket open-ended), so bucket
    membership is engine-exact — no percentile sketch, no sampling.

    Scale: map-only bucket derivation + a ≤10-key hash-agg (map-side
    partials), then the cumulative sum runs over the 10 AGGREGATED
    rows — the global window is bounded by the bucket count, never the
    table (same posture as rolling_7d_revenue)."""
    orders = T(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast(
        "long"
    )
    agg = (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("lo"),
            F.when(F.col("bucket") == 9, F.lit(None).cast("double"))
            .otherwise((F.col("bucket") + 1) * 50000.0)
            .alias("hi"),
            "n_orders",
            F.sum("n_orders").over(w).cast("long").alias("cum_orders"),
        )
        .orderBy("bucket")
    )


@query(
    "local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(20,8))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    survey="J2,A2,P4",
    tags=("tpch",),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper — the six-table join (region → nation →
    customer → orders → lineitem → supplier) with the CO-LOCATION
    predicate ``s_nationkey = c_nationkey``: revenue earned where the
    supplier and the ordering customer share a nation, for one region
    and one year.  The only catalog query exercising the ``region``
    dimension in a join (everywhere else it appears only in the
    schema-inventory gate).

    Plan/scale: region (5 rows) filters to ONE key and broadcasts;
    nation (25 rows) broadcasts; so the region restriction reduces
    customers BEFORE the fact joins.  The year filter prunes orders at
    the scan.  The supplier join carries the extra nation-equality as
    part of the join condition — one hash join on (s_suppkey), the
    co-nation test applied in the same operator, never a post-join
    filter over an inflated intermediate.  Revenue sums as exact
    DECIMAL per the house rule."""
    r = (
        T(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n_asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    c_asia = c.join(F.broadcast(n_asia), c.c_nationkey == n_asia.n_nationkey).select(
        "c_custkey", "c_nationkey", "n_name"
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(20,8)"
    )
    return (
        o.join(c_asia, o.o_custkey == c_asia.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,8))) AS DOUBLE) / count(*)
               AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(20,8))) AS DOUBLE)
             AS total_balance
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    survey="P9,J6,A5",
    tags=("tpch",),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — customers with an above-average balance and
    NO RECENT ORDER (none since 2000-01-01; the fixture has no
    never-ordered customers), rolled up per nation: a SCALAR-subquery
    threshold (the global positive-balance mean) combined with an
    anti-join against the recency-filtered fact.  The scalar is data-derived, so the filter cannot be
    scan-pushed — the right plan computes ONE aggregate row and
    broadcasts it against the customer scan.

    Determinism: the mean divides an exact DECIMAL sum by an exact
    count once, globally — no partial-agg ordering in the certified
    digits (same posture as promo_revenue_ratio); the threshold
    COMPARISON then uses that one identical double in both engines.
    Scale: threshold = 1-row broadcast (no second customer shuffle);
    anti-join probes orders projected to o_custkey; final agg is ≤25
    keys."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(20,8)")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(20,8)"))
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("c_nationkey")
    )


def _pagerank_oracle_sql(rounds: int = 3, damping: float = 0.85, topk: int = 30) -> str:
    """Unrolled PageRank rounds as chained CTEs (same exact-decimal
    chain as operators/graph.py:pagerank — see its docstring)."""
    head = f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ed0 AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst AS src, src AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS out_deg FROM ed0 GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.out_deg FROM ed0 e JOIN deg d USING (src)),
    nodes AS (SELECT DISTINCT src AS node FROM ed0),
    scal AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1.0 / s.n AS DECIMAL(20,12)) AS rank
      FROM nodes, scal s
    )"""
    body = []
    prev = "r0"
    for i in range(1, rounds + 1):
        residual = repr(1.0 - damping)
        body.append(f""",
    r{i} AS (
      SELECT x.dst AS node,
             CAST(CAST('{residual}' AS DOUBLE) / s.n AS DECIMAL(20,12))
               + CAST(CAST('{damping!r}' AS DOUBLE) * CAST(sum(x.c) AS DOUBLE)
                      AS DECIMAL(20,12))
               AS rank
      FROM (SELECT e.dst,
                   CAST(CAST(r.rank AS DOUBLE) / e.out_deg AS DECIMAL(20,12))
                     AS c
            FROM ed e JOIN {prev} r ON r.node = e.src) x, scal s
      GROUP BY x.dst, s.n
    )""")
        prev = f"r{i}"
    tail = f"""
    SELECT node, round(CAST(rank AS DOUBLE), 8) AS rank
    FROM {prev}
    ORDER BY rank DESC, node
    LIMIT {topk}"""
    return head + "".join(body) + tail


@query(
    "trade_graph_pagerank",
    _pagerank_oracle_sql(rounds=3, damping=0.85, topk=30),
    survey="G-pagerank",
    tags=("graph",),
)
def trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier TRADE GRAPH (distinct
    who-bought-from-whom pairs, symmetrized so no node dangles),
    certified value-exact after 3 unrolled rounds — the third member
    of the certified-iterative family (connected components, Lloyd
    k-means, now PageRank), possible only because every per-edge
    contribution is one deterministic double-division→decimal cast
    and every rank a constant-plus-exact-decimal-sum
    (operators/graph.py).  Ranks surface the best-connected trading
    parties — the entity-importance signal entity-resolution and
    sampling tiers weight by.

    Scale: the edge build is one distinct over the projected join;
    each round is ONE edge shuffle keyed by src + one keyed agg on
    dst (the canonical distributed PageRank step), rank/degree
    frames localCheckpoint-ed.  Top-30 is a TakeOrderedAndProject."""
    from ..operators.graph import pagerank

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # distinct over the (custkey, suppkey) INT pair, node strings built
    # after: the dedup shuffle carries 16 bytes/row instead of two
    # strings (guide §2.3 narrower types); concat is injective given
    # the distinct c/s prefixes, so the pair set is identical.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, rounds=3, damping=0.85)
    return (
        ranks.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(30)
    )


@query(
    "nation_trade_volume_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS l_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(20,8)) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    survey="tpch-q7",
    tags=("tpch",),
)
def nation_trade_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing BETWEEN two
    named nations in both directions, split by ship year — the
    directed-pair variant of the Q5 co-location join.

    Plan/scale: both nation lookups are 25-row broadcasts; the
    disjunctive nation-pair predicate collapses each side to ONE key
    BEFORE the fact joins, so supplier and customer each shrink to
    ~1/25 and broadcast into the lineitem∕orders chain; the ship-date
    range is pushed to the lineitem scan (the only SF-scaling input
    actually read in full).  The year key derives from l_shipdate
    (utc-pinned year()), revenue sums as exact DECIMAL per the house
    rule, and the 2×2-ish group key set keeps the final agg a
    broadcast-sized rollup."""
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("n_name").isin("NATION_3", "NATION_7")
    n1 = n.filter(pair).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(pair).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = (
        T(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    c = (
        T(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(20,8)"
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year(F.to_utc_timestamp("l_shipdate", "UTC")).cast("long").alias(
                "l_year"
            ),
            vol.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "customer_order_distribution_q13",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    survey="tpch-q13",
    tags=("tpch",),
)
def customer_order_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): histogram of
    customers by how many NON-urgent orders they placed — the
    left-outer-join + double-aggregation pattern (zero-order
    customers must appear in the 0 bucket, which an inner join would
    silently drop; the fixture gives every customer ≥1 order overall,
    so the exclusion predicate is what creates the zero class).

    Plan/scale: the exclusion predicate prunes orders AT THE SCAN
    (pushed filter), the outer join shuffles both sides on custkey
    once, the per-customer count is a map-side-combinable agg on the
    join's own partitioning (no extra exchange), and the second agg
    collapses to ≤ a few dozen count-classes — broadcast-sized.
    count(o_orderkey) counts MATCHED rows only (nulls from the outer
    join don't count) in both engines."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "market_share_q8",
    """
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_12' THEN volume
                         ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE)
             AS nation_volume,
           CAST(sum(volume) AS DOUBLE) AS total_volume,
           round(
             CAST(sum(CASE WHEN nation = 'NATION_12' THEN volume
                           ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(20,8)) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        AND p.p_type = 'PROMO'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    survey="tpch-q8",
    tags=("tpch",),
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of all PROMO-part
    revenue sold to ASIA customers in 1995-1996, the fraction supplied
    by NATION_12, per order year — the eight-table join with a
    conditional-sum ratio on top (the widest join composition in the
    catalog; the reference's API tier would need four chained routes
    to approximate it, api/routers/analytics_routes.py composes two).

    Plan/scale: region (5 rows) and both nation lookups (25 rows)
    broadcast; the ASIA filter collapses region→nation to 5 customer
    nation keys before touching the fact chain, and p_type='PROMO'
    prunes part to ~1/6 BEFORE its join, so the only full-size inputs
    are lineitem (date-range NOT applicable — the range lives on
    o_orderdate) and orders (range pushed to its scan).  Join order:
    lineitem ⋈ broadcast(promo parts) ⋈ broadcast(supplier+nation)
    first — both shrink the fact stream map-side with zero shuffle —
    then ONE shuffle join against the date-pruned orders on orderkey,
    then customer.  The customer side is broadcast here (it prunes to
    1/5 of customers; Q7 precedent); at 100 TB the hint comes off and
    AQE picks a shuffle join on custkey — the plan is otherwise
    unchanged.  Numeric determinism: volume is exact DECIMAL(20,8)
    per the house rule, both the conditional and total sums stay
    decimal until the single double division, rounded to 6dp; the
    ELSE 0 keeps years with zero NATION_12 supply at share 0.0 (not
    NULL) in both engines.  Total volume is strictly positive for
    every emitted year (prices > 0, discounts < 1), so the ANSI
    division cannot hit zero."""
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nations = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    c = (
        T(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    s = (
        T(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(_DEC)
    nation_vol = (
        F.when(F.col("nation") == "NATION_12", vol)
        .otherwise(F.lit(0).cast(_DEC))
    )
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.select(
            F.year(F.to_utc_timestamp("o_orderdate", "UTC"))
            .cast("long")
            .alias("o_year"),
            vol.alias("volume"),
            nation_vol.alias("nation_volume_term"),
        )
        .groupBy("o_year")
        .agg(
            F.sum("nation_volume_term").cast("double").alias("nation_volume"),
            F.sum("volume").cast("double").alias("total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            F.round(F.col("nation_volume") / F.col("total_volume"), 6).alias(
                "mkt_share"
            ),
        )
        .orderBy("o_year")
    )


@query(
    "forecast_revenue_change_q6",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(20,8)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey="tpch-q6",
    tags=("tpch",),
)
def forecast_revenue_change_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the pure
    filter-and-sum — how much revenue a discount-band change would
    move in one year.  Everything is scan work: all three predicates
    push to the parquet scan and the global sum is one two-level agg
    over the survivors; the ideal whole-stage-codegen query.

    Determinism notes: the discount band compares the parquet DOUBLES
    both engines read against the same literal-parsed doubles —
    bitwise-identical outcomes with no epsilon; the revenue sum is
    exact DECIMAL per the house rule."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
        .cast("double")
        .alias("revenue")
    )


@query(
    "top_supplier_q15",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(20,8))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total = (SELECT max(total) FROM rev)
    ORDER BY s.s_suppkey
    """,
    survey="tpch-q15",
    tags=("tpch",),
)
def top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the revenue view over one
    quarter, then every supplier whose revenue EQUALS the view's
    maximum (ties must all surface — the reference of a groupwise-max
    against a derived aggregate rather than a base table).

    Determinism: the equality compares EXACT DECIMAL totals — two
    suppliers tie only if their revenue is exactly equal as rationals,
    identically in both engines (a double max would make the
    tie-boundary partition-dependent).  Plan/scale: the quarter prunes
    the fact scan, revenue aggregates map-side onto one suppkey
    shuffle, the 1-row max broadcasts back over the view (no second
    fact scan), and the supplier dim joins broadcast."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                _DEC
            )
        ).alias("total")
    )
    mx = rev.agg(F.max("total").alias("_mx"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "small_quantity_revenue_q17",
    """
    WITH pq AS (
      SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_q,
             count(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(20,8)))
                AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * pq.cnt < pq.sum_q
    """,
    survey="tpch-q17",
    tags=("tpch",),
)
def small_quantity_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems of
    one brand whose quantity falls below 20% of that PART's average
    quantity — the correlated per-group-threshold pattern (fact
    filtered against its own per-key aggregate).

    Determinism: the textbook form compares against ``0.2 * avg``,
    a double whose last ulp depends on partial-agg order; here the
    inequality is cross-multiplied into EXACT integer/decimal
    arithmetic — ``qty · 5 · cnt < sum_qty`` (quantities are
    integer-valued, cast to DECIMAL(12,2) losslessly) — so the
    boundary rows are a pure function of the data in both engines.
    Plan/scale: the per-part aggregate is map-side-combinable onto one
    partkey shuffle that the main join then REUSES (same key — no
    extra exchange); the brand filter prunes part at its scan and
    AQE-shrinks the probe side.  / 7.0 in double at the very end,
    matching the classic query's annualization."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sum_q"),
        F.count(F.lit(1)).alias("cnt"),
    )
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(pq, "l_partkey")
        .filter(
            F.col("l_quantity").cast("decimal(12,2)") * 5 * F.col("cnt")
            < F.col("sum_q")
        )
    )
    return joined.agg(
        (
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly")
    )


@query(
    "pricing_summary_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,8))), 2)
                AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(20,8))), 2) AS DOUBLE)
             AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) AS DECIMAL(20,8))), 2)
                AS DOUBLE) AS sum_charge,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,8))) AS DOUBLE)
                 / count(*), 6) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(12,6))) AS DOUBLE)
                 / count(*), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-08-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey="tpch-q1",
    tags=("tpch",),
)
def pricing_summary_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — THE canonical scan-heavy
    aggregation: eight aggregates over ~6 (returnflag, linestatus)
    groups, one pass, everything map-side-combinable.  The benchmark's
    original point stands at 100 TB: this is pure scan + partial-agg
    bandwidth, zero join, and the group cardinality never grows.

    Determinism: every sum is exact DECIMAL (charge's 3-factor product
    is computed in double — identical per-row in both engines — then
    cast once); averages divide the exact sums by the count in double
    and round 6dp, so no digit depends on partial-agg order.  Each
    sum is rounded to 2dp IN DECIMAL before its one double
    conversion: the r10 sf0.1 sweep caught the wide-scale
    decimal→double conversions one ulp apart at ~5e9 magnitude
    (DuckDB divides the int128 by 1e8 through double, losing low
    bits); at scale 2 the scaled integer stays below 2^53 and the
    conversion is exact on both engines (pit_segment_revenue got the
    same fix — the scale-proof emission recipe for big money sums)."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-08-01").cast("timestamp")
    )
    disc_price = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    sum_qty = F.sum(F.col("l_quantity").cast("decimal(12,2)"))
    sum_price = F.sum(F.col("l_extendedprice").cast(_DEC))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(sum_qty, 2).cast("double").alias("sum_qty"),
            F.round(sum_price, 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price.cast(_DEC)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(charge.cast(_DEC)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(sum_qty.cast("double") / n, 6).alias("avg_qty"),
            F.round(sum_price.cast("double") / n, 6).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(12,6)")).cast("double")
                / n,
                6,
            ).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "discounted_revenue_q19",
    """
    SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(20,8))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    survey="tpch-q19",
    tags=("tpch",),
)
def discounted_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    revenue from three OR'd (brand, size-band, quantity-band) triplets
    — the classic test of disjunction handling (the fixture lacks
    p_container/l_shipmode, so size/quantity bands carry the shape).

    Plan/scale: the join key is shared by all three branches, so this
    stays ONE broadcast join; Catalyst extracts the common p_partkey
    IsNotNull and pushes the brand disjunction to the part scan
    (PushedFilters shows an Or), while the mixed part/lineitem
    conjuncts evaluate post-join as a single predicate — no
    union-of-three-scans blowup.  Revenue is the exact-decimal house
    sum."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
                .cast(_DEC)
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "blamed_supplier_q21",
    """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    survey="tpch-q21",
    tags=("tpch",),
)
def blamed_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in
    finalized multi-supplier orders, the suppliers whose lineitems are
    the ONLY returned ones — the semi-join + anti-join DOUBLE
    correlation on the same key with a same-row inequality
    (returnflag 'R' stands in for the fixture's missing
    receipt-after-commit dates; same plan, same blame semantics).

    Plan/scale: both correlations are residual-condition joins on the
    l_orderkey equi-key — LEFT SEMI for "another supplier exists",
    LEFT ANTI for "no OTHER supplier also returned" — so the fact
    self-probes shuffle once on orderkey each, never materializing the
    order×lineitem multiplication an inner-join formulation would;
    the anti probe prunes to returned lines at ITS scan.  LIMIT rides
    a total order (numwait DESC, s_name) so the cut is deterministic
    under ties in both engines."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("s_key")
        )
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = l1.join(o, F.col("o_key") == F.col("o_orderkey")).select(
        "o_key", "s_key"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    probed = l1.join(
        l2,
        (F.col("o_key") == F.col("k2")) & (F.col("s_key") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("o_key") == F.col("k3")) & (F.col("s_key") != F.col("s3")),
        "left_anti",
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        probed.join(F.broadcast(s), F.col("s_key") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
