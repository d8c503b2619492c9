"""Query catalog — the driver-facing inventory of implemented operators.

Each entry maps one (or more) operator rows from SURVEY §2 to

  * a PySpark plan  ``fn(spark, sf_dir) -> DataFrame``  and
  * an equivalent DuckDB oracle SQL string (``None`` for ops DuckDB
    can't express — the driver then records a weaker rows-only check).

Conventions that keep the driver's hash-compare honest:
  * every computed column is aliased identically on both sides;
  * float aggregates are ``round(x, 2..6)`` on both sides;
  * timestamps are emitted as formatted strings (tz/precision safe);
  * integer-ish outputs are BIGINT on both sides (DuckDB ``sum`` is
    HUGEINT → explicit CAST; Spark ``row_number``/``size`` are INT →
    explicit ``.cast("long")``).

Scale notes live on each query: what shuffles, what broadcasts, and
why the plan survives 100 TB.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import benchmeta
from ..operators.analytics import order_bounded, paginate_offset
from ..planview import file_roots, leaves, node_class, plan_root, subplans
from ..sources.readers import input_signature, load_table, record_reads


@dataclass(frozen=True)
class Query:
    """One catalog row.  ``fn`` is the builder behind the prepared-plan
    memo that :func:`query` installs; the defining module keeps the raw
    builder under its own name, so calling that name always builds."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey: str = ""  # SURVEY §2 operator ids this covers
    tags: tuple = field(default_factory=tuple)


CATALOG: dict[str, Query] = {}

# Leaves a prepared plan may hold besides the file relations its build
# read through ``sources.readers``.
_CONSTANT_LEAVES = frozenset({"LocalRelation", "Range", "OneRowRelation"})


@dataclass(frozen=True)
class _Prepared:
    spark: SparkSession
    conf: int  # digest of the session's SQL conf map before the build
    inputs: dict[str, tuple]  # absolute input path -> input_signature
    plan: object  # the build's analyzed JVM LogicalPlan
    # JVM handles a hit calls, fetched once: each py4j hop costs ~0.3 ms
    sc: object  # SparkContext
    sqlconf: object  # the session's SQLConf
    of_rows: object  # classic Dataset.ofRows


# (query name, sf_dir) -> the newest memoized build; a mismatch replaces it
_PREPARED: dict[tuple[str, str], _Prepared] = {}


def _conf_digest(sqlconf) -> int:
    return sqlconf.getAllConfs().hashCode()


def _jobs_submitted(spark: SparkSession) -> int:
    return spark._jsc.sc().dagScheduler().numTotalJobs()


def _matches(entry: _Prepared, spark: SparkSession) -> bool:
    return (
        entry.spark is spark
        and not entry.sc.isStopped()
        and _conf_digest(entry.sqlconf) == entry.conf
        and all(input_signature(path) == sig for path, sig in entry.inputs.items())
    )


def _plan_to_prepare(df: DataFrame, reads: dict[str, tuple]):
    """The analyzed plan of ``df`` when it is deterministic and every
    leaf, subqueries included, is a file relation over paths in
    ``reads`` or a constant relation; else ``None``.

    ``deterministic`` already folds in a tree's children, so it is
    asked once per root (the plan and each subquery plan), and only
    the leaves are inspected node by node: each py4j call costs
    ~0.3 ms, so none is spent on an inner node."""
    analyzed = plan_root(df, "analyzed")
    for plan in subplans(analyzed):
        if not plan.deterministic():
            return None
        for leaf in leaves(plan):
            if node_class(leaf) in _CONSTANT_LEAVES:
                continue
            roots = file_roots(leaf)
            if roots is None or not all(root in reads for root in roots):
                return None
    return analyzed


def _memoized(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` behind the prepared-plan memo described in :func:`query`."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (name, sf_dir)
        entry = _PREPARED.get(key)
        if entry is not None and _matches(entry, spark):
            return DataFrame(entry.of_rows(spark._jsparkSession, entry.plan), spark)
        _PREPARED.pop(key, None)
        sqlconf = spark._jsparkSession.sessionState().conf()
        conf = _conf_digest(sqlconf)
        jobs, spans = _jobs_submitted(spark), benchmeta.SPANS_OPENED
        with record_reads() as reads:
            df = fn(spark, sf_dir)
        if _jobs_submitted(spark) == jobs and benchmeta.SPANS_OPENED == spans:
            plan = _plan_to_prepare(df, reads)
            if plan is not None:
                _PREPARED[key] = _Prepared(
                    spark, conf, reads, plan, spark._jsc.sc(), sqlconf,
                    spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows,
                )
        return df

    return build


def query(name: str, oracle: str | None, survey: str = "", tags: tuple = ()):
    """Register ``fn`` as catalog query ``name`` and return it unchanged.

    The registered ``Query.fn`` memoizes the ANALYZED logical plan of a
    build that only reads its inputs.  A request whose key matches
    returns a new DataFrame over that plan: a new ``QueryExecution``
    still optimizes, plans and runs every job, so rows are never
    reused, only the Python build and the analysis.  The key is:

    * the query name and ``sf_dir``;
    * the session (the same ``SparkSession`` object, not stopped);
    * a digest of the session's SQL conf map (``getAllConfs``) taken
      before the build, so any conf change misses;
    * the ``sources.readers.input_signature`` of every input path the
      build read through ``sources.readers`` (a rewritten file, a
      rewritten part file or a recreated directory misses).

    A build is memoized only when it submitted no Spark job (no write,
    stream, checkpoint, collect or schema inference ran), opened no
    ``benchmeta.setup_span``, and its analyzed plan is deterministic
    with only file relations read through ``readers`` in this build or
    ``LocalRelation``/``Range``/``OneRowRelation`` as leaves.  One
    entry is kept per (query, ``sf_dir``); a miss replaces it.

    Not keyed: Python module state a builder reads (constants, globals,
    the environment).  Calling the module-level builder name, as tests
    that patch a module constant do, always builds afresh.
    ``current_timestamp()``/``current_date()`` still resolve per
    request: the optimizer fixes them per ``QueryExecution``.
    """

    def deco(fn):
        CATALOG[name] = Query(name, _memoized(name, fn), oracle, survey, tags)
        return fn

    return deco


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in CATALOG.items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in CATALOG.items() if q.oracle is not None}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A. Aggregations / monthly analytics  (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "monthly_order_counts",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n_orders
    FROM orders GROUP BY month ORDER BY month
    """,
    survey="A3,O4",
)
def monthly_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: derived-key monthly count (reference api/routers/analytics_routes.py:28-43
    loops in Python; here the regex/bucket+count is one hash-agg inside the engine).

    Scale: single shuffle on ~24 month keys, partial agg map-side; scan
    prunes to one column (ReadSchema shows o_orderdate only)."""
    orders = T(spark, sf_dir, "orders")
    counts = (
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return order_bounded(counts, "month")


@query(
    "event_type_counts",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey="A1",
)
def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by status count (reference api/routers/data_routes.py:46-62
    queue stats). Map-side partial agg; 5 keys → no skew concern."""
    counts = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return order_bounded(counts, "event_type")


@query(
    "groupwise_max_order_date",
    """
    SELECT o_custkey, strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
    survey="A4",
)
def groupwise_max_order_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: groupwise max (reference analytics_routes.py:62-67
    max(Report.created_at) per source)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date"))
        .orderBy("o_custkey")
    )


@query(
    "filtered_error_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_errors
    FROM events WHERE event_type = 'error'
    """,
    survey="A6,P4",
)
def filtered_error_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/P4: filtered count (reference queue_routes.py:120-131 Error count).
    Predicate pushes to parquet scan (PushedFilters)."""
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )


@query(
    "distinct_mktsegments",
    """
    SELECT DISTINCT c_mktsegment AS segment FROM customer ORDER BY segment
    """,
    survey="A8,E1,O2",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/E1: distinct-set aggregate, sorted (reference queue_routes.py:48-58
    unique domains). distinct = hash-agg; tiny result."""
    return (
        T(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"))
        .distinct()
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# J. Joins  (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "latest_order_per_customer",
    """
    SELECT o_custkey,
           o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(o_totalprice, 2) AS total_price
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
    """,
    survey="J1,W2",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/W2: groupwise-max top-1 per group. The reference rewrites this as a
    subquery self-join (analytics_routes.py:62-94); Spark-first it's a window
    rank — ONE shuffle on the partition key instead of agg+join (two).

    Scale: shuffle partitions by o_custkey; deterministic tie-break on
    orderkey so replays/oracles agree."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        T(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("o_custkey")
    )


@query(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
    survey="J2,A2",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A2: fact⋈dim equi-join + agg (reference tag_routes.py:24-40).

    Scale: nation (25 rows, bounded at any SF) is force-broadcast;
    customer GROWS with SF, so its join strategy is left to
    AQE/auto-broadcast — forcing the hint would OOM executors at large
    SF. Only the 25-key agg shuffles the fact side."""
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    return order_bounded(per_nation, "nation")


@query(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    survey="J6,E2,P9",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/E2: left anti-join (reference balihomeimmo.py:28-43 skip-known-urls,
    data_routes.py:117-118 url difference).

    Scale: anti-join on the key; with a small right side Spark picks
    broadcast-anti automatically under AQE."""
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").select("o_custkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "customers_with_march_1995_orders",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1995-03-01'
        AND o.o_orderdate <  TIMESTAMP '1995-04-01'
    )
    ORDER BY c_custkey
    """,
    survey="J7,P6,P8",
)
def customers_with_march_1995_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/P6/P8: left semi-join against a month window (reference
    queue_routes.py:69-105 this-month sync). Month window = two timestamp
    comparisons → pushed to the scan; semi-join keeps only key columns."""
    customer = T(spark, sf_dir, "customer")
    orders = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(
    "duplicate_docs_cross_source",
    """
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           a.lang AS lang, a.n_chars AS n_chars
    FROM documents a JOIN documents b
      ON a.n_chars = b.n_chars AND a.lang = b.lang
     AND a.doc_id < b.doc_id AND a.source <> b.source
    ORDER BY doc_id_a, doc_id_b
    """,
    survey="J4",
)
def duplicate_docs_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: cross-source duplicate-detection self-join (reference
    pipelines/property.py:128-153 — 6-key equality, source != source).

    Spark-first: ONE set-based self-join per batch instead of the
    reference's per-insert probe. Scale: equi-join keys carry the
    composite key so it's a hash join, not a cross join; null keys are
    filtered first (SQL NULL-equality semantics + skew dodge);
    `a.doc_id < b.doc_id` halves the pair space deterministically."""
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .filter(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.lang") == F.col("b.lang")),
        )
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source"))
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.n_chars").alias("n_chars"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


@query(
    "duplicate_docs_same_source",
    """
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           a.source AS source, a.n_chars AS n_chars
    FROM documents a JOIN documents b
      ON a.n_chars = b.n_chars AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    ORDER BY doc_id_a, doc_id_b
    """,
    survey="J5",
)
def duplicate_docs_same_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: same-source duplicate self-join (reference
    pipelines/property.py:154-178 — same keys, source == source, url != url)."""
    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .filter(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.source").alias("source"),
            F.col("a.n_chars").alias("n_chars"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


@query(
    "doc_embedding_enrichment",
    """
    SELECT d.lang AS lang, e.label AS label, CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label ORDER BY lang, label
    """,
    survey="J3,J8",
)
def doc_embedding_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J8: key-lookup enrichment join (reference tag_routes.py:78-101 does
    this as an N+1 per-row query; ml_region_prediction.py:31-39 as url match).
    One distributed join replaces N round-trips."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = T(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "label")
    )


# ---------------------------------------------------------------------------
# O/W. Sorts, pagination, sequences  (SURVEY §2.5, §2.6)
# ---------------------------------------------------------------------------


@query(
    "orders_page3_by_price",
    """
    SELECT rn, o_orderkey, round(o_totalprice, 2) AS total_price
    FROM (
      SELECT o_orderkey, o_totalprice, row_number() OVER (
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn BETWEEN 101 AND 150 ORDER BY rn
    """,
    survey="O1,O5",
)
def orders_page3_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O5: ORDER BY ... OFFSET/LIMIT pagination (reference
    queue_routes.py:28-37, page size 50): page 3 of
    ``operators/analytics.py:paginate_offset``, the row_number filter
    ``rn`` 101..150.

    Scale note: a global row_number is a single-partition sort — fine for
    a serve-path page; for deep pagination at 100 TB use keyset
    pagination (WHERE sort_key < last_seen) instead, as
    ``operators/analytics.py:paginate_keyset`` does."""
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return (
        paginate_offset(orders, "o_totalprice", "o_orderkey", page=3)
        .select("rn", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
        .orderBy("rn")
    )


@query(
    "order_sequence_ids",
    """
    SELECT o_orderkey,
           'ORD_' || strftime(o_orderdate, '%y_%m') || '_'
                  || substring(o_orderpriority, 1, 1) || '_'
                  || lpad(CAST(row_number() OVER (
                       PARTITION BY strftime(o_orderdate, '%y_%m'),
                                    substring(o_orderpriority, 1, 1)
                       ORDER BY o_orderkey) AS VARCHAR), 3, '0') AS seq_id
    FROM orders ORDER BY o_orderkey
    """,
    survey="W1,R5",
)
def order_sequence_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/R5: partitioned sequence — the reid_id generator analog
    (reference models/listing.py:66-85 does SELECT max per insert; here
    it's one window pass, deterministic by ordering on the natural key).

    Scale: shuffle on (month, code); each partition's sequence is
    independent — no global coordination, unlike the reference's racy
    max-probe."""
    month = F.date_format("o_orderdate", "yy_MM")
    code = F.substring("o_orderpriority", 1, 1)
    w = Window.partitionBy(month, code).orderBy("o_orderkey")
    seq = F.lpad(F.row_number().over(w).cast("string"), 3, "0")
    # F.concat (not concat_ws): null-propagating, matching the oracle's
    # `||` — concat_ws would silently skip NULL segments and diverge.
    seq_id = F.concat(F.lit("ORD_"), month, F.lit("_"), code, F.lit("_"), seq)
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", seq_id.alias("seq_id"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# P/R/F. Filters, classification rules, scalar extraction  (SURVEY §2.2, 2.8, 2.10)
# ---------------------------------------------------------------------------


@query(
    "part_type_like_filter",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n
    FROM part
    WHERE p_type LIKE '%ECO%' OR regexp_matches(p_type, 'PROMO|STANDARD')
    GROUP BY p_brand ORDER BY p_brand
    """,
    survey="P5,P13",
)
def part_type_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P13: LIKE + regex predicates (reference queue_routes.py:33-34 LIKE,
    kibarer.py:70-75 re.search gate)."""
    return (
        T(spark, sf_dir, "part")
        .filter(F.col("p_type").like("%ECO%") | F.col("p_type").rlike("PROMO|STANDARD"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("p_brand")
    )


@query(
    "order_tab_classification",
    """
    SELECT CASE WHEN o_totalprice >= 400000 THEN 'LUXURY LISTINGS'
                WHEN o_orderpriority = '1-URGENT' THEN 'ALL LAND'
                ELSE 'DATA' END AS tab,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY tab ORDER BY tab
    """,
    survey="R1",
)
def order_tab_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: classify_tab CASE chain (reference models/listing.py:87-101 —
    luxury price threshold / Land / DATA), applied as a pure column
    expression so it stays inside whole-stage codegen."""
    tab = (
        F.when(F.col("o_totalprice") >= 400000, "LUXURY LISTINGS")
        .when(F.col("o_orderpriority") == "1-URGENT", "ALL LAND")
        .otherwise("DATA")
    )
    return (
        T(spark, sf_dir, "orders")
        .select(tab.alias("tab"), "o_totalprice")
        .groupBy("tab")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("tab")
    )


@query(
    "events_json_value_sum",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey="S6,F32",
)
def events_json_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/F32: embedded-JSON extraction (reference dotproperty.py:90-106
    JSON-LD via jmespath; func.py:919-933 tolerant parse → from_json/
    get_json_object here — null on malformed, same semantics)."""
    return (
        T(spark, sf_dir, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"))
        .orderBy("event_type")
    )


@query(
    "doc_token_stats",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    survey="W3,F-text",
    tags=("text-analysis",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (text-analysis extension; also W3
    array-function shape — array ops instead of windows, reference
    func.py:445-447). split stays JVM-side (no Python UDF)."""
    toks = F.size(F.split("text", " ")).cast("long")
    return (
        T(spark, sf_dir, "documents")
        .select("lang", toks.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "shipping_priority_topn",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(20, 8))) AS DOUBLE) AS revenue,
           strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_day
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, order_day
    ORDER BY revenue DESC, order_day, l_orderkey
    LIMIT 10
    """,
    survey="J2,A2,O1,O3",
)
def shipping_priority_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — unshipped-order revenue for one market segment,
    top 10: a 3-table join chain with BOTH date predicates pushed to
    their scans, grouped revenue, global top-N.  The composite the
    reference's per-route queries never chain (analytics_routes.py
    joins at most two tables); certifies the optimizer picks
    filter-then-join at every step.

    Numeric determinism: the per-item revenue is cast to
    DECIMAL(20,8) and summed EXACTLY (see embedding_centroids), so the
    certified digits don't depend on partial-agg order.  Scale: both
    fact filters are scan-pushed; the customer side reduces to a
    single-segment key set before the join; top-10 is a
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
        .cast("decimal(20,8)")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "order_day"
            ),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "order_day", "l_orderkey")
        .limit(10)
    )


@query(
    "returned_item_losses",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(c.c_acctbal, 2) AS acctbal,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(20, 8))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    survey="J2,A2,O1,P4",
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — revenue lost to returned items per customer in
    one quarter, top 20 with nation enrichment: fact-fact join under
    pushed date + flag predicates, small-dim broadcast (nation), 4-key
    grouping, global top-N.  Exact-decimal revenue sum as in
    shipping_priority_topn.  Scale: nation broadcasts (25 rows); the
    quarter filter prunes orders at the scan before either join; the
    group key includes the display columns so no second join is needed
    to re-attach them."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("o_custkey", "o_orderkey")
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
        .cast("decimal(20,8)")
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Sibling catalog modules register additional queries on import.
# (Placed at the bottom so the @query decorator machinery above is
# fully defined; each module guards against double-registration via
# the CATALOG dict keyed on unique names.)
# ---------------------------------------------------------------------------

from . import extraction  # noqa: E402,F401  (registers F*-case queries)
from . import merging  # noqa: E402,F401  (registers merge-engine queries)
from . import quality  # noqa: E402,F401  (registers DQ-rule queries)
from . import llmdata  # noqa: E402,F401  (registers dedup/ANN/text queries)
from . import serving  # noqa: E402,F401  (registers pagination/sink/ML queries)
from . import ingest  # noqa: E402,F401  (registers scan/projection queries)
from . import rules_more  # noqa: E402,F401  (registers R8-R12/P14 queries)
from . import temporal  # noqa: E402,F401  (registers asof/session/sketch queries)
from . import olap  # noqa: E402,F401  (registers pivot/unpivot/rollup queries)
from . import tpch_shapes  # noqa: E402,F401  (registers Q4/Q12/Q14/Q18/intersect shapes)
from . import tpch_partsupp  # noqa: E402,F401  (registers derived-partsupp Q2/Q9/Q10/Q11/Q16/Q20)


# ---------------------------------------------------------------------------
# Schema-drift smoke gate — registered LAST, rotated to position 1 below.
# ---------------------------------------------------------------------------


_SCHEMA_INVENTORY_ORACLE = "\nUNION ALL\n".join(
    (
        "SELECT 'events' AS tbl,"
        " (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('events')) AS n_cols,"
        " (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,"
        " (SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') FROM events) AS ts_probe"
    )
    if t == "events"
    else (
        f"SELECT '{t}' AS tbl,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('{t}')) AS n_cols,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM {t}) AS n_rows,"
        " CAST(NULL AS VARCHAR) AS ts_probe"
    )
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
) + "\nORDER BY tbl"


@query(
    "schema_inventory",
    _SCHEMA_INVENTORY_ORACLE,
    survey="S10",
    tags=("smoke-gate",),
)
def schema_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift smoke gate (VERDICT r03 rec 4): loads EVERY table and
    emits (tbl, n_cols, n_rows) plus a formatted min-ts probe for events.

    A regenerated testdata zone (column added/dropped, ts dtype drift
    like the r03 nanos→micros flip) fails loudly in this one row
    instead of silently breaking a dozen downstream rows.  Each branch
    is a count-only agg — column-pruned scans, no shuffle beyond the
    1-row partial agg."""
    from ..sources.readers import TABLES

    parts = []
    for name in TABLES:
        df = T(spark, sf_dir, name)
        if name == "events":
            agg = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_probe"),
            )
        else:
            agg = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(None).cast("string").alias("ts_probe"),
            )
        parts.append(
            agg.select(
                F.lit(name).alias("tbl"),
                F.lit(len(df.columns)).cast("long").alias("n_cols"),
                F.col("n_rows"),
                F.col("ts_probe"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl")

