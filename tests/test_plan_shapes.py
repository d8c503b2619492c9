"""Physical-plan regression tests — the 100 TB properties the catalog
docstrings promise, asserted against the plan tree (node classes read
through ``planview``) so they can't silently rot:

* predicate pushdown reaches the parquet scan (PushedFilters)
* column pruning reaches the scan (ReadSchema)
* bounded dims broadcast; fact tables never force-broadcast
* expression-tier extraction stays a single stage (no Exchange)
* top-1 uses TakeOrderedAndProject, not a global sort
"""

from __future__ import annotations

import pytest

from real_estate_etl_dev_spark import planview as pv
from real_estate_etl_dev_spark.plans.catalog import CATALOG
from tests.conftest import BOUNDED_SORT_PANELS


class Plan:
    """One DataFrame's plan as planview's pre-order node walk."""

    def __init__(self, df, phase: str = "executed"):
        self.df, self.nodes = df, pv.plan_nodes(df, phase)
        self.classes = [pv.node_class(n) for n in self.nodes]
        self.shuffles = [n.outputPartitioning() for n in self.of("ShuffleExchangeExec")]

    def __contains__(self, cls: str) -> bool:
        return cls in self.classes

    def count(self, *classes: str) -> int:
        return sum(c in classes for c in self.classes)

    def of(self, *classes: str) -> list:
        return [n for n, c in zip(self.nodes, self.classes) if c in classes]

    def has(self, fragment: str) -> bool:  # e.g. any "Join" / "Window" class
        return any(fragment in c for c in self.classes)

    def python(self) -> list[str]:
        """Classes that explain as ``*Python*`` (UDF / UDTF / window
        evaluators, ``MapInArrowExec``); ``mapInPandas`` is not one."""
        return [c for c in self.classes if "Python" in c or c == "MapInArrowExec"]

    def join_types(self) -> list[str]:
        joins = [n for n, c in zip(self.nodes, self.classes) if "Join" in c]
        return [j.joinType().toString() for j in joins]

    def partitionings(self) -> list[str]:  # RangePartitioning, SinglePartition$…
        return [pv.node_class(p) for p in self.shuffles]

    def hash_keys(self) -> list[list[str]]:
        hashed = [p for p in self.shuffles if pv.node_class(p) == "HashPartitioning"]
        return [pv.key_names(p.expressions()) for p in hashed]

    def pushed(self, fragment: str) -> bool:
        """``fragment`` reached some file scan's PushedFilters."""
        return any(fragment in m["PushedFilters"] for m in pv.scan_metadata(self.df))

    def read_schemas(self) -> list[str]:
        return [m["ReadSchema"] for m in pv.scan_metadata(self.df)]

    def global_windows(self) -> list:
        """Window operators with an EMPTY partition spec (single-partition)."""
        windows = self.of("WindowExec", "ArrowWindowPythonExec")
        return [w for w in windows if w.partitionSpec().isEmpty()]


def plan_of(spark, sf_dir, name: str) -> Plan:
    return Plan(CATALOG[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filtered_error_count")
    assert plan.pushed("[IsNotNull(event_type), EqualTo(event_type,error)")


def test_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "monthly_order_counts")
    # only the date column is read from a 6-column table
    assert plan.read_schemas() == ["struct<o_orderdate:timestamp_ntz>"]


def test_dim_broadcast_fact_not_forced(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "revenue_by_nation")
    assert "BroadcastHashJoinExec" in plan  # nation broadcast
    # the customer join is left to AQE/auto thresholds — no forced
    # broadcast hint of an SF-scaling table in the logical plan
    assert Plan(plan.df, "logical").count("ResolvedHint") <= 1


def test_extraction_is_single_stage(spark, sf_dir):
    # scan → project → sort; the only Exchange allowed is the
    # output sort's range partitioning
    plan = plan_of(spark, sf_dir, "price_extraction_cases")
    assert plan.count(*pv.EXCHANGES) == 1
    assert plan.partitionings() == ["RangePartitioning"]


@pytest.mark.parametrize("name", BOUNDED_SORT_PANELS)
def test_bounded_panel_sorts_without_range_exchange(spark, sf_dir, name):
    """``order_bounded``: the sort's SinglePartition requirement is met
    by the coalesce, so no range exchange (and no sampling job) is
    planned.  A single-aggregate panel shuffles once, for its
    aggregate; revenue_by_nation's joins may add their own."""
    plan = plan_of(spark, sf_dir, name)
    assert "RangePartitioning" not in plan.partitionings()
    if name != "revenue_by_nation":
        assert plan.count("ShuffleExchangeExec") == 1


def test_keyset_page_pushes_seek_predicate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orders_keyset_page")
    assert plan.pushed("o_totalprice")


def test_offset_page_window_consumes_takeordered_slice(spark, sf_dir):
    """orders_page3_by_price: the rn<=150 filter must push through the
    global row_number (LimitPushDownThroughWindow) so the window's
    input is a TakeOrderedAndProject(150) — per-partition heaps — and
    the plan needs NO SinglePartition exchange.  This is the documented
    reason the query sits on the global-window allowlist."""
    plan = plan_of(spark, sf_dir, "orders_page3_by_price")
    assert [n.limit() for n in plan.of("TakeOrderedAndProjectExec")] == [150]
    assert "SinglePartition$" not in plan.partitionings()
    # and the window really does sit ABOVE the bounded slice
    assert plan.classes.index("WindowExec") < plan.classes.index("TakeOrderedAndProjectExec")


def test_top1_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top1_order_by_price")
    assert "TakeOrderedAndProjectExec" in plan


def test_merge_is_one_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "merge_scd1")
    # exactly one join materializes the merge (full outer)
    assert plan.count("SortMergeJoinExec", "ShuffledHashJoinExec") == 1


def test_no_python_udf_in_expression_tier(spark, sf_dir):
    for name in [
        "price_extraction_cases",
        "property_type_cases",
        "size_extraction_cases",
        "date_url_cases",
        "availability_text_cases",
        "geo_extraction_cases",
        "number_parse_cases",
        "merge_scd1",
        "dq_identify_issues",
    ]:
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BatchEvalPythonExec", "ArrowEvalPythonExec") == 0, name


def test_asof_join_single_keyed_shuffle(spark, sf_dir):
    # union → ONE hash exchange on user_id for the carry-forward
    # window (plus the output sort's range partitioning); no join
    # operator at all — the whole as-of is window-based.
    plan = plan_of(spark, sf_dir, "asof_error_click")
    assert ["user_id"] in plan.hash_keys()
    assert not plan.has("Join")
    assert "WindowExec" in plan


def test_rolling_window_aggregates_before_global_sort(spark, sf_dir):
    # the RANGE window must consume the DAILY aggregate (bounded
    # rows), never the raw fact table: HashAggregate appears below
    # the Window in the plan tree.
    plan = plan_of(spark, sf_dir, "rolling_7d_revenue")
    assert "WindowExec" in plan and "HashAggregateExec" in plan
    assert plan.classes.index("WindowExec") < plan.classes.index("HashAggregateExec")


def test_session_window_is_partitioned_not_global(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "event_sessions")
    # the session window partitions by user_id — no global
    # single-partition window (SinglePartition exchange) anywhere
    windows = plan.of("WindowExec")
    assert windows and all(pv.key_names(w.partitionSpec()) == ["user_id"] for w in windows)
    assert "SinglePartition$" not in plan.partitionings()


def test_misc_battery_prunes_and_stays_arrow(spark, sf_dir):
    # the misc scalar battery reads ONLY the key column of orders and
    # keeps Python confined to Arrow-batched eval (the html UDF)
    plan = plan_of(spark, sf_dir, "misc_extraction_cases")
    assert plan.read_schemas() == ["struct<o_orderkey:bigint>"]
    assert "BatchEvalPythonExec" not in plan
    assert plan.count(*pv.EXCHANGES) == 1
    assert plan.partitionings() == ["RangePartitioning"]


def test_recall_gate_broadcasts_injected_side(spark, sf_dir):
    # the planted-pair frame is tiny by construction (|docs|/7 rows) —
    # it must broadcast, never shuffle the candidate-pair side on it
    plan = plan_of(spark, sf_dir, "dedup_minhash_pairs")
    assert "BroadcastHashJoinExec" in plan


def test_ann_gate_broadcasts_query_side(spark, sf_dir):
    # 8 query vectors join the corpus via broadcast on both ANN paths
    for name in ["embedding_ann_lsh", "embedding_ann_ivf"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoinExec" in plan, name


def test_global_window_detector_distinguishes_specs(spark, sf_dir):
    """Pin the detector itself: a deliberately global window is caught,
    a partitioned one is not — even with an unrelated SinglePartition
    exchange (1-row scalar agg crossJoin) in the same plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    df = spark.range(100).withColumn("k", F.col("id") % 7)
    scalar = df.agg(F.max("id").alias("_mx"))  # 1-row, SinglePartition agg

    part = (
        df.withColumn("r", F.row_number().over(W.partitionBy("k").orderBy("id")))
        .crossJoin(F.broadcast(scalar))
    )
    plan_part = Plan(part)
    assert "SinglePartition$" in plan_part.partitionings()  # the scalar agg's
    assert plan_part.global_windows() == []

    part_noord = Plan(df.withColumn("s", F.sum("id").over(W.partitionBy("k"))))
    assert part_noord.global_windows() == []
    assert all(w.orderSpec().isEmpty() for w in part_noord.of("WindowExec"))

    glob = Plan(df.withColumn("r", F.row_number().over(W.orderBy("id"))))
    (w,) = glob.global_windows()
    assert not w.orderSpec().isEmpty()

    glob_noord = Plan(df.withColumn("s", F.sum("id").over(W.partitionBy())))
    (w,) = glob_noord.global_windows()
    assert w.orderSpec().isEmpty()


def test_catalog_wide_plan_invariants(spark, sf_dir):
    """Global physical-plan regression net over EVERY catalog query:

    * no CartesianProduct anywhere (the hll crossJoin is 1-row×1-row
      and plans as BroadcastNestedLoopJoin, which is fine there);
    * no BatchEvalPython — row-at-a-time Python UDFs are banned from
      all plans (Arrow paths show as ArrowEvalPython/MapInPandas);
    * no global (empty-partition-spec) Window operator except the
      documented bounded-input exceptions.  Detection reads each window
      operator's partitionSpec (see Plan.global_windows) — a
      SinglePartition exchange belonging to some unrelated 1-row
      scalar aggregate in the same plan does not trip it.
    """
    allowed_single_partition_window = {
        "rolling_7d_revenue",
        # global rank over a 100-row TakeOrdered slice, not the corpus
        "corpus_shuffle_order",
        # cumulative sum over ≤10 aggregated bucket rows
        "price_histogram",
        # rank-limit pushdown (LimitPushDownThroughWindow) rewrites the
        # rn<=150 global row_number into TakeOrderedAndProject(150) —
        # the window consumes 150 rows, no SinglePartition exchange
        # exists in the plan (asserted by the dedicated test below)
        "orders_page3_by_price",
    }
    offenders = {"cartesian": [], "py_udf": [], "global_window": []}
    for name, q in CATALOG.items():
        plan = Plan(q.fn(spark, sf_dir))
        if "CartesianProductExec" in plan:
            offenders["cartesian"].append(name)
        if "BatchEvalPythonExec" in plan:
            offenders["py_udf"].append(name)
        if (
            plan.global_windows()
            and name not in allowed_single_partition_window
        ):
            offenders["global_window"].append(name)
    assert offenders == {"cartesian": [], "py_udf": [], "global_window": []}, offenders


def test_pack_rollup_reuses_window_partitioning(spark, sf_dir):
    """doc_pack_assignments: the (lang, shard, pack_id) rollup must NOT
    re-shuffle — HashPartitioning(lang, shard) from the packing window
    already co-locates every rollup key (subset partitioning satisfies
    the clustered distribution).  One data exchange + the final
    order-by's range exchange, nothing else."""
    plan = plan_of(spark, sf_dir, "doc_pack_assignments")
    assert plan.hash_keys() == [["lang", "shard"]]


def test_incremental_dedup_collapses_corpus_before_join(spark, sf_dir):
    """dedup_incremental_against_corpus: the corpus side must reach the
    join as DISTINCT hashes (aggregate below the join), so join state
    is |unique texts|; at this SF AQE turns it into a broadcast join."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_against_corpus")
    assert "HashAggregateExec" in plan  # the distinct, present below the join
    assert plan.count("BroadcastHashJoinExec", "SortMergeJoinExec") >= 1


def test_bucketed_merge_eliminates_exchanges(spark, sf_dir):
    """operators/layout.py's core promise, proven not just asserted:
    the SCD-1 merge over two bucketBy(url) tables plans with ZERO
    Exchange nodes (both scans expose the bucket hash partitioning),
    while the identical merge over unbucketed frames shuffles both
    sides.  merge_bucketed_scd1 re-asserts this inside the certified
    query; this test pins the control comparison."""
    from real_estate_etl_dev_spark.operators.layout import (
        bucketed_merge_ready,
        write_bucketed,
    )
    from real_estate_etl_dev_spark.operators.merge import merge_listings
    from real_estate_etl_dev_spark.plans.merging import (
        current_fixture,
        staging_fixture,
    )

    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("t_planshape_cur_bkt", "t_planshape_stg_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    write_bucketed(
        current_fixture(spark, sf_dir).repartition(1),
        "t_planshape_cur_bkt", n_buckets=8, sort_col="url",
    )
    write_bucketed(
        staging_fixture(spark, sf_dir).repartition(1),
        "t_planshape_stg_bkt", n_buckets=8, sort_col="url",
    )
    cur, stg = bucketed_merge_ready(
        spark, "t_planshape_cur_bkt", "t_planshape_stg_bkt"
    )
    bucketed = merge_listings(cur, stg)
    assert Plan(bucketed).count(*pv.EXCHANGES) == 0

    control = merge_listings(
        current_fixture(spark, sf_dir), staging_fixture(spark, sf_dir)
    )
    assert Plan(control).count(*pv.EXCHANGES) >= 2  # both sides shuffle unbucketed


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """doc_decontaminate: the eval side must collapse to distinct
    grams and BROADCAST into a left-semi probe — the corpus-side
    exploded grams must never be sort-merge-shuffled on the gram key
    (that exchange is the 100 TB killer: |corpus| × ~|words| rows)."""
    plan = plan_of(spark, sf_dir, "doc_decontaminate")
    bhj = plan.of("BroadcastHashJoinExec")
    assert "LeftSemi" in [j.joinType().toString() for j in bhj]
    for smj in plan.of("SortMergeJoinExec"):
        assert pv.key_names(smj.leftKeys())[:1] != ["g"], "gram probe shuffled"


def test_mixture_sample_broadcasts_rate_frame(spark, sf_dir):
    """domain_mixture_sample: the per-domain rate frame (|domains|
    rows) broadcasts back onto the corpus; the corpus itself is never
    repartitioned for the sampling filter."""
    plan = plan_of(spark, sf_dir, "domain_mixture_sample")
    assert "BroadcastHashJoinExec" in plan


def test_tpch_shapes_take_ordered_and_push_filters(spark, sf_dir):
    """The two TPC-H composites must plan as their docstrings promise:
    every date/flag/segment predicate reaches its scan, top-N is a
    TakeOrderedAndProject (per-partition heaps), and no fact table is
    force-broadcast (only the 25-row nation carries a hint)."""
    for name in ("shipping_priority_topn", "returned_item_losses"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProjectExec" in plan, name
        assert not plan.python(), name
        # each scan that carries a filter shows it pushed
        assert plan.pushed("[IsNotNull(o_orderdate)"), name
    q3 = plan_of(spark, sf_dir, "shipping_priority_topn")
    assert q3.pushed("EqualTo(c_mktsegment,BUILDING)")
    assert q3.pushed("IsNotNull(l_shipdate)")
    q10 = plan_of(spark, sf_dir, "returned_item_losses")
    assert q10.pushed("EqualTo(l_returnflag,R)")
    assert Plan(q10.df, "logical").count("ResolvedHint") <= 1  # nation only


def test_zorder_audit_is_codegen_only(spark, sf_dir):
    """The Morton key must stay whole-stage codegen: no Python worker,
    no join, and only the bounded bucket agg + output sort exchanges."""
    plan = plan_of(spark, sf_dir, "zorder_bucket_stats")
    assert not plan.python()
    assert not plan.has("Join")
    assert plan.count(*pv.EXCHANGES) == 2  # bucket hash-agg + orderBy range


def test_cms_build_is_mapside_and_probe_broadcasts(spark, sf_dir):
    """The CMS heavy-hitter plan must stay JVM-native (no Python
    worker), probe the ≤ d·w cell table via BroadcastHashJoin, and
    never sort-merge anything."""
    plan = plan_of(spark, sf_dir, "cms_heavy_hitters_users")
    assert not plan.python()
    assert "BroadcastHashJoinExec" in plan
    assert "SortMergeJoinExec" not in plan


def test_grouping_sets_is_one_scan_expand(spark, sf_dir):
    """GROUPING SETS must plan as ONE fact scan + Expand + hash agg —
    not one scan per grain, and never a join/union of grains."""
    plan = plan_of(spark, sf_dir, "revenue_grouping_sets")
    assert "ExpandExec" in plan
    assert plan.count("FileSourceScanExec") == 1
    assert not plan.has("Join") and not plan.has("Union")


def test_runtime_bloom_filter_fires_when_thresholds_met(spark, sf_dir):
    """The session enables runtime bloom-filter join pruning (off
    upstream by default); its size thresholds make it a no-op at test
    SFs.  Lower the thresholds and a selective dim filter must inject
    might_contain(bloom(key)) into the FACT side before its shuffle —
    the 100 TB shuffle-volume win the session conf exists for."""
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.session import conf_scope

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep a shuffle join
    }
    with conf_scope(spark, **confs):
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        # a might_contain(bloom, xxhash64(l_orderkey)) filter condition
        # sits on the fact (lineitem) side
        assert any(
            "might_contain(" in ln and "xxhash64(l_orderkey#" in ln
            for ln in pv.explain_formatted(j).splitlines()
        )


def test_new_tpch_shapes_plan_as_documented(spark, sf_dir):
    """Q4/Q12/Q14/Q18/intersect shapes (plans/tpch_shapes.py): EXISTS
    compiles to a semi join, the ratio query broadcasts its dimension,
    Q18 aggregates lineitem BEFORE any join, and the intersect
    collapses both sides before the set op."""
    q4 = plan_of(spark, sf_dir, "order_priority_exists_counts")
    assert "LeftSemi" in q4.join_types()
    assert q4.pushed("EqualTo(l_returnflag,R)")  # probe filter pushed to scan
    assert q4.pushed("IsNotNull(o_orderdate)")

    q12 = plan_of(spark, sf_dir, "returnflag_priority_classes")
    assert q12.join_types() and not q12.python()
    assert q12.pushed("IsNotNull(l_shipdate)")  # year filter pushed

    q14 = plan_of(spark, sf_dir, "promo_revenue_ratio")
    assert "BroadcastHashJoinExec" in q14  # part side broadcasts

    # Q18: the first (and only fact-sized) aggregate must sit BELOW the
    # first join — lineitem collapses to per-order sums pre-join.
    q18 = plan_of(spark, sf_dir, "large_volume_customers")
    first_join = min(i for i, c in enumerate(q18.classes) if "Join" in c)
    assert "HashAggregateExec" in q18.classes[first_join:], q18.classes

    qi = plan_of(spark, sf_dir, "trade_ready_nations_intersect")
    assert "LeftSemi" in qi.join_types()  # intersect = distinct + semi join
    assert qi.pushed("EqualTo(c_mktsegment,BUILDING)")


def test_ngram_coverage_is_udf_free_single_gram_shuffle(spark, sf_dir):
    """dedup_ngram_coverage: the 4-token window slide is codegen
    (transform+posexplode, no Python anywhere), duplicated grams come
    back as a semi join, and top-100 is a TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_coverage")
    assert not plan.python()
    assert "LeftSemi" in plan.join_types()
    assert "TakeOrderedAndProjectExec" in plan
    assert "CartesianProductExec" not in plan


def test_mad_outliers_one_scan_one_shuffle(spark, sf_dir):
    """price_mad_outliers: every window partitions on the group key and
    the scalars propagate via unbounded-frame window max — so the
    WHOLE query is one parquet scan and ONE hash exchange on
    o_orderpriority (plus the final 5-row ordering exchange), with no
    join of any kind."""
    plan = plan_of(spark, sf_dir, "price_mad_outliers")
    assert not plan.has("Join"), plan.classes
    assert [k[0] for k in plan.hash_keys()] == ["o_orderpriority"]
    assert plan.count("FileSourceScanExec") == 1, plan.classes


def test_funnel_stages_broadcast_and_shrink(spark, sf_dir):
    """event_funnel_counts: every inter-stage join is a broadcast of
    the previous (smaller) stage frame; no window, no sort of the
    event table, no cartesian."""
    plan = plan_of(spark, sf_dir, "event_funnel_counts")
    assert "BroadcastHashJoinExec" in plan
    assert "SortMergeJoinExec" not in plan
    assert not plan.has("Window")


def test_retention_cohorts_single_user_shuffle(spark, sf_dir):
    """user_retention_cohorts: cohort assignment and distinct active
    weeks both hash-partition on user_id, so the join needs no extra
    fact-side exchange beyond those aggs."""
    plan = plan_of(spark, sf_dir, "user_retention_cohorts")
    user_exchanges = [k for k in plan.hash_keys() if k[0] == "user_id"]
    assert len(user_exchanges) <= 2, plan.hash_keys()
    assert "CartesianProductExec" not in plan


def test_exact_corr_is_one_mapside_agg(spark, sf_dir):
    """price_qty_exact_corr: the five decimal moments are ONE
    partial→final hash aggregate over one scan — no join, no window,
    no second pass."""
    plan = plan_of(spark, sf_dir, "price_qty_exact_corr")
    assert not plan.has("Join")
    assert not plan.has("Window")
    assert plan.count("FileSourceScanExec") == 1, plan.classes


def test_partition_pruning_reads_one_year_of_files(spark, sf_dir, tmp_path):
    """Physical proof of partition pruning: the one-year filter reads
    strictly fewer files than the full partitioned table (one
    directory of seven), and the partition filter appears in the
    scan, not a post-scan Filter."""
    from pyspark.sql import functions as F
    from real_estate_etl_dev_spark.sources.readers import load_table

    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .mode("overwrite")
        .parquet(f"{tmp_path}/t")
    )
    full = spark.read.parquet(f"{tmp_path}/t")
    one = full.filter(F.col("o_year") == 1995)
    # input_file_name() names the files EXECUTION actually read —
    # (inputFiles() reports the pre-pruning listing, useless here)
    read_one = {r[0] for r in one.select(F.input_file_name()).distinct().collect()}
    read_full = {r[0] for r in full.select(F.input_file_name()).distinct().collect()}
    assert len(read_one) < len(read_full)
    assert {f.split("o_year=")[1].split("/")[0] for f in read_one} == {"1995"}
    assert "o_year" in pv.partition_filter_columns(one)


def test_q5_broadcasts_dims_and_joins_conation_in_operator(spark, sf_dir):
    """local_supplier_volume: region/nation/supplier broadcast; the
    co-nation equality lives INSIDE the supplier join condition (no
    post-join Filter on nationkey equality), and the year filter is
    pushed to the orders scan."""
    plan = plan_of(spark, sf_dir, "local_supplier_volume")
    assert plan.count("BroadcastHashJoinExec") >= 3
    assert plan.pushed("IsNotNull(o_orderdate)")
    assert plan.pushed("EqualTo(r_name,ASIA)")
    # co-nation predicate is a join key, not a residual filter row scan
    assert any(
        "s_nationkey" in pv.key_names(j.leftKeys()) + pv.key_names(j.rightKeys())
        for j in plan.of("BroadcastHashJoinExec")
    )


def test_lm_scoring_broadcasts_model_and_stays_jvm(spark, sf_dir):
    """doc_lm_cross_entropy: the unigram LM joins the per-doc counts by
    BROADCAST (the model is |vocab| rows, never shuffled against the
    corpus), the whole pipeline is codegen (no Python), and top-100 is
    a TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "doc_lm_cross_entropy")
    assert "BroadcastHashJoinExec" in plan
    assert not plan.python()
    assert "TakeOrderedAndProjectExec" in plan


def test_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """salted_skew_user_join: the join must be a two-sided SHUFFLE join
    (no broadcast — a broadcast join has no skew to fix) and both
    exchanges must hash-partition on (user_id, __salt), proving the
    hot key actually spreads."""
    plan = plan_of(spark, sf_dir, "salted_skew_user_join")
    assert plan.count("ShuffledHashJoinExec", "SortMergeJoinExec") >= 1
    salted_exchanges = [k for k in plan.hash_keys() if "__salt" in k]
    assert len(salted_exchanges) >= 2, plan.hash_keys()


def test_scd2_merge_is_one_join_plus_explode(spark, sf_dir):
    """merge_scd2_intervals: exactly ONE shuffled join materializes the
    merge (open slice vs updates), output intervals come from an
    inline explode (Generate), and there is no second join or window
    anywhere."""
    plan = plan_of(spark, sf_dir, "merge_scd2_intervals")
    n_joins = plan.count("SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec")
    assert n_joins == 1, plan.classes
    assert "Explode" in [pv.node_class(g.generator()) for g in plan.of("GenerateExec")]
    assert not plan.has("Window")


def test_setsim_prefix_no_allpairs_join(spark, sf_dir):
    """dedup_setsim_prefix: candidates must come from prefix-token
    EQUALITY (hash join), never an all-pairs product; the vocab
    frequency table broadcasts; verification is JVM array math (no
    Python)."""
    plan = plan_of(spark, sf_dir, "dedup_setsim_prefix")
    assert "CartesianProductExec" not in plan
    assert "BroadcastNestedLoopJoinExec" not in plan
    assert not plan.python()
    assert "BroadcastHashJoinExec" in plan


def test_setsim_candidate_shuffle_is_hashed_and_positional(spark, sf_dir):
    """dedup_setsim_prefix's 100 TB posture, pinned in the plan: the
    candidate self-join key is xxhash64(ptok) (8-byte shuffle rows,
    r07), and the join condition carries the PPJoin positional bound
    (the exact-rational ceil-div rendered as FLOOR over the 197 = 97
    + 100 denominator) plus both rational length bounds — not the
    double-ceil form ADVICE r06 flagged."""
    plan = pv.explain_formatted(CATALOG["dedup_setsim_prefix"].fn(spark, sf_dir))
    assert "xxhash64(ptok" in plan
    assert "/ 197" in plan      # positional filter's ceil_div(97*(ma+mb), 197)
    assert "/ 100" in plan      # rational length bound ceil_div(97*m, 100)
    assert "CEIL" not in plan.upper().replace("CEILDIV", "")


def test_setsim_audit_shares_prefix_expansion_and_broadcasts_totals(spark, sf_dir):
    """setsim_bucket_audit measures the REAL expansion: same rational
    prefix bound in-plan, and its corpus-constant totals ride a 1-row
    BroadcastNestedLoopJoin, not a window over the expansion."""
    plan = plan_of(spark, sf_dir, "setsim_bucket_audit")
    assert "/ 100" in pv.explain_formatted(plan.df)
    assert "BroadcastNestedLoopJoinExec" in plan
    assert not plan.has("Window")


def test_setsim_hybrid_routes_and_stays_jvm(spark, sf_dir):
    """dedup_setsim_hybrid: no cartesian/Python anywhere; the hot-token
    table and the planted/offset scalars ride broadcasts; the cold
    tier's candidate shuffle carries the hashed prefix key exactly like
    the pure exact join (same helper, pinned here so the routing split
    can't silently fork the key encoding)."""
    plan = plan_of(spark, sf_dir, "dedup_setsim_hybrid")
    assert "CartesianProductExec" not in plan
    assert not plan.python()
    assert "BroadcastHashJoinExec" in plan
    assert "xxhash64(ptok" in pv.explain_formatted(plan.df)  # 8-byte cold-tier keys


def test_ann_recall_cost_no_python_no_cartesian(spark, sf_dir):
    """embedding_ann_recall_cost: the whole 7-point sweep is JVM
    column math (decimal folds), query sides broadcast, and the only
    nested-loop join is the 1-row n_queries scalar combine."""
    plan = plan_of(spark, sf_dir, "embedding_ann_recall_cost")
    assert not plan.python()
    assert "CartesianProductExec" not in plan
    assert "BroadcastHashJoinExec" in plan


def test_q7_broadcasts_dims_and_pushes_shipdate(spark, sf_dir):
    """nation_trade_volume_q7: supplier/customer collapse behind the
    nation-pair filter and BROADCAST into the fact chain; the ship-date
    range reaches the lineitem scan."""
    plan = plan_of(spark, sf_dir, "nation_trade_volume_q7")
    assert plan.count("BroadcastHashJoinExec") >= 2
    assert plan.pushed("IsNotNull(l_shipdate)")
    assert not plan.python()


def test_q13_single_custkey_shuffle_and_pushed_exclusion(spark, sf_dir):
    """customer_order_distribution_q13: the exclusion predicate is
    pushed to the orders scan; the per-customer count REUSES the outer
    join's custkey partitioning (no third custkey exchange)."""
    plan = plan_of(spark, sf_dir, "customer_order_distribution_q13")
    assert plan.pushed("o_orderpriority")
    cust = [k for k in plan.hash_keys() if k[0] in ("o_custkey", "c_custkey")]
    assert len(cust) <= 2, plan.hash_keys()


def test_text_audits_are_mapside_jvm(spark, sf_dir):
    """The r08 text-audit trio must stay JVM map-side shapes: no
    Python worker, no join of the corpus (pii/diversity have no join
    at all; zipf's only join is the tiny per-lang moment combine),
    no cartesian."""
    for name in ("doc_pii_scrub_audit", "corpus_ngram_diversity"):
        plan = plan_of(spark, sf_dir, name)
        assert not plan.python(), name
        assert not plan.has("Join"), name
    zipf = plan_of(spark, sf_dir, "corpus_zipf_fit")
    assert not zipf.python()
    assert "CartesianProductExec" not in zipf


def test_bloom_tier_broadcasts_bits_no_sortmerge(spark, sf_dir):
    """The bloom promise: the bit set is broadcast-sized by the
    CONSTANT m, so every bitpos probe must plan as a broadcast hash
    join — a SortMergeJoin would mean the filter itself is being
    shuffled, defeating the design."""
    for name in ("bloom_filter_fp_audit", "dedup_bloom_prefilter"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoinExec" in plan, name
        assert "SortMergeJoinExec" not in plan, name
        assert not plan.python(), name


def test_containment_blocks_on_gram_hash(spark, sf_dir):
    """doc_containment_pairs candidates must shuffle on the xxhash64'd
    first-gram key (the dedup_ngram_coverage discipline) and never
    fall back to an all-pairs join; the exact contains() verify runs
    on candidates only."""
    plan = plan_of(spark, sf_dir, "doc_containment_pairs")
    fmt = pv.explain_formatted(plan.df)
    assert "xxhash64" in fmt
    assert "CartesianProductExec" not in plan
    assert "Contains(" in fmt or "contains(" in fmt
    assert not plan.python()


def test_chunk_windows_is_mapside_single_generate(spark, sf_dir):
    """The chunker's only exchange is the output sort's range
    partitioning — a hashpartitioning exchange would mean the
    map-only promise rotted."""
    plan = plan_of(spark, sf_dir, "doc_chunk_windows")
    assert "GenerateExec" in plan
    assert plan.hash_keys() == []
    assert plan.partitionings() == ["RangePartitioning"]  # output sort only
    assert not plan.python()


def test_q8_broadcasts_dims_and_pushes_all_filters(spark, sf_dir):
    """Q8's three scan-level predicates must reach their scans, and
    the dim sides must broadcast (the fixture plans every join
    broadcast; at scale AQE swaps the two fact-side ones)."""
    plan = plan_of(spark, sf_dir, "market_share_q8")
    assert plan.pushed("EqualTo(p_type,PROMO)")
    assert plan.pushed("EqualTo(r_name,ASIA)")
    assert plan.pushed("GreaterThanOrEqual(o_orderdate,1995-01-01")
    assert plan.count("BroadcastHashJoinExec") >= 4
    assert "CartesianProductExec" not in plan


def test_partsupp_tpch_shapes_plan_as_documented(spark, sf_dir):
    """The derived-partsupp pack (plans/tpch_partsupp.py) must plan
    as its docstrings promise: every sub-25-row side broadcasts, the
    NOT-IN blacklist compiles to a broadcast anti join, Q20's nested
    IN chain compiles to semi joins, Q10's top-20 is a per-partition
    heap, and Q11's global scalar is a 1-row broadcast loop join —
    never a CartesianProduct.  (The catalog-wide invariants test
    already bans Python UDFs and cartesian products everywhere; these
    are the shape-specific pins VERDICT r08 item 2 asked for.)"""
    # Q2: dims (supplier⋈nation⋈region, filtered part, per-part min)
    # all broadcast — the only exchange family left is partsupp's
    # defining distinct.
    q2 = plan_of(spark, sf_dir, "min_cost_supplier_q2")
    assert q2.count("BroadcastHashJoinExec") >= 3
    assert "SortMergeJoinExec" not in q2
    assert q2.pushed("EqualTo(r_name,EUROPE)")
    assert q2.pushed("EqualTo(p_type,LARGE)")

    # Q9: part and supplier⋈nation broadcast onto the fact stream;
    # the '%rod%' predicate reaches part's scan.
    q9 = plan_of(spark, sf_dir, "product_profit_q9")
    assert q9.count("BroadcastHashJoinExec") >= 2
    assert q9.pushed("StringContains(p_name,rod)")

    # Q10: quarter + returnflag pushed to their scans, top-20 is a
    # TakeOrderedAndProject (no global sort materializes).
    q10 = plan_of(spark, sf_dir, "returned_item_reporting_q10")
    assert "TakeOrderedAndProjectExec" in q10
    assert q10.pushed("EqualTo(l_returnflag,R)")
    assert q10.pushed("GreaterThanOrEqual(o_orderdate,1995-10-01")

    # Q11: the HAVING-vs-global-scalar is a 1-row broadcast nested
    # loop (the _id_offset pattern), not a cartesian, and partsupp is
    # aggregated before it.
    q11 = plan_of(spark, sf_dir, "important_stock_q11")
    assert "BroadcastNestedLoopJoinExec" in q11
    assert "CartesianProductExec" not in q11
    first_bnlj = q11.classes.index("BroadcastNestedLoopJoinExec")
    assert "HashAggregateExec" in q11.classes[first_bnlj:]  # agg below the loop join

    # Q16: NOT-IN blacklist = broadcast LEFT ANTI; part predicates
    # pushed to its scan.
    q16 = plan_of(spark, sf_dir, "parts_supplier_relation_q16")
    assert "LeftAnti" in [j.joinType().toString() for j in q16.of("BroadcastHashJoinExec")]
    assert q16.pushed("Not(EqualTo(p_type,PROMO))")
    assert q16.pushed("In(p_size,")

    # Q20: the nested IN chain compiles to (at least) two semi joins;
    # the ship-year window reaches lineitem's scan.
    q20 = plan_of(spark, sf_dir, "potential_promotion_q20")
    assert q20.join_types().count("LeftSemi") >= 2
    assert q20.pushed("GreaterThanOrEqual(l_shipdate,1995-01-01")


def test_r09_llm_additions_plan_as_documented(spark, sf_dir):
    """Shape pins for the r09 LLM-tier additions: the BPE tier stays
    map-side string expressions (no Python, no extra exchange beyond
    the documented lang shuffle / output sort), the Bloom sizing
    query keeps the audit's broadcast-probe plan, and the PQ audit
    never shuffles the corpus for scoring (its exchanges are the
    window ranks and small aggs, all post-broadcast)."""
    # token_budget_bpe: tokenizer is codegen string ops; the window
    # shuffle on lang and the output sort are the only exchanges.
    bpe = plan_of(spark, sf_dir, "token_budget_bpe")
    assert not bpe.python()
    assert bpe.hash_keys() == [["lang"]]  # lang window
    assert "replace(" in pv.explain_formatted(bpe.df)  # merge chain JVM-side

    fert = plan_of(spark, sf_dir, "bpe_fertility_by_lang")
    assert not fert.python()
    # partial agg before the single lang exchange (map-side combine)
    first_ex = fert.classes.index("ShuffleExchangeExec")
    assert "HashAggregateExec" in fert.classes[first_ex:]

    # bloom_sizing_design (r14 tall form): every config's bit set
    # rides ONE broadcast probe join keyed (cfg, bitpos) — the bits
    # side must broadcast (bounded by Σm — the grid CONSTANT), never
    # sort-merge, and the config grid/threshold frames broadcast too.
    # (The pre-r14 pin counted >= 7 BroadcastHashJoins — one bit-set
    # probe per independent config subtree; the tall rewrite is
    # exactly the removal of those per-config copies.)
    bs = plan_of(spark, sf_dir, "bloom_sizing_design")
    assert not bs.python()
    assert "BroadcastHashJoinExec" in bs
    assert "SortMergeJoinExec" not in bs
    assert "CartesianProductExec" not in bs

    # embedding_pq_adc_recall: codebook/query sides broadcast; the
    # corpus-bearing joins are all broadcast joins (corpus itself is
    # never the build side of a shuffle join).
    pq = plan_of(spark, sf_dir, "embedding_pq_adc_recall")
    assert not pq.python()
    assert "SortMergeJoinExec" not in pq
    assert "CartesianProductExec" not in pq


def test_r10_flagship_plans_as_documented(spark, sf_dir):
    """r10 shape pins: the Zipfian PPJoin must keep the dense twin's
    audited plan (hashed 8-byte candidate keys, no sort-merge pair
    join at fixture scale) with the LCG corpus synthesis staying
    map-side; sequence packing must run its sequential recurrence as
    ONE grouped fold — a single hashpartitioning exchange into
    ObjectHashAggregate(collect_list), zero Python, no extra shuffle
    between the fold and the window rollup."""
    zipf = plan_of(spark, sf_dir, "dedup_setsim_prefix_zipf")
    assert "xxhash64" in pv.explain_formatted(zipf.df)  # hashed-token candidates
    assert "CartesianProductExec" not in zipf
    # corpus synthesis is codegen string work over the scan — no
    # Python evaluation anywhere in the plan
    assert zipf.count("BatchEvalPythonExec", "ArrowEvalPythonExec") == 0

    pack = plan_of(spark, sf_dir, "seq_pack_bpe_windows")
    assert "ObjectHashAggregateExec" in pack  # the collect_list fold
    assert pack.count("BatchEvalPythonExec", "ArrowEvalPythonExec") == 0
    # exactly one hashpartitioning exchange (the group-key shuffle);
    # the only other exchange is the output-order rangepartitioning
    assert sorted(pack.partitionings()) == ["HashPartitioning", "RangePartitioning"]


def test_semdedup_kmeans_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r12-deferred
    dedup_semantic_kmeans (built r11 — see the deferral note in
    plans/llmdata.py): the whole SemDeDup composition — unrolled
    exact-decimal Lloyd rounds, within-cluster pair stage, greedy
    drop aggregation — must stay JVM-side (zero Python evaluation)
    with no cartesian product: the pair stage is an equality join on
    the cluster key, the Lloyd centroid tables ride broadcasts."""
    from real_estate_etl_dev_spark.plans.llmdata import dedup_semantic_kmeans

    plan = Plan(dedup_semantic_kmeans(spark, sf_dir))
    assert not plan.python()
    assert "CartesianProductExec" not in plan
    assert "BroadcastNestedLoopJoinExec" not in plan
    # the k x dim centroid / seed sides of the Lloyd rounds broadcast
    # (5 at fixture scale: seeds + 3 rounds of centroids + the 1-row
    # id-offset combine); only the vid-keyed joins may sort-merge
    assert plan.count("BroadcastHashJoinExec") >= 4, plan.classes


def test_bpe_learn_plan_shape(spark, sf_dir):
    """Plan pin for bpe_learn_merges (built r11, registered r13 in
    the window's free slot): the whole unrolled learning loop stays
    JVM-side (zero Python evaluation) with no CartesianProduct.
    The per-round argmax rides the repo's 1-row broadcast
    scalar-combine (crossJoin of a broadcast 1-row frame — Spark
    plans that as a BroadcastNestedLoopJoin over ONE build row, the
    documented `_id_offset` posture, so it is deliberately NOT
    banned here, unlike in the pair-join pins)."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _BPE_LEARN_ROUNDS,
        bpe_learn_merges,
    )

    plan = Plan(bpe_learn_merges(spark, sf_dir))
    assert not plan.python()
    assert "CartesianProductExec" not in plan


def test_curation_funnel_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r14-deferred
    corpus_curation_funnel (built r12 — see the deferral note in
    plans/llmdata.py): the whole funnel stays JVM-side (zero Python
    evaluation), the exact-dedup stage is ONE window exchange on the
    content fingerprint, the decontamination probe BROADCASTS the
    distinct eval grams into a left-semi join (the exploded corpus
    grams are never shuffled on the gram key), and the only
    BroadcastNestedLoopJoin is the 1-row `_id_offset` scalar combine
    (the documented srcdup-namespace posture)."""
    from real_estate_etl_dev_spark.plans.llmdata import corpus_curation_funnel

    plan = Plan(corpus_curation_funnel(spark, sf_dir))
    assert plan.count("BatchEvalPythonExec", "ArrowEvalPythonExec") == 0
    assert "CartesianProductExec" not in plan
    # decontamination: eval grams broadcast into the semi probe
    assert "BroadcastHashJoinExec" in plan and "LeftSemi" in plan.join_types()
    # exact dedup: the window exchange is keyed on the fingerprint
    first_keys = [k[0] for k in plan.hash_keys()]
    assert "fp" in first_keys, plan.hash_keys()
    # exactly ONE gram-keyed exchange: the tiny eval side's DISTINCT.
    # The exploded corpus grams ride the broadcast semi probe and are
    # never shuffled on the gram key.
    assert first_keys.count("g") == 1, plan.hash_keys()


def test_dsir_plan_shape(spark, sf_dir):
    """Pre-registration plan pin for the r14-deferred
    dsir_importance_select (built r12 — see the deferral note in
    plans/llmdata.py): the scoring stays JVM-side (zero Python
    evaluation), the λ weight table BROADCASTS into the raw gram
    stream (never a sort-merge on the bucket key), the bucket
    aggregate is checkpoint-pinned so no bucket-keyed exchange
    survives into the final plan, and the per-lang top-k runs as a
    rank-limited window (WindowGroupLimit), not a global sort."""
    from real_estate_etl_dev_spark.plans.llmdata import dsir_importance_select

    plan = Plan(dsir_importance_select(spark, sf_dir))
    assert plan.count("BatchEvalPythonExec", "ArrowEvalPythonExec") == 0
    assert "CartesianProductExec" not in plan
    assert "BroadcastHashJoinExec" in plan
    assert "WindowGroupLimitExec" in plan, plan.classes
    assert all(k[0] != "b" for k in plan.hash_keys()), plan.hash_keys()
