"""planview: the structural plan walk, and the fan_out guard that
reads node classes instead of rendered plan text."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_etl_dev_spark.planview import file_roots, node_classes, plan_nodes
from real_estate_etl_dev_spark.sources.readers import fan_out, load_table


def test_walk_enters_scalar_subquery(spark):
    spark.range(10).createOrReplaceTempView("planview_t")
    df = spark.sql(
        "select * from planview_t where id > (select max(id) from planview_t)"
    )
    classes = node_classes(df)
    sub = classes.index("SubqueryExec")
    # the outer query aggregates nothing: both hash aggregates (partial
    # and final max) and the exchange between them are the subquery's
    assert classes.count("HashAggregateExec") == 2
    assert classes.index("HashAggregateExec") > sub
    assert "ShuffleExchangeExec" in classes[sub:]


def test_walk_enters_adaptive_plan_and_query_stages(spark):
    j = spark.range(100).join(F.broadcast(spark.range(10)), "id")
    classes = node_classes(j)
    assert classes[0] == "AdaptiveSparkPlanExec"
    assert "BroadcastExchangeExec" in classes
    j.collect()  # final plan: the exchange now sits inside a query stage
    classes = node_classes(j)
    stage = classes.index("BroadcastQueryStageExec")
    assert classes[stage + 1] == "BroadcastExchangeExec"


def test_phases(spark):
    df = spark.range(10).filter(F.col("id") > 3).select("id")
    assert "Filter" in node_classes(df, "logical")
    assert node_classes(df, "analyzed") == ["Project", "Filter", "Range"]
    assert node_classes(df, "optimized") == ["Filter", "Range"]
    with pytest.raises(ValueError, match="unknown plan phase"):
        node_classes(df, "physical")


def test_analyzed_walk_enters_subqueries_and_reads_file_roots(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    df = orders.filter(
        F.col("o_custkey") > nation.agg(F.max("n_nationkey")).scalar()
    )
    nodes = plan_nodes(df, "analyzed")
    leaves = [n for n in nodes if n.children().isEmpty()]
    # the Filter's subquery is walked before its child
    assert [file_roots(n) for n in leaves] == [
        [f"{sf_dir}/nation.parquet"],
        [f"{sf_dir}/orders.parquet"],
    ]
    # not a file relation
    assert file_roots(nodes[0]) is None
    assert file_roots(plan_nodes(spark.range(3), "analyzed")[0]) is None


def _spreads(df) -> bool:
    out = fan_out(df)
    if out is df:
        return False
    target = df.sparkSession.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    return True


@pytest.fixture()
def orders(spark, sf_dir):
    # the committed testdata is one row group per table: one partition
    df = load_table(spark, sf_dir, "orders")
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    return df


def test_fan_out_declines_shuffles_and_limits(orders):
    assert not _spreads(orders.join(orders, "o_orderkey"))
    assert not _spreads(orders.groupBy("o_orderstatus").count())
    assert not _spreads(orders.orderBy("o_orderkey"))
    # GlobalLimit: the df.rdd probe would freeze a limit plan
    assert not _spreads(orders.limit(3))


def test_fan_out_spreads_scans_filters_and_checkpoints(orders):
    assert _spreads(orders)
    assert _spreads(orders.filter(F.col("o_orderkey") > 3))
    assert _spreads(orders.localCheckpoint())
    # a column NAME is not a join node
    assert _spreads(orders.select(F.col("o_orderkey").alias("JoinKey")))
