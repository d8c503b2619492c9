"""Every catalog query with an oracle must hash-match DuckDB — this is
a local mirror of the driver's t2 correctness gate."""

import pytest

from real_estate_etl_dev_spark.plans.catalog import CATALOG
from real_estate_etl_dev_spark.session import conf_scope
from real_estate_etl_dev_spark.sources.readers import TABLES, load_table

from .conftest import BOUNDED_SORT_PANELS
from .oracle_harness import compare, oracle_rows, ordered_rows

ORACLE_QUERIES = [(n, q) for n, q in sorted(CATALOG.items()) if q.oracle]


def register_views(spark, sf_dir):
    """Register every table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


@pytest.mark.parametrize("name,q", ORACLE_QUERIES, ids=[n for n, _ in ORACLE_QUERIES])
def test_oracle_parity(spark, sf_dir, name, q):
    problems = compare(spark, sf_dir, q.fn, q.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", BOUNDED_SORT_PANELS)
def test_row_order_matches_oracle(spark, oracle_sf_dir, name):
    """``compare`` ignores row order, so a sort that is only per
    partition would pass it.  These queries sort on a unique key, so
    their rows must come back in the oracle's ORDER BY order, position
    by position.  AQE would coalesce each small shuffle to one
    partition, where any per-partition sort is also total; with that
    off the aggregates come out of 8 partitions."""
    q = CATALOG[name]
    d_cols, d_rows = oracle_rows(oracle_sf_dir, q.oracle)
    with conf_scope(spark, **{"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        sdf = q.fn(spark, oracle_sf_dir)
        s_rows = sdf.collect()
    assert sorted(sdf.columns) == sorted(d_cols)
    assert ordered_rows(sdf.columns, s_rows) == ordered_rows(d_cols, d_rows)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["month", "n_orders"]


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert qs, "queries() must not be empty"
    for name in os_:
        assert name in qs, f"oracle_sql has {name} not in queries()"


def test_sql_api_over_registered_views(spark, sf_dir):
    """The engine is also consumable as plain Spark SQL: register the
    table views and run the oracle dialect's query shapes directly."""
    register_views(spark, sf_dir)
    sql_rows = spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation
        """
    ).collect()
    df_rows = CATALOG["revenue_by_nation"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]
