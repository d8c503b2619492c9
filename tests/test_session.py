"""Session helpers: ``conf_scope`` save/restore (also through
``pagerank``, its one operator user) and ``get_spark``'s fail-fast env
validation."""

from __future__ import annotations

import pytest

from real_estate_etl_dev_spark.session import conf_scope, get_spark

_SHUFFLE = "spark.sql.shuffle.partitions"
_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_conf_scope_restores_set_and_unset_keys(spark):
    key = "spark.sql.test.confScopeProbe"
    before = spark.conf.get(_SHUFFLE)
    assert spark.conf.get(key, None) is None
    with conf_scope(spark, **{_SHUFFLE: "5", key: "x"}):
        assert spark.conf.get(_SHUFFLE) == "5"
        assert spark.conf.get(key) == "x"
    assert spark.conf.get(_SHUFFLE) == before
    assert spark.conf.get(key, None) is None  # unset again, not pinned

    with pytest.raises(ValueError):
        with conf_scope(spark, **{_SHUFFLE: "6", key: "y"}):
            raise ValueError("body failed")
    assert spark.conf.get(_SHUFFLE) == before
    assert spark.conf.get(key, None) is None


def _tiny_pagerank(spark):
    from real_estate_etl_dev_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    return pagerank(edges, rounds=2).collect()


def test_pagerank_restores_parallelism_first_when_set(spark):
    with conf_scope(spark, **{_PF: "false"}):  # nested scopes restore LIFO
        _tiny_pagerank(spark)
        assert spark.conf.get(_PF, None) == "false"


def test_pagerank_restores_parallelism_first_when_unset(spark):
    before = spark.conf.get(_PF, None)
    try:
        spark.conf.unset(_PF)
        assert spark.conf.get(_PF, None) is None
        _tiny_pagerank(spark)
        assert spark.conf.get(_PF, None) is None
    finally:
        if before is not None:
            spark.conf.set(_PF, before)


@pytest.mark.parametrize("var", ["SPARK_GRAFT_CPUS"])
@pytest.mark.parametrize("value", ["256m", "0"])
def test_get_spark_rejects_bad_env_ints(monkeypatch, var, value):
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        get_spark("bad-env")
