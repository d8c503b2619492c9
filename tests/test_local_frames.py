"""Driver-local frames stay in the JVM: ``benchmeta.collect_local`` and
``benchmeta.local_frame`` return one ``LocalRelation`` and start no
Python worker (``createDataFrame`` on a Python list runs a Python task
per default-parallelism slice)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_estate_etl_dev_spark.benchmeta import collect_local, local_frame
from real_estate_etl_dev_spark.planview import node_classes
from real_estate_etl_dev_spark.session import conf_scope

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a +05:45 session zone, unlike the process's: a timestamp that took a
# trip through Python datetimes and back would cross two zones
SESSION_TZ = "Asia/Kathmandu"


def _typed(spark):
    """Two rows over every type family, the second all null except the
    non-nullable ``id``."""
    first = F.col("id") == 0

    def on_first(expr):
        return F.when(first, F.expr(expr))

    return spark.range(2).select(
        "id",
        on_first("TIMESTAMP '2024-03-31 02:30:00.123456'").alias("ts"),
        on_first("TIMESTAMP_NTZ '2024-03-31 02:30:00.654321'").alias("ts_ntz"),
        on_first("DATE '1995-03-01'").alias("day"),
        on_first(
            "CAST('12345678901234567890.123456789012345678' AS DECIMAL(38,18))"
        ).alias("dec"),
        on_first("X'00FF7F'").alias("bin"),
        on_first("array(1, NULL, 3)").alias("arr"),
        on_first("map('a', 1.5D, 'b', CAST(NULL AS DOUBLE))").alias("m"),
        on_first("named_struct('x', 1L, 'y', 'b', 'z', array('c'))").alias("s"),
        on_first("'text'").alias("str"),
    )


def _rendered(df):
    """Each row rendered by the JVM (session time zone, full decimal
    and microsecond precision), so the check never leaves the JVM."""
    opts = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"), opts)).collect())


def test_collect_local_keeps_schema_rows_and_values(spark):
    with conf_scope(spark, **{"spark.sql.session.timeZone": SESSION_TZ}):
        df = _typed(spark)
        out = collect_local(df)
        assert out.schema == df.schema
        assert not out.schema["id"].nullable and out.schema["ts"].nullable
        assert out.collect() == df.collect()
        assert _rendered(out) == _rendered(df)
        assert '"ts":"2024-03-31T02:30:00.123456+05:45"' in _rendered(out)[0]
    assert node_classes(out, "analyzed") == ["LocalRelation"]


def test_collect_local_of_empty_result(spark):
    df = _typed(spark).filter(F.col("id") < 0)
    out = collect_local(df)
    assert out.schema == df.schema and out.collect() == []
    assert node_classes(out, "analyzed") == ["LocalRelation"]


@pytest.mark.parametrize("ddl", [True, False])
def test_local_frame_builds_a_local_relation(spark, ddl):
    schema = T.StructType(
        [
            T.StructField("cfg", T.StringType()),
            T.StructField("m", T.LongType()),
            T.StructField("p", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [("a", 2**40, 0.05, True, [1.0, 2.5]), ("b", None, None, None, None)]
    ddl_text = "cfg string, m long, p double, ok boolean, vec array<double>"
    df = local_frame(spark, rows, ddl_text if ddl else schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    assert node_classes(df, "analyzed") == ["LocalRelation"]


def test_local_frame_of_no_rows(spark):
    df = local_frame(spark, [], "file string, n long")
    assert df.columns == ["file", "n"] and df.collect() == []
    assert node_classes(df, "analyzed") == ["LocalRelation"]


def test_snapshot_time_travel_starts_no_python_worker(sf_dir):
    """A fresh session runs ``snapshot_time_travel`` and no
    ``pyspark.daemon`` hangs off its JVM afterwards.  A literal
    ``createDataFrame`` of a Python list in the same session does
    start one, so the probe can see a worker when there is one."""
    code = textwrap.dedent(
        f"""
        from pyspark import SparkContext
        from perfbench.probes import descendants
        from real_estate_etl_dev_spark.plans.catalog import CATALOG
        from real_estate_etl_dev_spark.session import get_spark

        def daemons():
            n = 0
            for pid in descendants(SparkContext._gateway.proc.pid):
                try:
                    with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                        n += b"pyspark.daemon" in f.read()
                except OSError:
                    pass
            return n

        spark = get_spark("no-python-worker")
        CATALOG["snapshot_time_travel"].fn(spark, {sf_dir!r}).collect()
        print("after_query", daemons())
        spark.createDataFrame([(1,)], "a long").collect()
        print("after_list", daemons())
        """
    )
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    counts = dict(line.split() for line in out.stdout.splitlines() if line.startswith("after_"))
    assert counts["after_query"] == "0", counts
    assert int(counts["after_list"]) > 0, counts
