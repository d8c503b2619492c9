"""Setup-vs-execution accounting and scratch space for fixture-building
queries.

Some certified queries must BUILD their input on disk before the
operator under test can run: the 12 streaming queries drop parquet
files + a fresh checkpoint dir per invocation (a real deployment's
stream source already exists); six batch queries write a fixture
layout first (the three snapshot version stores, the fragmented zone
of the layout audit, the year-partitioned and the schema-evolved
order zones); and the bucketed merge writes its two bucketed tables
(a real deployment writes these ONCE and amortizes them over every
run).  Billing that construction as query wall-clock overstates
the operators' cost in every bench sweep (r05 VERDICT item 3).

The queries wrap their fixture-construction span in
:func:`setup_span`; ``bench.py`` reads :data:`SETUP_SECONDS` after
each timed run and publishes a per-query ``setup`` map alongside the
total timings — the total still includes setup (the driver contract
is unchanged), the split just makes the overhead visible instead of
folklore.

The fixtures live in a :func:`scratch_dir`, and a query whose answer
would otherwise read them after the dir is gone returns it through
:func:`collect_local`.  Literal fixture rows become a frame through
:func:`local_frame`.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# query name -> seconds spent building the on-disk fixture during the
# MOST RECENT invocation (overwritten per call, so a bench warm-up
# can't inflate the timed run's number).
SETUP_SECONDS: dict[str, float] = {}

# setup_span blocks opened so far in this process: a catalog build that
# opens one builds a fixture, so its plan is never memoized.
SPANS_OPENED = 0


@contextmanager
def setup_span(name: str):
    """Time the enclosed fixture-construction block and record it
    under ``name``.  One span per query invocation."""
    global SPANS_OPENED
    SPANS_OPENED += 1
    t0 = time.perf_counter()
    try:
        yield
    finally:
        SETUP_SECONDS[name] = round(time.perf_counter() - t0, 4)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp dir for one invocation's fixture files, removed on
    exit — also when the query raises — so repeated runs (bench
    warm-up + timed run, verify passes) never accumulate workdirs."""
    workdir = tempfile.mkdtemp(prefix=prefix)
    try:
        yield workdir
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def collect_local(df: DataFrame) -> DataFrame:
    """Bounded read-back: run ``df`` now and return its rows as a local
    DataFrame with the same schema (nullability included).

    For results that read a :func:`scratch_dir` or a streaming memory
    sink, both of which are gone once the query returns.  The rows stay
    in the driver JVM: ``collectAsList`` hands them straight to the
    JVM ``createDataFrame``, so the result is one ``LocalRelation``,
    no row becomes a Python object (timestamps and decimals keep their
    exact values) and no Python worker starts.  Only use it where the
    result is bounded by construction (group counts, per-key rollups,
    a fixture's top-k) — never on a frame that scales with the input.
    The memory sink already holds its rows on the driver, so there it
    is a copy, not a collapse of distributed data.
    """
    spark, jdf = df.sparkSession, df._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark
    )


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A ``LocalRelation`` of literal ``rows`` (tuples in ``schema``'s
    field order; ``schema`` a ``StructType`` or a DDL string).

    The rows reach the JVM as one Arrow table, so no Python worker
    starts; ``createDataFrame`` on a Python list would run a Python
    task per default-parallelism slice to re-serialize them.  A naive
    ``datetime`` is read as UTC.  Like :func:`collect_local`, only for
    rows bounded by construction (fixtures, grids, report rows).

    The rows are constants of the plan, and ``plans.catalog`` may
    reuse the analyzed plan of a build whose only other leaves are
    inputs read through ``sources.readers``: rows derived from
    anything else (a directory listing, a file read by hand) must come
    from a build that also runs a Spark job or opens a
    :func:`setup_span`, which is never memoized.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
