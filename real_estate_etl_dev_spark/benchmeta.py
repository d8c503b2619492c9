"""Setup-vs-execution accounting and scratch space for fixture-building
queries.

Some certified queries must BUILD their input on disk before the
operator under test can run: the 13 streaming queries drop parquet
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
:func:`collect_local`.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

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
    DataFrame with the same schema.

    For results that read a :func:`scratch_dir` or a streaming memory
    sink, both of which are gone once the query returns.  The rows
    pass through the driver, so only use it where the result is
    bounded by construction (group counts, per-key rollups, a fixture's
    top-k) — never on a frame that scales with the input.  The memory
    sink already holds its rows on the driver, so there it is a copy,
    not a collapse of distributed data.
    """
    return df.sparkSession.createDataFrame(df.collect(), df.schema)
