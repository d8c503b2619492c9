"""SparkSession factory with scale-oriented defaults.

The driver may hand us its own session (``__spark_entry__.entry``),
so every query must also work without these conf defaults — we rely
on per-plan hints (``broadcast()``) rather than session conf where
correctness or plan shape matters.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _positive_int_env(name: str, default: str) -> int:
    """Read ``name`` as a positive integer; raise ``ValueError`` naming
    the variable instead of letting Spark fail on the built conf."""
    raw = os.environ.get(name, default)
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value <= 0:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(app_name: str = "real-estate-etl-dev-spark") -> SparkSession:
    """Build (or reuse) a local session tuned for the test harness.

    On a real cluster these confs come from spark-submit; the ones
    here encode the engine's posture: AQE on (runtime re-plan,
    partition coalescing, skew-join splitting), Arrow on (pandas-UDF
    tier), sane shuffle parallelism for local[N].

    ``SPARK_GRAFT_CPUS`` must be a positive integer; anything else
    raises ``ValueError`` before a session is built.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf: it takes
    effect only when this call creates the SparkContext.  A session
    built elsewhere and handed to ``__spark_entry__.entry``, or the
    bare one of ``scripts/verify_all.py --vanilla``, keeps Spark's 100.  The setting is for speed only; the
    ``--vanilla`` oracle sweep shows no result depends on it.
    """
    cpus = _positive_int_env("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not up to
        # defaultParallelism (guide §2.2/§9): with parallelismFirst
        # (Spark's default) every tiny shuffle fans out to one
        # partition per core — pure scheduling overhead at bench scale,
        # and at 100 TB the size-based target is the recommended
        # posture anyway (partitions in the 100 MB-1 GB band).
        # CPU-heavy small-byte stages that genuinely need a spread get
        # it explicitly via sources.readers.fan_out.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # The advisory target is 16 MB: expression-heavy stages here
        # (decimal folds, CDC explodes, string dedups) carry far more
        # CPU per byte than production fact scans, so the byte target
        # that balances task overhead against per-row work sits lower
        # than the I/O-bound production setting (256m per guide §9,
        # where network/disk amortisation dominates).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter join pruning: a selective dim-side
        # filter injects might_contain(bloom(join_key)) into the fact
        # scan before the shuffle.  Spark ships it off by default; the
        # default thresholds (creation side ≤ 10 MB, application-side
        # scan ≥ 10 GB) mean it only fires at real fact-table sizes —
        # a no-op at test SFs, a large shuffle-volume win at 100 TB.
        # tests/test_plan_shapes.py proves the machinery fires when
        # the thresholds are met.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Compiled whole-stage/expression classes live in an LRU cache
        # of 100 entries split over 4 segments.  The 13 dashboard
        # panels need 111 classes and one pass of the catalog 2831
        # (sf0.001) to 2850 (sf0.01), so at 100 a warm serve path keeps
        # evicting and recompiling (a recompiled class is a new,
        # interpreted JVM class; a kept one stays JIT-compiled).  4096
        # is the next power of two above that working set.  It stays
        # bounded: a second catalog pass still compiles 75-95 classes
        # whose source differs per call and never repeats, so an
        # unbounded cache would grow for as long as a server lives.
        # Re-derive with scripts/codegen_working_set.py.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def conf_scope(spark: SparkSession, **confs) -> Iterator[None]:
    """Set session confs for the enclosed block, then restore them.

    Each key's previous value is saved with ``spark.conf.get(k, None)``
    and put back on exit, exceptions included; a key that was unset
    before is unset again (not pinned to its default).  Dotted keys go
    in via ``**{"spark.sql.shuffle.partitions": "8"}``.

    The session conf is shared state, so the scope is NOT reentrant
    across threads and NOT safe under concurrent queries on the same
    session: any query that plans while the scope is open sees the
    overrides, and two scopes that interleave (rather than nest)
    restore each other's values.  Strictly nested scopes on one thread
    restore correctly.  Every engine-side conf override goes through
    here, so a driver-owned session is never left mutated.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
