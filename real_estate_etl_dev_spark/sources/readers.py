"""Readers for the driver-provided parquet zone (TESTDATA.md).

Reference parity: S10 (DB table scan → ``spark.read.parquet``),
S11 (JSON source), S12 (CSV source) from SURVEY §2.1; reference
sites ``api/routers/analytics_routes.py:28``, ``ml_region_prediction.py:46``.

Scans stay fully declarative so Catalyst pushes predicates and prunes
columns into the parquet reader (``planview.scan_metadata``).  ``fan_out``
spreads only frames whose optimized-plan node classes are all in an
allowlist (scans, checkpoints, projections, filters).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..planview import node_class, plan_nodes
from ..session import conf_scope

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# fan_out's CALLER CONTRACT as optimized-plan node classes
_FAN_OUT_SAFE = frozenset({"LogicalRelation", "LogicalRDD", "Project", "Filter"})

# Session confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# path -> (signature, footer-inferred schema); one entry per input path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}

# Open ``record_reads`` blocks, innermost last: each maps the absolute
# path of every parquet input read in the block to its signature.
_RECORDINGS: list[dict[str, tuple]] = []


def input_signature(path: str) -> tuple | None:
    """Stat signature of one local input path; ``None`` when ``os.stat``
    cannot see it (not local, or gone).

    A file is signed by ``(st_ino, st_size, st_mtime_ns)``.  A directory
    is signed by its leaf files, each as ``(relative name, st_ino,
    st_size, st_mtime_ns)``, sorted: rewriting a part file inside a kept
    directory changes it, not only adding, removing or renaming one.
    Rewrites that keep the inode and the size within one mtime tick of
    the filesystem clock are not seen."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        leaves = []
        for root, _dirs, files in os.walk(path, followlinks=True):
            for name in files:
                full = os.path.join(root, name)
                f = os.stat(full)
                rel = os.path.relpath(full, path)
                leaves.append((rel, f.st_ino, f.st_size, f.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(leaves))


@contextmanager
def record_reads() -> Iterator[dict[str, tuple]]:
    """Collect ``{absolute path: input_signature}`` of every parquet
    input read through this module inside the block (the first
    signature seen per path).  Blocks nest: a read is recorded in every
    open one.  An input ``os.stat`` cannot see is not recorded.  Not
    thread-safe: blocks open in two threads may record each other's
    reads or miss their own, which only adds inputs to a prepared
    plan's key or leaves the plan unstored."""
    reads: dict[str, tuple] = {}
    _RECORDINGS.append(reads)
    try:
        yield reads
    finally:
        _RECORDINGS.pop()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the footer schema once
    per signature (the cache key is described in ``load_table``).

    Inference runs a one-task Spark job; a read with the schema given
    only lists the file on the driver.  A signature mismatch infers
    again and replaces the path's entry; a path ``os.stat`` cannot see
    (not local) reads uncached.  Only the schema is cached: every call
    builds a fresh relation (fresh attribute IDs, so self-joins
    resolve) and a fresh file listing."""
    sig = input_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    for reads in _RECORDINGS:
        reads.setdefault(os.path.abspath(path), sig)
    key = (sig, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == key:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning/pushdown left to Catalyst.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
    only reads as nanos-since-epoch int64 under a legacy conf) and as
    plain ``timestamp[us]``, depending on testdata generation. We adapt
    to whichever dtype the file actually carries and always surface a
    session-local microsecond TimestampType so every downstream consumer
    (and the DuckDB oracles) sees one stable type.

    EXECUTION-AFTER-RESTORE ASSUMPTION (ADVICE r04): the conf overrides
    below are restored by ``conf_scope`` BEFORE the returned DataFrame ever
    executes.  Correctness therefore relies on Spark baking the
    footer-inferred schema into the relation at ``read()`` time — true
    today, and pinned by ``tests/test_readers.py`` (a required gate: it
    exercises all three shipped ts dtypes through this path).  Any
    future change that re-resolves the file schema at ACTION time
    (schema merge, ``REFRESH TABLE``, a lazy file-index rebuild) would
    regress silently — if you touch this function or see a ts-typed
    oracle mismatch, run test_readers.py first.  The same holds for a
    cached-schema read (``_read_parquet``): the schema inferred on the
    first read under these confs is handed to ``spark.read.schema``, so
    the relation carries the identical ``ts`` type and the same
    ``withColumn`` branch runs on a hit as on a miss.

    The schema cache is keyed by path and checked against the path's
    ``input_signature`` and the schema-affecting parquet confs
    (``_SCHEMA_CONFS``); it relies on the input zone being a local
    filesystem (TESTDATA.md).  Rewriting a single-file table in place,
    rewriting a part file of a directory table, or deleting and
    recreating the directory changes the signature and re-infers on the
    next call.

    The same signature keys the catalog's prepared plans
    (``plans.catalog.query``): the path and signature of every table
    loaded here inside a catalog build are recorded (``record_reads``),
    and a later request reuses the build's analyzed plan, file listing
    included, only while every recorded signature still matches.  Read
    the inputs of a catalog query through this function, or the query
    is never memoized.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Scoped confs so a scan never permanently mutates a (possibly
        # driver-owned) shared session.
        confs = {
            # TIMESTAMP(NANOS) variant: read as epoch-nanos int64.
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            # timestamp[us] isAdjustedToUTC=false variant: read directly
            # as TimestampType (stored micros = UTC instants) instead of
            # TIMESTAMP_NTZ, keeping one stable downstream type and full
            # filter pushdown on the scan.
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        }
        with conf_scope(spark, **confs):
            df = _read_parquet(spark, path)
            ts_type = df.schema["ts"].dataType.typeName()
            if ts_type == "long":
                # TIMESTAMP(NANOS) surfaced as epoch-nanos int64.
                # Integer division: epoch-nanos (~1.7e18) exceed double's
                # 2^53 exact range, so `/ 1000` via double would drift ±1µs.
                return df.withColumn(
                    "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
                )
            if ts_type == "timestamp_ntz":
                # Defensive: normalize NTZ → session-UTC TimestampType so
                # filters, date_format, and the oracle hash-compare agree.
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
            return df  # already TimestampType
    return _read_parquet(spark, path)


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy map pipeline across the cluster when its
    input's PHYSICAL parallelism is below the session's core count —
    the guide §2.5 "repartition immediately after the read" remedy
    for unsplittable inputs, made conditional so it is a no-op at
    real scale.

    Why it exists: the committed testdata ships every table as ONE
    parquet row group, so a scan is one task no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say (byte-ranges of a
    single row group collapse to one non-empty split), and every
    map-heavy stage above it — regex batteries, shingle explodes,
    decimal distance passes — runs on one core while the other 31
    idle.  The same degeneracy appears above ``localCheckpoint``:
    AQE coalesces small-BYTE exchanges to one partition
    (`parallelismFirst` still respects the 1 MB floor), the
    checkpoint freezes that layout, and a fan-out stage reading it
    (prefix-token candidate joins, bucket-pair explodes) serializes.

    At 100 TB inputs carry orders of magnitude more row groups than
    cores and checkpointed frames inherit real shuffle parallelism,
    so the partition check fails and this returns ``df`` untouched —
    the repartition only fires when the frame is provably narrower
    than the cluster, where its round-robin shuffle is by
    construction small (fewer partitions than cores of data).

    CALLER CONTRACT: only wrap frames whose plan below is scans +
    maps + already-materialized checkpoints.  ``df.rdd`` must build
    the physical RDD to read the partition count; over an
    unexecuted exchange (AQE) that would force the stage to run
    early (harmless for timing — still inside the query — but it
    would also freeze the plan).  Apply AFTER pushed filters: an
    exchange between scan and filter would defeat pushdown.

    The contract is ENFORCED (ADVICE r14): fan_out spreads only when
    every optimized-plan node class is in ``_FAN_OUT_SAFE``
    (``LogicalRelation``, ``LogicalRDD``, ``Project``, ``Filter``).  Any
    other node (join, aggregate, sort, window, limit, union, subquery…)
    may plan an exchange or limit the ``df.rdd`` probe would force and
    freeze, so fan_out returns ``df`` untouched."""
    if not {node_class(n) for n in plan_nodes(df, "optimized")} <= _FAN_OUT_SAFE:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
