"""Physical-layout operators for the 100 TB posture: bucketed tables
for shuffle-free merges, and salting for skewed keys.

The reference leans on Postgres B-tree indexes
(models/listing.py:55-64); on Spark the equivalents are:

* **bucketing** — the current-state listing table is written
  ``bucketBy(url)`` so every merge batch joins co-located: both sides
  hash-partition identically at WRITE time and the full-outer merge
  runs with NO exchange of the big side.  At 100 TB this converts the
  nightly merge from a 2-sided shuffle into a map-side zip.
* **partitioning** — append-only staging partitions on the batch date
  (scraped_at month), so merge reads prune to one partition.
* **salting** — a hot key (one source producing 50% of rows, a
  near-empty-description duplicate class) makes one reducer the
  straggler.  ``salted_agg`` splits hot groups across N sub-keys with
  a partial aggregate and re-combines — two small shuffles instead of
  one skewed one.  (AQE's skew-join handles the JOIN case; salting
  covers aggregations, which AQE does not rebalance.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchmeta import local_frame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "url",
    n_buckets: int = 64,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) table.  Joins and
    aggregations on ``bucket_col`` between tables bucketed the same
    way need no exchange (SortMergeJoin reads both sides in place)."""
    w = df.write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    b = w.bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        b = b.sortBy(sort_col)
    b.saveAsTable(table)


def bucketed_merge_ready(
    spark: SparkSession, current_table: str, staging_table: str
) -> tuple[DataFrame, DataFrame]:
    """Load two identically-bucketed tables for a shuffle-free merge."""
    return spark.table(current_table), spark.table(staging_table)


def salted_count_sum(
    df: DataFrame, group_col: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-safe count + sum per key.

    Phase 1 groups on (key, salt) — a hot key's rows spread over
    ``n_salts`` reducers; phase 2 combines the partials per key.
    Two small shuffles instead of one skewed one.

    The salt is DETERMINISTIC per row (hash of every input column,
    ADVICE r02): under partial stage recompute after a shuffle-fetch
    failure, each replayed row re-salts identically, so no partial
    aggregate is lost or double-counted — a salt from
    monotonically_increasing_id()/rand() re-routes rows on retry.
    Fully identical rows share a salt, which only costs spread when a
    key's rows are near-all duplicates (then dedup first)."""
    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)),
    )
    partial = salted.groupBy(group_col, "__salt").agg(
        F.count(F.lit(1)).alias("__n"), F.sum(value_col).alias("__s")
    )
    return partial.groupBy(group_col).agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__s").alias("total"),
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | tuple[str, ...] = ("event_date",),
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist hive-partitioned by the given columns — the other half
    of the layout story next to :func:`write_bucketed`: bucketing
    co-locates JOIN keys, date/source partitioning prunes SCANS.  A
    time-filtered query over a date-partitioned 100 TB table reads
    only the matching directories (PartitionFilters in the scan node),
    which is the difference between touching a day and touching a
    decade.  Keep partition cardinality bounded (date, source — never
    a high-cardinality id: millions of tiny directories kill the
    driver's file index)."""
    df.write.format(fmt).mode(mode).partitionBy(*partition_cols).save(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str] | tuple[str, ...],
    n_files: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """The third layout lever next to bucketing and hive partitioning:
    RANGE-sorted files for min/max data skipping.

    ``repartitionByRange`` gives each output file a DISJOINT slice of
    the sort-key space and ``sortWithinPartitions`` orders rows inside
    it, so every parquet footer carries tight min/max stats on the sort
    columns.  A range predicate then skips whole files/row-groups at
    scan time — the poor man's Z-order, and the difference between
    reading a day and reading everything when the filter column is too
    high-cardinality to hive-partition on (timestamps, prices, ids).

    Scale: one range exchange at write time (sampled bounds, no
    skew-prone single sort); readers pay nothing — skipping happens in
    the parquet reader via the same PushedFilters the plan already
    shows.  ``tests/test_layout_ivf.py`` proves the written files carry
    disjoint sort-key ranges."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )


# Bit-interleave (Morton / Z-order) masks: each step doubles the gap
# between a value's bits; after all five, bit i of the input sits at
# bit 2i of the output.  Standard magic-number spread (public domain
# bit-twiddling; see e.g. "Bit Twiddling Hacks").
_MORTON_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_bits(c):
    """Spread a (≤31-bit) long's bits to the even bit positions — five
    shift-or-mask steps, all JVM codegen, no UDF."""
    for shift, mask in _MORTON_STEPS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def morton_code(x, y, bits: int = 16):
    """Z-order (Morton) key: interleave the low ``bits`` of two integer
    columns so that points close in BOTH dimensions get close keys —
    the real Z-order behind ``write_range_sorted``'s "poor man's"
    aside.  Range-sorting on this ONE derived key gives min/max file
    skipping on TWO predicate columns at once: a 2-D box query touches
    only the files whose Morton range intersects the box's curve
    segments, where a 1-D sort clusters only its leading column.

    ``bits`` ≤ 31 keeps the interleaved key inside a signed long (top
    bit position 2·bits-1 ≤ 61).  Inputs are masked to ``bits`` — keys
    wider than that alias, so size ``bits`` to the real key domain
    (16 bits = 65k distinct values per dimension is enough for a
    bucketed/binned layout key at any corpus size; bin first, don't
    widen).  Pure column expressions — whole-stage codegen, identical
    math in any engine with shifts (the DuckDB oracle of
    ``zorder_bucket_stats`` recomputes it step for step)."""
    assert 1 <= bits <= 31, bits
    mask = (1 << bits) - 1
    cx = (x if not isinstance(x, str) else F.col(x)).cast("long").bitwiseAND(
        F.lit(mask)
    )
    cy = (y if not isinstance(y, str) else F.col(y)).cast("long").bitwiseAND(
        F.lit(mask)
    )
    return _spread_bits(cx).bitwiseOR(F.shiftleft(_spread_bits(cy), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    n_files: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order layout: range-sort the files on the Morton key of
    (x, y).  Same single range exchange as ``write_range_sorted``; the
    written files carry disjoint Morton ranges AND, because the curve
    preserves 2-D locality, usefully tight min/max on BOTH raw columns
    — so a predicate on either (or a box on both) skips files the 1-D
    sort layout cannot.  The Morton helper column is dropped before
    write; readers see the original schema."""
    (
        df.withColumn("__z", morton_code(x, y, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format(fmt)
        .mode(mode)
        .save(path)
    )


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files maintenance: rewrite a parquet directory into files
    near ``target_file_mb``.  Returns the ACTUAL number of part files
    written (ADVICE r04: ``coalesce`` can only narrow partitioning, so
    when the byte-budget count exceeds the scan's partition count the
    output has fewer files than the budget — the caller gets the truth,
    not the target).

    Every long-lived ingestion zone accretes small files (per-batch
    appends, streaming micro-batch sinks) until scan planning is
    dominated by footer reads and task startup — the classic 100 TB
    operational failure.  Sizing from the ACTUAL on-disk bytes (not row
    counts) keeps the math compression-aware; ``coalesce`` avoids a
    shuffle (it only narrows partitioning), so compaction is a read +
    write, nothing more.  Run it per hive-partition in practice so the
    directory listing and rewrite stay bounded."""
    import glob
    import math
    import os

    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    return len(glob.glob(os.path.join(dst_path, "part-*.parquet")))


def _open_footer(uri: str):
    """Resolve ``uri`` and return ``(local_path, FileMetaData)`` for its
    parquet footer.  inputFiles() yields scheme-prefixed URIs (file:,
    hdfs:, s3a:, ...) — dispatch through pyarrow's FileSystem so the
    audit works on any store, not just local paths.  Scheme-less
    strings (relative paths) make ``from_uri`` raise ``pa.ArrowInvalid``
    — that class lives in pyarrow.lib, re-exported at the top level;
    ``pyarrow.fs`` has no ``.lib``, so naming it there would
    AttributeError and mask the real failure (r05 ADVICE).  The footer
    is parsed eagerly at ParquetFile construction, so the handle is
    closed before returning."""
    import pyarrow as pa
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        fs, fpath = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(fpath) as fh:
            return fpath, pq.ParquetFile(fh).metadata
    except (pa.ArrowInvalid, ValueError):
        fpath = uri.removeprefix("file:")
        return fpath, pq.ParquetFile(fpath).metadata


def footer_stats(
    spark: SparkSession, path: str, column: str
) -> DataFrame:
    """Distributed parquet-footer statistics — the 100k-file form of
    the layout audit (the driver-side pyarrow loop in
    plans/ingest.py:layout_maintenance_audit is fixture-scoped by
    assertion; THIS is the variant its docstring promises).

    Fans the file list out as a DataFrame and opens each footer
    executor-side (``pyarrow.parquet.ParquetFile(...).metadata`` via
    ``mapInPandas`` — pure metadata reads, no row data moves), yielding
    one row per file: (file, n_rows, col_min, col_max).  Driver cost is
    O(result rows); a zone's audit is then one sort + lag-window pass
    (see ``ranges_disjoint``).  Min/max are emitted as strings so one
    schema serves any orderable column type; compare after casting."""
    import pandas as pd

    files = spark.read.parquet(path).inputFiles()

    def read_footers(batches):
        for pdf in batches:
            out = {"file": [], "n_rows": [], "col_min": [], "col_max": []}
            for uri in pdf["file"]:
                fpath, meta = _open_footer(uri)
                idx = meta.schema.names.index(column)
                mins, maxs = [], []
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                out["file"].append(fpath.rsplit("/", 1)[-1])
                out["n_rows"].append(meta.num_rows)
                out["col_min"].append(str(min(mins)) if mins else None)
                out["col_max"].append(str(max(maxs)) if maxs else None)
            yield pd.DataFrame(out)

    paths = local_frame(spark, [(f,) for f in files], "file string")
    # one footer read is microseconds of work: let every core take a
    # slice instead of one task owning the whole listing
    n_slices = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    return paths.repartition(n_slices).mapInPandas(
        read_footers,
        schema="file string, n_rows long, col_min string, col_max string",
    )


def ranges_disjoint(stats: DataFrame, cast_to: str = "string") -> DataFrame:
    """Pairwise-disjointness verdict over ``footer_stats`` output: sort
    files by min and flag any file whose min does not exceed the
    previous file's max.  One tiny shuffle over |files| rows; the
    verdict aggregate is a single row.

    ``cast_to`` MUST name the sort column's comparable type ("bigint",
    "double", "timestamp", ...) — footer_stats emits min/max as
    strings for schema genericity, and comparing numerics
    lexicographically would both miss real overlaps ('5' > '25') and
    invent false ones ('10' < '2').  The default "string" is only
    correct for keys whose lexical and natural orders agree (e.g.
    zero-padded ids).

    Files with NO column statistics cannot be placed — they are
    COUNTED (``n_missing_stats``) and force ``all_disjoint`` false:
    an unverifiable file must never certify a zone."""
    from pyspark.sql import Window

    lo = F.col("col_min").cast(cast_to)
    hi = F.col("col_max").cast(cast_to)
    w = Window.orderBy(lo, "file")
    flagged = stats.select(
        "file",
        (F.col("col_min").isNull() | F.col("col_max").isNull()).alias("no_stats"),
        (
            F.lag(hi).over(w).isNotNull() & (lo <= F.lag(hi).over(w))
        ).alias("overlaps_prev"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.col("no_stats").cast("long")).cast("long").alias("n_missing_stats"),
        (
            ~F.max(F.coalesce("overlaps_prev", F.lit(False)))
            & (F.sum(F.col("no_stats").cast("long")) == 0)
        ).alias("all_disjoint"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    force_shuffle: bool = False,
) -> DataFrame:
    """Skew-safe EQUI-JOIN by salting: the fact side gets a
    deterministic per-row salt in [0, n_salts), the dim side is
    REPLICATED once per salt value, and the join key becomes
    (key, salt) — a hot key's fact rows land on ``n_salts`` different
    reducers instead of one, at the cost of dim-side duplication
    (cheap: the replicated side is the SMALL one by construction).

    This is the manual form of what AQE's skew-join split does at
    runtime; keep it for the cases AQE can't see — a skewed key known
    AT PLAN TIME (e.g. the null/default key of a log table), or a
    shuffle consumed by a later stage AQE won't re-plan.  The salt is
    hash-of-all-columns deterministic (same retry-safety argument as
    :func:`salted_count_sum`); identical fact rows share a salt, so
    spread degrades only for all-duplicate hot keys.

    Returns fact ⋈ dim with the salt column dropped — result set is
    EXACTLY the plain join's (the certification oracle for
    ``salted_skew_user_join`` is the unsalted join)."""
    salted_fact = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts)),
    )
    salts = fact.sparkSession.range(n_salts).select(
        F.col("id").cast("long").alias("__salt")
    )
    replicated_dim = dim.crossJoin(F.broadcast(salts))
    if force_shuffle:
        # the hint must attach to the JOIN INPUT (post-replication) —
        # a hint on ``dim`` does not survive the crossJoin — and only
        # the demonstration/certification path wants it: in production
        # let AQE broadcast when the replicated dim fits, because a
        # broadcast join has no shuffle to skew in the first place.
        replicated_dim = replicated_dim.hint("shuffle_hash")
        salted_fact = salted_fact.hint("shuffle_hash")
    joined = salted_fact.join(
        replicated_dim,
        on=[on, "__salt"],
        how="inner",
    )
    return joined.drop("__salt")
