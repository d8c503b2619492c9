"""Manifest-versioned table layout: atomic publish + time-travel reads.

The missing piece between the merge engine (``operators/merge.py``)
and a production table: each merge's output is PUBLISHED as an
immutable version directory plus a tiny JSON manifest, and readers
resolve a manifest — never a directory listing — so they see exactly
one committed snapshot:

* **Atomic publish**: data files land first, the manifest write is the
  commit point (one small PUT/rename — the only operation that needs
  atomicity on an object store).  A reader that resolves the manifest
  either sees the whole version or, if the manifest isn't there yet,
  the previous one.  No reader ever observes a half-written version.
* **Snapshot isolation / time travel**: versions are immutable; a
  reader holding version N's manifest keeps reading exactly version
  N's files while N+1, N+2… are published (certified by
  ``snapshot_time_travel``, which reads three historical versions
  AFTER all three are on disk).
* **Scale**: the manifest lists data files explicitly, so reads skip
  the eventually-consistent LIST operation entirely; per-file row
  counts ride along for free.  At 100 TB a version's file list pairs
  with the layout tier's ``footer_stats`` min/max audit for
  file-level pruning, and production systems amortize storage by
  manifesting per-version DELTAS + periodic compaction
  (Iceberg/Delta's design) — the commit protocol certified here is
  the same.

Reference tie-in: the reference overwrites its listings table in
place on every pipeline run (reid/pipelines/property.py write path) —
readers mid-run see torn state; this tier is the Spark-first fix.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"_manifest_v{version:05d}.json")


def publish_version(df: DataFrame, table_dir: str, version: int) -> dict:
    """Write ``df`` as immutable version ``version`` of the table.

    Data files go to ``{table_dir}/v{version:05d}/``; the manifest
    (file list + row count + columns) is written LAST as the commit
    point, then ``_latest`` is updated.  Refuses to overwrite an
    already-committed version — immutability is the contract every
    reader relies on.

    LOCAL FILESYSTEM ONLY: the commit uses ``os.path.exists`` /
    ``os.listdir`` / ``os.rename`` and the row count reads footers with
    pyarrow, all on local paths; an object store needs them routed
    through the Hadoop FileSystem API."""
    mpath = _manifest_path(table_dir, version)
    if os.path.exists(mpath):
        raise ValueError(f"version {version} already committed at {mpath}")
    vdir = os.path.join(table_dir, f"v{version:05d}")
    df.write.mode("error").parquet(vdir)
    files = sorted(
        os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")
    )
    # Count from the written files' FOOTERS (also validates the write)
    # rather than re-executing df's plan: the parquet footer's row
    # count is exact by format contract, and reading it is pure
    # metadata I/O — r15 (guide §5, driver round-trips): the previous
    # ``spark.read.parquet(*files).count()`` launched one full Spark
    # job per publish (3 publishes per snapshot query), scanning the
    # data that was just written.
    import pyarrow.parquet as _pq

    n_rows = sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    manifest = {
        "version": version,
        "files": files,
        "n_rows": n_rows,
        "columns": df.columns,
    }
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, mpath)  # the atomic commit point
    latest_tmp = os.path.join(table_dir, "_latest.tmp")
    with open(latest_tmp, "w") as fh:
        fh.write(str(version))
    os.rename(latest_tmp, os.path.join(table_dir, "_latest"))
    return manifest


def list_versions(table_dir: str) -> list[int]:
    """Committed versions (manifest present), ascending."""
    out = []
    for f in os.listdir(table_dir):
        if f.startswith("_manifest_v") and f.endswith(".json"):
            out.append(int(f[len("_manifest_v"):-len(".json")]))
    return sorted(out)


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read one committed version — ``None`` resolves ``_latest``.

    The file list comes from the manifest, never a directory listing,
    so concurrent publishes of newer versions are invisible."""
    if version is None:
        with open(os.path.join(table_dir, "_latest")) as fh:
            version = int(fh.read().strip())
    with open(_manifest_path(table_dir, version)) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(*manifest["files"])


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level change feed between two snapshots — the CDC derivation
    versioned tables make possible WITHOUT a write-path log: a
    full-outer join on ``key`` classifies every row as ``insert``
    (key only in ``new``), ``delete`` (only in ``old``), ``update``
    (present in both, any non-key column differs), or drops it
    (identical).  Output: key, change_type, and the old/new values of
    every non-key column (nulls on the absent side).

    Scale: ONE hash shuffle per side on the key (co-partitioned by
    AQE); the comparison is a null-safe JVM expression per column —
    no Python, no per-row probes.  Two bucketed-by-key versions (the
    layout tier) diff with zero exchanges, same as the bucketed merge."""
    cols = [c for c in old.columns if c != key]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schema mismatch: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    o = old.alias("o")
    n = new.alias("n")
    ok, nk = F.col(f"o.{key}"), F.col(f"n.{key}")
    joined = o.join(n, ok == nk, "full_outer")
    differs = F.lit(False)
    for c in cols:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    change = (
        F.when(ok.isNull(), F.lit("insert"))
        .when(nk.isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out = joined.select(
        F.coalesce(ok, nk).alias(key),
        change.alias("change_type"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in cols],
    )
    return out.filter(F.col("change_type").isNotNull())
