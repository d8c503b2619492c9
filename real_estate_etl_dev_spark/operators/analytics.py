"""Serve-path pagination operators — SURVEY §2.6 O1/O3/O5.

The reference paginates with ORDER BY ... OFFSET/LIMIT
(api/routers/queue_routes.py:28-37, tag_routes.py:70-73).  Offset
pagination needs a global row_number — a single-partition total sort
that dies at 100 TB.  The scale-safe serve path is KEYSET pagination:
seek past the last-seen (sort_key, tie_key) with an indexable
predicate, then take one page; the predicate pushes into the parquet
scan (min/max row-group pruning) and the sort only orders the
surviving sliver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def paginate_keyset(
    df: DataFrame,
    sort_col: str,
    key_col: str,
    last_sort_value=None,
    last_key_value=None,
    page_size: int = 50,
    descending: bool = True,
) -> DataFrame:
    """One page after the (last_sort_value, last_key_value) anchor.

    First page: pass no anchor.  The composite seek predicate
    ``sort < anchor OR (sort = anchor AND key > anchor_key)`` is
    sargable — Catalyst pushes it to the scan, so deep pages cost the
    same as page one (unlike OFFSET, which sorts everything above)."""
    sort_c, key_c = F.col(sort_col), F.col(key_col)
    out = df
    if last_sort_value is not None:
        seek: Column = (
            (sort_c < F.lit(last_sort_value))
            if descending
            else (sort_c > F.lit(last_sort_value))
        )
        if last_key_value is not None:
            seek = seek | (
                (sort_c == F.lit(last_sort_value)) & (key_c > F.lit(last_key_value))
            )
        out = out.filter(seek)
    order = [sort_c.desc() if descending else sort_c.asc(), key_c.asc()]
    return out.orderBy(*order).limit(page_size)


def paginate_offset(
    df: DataFrame,
    sort_col: str,
    key_col: str,
    page: int = 1,
    page_size: int = 50,
    descending: bool = True,
) -> DataFrame:
    """Reference-faithful OFFSET pagination via a global row_number —
    fine for shallow serve-path pages, documented as NOT the 100 TB
    path (keyset above is)."""
    from pyspark.sql import Window

    sort_c = F.col(sort_col)
    w = Window.orderBy(sort_c.desc() if descending else sort_c.asc(), F.col(key_col))
    lo = (page - 1) * page_size + 1
    hi = page * page_size
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") >= lo) & (F.col("rn") <= hi))
    )


def top1_by_key(df: DataFrame, sort_col: str, key_col: str) -> DataFrame:
    """O3: ORDER BY sort DESC LIMIT 1 with a deterministic tie-break —
    Spark plans this as TakeOrderedAndProject (per-partition top-1 +
    driver merge), no total sort (ref models/listing.py:72-74)."""
    return df.orderBy(F.col(sort_col).desc(), F.col(key_col).asc()).limit(1)


def order_bounded(df: DataFrame, *cols) -> DataFrame:
    """Total sort of a result whose row count is bounded at any scale,
    in ONE task: ``df.coalesce(1).orderBy(*cols)``.

    ``CoalesceExec(1)`` reports ``SinglePartition``, which satisfies the
    global sort's ordered distribution, so no range exchange is planned:
    no RangePartitioner sampling job (which would compute ``df`` a second
    time) and no second shuffle.  A grouped panel runs as its hash
    shuffle plus one result task.

    Contract: the caller declares that ``df`` is small at any scale,
    like ``F.broadcast`` on a dimension.  The coalesce has no shuffle
    of its own, so the single task also runs ``df``'s last stage — for
    an aggregate, the final merge of the partial aggregates, about
    (#map tasks × #groups) rows.  That stays small at 100 TB only when
    the group-key domain is bounded (months, statuses, nations); a
    result that grows with the scale factor keeps ``orderBy``'s range
    sort."""
    return df.coalesce(1).orderBy(*cols)
