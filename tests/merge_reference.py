"""Test-only reference: the Column-API form of the SCD-1 merge kernel
that ``operators.merge.merge_listings`` had before its projection
became staged SQL (same policy table, one Column op per step).
``tests/test_merge_kernel.py`` checks the package kernel against it
row for row and schema for schema.  Not imported by the package."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_estate_etl_dev_spark.operators.merge import MERGE_FIELDS, MERGE_POLICIES
from real_estate_etl_dev_spark.operators.rules import (
    LUXURY_IDR_THRESHOLD,
    LUXURY_USD_THRESHOLD,
)


def classify_tab(p: Column, cur: Column, pt: Column) -> Column:
    return (
        F.when(p.isNotNull() & (p >= LUXURY_IDR_THRESHOLD) & (cur == "IDR"), "LUXURY LISTINGS")
        .when(p.isNotNull() & (p >= LUXURY_USD_THRESHOLD) & (cur == "USD"), "LUXURY LISTINGS")
        .when(pt == "Land", "ALL LAND")
        .otherwise("DATA")
    )


def _truthy(c: Column, falsy: str) -> Column:
    if falsy == "str":
        return c.isNotNull() & (c != "")
    if falsy == "num":
        return c.isNotNull() & (c != 0)
    if falsy == "bool":
        return F.coalesce(c, F.lit(False))
    return c.isNotNull()  # timestamps


def _change(name: str, old: Column, new: Column) -> Column:
    return F.struct(
        F.lit(name).alias("field"),
        old.cast("string").alias("old"),
        new.cast("string").alias("new"),
    )


def reference_merge_listings(
    current: DataFrame,
    staging: DataFrame,
    key: str = "url",
    run_date: str = "2026-01-31",
    staging_order_col: str | None = None,
) -> DataFrame:
    """Full-outer merge of ``staging`` into ``current``.

    PRECONDITION: ``staging`` is unique per ``key`` (the reference
    guarantees this via its in-run visited_urls set + unique url index,
    models/listing.py:28; reid/spiders/base.py).  Duplicate staging
    keys would fan out the full-outer join into conflicting output
    rows.  When the caller can't guarantee uniqueness, pass
    ``staging_order_col`` (e.g. a scraped_at timestamp): the merge
    then keeps the last-write-wins row per key — highest order value,
    deterministic under replay when the order column is unique per
    key — at the cost of one extra shuffle on the same key.

    Output: key, the 19 reconciled fields, ``tab`` (re-classified when
    inserted or changed — ref property.py:104,123-125), ``is_new``,
    ``n_changes``, and ``changes: array<struct<field,old,new>>``.
    """
    if staging_order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(F.col(staging_order_col).desc())
        staging = (
            staging.withColumn("__lww", F.row_number().over(w))
            .filter(F.col("__lww") == 1)
            .drop("__lww")
        )
    c = current.alias("c")
    s = staging.alias("s")
    # Plain equality (not <=>): the key is NOT NULL by contract
    # (models/listing.py:28 unique url), and null-safe equality would
    # defeat bucketed-layout exchange elimination (operators/layout.py).
    joined = c.join(s, F.col(f"c.{key}") == F.col(f"s.{key}"), "full_outer")

    ck = F.col(f"c.{key}")
    sk = F.col(f"s.{key}")
    is_new = ck.isNull()
    has_staging = sk.isNotNull()
    first_of_month = F.date_trunc("month", F.lit(run_date).cast("timestamp"))

    def cur(name: str) -> Column:
        return F.col(f"c.{name}")

    def stg(name: str) -> Column:
        return F.col(f"s.{name}")

    # -- staged mutations the later fields observe (reference mutates
    #    self in field order; old values are re-read per field) -------
    avail_cond = has_staging & ~is_new & ~stg("availability").eqNullSafe("Available")
    sold_at_mid = F.when(avail_cond, first_of_month).otherwise(cur("sold_at"))
    is_avail_mid = F.when(avail_cond, F.lit(False)).otherwise(cur("is_available"))

    merged: dict[str, Column] = {}
    changes: list[Column] = []

    for pol in MERGE_POLICIES:
        new_v = stg(pol.name)
        old_v = {
            "sold_at": sold_at_mid,
            "is_available": is_avail_mid,
        }.get(pol.name, cur(pol.name))
        # the generic fill-or-overwrite rule the other kinds fall back on
        generic_changed = (_truthy(new_v, pol.falsy) & ~_truthy(old_v, pol.falsy)) | (
            _truthy(new_v, pol.falsy) & _truthy(old_v, pol.falsy) & (new_v != old_v)
        )
        generic_value = F.when(generic_changed, new_v).otherwise(old_v)

        if pol.kind == "availability":
            # change logged + side effects, but the value keeps old
            # unless staging says 'Available' (then generic rule).
            changed = avail_cond | (~avail_cond & generic_changed)
            value = F.when(avail_cond, old_v).otherwise(generic_value)
        elif pol.kind == "price":
            sentinel = new_v == -1
            changed = ~sentinel & generic_changed
            value = F.when(sentinel, old_v).otherwise(generic_value)
        elif pol.kind == "overwrite_diff":
            changed = ~new_v.eqNullSafe(old_v)
            value = F.when(changed, new_v).otherwise(old_v)
        else:  # generic
            changed, value = generic_changed, generic_value

        changed = has_staging & ~is_new & F.coalesce(changed, F.lit(False))
        merged[pol.name] = (
            F.when(is_new, new_v).when(~has_staging, cur(pol.name)).otherwise(value)
        )
        changes.append(F.when(changed, _change(pol.name, old_v, new_v)))

    changes_arr = F.array_compact(F.array(*changes))
    n_changes = F.size(changes_arr).cast("long")
    any_change = n_changes > 0

    tab_now = classify_tab(
        merged["price"], merged["currency"], merged["property_type"]
    )
    has_tab = "tab" in current.columns
    old_tab = cur("tab") if has_tab else F.lit("DATA")
    tab = F.when(is_new | any_change, tab_now).otherwise(old_tab)

    out_key = F.coalesce(ck, sk).alias(key)
    return joined.select(
        out_key,
        *[merged[name].alias(name) for name in MERGE_FIELDS],
        tab.alias("tab"),
        is_new.alias("is_new"),
        n_changes.alias("n_changes"),
        changes_arr.alias("changes"),
    )
