"""SCD-1 merge engine with field-level reconcile + change log —
SURVEY §2.3 J9 / §2.10 R4-R6 (the "hardest correctness surface",
§7.4).

Reference semantics (``/root/reference/models/listing.py:103-167``
``compare`` + ``reid/pipelines/property.py:96-126`` ListingPipeline):

* staging row with no current row  → INSERT (classify_tab applied)
* current row with no staging row  → carried over untouched
* both → field-by-field reconcile over 19 fields, IN REFERENCE ORDER
  (order is semantic — see the sold_at interaction below):

  - ``availability`` != 'Available' (NULL counts!)  ⇒ log change,
    force ``is_available=False`` and ``sold_at = first-of-run-month``;
    the availability VALUE itself is NOT updated (reference quirk).
    A staging 'Available' instead flows through the generic rule.
  - ``price == -1`` sentinel ⇒ keep old, nothing logged.
  - ``leasehold_years`` / ``sold_at`` ⇒ overwrite on ANY difference
    (including to NULL), logged.  Because ``sold_at`` is compared
    LAST and old values are re-read after mutation, a staging
    ``sold_at=NULL`` immediately overwrites the first-of-month stamp
    the availability branch just wrote — faithfully reproduced via
    the ``sold_at_mid`` staged value.
  - everything else: fill-if-missing / overwrite-if-different-and-
    non-empty, where "empty" is Python-falsy (NULL, 0, '', false) —
    so a price of 0 never overwrites and a false flag never fills.

The whole merge is ONE full-outer shuffle join on the key plus a
projection — no per-row probes (the reference runs 1-3 queries per
item).  At 100 TB both sides hash-partition on ``url``; AQE picks the
join strategy and splits skew.  The change log is an in-row
``array<struct<field,old,new>>`` (reference ``get_changes``), so no
second shuffle; ``explode`` it for a CDC stream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rules import classify_tab


@dataclass(frozen=True)
class FieldPolicy:
    name: str
    kind: str  # 'generic' | 'availability' | 'price' | 'overwrite_diff'
    falsy: str  # 'str' | 'num' | 'bool' | 'ts'  (Python-truthiness class)


# models/listing.py:106-126 — order matters (see module docstring).
MERGE_POLICIES: tuple[FieldPolicy, ...] = (
    FieldPolicy("price", "price", "num"),
    FieldPolicy("currency", "generic", "str"),
    FieldPolicy("availability", "availability", "str"),
    FieldPolicy("is_available", "generic", "bool"),
    FieldPolicy("is_off_plan", "generic", "bool"),
    FieldPolicy("image_url", "generic", "str"),
    FieldPolicy("description", "generic", "str"),
    FieldPolicy("location", "generic", "str"),
    FieldPolicy("leasehold_years", "overwrite_diff", "num"),
    FieldPolicy("contract_type", "generic", "str"),
    FieldPolicy("property_type", "generic", "str"),
    FieldPolicy("bedrooms", "generic", "num"),
    FieldPolicy("bathrooms", "generic", "num"),
    FieldPolicy("build_size", "generic", "num"),
    FieldPolicy("land_size", "generic", "num"),
    FieldPolicy("land_zoning", "generic", "str"),
    FieldPolicy("property_id", "generic", "str"),
    FieldPolicy("listed_date", "generic", "str"),
    FieldPolicy("sold_at", "overwrite_diff", "ts"),
)

MERGE_FIELDS = tuple(p.name for p in MERGE_POLICIES)


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


def merge_listings(
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


def change_log(merged: DataFrame, key: str = "url") -> DataFrame:
    """CDC view of a merge result: one row per (key, field, old, new)
    (reference ``get_changes``, models/listing.py:169-170)."""
    return merged.select(key, F.explode("changes").alias("chg")).select(
        key,
        F.col("chg.field").alias("field"),
        F.col("chg.old").alias("old"),
        F.col("chg.new").alias("new"),
    )


def apply_tombstones(
    current: DataFrame,
    tombstone_keys: DataFrame,
    key: str = "url",
    run_date: str = "2026-01-31",
    broadcast_tombstones: bool = True,
) -> DataFrame:
    """R6: redirect/404 delisting — rows whose key appears in
    ``tombstone_keys`` get availability='Delisted', is_available=false,
    sold_at=first-of-run-month (ref reid/spiders/lazudi.py:83-107,
    reid/spiders/base.py:14-30).  Implemented as one left join,
    not per-row UPDATEs.

    ``broadcast_tombstones`` (ADVICE r02): the default hints a
    broadcast — right for the usual small delisting batch.  Pass
    False for a bulk delisting (a whole source going dark) so the
    join falls back to a shuffled hash join under AQE instead of
    collecting an unbounded tombstone set onto the driver."""
    marks = tombstone_keys.select(F.col(key).alias("__tomb_key")).distinct()
    if broadcast_tombstones:
        marks = F.broadcast(marks)
    hit = F.col("__tomb_key").isNotNull()
    first_of_month = F.date_trunc("month", F.lit(run_date).cast("timestamp"))
    out = (
        current.join(marks, current[key] == F.col("__tomb_key"), "left")
        .withColumn(
            "availability", F.when(hit, "Delisted").otherwise(F.col("availability"))
        )
        .withColumn(
            "is_available", F.when(hit, F.lit(False)).otherwise(F.col("is_available"))
        )
        .withColumn("sold_at", F.when(hit, first_of_month).otherwise(F.col("sold_at")))
        .drop("__tomb_key")
    )
    return out


def merge_scd2(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    effective: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: ``history`` carries
    validity intervals (``valid_from``, ``valid_to`` NULL-when-open,
    ``is_current``); ``updates`` carries one new attribute tuple per
    key with an ``effective`` timestamp column.  A changed key's open
    row CLOSES (valid_to = effective, is_current = false) and a new
    open row appends; an unchanged key passes through; a brand-new key
    opens its first interval.  Closed history NEVER rewrites — the
    append-plus-close discipline that keeps a 100 TB dimension's
    history immutable (the SCD-1 engine in :func:`merge_listings`
    overwrites in place; this is its audit-grade sibling).

    Plan: closed rows pass through untouched (filter, no shuffle);
    open rows full-outer-join the updates ONCE on the key, and each
    joined row EXPLODES into its 1-or-2 output intervals via an inline
    array — no second join, no window.  Change detection is null-safe
    equality over ``attrs``.

    PRECONDITION: ``updates`` unique per key (same contract as
    merge_listings).  Returns the full new history."""
    # NULL is_current counts as CLOSED (conservative pass-through) —
    # a plain ~col filter would silently drop such rows from BOTH
    # branches and violate the full-history contract
    open_rows = history.filter(F.coalesce(F.col("is_current"), F.lit(False)))
    closed_rows = history.filter(
        ~F.coalesce(F.col("is_current"), F.lit(False))
    )

    h = open_rows.alias("h")
    u = updates.alias("u")
    joined = h.join(u, F.col(f"h.{key}") == F.col(f"u.{key}"), "full_outer")

    hk, uk = F.col(f"h.{key}"), F.col(f"u.{key}")
    changed = F.coalesce(
        ~F.struct(*[F.col(f"h.{a}") for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"u.{a}") for a in attrs])
        ),
        F.lit(False),
    )
    is_new = hk.isNull()
    has_update = uk.isNotNull()

    def interval(key_col, attr_side, vfrom, vto, current):
        return F.struct(
            key_col.alias(key),
            *[F.col(f"{attr_side}.{a}").alias(a) for a in attrs],
            vfrom.alias("valid_from"),
            vto.alias("valid_to"),
            current.alias("is_current"),
        )

    old_closed = interval(
        hk, "h", F.col("h.valid_from"), F.col(f"u.{effective}"), F.lit(False)
    )
    old_open = interval(
        hk, "h", F.col("h.valid_from"), F.lit(None).cast("timestamp"), F.lit(True)
    )
    new_open = interval(
        F.coalesce(hk, uk),
        "u",
        F.col(f"u.{effective}"),
        F.lit(None).cast("timestamp"),
        F.lit(True),
    )
    out_rows = (
        F.when(is_new, F.array(new_open))
        .when(has_update & changed, F.array(old_closed, new_open))
        .otherwise(F.array(old_open))
    )
    exploded = joined.select(F.explode(out_rows).alias("r")).select("r.*")
    return closed_rows.select(
        key, *attrs, "valid_from", "valid_to", "is_current"
    ).unionByName(exploded)
