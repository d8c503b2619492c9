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
stack of projections — no per-row probes (the reference runs 1-3
queries per item).  At 100 TB both sides hash-partition on ``url``; AQE picks the
join strategy and splits skew.  The change log is an in-row
``array<struct<field,old,new>>`` (reference ``get_changes``), so no
second shuffle; ``explode`` it for a CDC stream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rules import classify_tab_sql


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


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _v(tag: str, name: str) -> str:
    """The kernel's private column ``__<tag>_<name>``, quoted."""
    return _q(f"__{tag}_{name}")


# Python truthiness per ``FieldPolicy.falsy`` class, over a SQL operand.
_TRUTHY = {
    "str": "({0} IS NOT NULL AND {0} != '')",
    "num": "({0} IS NOT NULL AND {0} != 0)",
    "bool": "coalesce({0}, false)",
    "ts": "({0} IS NOT NULL)",
}

# The fields whose old value the availability branch rewrites before
# their own rule reads it (see the module docstring).
_STAGED_OLD = ("is_available", "sold_at")


def _old(name: str) -> str:
    """The old value ``name``'s rule compares against."""
    return _v("old" if name in _STAGED_OLD else "c", name)


def _rule(pol: FieldPolicy) -> tuple[str, str]:
    """(changed, value) of one field's policy as SQL over the staged
    columns, for a row that has both a current and a staging side."""
    new, old, gc = _v("s", pol.name), _old(pol.name), _v("gc", pol.name)
    generic_value = f"CASE WHEN {gc} THEN {new} ELSE {old} END"
    if pol.kind == "availability":
        # change logged + side effects, but the value keeps old
        # unless staging says 'Available' (then generic rule).
        return (
            f"__avail OR (NOT __avail AND {gc})",
            f"CASE WHEN __avail THEN {old} ELSE {generic_value} END",
        )
    if pol.kind == "price":
        sentinel = f"{new} = -1"
        return (
            f"NOT ({sentinel}) AND {gc}",
            f"CASE WHEN {sentinel} THEN {old} ELSE {generic_value} END",
        )
    if pol.kind == "overwrite_diff":
        changed = f"NOT ({new} <=> {old})"
        return changed, f"CASE WHEN {changed} THEN {new} ELSE {old} END"
    return gc, generic_value


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

    The projection is a stack of SQL ``selectExpr`` stages, each naming
    the subexpressions the next one shares, so a build makes a few
    hundred py4j calls instead of one per Column operation.
    ``n_changes`` sums the per-field change flags, and ``changes`` is
    built from those flags only in the last stage, so a caller that
    drops it never builds the change structs.  ``run_date`` enters as a
    literal Column, never as SQL text.  Without ``staging_order_col``
    the build calls no Column method: PySpark records the Python call
    site of each one, a few py4j calls apiece.
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
    joined = c.join(s, F.expr(f"`c`.{_q(key)} = `s`.{_q(key)}"), "full_outer")

    # 1. The join's inputs under private names: a current table may
    #    carry other columns, e.g. a previous merge's outputs.
    old_tab = "`c`.`tab`" if "tab" in current.columns else "'DATA'"
    inputs = [f"`c`.{_q(key)} AS __ck", f"`s`.{_q(key)} AS __sk", f"{old_tab} AS __c_tab"]
    for side in "cs":
        inputs += [f"`{side}`.{_q(f)} AS {_v(side, f)}" for f in MERGE_FIELDS]
    df = joined.selectExpr(*inputs).withColumn("__run_date", F.lit(run_date))

    # 2. Row kind, the availability branch's condition and its sold_at
    #    stamp, the first of the run month.
    df = df.selectExpr(
        "*",
        "date_trunc('month', CAST(__run_date AS TIMESTAMP)) AS __run_month",
        "__ck IS NULL AS __is_new",
        "__sk IS NOT NULL AS __has_stg",
        "__sk IS NOT NULL AND __ck IS NOT NULL"
        f" AND NOT ({_v('s', 'availability')} <=> 'Available') AS __avail",
    )
    # 3. Staged mutations the later fields observe (the reference
    #    mutates self in field order; old values are re-read per field).
    df = df.selectExpr(
        "*",
        f"CASE WHEN __avail THEN __run_month ELSE {_v('c', 'sold_at')} END"
        f" AS {_v('old', 'sold_at')}",
        f"CASE WHEN __avail THEN false ELSE {_v('c', 'is_available')} END"
        f" AS {_v('old', 'is_available')}",
    )
    # 4. Truthiness of each field's new and old value.
    truthy = []
    for pol in MERGE_POLICIES:
        t = _TRUTHY[pol.falsy]
        truthy += [
            f"{t.format(_v('s', pol.name))} AS {_v('tn', pol.name)}",
            f"{t.format(_old(pol.name))} AS {_v('to', pol.name)}",
        ]
    df = df.selectExpr("*", *truthy)
    # 5. The generic fill-or-overwrite rule the other kinds fall back on.
    generic = []
    for n in MERGE_FIELDS:
        tn, to = _v("tn", n), _v("to", n)
        generic.append(
            f"({tn} AND NOT {to}) OR ({tn} AND {to} AND {_v('s', n)} != {_old(n)})"
            f" AS {_v('gc', n)}"
        )
    df = df.selectExpr("*", *generic)
    # 6. Per field: the logged-change flag and the merged value.
    flags_values = []
    for pol in MERGE_POLICIES:
        n = pol.name
        changed, value = _rule(pol)
        flags_values += [
            f"__has_stg AND NOT __is_new AND coalesce({changed}, false) AS {_v('chg', n)}",
            f"CASE WHEN __is_new THEN {_v('s', n)} WHEN NOT __has_stg THEN {_v('c', n)}"
            f" ELSE {value} END AS {_q(n)}",
        ]
    df = df.selectExpr("*", *flags_values)
    # 7. The change count.
    df = df.selectExpr(
        "*",
        " + ".join(f"CAST({_v('chg', n)} AS BIGINT)" for n in MERGE_FIELDS) + " AS __n",
    )
    # 8. The output; ``changes`` is read only by callers that keep it.
    changes = ", ".join(
        f"CASE WHEN {_v('chg', n)} THEN named_struct('field', '{n}',"
        f" 'old', CAST({_old(n)} AS STRING), 'new', CAST({_v('s', n)} AS STRING)) END"
        for n in MERGE_FIELDS
    )
    tab_now = classify_tab_sql(*map(_q, ("price", "currency", "property_type")))
    return df.selectExpr(
        f"coalesce(__ck, __sk) AS {_q(key)}",
        *map(_q, MERGE_FIELDS),
        f"CASE WHEN __is_new OR __n > 0 THEN {tab_now} ELSE __c_tab END AS tab",
        "__is_new AS is_new",
        "__n AS n_changes",
        f"array_compact(array({changes})) AS changes",
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
