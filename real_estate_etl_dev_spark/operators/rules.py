"""Row-level rule operators — SURVEY §2.10 R1-R3, R7, R9-R11.

Reference semantics: ``/root/reference/models/listing.py:87-101``
(classify_tab), ``models/property.py:70-138`` (identify_issues),
``models/property.py:155-194`` + ``reid/settings.py:145-160``
(land zoning), ``fill_missing_sold_at.py:7-27`` (sold_at backfill),
``api/routers/tag_routes.py:159-189,212-236`` (availability/sold_at
consistency), ``models/listing.py:175-241`` (export projection),
``reid/pipelines/local.py:4-44`` (missing-fields audit).

Everything is pure column expressions: the reference's per-row Python
rules become when-cascades and array builders that run inside
whole-stage codegen.  Python truthiness ("not self.bedrooms") maps to
explicit NULL/zero/empty checks per type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import col_of

LUXURY_IDR_THRESHOLD = 78_656_000_000
LUXURY_USD_THRESHOLD = 5_000_000

ALLOWED_PROPERTY_TYPES = (
    "Villa",
    "House",
    "Land",
    "Apartment",
    "Hotel",
    "Townhouse",
    "Commercial",
    "Loft",
)

ALLOWED_CONTRACT_TYPES = ("Freehold", "Leasehold", "Rental")

# reid/settings.py:145-160 — ordered: colors take priority, and within
# each map the reference iterates insertion order ("green" before
# "dark green", so "dark green" text matches "green" first — quirk
# preserved by keeping dict order).
ZONING_COLORS = {
    "yellow": "Residential",
    "red": "Commercial",
    "pink": "Tourism",
    "green": "Agricultural",
    "dark green": "Green",
    "orange": "Sacred",
    "grey": "Industrial",
    "blue": "Special",
}

ZONING_CATEGORIES = {
    "residential": "Residential",
    "commercial": "Commercial",
    "tourism": "Tourism",
}


def _s(c: Column | str) -> Column:
    return col_of(c)


def _truthy_str(c: Column) -> Column:
    return c.isNotNull() & (c != "")


def _truthy_num(c: Column) -> Column:
    return c.isNotNull() & (c != 0)


def classify_tab_sql(price: str, currency: str, property_type: str) -> str:
    """R1: LUXURY / ALL LAND / DATA tab (ref models/listing.py:87-101)
    as SQL text over three SQL expressions, e.g. quoted column names."""
    return (
        f"CASE WHEN {price} IS NOT NULL AND {price} >= {LUXURY_IDR_THRESHOLD}"
        f" AND {currency} = 'IDR' THEN 'LUXURY LISTINGS'"
        f" WHEN {price} IS NOT NULL AND {price} >= {LUXURY_USD_THRESHOLD}"
        f" AND {currency} = 'USD' THEN 'LUXURY LISTINGS'"
        f" WHEN {property_type} = 'Land' THEN 'ALL LAND' ELSE 'DATA' END"
    )


def classify_tab(price: str, currency: str, property_type: str) -> Column:
    """:func:`classify_tab_sql` as a Column over three column names."""
    return F.expr(classify_tab_sql(price, currency, property_type))


def identify_issues(
    bedrooms: Column | str,
    price: Column | str,
    title: Column | str,
    description: Column | str,
    location: Column | str,
    build_size: Column | str,
    land_size: Column | str,
    contract_type: Column | str,
    leasehold_years: Column | str,
    availability: Column | str,
    property_type: Column | str,
    land_zoning: Column | str,
) -> Column:
    """R2: the DQ ruleset → array of issue labels in rule order
    (ref models/property.py:70-121; each rule fires at most once, so
    the reference's set-uniquify is a no-op here).

    NULL-semantics notes (Python truthiness faithfully mapped):
    ``property_type != 'Land'`` is True for NULL there (None != 'Land');
    the NOT-IN rules fire for NULL values too.
    """
    bed, p = _s(bedrooms), _s(price)
    t, d, loc = _s(title), _s(description), _s(location)
    bs, ls = _s(build_size), _s(land_size)
    ct, ly = _s(contract_type), _s(leasehold_years)
    av, pt, lz = _s(availability), _s(property_type), _s(land_zoning)

    not_land = pt.isNull() | (pt != "Land")
    rules: list[tuple[Column, str]] = [
        (_truthy_num(bed) & (bed >= 13), "has_more_than_13_bedrooms"),
        (~_truthy_num(F.coalesce(bed, F.lit(0))) & not_land, "no_bedrooms"),
        (p == 0, "no_price"),
        (~_truthy_str(F.coalesce(t, F.lit(""))) | (t == "N/A"), "no_title"),
        (~_truthy_str(F.coalesce(d, F.lit(""))), "no_description"),
        (~_truthy_str(F.coalesce(loc, F.lit(""))), "no_location"),
        (_truthy_num(bs) & _truthy_num(ls) & (bs > ls), "build_size_greater_than_land_size"),
        ((ct == "Leasehold") & ~_truthy_num(F.coalesce(ly, F.lit(0))), "no_leasehold_years"),
        (av.isNull() | (av != "Available"), "not_available"),
        (pt.isNull() | ~pt.isin(*ALLOWED_PROPERTY_TYPES), "unknown_property_type"),
        ((pt == "Land") & _truthy_num(F.coalesce(bed, F.lit(0))) & (bed > 0), "land_with_bedrooms"),
        (ct.isNull() | ~ct.isin(*ALLOWED_CONTRACT_TYPES), "unknown_contract_type"),
        ((pt == "Land") & ~_truthy_str(F.coalesce(lz, F.lit(""))), "no_land_zoning"),
    ]
    return F.array_compact(
        F.array(*[F.when(cond, F.lit(label)) for cond, label in rules])
    )


def _zoning_sentences(description: Column) -> Column:
    """models/property.py:172-182 _split_text: ':'-continuation glue,
    lowercase, split on newlines then periods."""
    txt = F.regexp_replace(description, r"\n:+\n", ":")
    txt = F.lower(F.regexp_replace(txt, r"(?<=:)\n+", " "))
    lines = F.split(txt, "\n")
    return F.flatten(F.transform(lines, lambda line: F.split(line, r"\.")))


def define_land_zoning(
    property_type: Column | str, description: Column | str
) -> Column:
    """R3: Land rows only — sentences starting with 'zoning', color map
    first then category map, first match wins
    (ref models/property.py:155-194)."""
    pt, d = _s(property_type), _s(description)
    sentences = F.filter(
        _zoning_sentences(F.coalesce(d, F.lit(""))),
        lambda s: s.rlike(r"^zoning"),
    )

    def first_match(mapping: dict[str, str]) -> Column:
        # map-iteration order == reference dict order (match priority)
        cands = [
            F.when(F.exists(sentences, lambda s: s.contains(word)), F.lit(zone))
            for word, zone in mapping.items()
        ]
        return F.coalesce(*cands)

    return F.when(
        pt == "Land", F.coalesce(first_match(ZONING_COLORS), first_match(ZONING_CATEGORIES))
    )


def backfill_sold_at(
    is_available: Column | str, sold_at: Column | str, updated_at: Column | str
) -> Column:
    """R7: unavailable rows missing sold_at get the first day of the
    month before updated_at (ref fill_missing_sold_at.py:17-27; the
    reference's manual month-1/year-rollover is exactly
    add_months(date_trunc(month), -1))."""
    ia, sa, ua = _s(is_available), _s(sold_at), _s(updated_at)
    fill = F.add_months(F.date_trunc("month", ua), -1).cast("timestamp")
    return F.when(~F.coalesce(ia, F.lit(False)) & sa.isNull(), fill).otherwise(sa)


def availability_consistency(
    availability: Column | str,
    sold_at: Column | str,
    excluded_by: Column | str,
    run_ts: str,
) -> Column:
    """R9: post-update normalizer returning
    struct(availability, sold_at, is_excluded)
    (ref api/routers/tag_routes.py:159-189,212-236):
    Sold without a date ⇒ stamp run_ts; Available ⇒ sold_at cleared;
    a sold_at set ⇒ availability forced to Sold; excluded_by nonempty
    ⇒ is_excluded."""
    av, sa, ex = _s(availability), _s(sold_at), _s(excluded_by)
    ts = F.lit(run_ts).cast("timestamp")
    new_sold_at = (
        F.when((av == "Sold") & sa.isNull(), ts)
        .when(av == "Available", F.lit(None).cast("timestamp"))
        .otherwise(sa)
    )
    new_avail = F.when(
        sa.isNotNull() & (av != "Sold") & (av != "Delisted"), "Sold"
    ).otherwise(av)
    return F.struct(
        new_avail.alias("availability"),
        (new_avail == "Available").alias("is_available"),
        new_sold_at.alias("sold_at"),
        _truthy_str(F.coalesce(ex, F.lit(""))).alias("is_excluded"),
    )


def export_projection(df: DataFrame) -> DataFrame:
    """R10 + F35: the wide spreadsheet row (ref models/listing.py:175-241):
    price routed to 'price_idr'/'price_usd' by currency, Delisted
    displayed as Sold with site_status retained, dates as epoch millis.
    (Column names are snake_case analogs of the reference's display
    headers — parquet/SQL-safe.)"""
    from ..functions.dates import epoch_millis

    cur = F.col("currency")
    delisted = F.col("availability") == "Delisted"
    return df.select(
        F.col("source").alias("source_a"),
        F.col("property_id").alias("id"),
        F.col("reid_id"),
        F.col("region"),
        F.col("location"),
        F.col("contract_type"),
        F.col("property_type"),
        F.col("leasehold_years").alias("years"),
        F.col("bedrooms"),
        F.col("bathrooms"),
        F.col("land_size").alias("land_size_sqm"),
        F.col("build_size").alias("build_size_sqm"),
        F.when(cur == "IDR", F.col("price")).alias("price_idr"),
        F.when(cur == "USD", F.col("price")).alias("price_usd"),
        F.when(delisted, F.lit("Sold")).otherwise(F.col("availability")).alias("availability"),
        F.when(delisted, F.lit("Delisted")).alias("site_status"),
        epoch_millis("sold_at").alias("sold_date_ms"),
        epoch_millis("scraped_at").alias("scrape_date_ms"),
        F.col("listed_date").alias("list_date"),
        F.col("url").alias("property_link"),
        F.col("image_url").alias("image"),
        F.col("title"),
        F.col("description"),
        F.when(F.col("is_off_plan"), F.lit("Yes")).otherwise(F.lit("No")).alias("off_plan"),
    )


REQUIRED_FIELDS = (
    "property_id",
    "listed_date",
    "title",
    "location",
    "contract_type",
    "property_type",
    "leasehold_years",
    "longitude",
    "latitude",
    "bedrooms",
    "bathrooms",
    "land_size",
    "build_size",
    "price",
    "currency",
    "image_url",
    "availability_label",
    "sold_at",
    "description",
    "is_off_plan",
)


def missing_fields_audit(df: DataFrame) -> Column:
    """R11: array of required fields that are NULL/'' on the row, with
    leasehold_years excused unless the contract is a lease and sold_at
    excused while the listing is available
    (ref reid/pipelines/local.py:4-44)."""
    checks = []
    for f_name in REQUIRED_FIELDS:
        if f_name in df.columns:
            c = F.col(f_name)
            missing = c.isNull() | (c.cast("string") == "")
        else:
            missing = F.lit(True)
        checks.append(F.when(missing, F.lit(f_name)))
    arr = F.array_compact(F.array(*checks))

    ct = F.coalesce(F.col("contract_type") if "contract_type" in df.columns else F.lit(None).cast("string"), F.lit(""))
    av = F.coalesce(
        F.col("availability_label") if "availability_label" in df.columns else F.lit(None).cast("string"),
        F.lit(""),
    )
    arr = F.when(
        ~ct.rlike("(?i)lease"), F.array_remove(arr, "leasehold_years")
    ).otherwise(arr)
    return F.when(av.rlike("(?i)available"), F.array_remove(arr, "sold_at")).otherwise(arr)
