"""Deterministic listing-shaped fixture over the driver's ``orders``
table, shared by the extraction-function catalog queries.

The testdata (TESTDATA.md) is TPC-H-shaped and contains no real-estate
prose, so the extraction queries synthesize it: each string column is
picked from a literal case-table keyed on ``o_orderkey % N``.  The
SAME case-tables generate both the Spark fixture and the DuckDB
oracle's input CTE, so the two sides always agree on inputs; the
oracle's OUTPUTS are an independent golden table (values derived by
exercising the reference implementation, see tests/test_functions.py).

This keeps every F-row of SURVEY §2.8 oracle-checkable at any SF:
the case-tables map keys to goldens row-by-row, so correctness holds
for 15k rows at sf0.01 or 150M rows at sf100 with zero skew — the
plan is scan → project (no shuffle except the output sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table

# --- case tables (inputs) --------------------------------------------------

PRICE_TEXTS = [
    "USD 1,250,000",
    "Rp. 2.500.000.000 nego",
    "IDR 850,000,000",
    "3.5 m",
    "750 juta per meter",
    "Price Request",
]

TITLES = [
    "Beautiful Villa in Canggu",
    "Modern family house in Ubud",
    "Prime land plot, Seminyak",
    "Luxury apartment for Sale",
    "Boutique hotel near the beach",
    "Off plan townhouse project",
]

DESCS = [
    "Leasehold villa with pool.\nLease 25 years remaining.\nLand size: 5 are\nBuilding size 250 m2",
    "Freehold land for sale.\nLand area 450 sqm total.\nzoning: yellow zone residential area",
    "Off plan project, ready 2027.\nLeasehold until 2045.\n3 bedrooms and 2 bathrooms\nBuild size 180 sqm",
    "Beautiful home.\nland size 12,5 are\nvilla 300sqm\n4 bedroom family house",
    "Sold out listing.\nNo size info here.",
    "Harga 2 M utk 30 tahun sewa.\nLuas tanah 200 m2",
]

IMG_SRCS = [
    "https://cdn.site.com/img/2023-12-01/photo.jpg",
    "https://cdn.site.com/20231201-a.png",
    "https://cdn.site.com/2023/11/pic.webp",
    "https://x.com/a-300x200.jpg",
    "no date here",
]

SCRIPTS = [
    '{"datePublished":"2023-08-15T10:30:00+08:00"}',
    "var lat = -8.6478; var lng = 115.1385;",
    "nothing embedded",
]

TIME_AGO_TEXTS = ["2 weeks ago", "3 days ago", "1 month ago", "recently"]

LABEL_TEXTS = ["sold out|featured", "delisted item|old", "new|hot", ""]

NUM_TEXTS = ["1,250,000", "2.500.000.000", "12.345", "3.5", "abc"]

SAFE_NUM_TEXTS = ["3.0", "2.567", "abc", "4.5"]

ARE_TEXTS = ["5 are", "2.5 are", "12,5 are", "450 sqm"]

GRAB_TEXTS = ["3/4", "2-3", "5 or 6", "7"]

DOMAINS = ["https://www.example-site.com/listing/", "http://propertyhub.id/v/"]

# Fixed run parameters (SURVEY §7.4: no datetime.now() in plans).
RUN_DATE = "2026-01-31"
CURRENT_YEAR = 2026


# --- Spark side ------------------------------------------------------------


def pick(key: Column, options: list[str]) -> Column:
    """options[key % len(options)] as a literal-array lookup (no UDF,
    no join — constant-folds into the projection)."""
    idx = (key % F.lit(len(options))).cast("int") + F.lit(1)
    return F.element_at(F.array(*[F.lit(o) for o in options]), idx)


def listing_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → synthetic listing rows (key + string columns)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    )
    k = F.col("key")
    return orders.select(
        "key",
        pick(k, PRICE_TEXTS).alias("price_text"),
        pick(k, TITLES).alias("title"),
        pick(k, DESCS).alias("description"),
        pick(k, IMG_SRCS).alias("img_src"),
        pick(k, SCRIPTS).alias("script"),
        pick(k, TIME_AGO_TEXTS).alias("time_ago_text"),
        pick(k, LABEL_TEXTS).alias("label_text"),
        pick(k, NUM_TEXTS).alias("num_text"),
        pick(k, SAFE_NUM_TEXTS).alias("safe_num_text"),
        pick(k, ARE_TEXTS).alias("are_text"),
        pick(k, GRAB_TEXTS).alias("grab_text"),
        F.concat(pick(k, DOMAINS), k.cast("string")).alias("url"),
    )


# --- DuckDB side -----------------------------------------------------------


def sql_lit(v) -> str:
    """Python value → DuckDB literal.  Newlines become chr(10) concat
    so the oracle string never depends on escape-mode settings."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    parts = str(v).split("\n")
    quoted = [f"""'{p.replace("'", "''")}'""" for p in parts]
    return " || chr(10) || ".join(quoted) if len(quoted) > 1 else quoted[0]


def sql_pick(expr: str, options: list) -> str:
    cases = " ".join(f"WHEN {i} THEN {sql_lit(o)}" for i, o in enumerate(options))
    return f"(CASE ({expr}) {cases} END)"


def sql_golden(options: list, cast: str | None = None) -> str:
    """Golden-output lookup on o_orderkey % N, optionally CAST so the
    oracle column type matches the Spark side exactly."""
    picked = sql_pick("o_orderkey % " + str(len(options)), options)
    return f"CAST({picked} AS {cast})" if cast else picked
