"""Catalog queries exercising the scalar extraction library
(SURVEY §2.8 F1-F38, §2.9 C1-C6) over the deterministic listing
fixture (see ``fixtures.py``).

Oracle strategy: inputs are case-tables on ``o_orderkey % N``, so the
DuckDB side maps each case straight to its golden output — values
derived from the reference implementation
(``/root/reference/reid/func.py``) and pinned in
``tests/test_functions.py``.  The Spark side runs the real extraction
machinery; a hash match therefore proves the machinery reproduces
reference behavior on every row.

Scale: every query here is scan → project → sort-on-key.  No joins,
no aggregation, no Python in the expression tier; the UDF-tier
columns (the lease-year family, nearest-bedrooms) are Arrow-batched
pandas UDFs over one string column each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as fx
from .catalog import query
from .fixtures import CURRENT_YEAR, RUN_DATE, listing_fixture, sql_golden


def _oracle(cols: list[tuple[str, list, str | None]]) -> str:
    """SELECT key, <golden lookups> FROM orders ORDER BY key."""
    parts = ",\n           ".join(
        f"{sql_golden(golden, cast)} AS {name}" for name, golden, cast in cols
    )
    return f"""
    SELECT o_orderkey AS key,
           {parts}
    FROM orders ORDER BY key
    """


@query(
    "price_extraction_cases",
    _oracle(
        [
            ("currency", ["USD", "IDR", "IDR", None, None, None], None),
            ("usd", [1250000, None, None, None, None, None], "BIGINT"),
            ("idr", [None, None, 850000000, None, None, None], "BIGINT"),
            ("mined_price", [0, 2500000000, 0, 3500000000, 750000000, 0], "BIGINT"),
            ("per_meter", [False, False, False, False, True, False], "BOOLEAN"),
            (
                "zeroed",
                [
                    "USD 1,250,000",
                    "Rp. 2.500.000.000 nego",
                    "IDR 850,000,000",
                    "3.5 m",
                    "750 juta per meter",
                    "0",
                ],
                None,
            ),
        ]
    ),
    survey="F2,F3,F5,F6,F16,F23,F31",
)
def price_extraction_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F5/F6/F16/F31: the full price-parsing stack — currency
    ident, USD/IDR miners, Indonesian unit-multiplier extraction,
    per-meter flag, price-request zeroing (ref func.py:40-158,266-269,
    892-916)."""
    d = listing_fixture(spark, sf_dir)
    p = F.col("price_text")
    return d.select(
        "key",
        fx.identify_currency(p).alias("currency"),
        fx.find_usd(p).alias("usd"),
        fx.find_idr(p).alias("idr"),
        fx.re_extract_price(p).alias("mined_price"),
        fx.check_per_meter(p).alias("per_meter"),
        fx.price_request_to_zero(p).alias("zeroed"),
    ).orderBy("key")


@query(
    "property_type_cases",
    _oracle(
        [
            (
                "std_type",
                ["Villa", "House", "Land", "Apartment", "Boutique hotel near the beach", "Townhouse"],
                None,
            ),
            ("def_type", ["Villa", "House", "Land", "Apartment", "Hotel", "House"], None),
            ("found_type", ["Villa", "House", "Land", None, None, "House"], None),
            (
                "contract",
                ["Leasehold", "Freehold", "Leasehold", "Freehold", "Freehold", "Freehold"],
                None,
            ),
        ]
    ),
    survey="F8,F22",
)
def property_type_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F22: property-type standardization case-chains + contract
    type with Freehold default (ref func.py:161-179,651-673,849-867,
    372-382)."""
    d = listing_fixture(spark, sf_dir)
    return d.select(
        "key",
        fx.standardize_property_type("title").alias("std_type"),
        fx.define_property_type("title").alias("def_type"),
        fx.find_property_type("title").alias("found_type"),
        fx.get_contract_type("description").alias("contract"),
    ).orderBy("key")


@query(
    "size_extraction_cases",
    _oracle(
        [
            ("land_size", [500.0, 450.0, 180.0, 1250.0, None, 200.0], "DOUBLE"),
            ("build_size", [250.0, 450.0, 180.0, 1250.0, None, None], "DOUBLE"),
            ("land_gated", [5.0, None, None, 125.0, None, None], "DOUBLE"),
            ("build_gated", [None, None, None, 300.0, None, None], "DOUBLE"),
            ("are_sqm4", [500, 250, 1250, None], "BIGINT"),
        ]
    ),
    survey="F19,F25",
)
def size_extraction_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/F25: whole-text and line-gated land/build size mining, with
    the reference's are→sqm and eval-quirk semantics preserved
    (ref func.py:322-344,450-496,767-800)."""
    d = listing_fixture(spark, sf_dir)
    return d.select(
        "key",
        fx.find_land_size("description").alias("land_size"),
        fx.find_build_size("description").alias("build_size"),
        fx.landsize_extractor("description").alias("land_gated"),
        fx.buildsize_extractor("description").alias("build_gated"),
        fx.are_to_sqm("are_text").alias("are_sqm4"),
    ).orderBy("key")


@query(
    "lease_bedroom_cases",
    _oracle(
        [
            ("find_ly", [25.0, None, 19.0, None, None, None], "DOUBLE"),
            ("count_ly", [25.0, None, 19.0, None, None, None], "DOUBLE"),
            ("get_ly", [25.0, None, 1.0, None, None, None], "DOUBLE"),
            ("bahasa_ly", [None, None, None, None, None, 30.0], "DOUBLE"),
            ("cascade_ly", [25.0, None, 19.0, None, None, 30.0], "DOUBLE"),
            ("bedrooms", [None, None, 3, 4, None, None], "BIGINT"),
            ("bedrooms_near", [None, None, 3, 4, None, None], "BIGINT"),
        ]
    ),
    survey="F24,F29,C6",
)
def lease_bedroom_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24/F29/C6: the lease-year mining family (four strategies + the
    coalesce cascade) and both bedroom extractors; year math pinned to
    current_year=2026 (ref func.py:396-447,499-624,760-764,870-881;
    SURVEY §7.4 determinism note).

    The fixture is sorted BEFORE the pandas-UDF projection: the range
    sort's sampling job then reads only the fixture, and the UDFs run
    once, in the map stage after the exchange.  Projecting first would
    make the sampling job evaluate all five UDFs over every row and
    the map stage evaluate them again."""
    d = listing_fixture(spark, sf_dir).orderBy("key")
    desc = F.col("description")
    return d.select(
        "key",
        fx.find_lease_years_udf(CURRENT_YEAR)(desc).alias("find_ly"),
        fx.count_lease_years_udf(CURRENT_YEAR)(desc).alias("count_ly"),
        fx.get_lease_years_udf(CURRENT_YEAR)(desc).alias("get_ly"),
        fx.find_leasehold_years_bahasa(desc).alias("bahasa_ly"),
        fx.lease_years_cascade(desc, CURRENT_YEAR).alias("cascade_ly"),
        fx.find_bedrooms(desc).alias("bedrooms"),
        fx.find_bedrooms_in_description_udf(desc).alias("bedrooms_near"),
    )


@query(
    "date_url_cases",
    _oracle(
        [
            ("uploaded", ["12/01/23", "12/01/23", "11/01/23", None, None], None),
            (
                "img_clean",
                [
                    "https://cdn.site.com/img/2023-12-01/photo.jpg",
                    "https://cdn.site.com/20231201-a.png",
                    "https://cdn.site.com/2023/11/pic.webp",
                    "https://x.com/a.jpg",
                    "no date here",
                ],
                None,
            ),
            ("domain", ["www.example-site.com", "propertyhub.id"], None),
            ("published", ["08/15/23", "", ""], None),
            ("ago", ["01/17/26", "01/28/26", "01/01/26", "recently"], None),
        ]
    ).replace("FROM orders", ", '2025-12-01' AS month_start FROM orders"),
    survey="F7,F9,F13,F14,F27,F33",
)
def date_url_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F9/F13/F14/F27/F33: image-URL date mining with month/day
    swap, dimension stripping, domain extraction, JSON-LD publish
    date, time-ago arithmetic, and the prior-month watermark — all
    relative to the fixed RUN_DATE (ref func.py:35-37,224-259,272-285,
    627-648,884-889)."""
    d = listing_fixture(spark, sf_dir)
    return d.select(
        "key",
        fx.get_uploaded_date("img_src").alias("uploaded"),
        fx.dimension_remover("img_src").alias("img_clean"),
        fx.get_domain("url").alias("domain"),
        fx.find_published_date("script").alias("published"),
        fx.time_ago_to_datetime("time_ago_text", RUN_DATE).alias("ago"),
        fx.first_month(F.lit(RUN_DATE)).alias("month_start"),
    ).orderBy("key")


@query(
    "availability_text_cases",
    _oracle(
        [
            ("availability", ["Sold", "Delisted", "Available", "Available"], None),
            ("sold_flag", ["Sold", "Available", "Available", "Available"], None),
            ("grabbed", ["3", "2", "5 ", "7"], None),
            ("loc_title", ["Canggu", "Ubud", None, None, None, None], None),
            (
                "first_word",
                ["Beautiful", "Modern", "Prime", "Luxury", "Boutique", "Off"],
                None,
            ),
        ]
    ).replace(
        "FROM orders",
        ", CAST((o_orderkey % 6) IN (2, 5) AS BOOLEAN) AS off_plan FROM orders",
    ),
    survey="F10,F11,F17,F21,F28,C4",
)
def availability_text_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11/F17/F21/F28/C4: label→availability combinators, split-
    take helpers, location-in-title, off-plan detection over
    normalized title+description (ref func.py:187-221,296-299,354-369,
    684-692,736-757; models/property.py:61-68,140-153)."""
    d = listing_fixture(spark, sf_dir)
    labels = F.split("label_text", r"\|")
    return d.select(
        "key",
        fx.any_sold_delisted(labels).alias("availability"),
        fx.find_sold_out(labels).alias("sold_flag"),
        fx.grab_first("grab_text").alias("grabbed"),
        fx.find_location_in_title("title").alias("loc_title"),
        fx.grab_first_word("title").alias("first_word"),
        fx.check_off_plan("title", "description").alias("off_plan"),
    ).orderBy("key")


@query(
    "number_parse_cases",
    _oracle(
        [
            ("parsed", [1250000.0, 2500000000.0, 12345.0, 3.5, None], "DOUBLE"),
            ("fixed", [1250000.0, 2500000000.0, 12.345, 3.5, None], "DOUBLE"),
            ("safe", [3.0, 2.57, None, 4.5], "DOUBLE"),
        ]
    ),
    survey="F1,F4,F18",
)
def number_parse_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F4/F18: to_number heuristic (one JVM-side expression), fix_price
    comma/dot disambiguation, safe_number rounding
    (ref func.py:18-32,99-112,302-319)."""
    d = listing_fixture(spark, sf_dir)
    return d.select(
        "key",
        fx.to_number_expr("num_text").alias("parsed"),
        fx.fix_price("num_text").alias("fixed"),
        fx.safe_number("safe_num_text").alias("safe"),
    ).orderBy("key")


@query(
    "geo_extraction_cases",
    _oracle(
        [
            ("lat", [None, -8.6478, None], "DOUBLE"),
            ("lng", [None, 115.1385, None], "DOUBLE"),
        ]
    ).replace(
        "FROM orders", ", CAST(o_orderkey AS BIGINT) AS url_key FROM orders"
    ),
    survey="F30,F38",
)
def geo_extraction_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F30/F38: script-variable lat/lng mining + the generic
    finder API (here re-deriving the key from the url tail — the
    round-trip proves group/dtype handling)
    (ref func.py:828-837; reid/spiders/baliexception.py:215-225)."""
    d = listing_fixture(spark, sf_dir)
    return d.select(
        "key",
        fx.extract_latitude("script").alias("lat"),
        fx.extract_longitude("script").alias("lng"),
        fx.finder("url", r"/(\d+)$", 1, "long").alias("url_key"),
    ).orderBy("key")


# --- misc: the previously pytest-only scalars, driver-visible --------------

MISC_ICON_TEXTS = [
    "Land Size: 200 m2|Bedrooms: 3",
    "Pool: Yes",
    "Building Size: 150 m2|Bath Rooms: 2",
    "Status: Sold",
]
MISC_LINE_TEXTS = [
    "  First line |  | second  ",
    "Only line",
    " a | b | c ",
    "x||y",
]
MISC_SPLIT_TEXTS = ["A - B - C", "NoSep", "x-y", " left - right "]
MISC_MAX_TEXTS = ["3|7|5", "a|c|b", "10|9", "z"]
MISC_RECALC = [
    ("IDR 50,000,000 /are", 50_000_000, 500.0),
    ("USD 1000 /m2", 1_000, 200.0),
    ("2 juta/are nego", 2_000_000, 0.0),
    ("5jt /are", 5_000_000, 250.0),
]
MISC_FA_TEXTS = ["fas fa-bed", "icon fa-swimming-pool", "fa fa-car", "plain"]
MISC_LEASE_TEXTS = ["For lease", "For sale", "Unknown", ""]
MISC_BVS_TEXTS = [
    "IDR 5000000000/25 years",
    "USD 350000/30 years",
    "sold",
    "USD 500000",
]
MISC_YEAR_TEXTS = [
    "lease until 2045",
    "25 th remaining",
    "built in 1995",
    "expires 2020",
]
MISC_CODE_TEXTS = [
    "VIL123 (Canggu)",
    "no code here",
    "AB-9 (Ubud) (x)",
    "(starts paren)",
]
MISC_PUBDATE_TEXTS = ["img_20231115_x.jpg", "99999999", "20240229 leap", "nope"]
MISC_DATE_TEXTS = ["2024-01-15", "2023-12-31", "bad", "2026-07-04"]
MISC_TS_TEXTS = [
    "2024-01-02 03:04:05.123",
    "1970-01-01 00:00:00",
    "2001-09-09 01:46:40",
    "1969-12-31 23:59:59",
]
MISC_HTML_TEXTS = [
    "<p>Hello <b>world</b></p>",
    "<div>Line1<br>Line2</div>",
    "Tom &amp; Jerry",
    "",
]

# Golden outputs per case (validated against the reference semantics
# in reid/func.py / reid/customs/*; anchored by tests/test_functions.py).
_MISC_GOLDENS: list[tuple[str, list, str | None]] = [
    (
        "icons_json",
        [
            '{"land_size":"200 ","bedrooms":"3"}',
            '{"pool":"yes"}',
            '{"building_size":"150 ","bath_rooms":"2"}',
            '{"status":"sold"}',
        ],
        None,
    ),
    (
        "description_built",
        ["First line\nsecond", "Only line", "a\nb\nc", "x\ny"],
        None,
    ),
    (
        "joined_stripped",
        ["First line, second", "Only line", "a, b, c", "x, y"],
        None,
    ),
    ("split_head", ["A", "NoSep", "x", "left"], None),
    ("split_tail", ["C", "NoSep", "y", "right"], None),
    ("nth1", ["", None, "b", ""], None),
    ("max_val", ["7", "c", "9", "z"], None),
    ("recalc_price_out", [250000000.0, None, None, 12500000.0], "DOUBLE"),
    ("fa_icon", ["bed", "swimming-pool", "car", "plain"], None),
    ("lease_hold", ["Leasehold", "Freehold", "Unknown", ""], None),
    ("bvs_idr", ["idr 5000000000", None, None, None], None),
    ("bvs_usd", [None, "usd 350000", None, "usd 500000"], None),
    ("bvs_lease", ["25 years", "30 years", None, None], None),
    ("bvs_avail", ["Available", "Available", "Sold", "Available"], None),
    ("lease_years_found", [19.0, 25.0, None, None], "DOUBLE"),
    ("listing_code", ["VIL123", "", "AB-9", ""], None),
    (
        "publish_date",
        ["2023-11-15 00:00:00", None, "2024-02-29 00:00:00", None],
        None,
    ),
    ("mmddyy", ["01/15/24", "12/31/23", None, "07/04/26"], None),
    ("epoch_ms", [1704164645123, 0, 1000000000000, -1000], "BIGINT"),
    ("html_md", ["Hello world", "Line1\nLine2", "Tom & Jerry", ""], None),
]


def _misc_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import pick
    from ..sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    )
    k = F.col("key")
    recalc_text = pick(k, [t for t, _, _ in MISC_RECALC])
    recalc_price = F.element_at(
        F.array(*[F.lit(p) for _, p, _ in MISC_RECALC]),
        (k % 4).cast("int") + 1,
    )
    recalc_land = F.element_at(
        F.array(*[F.lit(s) for _, _, s in MISC_RECALC]),
        (k % 4).cast("int") + 1,
    )
    return orders.select(
        "key",
        F.split(pick(k, MISC_ICON_TEXTS), r"\|").alias("icon_lines"),
        F.split(pick(k, MISC_LINE_TEXTS), r"\|").alias("desc_lines"),
        pick(k, MISC_SPLIT_TEXTS).alias("split_text"),
        F.split(pick(k, MISC_MAX_TEXTS), r"\|").alias("max_vals"),
        recalc_text.alias("recalc_text"),
        recalc_price.alias("recalc_price"),
        recalc_land.alias("recalc_land"),
        pick(k, MISC_FA_TEXTS).alias("fa_text"),
        pick(k, MISC_LEASE_TEXTS).alias("lease_text"),
        pick(k, MISC_BVS_TEXTS).alias("bvs_text"),
        pick(k, MISC_YEAR_TEXTS).alias("year_text"),
        pick(k, MISC_CODE_TEXTS).alias("code_text"),
        pick(k, MISC_PUBDATE_TEXTS).alias("pub_text"),
        pick(k, MISC_DATE_TEXTS).alias("date_text"),
        pick(k, MISC_TS_TEXTS).cast("timestamp").alias("ts"),
        pick(k, MISC_HTML_TEXTS).alias("html"),
    )


@query(
    "misc_extraction_cases",
    _oracle(_MISC_GOLDENS),
    survey="F12,F20,F26,F35,F36,F37,C3,C5",
)
def misc_extraction_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F20/F26/F35/F36/F37 + C3/C5: the scalars that were
    pytest-only in r02, as one oracle-backed case battery
    (VERDICT r02 item 4) — icon-map parsing, description assembly,
    join/split/take/max combinators, /are price recalc, the per-site
    customs micro-parsers, epoch-millis export math, and the
    html→text UDF (the golden targets its one deterministic regex
    rule in functions/udfs.py, not the reference's html2text).

    Scale: scan → project → sort; the single pandas_udf column is
    Arrow-batched (ref reid/func.py:215-221,347-351,803-825,729-733,
    695-726; reid/customs/*.py; models/listing.py:177-180)."""
    d = _misc_fixture(spark, sf_dir)
    bvs = fx.get_balivillasales_price("bvs_text")
    return d.select(
        "key",
        F.to_json(fx.get_icons("icon_lines")).alias("icons_json"),
        fx.construct_description("desc_lines").alias("description_built"),
        fx.join_and_strip("desc_lines", ", ").alias("joined_stripped"),
        fx.split_on("split_text", "-", 0).alias("split_head"),
        fx.split_on("split_text", "-", -1).alias("split_tail"),
        fx.take_nth("desc_lines", 1).alias("nth1"),
        fx.max_of("max_vals").alias("max_val"),
        fx.recalculate_price_by_land_size(
            "recalc_text", "recalc_price", "recalc_land"
        ).alias("recalc_price_out"),
        fx.fa_remover("fa_text").alias("fa_icon"),
        fx.lease_or_free_hold("lease_text").alias("lease_hold"),
        bvs.getField("idr").alias("bvs_idr"),
        bvs.getField("usd").alias("bvs_usd"),
        bvs.getField("lease_years").alias("bvs_lease"),
        bvs.getField("availability").alias("bvs_avail"),
        fx.find_years("year_text", CURRENT_YEAR).alias("lease_years_found"),
        fx.find_code_before_paren("code_text").alias("listing_code"),
        F.date_format(
            fx.extract_publish_date("pub_text"), "yyyy-MM-dd HH:mm:ss"
        ).alias("publish_date"),
        fx.to_mmddyy("date_text").alias("mmddyy"),
        fx.epoch_millis("ts").alias("epoch_ms"),
        fx.html_to_markdown_udf(F.col("html")).alias("html_md"),
    ).orderBy("key")
