"""Golden tests for the scalar function library (SURVEY §2.8/§2.9).

Expected values were derived by exercising the reference
implementation (``/root/reference/reid/func.py``) on these inputs and
hard-coding the outputs — the tests document behavior, they do not
import reference code.  Year-relative lease goldens are pinned via an
explicit ``current_year=2026`` argument (determinism, SURVEY §7.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_etl_dev_spark import functions as fx
from real_estate_etl_dev_spark.functions.udfs import _find_bedrooms_in_description_py

YEAR = 2026


def run1(spark, col_fn, values, typ="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {typ}")
    return [r[0] for r in df.select(col_fn(F.col("v")).alias("o")).collect()]


PRICE_CASES = {
    # text: (find_usd, find_idr, identify_currency, re_extract_price, per_meter)
    "USD 1,250,000": (1250000, None, "USD", 0, False),
    "Rp. 2.500.000.000 nego": (None, None, "IDR", 2500000000, False),
    "IDR 850,000,000": (None, 850000000, "IDR", 0, False),
    "3.5 m": (None, None, None, 3500000000, False),
    "750 juta per meter": (None, None, None, 750000000, True),
    "Price Request": (None, None, None, 0, False),
    "usd 975.000": (975000, None, "USD", 0, False),
    "Rp 1.2m": (None, None, "IDR", 1200000000, False),
    "450 ribu": (None, None, None, 450000, False),
    "125 juta": (None, None, None, 125000000, False),
    "USD100,000": (100000, None, "USD", 0, False),
    # NB: '\bRp\b' needs a boundary after 'Rp' — 'Rp5…' has none, so
    # no currency is identified (reference behavior).
    "Rp5.000.000": (None, None, None, 5000000, False),
    "950jt": (None, None, None, 950000000, False),
    "idr 1,100,000,000": (None, 1100000000, "IDR", 0, False),
}


def test_price_extraction(spark):
    texts = list(PRICE_CASES)
    usd = run1(spark, fx.find_usd, texts)
    idr = run1(spark, fx.find_idr, texts)
    cur = run1(spark, fx.identify_currency, texts)
    rep = run1(spark, fx.re_extract_price, texts)
    pm = run1(spark, fx.check_per_meter, texts)
    for i, t in enumerate(texts):
        assert (usd[i], idr[i], cur[i], rep[i], pm[i]) == PRICE_CASES[t], t


def test_fix_price(spark):
    cases = {
        "2.500.000.000": 2500000000.0,
        "1,250,000": 1250000.0,
        "3.5": 3.5,
        "1.234,56": 1234.56,
        "12,5": 12.5,
    }
    got = run1(spark, fx.fix_price, list(cases))
    assert got == list(cases.values())


DESCS = [
    "Leasehold villa with pool.\nLease 25 years remaining.\nLand size: 5 are\nBuilding size 250 m2",
    "Freehold land for sale.\nLand area 450 sqm total.\nzoning: yellow zone residential area",
    "Off plan project, ready 2027.\nLeasehold until 2045.\n3 bedrooms and 2 bathrooms\nBuild size 180 sqm",
    "Beautiful home.\nland size 12,5 are\nvilla 300sqm\n4 bedroom family house",
    "Sold out listing.\nNo size info here.",
    "Harga 2 M utk 30 tahun sewa.\nLuas tanah 200 m2",
]


def test_sizes(spark):
    assert run1(spark, fx.find_land_size, DESCS) == [500, 450, 180, 1250.0, None, 200]
    assert run1(spark, fx.find_build_size, DESCS) == [250, 450, 180, 1250.0, None, None]
    # reference quirk preserved: the line-gated extractor has no ×100
    # are-multiplier, and "12,5" parses as 125 there.
    assert run1(spark, fx.landsize_extractor, DESCS) == [5, None, None, 125, None, None]
    assert run1(spark, fx.buildsize_extractor, DESCS) == [None, None, None, 300, None, None]
    assert run1(spark, fx.are_to_sqm, ["5 are", "2.5 are", "12,5 are", "450 sqm"]) == [
        500,
        250,
        1250,
        None,
    ]


def test_lease_years(spark):
    assert run1(spark, fx.find_lease_years_udf(YEAR), DESCS) == [
        25.0,
        None,
        19.0,
        None,
        None,
        None,
    ]
    assert run1(spark, fx.get_lease_years_udf(YEAR), DESCS) == [
        25.0,
        None,
        1.0,
        None,
        None,
        None,
    ]
    assert run1(spark, fx.count_lease_years_udf(YEAR), DESCS) == [
        25.0,
        None,
        19.0,
        None,
        None,
        None,
    ]
    assert run1(spark, fx.search_leasehold_years_udf(YEAR), DESCS) == [
        [25],
        [],
        [19],
        [],
        [],
        [],
    ]
    assert run1(
        spark, fx.find_leasehold_years_bahasa, ["Harga 2 M utk 30 tahun sewa"]
    ) == [30.0]
    assert run1(spark, lambda c: fx.lease_years_cascade(c, YEAR), DESCS) == [
        25.0,
        None,
        19.0,
        None,
        None,
        30.0,
    ]


def test_bedrooms(spark):
    assert run1(spark, fx.find_bedrooms, DESCS) == [None, None, 3, 4, None, None]
    assert run1(spark, fx.find_bedrooms_in_description_udf, DESCS) == [
        None,
        None,
        3,
        4,
        None,
        None,
    ]
    # the first ``N …bedroom`` span is matched case-insensitively, so an
    # upper-case span must not crash the searches inside it
    text = "2 BEDROOM villa, 3 bedroom"
    assert _find_bedrooms_in_description_py(text) == 2
    assert run1(spark, fx.find_bedrooms_in_description_udf, [text, "2 BEDROOM"]) == [
        2,
        None,
    ]


TITLES = [
    "Beautiful Villa in Canggu",
    "Modern family house in Ubud",
    "Prime land plot, Seminyak",
    "Luxury apartment for Sale",
    "Boutique hotel near the beach",
    "Off plan townhouse project",
]


def test_property_types(spark):
    assert run1(spark, fx.standardize_property_type, TITLES) == [
        "Villa",
        "House",
        "Land",
        "Apartment",
        # unknown → passthrough (only ' for Sale' stripped)
        "Boutique hotel near the beach",
        "Townhouse",
    ]
    assert run1(spark, fx.define_property_type, TITLES) == [
        "Villa",
        "House",
        "Land",
        "Apartment",
        "Hotel",
        "House",
    ]
    assert run1(spark, fx.find_property_type, TITLES) == [
        "Villa",
        "House",
        "Land",
        None,
        None,
        "House",
    ]


def test_contract_and_availability(spark):
    texts = ["Leasehold 25 years", "freehold title", "villa available"]
    assert run1(spark, fx.find_contract_type, texts) == [
        "Leasehold",
        "Freehold",
        "villa available",
    ]
    assert run1(spark, fx.get_contract_type, texts) == [
        "Leasehold",
        "Freehold",
        "Freehold",
    ]
    assert run1(spark, fx.is_sold, ["SOLD", "sold", "x"]) == [
        "Sold",
        "Sold",
        "Available",
    ]
    arrs = [(["Lease hold", "SOLD OUT"],), (["for sale"],), (["delisted item"],), ([],)]
    df = spark.createDataFrame(arrs, "v array<string>")
    assert [
        r[0] for r in df.select(fx.any_sold_delisted("v").alias("o")).collect()
    ] == ["Sold", "Available", "Delisted", "Available"]
    assert [r[0] for r in df.select(fx.find_sold_out("v").alias("o")).collect()] == [
        "Sold",
        "Available",
        "Available",
        "Available",
    ]
    hold = [r[0] for r in df.select(fx.find_hold_state("v").alias("o")).collect()]
    assert [(h.is_leasehold, h.is_sold) for h in hold] == [
        (True, True),
        (False, False),
        (False, False),
        (False, False),
    ]


def test_off_plan(spark):
    df = spark.createDataFrame(
        [
            ("Off plan villa", "desc"),
            ("ok", "still off  the  plan here"),
            ("ok", "under construction now"),
            ("ok", "ready"),
        ],
        "t string, d string",
    )
    got = [
        r[0] for r in df.select(fx.check_off_plan("t", "d").alias("o")).collect()
    ]
    assert got == [True, True, True, False]


def test_dates(spark):
    srcs = [
        "https://cdn.site.com/img/2023-12-01/photo.jpg",
        "https://cdn.site.com/20231201-a.png",
        "https://cdn.site.com/2023/11/pic.webp",
        "https://cdn.site.com/2023-25-07/x.jpg",  # month>12 → swapped
        "no date here",
    ]
    assert run1(spark, fx.get_uploaded_date, srcs) == [
        "12/01/23",
        "12/01/23",
        "11/01/23",
        "07/25/23",
        None,
    ]
    assert run1(
        spark, fx.find_published_date, ['{"datePublished":"2023-08-15T10:30:00+08:00"}', "x"]
    ) == ["08/15/23", ""]
    assert run1(
        spark, lambda c: fx.time_ago_to_datetime(c, "2026-01-31"), ["2 weeks ago", "soon"]
    ) == ["01/17/26", "soon"]
    assert run1(spark, lambda c: fx.first_month(c), ["2026-08-13"]) == ["2026-07-01"]
    df = spark.createDataFrame([("2024-03-01 00:00:00",)], "v string")
    assert df.select(
        fx.epoch_millis(F.col("v").cast("timestamp")).alias("o")
    ).collect()[0][0] == 1709251200000


def test_urls(spark):
    assert run1(
        spark,
        fx.get_domain,
        ["https://www.example-site.com/listing/1", "http://propertyhub.id/v/9", "junk"],
    ) == ["www.example-site.com", "propertyhub.id", None]
    assert run1(spark, fx.dimension_remover, ["https://x.com/a-300x200.jpg", "https://x.com/b.png"]) == [
        "https://x.com/a.jpg",
        "https://x.com/b.png",
    ]
    assert run1(spark, fx.get_img_src, ["url(https://img.x/1.jpg)"]) == ["https://img.x/1.jpg"]
    assert run1(
        spark, fx.get_background_image, ["background-image:url(https://img.x/2.jpg);", "passthru"]
    ) == ["https://img.x/2.jpg", "passthru"]


def test_textops(spark):
    assert run1(spark, fx.remove_whitespace, ["  a   b\n c "]) == ["a b c"]
    assert run1(spark, fx.grab_first, ["3/4", "2-3", "1+2", "5 or 6", "7"]) == [
        "3",
        "2",
        "1",
        "5 ",
        "7",
    ]
    assert run1(spark, fx.grab_first_word, ["hello world", "  x9", ""]) == [
        "hello",
        "x9",
        None,
    ]
    assert run1(spark, fx.find_location_in_title, ["Stunning Villa in Canggu Bali"]) == [
        "Canggu"
    ]
    assert run1(
        spark, fx.find_location_in_description, ["Great villa.\nLocation: Seminyak beach"]
    ) == ["Seminyak"]
    df = spark.createDataFrame(
        [(["  line1 ", "", "  line2"],)], "v array<string>"
    )
    assert df.select(fx.construct_description("v").alias("o")).collect()[0][0] == "line1\nline2"
    icons = spark.createDataFrame(
        [(["Bedrooms: 3", "Land Size: 500 m2", "Pool : Yes"],)], "v array<string>"
    )
    got = icons.select(fx.get_icons("v").alias("o")).collect()[0][0]
    assert got == {"bedrooms": "3", "land_size": "500 ", "pool": "yes"}


def test_to_number(spark):
    cases = {
        "1,250,000": 1250000.0,
        "2.500.000.000": 2500000000.0,
        "3.5": 3.5,
        "1.25": 1.25,
        "12.345": 12345.0,  # >2 "decimals" ⇒ thousands dots
        "abc": None,
        "1.234,56": 123456.0,  # comma stripped first ⇒ 3 "decimals"
    }
    assert run1(spark, fx.to_number_expr, list(cases)) == list(cases.values())


def test_combinators(spark):
    df = spark.createDataFrame(
        [(None, "", "fallback"), ("first", "x", "y")], "a string, b string, c string"
    )
    assert [
        r[0] for r in df.select(fx.take_first("a", "b", "c").alias("o")).collect()
    ] == ["fallback", "first"]
    chain = fx.map_compose(fx.remove_whitespace, lambda c: F.upper(c))
    assert run1(spark, chain, ["  a  b "]) == ["A B"]
    assert run1(spark, lambda c: fx.split_on(c, "-", 0), ["a - b-c"]) == ["a"]
    df2 = spark.createDataFrame([(["  x ", "y", " z  "],)], "v array<string>")
    assert df2.select(fx.take_nth("v", 1).alias("o")).collect()[0][0] == "y"
    assert df2.select(fx.take_nth("v", -1).alias("o")).collect()[0][0] == "z"
    assert df2.select(fx.take_nth("v", 7).alias("o")).collect()[0][0] is None


def test_safe_number(spark):
    assert run1(spark, fx.safe_number, ["3.0", "2.567", "abc", "4", "4.5"]) == [
        3.0,
        2.57,
        None,
        4.0,
        4.5,
    ]


def test_json_geo(spark):
    script = "var lat = -8.6478; var lng = 115.1385;"
    assert run1(spark, fx.extract_latitude, [script]) == [-8.6478]
    assert run1(spark, fx.extract_longitude, [script]) == [115.1385]
    assert run1(spark, lambda c: fx.finder(c, r"ID-(\d+)", 1, "long"), ["ID-42"]) == [42]
    assert run1(spark, fx.after_colon, ["Bedrooms: 3"]) == ["3"]
