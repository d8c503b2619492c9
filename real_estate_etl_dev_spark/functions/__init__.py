"""Scalar extraction library — SURVEY §2.8 (F1-F38) + §2.9 (C1-C6).

The reference's ``reid/func.py`` + ``reid/customs/*`` re-expressed as
PySpark Column builders: ~75% pure expressions (regexp/when/array
chains, JVM-side, codegen-friendly), the heuristic remainder as
Arrow-batched pandas UDFs (``udfs`` module).

Import surface: ``from real_estate_etl_dev_spark import functions as fx``.
"""

from .combinators import map_compose, map_compose_array, take_first, take_first_typed
from .core import col_of, rex
from .customs import (
    extract_publish_date,
    fa_remover,
    find_code_before_paren,
    find_years,
    get_balivillasales_price,
    lease_or_free_hold,
)
from .dates import (
    epoch_millis,
    find_published_date,
    first_month,
    get_uploaded_date,
    time_ago_to_datetime,
    to_mmddyy,
)
from .jsonio import (
    after_colon,
    extract,
    extract_latitude,
    extract_longitude,
    find_code,
    find_page_number,
    finder,
    json_value,
    parse_json,
)
from .prices import (
    check_per_meter,
    clean_price_text,
    extract_currency,
    find_idr,
    find_usd,
    fix_price,
    grab_price,
    identify_currency,
    price_request_to_zero,
    re_extract_price,
    recalculate_price_by_land_size,
)
from .proptypes import (
    any_sold_delisted,
    check_off_plan,
    define_property_type,
    find_bedrooms,
    find_contract_type,
    find_hold_state,
    find_off_plan,
    find_property_type,
    find_sold_out,
    get_contract_type,
    has_off_plan,
    is_sold,
    normalize_off_plan,
    safe_number,
    standardize_property_type,
)
from .sizes import (
    are_to_sqm,
    buildsize_extractor,
    cari_luas_tanah,
    find_build_size,
    find_land_size,
    find_size,
    landsize_extractor,
)
from .textops import (
    construct_description,
    dot_to_comma,
    find_location_in_description,
    find_location_in_title,
    get_first,
    get_icons,
    get_last,
    grab_first,
    grab_first_word,
    join_and_strip,
    max_of,
    remove_show_more_less,
    remove_whitespace,
    split_on,
    take_nth,
)
from .udfs import (
    count_lease_years_udf,
    find_bedrooms_in_description_udf,
    find_lease_years_udf,
    find_leasehold_years_bahasa,
    get_lease_years_udf,
    html_to_markdown_udf,
    lease_years_cascade,
    search_leasehold_years_udf,
    to_number_expr,
    to_number_py,
)
from .urls import dimension_remover, get_background_image, get_domain, get_img_src

__all__ = [name for name in dir() if not name.startswith("_")]
