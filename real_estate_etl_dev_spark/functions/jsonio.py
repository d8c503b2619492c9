"""JSON / geo / generic-regex extraction — SURVEY §2.8 F12 (see
textops), F30, F32, F36, F38.

Reference semantics: ``/root/reference/reid/func.py`` 828-837
(finder), 919-933 (json_string_to_dict), 947-950 (extract);
geo mining ``reid/spiders/dotproperty.py:129-138``,
``reid/spiders/baliexception.py:215-225``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .core import col_of, rex


def parse_json(c: Column | str, schema) -> Column:
    """Tolerant JSON parse — NULL on malformed input, exactly the
    reference's except-return-None (ref func.py:919-933).
    ``from_json`` alone turns a malformed string into a struct of
    NULLs, so the parse is guarded by ``try_parse_json``."""
    c = col_of(c)
    return F.when(F.try_parse_json(c).isNotNull(), F.from_json(c, schema))


def json_value(c: Column | str, path: str) -> Column:
    """Single-path probe without a schema (JSON-LD field grabs,
    ref reid/spiders/dotproperty.py:105-106 jmespath usage)."""
    return F.get_json_object(col_of(c), path)


def finder(c: Column | str, pattern: str, group: int = 0, dtype: str | None = None) -> Column:
    """Generic regex→group→dtype API (ref func.py:828-837): NULL on
    no-match, try_cast when a dtype is requested."""
    out = rex(c, pattern, group)
    return out.try_cast(dtype) if dtype else out


def extract(c: Column | str, pattern: str) -> Column:
    """Group-1 regex probe (ref func.py:947-950)."""
    return rex(c, pattern, 1)


def extract_latitude(c: Column | str, var: str = "lat") -> Column:
    """``lat = -8.65…`` style script-variable mining
    (ref reid/spiders/baliexception.py:215-225)."""
    return rex(c, rf"{var}\s*=\s*(-?[\d.]+)", 1).try_cast("double")


def extract_longitude(c: Column | str, var: str = "lng") -> Column:
    return rex(c, rf"{var}\s*=\s*(-?[\d.]+)", 1).try_cast("double")


def after_colon(c: Column | str) -> Column:
    """Value after the last colon (ref reid/customs/dotproperty.py:11-13)."""
    return F.trim(F.substring_index(col_of(c), ":", -1))


def find_page_number(c: Column | str) -> Column:
    """``cpage=N`` query-param miner (ref reid/customs/balitreasureproperties.py:4-9)."""
    return rex(c, r"cpage=(\d+)", 1).try_cast("long")


def find_code(c: Column | str, pattern: str = r"([A-Z]{2,}[-_]?\d+)") -> Column:
    """Listing-code grab (ref reid/customs/ubudproperty.py find_code shape)."""
    return rex(c, pattern, 1)
