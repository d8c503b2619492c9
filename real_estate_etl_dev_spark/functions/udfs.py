"""UDF tier — the ~25% of the reference's scalar library whose
heuristics don't reduce to single expressions (SURVEY §2.11): the
F24 lease-year mining family, F29 nearest-number bedrooms, F37
html→markdown.

All are Arrow-batched pandas UDFs (never row-at-a-time Python UDFs) —
the per-batch transfer amortizes the Python hop; at 100 TB these run
once per listing-description, not in any join/agg hot path.

F1 ``to_number`` is no UDF: :func:`to_number_expr` is one JVM-side
expression.  Its plain-Python twin :func:`to_number_py` stays here
because the lease-year UDFs call it.

Reference semantics: ``/root/reference/reid/func.py`` 18-32
(to_number), 396-447 & 499-624 (lease years), 870-881
(find_bedrooms_in_description); ``reid/spiders/balipropertiesforsale.py:24``
(html2text usage).

Year-relative math (``2045`` → years-left) takes an explicit
``current_year`` instead of the reference's ``datetime.now()`` — the
determinism requirement of SURVEY §7.4.
"""

from __future__ import annotations

import re
import sys
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DataType, DoubleType, LongType, StringType

from .core import col_of, count_char, try_double

# Executors don't necessarily have this repo on PYTHONPATH (the
# driver may own the session).  Pickling this module BY VALUE ships
# the UDF bodies inside the serialized task instead of by
# module-reference, so workers never import the package.
try:  # pragma: no cover - vendored-API availability guard
    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - fall back to by-reference pickling
    pass


# ---------------------------------------------------------------------------
# F1 to_number — plain-python core + the same rule as an expression
# ---------------------------------------------------------------------------


def to_number_py(value):
    """Indonesian-aware numeric text parse (ref func.py:18-32): strip
    commas, join digit-bearing runs, then decide whether dots are
    thousands separators (more than one dot, or >2 'decimals') or a
    decimal point.  Returns float, or None for digitless input."""
    if value is None:
        return None
    if not isinstance(value, str):
        return float(value)
    s = re.sub(",", "", value)
    runs = [r for r in re.findall(r"[0-9.]+", s) if re.search(r"\d", r)]
    if not runs:
        return None
    joined = "".join(runs)
    dots = len(re.findall(r"\.", s))
    dec = len(joined.split(".")[-1]) if dots == 1 else 0
    if dots > 1 or dec > 2:
        joined = joined.replace(".", "")
    try:
        return float(joined)
    except ValueError:
        return None


def to_number_expr(c: Column | str) -> Column:
    """:func:`to_number_py` as one JVM-side expression, for free-form
    text: the digit-bearing ``[0-9.]+`` runs are joined, and the dots
    are counted on the whole comma-stripped string.  For token-shaped
    input (``[0-9.,]+``) the join is the string itself."""
    c = col_of(c)
    s = F.regexp_replace(c, ",", "")
    runs = F.regexp_extract_all(s, F.lit(r"([0-9.]+)"), F.lit(1))
    joined = F.array_join(F.filter(runs, lambda r: r.rlike(r"\d")), "")
    dots = count_char(s, ".")
    dec = F.when(dots == 1, F.length(F.substring_index(joined, ".", -1))).otherwise(F.lit(0))
    squeezed = F.when((dots > 1) | (dec > 2), F.regexp_replace(joined, r"\.", "")).otherwise(joined)
    return F.when(joined != "", try_double(squeezed))


# ---------------------------------------------------------------------------
# F24 lease-year mining family (sentence-level heuristics)
# ---------------------------------------------------------------------------


def _sentences(text: str) -> list[str]:
    out: list[str] = []
    for para in text.split("\n"):
        out.extend(para.split("."))
    return out


def _find_lease_years_py(text, year_now: int):
    """ref func.py:499-557: per sentence gated on years/lease/price-year,
    date fragments removed, 2-or-4-digit candidates validated, shortest
    first; 4-digit ≥ now ⇒ years-remaining."""
    if text is None:
        return None
    for s in _sentences(str(text).lower()):
        if not ("years" in s or "lease" in s or re.search(r"price(.*?)(20\d{2}$)", s)):
            continue
        for d in re.findall(r"\d+/\d+/\d+", s):
            for frag in re.findall(r"\d{2}/\d{2}/", d):
                s = s.replace(frag, "")
        cands = re.findall(r"\d{2}\s{0,1}th|\d{1,2}\s{0,1}year|\b\d{2}\b|\b\d{4}\b", s)
        nums = []
        for c in cands:
            m = re.search(r"[0-9.]+", re.sub(",", ".", c))
            tok = m.group(0) if m else "00"
            ok = (len(tok) == 2 and not tok.startswith("0")) or (
                len(tok) == 4 and tok.startswith("2")
            )
            if not ok:
                continue
            v = to_number_py(tok)
            if v is None:
                continue
            v = int(v) if float(v).is_integer() else v
            if len(str(v)) in (2, 4):
                nums.append(v)
        nums.sort(key=lambda v: len(str(v)))
        if nums:
            head = nums[0]
            if len(str(head)) == 4 and int(head) >= year_now:
                return float(int(head) - year_now)
            if len(str(head)) == 2:
                return float(int(head))
    return None


def _get_lease_years_py(text, year_now: int):
    """ref func.py:560-583: whole-text candidate scan; fallback branch
    takes the min numeric run when only the word 'year' is present."""
    if text is None:
        return None
    t = str(text).lower()
    if not ("year" in t or "lease" in t or re.search(r"\d{4}", t)):
        return None
    cands = re.findall(r"\b\d{4}\b|\d{2} years|\d{2} year", t)
    digits = [re.search(r"\d{2,4}", c).group(0) for c in cands]
    digits = [d for d in digits if len(d) in (2, 4)]
    digits.sort(key=len)
    if digits:
        y = int(digits[0])
        return float(y - year_now) if len(digits[0]) == 4 else float(y)
    if "year" in t:
        runs = [r for r in re.findall(r"[0-9.,]+", t) if re.search(r"\d", r)]
        runs = [r.replace(",", ".") if "," in r else r for r in runs]
        vals = [v for v in (to_number_py(r) for r in runs) if v is not None]
        if vals:
            return float(min(vals))
    return None


def _count_lease_years_py(text, year_now: int):
    """ref func.py:407-447: per gated sentence, numeric runs purified of
    separators; 4-digit 2xxx ⇒ years-remaining, plus all bare 1-2 digit
    numbers when 'year' present; max wins."""
    if text is None:
        return None
    years: list[int] = []
    for s in _sentences(str(text).lower()):
        if "year" not in s and "lease" not in s:
            continue
        for run in re.findall(r"[0-9,.]+", s):
            s = s.replace(run, re.sub(r"[,.]", "", run))
        for y in re.findall(r"\b\d{4}\b", s):
            if y.startswith("2"):
                years.append(int(y) - year_now)
        if "year" in s:
            years.extend(int(y) for y in re.findall(r"\b\d{1,2}\b", s))
    return float(max(years)) if years else None


def _search_leasehold_years_py(text, year_now: int):
    """ref func.py:586-624: three lease-anchored patterns over gated
    lines; candidates validated (2+ digits, leading non-zero, ≤100 when
    short), string-deduped in discovery order; 4-digit ⇒ years-left."""
    if text is None:
        return []
    seen: list[str] = []
    for line in str(text).lower().split("\n"):
        if "year" not in line and "lease" not in line:
            continue
        for pat in (
            r"lease(hold)?.*?(\d{2,4})\s*",
            r"lease(hold)?.*?(\d{2})\s+year",
            r"(\s*)(\d{2,4})\s+year.*?lease",
        ):
            for m in re.findall(pat, line):
                v = m[1]
                if len(v) < 2 or v.startswith("0"):
                    continue
                if len(v) < 4 and int(v) > 100:
                    continue
                if v not in seen:
                    seen.append(v)
    return [int(v) - year_now if len(v) == 4 else int(v) for v in seen]


def _map_udf(name: str, fn, return_type: DataType):
    """A scalar pandas UDF called ``name`` that maps ``fn`` over each
    Arrow batch.  pandas is imported here, when the first UDF is built,
    so importing the engine does not load it; the hints are set as
    objects because ``pandas_udf`` reads them to pick the UDF kind."""
    import pandas as pd

    def _udf(s):
        return s.map(fn)

    _udf.__name__ = _udf.__qualname__ = name
    _udf.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_udf, return_type)


@lru_cache(maxsize=8)
def find_lease_years_udf(current_year: int):
    return _map_udf(
        "_udf", lambda t: _find_lease_years_py(t, current_year), DoubleType()
    )


@lru_cache(maxsize=8)
def get_lease_years_udf(current_year: int):
    return _map_udf(
        "_udf", lambda t: _get_lease_years_py(t, current_year), DoubleType()
    )


@lru_cache(maxsize=8)
def count_lease_years_udf(current_year: int):
    return _map_udf(
        "_udf", lambda t: _count_lease_years_py(t, current_year), DoubleType()
    )


@lru_cache(maxsize=8)
def search_leasehold_years_udf(current_year: int):
    return _map_udf(
        "_udf",
        lambda t: _search_leasehold_years_py(t, current_year),
        ArrayType(LongType()),
    )


def find_leasehold_years_bahasa(c: Column | str) -> Column:
    """Bahasa pattern ``harga … N utk/untuk M tahun`` → M
    (ref func.py:396-404).  Pure expression — the named group is
    positional group 5 in Java regex."""
    flat = F.regexp_replace(col_of(c), r"\n", " ")
    return F.regexp_extract(
        flat, r"(?i)harga(.*?)\d{1,2}(.*?)(utk|untuk)(.*?)(\d{1,2})\s*tahun", 5
    ).try_cast("double")


def lease_years_cascade(c: Column | str, current_year: int) -> Column:
    """C6 FindLeaseYears-style cascade: first strategy that answers
    wins (the reference chains them with ``or`` across spiders —
    reid/customs/dotproperty.py:22-67 pattern)."""
    c = col_of(c)
    return F.coalesce(
        find_lease_years_udf(current_year)(c),
        count_lease_years_udf(current_year)(c),
        get_lease_years_udf(current_year)(c),
        find_leasehold_years_bahasa(c),
    )


# ---------------------------------------------------------------------------
# F29 nearest-number bedrooms
# ---------------------------------------------------------------------------


def _find_bedrooms_in_description_py(text):
    """ref func.py:870-881: inside the first ``N …bedroom`` span, pick
    the number whose own ``N.*?bedroom`` span starts closest to the
    word.  ('bedroom' gate is case-sensitive there; preserved.  The
    span is found case-insensitively, so the searches inside it are
    too: a span like ``2 BEDROOM`` has no lower-case anchor.)"""
    if text is None or "bedroom" not in text:
        return None
    m = re.search(r"\b\d{1,2}.*?bedroom", text, re.IGNORECASE)
    if not m:
        return None
    seg = m.group()
    numbers = re.findall(r"\d{1,2}", seg)
    if not numbers:
        return None
    anchor = re.search(r"bedroom", seg, re.IGNORECASE).start()
    dists = []
    for n in numbers:
        hit = re.search(f"({n}).*?bedroom", seg, re.IGNORECASE)
        dists.append(anchor - hit.start() if hit else float("inf"))
    return int(numbers[dists.index(min(dists))])


@lru_cache(maxsize=1)
def _bedrooms_udf():
    return _map_udf(
        "find_bedrooms_in_description_udf",
        _find_bedrooms_in_description_py,
        LongType(),
    )


def find_bedrooms_in_description_udf(c: Column | str) -> Column:
    """F29 over a text column, as a pandas UDF built on first use."""
    return _bedrooms_udf()(c)


# ---------------------------------------------------------------------------
# F37 html → markdown-ish text
# ---------------------------------------------------------------------------


def _html_to_markdown_py(html):
    """Deterministic html → text: block tags → newlines, tags stripped,
    entities minimally decoded.  Not full markdown (the reference runs
    html2text); ``misc_extraction_cases``'s oracle goldens target
    exactly this rule, so it is the only path."""
    if html is None:
        return None
    text = re.sub(r"(?i)<\s*(br|/p|/div|/h[1-6]|/li)\s*/?>", "\n", html)
    text = re.sub(r"<[^>]+>", "", text)
    text = text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    text = text.replace("&nbsp;", " ").replace("&#39;", "'").replace("&quot;", '"')
    return re.sub(r"\n{3,}", "\n\n", text).strip()


@lru_cache(maxsize=1)
def _html_udf():
    return _map_udf("html_to_markdown_udf", _html_to_markdown_py, StringType())


def html_to_markdown_udf(c: Column | str) -> Column:
    """F37 over an html column, as a pandas UDF built on first use."""
    return _html_udf()(c)
