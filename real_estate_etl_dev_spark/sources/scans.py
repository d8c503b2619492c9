"""Scan-stage operators — SURVEY §2.1 S1-S9.

The reference's scans are Scrapy spiders doing live HTTP.  The
engine-relevant semantics are the DATAFLOW shapes, which live here:

* S1/S3/S4 — pagination fan-out: a source manifest row (source,
  total_count, page_size) explodes into page-fetch tasks.  At scale
  the manifest is small and the fan-out is map-side (explode of a
  sequence) — repartition AFTER the explode to spread fetches.
* S2/S7    — per-URL detail fetch as a ``mapInPandas`` stage (the
  network kernel is pluggable; tests/catalog use a deterministic
  fake — no network in this container, and live HTTP doesn't belong
  in a correctness gate).
* S5/S6    — payloads that arrive as JSON (or HTML-in-JSON) are
  parsed with get_json_object/from_json + regexp extraction, all
  JVM-side.
* S8/S9    — incremental-crawl seeding: drop already-known urls with
  a left anti-join, in-run dedup with dropDuplicates BEFORE the
  fetch stage (reference keeps a visited_urls set per spider).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

try:  # pragma: no cover
    import sys

    from pyspark.cloudpickle import register_pickle_by_value

    register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


def page_fanout(
    manifest: DataFrame,
    total_col: str = "total_count",
    page_size: int = 10,
    url_template: str = "{base}?page={page}",
    base_col: str = "base_url",
) -> DataFrame:
    """S1/S3/S4: manifest → one row per page with its offset and URL
    (ref ubudproperty.py:34-67 last-page math;
    luxindoproperty.py:25-60 offset windows;
    balipropertiesforsale.py:40-76 count/12 pages)."""
    pages = F.ceil(F.col(total_col) / F.lit(page_size)).cast("int")
    out = manifest.withColumn(
        "page", F.explode(F.sequence(F.lit(1), F.greatest(pages, F.lit(1))))
    )
    url = F.replace(
        F.replace(F.lit(url_template), F.lit("{base}"), F.col(base_col)),
        F.lit("{page}"),
        F.col("page").cast("string"),
    )
    return out.withColumn("offset", (F.col("page") - 1) * page_size).withColumn(
        "page_url", url
    )


FETCH_SCHEMA = "url string, status long, body string"


def fake_fetcher(pdf_urls: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for the HTTP kernel: every URL "returns"
    a synthetic HTML page derived from its tail digits."""
    import pandas as pd

    keys = pdf_urls.str.extract(r"(\d+)$")[0].fillna("0")
    return pd.DataFrame(
        {
            "url": pdf_urls,
            "status": 200,
            "body": "<html><title>Listing " + keys + "</title><div class=\"price\">USD "
            + keys + ",000</div></html>",
        }
    )


def fetch_details(
    urls: DataFrame,
    url_col: str = "url",
    kernel: Callable[[pd.Series], pd.DataFrame] = fake_fetcher,
    partitions: int | None = None,
) -> DataFrame:
    """S2/S7: per-URL detail fetch as an Arrow-batched map stage.

    At scale: repartition the url frame so each task holds a polite
    per-domain slice; retries ride Spark task retries; the kernel is
    where cookies/proxies live (ref balihomeimmo.py:46-82)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield kernel(pdf[url_col])

    src = urls if partitions is None else urls.repartition(partitions)
    return src.select(url_col).mapInPandas(run, FETCH_SCHEMA)


def html_in_json(payload: Column | str, json_path: str = "$.html") -> Column:
    """S5: AJAX responses that wrap markup in JSON — pull the HTML
    string out (ref baliexception.py:41-102, tealestate.py:22-59);
    downstream regexp extraction stays JVM-side."""
    c = F.col(payload) if isinstance(payload, str) else payload
    return F.get_json_object(c, json_path)


def incremental_seed(
    candidates: DataFrame, known: DataFrame, url_col: str = "url"
) -> DataFrame:
    """S8+S9: in-run URL dedup then drop already-crawled urls — one
    dropDuplicates + one anti-join BEFORE the fetch stage (reference:
    per-spider visited set + a DB prefetch,
    balihomeimmo.py:23-43,91)."""
    return candidates.dropDuplicates([url_col]).join(
        known.select(url_col), url_col, "left_anti"
    )
