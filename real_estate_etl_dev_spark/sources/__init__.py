"""Source layer: the parquet table reader and scan-stage operators."""

from .readers import TABLES, load_table
from .scans import fetch_details, html_in_json, incremental_seed, page_fanout

__all__ = [
    "TABLES",
    "load_table",
    "fetch_details",
    "html_in_json",
    "incremental_seed",
    "page_fanout",
]
