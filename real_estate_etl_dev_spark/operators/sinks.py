"""Dead-letter sink frame — SURVEY §2.1 S16.

Reference semantics: ``reid/pipelines/property.py:53-66`` (dead-letter
with unique (url, error_message)).  Writes on Spark are bulk by
construction, so the sink is the deduped frame; the catalog's
``dead_letter_dedup`` certifies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dead_letter_frame(errors: DataFrame) -> DataFrame:
    """S16: dead-letter rows deduped on (url, error_message) — the
    reference's unique constraint (models/error.py:14-16) as a
    set-based dropDuplicates before append."""
    return errors.dropDuplicates(["url", "error_message"])
