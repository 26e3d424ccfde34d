"""Scalar helper functions (SURVEY.md §2.8) — all JVM-side expressions."""

from olympic_athletes_etl_spark.functions.text import (
    clean_separators,
    extract_group,
    parse_date_flexible,
    split_range,
)

__all__ = [
    "clean_separators",
    "extract_group",
    "parse_date_flexible",
    "split_range",
]
