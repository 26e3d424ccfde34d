"""Relational operator library (SURVEY.md §2.2-2.9) — reusable
DataFrame → DataFrame functions. The inventory queries in
``plans/relational.py`` call them on the testdata tables, and the
ETL pipeline (``etl/``) reuses them."""

from olympic_athletes_etl_spark.operators.relational import (
    anti_resume,
    collect_sorted,
    dedup_subset,
    drop_if_present,
    dup_detect,
    explode_delimited,
    forward_fill,
    grouped_median_impute,
    mode_per_group,
    normalize_dim_bridge,
    null_profile,
    rename_bulk,
    surrogate_key,
    top_k_per_group,
    union_align,
    value_counts,
)

__all__ = [
    "anti_resume",
    "collect_sorted",
    "dedup_subset",
    "drop_if_present",
    "dup_detect",
    "explode_delimited",
    "forward_fill",
    "grouped_median_impute",
    "mode_per_group",
    "normalize_dim_bridge",
    "null_profile",
    "rename_bulk",
    "surrogate_key",
    "top_k_per_group",
    "union_align",
    "value_counts",
]
