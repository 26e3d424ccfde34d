"""Text/date scalar helpers mirroring the reference's cleaning semantics.

Each helper is a pure Column → Column expression builder (whole-stage
codegen; no Python UDFs), implementing one parsing pattern from
SURVEY.md §2.8 with the §7 decision-log semantics:

- ``extract_group`` wraps regexp_extract with ``nullif(…, '')`` (C2:
  Spark returns '' on no-match where pandas returns NaN).
- ``parse_date_flexible`` coalesces a full-date parse with a bare-year
  fallback (C8: pandas ``format="mixed"`` parses bare ``1894``; Spark
  pattern parse would null it) — CORRECTED parser policy, never LEGACY.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: the reference's date regex — `(\d{1,2}\s+[A-Za-z]+\s+\d{4}|\d{4})`
#: (pandas_based/src/data_clean.py:72)
DATE_PATTERN = r"(\d{1,2}\s+[A-Za-z]+\s+\d{4}|\d{4})"


def clean_separators(col: Column | str, bullet_to: str = " ") -> Column:
    """Normalize the reference's separator characters: ``•`` → space (or a
    supplied replacement), em/en dashes → ``-``, collapse repeated
    whitespace, trim. (C1; data_clean.py:36-46, data_clean_glue.py:26-30,
    488.)"""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "•", bullet_to)
    c = F.regexp_replace(c, "[–—]", "-")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def extract_group(col: Column | str, pattern: str, group: int = 1) -> Column:
    """``regexp_extract`` returning NULL (not '') on no-match — pandas
    ``.str.extract`` parity (C2; SURVEY §7)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, pattern, group), F.lit(""))


def parse_date_flexible(col: Column | str) -> Column:
    """Parse ``d MMMM yyyy`` strings with a bare-year fallback
    (``1894`` → 1894-01-01) — the pandas ``format="mixed"`` semantics the
    Glue variant silently loses (C8; SURVEY §7 decision log). Uses
    try_to_date so unparseable text nulls instead of raising."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_date(c, "d MMMM yyyy"),
        F.try_to_date(c, "yyyy"),
    )


def split_range(col: Column | str, sep: str = r"\s*-\s*") -> tuple[Column, Column]:
    """Split a ``start - end`` range into (start, end); a value without the
    separator yields (value, NULL). (C3; competition ranges
    data_clean.py:358-369, data_clean_glue.py:517-527.)"""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, sep, 2)
    start = F.trim(parts.getItem(0))
    end = F.when(F.size(parts) > 1, F.trim(F.element_at(parts, 2)))
    return start, end


#: mojibake repair table — the common UTF-8-bytes-read-as-Windows-1252
#: sequences (ftfy's core fix applied as a fixed lookup so the same
#: pairs are expressible as chained `replace` in a SQL oracle).
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("Ã©", "é"),  # Ã©  -> é
    ("Ã¨", "è"),  # Ã¨  -> è
    ("Ã¡", "á"),  # Ã¡  -> á
    ("Ã³", "ó"),  # Ã³  -> ó
    ("Ã±", "ñ"),  # Ã±  -> ñ
    ("â€™", "’"),  # â€™ -> right single quote
    ("â€“", "–"),  # â€“ -> en dash
)

#: zero-width characters stripped outright (ZWSP/ZWNJ/ZWJ/BOM).
ZERO_WIDTH_CLASS = "[​‌‍﻿]"
#: non-breaking space family mapped to a plain space before collapsing.
NBSP_CLASS = "[   ]"


def repair_mojibake(col: Column | str) -> Column:
    """Chained fixed-table mojibake repair (JVM-side `replace`, codegen).
    The table is deliberately a finite lookup, not a byte-transcoding
    round-trip, so a DuckDB oracle can express the identical repair."""
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in MOJIBAKE_TABLE:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def clean_unicode(col: Column | str) -> Column:
    """Mojibake repair + zero-width strip + NBSP→space + whitespace
    collapse + trim. Everything here is JVM-side (scan-speed at 100 TB);
    NFC composition itself needs ``nfc_normalize`` (Arrow UDF) because
    Spark has no built-in UAX#15 normalizer."""
    c = repair_mojibake(col)
    c = F.regexp_replace(c, ZERO_WIDTH_CLASS, "")
    c = F.regexp_replace(c, NBSP_CLASS, " ")
    c = F.regexp_replace(c, "[ \t\r\n\f]+", " ")
    return F.trim(c)


def nfc_normalize(col: Column | str) -> Column:
    """UAX#15 NFC composition as an Arrow-batched pandas UDF — the one
    step of unicode cleaning Spark cannot express JVM-side (no built-in
    normalizer). Vectorized per Arrow batch; verified value-identical to
    DuckDB's ``nfc_normalize`` (both implement UAX#15)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)
