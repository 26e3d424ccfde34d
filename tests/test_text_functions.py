"""functions.text — decision-log semantics (SURVEY.md §7).

Pinned here: nullif-wrapped regex extract (C2), bare-year date fallback
(C8), separator normalization (C1), range split (C3).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from olympic_athletes_etl_spark.functions.text import (
    DATE_PATTERN,
    clean_separators,
    extract_group,
    parse_date_flexible,
    split_range,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _vals(spark, rows, expr):
    df = spark.createDataFrame([(r,) for r in rows], ["s"])
    return [r["v"] for r in df.select(expr(F.col("s")).alias("v")).collect()]


def test_clean_separators_bullet_dash_whitespace(spark):
    out = _vals(
        spark,
        ["Tigran Gevorg•Martirosyan", "6 – 13   April", "  x  ", None],
        clean_separators,
    )
    assert out == ["Tigran Gevorg Martirosyan", "6 - 13 April", "x", None]


def test_extract_group_null_on_no_match(spark):
    out = _vals(
        spark,
        ["25 August 1946 in Kaiserslautern", "1894", "no date here", None],
        lambda c: extract_group(c, DATE_PATTERN),
    )
    assert out == ["25 August 1946", "1894", None, None]


def test_parse_date_flexible_full_and_bare_year(spark):
    out = _vals(
        spark,
        ["25 August 1946", "5 May 2000", "1894", "garbage", None],
        parse_date_flexible,
    )
    assert out == [
        datetime.date(1946, 8, 25),
        datetime.date(2000, 5, 5),
        datetime.date(1894, 1, 1),
        None,
        None,
    ]


def test_split_range(spark):
    df = spark.createDataFrame(
        [("6 - 13 April",), ("14 May - 28 October",), ("27 April",), (None,)], ["s"]
    )
    start, end = split_range(F.col("s"))
    rows = df.select(start.alias("a"), end.alias("b")).collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        ("6", "13 April"),
        ("14 May", "28 October"),
        ("27 April", None),
        (None, None),
    ]
