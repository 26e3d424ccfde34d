"""Stage-I cleaning (SURVEY.md §2; reference: pandas_based/src/
data_clean.py + aws_migration/src/data_clean_glue.py).

Input tables carry the reference's raw column names (FIXTURES.md):
``raw_biodata`` (16 string cols + Athlete_Id), ``raw_results``,
``raw_editions``. Every transform is a lazy Column expression — the whole
stage compiles to one codegen'd projection per table plus the explicit
joins/windows of the affiliation normalization.

Decision-log semantics (SURVEY §7) baked in: nullif-wrapped regex
extracts, bare-year date fallback, deterministic affiliation ids,
null-safe inequality filters where pandas parity requires it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.functions.text import (
    DATE_PATTERN,
    clean_separators,
    extract_group,
    parse_date_flexible,
    split_range,
)
from olympic_athletes_etl_spark.operators.relational import (
    drop_if_present,
    explode_delimited,
    normalize_dim_bridge,
    surrogate_key,
)

#: columns the reference drops from raw biodata (data_clean.py:13-30)
BIODATA_NOISE_COLS = (
    "Nick/petnames",
    "Title(s)",
    "Other names",
    "Nationality",
    "Original name",
    "Name order",
)

#: birthplace regex — data_clean.py:91 `in\s+(.+?),\s*([A-Za-zÀ-ÿ'’\- ]+)\s*\((\w+)\)$`
BIRTHPLACE_PATTERN = r"in\s+(.+?),\s*([A-Za-zÀ-ÿ'’\- ]+)\s*\((\w+)\)$"

#: affiliation regex — data_clean.py:113-114 `^(.+?)(?:,\s*(.+?))?(?:\s*\((.+?)\))?$`
AFFILIATION_PATTERN = r"^(.+?)(?:,\s*(.+?))?(?:\s*\((.+?)\))?$"

#: games regex — data_clean.py:294 `^(\d{4})\s+(.*)$`
GAMES_PATTERN = r"^(\d{4})\s+(.*)$"


def clean_biodata(raw: DataFrame) -> DataFrame:
    """Raw biodata → silver bios: name separator cleanup, Born/Died date +
    birthplace extraction, measurement split to doubles, alive flag, role
    normalization. (data_clean.py:36-96,153-167; data_clean_glue.py:26-103.)"""
    df = drop_if_present(raw, BIODATA_NOISE_COLS)
    born_txt = extract_group("Born", DATE_PATTERN)
    died_txt = extract_group("Died", DATE_PATTERN)
    meas = F.col("Measurements")
    height_txt = extract_group(meas, r"(\d+(?:\.\d+)?)\s*cm")
    weight_txt = extract_group(meas, r"(\d+(?:\.\d+)?)\s*kg")
    return (
        df.withColumn("Name", clean_separators(F.col("Used name")))
        .withColumn("Full_Name", clean_separators(F.col("Full name")))
        .withColumn("Born_Date", parse_date_flexible(born_txt))
        .withColumn("Died_Date", parse_date_flexible(died_txt))
        .withColumn("Born_City", extract_group("Born", BIRTHPLACE_PATTERN, 1))
        # trim: the reference's greedy char-class keeps a trailing space
        # artifact ('Rheinland-Pfalz ') — we normalize it away
        .withColumn("Born_Region", F.trim(extract_group("Born", BIRTHPLACE_PATTERN, 2)))
        .withColumn("Born_Country", extract_group("Born", BIRTHPLACE_PATTERN, 3))
        .withColumn("Height_cm", height_txt.cast("double"))
        .withColumn("Weight_kg", weight_txt.cast("double"))
        .withColumn("Is_Alive", F.col("Died").isNull())
        # ' • '-separated roles → comma-joined (data_clean.py:160-166)
        .withColumn(
            "Roles",
            F.when(
                F.col("Roles").isNotNull(),
                F.array_join(
                    F.transform(
                        F.split(F.col("Roles"), r"\s*•\s*"), lambda x: F.trim(x)
                    ),
                    ",",
                ),
            ),
        )
        .drop("Used name", "Full name", "Born", "Died", "Measurements")
    )


def normalize_affiliations(bios: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Explode '/'-separated Affiliations, parse ``Club, City (CCC)``,
    build dim_affiliation + bridge_athlete_affiliation with deterministic
    contiguous ids (R1/R2; data_clean.py:97-150, data_clean_glue.py:105-195).
    The ``Club, (USA)``-style city-as-code fixup (data_clean.py:139-151):
    a parsed "city" of exactly ``(XXX)`` is really the country code.
    Divergence: the reference applies the fixup AFTER id assignment, so
    ``X, (USA)`` and a would-be-identical fixed row keep separate ids; we
    fix up BEFORE normalization so identical affiliations share one id."""
    exploded = explode_delimited(
        bios.select("Athlete_Id", "Affiliations"),
        "Affiliations",
        r"\s*/\s*",
        alias="aff",
    )
    club = extract_group("aff", AFFILIATION_PATTERN, 1)
    city = extract_group("aff", AFFILIATION_PATTERN, 2)
    country = extract_group("aff", AFFILIATION_PATTERN, 3)
    city_is_code = city.rlike(r"^\([A-Za-z]{3}\)$")
    code = F.regexp_extract(city, r"^\(([A-Za-z]{3})\)$", 1)
    parsed = exploded.select(
        "Athlete_Id",
        club.alias("Affiliation_Club"),
        F.when(city_is_code, F.lit(None)).otherwise(city).alias("Affiliation_City"),
        F.when(city_is_code, code).otherwise(country).alias("Affiliation_Country"),
    )
    dim, bridge = normalize_dim_bridge(
        parsed,
        entity_key="Athlete_Id",
        attr_cols=("Affiliation_Club", "Affiliation_City", "Affiliation_Country"),
        id_name="Affiliation_Id",
        id_start=0,
    )
    return dim, bridge


def clean_results(raw: DataFrame) -> DataFrame:
    """Raw results → silver results: Games → (Year, Games_Name), numeric
    position + tie flag from Pos (``=41``/``2T`` forms), typed columns.
    (data_clean.py:288-330; data_clean_glue.py:421-473.)"""
    year_txt = extract_group("Games", GAMES_PATTERN, 1)
    games_name = extract_group("Games", GAMES_PATTERN, 2)
    pos_num = extract_group("Pos", r"(\d+)")
    tied = F.when(
        F.col("Pos").isNotNull(),
        F.col("Pos").rlike("=.*") | F.col("Pos").rlike(r"\d+T"),
    )
    return (
        drop_if_present(raw, ("Nationality",))
        .withColumn("Year", year_txt.cast("int"))
        .withColumn("Games_Name", games_name)
        .withColumn("Position", pos_num.cast("int"))
        .withColumn("Tied", tied.cast("boolean"))
        .drop("Games", "Pos")
    )


def clean_editions(raw: DataFrame) -> DataFrame:
    """Raw editions → silver editions: drop Ancient Games, parse
    Opened/Closed (day-month + Year concat), normalize + split the
    Competition range, comments rename, deterministic Game_Id.
    (data_clean.py:339-440; data_clean_glue.py:481-570.)

    The Ancient filter uses null-safe inequality (pandas keeps NaN rows;
    SURVEY §2.2 F6 — editions Game_Type has no nulls so engines agree,
    but the semantics are pinned here, not left to luck)."""
    df = raw.filter(
        ~F.col("Game_Type").eqNullSafe("Ancient Olympic Games")
    )
    year_str = F.col("Year").cast("string")
    # concat (not concat_ws): a NULL day-month must yield a NULL date —
    # concat_ws would skip the NULL and the bare year would parse to
    # Jan 1 (pandas parity: NaN + year → NaT)
    opened = F.concat(F.trim(F.col("Opened")), F.lit(" "), year_str)
    closed = F.concat(F.trim(F.col("Closed")), F.lit(" "), year_str)
    # '6 – 13 April' → start '6 April', end '13 April' (same-month
    # shorthand: the start borrows the end's month — data_clean.py:339-355)
    comp = clean_separators(F.col("Competition"))
    comp_start_raw, comp_end_raw = split_range(comp)
    start_missing_month = comp_start_raw.rlike(r"^\d{1,2}$")
    end_month = extract_group(comp_end_raw, r"([A-Za-z]+)")
    comp_start = F.when(
        start_missing_month & comp_end_raw.isNotNull(),
        F.concat_ws(" ", comp_start_raw, end_month),
    ).otherwise(comp_start_raw)
    df = (
        df.withColumn("Opened_Date", parse_date_flexible(opened))
        .withColumn("Closed_Date", parse_date_flexible(closed))
        .withColumn(
            "Competition_Start",
            parse_date_flexible(F.concat(comp_start, F.lit(" "), year_str)),
        )
        .withColumn(
            "Competition_End",
            parse_date_flexible(F.concat(comp_end_raw, F.lit(" "), year_str)),
        )
        .withColumnRenamed("Unnamed: 7", "Comments")
    )
    df = drop_if_present(df, ("#", "Opened", "Closed", "Competition"))
    # W2: global-order surrogate key — acceptable ONLY because editions is
    # a tiny dim (~76 rows; SURVEY §4 anti-pattern note).
    return surrogate_key(df, order_by=("Year", "Game_Type", "Edition_Name"), name="Game_Id")
