"""operators.relational — composite operator semantics (SURVEY.md §2.2-2.9).

The determinism decisions from §7 are what these tests pin: mode
tie-break value-ascending, exact (not approx) median, contiguous
surrogate keys, outer-aligned union, deterministic dim/bridge ids.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_mode_per_group_value_ascending_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "Swimming"), (1, "Athletics"), (1, "Swimming"),
         (2, "Judo"), (2, "Boxing")],  # tie: Boxing < Judo wins
        ["athlete", "disc"],
    )
    out = mode_per_group(df, "athlete", "disc").orderBy("athlete")
    assert rows(out, "athlete", "disc", "mode_count") == [
        (1, "Swimming", 2),
        (2, "Boxing", 1),
    ]


def test_grouped_median_impute_exact_with_fallback_and_flag(spark):
    df = spark.createDataFrame(
        [
            ("M", "Swim", 180.0), ("M", "Swim", 190.0), ("M", "Swim", None),
            ("M", "Fence", None),          # group all-null → sex fallback
            ("M", "Run", 170.0),
            ("F", "Run", None), ("F", "Run", 160.0),
        ],
        ["sex", "disc", "h"],
    )
    out = grouped_median_impute(
        df, "h", ["sex", "disc"], fallback_cols=["sex"], flag_col="h_imputed"
    )
    got = {
        (r["sex"], r["disc"], r["h"], r["h_imputed"])
        for r in out.collect()
    }
    # (M,Swim) median = 185 exact; (M,Fence) falls back to M-median of
    # non-null {180,190,170} = 180; (F,Run) → 160
    assert ("M", "Swim", 185.0, True) in got
    assert ("M", "Fence", 180.0, True) in got
    assert ("F", "Run", 160.0, True) in got
    assert ("M", "Run", 170.0, False) in got


def test_forward_fill_partitioned(spark):
    df = spark.createDataFrame(
        [(1, 0, "USA"), (1, 1, None), (1, 2, None), (1, 3, "URS"),
         (2, 0, None), (2, 1, "FIN")],
        ["ath", "seq", "noc"],
    )
    out = forward_fill(df, ["noc"], partition_by="ath", order_by="seq")
    assert rows(out.orderBy("ath", "seq"), "noc") == [
        ("USA",), ("USA",), ("USA",), ("URS",), (None,), ("FIN",)
    ]


def test_surrogate_key_contiguous_from_start(spark):
    df = spark.createDataFrame(
        [(2000, "Summer"), (1896, "Summer"), (1924, "Winter")], ["y", "e"]
    )
    out = surrogate_key(df, order_by=("y", "e"), name="id")
    assert rows(out.orderBy("id"), "id", "y") == [(1, 1896), (2, 1924), (3, 2000)]


def test_dup_detect_and_dedup_subset(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["k", "v"]
    )
    assert rows(dup_detect(df, ["k"]), "k", "dup_count") == [("a", 2)]
    kept = dedup_subset(df, ["k"])
    assert sorted(rows(kept, "k")) == [("a",), ("b",)]


def test_union_align_outer_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a_only"])
    b = spark.createDataFrame([(2, "y")], ["id", "b_only"])
    out = union_align([a, b])
    assert sorted(out.columns) == ["a_only", "b_only", "id"]
    got = {(r["id"], r["a_only"], r["b_only"]) for r in out.collect()}
    assert got == {(1, "x", None), (2, None, "y")}


def test_anti_resume(spark):
    ids = spark.range(10).withColumnRenamed("id", "k")
    done = spark.createDataFrame([(i,) for i in range(7)], ["k"])
    remaining = sorted(r["k"] for r in anti_resume(ids, done, "k").collect())
    assert remaining == [7, 8, 9]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 5), ("g1", 9), ("g1", 7), ("g2", 1)], ["g", "v"]
    )
    out = top_k_per_group(df, ["g"], [F.desc("v")], k=2)
    assert sorted(rows(out, "g", "v", "rank")) == [
        ("g1", 7, 2), ("g1", 9, 1), ("g2", 1, 1)
    ]


def test_explode_delimited_drops_null_rows(spark):
    df = spark.createDataFrame(
        [(1, "A / B"), (2, None), (3, "C")], ["id", "aff"]
    )
    out = explode_delimited(df, "aff", r"\s*/\s*")
    assert sorted(rows(out, "id", "aff")) == [(1, "A"), (1, "B"), (3, "C")]


def test_normalize_dim_bridge_deterministic_ids(spark):
    df = spark.createDataFrame(
        [(10, "ClubB", "Paris"), (11, "ClubA", "Lyon"), (12, "ClubB", "Paris")],
        ["ath", "club", "city"],
    )
    dim, bridge = normalize_dim_bridge(
        df, entity_key="ath", attr_cols=("club", "city"), id_name="aid", id_start=0
    )
    # ids assigned in (club, city) sort order, contiguous from 0
    assert rows(dim.orderBy("aid"), "aid", "club") == [(0, "ClubA"), (1, "ClubB")]
    assert sorted(rows(bridge, "ath", "aid")) == [(10, 1), (11, 0), (12, 1)]


def test_null_profile_value_counts_collect_sorted(spark):
    df = spark.createDataFrame(
        [("x", None), ("x", "b"), ("y", "a"), ("y", "a")], ["g", "v"]
    )
    prof = null_profile(df, ["v"]).collect()[0]
    assert prof["v"] == 25.0
    vc = sorted(rows(value_counts(df, "g"), "g", "count"))
    assert vc == [("x", 2), ("y", 2)]
    cs = rows(collect_sorted(df, "g", "v").orderBy("g"), "g", "v_list")
    assert cs == [("x", "b"), ("y", "a")]


def test_drop_if_present_and_rename_bulk(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    assert drop_if_present(df, ["b", "zzz"]).columns == ["a", "c"]
    out = rename_bulk(df, {"c": "gold_c", "a": "gold_a"})
    assert out.columns == ["gold_c", "gold_a", "b"]


def test_merge_upsert(spark):
    from olympic_athletes_etl_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21, False),   # update
         (4, "d", 40, False),    # insert
         (3, None, 0, True)],    # delete
        "k int, name string, v int, is_delete boolean",
    )
    out = merge_upsert(target, updates, ["k"], delete_col="is_delete")
    assert sorted(rows(out, "k", "name", "v")) == [
        (1, "a", 10), (2, "b2", 21), (4, "d", 40)
    ]
    # without delete_col, flagged rows are kept as plain upserts
    out2 = merge_upsert(target, updates.drop("is_delete"), ["k"])
    assert sorted(r[0] for r in rows(out2, "k")) == [1, 2, 3, 4]


def test_mode_per_group_ignores_null_values(spark):
    # pandas mode() drops NaN: a group where NULL is most frequent must
    # still return the most frequent NON-NULL value (the asc tie-break
    # would otherwise crown NULL, which sorts first).
    df = spark.createDataFrame(
        [("g", None), ("g", None), ("g", "A"), ("g", "A"), ("g", "B")],
        "grp: string, v: string",
    )
    [row] = mode_per_group(df, "grp", "v").collect()
    assert row["v"] == "A" and row["mode_count"] == 2


def test_grouped_median_impute_null_group_takes_fallback(spark):
    # pandas groupby(dropna=True): a row with a NULL group key is NOT
    # imputed from the NULL-key cohort — it falls through to the
    # coarser fallback grouping.
    df = spark.createDataFrame(
        [
            ("M", "Judo", 180.0),
            ("M", None, 150.0),
            ("M", None, None),
            ("M", "Ski", 170.0),
        ],
        "sex: string, disc: string, h: double",
    )
    got = grouped_median_impute(
        df, "h", group_cols=["sex", "disc"], fallback_cols=["sex"]
    )
    [imputed] = got.filter(F.col("disc").isNull() & (F.col("h") != 150.0)).collect()
    assert imputed["h"] == 170.0  # per-sex median of (180, 150, 170)


def test_normalize_dim_bridge_links_null_attr_tuples(spark):
    # the most common affiliation shape is (club, NULL city, NULL
    # country) — dropDuplicates puts the tuple in the dim, and the
    # bridge join must be null-safe to link it (null != null otherwise).
    df = spark.createDataFrame(
        [(1, "Club A", None, None), (2, "Club A", None, None),
         (3, "Club B", "Oslo", "NOR")],
        "eid: long, club: string, city: string, country: string",
    )
    dim, bridge = normalize_dim_bridge(
        df, entity_key="eid", attr_cols=("club", "city", "country"),
        id_name="aid",
    )
    rows = {r["eid"]: r["aid"] for r in bridge.collect()}
    assert None not in rows.values()  # every entity links
    assert rows[1] == rows[2] != rows[3]


def test_explode_delimited_drops_empty_elements(spark):
    df = spark.createDataFrame(
        [(1, "A / B /"), (2, "/C"), (3, None)], "k: long, s: string"
    )
    got = sorted(
        (r["k"], r["e"])
        for r in explode_delimited(df, "s", r"\s*/\s*", alias="e").collect()
    )
    assert got == [(1, "A"), (1, "B"), (2, "C")]


@pytest.fixture(scope="module")
def null_and_space_fixture(sf_dir, tmp_path_factory):
    """sf_dir's events and part with the two input shapes the testdata
    lacks: NULL ``event_type`` as a group's most frequent value, and
    doubled, leading and trailing spaces in ``p_name``."""
    import duckdb

    fix = str(tmp_path_factory.mktemp("null_space"))
    con = duckdb.connect()
    events = f"read_parquet('{sf_dir}/events.parquet')"
    lo, hi = con.sql(f"SELECT min(user_id), max(user_id) FROM {events}").fetchone()
    first = con.sql(f"SELECT min(event_id) FROM {events} WHERE user_id = {hi}").fetchone()[0]
    # one user's events all NULL, another's NULL but for its first event
    con.execute(
        f"""COPY (
          SELECT * REPLACE (CASE WHEN user_id = {lo}
                                   OR (user_id = {hi} AND event_id > {first})
                                 THEN NULL ELSE event_type END AS event_type)
          FROM {events}
        ) TO '{fix}/events.parquet' (FORMAT parquet)"""
    )
    con.execute(
        f"""COPY (
          SELECT * REPLACE (CASE p_partkey % 3
                              WHEN 0 THEN '  ' || replace(p_name, ' ', '  ') || ' '
                              WHEN 1 THEN ' ' || p_name
                              ELSE p_name END AS p_name)
          FROM read_parquet('{sf_dir}/part.parquet')
        ) TO '{fix}/part.parquet' (FORMAT parquet)"""
    )
    return fix


@pytest.mark.parametrize("name", ["a_mode_per_group", "r_explode_split"])
def test_oracle_states_library_semantics(spark, null_and_space_fixture, name):
    """a_mode_per_group never returns a NULL mode (pandas ``mode()`` drops
    NaN) and r_explode_split yields no empty words from doubled or edge
    spaces (post-split dropna): on a fixture with both input shapes,
    each query equals its DuckDB oracle."""
    from collections import Counter

    import duckdb

    from olympic_athletes_etl_spark.plans import oracle_sql, queries

    fix = null_and_space_fixture
    con = duckdb.connect()
    for t in ("events", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fix}/{t}.parquet')")
    df = queries()[name](spark, fix)
    cols = sorted(df.columns)
    got = Counter(tuple(r) for r in df.select(*cols).collect())
    want = Counter(
        con.sql(f"SELECT {', '.join(cols)} FROM ({oracle_sql()[name]})").fetchall()
    )
    assert got == want
