"""operators.sketches — derandomized sketches within tolerance of exact."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kmv_cardinality_tracks_known_distincts(spark):
    from olympic_athletes_etl_spark.operators.sketches import kmv_cardinality

    df = spark.range(0, 20000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 3000).alias("v")
    )
    rows = {
        r["g"]: (r["n_exact"], r["est_distinct"])
        for r in kmv_cardinality(df, "v", group=["g"], exact=True).collect()
    }
    for g, (n, est) in rows.items():
        assert n == 1500
        assert 1500 / 3 <= est <= 1500 * 3  # well inside 4x test band


def test_cms_frequencies_upper_bounds_every_count(spark):
    from olympic_athletes_etl_spark.operators.sketches import cms_frequencies

    df = spark.range(0, 5000).select(
        F.concat(F.lit("tok"), (F.col("id") % 400).cast("string")).alias("w")
    )
    rows = cms_frequencies(df, "w", depth=4, width=128).collect()
    assert len(rows) == 400
    for r in rows:
        assert r["cms_est"] >= r["cnt"]
        # additive bound: total/width per row, min over 4 rows can only
        # tighten it; with adversarial-free uniform data stay within 2x
        assert r["cms_est"] <= r["cnt"] + 4 * (5000 // 128)


def test_hll_cardinality_tracks_known_distincts(spark):
    from olympic_athletes_etl_spark.operators.sketches import hll_cardinality

    # 5000 distinct ids, each seen 3 times — raw HLL at m=64 carries
    # ~13% stderr; assert a generous 3-sigma band plus exactness of the
    # ride-along true count.
    rows = [(i % 5000,) for i in range(15000)]
    df = spark.createDataFrame(rows, "user_id long")
    out = hll_cardinality(df, "user_id", exact=True).collect()[0]
    assert out["n_exact"] == 5000
    assert 5000 * 0.6 < out["est_distinct"] < 5000 * 1.4


def test_hll_cardinality_grouped_and_deterministic(spark):
    from olympic_athletes_etl_spark.operators.sketches import hll_cardinality

    rows = [("a", i) for i in range(2000)] + [("b", i) for i in range(100, 300)]
    df = spark.createDataFrame(rows, "g string, user_id long")
    r1 = {
        r["g"]: (r["n_exact"], r["est_distinct"])
        for r in hll_cardinality(df, "user_id", group=["g"], exact=True).collect()
    }
    r2 = {
        r["g"]: (r["n_exact"], r["est_distinct"])
        for r in hll_cardinality(df, "user_id", group=["g"], exact=True).collect()
    }
    assert r1 == r2  # same input -> bit-identical estimate
    assert r1["a"][0] == 2000 and r1["b"][0] == 200


def test_hll_estimate_monotone_under_union(spark):
    from olympic_athletes_etl_spark.operators.sketches import hll_cardinality

    # registers only ever grow, so adding rows can never shrink the
    # estimate — the property that makes HLL mergeable across partitions.
    small = spark.createDataFrame([(i,) for i in range(500)], "user_id long")
    big = spark.createDataFrame([(i,) for i in range(5000)], "user_id long")
    e_small = hll_cardinality(small, "user_id").collect()[0]["est_distinct"]
    e_big = hll_cardinality(big, "user_id").collect()[0]["est_distinct"]
    assert e_big >= e_small
