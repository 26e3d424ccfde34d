"""operators.scale — salting correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.scale import salted_join


def test_salted_join_matches_plain_join(spark):
    # heavy-hitter key 'hot' (90% of probe rows)
    probe = spark.range(1000).select(
        F.when(F.col("id") % 10 != 0, "hot").otherwise(F.concat(F.lit("k"), "id")).alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"B{i}") for i in range(0, 1000, 10)],
        ["k", "attr"],
    )
    plain = probe.join(build, on="k").groupBy("attr").count()
    salted = salted_join(probe, build, "k", n_salts=4).groupBy("attr").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    probe = spark.createDataFrame([("a", 1), ("zzz", 2)], ["k", "v"])
    build = spark.createDataFrame([("a", "A")], ["k", "attr"])
    out = salted_join(probe, build, "k", n_salts=3, how="left").collect()
    got = {(r["k"], r["attr"]) for r in out}
    assert got == {("a", "A"), ("zzz", None)}
