"""sources.io — checkpoint-resume lifecycle and tag routing (S1-S10/F8)."""

from __future__ import annotations

from olympic_athletes_etl_spark.sources import (
    checkpoint_append,
    compacted_write,
    read_parquet_glob,
    resume_remaining,
    split_by_tag,
)


def test_checkpoint_resume_roundtrip(spark, tmp_path):
    ckpt = str(tmp_path / "checkpoints")
    all_ids = spark.range(10).withColumnRenamed("id", "k")

    # fresh run: nothing checkpointed → everything remains
    assert resume_remaining(spark, all_ids, ckpt, "k").count() == 10

    checkpoint_append(all_ids.filter("k < 4"), ckpt)
    checkpoint_append(all_ids.filter("k >= 4 and k < 7"), ckpt)

    remaining = sorted(
        r["k"] for r in resume_remaining(spark, all_ids, ckpt, "k").collect()
    )
    assert remaining == [7, 8, 9]
    # glob read unions both checkpoint batches
    assert read_parquet_glob(spark, ckpt).count() == 7


def test_write_read_compacted(spark, tmp_path):
    p = str(tmp_path / "out")
    df = spark.range(100).repartition(8)
    compacted_write(df, p, num_files=2)
    assert spark.read.parquet(p).count() == 100
    files = [f for f in __import__("os").listdir(p) if f.endswith(".parquet")]
    assert len(files) == 2


def test_split_by_tag(spark):
    df = spark.createDataFrame(
        [("bio", 1), ("res", 2), ("err", 3), ("bio", 4)], ["tag", "v"]
    )
    parts = split_by_tag(df, "tag", ["bio", "res", "err"])
    assert sorted(r["v"] for r in parts["bio"].collect()) == [1, 4]
    assert [r["v"] for r in parts["err"].collect()] == [3]
    assert parts["bio"].columns == ["v"]


def test_read_csv_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    p = str(tmp_path / "iso.csv")
    with open(p, "w") as f:
        f.write("English short name lower case,Alpha-3 code,Numeric code\n")
        f.write("Germany,DEU,276\nSouth Korea,KOR,410\n")
    schema = StructType(
        [
            StructField("English short name lower case", StringType()),
            StructField("Alpha-3 code", StringType()),
            StructField("Numeric code", IntegerType()),
        ]
    )
    from olympic_athletes_etl_spark.sources import read_csv

    df = read_csv(spark, p, schema=schema)
    rows_ = {(r[0], r[1], r[2]) for r in df.collect()}
    assert rows_ == {("Germany", "DEU", 276), ("South Korea", "KOR", 410)}
    # schema honored exactly (no inference pass)
    assert df.schema == schema
    # inference fallback also works
    assert read_csv(spark, p).count() == 2


def test_object_store_conf_reaches_live_hadoop_conf(spark):
    """S9: the helper must write the ACTIVE hadoopConfiguration (a runtime
    spark.conf.set alone would be a no-op for an already-started session)
    and mirror the keys in the session conf."""
    from olympic_athletes_etl_spark.sources import object_store_conf

    set_keys = object_store_conf(
        spark,
        endpoint="http://localhost:9000",
        access_key="ak",
        secret_key="sk",
        path_style_access=True,
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.access.key") == "ak"
    assert hconf.get("fs.s3a.secret.key") == "sk"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem"
    # mirrored for observability
    assert spark.conf.get("spark.hadoop.fs.s3a.endpoint") == "http://localhost:9000"
    assert set(set_keys) == {
        "fs.s3a.impl",
        "fs.s3a.path.style.access",
        "fs.s3a.endpoint",
        "fs.s3a.access.key",
        "fs.s3a.secret.key",
    }


def test_resume_remaining_propagates_real_read_errors(spark, tmp_path):
    # a checkpoint dir that EXISTS but fails to read (corrupt/non-parquet
    # content) must raise, not silently restart from scratch — swallowing
    # it would duplicate every already-done row on the next append.
    import pytest

    bad = tmp_path / "ckpt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    all_ids = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(Exception):
        resume_remaining(spark, all_ids, str(bad / "*.parquet"), "k").count()


def test_resume_remaining_missing_dir_returns_everything(spark, tmp_path):
    all_ids = spark.range(5).withColumnRenamed("id", "k")
    got = resume_remaining(
        spark, all_ids, str(tmp_path / "nope" / "*.parquet"), "k"
    )
    assert got.count() == 5
