"""sources.io — checkpoint-resume lifecycle and tag routing (S1-S10/F8)."""

from __future__ import annotations

from olympic_athletes_etl_spark.sources import (
    checkpoint_append,
    compacted_write,
    read_parquet,
    read_parquet_glob,
    resume_remaining,
    split_by_tag,
    write_parquet,
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
    back = read_parquet(spark, p)
    assert back.count() == 100
    files = [f for f in __import__("os").listdir(p) if f.endswith(".parquet")]
    assert len(files) == 2
    p2 = str(tmp_path / "out2")
    write_parquet(back.filter("id < 10"), p2)
    assert read_parquet(spark, p2).count() == 10


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


def test_read_jsonl_roundtrip_and_corrupt_side_channel(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from olympic_athletes_etl_spark.sources import read_jsonl, split_by_tag

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "hello world"}\n')
        f.write('{"doc_id": 2, "text": "second doc"}\n')
        f.write('{"doc_id": 3, "text": "broken\n')  # malformed line
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = read_jsonl(spark, p, schema)
    rows = df.collect()
    assert len(rows) == 3
    good = {(r["doc_id"], r["text"]) for r in rows if r["_corrupt_record"] is None}
    assert good == {(1, "hello world"), (2, "second doc")}
    # malformed line lands in the side channel with data columns nulled
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["doc_id"] is None
    # routes through the S10 splitter. cache() first: Spark refuses plans
    # whose referenced columns reduce to only the corrupt-record column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materializing the parse decouples
    # the routing query from the raw scan.
    tagged = df.cache().withColumn(
        "route",
        F.when(df["_corrupt_record"].isNotNull(), "error").otherwise("ok"),
    )
    routed = split_by_tag(tagged, "route", ["ok", "error"])
    assert routed["ok"].count() == 2 and routed["error"].count() == 1


def test_write_jsonl_roundtrip(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from olympic_athletes_etl_spark.sources import read_jsonl, write_jsonl

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema=schema)
    out = str(tmp_path / "out_jsonl")
    write_jsonl(df, out, num_files=1)
    back = read_jsonl(spark, out, schema, corrupt_col=None)
    assert {(r["doc_id"], r["text"]) for r in back.collect()} == {
        (1, "a"), (2, "b"), (3, "c")
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


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC write -> read roundtrip preserves values and schema, the
    explicit-schema read fails fast on type drift (same contract as
    read_parquet), and a filter reaches the ORC scan as a pushed
    predicate (searchArgument / PushedFilters in the formatted plan)."""
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from olympic_athletes_etl_spark.sources import read_orc, write_orc

    p = str(tmp_path / "events.orc")
    src = spark.createDataFrame(
        [(1, "view"), (2, "click"), (3, "purchase")], "id long, etype string"
    )
    write_orc(src, p)
    schema = StructType(
        [StructField("id", LongType()), StructField("etype", StringType())]
    )
    back = read_orc(spark, p, schema=schema)
    assert back.schema == schema
    assert {(r["id"], r["etype"]) for r in back.collect()} == {
        (1, "view"), (2, "click"), (3, "purchase")
    }
    # append mode accumulates files like the parquet checkpoint sink
    write_orc(src.limit(1), p, mode="append")
    assert read_orc(spark, p).count() == 4
    # predicate pushdown reaches the ORC scan
    buf = _io.StringIO()
    with redirect_stdout(buf):
        read_orc(spark, p).filter("id = 2").explain("formatted")
    txt = buf.getvalue()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,2)]" in txt
