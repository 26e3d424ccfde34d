"""Scans, sinks, and the incremental checkpoint-resume lifecycle
(SURVEY.md §2.1, S1-S10 + §4 incremental recompute avoidance).

Plain parquet scans and publishes (S1/S5) are ``spark.read.parquet`` /
``df.write.parquet`` at the call site; this module holds only the
lifecycle around them. ``read_csv`` takes an explicit ``StructType`` —
explicit schemas at I/O boundaries are an engine rule (§4): they make
CSV reads deterministic (never ``inferSchema``'s extra pass + type
drift).

Object-store access (S9): paths are plain strings — ``s3a://`` URIs work
unchanged once ``fs.s3a.*`` is configured; ``object_store_conf`` below
sets that up and nothing here assumes a local filesystem.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# --------------------------------------------------------------------------
# Scans (S2-S3)
# --------------------------------------------------------------------------
def read_parquet_glob(spark: SparkSession, pattern: str) -> DataFrame:
    """S3: glob/multi-file union scan (checkpoint parts read as one table;
    reference: athlete_scrape_glue.py:226,341). Spark lists matching files
    once and unions them at the scan — no per-file jobs."""
    return spark.read.option("mergeSchema", "false").parquet(pattern)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S2. Explicit StructType preferred over inferSchema (SURVEY §2.1:
    inference costs an extra full read and can drift between batches)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


# --------------------------------------------------------------------------
# Object store (S9)
# --------------------------------------------------------------------------
def object_store_conf(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = True,
) -> dict[str, str]:
    """S9: configure S3A object-store access on a LIVE session (reference:
    athlete_scrape_glue.py:57-61 — endpoint/keys/path-style for a
    MinIO-compatible store).

    Runtime ``spark.conf.set("spark.hadoop.…")`` does NOT reach an
    already-started session's Hadoop configuration, so this writes the
    active ``hadoopConfiguration`` directly (effective for the next read)
    and mirrors the NON-SECRET keys under ``spark.hadoop.*`` in the
    session conf for observability (the secret key is never mirrored —
    session conf is readable via ``spark.conf.get`` and shows up in UIs
    and logs). Returns the ``fs.s3a.*`` keys it set. Classic sessions
    only: uses the ``_jsc`` gateway, which Spark Connect does not expose.
    Credentials belong in an external provider chain in production —
    explicit keys exist for endpoint-compatible local stores (MinIO),
    matching the reference's deployment."""
    conf: dict[str, str] = {
        "fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "fs.s3a.path.style.access": str(path_style_access).lower(),
    }
    if endpoint is not None:
        conf["fs.s3a.endpoint"] = endpoint
    if access_key is not None:
        conf["fs.s3a.access.key"] = access_key
    if secret_key is not None:
        conf["fs.s3a.secret.key"] = secret_key
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
        if k != "fs.s3a.secret.key":
            spark.conf.set(f"spark.hadoop.{k}", v)
    return conf


# --------------------------------------------------------------------------
# Sinks (S5-S7)
# --------------------------------------------------------------------------
def checkpoint_append(df: DataFrame, path: str) -> None:
    """S6: crash-safe incremental persist — append-mode parquet; each batch
    adds files, the consolidated read is a glob scan (S3)."""
    df.write.mode("append").parquet(path)


def compacted_write(df: DataFrame, path: str, num_files: int, mode: str = "overwrite") -> None:
    """S7: small-file compaction on publish (coalesce, reference:
    columns_renaming_reordering_glue.py:140-141). coalesce (not
    repartition): narrows without a shuffle. At 100 TB pick num_files
    from target file size (~512 MB-1 GB per file), never 1."""
    df.coalesce(num_files).write.mode(mode).parquet(path)


# --------------------------------------------------------------------------
# Incremental resume (F8/S6) + error side-channel (S10)
# --------------------------------------------------------------------------
def resume_remaining(
    spark: SparkSession,
    all_ids: DataFrame,
    checkpoint_glob: str,
    key: str,
) -> DataFrame:
    """Checkpoint-resume diff: ids not yet present in any checkpoint file
    (S6/F8; reference: athlete_scrape_glue.py:217-235,278-283 collects the
    done-set to the driver — the left_anti join form stays distributed).
    Missing/empty checkpoint dir ⇒ everything remains; any OTHER read
    failure (corrupt footer, permissions, transient store error)
    propagates — swallowing it would silently re-process the full id
    set and append duplicate checkpoint rows."""
    from pyspark.errors import AnalysisException

    try:
        done = read_parquet_glob(spark, checkpoint_glob).select(key)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in (exc.getCondition() or "") or (
            "Path does not exist" in str(exc)
        ):
            return all_ids  # no checkpoints yet (fresh run)
        raise
    return all_ids.join(done.dropDuplicates(), on=key, how="left_anti")


def split_by_tag(
    df: DataFrame, tag_col: str, tags: Sequence[str]
) -> dict[str, DataFrame]:
    """S10/F9: route one tagged stream into per-tag tables (the scraper's
    biodata/results/error demux, athlete_scrape_glue.py:298-300). Returns
    lazy filters over a shared plan — pair with ``df.persist()`` at the
    call site when the upstream is expensive, so the source computes once
    for all three sinks."""
    return {t: df.filter(F.col(tag_col) == t).drop(tag_col) for t in tags}
