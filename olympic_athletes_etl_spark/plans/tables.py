"""Testdata table access.

One place that knows the driver's table layout (TESTDATA.md): one parquet
file per table under ``{sf_dir}/{name}.parquet``. Reads go through
``spark.read.parquet`` so Catalyst gets parquet column pruning + predicate
pushdown for free; we deliberately do NOT cache here — each query declares
its own plan end-to-end so ``.explain()`` shows the real scan.

``events.ts`` has shipped as two different physical parquet types across
driver rounds: TIMESTAMP(NANOS) (rounds 1-2), which Spark rejects by
default, and plain TIMESTAMP(MICROS) (round 3+), which reads natively as
TIMESTAMP_NTZ. We handle both: enable
``spark.sql.legacy.parquet.nanosAsLong`` before the read, and convert
ns→µs (exactly DuckDB's truncation) only when the column actually came
back as a long — a native timestamp column passes through untouched.

Each table's schema is inferred once per process, file version and
set of inference confs (``_read_parquet``): a plain
``spark.read.parquet`` launches a one-task footer-inference job on
every call, and plans re-read their tables on every build.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from olympic_athletes_etl_spark.session import tune_for_oracle

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=None)
def _scan_row_groups(path: str, stop_at: int) -> int:
    """Parquet row groups under ``path`` — the atomic unit of scan
    parallelism — counted only UP TO ``stop_at``. Spark splits files by
    BYTE range, but a parquet reader only emits rows for the split
    containing a row group's midpoint, so a single-row-group file
    executes as ONE populated task no matter how many splits cover it.

    The sum SHORT-CIRCUITS the moment it reaches ``stop_at`` (the
    caller's spread threshold): at a production layout — thousands to
    millions of files per table — the spread decision is already known
    after ~cores/2 row groups, and reading every remaining footer would
    be an O(files) driver-side listing+IO pass per table per process
    (the r13 VERDICT scale-safety item). The directory walk itself is
    lazy (``os.scandir``), so neither the listing nor the footer reads
    run past the threshold. Driver-side, cached for the life of the
    process (the bench re-plans each query every iteration)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_row_groups
    total = 0
    with os.scandir(path) as entries:
        for entry in entries:
            if not entry.name.endswith(".parquet"):
                continue
            total += pq.ParquetFile(entry.path).metadata.num_row_groups
            if total >= stop_at:
                return total
    return total


# Session confs that change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# path -> (version key, inferred schema); one entry per path, replaced
# when the file or directory is rewritten or an inference conf changes.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of each version of ``path``. Inference is a Spark job of
    its own, one task reading footers: on a 4-vCPU VM a read of the
    sf0.01 lineitem file took 0.11 s wall and 0.23 s of driver+JVM CPU
    that way, against 0.02-0.03 s and 0.03-0.04 s with the schema
    given. Later reads pass the cached schema, which is the one
    inference returned, so the plan is the same.

    A version is the path's ``(st_mtime_ns, st_size)`` plus the values
    of ``_INFER_CONFS`` in the reading session: a rewritten file is
    re-inferred, so is a directory whose files were added, removed or
    replaced by a Spark overwrite, and so is any read under different
    inference confs. The cache assumes tables are not rewritten in
    place while a process reads them (true of read-only table
    directories): a part file rewritten under an unchanged directory,
    or a same-size rewrite within the filesystem's mtime granularity,
    is not noticed. Paths the local filesystem cannot stat (remote
    URIs, missing tables) take the plain read, so Spark reports its own
    errors."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    version = (
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k) for k in _INFER_CONFS),
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (version, df.schema)
    return df


def spread(
    df: DataFrame, spark: SparkSession, path: str, *keys: str
) -> DataFrame:
    """Layout-adaptive redistribution for heavy post-scan work (guide
    §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    When the scan's parquet layout yields fewer populated tasks (row
    groups) than half the cluster parallelism, everything pipelined into
    the scan stage — join probes, per-row derivations, partial
    aggregates — runs on a handful of cores while the rest idle. This
    helper hash-repartitions the scan output by ``keys`` (deterministic
    under task retry, unlike rand-derived keys — guide §2.5) to
    ``defaultParallelism`` partitions so downstream work parallelizes.

    It is a NO-OP whenever the input already splits: at production scale
    (many files / many row groups per file) the condition fails and no
    shuffle is added — the plan is unchanged. The threshold derives from
    the live session's core count, never a constant, so the driver's
    reduced-core bench runs adapt with it.

    Callers must only use this where the downstream result is
    partition-order-insensitive (exact integer/min/max/count aggregates,
    keyed windows, set-shaped output) — each call site documents why."""
    par = spark.sparkContext.defaultParallelism
    threshold = max(2, par // 2)
    if _scan_row_groups(path, threshold) >= threshold:
        return df
    return df.repartition(par, *[F.col(k) for k in keys])


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_on: str | tuple[str, ...] | None = None,
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    tune_for_oracle(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # TIMESTAMP(NANOS) files surface as long under this conf; truncate
        # to micros (matches DuckDB). TIMESTAMP(MICROS) files ignore the
        # conf and arrive as a native timestamp — pass through.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = _read_parquet(spark, path)
    if spread_on is not None:
        keys = (spread_on,) if isinstance(spread_on, str) else spread_on
        df = spread(df, spark, path, *keys)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the WHOLE engine
    surface is reachable from raw ``spark.sql`` — a user migrating
    SQL-first workloads points their FROM clauses at these names (the
    same names the DuckDB oracles use, so any oracle string in this repo
    is also a runnable Spark query modulo dialect). Views are lazy
    references to the normalized ``load`` output: events ts handling and
    session tuning apply identically to SQL and DataFrame users."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
