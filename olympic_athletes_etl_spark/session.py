"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[32], 128 GiB box) but
expressed so the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — at
  100 TB this is what keeps post-filter partitions right-sized without
  hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the static number a ceiling, not a
  target.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
- CORRECTED time-parser policy (we deliberately avoid the reference's
  LEGACY conf — see SURVEY.md §4, data_clean_glue.py:604).
- Python workers start from ``worker_daemon``, which takes the archives
  (pyspark.zip, py4j, the spark-core jar) off their import path when an
  unpacked pyspark of the same version is installed: each task's
  ``importlib.invalidate_caches()`` then re-reads no archive. The
  package's parent directory joins the workers' ``PYTHONPATH`` so the
  daemon imports from any working directory. A session a caller builds
  itself for ``__spark_entry__`` keeps pyspark's daemon; every query
  runs on both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "olympic-athletes-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs applied to an externally-provided session
    (the driver constructs its own SparkSession for ``entry``/``queries``).

    Only touches confs that are safe to set mid-session and that affect
    result *values* (timezone) or parser behavior — never capacity knobs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    return spark
