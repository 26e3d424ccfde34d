"""Sources & sinks (SURVEY.md §2.1, S2-S10): the scraper's HTML source
and tagged demux, CSV scans, the checkpoint-resume lifecycle and the
object-store conf. Plain parquet scans and publishes (S1/S5) are
``spark.read.parquet`` / ``df.write.parquet`` at the call site."""

from olympic_athletes_etl_spark.sources.html_source import (
    parse_kv_table,
    parse_results_table,
    parse_tables,
    scrape_source,
    tagged_to_tables,
)
from olympic_athletes_etl_spark.sources.io import (
    checkpoint_append,
    compacted_write,
    object_store_conf,
    read_csv,
    read_parquet_glob,
    resume_remaining,
    split_by_tag,
)

__all__ = [
    "checkpoint_append",
    "compacted_write",
    "object_store_conf",
    "parse_kv_table",
    "parse_results_table",
    "parse_tables",
    "read_csv",
    "read_parquet_glob",
    "resume_remaining",
    "scrape_source",
    "split_by_tag",
    "tagged_to_tables",
]
