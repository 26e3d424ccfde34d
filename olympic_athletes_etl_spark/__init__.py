"""olympic_athletes_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine providing the query and data-processing
capabilities of the reference ETL pipeline (Ayham-0010/Olympic-Athletes-ETL,
surveyed in SURVEY.md), re-expressed on the DataFrame/Catalyst stack:

- ``session``       — SparkSession factory (AQE on, UTC, tuned shuffle counts)
- ``sources``       — scraper source, CSV/glob scans, checkpoint-resume sinks
- ``functions``     — scalar text/date/cast helpers (SURVEY §2.8)
- ``operators``     — relational/window/restructure operator library (§2.2-2.9)
- ``etl``           — the reference pipeline's clean → impute → publish stages
- ``validate``      — declarative validation-rule engine (Pandera-equivalent)
- ``plans``         — the query registry driving __spark_entry__ (queries + oracles)
- ``dedup`` / ``similarity`` / ``textstats`` / ``multimodal`` — large-scale
  training-data-pipeline extensions (exact/MinHash/SimHash dedup, ANN search,
  language-ID/quality/tokenize, binary-column plumbing)

There is no streaming layer: the reference is a weekly batch job
(SURVEY §2.10), and the ``events`` analytics are batch queries.
"""

__version__ = "0.1.0"
