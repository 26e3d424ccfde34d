"""Reusable relational operators (SURVEY.md §2.2-2.9).

Library form of every composite operator in the inventory. The
registered inventory queries in ``plans/relational.py`` call these
functions, renaming output columns at the call site, so the DuckDB
oracles check the library code itself; the ETL pipeline (``etl/``)
reuses them, and ``grouped_median_impute``/``normalize_dim_bridge``
serve it alone. All functions are lazy DataFrame → DataFrame
transforms; Catalyst fuses them with the caller's plan. Determinism
rules from the §7 decision log are baked in (value-ascending mode
tie-break, exact median, row_number surrogate keys).

Scale notes sit on each function: which key the shuffle uses, when the
small side should broadcast, and where a global window is (only) safe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# --------------------------------------------------------------------------
# Projections / filters (F1-F9)
# --------------------------------------------------------------------------
def drop_if_present(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Drop columns, ignoring ones that don't exist (F1; reference:
    errors='ignore' drops, data_clean.py:13-30)."""
    present = [c for c in cols if c in df.columns]
    return df.drop(*present) if present else df


def rename_bulk(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Dict-driven bulk rename, reordering the renamed columns to the
    mapping's declared order ahead of the rest (F2/F3;
    columns_renaming_reordering_glue.py:82-89)."""
    out = df.withColumnsRenamed(mapping)
    ordered = [new for old, new in mapping.items() if old in df.columns]
    rest = [c for c in out.columns if c not in ordered]
    return out.select(*ordered, *rest)


def anti_resume(df: DataFrame, done: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """Incremental-resume diff: rows of ``df`` whose key is NOT in ``done``
    (F8; reference does a driver-side set subtract,
    athlete_scrape_glue.py:280-283 — left_anti scales past driver memory
    and broadcasts automatically when ``done`` is small). A left_anti join
    never repeats a ``df`` row, so ``done`` needs no dedup (that would
    cost its own shuffle)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(done.select(*keys), on=keys, how="left_anti")


# --------------------------------------------------------------------------
# Aggregations (A1-A10)
# --------------------------------------------------------------------------
def mode_per_group(df: DataFrame, group: str, value: str) -> DataFrame:
    """Most frequent ``value`` per ``group``, ties broken value-ascending
    (A2/W1; pandas ``mode().iloc[0]`` semantics — SURVEY §7; the Glue
    variant data_clean_II_glue.py:57-66 is nondeterministic on ties).
    Aggregates counts BEFORE the window, so the rank runs over
    (group × value) cardinality, not raw rows. NULL values are dropped
    before counting — pandas ``mode()`` ignores NaN, and the asc
    tie-break would otherwise sort a NULL candidate FIRST and return
    NULL as the mode of any group where missing is most common."""
    counts = (
        df.filter(F.col(value).isNotNull())
        .groupBy(group, value)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group).orderBy(F.desc("n"), F.asc(value))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(group, value, F.col("n").alias("mode_count"))
    )


def grouped_median_impute(
    df: DataFrame,
    value: str,
    group_cols: Sequence[str],
    fallback_cols: Sequence[str] | None = None,
    flag_col: str | None = None,
) -> DataFrame:
    """Impute NULL ``value`` with the exact per-group median, optionally
    falling back to a coarser grouping (A3/C10-C12; reference two-level
    (Sex, Discipline) → (Sex) imputation, data_clean_II_glue.py:77-93 —
    which uses percentile_approx; we use exact ``median`` per SURVEY §7).
    Adds ``flag_col`` marking imputed rows when requested. Window frames
    are whole-partition aggregates — one shuffle per distinct grouping.

    Rows with a NULL group key take the FALLBACK median, not the
    NULL-key cohort's own: pandas ``groupby`` (dropna=True, the
    reference's form) excludes NULL-key rows from transform, so e.g. an
    athlete with no Discipline is imputed from the per-Sex median — not
    from the median of everyone-without-a-discipline."""

    def _keys_ok(cols: Sequence[str]):
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.col(c).isNotNull()
        return cond

    out = df
    med1 = F.when(
        _keys_ok(group_cols),
        F.median(value).over(Window.partitionBy(*group_cols)),
    )
    filled = F.coalesce(F.col(value), med1)
    if fallback_cols is not None:
        med2 = F.when(
            _keys_ok(fallback_cols),
            F.median(value).over(Window.partitionBy(*fallback_cols)),
        )
        filled = F.coalesce(filled, med2)
    if flag_col:
        out = out.withColumn(flag_col, F.col(value).isNull() & filled.isNotNull())
    return out.withColumn(value, filled)


def null_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null percentage in ONE aggregation pass (A6;
    data_quality_and_validation.py:9-12)."""
    cols = list(cols or df.columns)
    return df.agg(
        *[
            F.round(F.avg(F.col(c).isNull().cast("int")) * 100, 2).alias(c)
            for c in cols
        ]
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """Frequency table (A7): one row per distinct ``col`` with its
    ``count``. Unordered — a display sort would cost a range exchange
    that no distributed consumer sees; order at the collect."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))


def collect_sorted(df: DataFrame, group: str, value: str) -> DataFrame:
    """Deterministic collect-per-group: sorted distinct values joined with
    ',' (A8; collect_list order is partition-dependent, so the engine
    exposes the hash-stable form)."""
    return df.groupBy(group).agg(
        F.array_join(F.sort_array(F.collect_set(value)), ",").alias(f"{value}_list")
    )


def dup_detect(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key-subset duplicate groups with counts (A9;
    data_quality_and_validation.py:24-28) — groupBy+HAVING (map-side
    combine), not a window over raw rows."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_subset(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep one row per key (A4): Spark's dropDuplicates, which keeps an
    arbitrary row per key — reference semantics
    (data_clean_glue.py:128-152)."""
    return df.dropDuplicates(list(keys))


def union_align(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union with pandas-concat outer column alignment (A10/§2.7;
    unionByName(allowMissingColumns=True) per SURVEY §7)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# --------------------------------------------------------------------------
# Windows (W1-W5)
# --------------------------------------------------------------------------
def surrogate_key(df: DataFrame, order_by: Sequence[str], name: str) -> DataFrame:
    """Deterministic surrogate key 1..n via row_number over an explicit
    order (W2/W4; replaces the reference's monotonically_increasing_id,
    data_clean_glue.py:136 — SURVEY §7). Global window ⇒ single
    partition: ONLY for small dims (the reference's editions dim is 76
    rows). For fact-scale keys use ``operators.scale.dense_ids``."""
    w = Window.orderBy(*[F.asc(c) for c in order_by])
    return df.withColumn(name, F.row_number().over(w))


def top_k_per_group(
    df: DataFrame, group: Sequence[str], order_by: Sequence[Column], k: int
) -> DataFrame:
    """Top-k rows per group with caller-supplied deterministic ordering
    (O3/W1/F7). Spark pushes the rank limit into WindowExec."""
    w = Window.partitionBy(*group).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .withColumnRenamed("__rn", "rank")
    )


def forward_fill(
    df: DataFrame, cols: Sequence[str], partition_by: str, order_by: str
) -> DataFrame:
    """Forward-fill NULLs down ordered rows within a partition (W5/R4;
    athlete_scrape.py:143-156 ffills header-row values). Partitioned by
    the entity key — one shuffle, no global sort."""
    w = (
        Window.partitionBy(partition_by)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


# --------------------------------------------------------------------------
# Restructuring (R1/R2)
# --------------------------------------------------------------------------
def explode_delimited(
    df: DataFrame, col: str, pattern: str, alias: str | None = None
) -> DataFrame:
    """Split a delimited string column and explode to one row per element
    (R1; '/'-separated Affiliations, data_clean_glue.py:105-111). NULL
    inputs produce no rows (reference dropna-first semantics), and
    EMPTY elements from leading/trailing/doubled delimiters are dropped
    — 'A / B /' yields ['A', 'B'], matching the reference's post-split
    dropna, not ['A', 'B', '']."""
    alias = alias or col
    out = df.filter(F.col(col).isNotNull()).withColumn(
        alias, F.explode(F.split(F.trim(F.col(col)), pattern))
    )
    return out.filter(F.col(alias) != "")


def normalize_dim_bridge(
    df: DataFrame,
    entity_key: str,
    attr_cols: Sequence[str],
    id_name: str,
    id_start: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Normalize repeated attribute tuples into (dim, bridge) with
    deterministic ids (R2/W4/J2; dim_affiliation + bridge,
    data_clean.py:97-150). The dim is the DISTINCT attr set (small ⇒
    bounded global window + broadcast back); the bridge join broadcasts
    the dim so the fact side never shuffles."""
    attrs = list(attr_cols)
    dim = (
        df.select(*attrs)
        .dropDuplicates()
        .withColumn(
            id_name,
            F.row_number().over(Window.orderBy(*[F.asc(c) for c in attrs]))
            + (id_start - 1),
        )
    )
    # NULL-SAFE bridge join: dropDuplicates treats NULL attr values as
    # equal, so the dim HAS a row for (..., NULL, ...) tuples — but a
    # plain equi-join would never match it (null != null) and every
    # partially-NULL attribute tuple (the most common affiliation shape:
    # club with no city/country) would get a NULL bridge id.
    facts = df.select(entity_key, *attrs).dropDuplicates()
    d = F.broadcast(dim)
    cond = F.lit(True)
    for c in attrs:
        cond = cond & facts[c].eqNullSafe(d[c])
    bridge = facts.join(d, on=cond, how="left").select(
        facts[entity_key], d[id_name]
    )
    return dim, bridge


# --------------------------------------------------------------------------
# Incremental merge (CDC upsert — the lakehouse MERGE INTO as a plan)
# --------------------------------------------------------------------------
def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Delta-style MERGE semantics on plain DataFrames: rows of
    ``updates`` replace target rows with the same key, new keys insert,
    and (optionally) rows flagged TRUE in ``delete_col`` remove the key
    entirely. One left_anti join (broadcast when updates are small — the
    usual CDC case) + one union; at 100 TB pair with partition-pruned
    rewrites (only partitions containing touched keys re-write) — the
    plan shape is what table formats like Delta/Iceberg execute under
    MERGE INTO."""
    keys = list(keys)
    untouched = target.join(updates.select(*keys).dropDuplicates(), keys, "left_anti")
    if delete_col is not None:
        surviving = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        surviving = updates
    return untouched.unionByName(surviving)
