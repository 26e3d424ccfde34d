"""Scale utilities: skew mitigation and fact-scale ids (SCALE.md;
SURVEY.md §4 — the physical decisions Catalyst does NOT make for you).

- ``salted_join`` — explode a hot build side N ways so a skewed probe
  key spreads over N reducers instead of one straggler, for skew that
  AQE's automatic skew-join splitting does not absorb.
- ``dense_ids`` (and its stored, appendable form) — global 1..N ids in
  key order without a single-reducer window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the probe side gets a random-but-
    deterministic salt (hash of its full row, mod N) appended to the
    key; the build side replicates N× with every salt value. The shuffle
    then distributes a hot key over N partitions. Use when ONE side is
    modest (replication cost = N×build) and the probe side has heavy
    hitters — e.g. joining events against a user dim where 1% of users
    produce 90% of events. AQE's skew-join split handles moderate skew
    without this; salting is for the pathological tail."""
    salt_col = "__salt"
    salted_probe = probe.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(n_salts)),
    )
    salted_build = build.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_probe.join(salted_build, on=[key, salt_col], how=how)
    return out.drop(salt_col)


def dense_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int,
    id_col: str = "dense_id",
) -> DataFrame:
    """Fact-scale dense global ids (1..N in ``order_cols`` order) WITHOUT
    a global-order window — the zipWithIndex-style two-phase id that
    SCALE.md documents as the alternative to ``w_surrogate_key``'s
    single-reducer ``Window.orderBy`` (acceptable only on tiny dims).

    Three phases, none of which moves all rows to one partition:

    1. ``repartitionByRange(order_cols) + sortWithinPartitions`` — ONE
       range exchange (sampled bounds, no global sort), pinned with
       ``localCheckpoint``: the two downstream jobs MUST see identical
       partition bounds, and repartitionByRange re-SAMPLES its splits on
       every lineage re-evaluation — without the pin, the count job and
       the id job could disagree on which partition a boundary row
       landed in, silently duplicating or skipping ids.
    2. one tiny job counts rows per partition (groupBy on
       ``spark_partition_id``); the driver turns the counts into
       exclusive prefix offsets — the only collect, bounded by
       ``num_partitions`` rows, corpus-size-independent.
    3. ``mapInPandas`` emits ``offset[pid] + local running index``;
       Arrow batches arrive in stored (sorted) order within a partition,
       so a per-partition counter carried across batches is exact.

    Ids are deterministic iff ``order_cols`` is a total order (unique
    key) — equal keys get dense but arbitrary ids, same as any
    ROW_NUMBER over a non-unique ORDER BY. The checkpoint blocks are
    freed by Spark when the returned DataFrame is garbage-collected;
    callers looping over many dense_ids calls should unpersist
    explicitly (operators/graph.py:release discipline)."""
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    sorted_df = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.asc(c) for c in order_cols])
        .localCheckpoint(eager=True)
    )
    counts = {
        r["pid"]: r["n"]
        for r in sorted_df.groupBy(
            F.spark_partition_id().alias("pid")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per partition, never per data row
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in range(sorted_df.rdd.getNumPartitions()):
        offsets[pid] = running
        running += counts.get(pid, 0)

    out_schema = StructType(
        sorted_df.schema.fields + [StructField(id_col, LongType(), False)]
    )

    def assign(batches):
        pid = TaskContext.get().partitionId()
        seen = 0
        base = offsets[pid]
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.copy()
            pdf[id_col] = pd.RangeIndex(
                base + seen + 1, base + seen + 1 + n, dtype="int64"
            )
            seen += n
            yield pdf

    return sorted_df.mapInPandas(assign, out_schema)


def _dense_ids_store_obj(path: str):
    from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec

    # free-form columns: the identity table carries the caller's schema
    return GenStore(path, [TableSpec(name="")])


def dense_ids_store(ids: DataFrame, path: str, id_col: str = "dense_id") -> None:
    """Persist an id assignment (dense_ids output) — the identity-column
    table a warehouse maintains: ids are handed out ONCE and never
    reshuffled by later ingests (re-running dense_ids over
    history ∪ batch would reassign history's ids whenever a batch key
    sorts between old keys — exactly what surrogate keys must never
    do). Generation-versioned parquet (operators/store.py): re-storing
    is an atomic snapshot replace; the id column is part of the stored
    schema."""
    if id_col not in ids.columns:
        raise ValueError(
            f"dense_ids_store: frame has no '{id_col}' column; build it "
            "with dense_ids"
        )
    _dense_ids_store_obj(path).create({"": ids})


def dense_ids_load(spark: SparkSession, path: str) -> DataFrame:
    """Read the stored identity table (current generation)."""
    return _dense_ids_store_obj(path).load(spark)[""]


def dense_ids_append(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    order_cols: Sequence[str],
    num_partitions: int,
    id_col: str = "dense_id",
) -> None:
    """Fold a new batch into the stored id assignment: the batch gets
    ids ``stored_max + 1 .. stored_max + |batch|`` in its own
    ``order_cols`` order (dense_ids over the BATCH only + a constant
    offset), appended without touching a single stored row — the
    identity-column ingest. The only driver traffic beyond dense_ids'
    own is the 1-row max(id) aggregate. Already-assigned rows must not
    reappear in a batch (an anti-join against the store is the
    caller's resume discipline, sources/io.py:resume_remaining).

    SINGLE WRITER REQUIRED: the max(id) read and the append are not
    one transaction — two concurrent appenders would both read the
    same stored_max and hand out duplicate ids. Serialize ingest
    batches through one writer; under a scheduler,
    that's one non-concurrent job per identity table."""
    store = _dense_ids_store_obj(path)
    stored_max = (
        dense_ids_load(spark, path)
        .agg(F.max(F.col(id_col)).cast("long"))
        .collect()[0][0]  # bounded: one row
        or 0
    )
    with_ids = dense_ids(batch, order_cols, num_partitions, id_col=id_col)
    store.append(
        {"": with_ids.withColumn(id_col, (F.col(id_col) + F.lit(stored_max)).cast("long"))}
    )
