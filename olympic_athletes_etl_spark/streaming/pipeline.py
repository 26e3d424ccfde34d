"""Streaming operators over the ``events`` stream shape
(event_id, ts, user_id, event_type, value, props).

Design rules for the 100 TB / always-on path:

- every aggregation takes a WATERMARK — unbounded state is the streaming
  equivalent of the global window anti-pattern;
- tumbling/sliding/session windows use the built-in ``window()`` /
  ``session_window()`` (incremental state store, partial aggregation) —
  identical semantics to the batch ``e_tumbling_window``/``e_sessionize``
  registry queries, so batch results oracle the streaming ones;
- custom per-key running state uses ``applyInPandasWithState`` (Arrow
  batches, partitioned by key — state scales with #keys, not #events);
- file sources use ``maxFilesPerTrigger`` so a backlog replays as
  bounded micro-batches instead of one giant batch.
"""

from __future__ import annotations

import sys

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from olympic_athletes_etl_spark.operators.store import Rollup

# applyInPandasWithState closures below run in Spark Python workers; a
# worker that cannot import this package (driver launched from an
# arbitrary cwd) would die on by-reference unpickling. By-value
# registration makes the shipped closures self-contained (same idiom as
# multimodal/columns.py).
try:  # pragma: no cover - exercised implicitly by every streaming test
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 - older cloudpickle: fall back to by-ref
    pass

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of event parquet files. Explicit schema is
    mandatory for streaming reads — also keeps pruning at the footer."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Windowed count + sum(value) per (window, event_type). Late rows
    beyond the watermark are dropped; state for closed windows is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window event counts — each row lands in window/slide
    overlapping windows (state cost multiplies accordingly)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within ``gap`` of the previous one (built-in session_window — same
    semantics the batch e_sessionize query verifies against DuckDB)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


_STATS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_user_stats(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running (count, sum) per user — custom stateful operator via
    applyInPandasWithState (SURVEY §2.10 extension; Arrow-batched, state
    is one tiny tuple per user)."""
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running totals, updated each micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=_STATS_OUT,
        stateStructType=_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def view_click_attribution(
    events: DataFrame, lag: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """STREAM-STREAM join (self-join of the event stream): every 'click'
    pairs with ALL of the same user's 'view' events from the preceding
    ``lag`` window — multi-touch attribution (one output row per
    view×click pair; reduce downstream for last-touch). Renamed from
    view_purchase_attribution in round 3: it always filtered clicks, so
    the old name/columns mislabeled click events as purchases.
    Both branches carry a watermark AND
    the join condition bounds event-time distance, which is what lets
    Spark evict join state: without the time-range predicate a
    stream-stream join buffers forever. State ∝ events inside the lag
    window per user; shuffle keys on user_id. Works identically on batch
    frames (the tests oracle the stream with the batch twin)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & F.expr(
            f"view_ts BETWEEN click_ts - INTERVAL {lag}"
            " AND click_ts"
        ),
        "inner",
    ).select("click_id", "user_id", "click_ts", "view_id", "view_ts")


def enrich_with_static_dim(
    events: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static LEFT join: every micro-batch hash-joins against the
    static dimension (broadcast — the stream side never shuffles). The
    static side is re-resolved per micro-batch, so a dim backed by a
    table/path picks up slowly-changing updates between batches without
    restarting the query; rows with no dim match pass through with nulls
    (route them via the F5/F9 side-channel operators downstream rather
    than dropping events in-flight)."""
    return events.join(F.broadcast(dim), on, "left")


def run_available_now(
    df: DataFrame,
    query_name: str,
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
):
    """Drain everything currently available into an in-memory table named
    ``query_name``, in bounded micro-batches, then stop. Returns the
    finished StreamingQuery (caller reads ``spark.table(query_name)``)."""
    writer = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q


def stream_merge_into_parquet(
    events: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    order_col: str = "ts",
):
    """Streaming CDC sink: each micro-batch reduces to its latest row per
    key, then MERGEs into a parquet state table via ``foreachBatch`` +
    ``merge_upsert`` — the classic upsert-sink pattern for engines
    without a transactional table format. The batch-local dedup keeps the
    merge input at key-cardinality; the rewrite is the whole table here
    (plain parquet) where Delta/Iceberg would rewrite only touched files.
    Exactly-once: foreachBatch may replay a batch on recovery — the merge
    is idempotent per (key, batch), which is what makes replays safe.
    The state table is generation-versioned (operators/store.py): each
    merge writes a NEW generation and commits with an atomic manifest
    swap, so a crash mid-rewrite leaves the previous state serving — the
    old in-place overwrite staged the whole table through a
    non-replicated localCheckpoint and could lose it outright. Read the
    table back with ``merged_state_load``."""
    from pyspark.sql.window import Window

    from olympic_athletes_etl_spark.operators.relational import merge_upsert
    from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        store = GenStore(target_path, [TableSpec(name="")])
        if store.manifest() is None:  # first batch, no table yet
            store.create({"": latest})
            return
        merged = merge_upsert(store.load(spark)[""], latest, list(keys))
        # the old generation stays readable while the new one is written,
        # so no checkpoint staging is needed; create() == atomic replace
        store.create({"": merged})

    return (
        events.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merged_state_load(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the state table stream_merge_into_parquet maintains (current
    generation)."""
    from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec

    return GenStore(target_path, [TableSpec(name="")]).load(spark)[""]


def stream_neardup_screen(
    docs: DataFrame,
    postings_path: str,
    flags_path: str,
    checkpoint_dir: str,
    append_postings: bool = True,
):
    """Streaming NEAR-dup screening against the stored LSH postings —
    the always-on form of the d_neardup_stored / lsh_postings_append
    ingest loop: each micro-batch of (doc_id, text) computes ITS OWN
    banded MinHash signatures (the exact definition the batch oracles
    pin — shared shingle_hashes/_minhash_bands code), probes the
    persisted postings for collisions AND probes itself for
    within-batch collisions (lsh_probe_within — two near-dups arriving
    in the same micro-batch flag each other, later id against earlier;
    without the self-probe both would be admitted), appends the flagged
    (doc_new, doc_old, batch_id) pairs to ``flags_path``, then appends
    the batch's own postings so LATER batches screen against
    corpus ∪ earlier-batches.

    Ordering is load-bearing: the candidate join is materialized (the
    bands frame is checkpointed, the flags are written) BEFORE the
    postings append — appending first would let the lazily-resolved
    probe scan see the batch's own files and flag every doc against
    itself. Exactly-once caveat (same class as stream_merge_into_parquet
    but NOT idempotent): a replayed batch re-appends flags and postings;
    duplicate postings only create duplicate candidates (removed by the
    probe's DISTINCT downstream of any re-screen), duplicate flag rows
    carry the same batch_id, so a reader dedupes on
    (doc_new, doc_old, batch_id). Delta/Iceberg would make both appends
    transactional."""
    from olympic_athletes_etl_spark.plans.dedup_q import (
        _minhash_bands,
        lsh_postings_append,
        lsh_postings_load,
        lsh_probe,
        lsh_probe_within,
        shingle_hashes,
    )

    def screen_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # eager checkpoint: bands feeds the store probe, the self-probe,
        # and the postings append — and pins the signatures computed
        # BEFORE the append mutates the store this plan reads.
        bands = _minhash_bands(shingle_hashes(batch)).localCheckpoint(
            eager=True
        )
        # store probe ∪ self-probe: doc_old sets are disjoint (store ids
        # vs batch ids) outside the documented replay pathology, so the
        # union adds no duplicates to dedupe.
        lsh_probe(bands, lsh_postings_load(spark, postings_path)).unionByName(
            lsh_probe_within(bands)
        ).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(flags_path)
        if append_postings:
            lsh_postings_append(bands, postings_path)

    return (
        docs.writeStream.foreachBatch(screen_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_hll_rollup_ingest(
    events: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Streaming CONTINUOUS AGGREGATE: each micro-batch folds its daily
    HLL register partials into the sketch-rollup store
    (plans/sketch_q.py:hll_rollup_partials/append — the same frames the
    batch queries a_hll_rollup_stored / a_hll_rollup_range gate), so an
    always-on distinct-users dashboard serves from ≤64 small integers
    per day per batch while the stream runs.

    EFFECTIVELY-ONCE, and honestly so: the exact (count, sum) rollup
    under foreachBatch is at-least-once — a batch replayed after a
    crash-between-append-and-commit double-counts (the documented
    caveat on stream_merge_into_parquet's class of sinks). HLL partials
    merge by MAX, which is idempotent: re-appending the same batch's
    partials cannot change any served estimate (pinned in
    test_round9_ops and re-asserted post-stream in test_streaming).
    At-least-once appends + idempotent merge = exactly-once ESTIMATES
    on plain parquet, no transactional table format required — the
    reason sketch stores, not exact partials, back always-on distinct
    counters. No ordering hazard either: unlike the near-dup screen,
    the batch never reads the store it appends to (merging happens at
    serve time), so there is no flags-before-append discipline to keep.
    Run hll_rollup_compact on a cadence for the small-files tax, as
    with every append-path store."""
    from olympic_athletes_etl_spark.plans.sketch_q import (
        hll_rollup_append,
        hll_rollup_partials,
    )

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        hll_rollup_append(hll_rollup_partials(batch), store_path)

    return (
        events.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_rollup_ingest(
    orders: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Streaming EXACT continuous aggregate with exactly-once folds —
    the (count, sum) sibling of stream_hll_rollup_ingest, which needs
    more machinery because exact partials are NOT idempotent under
    replay (re-appending doubles; the batch rollup's double-append test
    shows it). The standard fix, implemented here: each micro-batch
    writes its monthly partials into its OWN ``batch_id=N`` partition
    with DYNAMIC partition overwrite — a replayed batch (same
    checkpoint offsets ⇒ same batch_id ⇒ same rows) overwrites exactly
    its own directories instead of appending next to them, so the fold
    is idempotent with plain parquet. Serving merges the semigroup
    across batch partitions (plans/relational.py:rollup_serve — the
    batch_id column is just ignored by the month groupBy).

    What this does NOT give: a transactional rename — a reader racing
    the overwrite can glimpse a partially-rewritten batch partition
    (Delta/Iceberg close that).

    Compaction across batch partitions is stream_rollup_compact — NOT
    the batch rollup_compact, which would break the batch_id layout and
    re-admit replays. The fold ENFORCES the replay high-water mark that
    compactor commits: a replayed ``batch_id ≤ hwm`` was already folded
    into the compacted partition, so its write is skipped (the
    partition it would overwrite no longer exists — re-creating it
    would double-count; pinned in test_streaming). Run the compactor
    between stream runs (it refuses while this session has a live query
    on the checkpoint)."""

    import os

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        rollup_fold_batch(batch, batch_id, store_path)

    q = (
        orders.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _ROLLUP_STREAMS[os.path.normpath(checkpoint_dir)] = q
    return q


# checkpoint dir -> last query started on it, so the streaming compactors
# can refuse to run concurrently with a live fold in this process
_ROLLUP_STREAMS: dict = {}

# reserved partition the streaming compactor folds committed batches into;
# real micro-batch ids are Spark epoch ids, always >= 0
_STREAM_ROLLUP_FOLDED = -1


def stream_fold_batch(
    batch: DataFrame, batch_id: int, store_path: str, fam: Rollup
) -> None:
    """The generic exactly-once fold body (tests simulate checkpoint
    replays by calling it directly): idempotent fold of one
    micro-batch's partials into its own batch_id partition via dynamic
    partition overwrite — skipping batches at or below the store's
    compaction high-water mark, which are already folded into the
    reserved partition and must not re-materialize. Any NON-idempotent
    rollup family (counts, sums, histograms) gets exactly-once streaming
    ingestion from its one ``Rollup`` declaration; idempotent families
    (HLL register-max) don't need this machinery at all."""
    store = fam.stream_at(store_path)
    store.ensure()
    hwm = (store.manifest() or {}).get("hwm")
    if hwm is not None and batch_id <= hwm:
        # Replay of a batch the compactor already folded: no-op — but
        # warn, because a RESET/SWAPPED checkpoint also lands here
        # (batch ids restart at 0) and would silently drop every new
        # batch until ids climb past the stored hwm. The store and its
        # checkpoint are a PAIRED unit; never reset one without the
        # other (stream_fold_compact refuses the mismatch outright).
        import warnings

        warnings.warn(
            f"stream_fold_batch: skipping batch {batch_id} <= folded "
            f"hwm {hwm} at {store_path} — expected only for checkpoint "
            "replays; if the checkpoint was reset, new batches are "
            "being DROPPED (restore the paired checkpoint or rebuild "
            "the store)",
            stacklevel=2,
        )
        return
    (
        fam.partials(batch)
        .withColumn("batch_id", F.lit(batch_id))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(store.data_dir())
    )


def rollup_fold_batch(batch: DataFrame, batch_id: int, store_path: str) -> None:
    """stream_rollup_ingest's fold body — stream_fold_batch with the
    (count, sum) monthly-rollup family."""
    from olympic_athletes_etl_spark.plans.relational import ROLLUP

    stream_fold_batch(batch, batch_id, store_path, ROLLUP)


def _checkpoint_committed_hwm(checkpoint_dir: str) -> int | None:
    """Highest batch id the streaming checkpoint has COMMITTED — read
    from the commits/ log (one integer-named file per completed batch;
    a crash between sink write and commit leaves no commit file, so a
    batch at the hwm can never be replayed)."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    try:
        ids = [int(name) for name in os.listdir(commits) if name.isdigit()]
    except FileNotFoundError:
        return None
    return max(ids, default=None)


def stream_rollup_compact(
    spark: SparkSession, store_path: str, checkpoint_dir: str
) -> None:
    """Maintenance compaction for the STREAMING rollup store, replay-safe
    by construction:

    * folds ONLY micro-batches the checkpoint has committed (batch_id ≤
      the commits-log high-water mark) — an uncommitted batch can still
      be replayed and must keep its own overwritable partition;
    * merges them (plus any previously-folded state) into the reserved
      ``batch_id = -1`` partition, leaving uncommitted batches' rows
      refiled as-is;
    * commits the fold AND the new high-water mark in ONE atomic
      manifest swap (operators/store.py generation swap — crash-safe),
      after which rollup_fold_batch treats a replay of any folded
      batch as a no-op.

    Refuses while this process has an active streaming query on the
    checkpoint (a concurrent fold could land a batch the hwm then
    mis-classifies) — stream_rollup_ingest registers its queries so the
    check is exact; across processes, single-maintenance-writer
    discipline applies as with every store family."""
    from olympic_athletes_etl_spark.plans.relational import ROLLUP

    stream_fold_compact(spark, store_path, checkpoint_dir, ROLLUP)


def stream_fold_compact(
    spark: SparkSession,
    store_path: str,
    checkpoint_dir: str,
    fam: Rollup,
) -> None:
    """The generic replay-safe streaming-store compactor (see
    stream_rollup_compact for the protocol): fold committed batches +
    prior folded state into the reserved partition, keep uncommitted
    batches overwritable, commit fold + high-water mark in one atomic
    manifest swap."""
    import os

    key = os.path.normpath(checkpoint_dir)
    q = _ROLLUP_STREAMS.get(key)
    if q is not None and q.isActive:
        raise RuntimeError(
            "stream_fold_compact: a streaming query is live on this "
            "checkpoint; compaction must run between stream runs"
        )
    hwm = _checkpoint_committed_hwm(checkpoint_dir)
    if hwm is None:
        return  # nothing committed yet → nothing safe to fold
    store = fam.stream_at(store_path)
    prev_hwm = (store.manifest() or {}).get("hwm")
    if prev_hwm is not None and hwm < prev_hwm:
        raise RuntimeError(
            f"stream_fold_compact: checkpoint {checkpoint_dir} has "
            f"committed hwm {hwm} BELOW the store's folded hwm "
            f"{prev_hwm} — the checkpoint was reset or swapped. "
            "Committing the lower mark would re-admit replays of "
            "already-folded batch ids (double counts). The store and "
            "its checkpoint are a paired unit: restore the original "
            "checkpoint, or rebuild the store from source."
        )
    cols = (*fam.columns, "batch_id")

    def fold(df: DataFrame) -> DataFrame:
        committed = F.col("batch_id") <= F.lit(hwm)
        folded = fam.merge(df.filter(committed)).withColumn(
            "batch_id", F.lit(_STREAM_ROLLUP_FOLDED)
        )
        rest = df.filter(~committed).repartition("batch_id")
        return folded.select(*cols).unionByName(rest.select(*cols))

    store.compact(spark, merge_overrides={"": fold}, extra={"hwm": hwm})


def stream_qhist_ingest(
    orders: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Streaming continuous aggregate for the QUANTILE-histogram family
    (plans/relational.py:_qhist_partials): each micro-batch folds its
    (month, bucket) counts into its own batch_id partition with the
    same exactly-once machinery as stream_rollup_ingest — histogram
    counts are a non-idempotent semigroup, so they need the dynamic-
    overwrite + high-water-mark protocol, and they get it from the
    shared stream_fold_batch plumbing. Serve with
    plans.relational.qhist_rollup_serve/serve_range over the store
    (the batch_id column is ignored by the (month, bucket) merge);
    compact between runs with stream_qhist_compact."""
    import os

    from olympic_athletes_etl_spark.plans.relational import QHIST

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        stream_fold_batch(batch, batch_id, store_path, QHIST)

    q = (
        orders.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _ROLLUP_STREAMS[os.path.normpath(checkpoint_dir)] = q
    return q


def stream_qhist_compact(
    spark: SparkSession, store_path: str, checkpoint_dir: str
) -> None:
    """stream_fold_compact with the quantile-histogram family."""
    from olympic_athletes_etl_spark.plans.relational import QHIST

    stream_fold_compact(spark, store_path, checkpoint_dir, QHIST)


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
# open-session state: (start_us, last_us, n)
_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)
_SESSION_GAP_US = 30 * 60 * 1_000_000


def _us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1_000)


def _update_sessions(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom sessionizer: emits a row per CLOSED session; the open
    session lives in 3 longs of state with an EVENT-TIME timeout at
    last_event + gap, so the state store evicts idle users as the
    watermark passes them (the piece ``session_window`` hides and
    ``NoTimeout`` running aggregates never do)."""
    (user_id,) = key
    closed: list[tuple[int, int, int]] = []
    if state.hasTimedOut:
        # watermark passed last_event + gap with no new data: finalize
        start_us, last_us, n = state.get
        closed.append((start_us, last_us, n))
        state.remove()
    else:
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        rows: list[int] = []
        for pdf in batches:
            rows.extend(_us(t) for t in pdf["ts"])
        rows.sort()
        for t in rows:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > _SESSION_GAP_US:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        if start_us is not None:
            state.update((start_us, last_us, n))
            # EventTimeTimeout fires when the WATERMARK crosses this
            state.setTimeoutTimestamp((last_us + _SESSION_GAP_US) // 1_000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [int(n) for _, _, n in closed],
            }
        )


def sessionize_with_state(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Finalized (closed) sessions per user via applyInPandasWithState
    with an EVENT-TIME TIMEOUT — the custom-stateful-operator form of
    e_sessionize: a session closes either when a later event arrives
    past the 30-min gap (emitted immediately) or when the watermark
    passes its deadline with no successor (emitted by the timeout
    callback, state evicted). Compare ``session_counts``: the built-in
    session_window gives the same windows but only this form lets the
    session carry arbitrary custom state (e.g. a distinct-page sketch)
    and emit exactly-on-close.

    State per user is 3 longs + one timer — bounded by ACTIVE user
    count, not event count; shuffle keys on user_id. Closed sessions
    match the batch e_sessionize query row-for-row (pinned in
    test_streaming); a stream's still-open tail sessions are the only
    rows batch has that the stream hasn't emitted yet."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_sessions,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
