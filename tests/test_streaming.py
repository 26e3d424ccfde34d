"""Structured Streaming: streamed results must equal the batch twins;
watermark must drop late data; stateful op must accumulate across
micro-batches.
"""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.streaming import (
    EVENT_SCHEMA,
    read_event_stream,
    run_available_now,
    running_user_stats,
    session_counts,
    tumbling_counts,
)

T0 = datetime.datetime(2024, 1, 1, 10, 0, 0)


def _mk_events(rows):
    return [
        (i, T0 + datetime.timedelta(minutes=m), uid, et, float(v), None)
        for i, (m, uid, et, v) in enumerate(rows)
    ]


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Three parquet files with distinct mtimes → three deterministic
    micro-batches under maxFilesPerTrigger=1. The late row sits two
    batches after the data that advances the watermark past its window
    (watermark application lags one micro-batch behind computation)."""
    d = str(tmp_path / "stream")
    os.makedirs(d)
    batches = [
        _mk_events(
            [(0, 1, "view", 1), (10, 1, "view", 2), (70, 2, "click", 3),
             (75, 1, "view", 4)]
        ),
        _mk_events([(130, 2, "click", 5)]),
        # LATE row (ts 10:05, window end 11:00 << watermark) + in-order row
        _mk_events([(5, 9, "view", 100), (190, 2, "click", 7)]),
    ]
    for b in batches:
        spark.createDataFrame(b, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        time.sleep(1.1)  # distinct file mtimes → stable processing order
    return d


def test_tumbling_counts_match_batch(spark, stream_dir, tmp_path):
    stream = read_event_stream(spark, stream_dir)
    run_available_now(
        tumbling_counts(stream, "1 hour", "30 minutes"),
        "t_tumble_all",
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in spark.table("t_tumble_all").collect()
    }
    batch = tumbling_counts(
        spark.read.schema(EVENT_SCHEMA).parquet(stream_dir), "1 hour", "30 minutes"
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in batch.collect()
    }
    assert got == want  # complete mode: all data in one go ⇒ equals batch
    assert got[(T0, "view")] == (3, 103.0)  # 10:00 window: rows at 0,10,5min


def test_watermark_drops_late_rows(spark, stream_dir, tmp_path):
    # one file per trigger: batch1 advances the watermark past the late
    # row's window before batch2 delivers it ⇒ update mode never emits it
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    run_available_now(
        tumbling_counts(stream, "1 hour", "0 seconds"),
        "t_tumble_late",
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    out = spark.table("t_tumble_late").collect()
    # the 10:00/view window was emitted in batch1 with n=3 (incl. 100.0?
    # no — the late 100.0-value row is in batch2 and must be absent)
    tens = [r for r in out if r["window_start"] == T0 and r["event_type"] == "view"]
    assert all(r["total"] <= 7.0 for r in tens)
    assert all(r["n"] <= 2 for r in tens)


def test_session_counts_match_batch(spark, stream_dir, tmp_path):
    stream = read_event_stream(spark, stream_dir)
    run_available_now(
        session_counts(stream, "30 minutes", "30 minutes"),
        "t_sessions",
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ck3"),
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("t_sessions").collect()
    }
    # user 1: events at 0,10 (one session) and 75 (a new session)
    assert got[(1, T0)] == 2
    assert got[(1, T0 + datetime.timedelta(minutes=75))] == 1


def test_running_user_stats_accumulates(spark, stream_dir, tmp_path):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    run_available_now(
        running_user_stats(stream),
        "t_user_stats",
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ck4"),
    )
    # update mode emits one row per user per micro-batch; the LAST row per
    # user carries the final running totals
    pdf = spark.table("t_user_stats").toPandas()
    final = {r.user_id: (r.n_events, r.total_value) for r in pdf.itertuples()}
    assert final[1] == (3, 7.0)       # values 1+2+4
    assert final[2] == (3, 15.0)      # 3 + 5 + 7 across three micro-batches
    assert final[9] == (1, 100.0)     # stateful op has no watermark: late row counts
    # user 2 appears in all three micro-batches ⇒ three update rows prove
    # cross-batch state accumulation
    assert (pdf["user_id"] == 2).sum() == 3


def test_stream_merge_into_parquet(spark, stream_dir, tmp_path):
    from olympic_athletes_etl_spark.streaming.pipeline import (
        merged_state_load,
        stream_merge_into_parquet,
    )

    target = str(tmp_path / "user_state")
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = stream_merge_into_parquet(
        stream.select("user_id", "ts", "event_type", "value"),
        target,
        keys=["user_id"],
        checkpoint_dir=str(tmp_path / "ck_merge"),
    )
    q.awaitTermination()
    state = {r["user_id"]: r for r in merged_state_load(spark, target).collect()}
    # one row per user, carrying each user's LATEST event across batches
    assert set(state) == {1, 2, 9}
    assert state[1]["value"] == 4.0      # user 1's last event (75 min)
    assert state[2]["value"] == 7.0      # user 2 updated by batch 3 (190 min)
    assert state[9]["value"] == 100.0


def test_stream_static_enrichment_matches_batch(spark, stream_dir, tmp_path):
    """Stream-static broadcast join: windowed counts per enriched segment
    over the stream must equal the identical batch pipeline; users absent
    from the dim flow through with a null segment (left join)."""
    from olympic_athletes_etl_spark.streaming import (
        enrich_with_static_dim,
        read_event_stream,
        run_available_now,
        tumbling_counts,
    )

    # static dim covering SOME users only (user 9 missing -> null segment)
    dim = spark.createDataFrame(
        [(1, "heavy"), (2, "light")], "user_id long, segment string"
    )

    def seg_counts(events):
        enriched = enrich_with_static_dim(events, dim)
        return (
            enriched.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "segment", "n")
        )

    streamed = seg_counts(read_event_stream(spark, stream_dir))
    run_available_now(streamed, "seg_counts", output_mode="complete")
    got = {
        (r["window_start"], r["segment"]): r["n"]
        for r in spark.table("seg_counts").collect()
    }
    expected = {
        (r["window_start"], r["segment"]): r["n"]
        for r in seg_counts(
            spark.read.schema(EVENT_SCHEMA).parquet(stream_dir)
        ).collect()
    }
    assert got == expected
    assert None in {k[1] for k in got}  # unmatched user passed through


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Stream-stream self-join with watermarks + time-range condition:
    clicks pair with same-user views within the preceding hour; the
    streamed result must equal the batch twin of the identical logic."""
    from olympic_athletes_etl_spark.streaming import (
        read_event_stream,
        view_click_attribution,
    )

    # dedicated fixture: user 1 has views inside AND outside the 1-hour
    # lag of each click; user 2 clicks with no view at all
    d = str(tmp_path / "attrib_stream")
    os.makedirs(d)
    rows = _mk_events(
        [
            (0, 1, "view", 1),     # pairs with click@30 only (80-0 > 60)
            (30, 1, "click", 2),   # <- views: minute 0
            (75, 1, "view", 3),    # pairs with click@80
            (80, 1, "click", 4),   # <- views: minute 75 (0 is too old)
            (90, 2, "click", 5),   # no views for user 2 -> no rows
        ]
    )
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)

    streamed = view_click_attribution(read_event_stream(spark, d))
    # stream-stream inner joins emit in APPEND mode only
    q = (
        streamed.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.table("attrib").collect()
    }
    expected = {
        (r["click_id"], r["view_id"])
        for r in view_click_attribution(
            spark.read.schema(EVENT_SCHEMA).parquet(d)
        ).collect()
    }
    assert got == expected
    # click@30 <- view@0 ; click@80 <- view@75 (view@0 aged out)
    assert expected == {(1, 0), (3, 2)}


def test_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    import shutil

    from olympic_athletes_etl_spark.streaming.pipeline import (
        dedup_within_watermark,
        run_available_now,
    )

    # two micro-batch files with overlapping event_ids (redelivery)
    src = str(tmp_path / "dup_stream")
    rows1 = [(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
             (2, "2024-01-01 10:01:00", 1, "view", 2.0, "{}")]
    rows2 = [(2, "2024-01-01 10:01:00", 1, "view", 2.0, "{}"),  # dup of id 2
             (3, "2024-01-01 10:02:00", 2, "click", 3.0, "{}")]
    for i, rows in enumerate((rows1, rows2)):
        df = spark.createDataFrame(
            [(e, __import__("datetime").datetime.fromisoformat(t), u, k, v, p)
             for e, t, u, k, v, p in rows],
            schema=EVENT_SCHEMA,
        )
        df.coalesce(1).write.mode("append").parquet(src)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    run_available_now(
        dedup_within_watermark(stream),
        "t_dedup_wm",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ck_dedup"),
    )
    out = spark.table("t_dedup_wm").collect()
    ids = sorted(r["event_id"] for r in out)
    assert ids == [1, 2, 3]  # the redelivered id 2 appears exactly once
    shutil.rmtree(src, ignore_errors=True)


def test_windowed_ohlc_matches_batch(spark, stream_dir, tmp_path):
    from olympic_athletes_etl_spark.streaming.pipeline import windowed_ohlc

    stream = read_event_stream(spark, stream_dir)
    run_available_now(
        windowed_ohlc(stream, "1 hour", "30 minutes"),
        "t_ohlc_all",
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ck_ohlc"),
    )
    got = {
        (r["window_start"], r["event_type"]): (
            r["n"], r["open"], r["high"], r["low"], r["close"]
        )
        for r in spark.table("t_ohlc_all").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (
            r["n"], r["open"], r["high"], r["low"], r["close"]
        )
        for r in windowed_ohlc(
            spark.read.schema(EVENT_SCHEMA).parquet(stream_dir),
            "1 hour",
            "30 minutes",
        ).collect()
    }
    assert got == want
    # the 10:00 view bar saw values 1 (ts+0), 2 (ts+10m), 100 (ts+5m):
    # open = first by time = 1, close = last = 2, high = 100, low = 1
    t0_view = got[(T0, "view")]
    assert t0_view == (3, 1.0, 100.0, 1.0, 2.0)


def test_sessionize_with_state_emits_on_close_and_timeout(spark, tmp_path):
    from olympic_athletes_etl_spark.streaming import (
        read_event_stream,
        run_available_now,
        sessionize_with_state,
    )

    d = str(tmp_path / "sess_stream")
    os.makedirs(d)
    batches = [
        # u1 opens a session (0,10); u2 a singleton at 70
        _mk_events([(0, 1, "view", 1), (10, 1, "view", 2), (70, 2, "click", 3)]),
        # 75 is >30min after 10 -> closes u1's (0,10) immediately
        _mk_events([(75, 1, "view", 4)]),
        # 200 closes u1's (75); watermark reaches 170 -> u2's timeout
        # (70+30=100) fires and emits the singleton
        _mk_events([(200, 1, "view", 5)]),
        # u3 at 300 pushes the watermark to 270 -> u1's (200)+30=230
        # deadline passes, the timeout emits it; u3's own session
        # stays open (nothing ever advances the watermark past 330)
        _mk_events([(300, 3, "view", 6)]),
    ]
    for b in batches:
        spark.createDataFrame(b, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        time.sleep(1.1)
    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    run_available_now(
        sessionize_with_state(stream),
        "closed_sessions",
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ck_sess"),
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("closed_sessions").collect()
    }
    mins = lambda m: T0 + datetime.timedelta(minutes=m)  # noqa: E731
    # closed-by-successor sessions MUST be present (emitted in-line,
    # no watermark dependence)
    assert (1, mins(0), mins(10), 2) in got
    assert (1, mins(75), mins(75), 1) in got
    # closed-by-timeout: u2's singleton (deadline 100 << final watermark)
    assert (2, mins(70), mins(70), 1) in got
    # u3's session never closes — the watermark stops 30min behind 300
    assert not any(u == 3 for (u, *_ ) in got)
    # nothing invented: every emitted row is one of the four true sessions
    true_sessions = {
        (1, mins(0), mins(10), 2),
        (1, mins(75), mins(75), 1),
        (1, mins(200), mins(200), 1),
        (2, mins(70), mins(70), 1),
    }
    assert got <= true_sessions


def test_stream_neardup_screen_matches_batch_loop(spark, sf_dir, tmp_path):
    """The streaming ingest-screen equals the batch stored-postings
    loop: two micro-batches of documents (driven as two availableNow
    runs over one checkpoint — deterministic order + a checkpoint-resume
    exercise in one), each screened against corpus ∪ earlier batches.
    Expected sets computed with the same frame-based helpers the batch
    query gates."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from olympic_athletes_etl_spark.plans.dedup_q import (
        _minhash_bands,
        lsh_postings_store,
        lsh_probe,
        lsh_probe_within,
        shingle_hashes,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        stream_neardup_screen,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bands_all = _minhash_bands(shingle_hashes(docs)).localCheckpoint(True)
    corpus = F.col("doc_id") < 300
    b1 = (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    b2 = F.col("doc_id") >= 400

    postings = str(tmp_path / "postings")
    flags = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    stream_src = str(tmp_path / "docs_stream")
    lsh_postings_store(bands_all.filter(corpus), postings)

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def run_batch(pred):
        docs.filter(pred).coalesce(1).write.mode("append").parquet(stream_src)
        stream = spark.readStream.schema(schema).parquet(stream_src)
        q = stream_neardup_screen(stream, postings, flags, ckpt)
        q.awaitTermination(120)

    run_batch(b1)  # screens vs corpus, then appends its postings
    run_batch(b2)  # screens vs corpus ∪ b1

    got = {
        (r["doc_new"], r["doc_old"])
        for r in spark.read.parquet(flags).collect()
    }
    want_b1 = {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe(
            bands_all.filter(b1), bands_all.filter(corpus)
        ).collect()
    } | {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe_within(bands_all.filter(b1)).collect()
    }
    want_b2 = {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe(
            bands_all.filter(b2), bands_all.filter(corpus | b1)
        ).collect()
    } | {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe_within(bands_all.filter(b2)).collect()
    }
    assert got == want_b1 | want_b2
    # the append loop mattered: batch2 collided with BATCH1 docs, which
    # only the appended postings could have surfaced
    assert any(300 <= old < 400 for _new, old in want_b2)


def test_stream_neardup_screen_flags_within_batch(spark, sf_dir, tmp_path):
    """Two near-duplicate documents arriving in the SAME micro-batch:
    exactly one survives. The store probe alone cannot see this pair
    (neither doc is in the postings yet) — before the lsh_probe_within
    composition both were admitted. The later id flags against the
    earlier, the earlier is the survivor, and the pair does NOT collide
    with the corpus (asserted), so the flag can only have come from the
    self-probe."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from olympic_athletes_etl_spark.plans.dedup_q import (
        _minhash_bands,
        lsh_postings_store,
        shingle_hashes,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        stream_neardup_screen,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    lsh_postings_store(
        _minhash_bands(shingle_hashes(docs.filter(F.col("doc_id") < 100))),
        str(tmp_path / "postings"),
    )
    # identical text ⇒ identical signatures ⇒ collision in every band;
    # the vocabulary is disjoint from the corpus's, so no store hits.
    twin_text = "zebra quartz vortex nymph glyph jumbo walnut fjord onyx"
    batch = spark.createDataFrame(
        [(900, twin_text), (901, twin_text)],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    src = str(tmp_path / "docs_stream")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = stream_neardup_screen(
        stream,
        str(tmp_path / "postings"),
        str(tmp_path / "flags"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    flagged = {
        (r["doc_new"], r["doc_old"])
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }
    assert flagged == {(901, 900)}  # later vs earlier, once, no corpus hit
    survivors = {900, 901} - {new for new, _old in flagged}
    assert survivors == {900}


def test_stream_hll_rollup_matches_batch_and_survives_replay(
    spark, sf_dir, tmp_path
):
    """The streaming continuous aggregate equals the batch sketch store:
    two micro-batches of events (two availableNow runs over one
    checkpoint — order + resume in one) fold daily HLL partials into
    the store; serving equals a one-shot batch build over all events.
    Then the effectively-once claim: re-appending an already-folded
    batch's partials (a simulated foreachBatch replay) changes NOTHING
    — max-merge idempotence on the real store."""
    from olympic_athletes_etl_spark.plans.sketch_q import (
        hll_rollup_append,
        hll_rollup_partials,
        hll_rollup_serve,
        hll_rollup_store,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        stream_hll_rollup_ingest,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b1 = F.col("user_id") % 2 == 0
    store = str(tmp_path / "regs")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "events_stream")

    def run_batch(pred):
        events.filter(pred).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = stream_hll_rollup_ingest(stream, store, ckpt)
        q.awaitTermination(120)

    run_batch(b1)
    run_batch(~b1)

    got = sorted(tuple(r) for r in hll_rollup_serve(spark, store).collect())
    one_shot = str(tmp_path / "oneshot")
    hll_rollup_store(hll_rollup_partials(events), one_shot)
    want = sorted(tuple(r) for r in hll_rollup_serve(spark, one_shot).collect())
    assert got == want and len(got) > 0

    # simulated replay of batch 1: idempotent fold, estimates unchanged
    hll_rollup_append(hll_rollup_partials(events.filter(b1)), store)
    assert (
        sorted(tuple(r) for r in hll_rollup_serve(spark, store).collect())
        == want
    )


def test_stream_rollup_ingest_exactly_once_via_dynamic_overwrite(
    spark, sf_dir, tmp_path
):
    """The exact continuous aggregate: two micro-batches of orders fold
    monthly partials into batch_id partitions; serving merges across
    them and equals the full recompute. Then the exactly-once claim: a
    REPLAYED fold (same batch_id, same rows — what a checkpoint resume
    re-delivers) dynamic-overwrites its own partition and every served
    value is unchanged, where a plain append would double (the batch
    rollup's double-append test shows that failure mode)."""
    from olympic_athletes_etl_spark.plans.relational import (
        _monthly_partials,
        rollup_serve,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        stream_rollup_ingest,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    b1 = F.col("o_orderkey") % 2 == 0
    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "orders_stream")

    def run_batch(pred):
        orders.filter(pred).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_rollup_ingest(stream, store, ckpt)
        q.awaitTermination(120)

    run_batch(b1)
    run_batch(~b1)

    got = sorted(tuple(r) for r in rollup_serve(spark, store).collect())
    want = sorted(
        tuple(r)
        for r in _monthly_partials(orders)
        .withColumn(
            "avg_cents", F.expr("CAST(total_cents div n_orders AS BIGINT)")
        )
        .collect()
    )
    assert got == want and len(got) > 0

    # simulated checkpoint replay of batch 0: same batch_id, same rows,
    # same dynamic-overwrite write — the fold body verbatim
    from olympic_athletes_etl_spark.streaming.pipeline import rollup_fold_batch

    rollup_fold_batch(orders.filter(b1), 0, store)
    assert (
        sorted(tuple(r) for r in rollup_serve(spark, store).collect()) == want
    )


def test_stream_rollup_compact_enforces_replay_high_water_mark(
    spark, sf_dir, tmp_path
):
    """The round-9 gap made real: compaction of the streaming store folds
    only COMMITTED batches into the reserved partition and commits the
    high-water mark atomically with the fold, so a checkpoint replay of
    an already-folded batch is a NO-OP — before this, the replayed batch
    re-created its (now deleted) partition and every folded month
    double-counted. Also pins: the folded store keeps the batch_id
    layout (rollup_serve still reads it), the batch compactor refuses
    the streaming layout, and compaction refuses while a query is live
    on the checkpoint."""
    import pytest

    from olympic_athletes_etl_spark.operators.store import read_manifest
    from olympic_athletes_etl_spark.plans.relational import (
        _monthly_partials,
        rollup_compact,
        rollup_serve,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        rollup_fold_batch,
        stream_rollup_compact,
        stream_rollup_ingest,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    b1 = F.col("o_orderkey") % 2 == 0
    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "orders_stream")

    def run_batch(pred):
        orders.filter(pred).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_rollup_ingest(stream, store, ckpt)
        q.awaitTermination(120)

    run_batch(b1)
    run_batch(~b1)
    want = sorted(tuple(r) for r in rollup_serve(spark, store).collect())

    # the BATCH compactor refuses the streaming (batch_id) layout
    with pytest.raises(ValueError, match="stream_fold_compact"):
        rollup_compact(spark, store)

    stream_rollup_compact(spark, store, ckpt)
    man = read_manifest(store)
    assert man["hwm"] == 1  # both availableNow batches committed
    # folded: one reserved partition, serve unchanged
    assert sorted(tuple(r) for r in rollup_serve(spark, store).collect()) == want

    # checkpoint replay of batch 0 AFTER compaction: the fold must no-op
    # (its partition was folded away; re-creating it would double-count)
    rollup_fold_batch(orders.filter(b1), 0, store)
    assert sorted(tuple(r) for r in rollup_serve(spark, store).collect()) == want

    # compaction refuses while a query is live on the checkpoint
    import os

    from olympic_athletes_etl_spark.streaming import pipeline as pl

    class _Live:
        isActive = True

    pl._ROLLUP_STREAMS[os.path.normpath(ckpt)] = _Live()
    with pytest.raises(RuntimeError, match="live on this checkpoint"):
        stream_rollup_compact(spark, store, ckpt)
    del pl._ROLLUP_STREAMS[os.path.normpath(ckpt)]

    # a NEW batch (id > hwm) still folds in normally and compacts again
    run_batch(F.col("o_orderkey") % 97 == 3)  # a new slice as batch 2
    got = sorted(tuple(r) for r in rollup_serve(spark, store).collect())
    assert got != want  # batch 2's rows actually landed on top of the fold
    stream_rollup_compact(spark, store, ckpt)
    assert read_manifest(store)["hwm"] == 2
    assert sorted(tuple(r) for r in rollup_serve(spark, store).collect()) == got
    # replay of batch 2 post-compaction: no-op again
    rollup_fold_batch(orders.filter(F.col("o_orderkey") % 97 == 3), 2, store)
    assert sorted(tuple(r) for r in rollup_serve(spark, store).collect()) == got


def test_stream_qhist_ingest_matches_batch_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """The generalized exactly-once fold (stream_fold_batch) applied to
    the round-10 quantile-histogram family: two micro-batches of orders
    fold (month, bucket) counts into batch_id partitions; the served
    p50/p95 equal the one-shot batch build. After stream_qhist_compact,
    a replayed fold is a no-op (same high-water-mark protocol as the
    exact rollup — proving the machinery is family-agnostic, not
    rollup-specific)."""
    from olympic_athletes_etl_spark.operators.store import read_manifest
    from olympic_athletes_etl_spark.plans.relational import (
        QHIST,
        _qhist_partials,
        qhist_rollup_serve,
        qhist_rollup_serve_range,
        qhist_rollup_store,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.streaming.pipeline import (
        stream_fold_batch,
        stream_qhist_compact,
        stream_qhist_ingest,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    b1 = F.col("o_orderkey") % 2 == 0
    store = str(tmp_path / "qhist")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "orders_stream")

    def run_batch(pred):
        orders.filter(pred).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(orders.schema).parquet(src)
        q = stream_qhist_ingest(stream, store, ckpt)
        q.awaitTermination(120)

    run_batch(b1)
    run_batch(~b1)

    got = sorted(tuple(r) for r in qhist_rollup_serve(spark, store).collect())
    one_shot = str(tmp_path / "oneshot")
    qhist_rollup_store(_qhist_partials(orders), one_shot)
    want = sorted(
        tuple(r) for r in qhist_rollup_serve(spark, one_shot).collect()
    )
    assert got == want and len(got) > 0
    # the range serve also reads the streaming store directly
    assert (
        qhist_rollup_serve_range(spark, store, "1995-01", "1995-12").collect()
        == qhist_rollup_serve_range(spark, one_shot, "1995-01", "1995-12").collect()
    )

    stream_qhist_compact(spark, store, ckpt)
    assert read_manifest(store)["hwm"] == 1
    assert sorted(
        tuple(r) for r in qhist_rollup_serve(spark, store).collect()
    ) == want
    # replay of batch 0 after compaction: no-op under the hwm guard
    stream_fold_batch(orders.filter(b1), 0, store, QHIST)
    assert sorted(
        tuple(r) for r in qhist_rollup_serve(spark, store).collect()
    ) == want
