"""Event-stream analytics over the ``events`` table (batch form).

The reference is a weekly batch job with no streaming operators
(SURVEY.md §2.10) — these are beyond-reference analytics expressed as
deterministic batch queries, correctness-gated against DuckDB. Where a
docstring names a Structured Streaming twin (``window``,
``session_window``, watermarks) it states the equivalent semantics;
the package ships no streaming code.

``events.ts`` arrives as whatever the driver round shipped physically
(nanos→truncated-to-micros in r1-2, native micros/TIMESTAMP_NTZ in r3+) —
plans.tables normalizes both to DuckDB-identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load


# --------------------------------------------------------------------------
# Tumbling window aggregation
# --------------------------------------------------------------------------
@query(
    "e_tumbling_window",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS VARCHAR) AS win_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def e_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling-window counts/sums per event type — the batch
    twin of `groupBy(window(ts, '15 minutes'))` in Structured Streaming.
    Both engines align buckets to the epoch. Shuffle keys on
    (window, type): naturally well-distributed; at 100 TB add the date
    partition column to the key for partition-pruned scans."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT))"
                " AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# Sessionization (gaps-and-islands, 30-minute inactivity gap)
# --------------------------------------------------------------------------
def _session_ctes() -> str:
    """Shared gaps-and-islands CTE chain (expects ``events``; yields
    ``sessions(user_id, ts, event_id, session_id)``). Single source of
    truth for every session-consuming oracle (e_sessionize,
    e_peak_concurrency, e_session_durations) — a gap-threshold edit
    cannot desynchronize them."""
    return '''marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             -- CAST: DuckDB widens integer sum() (even windowed) to HUGEINT,
             -- which the driver hashes differently from BIGINT; session
             -- counters are tiny, so narrowing is lossless.
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM marked
    )'''


def _sessionized(events: DataFrame) -> DataFrame:
    """Spark twin of _session_ctes: events + (session_id) via one
    user-keyed shuffle reused across the lag and running-sum windows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return events.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(run)
    )


@query(
    "e_sessionize",
    oracle=f"""
    WITH {_session_ctes()}
    SELECT user_id, session_id, count(*) AS n_events,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) AS VARCHAR) AS session_end
    FROM sessions GROUP BY 1, 2
    """,
)
def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks after 30 min of
    user inactivity. lag → flag → running sum → per-session agg; all
    windows partition by user_id (one shuffle, reused across both window
    steps and the final agg — same key). Streaming twin:
    ``session_window(ts, '30 minutes')``.

    The one shuffle is established by ``spread_on`` user_id (tables.
    spread, guide §2.5/§2.4): its hash partitioning satisfies the
    windows' and the final agg's required distribution, so the plan
    still has exactly ONE exchange — but as an explicit
    REPARTITION_BY_NUM it is not AQE-coalesced to a near-single
    partition at bench scale the way the window's own exchange was
    (measured −41%), and at any splitting layout it is a no-op and the
    window inserts its usual exchange. Window order (ts, event_id) is
    total per user, so values are partition-layout-invariant."""
    events = load(spark, sf_dir, "events", spread_on="user_id")
    return (
        _sessionized(events)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").cast("string").alias("session_start"),
            F.max("ts").cast("string").alias("session_end"),
        )
    )


# --------------------------------------------------------------------------
# Latest-event-per-key (streaming upsert compaction, batch form)
# --------------------------------------------------------------------------
@query(
    "e_latest_per_key",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS VARCHAR) AS ts, event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def e_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user (deterministic: ts desc, event_id desc) —
    the batch form of streaming dedup/upsert compaction. Window rank +
    rn=1 filter benefits from Spark's rank-limit pushdown."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.col("ts").cast("string").alias("ts"), "event_type")
    )


# --------------------------------------------------------------------------
# JSON property extraction
# --------------------------------------------------------------------------
@query(
    "e_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS k_bucket
    FROM events
    """,
)
def e_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the string props column (beyond
    reference — it has no JSON; a real event pipeline always does).
    get_json_object is JVM-side; for many fields prefer from_json with an
    explicit schema (single parse)."""
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select(
        "event_id",
        k.alias("k"),
        F.floor(k / 10).cast("bigint").alias("k_bucket"),
    )


# --------------------------------------------------------------------------
# Sliding windows (1 hour window / 15 minute slide)
# --------------------------------------------------------------------------
@query(
    "e_sliding_window",
    oracle="""
    SELECT CAST(make_timestamp(CAST((CAST(floor(epoch(ts) / 900) AS BIGINT) - k)
                                    * 900 * 1000000 AS BIGINT)) AS VARCHAR)
             AS win_start,
           event_type,
           count(*) AS n
    FROM events, (SELECT unnest(range(0, 4)) AS k)
    GROUP BY 1, 2
    """,
)
def e_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in
    window/slide = 4 overlapping windows (the oracle enumerates the same
    4 epoch-aligned starts arithmetically). Batch twin of a streaming
    ``window(ts, '1 hour', '15 minutes')`` count; shuffle keys on
    (window, type) AFTER the
    4× in-row expansion — state and shuffle scale linearly with the
    overlap factor, the scan does not re-read."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n",
        )
    )


# --------------------------------------------------------------------------
# As-of join (backward): each purchase ⟵ the user's latest prior view
# --------------------------------------------------------------------------
@query(
    "e_asof_join",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts,
           CAST((SELECT max(v.ts) FROM events v
                 WHERE v.user_id = p.user_id
                   AND v.event_type = 'view'
                   AND v.ts <= p.ts) AS VARCHAR) AS last_view_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def e_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITHOUT a range join: union both sides, one
    window partitioned by user ordered by ts, forward-fill the view
    timestamp, keep purchase rows. Spark has no native ASOF; a naive
    implementation is an O(n·m) theta join — this shape is ONE shuffle
    on user_id and scales linearly (the standard trades-ffill-for-range
    pattern; same Window machinery as W5). Ties (view.ts == purchase.ts)
    count as 'prior' — the union sorts views before purchases at equal
    ts via a type rank."""
    events = load(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # at equal ts the view must land before the purchase in the scan
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side_rank"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side_rank", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("last_view_ts", F.last("view_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("purchase_ts"),
            F.col("last_view_ts").cast("string").alias("last_view_ts"),
        )
    )


# --------------------------------------------------------------------------
# Range join via bucketing: events ⨝ hour-grid maintenance windows
# --------------------------------------------------------------------------
@query(
    "e_range_join_buckets",
    oracle="""
    WITH wins AS (
      SELECT CAST(k AS BIGINT) AS win_id,
             make_timestamp(k * 7200 * 1000000) AS win_start,
             make_timestamp((k * 7200 + 5400) * 1000000) AS win_end
      FROM (SELECT unnest(range(236676, 236689)) AS k)
    )
    SELECT w.win_id, count(e.event_id) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM wins w LEFT JOIN events e
      ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_id
    """,
)
def e_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join executed as an EQUI join: 90-minute
    windows on a 2-hour grid; each event computes its candidate grid
    bucket (ts div grid) and joins on the bucket id, then the residual
    containment predicate filters. A plain `e.ts BETWEEN w.start AND
    w.end` join would be a broadcast-nested-loop over every (event ×
    window) pair — the bucket key makes it a hash join whose probe side
    is each event once (intervals never span a grid cell here; spanning
    intervals explode to one row per touched cell). The window dim is
    built with sequence() — no driver-side loop."""
    events = load(spark, sf_dir, "events")
    # 13 two-hour-grid windows inside the testdata's Jan-2024 span
    # (bucket 236676 == 2024-01-01T00:00Z);
    # win k: [k*7200, k*7200 + 5400) seconds since epoch
    wins = spark.range(236676, 236689).select(
        F.col("id").alias("win_id"),
        F.timestamp_seconds(F.col("id") * 7200).alias("win_start"),
        F.timestamp_seconds(F.col("id") * 7200 + 5400).alias("win_end"),
    )
    ev = events.select(
        "event_id", "ts", "value", (F.unix_timestamp("ts") / 7200).cast("bigint").alias("bucket")
    )
    joined = F.broadcast(wins).join(
        ev,
        (F.col("bucket") == F.col("win_id"))
        & (F.col("ts") >= F.col("win_start"))
        & (F.col("ts") < F.col("win_end")),
        "left",
    )
    return joined.groupBy("win_id").agg(
        F.count("event_id").alias("n_events"),
        F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT))"
                " AS DOUBLE) / 100.0"
            ).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Funnel analysis (ordered-step conversion)
# --------------------------------------------------------------------------
@query(
    "e_funnel",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
             min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
           count(*) FILTER (WHERE t_click > t_view) AS n_view_click,
           count(*) FILTER (WHERE t_click > t_view AND t_purchase > t_click)
             AS n_view_click_purchase
    FROM steps
    """,
)
def e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel: first occurrence of
    each step per user (conditional min — ONE shuffle on user_id), then
    ordered-step predicates. NULL propagation does the right thing: a
    missing earlier step nulls the comparison and the user drops out of
    deeper stages. At 100 TB this is the standard funnel plan — no
    self-joins, no window over raw events."""
    events = load(spark, sf_dir, "events")
    steps = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = F.col("t_click") > F.col("t_view")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return steps.agg(
        F.sum(viewed.cast("long")).alias("n_view"),
        F.sum(F.coalesce(clicked, F.lit(False)).cast("long")).alias("n_view_click"),
        F.sum(F.coalesce(purchased, F.lit(False)).cast("long")).alias(
            "n_view_click_purchase"
        ),
    )


# --------------------------------------------------------------------------
# Cohort retention (first-seen day × activity-day offset)
# --------------------------------------------------------------------------
@query(
    "e_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, day_offset,
           count(*) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY 1, 2
    """,
)
def e_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    active-day offset (first week). Two shuffles on user_id (cohort agg +
    the distinct), then a small group — the cohort join broadcasts the
    (user → cohort_day) side when user-cardinality allows; at higher
    cardinality it co-partitions on user_id with no extra exchange."""
    events = load(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = (
        events.join(firsts, on="user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .dropDuplicates()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(F.col("cohort_day").cast("string").alias("cohort_day"), "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------
# Outlier detection (per-type z-score on exact integer moments)
# --------------------------------------------------------------------------
@query(
    "e_value_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             sum(CAST(round(value * 100) AS BIGINT)) AS s1,
             sum(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT)) AS s2,
             count(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (CAST(round(e.value * 100) AS BIGINT) - CAST(m.s1 AS DOUBLE) / m.n)
             / sqrt((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                    / (m.n - 1)) AS zscore
    FROM events e JOIN m ON m.event_type = e.event_type
    WHERE abs((CAST(round(e.value * 100) AS BIGINT) - CAST(m.s1 AS DOUBLE) / m.n)
              / sqrt((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                     / (m.n - 1))) > 2.5
    """,
)
def e_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5). The group moments are
    EXACT integer sums (value-cents and cents², both bigint — double
    moment sums differ across engines in the last bit, which would
    perturb every z-score); the double math after aggregation is the
    same expression over identical integers ⇒ bit-identical. One
    aggregate + one broadcast join of the 5-row stats dim — the standard
    two-pass outlier plan (Welford-style single-pass exists but its
    running doubles are summation-order-dependent — wrong for an
    oracle-checked surface)."""
    events = load(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    m = events.groupBy("event_type").agg(
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    z = (cents - mean) / F.sqrt(var)
    return (
        events.join(F.broadcast(m), on="event_type")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.5)
        .select("event_id", "event_type", "zscore")
    )


# --------------------------------------------------------------------------
# Rolling time-range window (1 hour preceding, per user)
# --------------------------------------------------------------------------
@query(
    "e_rolling_1h",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
                      AS BIGINT) / 100.0, 2) AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def e_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling 1-hour lookback per user (count + value sum) —
    a RANGE frame keyed on event TIME, not row position: every frame
    boundary is ts − 1h regardless of how many events landed in between
    (rows-frames can't express this). Ordering key is unix MICROseconds
    so both engines cut frames at identical instants (``ts`` arrives as
    TIMESTAMP_NTZ from the round-3 parquet — the cast to TIMESTAMP is
    value-preserving under the UTC-pinned session and required by
    ``unix_micros``); values sum as
    exact integer cents inside the frame (double sums over a frame are
    order-sensitive, integer sums are not) and divide once on output.
    One shuffle on user_id; frame state is bounded by events-per-hour
    per user, not partition size."""
    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum(cents).over(w) / 100.0, 2).alias("value_1h"),
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (per-user Markov bigrams)
# --------------------------------------------------------------------------
@query(
    "e_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS curr_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, curr_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, curr_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY prev_type), 4) AS p
    FROM pairs
    """,
)
def e_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() pairs each event with its predecessor (one shuffle
    keyed on user_id — the natural fact key), then a hash-aggregate on
    the (prev, curr) pair. Row-probability normalization runs as a
    window over the aggregated matrix, which is at most |event_types|²
    rows — bounded-dim, so the second window is free at any corpus
    scale. The HUGEINT widening of the windowed sum stays internal to
    the double division (never an output column)."""
    events = load(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("curr_type"),
            F.lag("event_type").over(seq_w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "curr_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_w = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "curr_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(row_w), 4).alias("p"),
    )


# --------------------------------------------------------------------------
# Fixed-width value histogram (integer-cents bucketing)
# --------------------------------------------------------------------------
# Bucket width in cents: 2500 = $25.00. `value` is cent-valued (2 decimal
# places), so bucketing and summing run entirely on exact BIGINT cents —
# no float comparison anywhere near a bucket boundary.
_HIST_WIDTH_CENTS = 2500


@query(
    "e_value_histogram",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
    )
    SELECT CAST(c // {_HIST_WIDTH_CENTS} AS INT) AS bucket,
           CAST((c // {_HIST_WIDTH_CENTS}) * {_HIST_WIDTH_CENTS} AS DOUBLE)
             / 100 AS bucket_lo,
           count(*) AS n,
           round(CAST(sum(c) AS BIGINT) / 100.0, 2) AS total_value
    FROM cents GROUP BY 1, 2
    """,
)
def e_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values ($25 buckets) — the
    profiling primitive behind outlier triage and equi-width binning.
    Values are converted once to exact integer cents, so the bucket id
    is integer division (no float-boundary ambiguity cross-engine) and
    the per-bucket sum is an exact BIGINT re-scaled only at output. One
    map-side-combined hash-aggregate on a ~20-value key: the shuffle
    carries |buckets| rows per partition regardless of input scale."""
    events = load(spark, sf_dir, "events")
    cents = events.select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    bucket = F.expr(f"CAST(c DIV {_HIST_WIDTH_CENTS} AS INT)")
    return (
        cents.select(
            bucket.alias("bucket"),
            (
                F.expr(f"(c DIV {_HIST_WIDTH_CENTS}) * {_HIST_WIDTH_CENTS}").cast(
                    "double"
                )
                / 100
            ).alias("bucket_lo"),
            "c",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c") / 100.0, 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Calendar-spine gap detection (missing active days per user)
# --------------------------------------------------------------------------
@query(
    "e_gap_days",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    span AS (
      SELECT user_id, min(d) AS d0, max(d) AS d1 FROM act GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM span
    )
    SELECT s.user_id, CAST(s.d AS VARCHAR) AS missing_date
    FROM spine s
    WHERE NOT EXISTS (SELECT 1 FROM act a
                      WHERE a.user_id = s.user_id AND a.d = s.d)
    """,
)
def e_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap detection: for each user, the days inside their
    [first event, last event] span with ZERO events — the generate-then-
    anti-join pattern (Spark `sequence` + explode == DuckDB
    generate_series) that also powers time-series gap filling. Spine size
    is span-days per user (bounded by the date range, not event count),
    the anti-join keys on (user_id, day) — well-distributed — and the
    observed-day set is pre-shrunk by DISTINCT before both the span
    aggregate and the join. Dates stringify identically on both engines.
    """
    events = load(spark, sf_dir, "events")
    act = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    span = act.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    return spine.join(act, ["user_id", "d"], "left_anti").select(
        "user_id", F.col("d").cast("string").alias("missing_date")
    )


# --------------------------------------------------------------------------
# Out-of-order arrival diagnostic (watermark sizing input)
# --------------------------------------------------------------------------
@query(
    "e_late_arrivals",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prior
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE ts < max_prior) AS BIGINT) AS n_late,
           CAST(coalesce(max(CASE WHEN ts < max_prior
                                  THEN epoch_us(max_prior) - epoch_us(ts)
                             END), 0) AS BIGINT) AS max_late_us
    FROM seq GROUP BY 1
    """,
)
def e_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival profile per user: an event is LATE when its
    event time precedes the max event time already seen in arrival order
    (event_id = ingestion sequence). n_late and the worst lateness (in
    exact integer MICROseconds — never a double of seconds) are exactly
    the numbers that size a Structured Streaming watermark: withWatermark
    must exceed max_late to not drop data. One shuffle on user_id; the
    running max reuses it for the window and the aggregate."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    with_prior = events.withColumn("max_prior", F.max("ts").over(w))
    late = F.col("ts") < F.col("max_prior")
    return with_prior.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late.cast("long")).alias("n_late"),
        F.coalesce(
            F.max(F.when(late, us("max_prior") - us("ts"))), F.lit(0)
        ).alias("max_late_us"),
    )


# --------------------------------------------------------------------------
# Day-of-week × hour seasonality profile
# --------------------------------------------------------------------------
@query(
    "e_dow_hour_profile",
    oracle="""
    SELECT isodow(ts) AS dow, hour(ts) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def e_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heat-map input: event count and exact value-cents per
    (ISO day-of-week, hour). The date-part trap pinned here: Spark's
    ``dayofweek`` is Sunday=1 while DuckDB's ``dow`` is Sunday=0 — both
    sides use the ISO convention instead (Monday=1; Spark ``weekday``+1
    == DuckDB ``isodow``). One shuffle over at most 7×24 groups;
    map-side partial aggregation collapses virtually everything before
    it."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            (F.weekday("ts") + 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "value_cents"
            ),
        )
    )


# --------------------------------------------------------------------------
# SCD Type-2 interval construction (dimension versioning)
# --------------------------------------------------------------------------
@query(
    "r_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           CAST(ts AS VARCHAR) AS valid_from,
           CAST(lead(ts) OVER w AS VARCHAR) AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def r_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) build from an event stream:
    collapse each user's event_type history into validity intervals
    [valid_from, valid_to) with an is_current flag — the dimension-
    versioning shape every warehouse maintains, and the batch
    counterpart of the r_merge_upsert CDC sink. Change detection (lag)
    and interval closing (lead) both partition on user_id, so the whole
    query is ONE shuffle reused across two window passes; ordering is
    total (ts, event_id) for engine-identical interval boundaries."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.withColumn("prev", F.lag("event_type").over(w))
    changes = ordered.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").cast("string").alias("valid_from"),
        nxt.cast("string").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day active users (WAU per day)
# --------------------------------------------------------------------------
@query(
    "e_weekly_active_users",
    oracle="""
    WITH act AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM act)
    SELECT CAST(days.d AS VARCHAR) AS day,
           CAST(count(DISTINCT act.user_id) AS BIGINT) AS wau
    FROM days
    JOIN act ON act.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
)
def e_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per active day (WAU) — the
    engagement metric whose shape matters: COUNT(DISTINCT) is not
    supported over Spark window frames, and the naive BETWEEN join
    against a day spine compiles to a broadcast NESTED-LOOP (every
    activity row tested against every day). Instead each (day, user)
    activity row EXPLODES into the exactly-7 target days it contributes
    to (sequence(d, d+6)) and EQUI-joins the observed-day spine — a
    hash join keyed on the day, ~365 well-filled groups per year at any
    corpus size; skew equals traffic seasonality, which AQE absorbs.
    Both inputs are pre-shrunk to DISTINCT (day, user) / day before the
    explode, so the ×7 fan-out prices on active pairs, never raw
    events. The oracle keeps the declarative BETWEEN form — pinning
    that the explode rewrite is semantics-preserving. An approximate
    alternative (HLL sketch per day, merged over 7) lives in
    operators/sketches.py for when exactness can yield."""
    events = load(spark, sf_dir, "events")
    act = events.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = act.select(F.col("d").alias("day")).distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        contrib.join(days, "day")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# --------------------------------------------------------------------------
# Pareto concentration curve (activity share by user rank)
# --------------------------------------------------------------------------
@query(
    "e_user_pareto",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS n_ev FROM events GROUP BY 1
    ),
    by_level AS (
      SELECT n_ev, count(*) AS n_users, n_ev * count(*) AS level_ev
      FROM per_user GROUP BY 1
    ),
    tot AS (
      SELECT sum(n_users) AS total_users, sum(level_ev) AS total_ev
      FROM by_level
    ),
    curve AS (
      SELECT n_ev, CAST(n_users AS BIGINT) AS n_users,
             CAST(sum(n_users) OVER (ORDER BY n_ev DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_users,
             CAST(sum(level_ev) OVER (ORDER BY n_ev DESC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_ev
      FROM by_level
    )
    SELECT n_ev, n_users, cum_users, cum_ev,
           round(100.0 * cum_users / total_users, 4) AS user_pct,
           round(100.0 * cum_ev / total_ev, 4) AS cum_pct
    FROM curve, tot
    """,
)
def e_user_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve: "the top X% of users produce Y% of
    events" — the skew diagnostic that motivates salting
    (j_salted_enrich) and per-key state bounds. Evaluated at ACTIVITY-
    LEVEL granularity, not per user: users are first aggregated to
    (n_ev → user count, event mass) and the rank/cumsum window runs
    over that per-level curve. Tie order between equal-activity users
    is arbitrary anyway, so the level curve loses nothing — and its
    cardinality is the number of DISTINCT per-user event counts, which
    is bounded by max-events-per-user (sub-√N by a counting argument:
    k distinct levels need ≥ k(k+1)/2 events), not by user count. At
    10⁸ users the old per-user global cumsum was a single-partition
    sort over every user (the round-3 verdict's scale flag); the level
    curve is thousands of rows at any data size. Cumulative sums are
    exact bigints; the two percentages divide identical doubles once."""
    events = load(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    by_level = per_user.groupBy("n_ev").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.col("n_ev") * F.count(F.lit(1))).alias("level_ev"),
    )
    tot = by_level.agg(
        F.sum("n_users").alias("total_users"), F.sum("level_ev").alias("total_ev")
    )
    # Unpartitioned window over the per-LEVEL aggregate (bounded rows —
    # the e_burst_minutes argument); the "No Partition Defined" warning
    # is accepted here exactly as in q_revenue_trend_mom.
    run = Window.orderBy(F.desc("n_ev")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        by_level.withColumn("cum_users", F.sum("n_users").over(run))
        .withColumn("cum_ev", F.sum("level_ev").over(run))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_ev",
            "n_users",
            "cum_users",
            "cum_ev",
            F.round(100.0 * F.col("cum_users") / F.col("total_users"), 4).alias(
                "user_pct"
            ),
            F.round(100.0 * F.col("cum_ev") / F.col("total_ev"), 4).alias(
                "cum_pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# Inter-event cadence stats (gap distribution per event type)
# --------------------------------------------------------------------------
@query(
    "e_inter_event_time",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
               AS gap
      FROM events
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS sum_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us,
           median(gap) AS median_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY 1
    """,
)
def e_inter_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event cadence: the gap from each event to the SAME
    user's previous event (any type), aggregated by the current event's
    type — count/sum/max in exact integer microseconds plus the exact
    median (interpolated halves of two integers are the same double on
    both engines; a_group_median precedent). This is the arrival-rate
    profile that sizes streaming trigger intervals and session-gap
    thresholds. One user-keyed shuffle for the lag window, then a 5-row
    aggregate; the median's per-group sort runs on the already-shuffled
    gap column."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    g = events.select("event_type", (us - prev_us).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sum_gap_us"),
        F.max("gap").alias("max_gap_us"),
        F.median("gap").alias("median_gap_us"),
    )


# --------------------------------------------------------------------------
# Burst detection (minutes spiking above the trailing hour)
# --------------------------------------------------------------------------
@query(
    "e_burst_minutes",
    oracle="""
    WITH pm AS (
      SELECT time_bucket(INTERVAL '1 minute', ts) AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    trail AS (
      SELECT minute, n,
             CAST(coalesce(sum(n) OVER (ORDER BY epoch_us(minute)
                               RANGE BETWEEN 3600000000 PRECEDING
                                         AND 60000000 PRECEDING), 0)
                  AS BIGINT) AS trail_sum,
             CAST(count(*) OVER (ORDER BY epoch_us(minute)
                                 RANGE BETWEEN 3600000000 PRECEDING
                                           AND 60000000 PRECEDING)
                  AS BIGINT) AS trail_n
      FROM pm
    )
    SELECT CAST(minute AS VARCHAR) AS minute, n, trail_sum, trail_n
    FROM trail
    WHERE minute >= (SELECT min(minute) + INTERVAL 1 HOUR FROM pm)
      AND n >= 3
      AND n * 60 > 3 * trail_sum
    """,
)
def e_burst_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: minutes whose event count exceeds 3× the
    trailing hour's per-minute RATE — trail_sum divided by the fixed
    60-minute window, NOT by the count of active minutes (the active-
    minute mean is inflated after quiet periods and misses real bursts:
    one busy minute 30 min ago would set the bar at 3× that single
    minute — caught by the round-3 second self-review). Minutes inside
    the first hour of data are excluded so the window is always fully
    elapsed. An EMPTY trailing window (the first active minute after a
    >1h dead-air gap) coalesces trail_sum to 0, so a resumption spike
    after total silence — arguably the clearest burst — is flagged
    whenever it clears the absolute floor (round-4 fix; previously the
    NULL sum silently filtered those minutes in both engines). An absolute floor (n ≥ 3) keeps sparse traffic from
    degenerating into everything-is-a-burst — any active minute beats
    a near-zero baseline by rate alone. The spike test is EXACT integer
    cross-multiplication (n·60 > 3·trail_sum) — never a double average
    compare that could flip on the boundary. Aggregate-then-window: the
    RANGE frame orders the per-MINUTE aggregate (bounded rows/day), not
    raw events; one shuffle for the minute aggregate, a global-ordered
    window over the tiny minute table (time-ordered global windows over
    per-time-bucket aggregates range-partition cleanly at scale)."""
    events = load(spark, sf_dir, "events")
    minute = F.date_trunc("minute", F.col("ts").cast("timestamp"))
    pm = events.groupBy(minute.alias("minute")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.orderBy(F.unix_micros(F.col("minute").cast("timestamp")))
        .rangeBetween(-3_600_000_000, -60_000_000)
    )
    trail = pm.select(
        "minute",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )
    first_minute = pm.agg(F.min("minute").alias("m0"))
    return (
        trail.crossJoin(F.broadcast(first_minute))
        .filter(
            (F.col("minute") >= F.col("m0") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("n") >= 3)
            & (F.col("n") * 60 > 3 * F.col("trail_sum"))
        )
        .select(
            F.col("minute").cast("string").alias("minute"),
            "n", "trail_sum", "trail_n",
        )
    )


# --------------------------------------------------------------------------
# Peak concurrent sessions (sweep line over session intervals)
# --------------------------------------------------------------------------
@query(
    "e_peak_concurrency",
    oracle=f"""
    WITH {_session_ctes()}, spans AS (
      SELECT user_id, session_id, min(ts) AS s0,
             max(ts) + INTERVAL 30 MINUTE AS s1
      FROM sessions GROUP BY 1, 2
    ), hours AS (
      SELECT CAST(unnest(generate_series(
               (SELECT time_bucket(INTERVAL '1 hour', min(s0)) FROM spans),
               (SELECT time_bucket(INTERVAL '1 hour', max(s1)) FROM spans),
               INTERVAL 1 HOUR)) AS TIMESTAMP) AS t,
             0 AS delta, -1 AS tie
    ), bounds AS (
      SELECT s0 AS t, 1 AS delta, 0 AS tie FROM spans
      UNION ALL
      SELECT s1, -1, 1 FROM spans
      UNION ALL
      SELECT t, delta, tie FROM hours
    ), sweep AS (
      SELECT t, CAST(sum(delta) OVER (ORDER BY t, tie, delta
                                      ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS live
      FROM bounds
    )
    SELECT CAST(time_bucket(INTERVAL '1 hour', t) AS VARCHAR) AS hour,
           CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM sweep GROUP BY 1
    HAVING max(live) > 0
    """,
)
def e_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENT sessions per hour — the sweep-line algorithm:
    session intervals (e_sessionize's spans, closed 30 min after the
    last event) emit +1/-1 boundary markers, a time-ordered running sum
    is the live-session count, and the per-hour max is the capacity
    number an ops team provisions against. End markers sort AFTER
    coincident starts (tie column) so a session ending exactly when
    another starts counts both as overlapping — pinned identically in
    both engines. HOUR-BOUNDARY sample markers (delta 0, sorted before
    coincident session starts) are unioned into the sweep so each
    hour's max also sees the concurrency CARRIED INTO it — without
    them, an hour whose peak was inherited at its boundary (or fully
    spanned by one session) under-reports or goes missing (caught by
    the round-3 second self-review, reproduced on synthetic spans);
    zero-concurrency hours between activity are then dropped by the
    HAVING. The sweep orders session boundaries plus one marker per
    hour (never per event) — but at 100 TB the boundary table is still
    ~1e-3 of the event count (1e8–1e9 markers), far too many for one
    WindowExec, so the running sum is TWO-PASS RANGE-PARTITIONED:
    (1) markers are bucketed by calendar day and the running sum runs
    per-day (day buckets partition the (t, tie, delta) order because
    the bucket is monotone in t); (2) each day's carried-in offset is
    the running total of all PRIOR days' delta sums — a window over the
    per-day aggregate (one row per day; bounded by time span, not data
    size — the e_burst_minutes argument) broadcast back onto the
    markers. global_live = day_local_live + prior_day_offset, exactly
    the single-window sum, with no unpartitioned window over marker
    rows anywhere in the plan."""
    events = load(spark, sf_dir, "events")
    spans = (
        _sessionized(events)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s0"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s1"),
        )
    )
    hour_range = spans.agg(
        F.date_trunc("hour", F.min("s0").cast("timestamp")).alias("h0"),
        F.date_trunc("hour", F.max("s1").cast("timestamp")).alias("h1"),
    )
    hours = hour_range.select(
        F.explode(F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")).alias("t"),
        F.lit(0).alias("delta"),
        F.lit(-1).alias("tie"),
    )
    bounds = (
        spans.select(
            F.col("s0").alias("t"), F.lit(1).alias("delta"), F.lit(0).alias("tie")
        )
        .unionByName(
            spans.select(
                F.col("s1").alias("t"), F.lit(-1).alias("delta"),
                F.lit(1).alias("tie"),
            )
        )
        .unionByName(hours)
    )
    # Two-pass partitioned sweep (operators/windows.py): day buckets are
    # monotone in t, so per-day prefixes + carried-in offsets equal the
    # global running sum; day count is driver-small → offsets broadcast.
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    sweep = partitioned_running_sum(
        bounds,
        bucket=F.date_trunc("day", F.col("t").cast("timestamp")),
        order_cols=["t", "tie", "delta"],
        value_col="delta",
        out_col="live",
        broadcast_offsets=True,
    ).select("t", "live")
    return (
        sweep.groupBy(
            F.date_trunc("hour", F.col("t").cast("timestamp"))
            .cast("string")
            .alias("hour")
        )
        .agg(F.max("live").alias("peak_concurrent"))
        .filter(F.col("peak_concurrent") > 0)
    )


# --------------------------------------------------------------------------
# Session-duration distribution
# --------------------------------------------------------------------------
_DUR_BUCKET_SQL = """CASE WHEN dur_us = 0 THEN 0
                 WHEN dur_us <= 60000000 THEN 1
                 WHEN dur_us <= 600000000 THEN 2
                 WHEN dur_us <= 1800000000 THEN 3
                 WHEN dur_us <= 7200000000 THEN 4
                 ELSE 5 END"""


@query(
    "e_session_durations",
    oracle=f"""
    WITH {_session_ctes()}, spans AS (
      SELECT user_id, session_id,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
             count(*) AS n_ev
      FROM sessions GROUP BY 1, 2
    )
    SELECT CAST({_DUR_BUCKET_SQL} AS BIGINT) AS dur_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(max(dur_us) AS BIGINT) AS max_dur_us
    FROM spans GROUP BY 1
    """,
)
def e_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution: durations (first→last event, exact
    integer µs) bucketed as single-event / ≤1 min / ≤10 min / ≤30 min /
    ≤2 h / longer — the engagement histogram product teams read next to
    e_sessionize's raw sessions. Buckets are integer compares (same
    rule as d_shingle_df_histogram: no float log/divide before
    bucketing). Reuses the factored session CTEs/helper, so the
    30-minute gap threshold stays in exactly one place. One user-keyed
    shuffle (sessionize) + a 6-row roll-up."""
    events = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    spans = (
        _sessionized(events)
        .groupBy("user_id", "session_id")
        .agg(
            (F.max(us) - F.min(us)).alias("dur_us"),
            F.count(F.lit(1)).alias("n_ev"),
        )
    )
    return (
        spans.groupBy(
            F.expr(f"CAST({_DUR_BUCKET_SQL} AS BIGINT)").alias("dur_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
            F.max("dur_us").alias("max_dur_us"),
        )
    )


# --------------------------------------------------------------------------
# Cumulative user growth (running distinct via first-seen trick)
# --------------------------------------------------------------------------
@query(
    "e_user_growth",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ),
    daily_new AS (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM first_day GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM daily_new
    """,
)
def e_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. A running
    COUNT(DISTINCT) over an expanding window is inexpressible in both
    engines; the first-seen rewrite makes it trivial: each user
    contributes exactly once (their first active day), daily new-user
    counts cumulative-sum into the running distinct total. Two shuffles
    (per-user min, per-day count) and a running sum over the tiny daily
    aggregate — the same aggregate-then-window discipline as
    q_revenue_trend_mom; the dual diagnostic to e_gap_days's
    missing-day spine."""
    events = load(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    daily_new = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    # running sum over the per-day aggregate (≤ span-days rows) — the
    # unpartitioned-window warning is accepted as in q_revenue_trend_mom.
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        F.col("day").cast("string").alias("day"),
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


# --------------------------------------------------------------------------
# Daily event-type mix (share trend / mix-shift monitor)
# --------------------------------------------------------------------------
@query(
    "e_type_mix_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(day AS VARCHAR) AS day, event_type, n,
           CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY day), 6)
             AS share
    FROM d
    """,
)
def e_type_mix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type mix: each type's share of the day's traffic —
    the mix-shift monitor that catches a broken client (one type's
    share collapsing) before totals move. One (day, type) aggregate,
    then the day totals ride a window PARTITIONED BY day over that
    aggregate (≤ types-per-day rows each — no second shuffle over the
    fact and no unpartitioned window); the share divides two exact
    integers once."""
    events = load(spark, sf_dir, "events")
    d = events.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day")
    total = F.sum("n").over(w)
    return d.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n",
        total.alias("day_total"),
        F.round(F.col("n").cast("double") / total, 6).alias("share"),
    )


# --------------------------------------------------------------------------
# Bot detection (superhuman cadence flags per user)
# --------------------------------------------------------------------------
@query(
    "e_bot_suspects",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id))
               AS gap
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(gap) AS BIGINT) AS min_gap_us,
             CAST(count(*) FILTER (WHERE gap IS NOT NULL AND gap < 1000000)
                  AS BIGINT) AS n_subsecond
      FROM g GROUP BY 1
    )
    SELECT user_id, n_events, min_gap_us, n_subsecond,
           n_subsecond * 10 > n_events AS is_suspect
    FROM per_user
    """,
)
def e_bot_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screening: per user, the minimum inter-event gap
    and the count of sub-second gaps, flagging users where >10% of
    events arrive faster than humanly plausible — the abuse-detection
    primitive that runs before any engagement metric is trusted. The
    suspect test is exact integer cross-multiplication
    (n_subsecond·10 > n_events); gaps are exact integer µs from the
    same one user-keyed shuffle the lag window already needs."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    g = events.select("user_id", (us - prev_us).alias("gap"))
    sub = (F.col("gap").isNotNull() & (F.col("gap") < 1_000_000)).cast("long")
    per_user = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("gap").alias("min_gap_us"),
        F.sum(sub).alias("n_subsecond"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "min_gap_us",
        "n_subsecond",
        (F.col("n_subsecond") * 10 > F.col("n_events")).alias("is_suspect"),
    )


# --------------------------------------------------------------------------
# Cohort retention matrix (first-seen week × activity week)
# --------------------------------------------------------------------------
@query(
    "e_retention_cohorts",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firstw AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY 1),
    act AS (
      SELECT f.cohort, u.wk, CAST(count(*) AS BIGINT) AS n_active
      FROM uw u JOIN firstw f USING (user_id)
      GROUP BY 1, 2
    ),
    csize AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firstw GROUP BY 1
    )
    SELECT CAST(a.cohort AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', a.cohort, a.wk) // 7 AS BIGINT)
             AS week_offset,
           a.n_active,
           s.cohort_size,
           round(100.0 * a.n_active / s.cohort_size, 4) AS retention_pct
    FROM act a JOIN csize s USING (cohort)
    """,
)
def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION — the triangle every growth team reads: users
    grouped by first-active ISO week, each cohort's share still active
    k weeks later. Built from the distinct (user, week) activity grid:
    per-user first week (one user-keyed aggregate), joined back on the
    SAME user key (one shuffle, reused), rolled up to (cohort, week) —
    output is weeks², bounded by time span, not user count. Week
    offsets are exact integer day-diffs DIV 7 (non-negative — wk ≥
    cohort by construction — so truncate-vs-floor cannot diverge);
    retention divides two exact bigints once. Complements e_user_growth
    (arrivals) and e_weekly_active_users (totals) with the
    per-generation decay those two cannot show. Contrast
    e_cohort_retention: that one is day-granular, capped at a 7-day
    offset, and reports raw counts (the activation-week zoom); this is
    the full ISO-week triangle with cohort sizes and percentages (the
    long-horizon report). Different grain and horizon — both kept."""
    events = load(spark, sf_dir, "events")
    uw = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts").cast("timestamp"))
        .cast("date")
        .alias("wk"),
    ).distinct()
    firstw = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = (
        uw.join(firstw, on="user_id")
        .groupBy("cohort", "wk")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    csize = firstw.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        act.join(csize, on="cohort")
        .select(
            F.col("cohort").cast("string").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
            "n_active",
            "cohort_size",
            F.round(100.0 * F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention_pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# Ordered funnel conversion (view → click → purchase)
# --------------------------------------------------------------------------
@query(
    "e_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY 1
    ),
    counts AS (
      SELECT 1 AS stage_idx, 'view' AS stage,
             CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'view>click', CAST((SELECT count(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'view>click>purchase',
             CAST((SELECT count(*) FROM s3) AS BIGINT)
    )
    SELECT stage_idx, stage, n_users,
           round(100.0 * n_users
                 / (SELECT n_users FROM counts WHERE stage_idx = 1), 4)
             AS pct_of_entry
    FROM counts
    """,
)
def e_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-SCANNING ordered funnel: users who viewed, then clicked
    strictly AFTER their first view, then purchased strictly after that
    first QUALIFYING click. Contrast e_funnel, which compares each
    type's GLOBAL first occurrence (min click > min view) — there a
    user who clicked before ever viewing drops out even if they clicked
    again afterwards; here each stage re-anchors on the previous
    stage's qualifying time, the event-order-faithful (and costlier:
    one join per stage vs e_funnel's single aggregate) definition.
    Both are kept: they answer different product questions and their
    counts legitimately diverge. Each stage is one user-keyed
    min-aggregate joined to the previous stage's anchor time — all
    three shuffles key on user_id, so at scale the funnel is one
    repartition reused; per-stage counts are 1-row aggregates unioned
    into a 3-row report with exact-integer conversion ratios divided
    once. Deepening the funnel is strictly additive (one more
    join+aggregate per stage)."""
    events = load(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, anchor: str, out: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .join(prev, on="user_id")
            .filter(F.col("ts") > F.col(anchor))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1.select("user_id", "t1"), "click", "t1", "t2")
    s3 = first_after(s2.select("user_id", "t2"), "purchase", "t2", "t3")

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    counts = (
        stage(1, "view", s1)
        .unionByName(stage(2, "view>click", s2))
        .unionByName(stage(3, "view>click>purchase", s3))
    )
    entry = counts.filter(F.col("stage_idx") == 1).select(
        F.col("n_users").alias("n_entry")
    )
    return counts.crossJoin(F.broadcast(entry)).select(
        "stage_idx",
        "stage",
        "n_users",
        F.round(100.0 * F.col("n_users") / F.col("n_entry"), 4).alias(
            "pct_of_entry"
        ),
    )


# --------------------------------------------------------------------------
# Daily-volume anomaly detection — z-score with a PURE-INTEGER threshold
# --------------------------------------------------------------------------
@query(
    "e_anomaly_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS sx,
             CAST(sum(n * n) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day, d.n,
           round(CAST(n_days * d.n - sx AS DOUBLE)
                 / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)), 3)
             AS zscore
    FROM daily d JOIN stats s USING (event_type)
    WHERE (n_days * d.n - sx) * (n_days * d.n - sx)
            > 4 * (n_days * sxx - sx * sx)
          AND n_days * sxx > sx * sx
    """,
)
def e_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume is more than 2 population standard
    deviations from that event type's daily mean — with the THRESHOLD
    evaluated in exact integer arithmetic: z^2 > 4 is cross-multiplied
    to (n_days*n - sx)^2 > 4*(n_days*sxx - sx^2), so no float rounding
    can flip a row in or out of the result across engines (the reported
    z itself is float, but only for display, from the same exact
    integers). Derivation: with m days, mean sx/m and population
    variance (m*sxx - sx^2)/m^2 give z^2 = (m*n - sx)^2/(m*sxx - sx^2)
    — the m^2 factors cancel exactly. An earlier cut kept a stray m on
    the left side and over-flagged; the brute-force invariant test
    caught what oracle parity could not, since both engines shared the
    same wrong formula. Compare a_corr_regression: same
    exact-moments-first discipline, here applied to the filter rather
    than the aggregate.

    Scale shape: daily counts per type are bounded by the time span
    (not event count), the per-type moment vector is 3 BIGINTs of
    map-side-combinable state, and the stats join back onto the daily
    grid is broadcast-sized. At 100 TB nothing in this plan grows
    except the first map-side-combined groupBy."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    dev = F.col("n_days") * F.col("n") - F.col("sx")
    var_num = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter((dev * dev > 4 * var_num) & (var_num > 0))
        .select(
            "event_type",
            "day",
            "n",
            F.round(
                dev.cast("double") / F.sqrt(var_num.cast("double")), 3
            ).alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# OHLC bars — open/high/low/close aggregation in a single pass
# --------------------------------------------------------------------------
@query(
    "e_ohlc_bars",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(first(value ORDER BY ts, event_id), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(last(value ORDER BY ts, event_id), 4) AS close
    FROM events GROUP BY 1, 2
    """,
)
def e_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per event type — the canonical time-series
    downsample (finance bars, metrics rollups): open/close are the
    first/last values in the bar, high/low the extremes, all in ONE
    map-side-combinable aggregation pass via min_by/max_by (no sort, no
    window). The orderings are made TOTAL with event_id as tie-break —
    without it, same-timestamp rows would make open/close
    partition-order-dependent and the cross-engine hash would flicker.

    Scale shape: this is the downsampling pattern for petabyte metric
    streams — the state per (type, day) group is five scalars
    regardless of events per bar, so the single shuffle carries only
    group cardinality (types x days). min_by/max_by partials merge
    exactly like min/max."""
    ev = load(spark, sf_dir, "events")
    okey = F.struct(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_id").alias("eid"),
    )
    return (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min_by("value", okey), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", okey), 4).alias("close"),
        )
    )


# --------------------------------------------------------------------------
# Time-weighted average — step-function integral per user
# --------------------------------------------------------------------------
@query(
    "e_time_weighted_avg",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS t_next
      FROM events
    )
    SELECT user_id,
           CAST(CAST(sum(v_c * (t_next - t_us)) AS BIGINT)
                // CAST(sum(t_next - t_us) AS BIGINT) AS BIGINT)
             AS twa_x100,
           CAST(count(t_next) AS BIGINT) AS n_segments
    FROM seg
    GROUP BY user_id
    HAVING sum(t_next - t_us) > 0
    """,
)
def e_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted mean of ``value`` per user — the step-function
    integral (each reading holds until the next one) divided by the
    observed span. THE aggregation for irregularly-sampled telemetry:
    a plain avg() overweights chatty periods; weighting each reading by
    its holding time is what monitoring stores (RRD, Prometheus,
    kdb's wavg) compute.

    Exactness: readings are x100 integer cents, holding times are exact
    microsecond deltas, so the integral is one BIGINT sum and the final
    ratio one floor division — hash-identical across engines (value <=
    ~5e2 x100 and year-scale spans stay far under 2^63). Same-timestamp
    readings get zero weight under the (ts, event_id) total order —
    deterministic, and the event_id tie-break means no
    partition-order dependence.

    Scale shape: ONE user-partitioned lead() window (the e_sessionize
    discipline — never a global window) feeding a map-side-combinable
    sum; users with a single event (no closed segment) drop via the
    den > 0 filter, matching the oracle's HAVING."""
    events = load(spark, sf_dir, "events")
    seg = events.select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_c"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp")))
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("t_next"),
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.expr("v_c * (t_next - t_us)")).alias("num"),
        F.sum(F.expr("t_next - t_us")).alias("den"),
        F.count("t_next").alias("n_segments"),
    )
    return agg.filter(F.col("den") > 0).select(
        "user_id",
        F.expr("num div den").alias("twa_x100"),
        "n_segments",
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection — sustained mean-shift alarms per type
# --------------------------------------------------------------------------
@query(
    "e_cusum_shift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n,
             d.n * s.n_days - s.total - s.total // 4 AS y,
             s.total AS total
      FROM daily d JOIN stats s USING (event_type)
    ),
    cum1 AS (
      SELECT event_type, day, n, total,
             sum(y) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c
      FROM dev
    ),
    cum AS (
      SELECT event_type, day, n, total, c,
             min(c) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cmin
      FROM cum1
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, n,
           CAST(c - least(CAST(0 AS BIGINT), cmin) AS BIGINT)
             AS cusum_scaled,
           (c - least(CAST(0 AS BIGINT), cmin)) > total AS alarm
    FROM cum
    """,
)
def e_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over daily event volumes per type — sequential
    detection of SUSTAINED mean shifts, the complement of
    e_anomaly_days' point outliers (a 20% volume creep never trips a
    2-sigma z-score; CUSUM accumulates it until it alarms). Statistic:
    S_t = max(0, S_{t-1} + (n_t - mean - slack)), slack = mean/4,
    alarm when S_t exceeds one mean-day of accumulated excess.

    Two exactness tricks: (1) everything is scaled by n_days so the
    mean never divides — y_t = n_t*D - total - total div 4 is exact
    BIGINT; (2) the max(0, .)-fold (not window-expressible) becomes
    prefix arithmetic via the reflection identity
    S_t = cum_t - min(0, min_{j<=t} cum_j), two windows over the same
    frame. Both windows are PARTITIONED by event type and range over
    DAY rows — cardinality is the time span, the e_burst_minutes
    bounded-window discipline, never event rows. day is emitted as a
    string (DATE-vs-TIMESTAMP render gotcha)."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("n").alias("total")
    )
    dev = daily.join(stats, "event_type").select(
        "event_type",
        "day",
        "n",
        "total",
        F.expr("n * n_days - total - total div 4").alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dev.withColumn("c", F.sum("y").over(w)).withColumn(
        "cmin", F.min("c").over(w)
    )
    cusum = F.col("c") - F.least(F.lit(0).cast("long"), F.col("cmin"))
    return cum.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n",
        cusum.alias("cusum_scaled"),
        (cusum > F.col("total")).alias("alarm"),
    )


# --------------------------------------------------------------------------
# DAU / MAU stickiness — rolling 30-day distinct actives per day
# --------------------------------------------------------------------------
@query(
    "e_dau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ),
    mau AS (
      SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
      GROUP BY 1
    )
    SELECT CAST(d.day AS VARCHAR) AS day, dau.dau, mau.mau,
           CAST((1000 * dau.dau) // mau.mau AS BIGINT)
             AS stickiness_x1000
    FROM days d JOIN dau USING (day) JOIN mau USING (day)
    """,
)
def e_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU per day — the product-analytics
    stickiness ratio (what fraction of the month's actives show up on
    a given day). Exact x1000 integer ratio.

    Plan: the (user, day) incidence distincts FIRST (rows crossing any
    shuffle = active-user-days, not raw events); the trailing window is
    a bounded-fanout range join — each incidence row lands in at most
    30 day-buckets, so the join output is <= 30x the incidence table,
    independent of per-day volume — followed by one count-distinct
    keyed on (day, user). At 100 TB the count-distinct is the heavy
    stage; the documented swap is per-(day,user) pre-aggregation into
    daily HLL/KMV register sets merged across the 30-day window
    (operators/sketches.py — merge = elementwise min/max, exactly what
    a_sketch_algebra demonstrates), trading exactness for a
    shuffle-free rollup. The day dimension is calendar-bounded; day is
    emitted as a string (DATE render gotcha)."""
    ud = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    mau = (
        days.alias("d")
        .join(
            ud.alias("u"),
            F.col("u.day").between(
                F.date_sub(F.col("d.day"), 29), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").alias("mau"))
    )
    return (
        days.join(dau, "day")
        .join(mau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "mau",
            F.expr("CAST((1000 * dau) div mau AS BIGINT)").alias(
                "stickiness_x1000"
            ),
        )
    )


# --------------------------------------------------------------------------
# Session path mining — top navigation sequences
# --------------------------------------------------------------------------
_PATH_PREFIX_LEN = 5
_PATH_TOPN = 20


@query(
    "e_session_paths",
    oracle=f"""
    WITH {_session_ctes()},
    typed AS (
      SELECT s.user_id, s.session_id, e.event_type,
             row_number() OVER (PARTITION BY s.user_id, s.session_id
                                ORDER BY s.ts, s.event_id) AS rn
      FROM sessions s JOIN events e USING (event_id)
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM typed WHERE rn <= {_PATH_PREFIX_LEN} GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_TOPN}
    """,
)
def e_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATH MINING over sessionized clickstreams: the top {n} most
    common session-opening sequences (first {k} event types joined
    with '>'), the 'how do users actually start a session' question
    behind funnel design. Reuses the shared 30-minute gaps-and-islands
    sessionizer (one user-keyed shuffle covers the session ids, the
    per-session row_number, and the truncation), then aggregates
    per-session paths — path cardinality is bounded by
    |event_types|^{k}, so the final count groupBy is dimension-sized
    no matter the fact scale, and the top-{n} is TakeOrderedAndProject
    under a total (count, path) order.

    The path string is assembled ORDER-DETERMINISTICALLY: collect the
    (rn, type) structs, array_sort (sorts by leading rn), then join —
    never collect_list alone, whose order is partition-arrival
    nondeterminism (the A8 sorted-collect rule)."""
    sess = _sessionized(
        load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
    )
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        sess.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_PREFIX_LEN)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_TOPN)
    )


e_session_paths.__doc__ = e_session_paths.__doc__.format(
    n=_PATH_TOPN, k=_PATH_PREFIX_LEN
)


# --------------------------------------------------------------------------
# Discrete-time survival: weekly repurchase hazard with right-censoring
# --------------------------------------------------------------------------
_HAZ_MAX_WEEK = 26


@query(
    "e_repurchase_hazard",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             o_orderkey
      FROM orders
    ),
    horizon AS (SELECT max(day) AS dmax FROM o),
    subj AS (
      SELECT CASE WHEN lead(day) OVER w IS NULL
                  THEN ((SELECT dmax FROM horizon) - day) // 7
                  ELSE (lead(day) OVER w - day) // 7 END AS week,
             CASE WHEN lead(day) OVER w IS NULL THEN 0 ELSE 1 END AS ev
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)
    ),
    wk AS (
      SELECT week, CAST(count(*) AS BIGINT) AS n_ending,
             CAST(sum(ev) AS BIGINT) AS n_events
      FROM subj GROUP BY 1
    ),
    risk AS (
      SELECT week, n_events,
             CAST((SELECT count(*) FROM subj) AS BIGINT)
               - CAST(coalesce(sum(n_ending) OVER
                   (ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM wk
    )
    SELECT week, n_at_risk, n_events,
           CAST((10000 * n_events) // n_at_risk AS BIGINT) AS hazard_x10000
    FROM risk
    WHERE week <= {_HAZ_MAX_WEEK} AND n_at_risk > 0
    """,
)
def e_repurchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE-TIME SURVIVAL: the weekly repurchase hazard h(k) =
    P(repurchase in week k | no repurchase before week k), with
    RIGHT-CENSORING handled properly — a customer's final order has no
    next purchase, so it contributes to the at-risk denominator up to
    the end of the observation window ((max_date - day) div 7 weeks)
    and never to the event numerator. Dropping censored subjects
    instead (the classic mistake) inflates the hazard at every
    horizon. This is the Kaplan-Meier building block kept in exact
    integers: S(k) would be the running product of (1 - h(k)), left to
    the consumer because a cross-engine float product is not
    bit-stable, while counts and the x10000 hazard are.

    Scale: one customer-partitioned lead() window (the q_churn label
    shuffle), one groupBy onto the WEEK grid — bounded by the
    observation span, not row count — and the at-risk reverse-cumsum
    runs over those bounded week aggregates only (the e_burst_minutes
    bounded-domain window rule)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    horizon = o.agg(F.max("day").alias("dmax"))
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    nxt = F.lead("day").over(w)
    subj = o.withColumn("nxt", nxt).crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNull(),
            F.expr("(dmax - day) div 7"),
        )
        .otherwise(F.expr("(nxt - day) div 7"))
        .alias("week"),
        F.when(F.col("nxt").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("ev"),
    )
    wk = subj.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_ending"),
        F.sum("ev").cast("long").alias("n_events"),
    ).localCheckpoint(eager=True)
    # total subjects from the tiny week grid — not a second fact pass
    total = wk.agg(F.sum("n_ending").cast("long").alias("n_total"))
    prior = (
        Window.orderBy("week")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = wk.crossJoin(F.broadcast(total)).select(
        "week",
        "n_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_ending").over(prior), F.lit(0))
        )
        .cast("long")
        .alias("n_at_risk"),
    )
    return risk.filter(
        (F.col("week") <= _HAZ_MAX_WEEK) & (F.col("n_at_risk") > 0)
    ).select(
        "week",
        "n_at_risk",
        "n_events",
        F.expr("CAST((10000 * n_events) div n_at_risk AS BIGINT)").alias(
            "hazard_x10000"
        ),
    )


# --------------------------------------------------------------------------
# Last-touch attribution — revenue credited to the preceding campaign
# --------------------------------------------------------------------------
_ATTR_WINDOW_DAYS = 7


@query(
    "e_last_touch_attribution",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'click'
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
             END AS campaign,
             CASE WHEN event_type = 'click' THEN ts END AS click_ts,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side_rank,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    filled AS (
      SELECT event_type, cents, ts,
             last_value(campaign IGNORE NULLS) OVER w AS last_campaign,
             last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side_rank, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CASE WHEN last_click_ts IS NOT NULL
                 AND ts <= last_click_ts + INTERVAL {_ATTR_WINDOW_DAYS} DAY
                THEN last_campaign END AS campaign,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM filled
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def e_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH REVENUE ATTRIBUTION: every purchase credits its full
    value to the user's most recent click campaign (campaign = props.k
    div 10), provided the click happened within {d} days — otherwise
    the purchase lands in the NULL 'organic' bucket (never silently
    dropped: attribution reports must conserve revenue). Contrast with
    a multi-touch view⋈click join: last-touch needs no pair fan-out at
    all.

    Same scalable shape as e_asof_join — union-tag both event kinds,
    ONE user-keyed window forward-fills the latest campaign and click
    time (clicks sort before purchases at equal ts via the type rank),
    then the attribution-window rule and the campaign rollup are
    map-side arithmetic. One fact shuffle total; the output is
    campaign-cardinality."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type") == "click",
            F.expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10"),
        ).alias("campaign"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias(
            "side_rank"
        ),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(round(value * 100) AS BIGINT)"),
        )
        .otherwise(F.lit(0))
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side_rank", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged.select(
        "event_type",
        "cents",
        "ts",
        F.last("campaign", ignorenulls=True).over(w).alias("last_campaign"),
        F.last("click_ts", ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return (
        filled.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_click_ts").isNotNull()
                & (
                    F.col("ts")
                    <= F.col("last_click_ts")
                    + F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")
                ),
                F.col("last_campaign"),
            ).alias("campaign"),
            "cents",
        )
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


e_last_touch_attribution.__doc__ = e_last_touch_attribution.__doc__.format(
    d=_ATTR_WINDOW_DAYS
)


# --------------------------------------------------------------------------
# Forecast backtest — seasonal-naive daily volume, integer MAE per type
# --------------------------------------------------------------------------
_BACKTEST_DAYS = 28
_SEASON_LAG_DAYS = 7


@query(
    "e_forecast_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
      SELECT t.event_type, g.d
      FROM (SELECT DISTINCT event_type FROM daily) t,
           (SELECT unnest(generate_series((SELECT d0 FROM span),
                                          (SELECT d1 FROM span),
                                          INTERVAL 1 DAY))::DATE AS d) g
    ),
    filled AS (
      SELECT s.event_type, s.d, coalesce(daily.n, 0) AS n
      FROM spine s LEFT JOIN daily USING (event_type, d)
    ),
    scored AS (
      SELECT event_type, d, n,
             lag(n, {_SEASON_LAG_DAYS}) OVER (PARTITION BY event_type
                                              ORDER BY d) AS fc
      FROM filled
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(n - fc)) AS BIGINT) AS total_abs_err,
           CAST((100 * sum(abs(n - fc))) // count(*) AS BIGINT)
             AS mae_x100
    FROM scored, span
    WHERE fc IS NOT NULL AND d > d1 - {_BACKTEST_DAYS}
    GROUP BY 1
    """,
)
def e_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST: score the seasonal-naive forecast (predict
    today's per-type event volume = same weekday last week) over the
    final {w}-day holdout, reporting MAE in exact x100 integers — the
    baseline every fancier forecaster must beat, and the evaluation
    harness shape (spine → forecast → holdout score) is what matters:
    days with ZERO events are zero-FILLED via the calendar-spine
    pattern (e_gap_days), because skipping them silently drops exactly
    the days a volume forecast gets most wrong.

    Scale: daily counts collapse to the (type × span-days) grid first
    — bounded by calendar, not event count — so the spine cross join,
    the {lag}-day lag window (partitioned by type), and the holdout
    aggregate all run on grid-cardinality rows."""
    ev = load(spark, sf_dir, "events")
    # materialize the calendar-bounded grid: span, the type dim, and the
    # spine join all read it — without this each reference re-scans the
    # fact table (grid size = types x span-days, tiny at any scale)
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    scored = filled.withColumn("fc", F.lag("n", _SEASON_LAG_DAYS).over(w))
    return (
        scored.crossJoin(F.broadcast(span))
        .filter(
            F.col("fc").isNotNull()
            & (F.col("d") > F.date_sub(F.col("d1"), _BACKTEST_DAYS))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.abs(F.col("n") - F.col("fc")))
            .cast("long")
            .alias("total_abs_err"),
            F.expr(
                "CAST((100 * sum(abs(n - fc))) div count(*) AS BIGINT)"
            ).alias("mae_x100"),
        )
    )


e_forecast_backtest.__doc__ = e_forecast_backtest.__doc__.format(
    w=_BACKTEST_DAYS, lag=_SEASON_LAG_DAYS
)


# --------------------------------------------------------------------------
# Longest activity streak — gaps-and-islands on the day grid
# --------------------------------------------------------------------------
@query(
    "e_longest_streak",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM act
    ),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len,
             CAST(min(d) AS VARCHAR) AS start_day
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, len AS streak_days, start_day
    FROM (
      SELECT user_id, len, start_day,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start_day ASC) AS rk
      FROM streaks
    )
    WHERE rk = 1
    """,
)
def e_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONGEST DAILY-ACTIVITY STREAK per user — the engagement metric
    behind 'current streak' badges — via the gaps-and-islands
    day-minus-rank trick: within a user, consecutive calendar days all
    share the constant (day - row_number), so one subtraction labels
    every maximal run without any self-join or iterative chaining.
    Longest streak per user = top-1-per-group over the island
    aggregate with a (len DESC, start ASC) total order: equal-length
    streaks resolve to the EARLIEST, deterministically in both engines.

    Scale: the fact collapses to DISTINCT (user, day) first — bounded
    by users × calendar — and every window is user-partitioned; the
    island aggregate and the top-1 reuse the same user-keyed shuffle.
    Spark's date-int subtraction mirrors DuckDB's DATE - INTEGER."""
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = act.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").cast("string").alias("start_day"),
    )
    rk = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start_day")
    )
    return (
        streaks.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("len").alias("streak_days"), "start_day")
    )


# --------------------------------------------------------------------------
# Inter-arrival latency percentiles per type — exact, group-partitioned
# --------------------------------------------------------------------------
_LAT_PCTS = (50, 95, 99)


@query(
    "e_latency_percentiles",
    oracle=f"""
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS BIGINT)
               AS gap_us
      FROM events
    ),
    vc AS (
      SELECT event_type, gap_us, CAST(count(*) AS BIGINT) AS cnt
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, gap_us, cnt,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_us)
                  AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM vc
    )
    SELECT event_type, n AS n_gaps,
           {", ".join(
             f"CAST(min(CASE WHEN 100 * cum >= {p} * n THEN gap_us END)"
             f" AS BIGINT) AS p{p}_us"
             for p in _LAT_PCTS
           )}
    FROM cum
    GROUP BY event_type, n
    """,
)
def e_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT inter-arrival percentiles per event type (p50/p95/p99 in
    microseconds) — the SLO table, computed as exact ORDER STATISTICS
    (smallest gap whose cumulative count reaches ceil(p·n/100)), not
    interpolated quantiles: an SLO of 'p99 under 2s' should compare an
    OBSERVED latency against the bound, and the exact form needs no
    float agreement between engines at all.

    This is the a_winsorized_stats count-rank machinery with the
    global window replaced by GROUP-partitioned ones: gaps collapse to
    per-(type, value) counts, the cumulative count partitions by type
    (each WindowExec partition = one type's value domain), and all
    three percentiles come from one conditional-min aggregate — no
    per-percentile passes, no global sort anywhere. Everything after
    the lag shuffle is value-domain-bounded."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    vc = gaps.groupBy("event_type", "gap_us").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("gap_us")
    wt = Window.partitionBy("event_type")
    cum = vc.select(
        "event_type",
        "gap_us",
        F.sum("cnt").over(wc).cast("long").alias("cum"),
        F.sum("cnt").over(wt).cast("long").alias("n"),
    )
    return cum.groupBy("event_type", F.col("n").alias("n_gaps")).agg(
        *[
            F.min(
                F.when(
                    F.expr(f"100 * cum >= {p} * n"), F.col("gap_us")
                )
            )
            .cast("long")
            .alias(f"p{p}_us")
            for p in _LAT_PCTS
        ]
    )


# --------------------------------------------------------------------------
# Interval union — merged activity coverage per user
# --------------------------------------------------------------------------
_COVER_HALO_US = 1800 * 1_000_000


@query(
    "e_active_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + {_COVER_HALO_US} AS e,
             event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN s > coalesce(max(e) OVER w,
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_block
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    blocks AS (
      SELECT user_id, s, e,
             CAST(sum(new_block) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS block_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT block_id) AS BIGINT) AS n_blocks,
           CAST(sum(dur) AS BIGINT) AS covered_us
    FROM (
      SELECT user_id, block_id, max(e) - min(s) AS dur
      FROM blocks GROUP BY 1, 2
    )
    GROUP BY 1
    """,
)
def e_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (coverage): every event projects a 30-minute
    activity halo [ts, ts+30m); overlapping halos merge into maximal
    blocks, and each user reports block count and total covered
    MICROSECONDS — 'how much wall-clock was this user active', which
    naive sum-of-halos overcounts wherever events cluster. The classic
    merge-overlapping-intervals primitive, done relationally: an
    interval starts a NEW block iff its start exceeds the running max
    of all previous ends, a running sum of those flags labels blocks
    (the sessionize shape generalized to OVERLAPPING inputs —
    sessionize's gap test is the degenerate point-interval case), then
    one aggregate per block.

    Two determinism rules learned the hard way (first parity run
    FAILED on both): epochs stay in integer MICROSECONDS end-to-end —
    DuckDB's CAST(epoch() AS BIGINT) ROUNDS sub-second fractions while
    Spark's unix_timestamp floors them — and every window orders by
    (s, event_id), because (s, e) does not totalize same-timestamp
    ties and block labels then depend on tie order. All windows and
    aggregates are user-partitioned — one fact shuffle, no self-joins.
    Contrast with e_peak_concurrency: same sweep idea, but per-user
    partitioning makes the global two-pass machinery unnecessary."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        us.alias("s"),
        (us + F.lit(_COVER_HALO_US)).alias("e"),
    )
    prior = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(prior),
                F.lit(-(2**63)).cast("long"),
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_block"),
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    blocks = flagged.withColumn(
        "block_id", F.sum("new_block").over(run).cast("long")
    )
    per_block = blocks.groupBy("user_id", "block_id").agg(
        (F.max("e") - F.min("s")).alias("dur")
    )
    return per_block.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("dur").cast("long").alias("covered_us"),
    )
