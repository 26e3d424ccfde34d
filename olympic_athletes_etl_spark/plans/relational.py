"""Operator-mapped relational queries (SURVEY.md §2.2-2.7).

One named query per inventory row, expressed on the driver's tables, each
with a DuckDB oracle. Where the reference's semantics need a decision
(null-safe ``!=``, mode tie-break, deterministic surrogate ids), the
decision from SURVEY.md §7's log is implemented and the docstring cites it.

Scale notes are inline: every groupBy/join states why the shuffle is
either necessary or avoided (broadcast), because at 100 TB these are the
queries users copy as templates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olympic_athletes_etl_spark.operators.store import Rollup
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load


# --------------------------------------------------------------------------
# F1/F2/F3 — projection, reorder, bulk rename
# --------------------------------------------------------------------------
@query(
    "f_project_rename",
    oracle="""
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS segment, round(c_acctbal, 2) AS balance
    FROM customer
    """,
)
def f_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column drop + projection/reorder + dict-driven rename (F1/F2/F3;
    reference: columns_renaming_reordering_glue.py:82-89). Column pruning
    reaches the parquet scan — ReadSchema lists only 4 of 5 columns."""
    mapping = {
        "c_custkey": "customer_id",
        "c_name": "customer_name",
        "c_mktsegment": "segment",
        "c_acctbal": "balance",
    }
    customer = load(spark, sf_dir, "customer")
    df = customer.drop("c_nationkey").withColumnsRenamed(mapping)
    return df.select("customer_id", "customer_name", "segment",
                     F.round("balance", 2).alias("balance"))


# --------------------------------------------------------------------------
# F5/C12 — not-null filter (on engineered nulls, since testdata is dense)
# --------------------------------------------------------------------------
@query(
    "f_notnull_filter",
    oracle="""
    SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri
    FROM orders
    WHERE nullif(o_orderpriority, '1-URGENT') IS NOT NULL
    """,
)
def f_notnull_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Not-null filter (F5; reference: data_clean_glue.py:109). Nulls are
    engineered with nullif so the null path is actually exercised."""
    orders = load(spark, sf_dir, "orders")
    pri = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return (
        orders.select("o_orderkey", pri.alias("pri"))
        .filter(F.col("pri").isNotNull())
    )


# --------------------------------------------------------------------------
# F6 — inequality filter null semantics (SURVEY §7 decision: != drops NULLs)
# --------------------------------------------------------------------------
@query(
    "f_neq_null_semantics",
    oracle="""
    WITH t AS (SELECT nullif(o_orderstatus, 'P') AS st FROM orders)
    SELECT
      (SELECT count(*) FROM t WHERE st != 'F')                    AS neq_sql,
      (SELECT count(*) FROM t WHERE st IS DISTINCT FROM 'F')      AS neq_nullsafe
    """,
)
def f_neq_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal inequality filter (F6; reference: data_clean_glue.py:551-552).
    Returns both counts: SQL `!=` (drops NULL rows — Spark & DuckDB agree)
    and the null-safe variant (`~eqNullSafe`, pandas-parity: NULL != 'F' is
    kept). The delta IS the semantic divergence flagged in SURVEY §2.2."""
    orders = load(spark, sf_dir, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    t = orders.select(st.alias("st"))
    return t.agg(
        F.count(F.when(F.col("st") != "F", 1)).alias("neq_sql"),
        F.count(F.when(~F.col("st").eqNullSafe("F"), 1)).alias("neq_nullsafe"),
    )


# --------------------------------------------------------------------------
# F8 — anti-membership (incremental-resume diff as left_anti join)
# --------------------------------------------------------------------------
@query(
    "f_anti_join_resume",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def f_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-membership diff (F8; reference: athlete_scrape_glue.py:280-283
    does a driver-side set subtract — we use the distributed left_anti join,
    which scales past driver memory)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "f_semi_join",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
)
def f_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS membership via left_semi — the complement of F8. Semi joins
    never duplicate the left side, so no post-join dedup shuffle."""
    supplier = load(spark, sf_dir, "supplier")
    lineitem = load(spark, sf_dir, "lineitem")
    return supplier.join(
        lineitem, supplier.s_suppkey == lineitem.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# J1 — left equi-join, single key
# --------------------------------------------------------------------------
@query(
    "j_left_single_key",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def j_left_single_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left equi-join on a single key (J1; reference:
    data_clean_II_glue.py:68). Customer scales with the fact, so no hard
    broadcast hint — the planner/AQE picks broadcast while customer fits
    the threshold and falls back to a shuffle join at scale (J5's hint
    belongs on bounded dims like nation/region only; r13)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# J2 — left equi-join, composite key
# --------------------------------------------------------------------------
@query(
    "j_left_composite_key",
    oracle="""
    WITH pair_stats AS (
      SELECT l_partkey, l_suppkey, round(sum(l_quantity), 2) AS pair_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT l_orderkey, l_linenumber, lineitem.l_partkey AS l_partkey,
           lineitem.l_suppkey AS l_suppkey, pair_qty
    FROM lineitem LEFT JOIN pair_stats
      ON lineitem.l_partkey = pair_stats.l_partkey
     AND lineitem.l_suppkey = pair_stats.l_suppkey
    """,
)
def j_left_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join on a 2-column composite key (J2; reference:
    data_clean_glue.py:142-152 joins on 3 columns). Both sides shuffle on
    the same composite key — one exchange each, colocated sort-merge."""
    lineitem = load(spark, sf_dir, "lineitem")
    pair_stats = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.sum("l_quantity"), 2).alias("pair_qty")
    )
    return lineitem.join(pair_stats, on=["l_partkey", "l_suppkey"], how="left").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "pair_qty"
    )


# --------------------------------------------------------------------------
# J3 — join on expression key
# --------------------------------------------------------------------------
@query(
    "j_expr_key",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d, count(*) AS day_orders
      FROM orders GROUP BY 1
    )
    SELECT o_orderkey, CAST(date_trunc('day', o_orderdate) AS VARCHAR) AS order_day,
           day_orders
    FROM orders LEFT JOIN daily ON date_trunc('day', o_orderdate) = daily.d
    """,
)
def j_expr_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join on a derived/expression key (J3; reference:
    data_clean_II_glue.py:109-117 joins on lower(split(NOC)[0])). The
    expression is materialized as a column first so the shuffle hashes a
    concrete key, not a re-evaluated expression."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "order_day", F.date_trunc("day", F.col("o_orderdate")).cast("date")
    )
    daily = orders.groupBy("order_day").agg(F.count(F.lit(1)).alias("day_orders"))
    return orders.join(daily, on="order_day", how="left").select(
        "o_orderkey",
        F.col("order_day").cast("string").alias("order_day"),
        "day_orders",
    )


# --------------------------------------------------------------------------
# J4 — left join with a dynamic key list (failure-case context recovery)
# --------------------------------------------------------------------------
@query(
    "j_dynamic_keys_recover",
    oracle="""
    WITH failures AS (
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > 0.09
    ), orig AS (
      SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
    )
    SELECT failures.l_orderkey AS l_orderkey,
           failures.l_linenumber AS l_linenumber, l_quantity, l_returnflag
    FROM failures LEFT JOIN orig
      ON failures.l_orderkey = orig.l_orderkey
     AND failures.l_linenumber = orig.l_linenumber
    """,
)
def j_dynamic_keys_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failure-rows ⟕ originals on a runtime-chosen key list (J4;
    reference: data_quality_and_validation.py:278-286)."""
    keys = ["l_orderkey", "l_linenumber"]  # dynamic in the engine API
    lineitem = load(spark, sf_dir, "lineitem")
    failures = lineitem.filter(F.col("l_discount") > 0.09).select(*keys)
    orig = lineitem.select(*keys, "l_quantity", "l_returnflag").dropDuplicates()
    return failures.join(orig, on=keys, how="left")


# --------------------------------------------------------------------------
# A2/W1/O3 — mode per group with deterministic tie-break
# --------------------------------------------------------------------------
@query(
    "a_mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ), ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_event, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def a_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode per group (A2/W1/F7; reference: data_clean_II_glue.py:57-66).
    Tie-break is value-ascending — pandas ``mode().iloc[0]`` semantics per
    SURVEY §7's decision log (the reference's Glue variant is
    nondeterministic on ties; we are not). Aggregate-then-window: the
    window runs over (user × type) counts, not raw events."""
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("n").alias("mode_count"))
    )


# --------------------------------------------------------------------------
# A3 — exact group median (not percentile_approx — SURVEY §7)
# --------------------------------------------------------------------------
@query(
    "a_group_median",
    oracle="""
    SELECT event_type, round(median(value), 4) AS median_value
    FROM events GROUP BY event_type
    """,
)
def a_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median by group (A3; reference pandas data_clean_II.py:34-45 is
    exact, Glue uses percentile_approx — SURVEY §7 pins EXACT for oracle
    parity)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.median("value"), 4).alias("median_value")
    )


# --------------------------------------------------------------------------
# A4/A5 — distinct
# --------------------------------------------------------------------------
@query(
    "a_distinct_pairs",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def a_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a column subset (A4; reference:
    data_clean_glue.py:128-138)."""
    customer = load(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").dropDuplicates()


# --------------------------------------------------------------------------
# A6 — null-percentage profile
# --------------------------------------------------------------------------
@query(
    "a_null_profile",
    oracle="""
    WITH t AS (
      SELECT nullif(o_orderstatus, 'F') AS st,
             nullif(o_orderpriority, '1-URGENT') AS pri,
             o_totalprice
      FROM orders
    )
    SELECT round(avg(CASE WHEN st IS NULL THEN 1 ELSE 0 END) * 100, 2)  AS st_null_pct,
           round(avg(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) * 100, 2) AS pri_null_pct,
           round(avg(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) * 100, 2) AS price_null_pct
    FROM t
    """,
)
def a_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-percentage profile (A6; reference:
    data_quality_and_validation.py:9-12) — one aggregation pass over all
    columns, not one job per column."""
    orders = load(spark, sf_dir, "orders")
    t = orders.select(
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("st"),
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
        F.col("o_totalprice"),
    )

    def pct(c: str, alias: str) -> F.Column:
        return F.round(F.avg(F.col(c).isNull().cast("int")) * 100, 2).alias(alias)

    return t.agg(pct("st", "st_null_pct"), pct("pri", "pri_null_pct"),
                 pct("o_totalprice", "price_null_pct"))


# --------------------------------------------------------------------------
# A7 — frequency table (value_counts)
# --------------------------------------------------------------------------
@query(
    "a_value_counts",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def a_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts (A7; reference: data_quality_and_validation.py:256-260)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# A8 — collect_list per group (deterministic: sorted distinct, joined)
# --------------------------------------------------------------------------
@query(
    "a_collect_sorted",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
    FROM events GROUP BY user_id
    """,
)
def a_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect per group (A8; reference:
    data_quality_and_validation.py:267-272). Spark's collect_list order is
    partition-dependent → we expose the deterministic form:
    sort_array(collect_set) joined to a string, hash-stable on both engines."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("event_types")
    )


# --------------------------------------------------------------------------
# A9 — duplicate detection on a key subset
# --------------------------------------------------------------------------
@query(
    "a_dup_detect",
    oracle="""
    SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS VARCHAR) AS order_day,
           count(*) AS n
    FROM orders
    GROUP BY o_custkey, date_trunc('day', o_orderdate)
    HAVING count(*) > 1
    """,
)
def a_dup_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate detection on a key subset (A9; reference:
    data_quality_and_validation.py:24-28). groupBy+HAVING, not a window —
    the aggregate form combines map-side, a count window over raw rows
    doesn't."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            "o_custkey",
            F.date_trunc("day", F.col("o_orderdate")).cast("date").cast("string").alias("order_day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# --------------------------------------------------------------------------
# A10/§2.7 — union with heterogeneous columns (pd.concat outer-align)
# --------------------------------------------------------------------------
@query(
    "a_union_align",
    oracle="""
    SELECT n_name AS name, CAST(NULL AS DOUBLE) AS acctbal, 'nation' AS src FROM nation
    UNION ALL
    SELECT s_name AS name, round(s_acctbal, 2) AS acctbal, 'supplier' AS src FROM supplier
    """,
)
def a_union_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of heterogeneous tables (A10/set-ops; reference: pd.concat
    outer-aligns columns, editions_scrap.py:48-76) →
    unionByName(allowMissingColumns=True) per SURVEY §7."""
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"), F.lit("nation").alias("src")
    )
    supplier = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.round("s_acctbal", 2).alias("acctbal"),
        F.lit("supplier").alias("src"),
    )
    out = nation.unionByName(supplier, allowMissingColumns=True)
    return out.select("name", F.col("acctbal").cast("double").alias("acctbal"), "src")


@query(
    "a_except_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def a_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (beyond reference, which only unions — §2.7).
    ``subtract`` is EXCEPT DISTINCT — removes every left row that appears
    anywhere on the right (``exceptAll`` would keep multiplicity excess,
    which is not SQL EXCEPT)."""
    customer = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supplier = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return customer.subtract(supplier)


# --------------------------------------------------------------------------
# W2/W4 — deterministic surrogate key (global window on a TINY dim only)
# --------------------------------------------------------------------------
@query(
    "w_surrogate_key",
    oracle="""
    SELECT n_nationkey, n_name,
           row_number() OVER (ORDER BY n_name, n_nationkey) AS nation_sk
    FROM nation
    """,
)
def w_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate key (W2/W4; reference uses
    monotonically_increasing_id at data_clean_glue.py:136 — nondeterministic,
    SURVEY §7 replaces it with row_number over an explicit order). Global
    window is acceptable ONLY on tiny dims (nation = 25 rows; the reference's
    editions dim = 76). For fact-scale ids use ``w_dense_id`` below (the
    two-phase operators/scale.py:dense_ids — no global-order window)."""
    nation = load(spark, sf_dir, "nation")
    w = Window.orderBy(F.asc("n_name"), F.asc("n_nationkey"))
    return nation.select("n_nationkey", "n_name").withColumn(
        "nation_sk", F.row_number().over(w)
    )


# --------------------------------------------------------------------------
# W2 at fact scale — two-phase dense id (no global-order window)
# --------------------------------------------------------------------------
@query(
    "w_dense_id",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderkey) AS dense_id
    FROM orders
    """,
)
def w_dense_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FACT-SCALE dense ids: the global ROW_NUMBER semantics of
    w_surrogate_key, produced by operators/scale.py:dense_ids — range
    exchange + per-partition offsets + mapInPandas local index — instead
    of a window whose ORDER BY (no PARTITION BY) would move every row to
    ONE reducer. The oracle keeps the declarative ROW_NUMBER form, so
    the driver hash proves the two-phase rewrite emits the identical
    id assignment cross-engine. This is the id path a 100 TB fact table
    actually uses (SCALE.md "Windows"); the plan's one data-proportional
    exchange is the range repartition, and the only collect is one row
    per partition. Python boundary: one mapInPandas projection —
    Arrow-batched, append-a-column-per-batch, scan-bound."""
    from olympic_athletes_etl_spark.operators.scale import dense_ids

    orders = load(spark, sf_dir, "orders")
    return dense_ids(orders.select("o_orderkey"), ["o_orderkey"], num_partitions=32)


@query(
    "w_dense_id_stored",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderkey) AS dense_id
    FROM orders
    """,
)
def w_dense_id_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTITY-COLUMN lifecycle: history's ids assigned once and
    STORED (dense_ids_store — never reshuffled by later ingests, the
    surrogate-key contract), then an ingest batch APPENDED with ids
    continuing from the stored max (dense_ids_append: dense_ids over
    the batch only + a constant offset; the store is never rewritten),
    and the full assignment served from the store alone. The batch
    split is BY KEY (o_orderkey < 1000 = history), so the composed
    assignment provably equals the one-shot global ROW_NUMBER — the
    same oracle as w_dense_id gates the whole
    assign → store → append → serve loop. With an UNORDERED batch the
    composed ids would differ from a global re-rank by design (ids are
    handed out in arrival order, exactly like any warehouse identity
    column); the key-ordered split is what makes the lifecycle
    oracle-checkable. Per-call temp dir for re-entrancy."""
    import os
    import tempfile

    from olympic_athletes_etl_spark.operators.scale import (
        dense_ids,
        dense_ids_append,
        dense_ids_load,
        dense_ids_store,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    split = 1000  # orderkeys start at 1; both sides non-empty at every sf
    path = os.path.join(tempfile.mkdtemp(prefix="w_dense_id_stored_"), "ids")
    dense_ids_store(
        dense_ids(
            orders.filter(F.col("o_orderkey") < split),
            ["o_orderkey"],
            num_partitions=8,
        ),
        path,
    )
    dense_ids_append(
        spark,
        orders.filter(F.col("o_orderkey") >= split),
        path,
        ["o_orderkey"],
        num_partitions=32,
    )
    return dense_ids_load(spark, path)


# --------------------------------------------------------------------------
# W5 — forward-fill (last ignorenulls over ordered window)
# --------------------------------------------------------------------------
@query(
    "w_forward_fill",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS v
      FROM events
    )
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM t
    """,
)
def w_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (W5/R4; reference: athlete_scrape.py:143-156 ffills
    header-row values down an athlete's results). ``last(ignorenulls)`` over
    an explicit row-sequence column — partitioned by the entity key, so it
    scales: no global sort, one shuffle on user_id.

    That one shuffle is established by ``spread_on`` user_id (tables.
    spread, guide §2.5/§2.4): it satisfies the window's required
    distribution (still exactly ONE exchange), and unlike the window's
    own exchange a REPARTITION_BY_NUM is not AQE-coalesced to a
    near-single partition at bench scale (measured −31%); a no-op on
    any layout that splits. Window order event_id is unique, so values
    are partition-layout-invariant."""
    events = load(spark, sf_dir, "events", spread_on="user_id")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.round(F.col("value"), 2)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.select("event_id", "user_id", v.alias("v")).withColumn(
        "v_filled", F.last("v", ignorenulls=True).over(w)
    ).drop("v")


# --------------------------------------------------------------------------
# O3 — top-k per group
# --------------------------------------------------------------------------
@query(
    "o_topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      FROM part
    )
    SELECT p_brand, p_partkey, p_name, price, rn FROM ranked WHERE rn <= 3
    """,
)
def o_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (O3/F7/W1) with deterministic tie-break. AQE handles
    a skewed brand; rank-then-filter pushes the k-limit into WindowExec
    (Spark's rank-limit pushdown)."""
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_name",
                F.round("p_retailprice", 2).alias("price"), "rn")
    )


# --------------------------------------------------------------------------
# O1/O2/O4 — ordered preview limit (top-n, deterministic)
# --------------------------------------------------------------------------
@query(
    "o_ordered_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
)
def o_ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered limit (O1/O2/O4; reference previews via .show(5)). Spark
    compiles orderBy+limit into TakeOrderedAndProject — a distributed top-n,
    no global sort materialized."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.desc("total"), F.asc("o_orderkey"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# R1 — explode a delimited string to rows
# --------------------------------------------------------------------------
@query(
    "r_explode_split",
    oracle="""
    SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
    """,
)
def r_explode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode split string → rows (R1; reference: data_clean_glue.py:105-111
    explodes '/'-separated Affiliations)."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )


# --------------------------------------------------------------------------
# R2 — normalize to dim + bridge with deterministic ids
# --------------------------------------------------------------------------
@query(
    "r_dim_bridge",
    oracle="""
    WITH exploded AS (
      SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
    ), dim AS (
      SELECT word, substr(md5(word), 1, 16) AS word_id
      FROM (SELECT DISTINCT word FROM exploded)
    )
    SELECT p_partkey, word_id
    FROM exploded JOIN dim USING (word)
    """,
)
def r_dim_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim+bridge normalization (R2/W4/J2; reference: data_clean.py:97-150
    builds dim_affiliation + bridge_athlete_affiliation). Surrogate ids
    are HASH-STABLE — the first 64 bits of md5(natural key) — so the dim
    needs no global row_number sort (the round-3 verdict's scale note):
    ids are reproducible across runs and engines, insert-order-free, and
    collision-safe for any realistic vocabulary (birthday bound ≈ 2³²
    keys for 64 bits; vocabulary grows sub-linearly by Heaps' law). The
    bridge join broadcasts the dim. Contrast w_surrogate_key, which keeps
    the dense-rank convention for tiny ORDERED dims."""
    part = load(spark, sf_dir, "part")
    exploded = part.select(
        "p_partkey", F.explode(F.split(F.col("p_name"), " ")).alias("word")
    ).dropDuplicates()
    dim = (
        exploded.select("word")
        .dropDuplicates()
        .withColumn("word_id", F.substring(F.md5(F.col("word")), 1, 16))
    )
    return exploded.join(F.broadcast(dim), on="word").select("p_partkey", "word_id")


# --------------------------------------------------------------------------
# R3 — pivot (groupBy().pivot().count())
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "r_pivot_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def r_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot key→columns (R3; reference transposes scraped biodata,
    athlete_scrape.py:113-116; engine-level equivalent is groupBy().pivot()).
    Pivot values are given explicitly — Spark then skips the extra distinct
    pass AND the output schema is deterministic."""
    events = load(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for empty cells; count-semantics wants 0 (both engines).
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# --------------------------------------------------------------------------
# Rollup / cube (multi-level aggregates — beyond-reference agg coverage)
# --------------------------------------------------------------------------
@query(
    "a_rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                // 100 AS DOUBLE) / 100.0 AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate: (flag, status), (flag), () levels in ONE pass —
    Catalyst expands the grouping sets into a single shuffle keyed on the
    expanded grouping id, not one job per level. NULL grouping cells are
    labeled so the oracle hash can't confuse them with real NULL data."""
    lineitem = load(spark, sf_dir, "lineitem")
    # exact integer revenue units; DIV-truncate to cents (the r12
    # sf10 double-sum lesson — see plans/tpch.py _REV_INT)
    rev_sum = F.expr(
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
        " DIV 100 AS DOUBLE) / 100.0"
    )
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(rev_sum.alias("revenue"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


@query(
    "a_cube_counts",
    oracle="""
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate — all four grouping-set combinations in one shuffle."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# Incremental MERGE (CDC upsert) — lakehouse MERGE INTO as a plan
# --------------------------------------------------------------------------
@query(
    "r_merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice,
             (o_orderkey % 997 = 0) AS is_delete
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd WHERE NOT is_delete
    """,
)
def r_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert via ``operators.relational.merge_upsert``: a derived
    change-set (every 97th key updated to status 'X', every 997th·97th
    deleted) merges into orders — one broadcast anti-join + union, the
    plan shape table formats execute under MERGE INTO. At 100 TB the
    anti-join broadcasts the (small) change-set and only partitions
    containing touched keys rewrite."""
    from olympic_athletes_etl_spark.operators.relational import merge_upsert

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            "o_totalprice",
            (F.col("o_orderkey") % 997 == 0).alias("is_delete"),
        )
    )
    return merge_upsert(orders, updates, ["o_orderkey"], delete_col="is_delete")


# --------------------------------------------------------------------------
# A3+ — exact multi-percentile summary per group
# --------------------------------------------------------------------------
@query(
    "a_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both linear interpolation over the sorted
    set). EXACT — so a per-group sort; at 100 TB use
    ``percentile_approx`` (t-digest sketch, mergeable map-side) and
    accept the documented divergence — same trade recorded for median
    in SURVEY §7."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


# --------------------------------------------------------------------------
# GROUPING SETS (the general form behind ROLLUP/CUBE)
# --------------------------------------------------------------------------
@query(
    "a_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 100
                AS DOUBLE) / 100.0 AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with two disjoint single-dimension sets —
    the shape neither ROLLUP nor CUBE can express (no combined cell, no
    grand total). Catalyst's Expand turns both sets into ONE pass over
    the fact table with a single shuffle keyed on (grouping-id, dims),
    exactly like the rollup/cube twins — at 100 TB that's one scan
    instead of one per report dimension. Revenue sums EXACT integer
    cents×pct with one truncating division (round-3 self-review: the
    original double-sum + round(,2) was a fresh instance of the
    documented .xx5-boundary flake class — big partition-order-sensitive
    double sums must never meet round())."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(round(l_discount * 100) AS BIGINT))) DIV 100"
                " AS DOUBLE) / 100.0"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


# --------------------------------------------------------------------------
# UNPIVOT / melt (inverse of r_pivot_counts)
# --------------------------------------------------------------------------
@query(
    "r_unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) / 100.0, 2) AS total_price
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, metric, value
    FROM (UNPIVOT wide ON n_orders, total_price INTO NAME metric VALUE value)
    """,
)
def r_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (melt): a per-priority metrics table folds
    its metric columns into (metric, value) rows — the inverse of
    r_pivot_counts and the standard normalizer before generic metric
    sinks. The unpivot itself is a zero-shuffle in-row Expand (row count
    multiplies by the metric-column count, columns drop accordingly);
    the only shuffle is the upstream 5-key aggregate. Metric sums run on
    exact integer cents (order-independent cross-engine) and both
    metrics are emitted as DOUBLE so the long `value` column has one
    type."""
    orders = load(spark, sf_dir, "orders")
    wide = (
        orders.select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_price"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"], ["n_orders", "total_price"], "metric", "value"
    )


# --------------------------------------------------------------------------
# Single-scan table profiler (per-column stats, unpivoted)
# --------------------------------------------------------------------------
@query(
    "a_table_profile",
    oracle="""
    SELECT 'l_orderkey' AS col,
           CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(l_orderkey) AS VARCHAR) AS min_v,
           CAST(max(l_orderkey) AS VARCHAR) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag',
           CAST(count(*) - count(l_returnflag) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus',
           CAST(count(*) - count(l_linestatus) AS BIGINT),
           CAST(count(DISTINCT l_linestatus) AS BIGINT),
           min(l_linestatus), max(l_linestatus)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity_cents',
           CAST(count(*) - count(l_quantity) AS BIGINT),
           CAST(count(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT),
           CAST(min(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR),
           CAST(max(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate',
           CAST(count(*) - count(l_shipdate) AS BIGINT),
           CAST(count(DISTINCT l_shipdate) AS BIGINT),
           CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
)
def a_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler: per-column (nulls, distinct, min, max) in ONE scan.
    The oracle expresses it as five UNIONed scans (the naive per-column
    form); the Spark plan computes every stat in a single aggregate over
    one pass and unpivots 5 rows with ``stack`` — at 100 TB that is the
    difference between 1× and 5× table I/O, and the distinct counts all
    partial-aggregate map-side in the same shuffle. Doubles are profiled
    as exact cents (min/max/distinct on the bigint) — double→string
    formatting is the one place engines disagree, integers never do.
    Stats values stringify for the unpivot (one schema for all columns)."""
    li = load(spark, sf_dir, "lineitem")
    q_cents = F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
    n = F.count(F.lit(1))
    agg = li.agg(
        (n - F.count("l_orderkey")).alias("nn_ok"),
        F.countDistinct("l_orderkey").alias("nd_ok"),
        F.min("l_orderkey").cast("string").alias("mn_ok"),
        F.max("l_orderkey").cast("string").alias("mx_ok"),
        (n - F.count("l_returnflag")).alias("nn_rf"),
        F.countDistinct("l_returnflag").alias("nd_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
        (n - F.count("l_linestatus")).alias("nn_ls"),
        F.countDistinct("l_linestatus").alias("nd_ls"),
        F.min("l_linestatus").alias("mn_ls"),
        F.max("l_linestatus").alias("mx_ls"),
        (n - F.count("l_quantity")).alias("nn_q"),
        F.countDistinct(q_cents).alias("nd_q"),
        F.min(q_cents).cast("string").alias("mn_q"),
        F.max(q_cents).cast("string").alias("mx_q"),
        (n - F.count("l_shipdate")).alias("nn_sd"),
        F.countDistinct("l_shipdate").alias("nd_sd"),
        F.min("l_shipdate").cast("string").alias("mn_sd"),
        F.max("l_shipdate").cast("string").alias("mx_sd"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 'l_orderkey', nn_ok, nd_ok, mn_ok, mx_ok,"
            " 'l_returnflag', nn_rf, nd_rf, mn_rf, mx_rf,"
            " 'l_linestatus', nn_ls, nd_ls, mn_ls, mx_ls,"
            " 'l_quantity_cents', nn_q, nd_q, mn_q, mx_q,"
            " 'l_shipdate', nn_sd, nd_sd, mn_sd, mx_sd)"
            " AS (col, n_null, n_distinct, min_v, max_v)"
        )
    )


# --------------------------------------------------------------------------
# Full-outer reconciliation join
# --------------------------------------------------------------------------
@query(
    "j_full_outer_recon",
    oracle="""
    WITH prof AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    ),
    act AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spent_cents
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
      GROUP BY 1
    )
    SELECT coalesce(c_custkey, o_custkey) AS custkey,
           c_custkey IS NOT NULL AS has_profile,
           o_custkey IS NOT NULL AS has_activity,
           spent_cents
    FROM prof FULL OUTER JOIN act ON c_custkey = o_custkey
    """,
)
def j_full_outer_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation — the audit join every ETL handoff
    needs: high-balance customer profiles vs 1996 order activity, keys
    coalesced, presence flagged on each side (profile-only rows surface
    dormant accounts, activity-only rows surface missing profiles).
    Money sums as exact cents. Both sides pre-filter/pre-aggregate
    BEFORE the join, so the full-outer shuffle carries two reduced
    keyed tables — never raw facts."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    prof = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    act = (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "spent_cents"
            )
        )
    )
    return prof.join(
        act, F.col("c_custkey") == F.col("o_custkey"), "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("has_profile"),
        F.col("o_custkey").isNotNull().alias("has_activity"),
        "spent_cents",
    )


# --------------------------------------------------------------------------
# INTERSECT set op (completes union / except / intersect)
# --------------------------------------------------------------------------
@query(
    "a_intersect_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def a_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — nations present on BOTH sides of the
    market. Spark compiles set-intersection to a left-semi join over
    distinct inputs; with union (a_union_align) and EXCEPT
    (a_except_distinct) this completes the set-op family."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    return customer.select(
        F.col("c_nationkey").alias("nationkey")
    ).intersect(supplier.select(F.col("s_nationkey").alias("nationkey")))


# --------------------------------------------------------------------------
# Salted skew join, registered form
# --------------------------------------------------------------------------
@query(
    "j_salted_enrich",
    oracle="""
    WITH stats AS (
      SELECT user_id, count(*) AS n_ev,
             CASE WHEN count(*) >= 100 THEN 'heavy'
                  WHEN count(*) >= 50 THEN 'mid' ELSE 'light' END AS tier
      FROM events GROUP BY 1
    )
    SELECT s.tier, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN stats s ON s.user_id = e.user_id
    GROUP BY 1
    """,
)
def j_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SALTED skew join on the gated surface: events (probe, heavy-
    hitter users) enriched with a per-user tier dim via
    operators.scale.salted_join — the build side replicates across 8
    salts so one hot user's events spread over 8 reducers instead of one
    straggler. Salting is physically invisible to the result, which is
    exactly what the oracle pins: plain-SQL join semantics survive the
    rewrite. (At this dim size broadcast would also work — the query
    exists to correctness-gate the salting machinery used when the build
    side is too big to broadcast but small enough to replicate.)"""
    from olympic_athletes_etl_spark.operators.scale import salted_join

    events = load(spark, sf_dir, "events")
    stats = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .withColumn(
            "tier",
            F.when(F.col("n_ev") >= 100, "heavy")
            .when(F.col("n_ev") >= 50, "mid")
            .otherwise("light"),
        )
    )
    joined = salted_join(
        events.select("event_id", "user_id"), stats, "user_id", n_salts=8
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# Ranking-distribution windows (ntile / percent_rank / cume_dist)
# --------------------------------------------------------------------------
@query(
    "w_ntile_deciles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(10) OVER w AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking distributions per market segment: balance decile
    (ntile), percent_rank, cume_dist — the full ranking-window family in
    one pass over ONE shuffle keyed on the segment. The order key is
    total (acctbal, custkey) so every rank is engine-deterministic;
    percent_rank and cume_dist are exact small-integer ratios, so the
    doubles agree bit-for-bit before the display rounding. Partitioned
    by segment, NOT global — the W2 caveat: an unpartitioned ntile over
    a fact table is a single-reducer sort; for global quantiles at
    100 TB use range partitioning or approx percentiles instead."""
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# --------------------------------------------------------------------------
# Referential-integrity audit (orphaned foreign keys, one report)
# --------------------------------------------------------------------------
@query(
    "v_fk_integrity",
    oracle="""
    SELECT 'lineitem.l_partkey->part' AS fk,
           CAST((SELECT count(*) FROM lineitem
                 WHERE NOT EXISTS (SELECT 1 FROM part
                                   WHERE p_partkey = l_partkey)) AS BIGINT)
             AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT count(*) FROM lineitem
                 WHERE NOT EXISTS (SELECT 1 FROM supplier
                                   WHERE s_suppkey = l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT count(*) FROM lineitem
                 WHERE NOT EXISTS (SELECT 1 FROM orders
                                   WHERE o_orderkey = l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT count(*) FROM orders
                 WHERE NOT EXISTS (SELECT 1 FROM customer
                                   WHERE c_custkey = o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT count(*) FROM customer
                 WHERE NOT EXISTS (SELECT 1 FROM nation
                                   WHERE n_nationkey = c_nationkey)) AS BIGINT)
    """,
)
def v_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema in ONE report:
    orphaned-foreign-key counts for every fact→dim edge (the check every
    warehouse load runs before publishing). The three lineitem edges
    share a SINGLE fact scan — three LEFT joins against key-projected
    dims and three conditional null-counts, stack-unpivoted (the per-
    edge anti-join form read lineitem three times). part/supplier keys
    broadcast; the orders keyset joins on the shuffle key — it scales
    with the fact and must never be broadcast. orders→customer and
    customer→nation are separate (smaller) scans. A nonzero row is a
    blocked publish."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    li_counts = (
        li.select("l_partkey", "l_suppkey", "l_orderkey")
        .join(part.select("p_partkey"),
              F.col("p_partkey") == F.col("l_partkey"), "left")
        .join(supplier.select("s_suppkey"),
              F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .join(orders.select("o_orderkey"),
              F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .agg(
            F.sum(F.col("p_partkey").isNull().cast("long")).alias("o_part"),
            F.sum(F.col("s_suppkey").isNull().cast("long")).alias("o_supp"),
            F.sum(F.col("o_orderkey").isNull().cast("long")).alias("o_ord"),
        )
        .select(
            F.expr(
                "stack(3,"
                " 'lineitem.l_partkey->part', o_part,"
                " 'lineitem.l_suppkey->supplier', o_supp,"
                " 'lineitem.l_orderkey->orders', o_ord)"
                " AS (fk, n_orphans)"
            )
        )
    )

    def orphans(fact: DataFrame, dim: DataFrame, fk: str, pk: str, label: str) -> DataFrame:
        return (
            fact.join(dim, F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return li_counts.unionByName(
        orphans(orders, customer.select("c_custkey"), "o_custkey",
                "c_custkey", "orders.o_custkey->customer")
    ).unionByName(
        orphans(customer, nation.select("n_nationkey"), "c_nationkey",
                "n_nationkey", "customer.c_nationkey->nation")
    )


# --------------------------------------------------------------------------
# Range-band join (irregular value bands, broadcast dim)
# --------------------------------------------------------------------------
_PRICE_BANDS = [
    ("budget", 0, 50_000),
    ("mid", 50_000, 150_000),
    ("premium", 150_000, 300_000),
    ("luxury", 300_000, 1_000_000),
]


def _bands_values_sql() -> str:
    return ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _PRICE_BANDS)


@query(
    "j_range_band_join",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES {_bands_values_sql()})
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def j_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN against an IRREGULAR band dimension: each order lands
    in the [lo, hi) price band via an inequality join. The bands table
    is tiny and broadcast, so the physical plan is a
    BroadcastNestedLoopJoin whose inner loop is the band count — the
    CORRECT plan here (each probe scans 4 bands); this is the general
    form for bands that cannot be computed arithmetically (tax brackets,
    SLA tiers). Two documented contrasts: fixed-WIDTH bands need no join
    at all (e_value_histogram's DIV bucketing), and GRID-ALIGNED
    intervals turn the range join into a bucketed equi-join with a
    residual predicate (e_range_join_buckets) — this query covers the
    remaining case, a dim too irregular for either rewrite but small
    enough to broadcast. Money is summed in exact integer cents (the
    c_math_ratio convention)."""
    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo long, hi long")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# Gini coefficient — inequality of customer spend, rank via the
# partitioned two-pass cumsum (no global window over customer rows)
# --------------------------------------------------------------------------
@query(
    "a_gini_spend",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rnk
      FROM spend
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS total,
             sum(CAST(rnk AS HUGEINT) * cents) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers, total AS total_cents,
           CAST((10000 * (2 * weighted - (CAST(n AS HUGEINT) + 1) * total))
                // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_x10000
    FROM agg
    """,
)
def a_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend — the inequality summary
    (0 = everyone spends alike, 1 = one customer is the business),
    via the sorted-rank identity
    G = (2*sum(rank_i * x_i) - (n+1)*sum(x)) / (n*sum(x)), all in
    exact integer cents so the x10000 result hash-matches.

    The rank is the scale-interesting part: a naive row_number() over
    ALL customers is the single-partition global window the round-3
    verdict flagged on e_user_pareto. Here the rank comes from the
    partitioned TWO-PASS pattern (operators/windows.py): bucket by
    cents div 1e6 (monotone in the (cents, custkey) order — the
    operator's invariant), per-bucket row_number, plus each bucket's
    carried-in offset — every WindowExec input is one bucket. The
    oracle uses the plain global window (DuckDB is single-node; the
    identity, not the plan, is what's being checked).

    Overflow: the rank-weighted sum and the final x10000 ratio run in
    exact WIDE integers — DECIMAL(38,0) on the Spark side, HUGEINT in
    the oracle; both are exact integer arithmetic and floor division of
    non-negative operands, so they agree bit-for-bit while headroom
    extends past 1e34. (A BIGINT formulation overflowed at sf0.1
    already: 10000 * 2*sum(rank*cents) ~ 4.5e20 > 2^63 — caught by the
    round-5 sf0.1 parity sweep, which is why the gate runs one scale
    above the driver's.) The only remaining 2^63 bound is sum(cents)
    itself — $92 trillion in cents, comfortably global-scale."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    ranked = partitioned_running_sum(
        spend.withColumn("one", F.lit(1).cast("long")),
        bucket=F.expr("cents div 1000000"),
        order_cols=["cents", "o_custkey"],
        value_col="one",
        out_col="rnk",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.expr("CAST(rnk AS DECIMAL(38,0)) * cents")).alias("weighted"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.expr(
            "CAST((10000 * (2 * weighted"
            " - (CAST(n AS DECIMAL(38,0)) + 1) * total))"
            " div (CAST(n AS DECIMAL(38,0)) * total) AS BIGINT)"
        ).alias("gini_x10000"),
    )


# --------------------------------------------------------------------------
# Point-in-time features — trailing-window aggregates as-of each row
# --------------------------------------------------------------------------
@query(
    "j_pit_features",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey,
           CAST(coalesce(count(cents) OVER w, 0) AS BIGINT)
             AS trailing_n,
           CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT)
             AS trailing_cents
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
    """,
)
def j_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature computation — the feature-store join that
    must never leak the future: for every order, the customer's order
    count and spend over the STRICTLY PRECEDING 90 days (the current
    day excluded entirely, so even same-day siblings don't leak into
    each other — training-serving skew rule #1). Exact bigint cents.

    Expressed as one customer-partitioned RANGE window over integer
    epoch-days — no self-join fan-out at all: Spark's WindowExec scans
    each customer's orders once with a sliding frame, where the
    equivalent range self-join would emit (orders-in-90d) rows per
    order. The frame bound is event-time (RANGE, not ROWS), so
    several orders on one day each see the identical as-of state.
    Partitioned by customer = fact-scale parallel; same-customer
    volume is calendar-bounded."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-90, -1)
    )
    return o.select(
        "o_orderkey",
        F.coalesce(F.count("cents").over(w), F.lit(0))
        .cast("long")
        .alias("trailing_n"),
        F.coalesce(F.sum("cents").over(w), F.lit(0))
        .cast("long")
        .alias("trailing_cents"),
    )


# --------------------------------------------------------------------------
# Winsorized statistics — robust mean via exact count-rank cutoffs
# --------------------------------------------------------------------------
@query(
    "a_winsorized_stats",
    oracle="""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    vc AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
    cum AS (
      SELECT cents, cnt, sum(cnt) OVER (ORDER BY cents) AS cum FROM vc
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
    cuts AS (
      SELECT n,
             (SELECT min(cents) FROM cum, nn
              WHERE cum >= (n + 99) // 100) AS lo_cut,
             (SELECT min(cents) FROM cum, nn
              WHERE cum >= (99 * n + 99) // 100) AS hi_cut
      FROM nn
    )
    SELECT n_orders, lo_cut_cents, hi_cut_cents, win_sum_cents,
           CAST(win_sum_cents // n_orders AS BIGINT) AS win_mean_cents
    FROM (
      SELECT n AS n_orders, lo_cut AS lo_cut_cents, hi_cut AS hi_cut_cents,
             CAST(sum(cnt * CASE WHEN cents < lo_cut THEN lo_cut
                                 WHEN cents > hi_cut THEN hi_cut
                                 ELSE cents END) AS BIGINT) AS win_sum_cents
      FROM vc, cuts
      GROUP BY 1, 2, 3
    )
    """,
)
def a_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (1%/99%-clipped) spend statistics — the robust mean
    that survives fat-finger prices and test orders, in exact integer
    cents. The cutoffs are EXACT order statistics, defined as the
    smallest value whose cumulative count reaches ceil(p*n) — not an
    approximate percentile — so both engines agree bit-for-bit.

    Scale shape: the fact table collapses FIRST to distinct-value
    counts (bounded by price-domain cardinality, far below row count),
    the cumulative count over those runs through the partitioned
    two-pass cumsum (operators/windows.py — no unpartitioned WindowExec
    over value rows), the two cutoffs reduce to a 1-row aggregate that
    broadcast-crossJoins back (the house 1-row-scalar pattern), and the
    winsorized sum is computed from the value-count table itself
    (sum(cnt * clip(v))) — the raw facts are never re-scanned."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    o = load(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    # materialize the value-count table: it is referenced five times
    # downstream (cumsum passes, total, final clip) and each reference
    # would otherwise re-scan the fact table; vc is bounded by price-
    # domain cardinality, so the checkpoint is tiny at any fact scale
    vc = (
        o.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cum = partitioned_running_sum(
        vc,
        bucket=F.expr("cents div 1000000"),
        order_cols=["cents"],
        value_col="cnt",
        out_col="cum",
    )
    nn = vc.agg(F.sum("cnt").cast("long").alias("n"))
    cuts = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            F.first("n").alias("n"),
            F.min(F.when(F.col("cum") >= F.expr("(n + 99) div 100"),
                         F.col("cents"))).alias("lo_cut"),
            F.min(F.when(F.col("cum") >= F.expr("(99 * n + 99) div 100"),
                         F.col("cents"))).alias("hi_cut"),
        )
    )
    clipped = F.expr(
        "cnt * CASE WHEN cents < lo_cut THEN lo_cut"
        " WHEN cents > hi_cut THEN hi_cut ELSE cents END"
    )
    return (
        vc.crossJoin(F.broadcast(cuts))
        .groupBy(
            F.col("n").alias("n_orders"),
            F.col("lo_cut").alias("lo_cut_cents"),
            F.col("hi_cut").alias("hi_cut_cents"),
        )
        .agg(F.sum(clipped).cast("long").alias("win_sum_cents"))
        # mean derives from the single aggregated sum — one clip
        # expression, no duplicated logic to drift
        .withColumn(
            "win_mean_cents",
            F.expr("CAST(win_sum_cents div n_orders AS BIGINT)"),
        )
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance — mergeable partials, no history rescan
# --------------------------------------------------------------------------
_INCR_SPLIT = "2000-01-01"


@query(
    "r_incremental_agg",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                // count(*) AS BIGINT) AS avg_cents
    FROM orders
    GROUP BY 1
    """,
)
def r_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE: the monthly revenue rollup is
    kept as mergeable partials (count, sum) so each new day's batch
    folds in WITHOUT rescanning history — at 100 TB the nightly job
    reads only the new partition, not six years of facts. This query
    proves the merge algebra end-to-end: the 'stored' partials (orders
    before {split}) and the 'incoming batch' partials (orders on/after
    {split}) are aggregated INDEPENDENTLY, merged by summing state, and
    the result must hash-match the oracle's full recompute.

    The non-mergeable aggregate (avg) is DERIVED from merged state
    (sum div count) — the pattern's core rule: store the algebra's
    semigroup (count, sum, min, max, HLL...), never the final ratio.
    Scale: both branches are map-side-combinable hash aggregates on the
    month key; the merge is a groupBy over |months| rows — free."""
    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    stored = _monthly_partials(orders.filter(F.col("d") < F.lit(_INCR_SPLIT)))
    batch = _monthly_partials(orders.filter(F.col("d") >= F.lit(_INCR_SPLIT)))
    return _rollup_answer(stored.unionByName(batch))


r_incremental_agg.__doc__ = r_incremental_agg.__doc__.format(split=_INCR_SPLIT)


# --------------------------------------------------------------------------
# Stored rollup — the continuous-aggregate lifecycle (store partials,
# append a batch's partials, compact, serve) — r_incremental_agg's
# in-plan merge algebra taken to its DEPLOYED shape, like the stored
# LSH postings / IVFPQ index are for their in-plan twins.
# --------------------------------------------------------------------------
def _monthly_partials(orders: DataFrame) -> DataFrame:
    """Mergeable (count, sum) state per month — the semigroup
    r_incremental_agg's docstring names: store these, never the final
    ratio. Integer cents, so partials round-trip parquet exactly."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            cents.alias("cents"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


def _rollup_merge(partials: DataFrame) -> DataFrame:
    return partials.groupBy("month").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    )


def _rollup_answer(partials: DataFrame) -> DataFrame:
    """Merged state per month plus the non-mergeable aggregate (avg),
    derived from it."""
    return _rollup_merge(partials).withColumn(
        "avg_cents", F.expr("CAST(total_cents div n_orders AS BIGINT)")
    )


ROLLUP = Rollup(
    "rollup",
    _monthly_partials,
    _rollup_merge,
    ("month", "n_orders", "total_cents"),
    "month",
)


def rollup_store(partials: DataFrame, path: str) -> None:
    """Persist monthly partials partitioned BY month — the continuous-
    aggregate ("hypertable rollup") store: each nightly batch appends
    its partials instead of rescanning history, and a month-sliced
    serve prunes to the requested directories (literal
    PartitionFilters — pinned in test_round9_ops). The month key is
    calendar-bounded, so the directory namespace never explodes.
    Generation-versioned (operators/store.py): re-storing over an
    existing path is an atomic snapshot replace."""
    ROLLUP.create(partials, path)


def rollup_append(partials: DataFrame, path: str) -> None:
    """Append a batch's partials — the nightly maintenance write. The
    store then holds MULTIPLE partial rows per month (one file set per
    batch); serving re-merges them, so append is pure fold-in with no
    read-modify-write of history. Run rollup_compact on a cadence to
    fold the rows back to one per month (serve-invariant, pinned).
    Auto-creates the store on a fresh path."""
    ROLLUP.append(partials, path)


def rollup_load(spark: SparkSession, path: str) -> DataFrame:
    return ROLLUP.load(spark, path)


def rollup_compact(spark: SparkSession, path: str) -> None:
    """Fold the per-batch partial rows back to ONE row per month and
    one file per month directory — like lsh_postings_compact, except
    rollup compaction also MERGES state (sums the semigroup) rather
    than merely re-filing rows: after N appends a month holds N partial
    rows; the merged store serves the identical answer (pinned in
    test_round9_ops) because (count, sum) addition is associative — the
    whole point of storing the semigroup. Generation-swap rewrite with
    an atomic manifest commit (operators/store.py): a crash mid-rewrite
    leaves the old generation serving.

    BATCH stores only: a store written by the STREAMING ingest
    (streaming/pipeline.py:stream_rollup_ingest) is partitioned by
    batch_id and carries a replay high-water mark — compacting it here
    would both break the partition layout and let a checkpoint replay
    double-count a folded batch. Refused loudly; use
    stream_rollup_compact, which folds only committed batches."""
    ROLLUP.compact(spark, path)


def rollup_serve(spark: SparkSession, path: str) -> DataFrame:
    """Final answer from the store: merge whatever partial rows exist
    per month (1 after compact, N after N appends), then derive the
    non-mergeable aggregate (avg) from merged state. Reads ONLY the
    3-column partials — never the fact table."""
    return _rollup_answer(ROLLUP.load(spark, path))


_ROLLUP_STORED_ORACLE = """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                // count(*) AS BIGINT) AS avg_cents
    FROM orders
    GROUP BY 1
    """


@query("r_rollup_stored", oracle=_ROLLUP_STORED_ORACLE)
def r_rollup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS-AGGREGATE lifecycle end-to-end, driver-gated:
    history partials stored once (rollup_store, partitioned by month),
    a new batch's partials APPENDED (rollup_append — fold-in, no
    history rescan), the store COMPACTED back to one merged row per
    month (rollup_compact), and the answer SERVED from the store alone
    (rollup_serve — the fact table is never re-read at serve time).
    Gated on the full-recompute oracle r_incremental_agg uses, so the
    hash proves store → append → compact → serve preserves the merge
    algebra exactly — the deployed form of that query's in-plan split
    (integer cents partials, lossless parquet round trip).

    Cost shape at 100 TB: the nightly job aggregates ONLY the new
    partition (map-side-combinable hash agg), appends |months touched|
    rows, and serving is a columnar read of 3 narrow columns over a
    calendar-bounded row count — independent of fact cardinality.
    Per-call temp dir for re-entrancy like the other stored-index
    queries."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="r_rollup_stored_"), "rollup")
    rollup_store(_monthly_partials(orders.filter(F.col("d") < _INCR_SPLIT)), path)
    rollup_append(
        _monthly_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), path
    )
    rollup_compact(spark, path)
    return rollup_serve(spark, path)


@query(
    "r_rollup_slice",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                // count(*) AS BIGINT) AS avg_cents
    FROM orders
    WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m')
          BETWEEN '1995-01' AND '1995-12'
    GROUP BY 1
    """,
)
def r_rollup_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-RANGE serve from the stored rollup — the query pattern the
    month partitioning exists for: the BETWEEN lands as literal
    PartitionFilters on the partials scan (directory-level pruning,
    regex-pinned in test_round9_ops), so a dashboard asking for one
    year reads twelve directories of 3-column partials no matter how
    large the store. Same store build as r_rollup_stored (store +
    append, uncompacted — the slice must merge per-batch partial rows,
    proving serve correctness doesn't depend on compaction cadence);
    gated on the fact-table recompute of the same window."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="r_rollup_slice_"), "rollup")
    rollup_store(_monthly_partials(orders.filter(F.col("d") < _INCR_SPLIT)), path)
    rollup_append(
        _monthly_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), path
    )
    return rollup_serve(spark, path).filter(
        F.col("month").between("1995-01", "1995-12")
    )


# --------------------------------------------------------------------------
# Histogram (quantile) rollup — mergeable quantile state, stored
# --------------------------------------------------------------------------
# Quantiles don't merge (a p95 of p95s is meaningless), but HISTOGRAMS
# do — integer bucket counts add across batches and across months, the
# same semigroup trick the HLL rollup plays for distinct counts. Store
# per-(month, bucket) counts once at ingest and any quantile over any
# month range is served from the summaries alone, never re-reading the
# fact table: the continuous-aggregate answer to "p95 order value last
# quarter" at 100 TB. Bucket width fixes the value resolution
# ($10k here); the served quantile is the first bucket's UPPER bound
# whose cumulative count crosses the target rank — deterministic, so
# the whole lifecycle is hash-gated cross-engine (no sampling, unlike
# approx_percentile).
_QHIST_BUCKET_CENTS = 1_000_000  # $10k buckets over o_totalprice
_QHIST_COLS = ("month", "bucket", "n")


def _qhist_partials(orders: DataFrame) -> DataFrame:
    """(month, bucket, n) — the mergeable histogram partial for a batch."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            cents.alias("cents"),
        )
        .withColumn("bucket", F.expr(f"cents div {_QHIST_BUCKET_CENTS}"))
        .groupBy("month", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(*_QHIST_COLS)
    )


def _qhist_merge(partials: DataFrame) -> DataFrame:
    return partials.groupBy("month", "bucket").agg(
        F.sum("n").cast("long").alias("n")
    )


QHIST = Rollup("qhist", _qhist_partials, _qhist_merge, _QHIST_COLS, "month")


def qhist_rollup_store(partials: DataFrame, path: str) -> None:
    QHIST.create(partials, path)


def qhist_rollup_append(partials: DataFrame, path: str) -> None:
    QHIST.append(partials, path)


def qhist_rollup_compact(spark: SparkSession, path: str) -> None:
    """Fold per-batch rows to one (month, bucket) row — sum-merge, the
    same generation-swap commit as rollup_compact.

    BATCH stores only (same guard as rollup_compact): a store written by
    stream_qhist_ingest is batch_id-partitioned and carries a replay
    high-water mark — folding it here would merge the batch_id
    partitions WITHOUT raising the hwm, so a checkpoint replay of any
    batch committed since the last stream_qhist_compact would
    re-materialize its partition and double-count, and later folds
    would mix batch_id- and month-partitioned files in one generation."""
    QHIST.compact(spark, path)


def _qhist_quantiles(hist: DataFrame, group: list[str]) -> DataFrame:
    """p50/p95 upper-bound cents from merged histogram state, in ONE
    pass: cumulative window over the ≤ ~60 bucket rows per group (never
    fact rows), total via the same window unbounded, then a single
    conditional aggregation picks each quantile's first crossing
    bucket — the exact shape the DuckDB oracle uses. Integer rank test
    ``cum * 100 >= total * q`` (no ceil division, no floats) so Spark
    and DuckDB agree bit-for-bit."""
    merged = hist.groupBy(*group, "bucket").agg(F.sum("n").alias("_n"))
    base = Window.partitionBy(*group) if group else Window.partitionBy()
    w_cum = base.orderBy("bucket")
    # same partition+order spec with an explicit everything-frame: the
    # total rides the SAME Window exec as the cumsum (one pass)
    w_all = base.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = merged.withColumn("_cum", F.sum("_n").over(w_cum)).withColumn(
        "_tot", F.sum("_n").over(w_all)
    )

    def q_hi(q: int, name: str):
        first_b = F.min(
            F.when(F.col("_cum") * 100 >= F.col("_tot") * q, F.col("bucket"))
        )
        return (
            ((first_b + 1) * F.lit(_QHIST_BUCKET_CENTS)).cast("long").alias(name)
        )

    aggs = [
        F.max("_tot").cast("long").alias("n_orders"),
        q_hi(50, "p50_hi_cents"),
        q_hi(95, "p95_hi_cents"),
    ]
    if group:
        return c.groupBy(*group).agg(*aggs)
    # ungrouped over an EMPTY window: serve an empty frame, not NULLs
    # (same contract as hll_rollup_serve_range)
    return c.agg(*aggs).filter(F.col("n_orders").isNotNull())


def qhist_rollup_serve(spark: SparkSession, path: str) -> DataFrame:
    """Per-month p50/p95 from the stored histograms alone."""
    return _qhist_quantiles(QHIST.load(spark, path), ["month"])


def qhist_rollup_serve_range(
    spark: SparkSession, path: str, lo: str, hi: str
) -> DataFrame:
    """Quantiles over a month RANGE by merging the stored monthly
    histograms — the query per-month quantiles cannot answer (quantiles
    don't merge; histograms do). The BETWEEN prunes to the window's
    month directories."""
    return _qhist_quantiles(
        QHIST.load(spark, path).filter(F.col("month").between(lo, hi)), []
    )


_QHIST_HIST_DUCK = f"""h AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             CAST(round(o_totalprice * 100) AS BIGINT)
               // {_QHIST_BUCKET_CENTS} AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    )"""


@query(
    "a_qhist_rollup_stored",
    oracle=f"""
    WITH {_QHIST_HIST_DUCK},
    c AS (
      SELECT month, bucket, n,
             sum(n) OVER (PARTITION BY month ORDER BY bucket) AS cum,
             sum(n) OVER (PARTITION BY month) AS tot
      FROM h
    )
    SELECT month, CAST(max(tot) AS BIGINT) AS n_orders,
           CAST((min(CASE WHEN cum * 100 >= tot * 50 THEN bucket END) + 1)
                * {_QHIST_BUCKET_CENTS} AS BIGINT) AS p50_hi_cents,
           CAST((min(CASE WHEN cum * 100 >= tot * 95 THEN bucket END) + 1)
                * {_QHIST_BUCKET_CENTS} AS BIGINT) AS p95_hi_cents
    FROM c GROUP BY 1
    """,
)
def a_qhist_rollup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUANTILE continuous-aggregate lifecycle end-to-end,
    driver-gated on a from-facts recompute: per-(month, $10k-bucket)
    counts stored (generation-versioned, operators/store.py), an
    ingest batch's histogram APPENDED (pure fold-in — counts add), the
    store COMPACTED to one row per (month, bucket) via the shared
    generation-swap commit, then per-month p50/p95 SERVED from the
    merged histograms alone. The fact table is never re-read at serve
    time; at 100 TB a month's state is ≤ ~60 integer rows regardless
    of fact cardinality. Deterministic bucketing (integer div, rank
    test cum*100 >= tot*q) keeps the whole loop hash-exact cross-engine
    — no approx_percentile sampling. Per-call temp dir for
    re-entrancy."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="a_qhist_stored_"), "qhist")
    qhist_rollup_store(
        _qhist_partials(orders.filter(F.col("d") < _INCR_SPLIT)), path
    )
    qhist_rollup_append(
        _qhist_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), path
    )
    qhist_rollup_compact(spark, path)
    return qhist_rollup_serve(spark, path)


@query(
    "a_qhist_rollup_range",
    oracle=f"""
    WITH {_QHIST_HIST_DUCK},
    r AS (
      SELECT bucket, CAST(sum(n) AS BIGINT) AS n FROM h
      WHERE month BETWEEN '1995-01' AND '1995-12' GROUP BY 1
    ),
    c AS (
      SELECT bucket, n,
             sum(n) OVER (ORDER BY bucket) AS cum,
             sum(n) OVER () AS tot
      FROM r
    )
    SELECT CAST(max(tot) AS BIGINT) AS n_orders,
           CAST((min(CASE WHEN cum * 100 >= tot * 50 THEN bucket END) + 1)
                * {_QHIST_BUCKET_CENTS} AS BIGINT) AS p50_hi_cents,
           CAST((min(CASE WHEN cum * 100 >= tot * 95 THEN bucket END) + 1)
                * {_QHIST_BUCKET_CENTS} AS BIGINT) AS p95_hi_cents
    FROM c
    """,
)
def a_qhist_rollup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-window quantiles from the STORED monthly histograms — the
    serve per-month quantiles cannot compose to (p95s don't merge) but
    histogram state can: the twelve months' bucket counts sum, then one
    ≤ ~60-row cumulative pass yields the window's p50/p95. Same store
    build as a_qhist_rollup_stored but UNCOMPACTED (the range serve
    must merge per-batch partial rows, proving cadence independence);
    the month BETWEEN prunes to the window's directories."""
    import os
    import tempfile

    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="a_qhist_range_"), "qhist")
    qhist_rollup_store(
        _qhist_partials(orders.filter(F.col("d") < _INCR_SPLIT)), path
    )
    qhist_rollup_append(
        _qhist_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), path
    )
    return qhist_rollup_serve_range(spark, path, "1995-01", "1995-12")


# --------------------------------------------------------------------------
# Leave-one-out target encoding — leakage-safe categorical feature
# --------------------------------------------------------------------------
@query(
    "j_target_encode",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, c_mktsegment AS segment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    seg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS seg_n,
             CAST(sum(cents) AS BIGINT) AS seg_sum
      FROM o GROUP BY 1
    )
    SELECT o_orderkey, o.segment,
           CASE WHEN seg_n > 1
                THEN CAST((seg_sum - cents) // (seg_n - 1) AS BIGINT)
           END AS loo_cents
    FROM o JOIN seg ON o.segment = seg.segment
    """,
)
def j_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the categorical-feature encoder
    for ML training where each row's own target must NOT leak into its
    feature: row i in segment s gets (sum(s) - y_i) / (n(s) - 1), the
    segment mean computed as if row i didn't exist. Plain mean-encoding
    (including the row itself) lets the model memorize y through the
    feature; LOO is the standard fix, and it falls out of the SAME
    mergeable (count, sum) state as r_incremental_agg — no per-row
    recomputation, just per-row arithmetic against the group state.

    Exact integer cents with floor division; singleton groups encode to
    NULL (no other row to borrow a mean from — both engines CASE-guard
    the zero divisor). Scale: one fact shuffle for the customer join
    (both sides fact-scale at 100 TB — the necessary shuffle), a
    5-row segment aggregate, and a broadcast join back; the encoder
    never materializes per-row state."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", cents.alias("cents"))
        .join(
            load(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("segment"),
            ),
            "o_custkey",
        )
    )
    seg = o.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("seg_n"),
        F.sum("cents").cast("long").alias("seg_sum"),
    )
    return o.join(F.broadcast(seg), "segment").select(
        "o_orderkey",
        "segment",
        F.when(
            F.col("seg_n") > 1,
            F.expr("CAST((seg_sum - cents) div (seg_n - 1) AS BIGINT)"),
        ).alias("loo_cents"),
    )


# --------------------------------------------------------------------------
# Deterministic negative sampling — recommender training pairs
# --------------------------------------------------------------------------
_NEG_K = 4
_NEG_MULT = 2654435761  # Knuth multiplicative constant
_NEG_STEP = 40503


@query(
    "j_negative_sample",
    oracle=f"""
    WITH pk AS (SELECT CAST(max(p_partkey) AS BIGINT) AS max_pk FROM part),
    custs AS (SELECT DISTINCT o_custkey FROM orders),
    cand AS (
      SELECT o_custkey, k,
             1 + (o_custkey * {_NEG_MULT} + k * {_NEG_STEP}) % max_pk
               AS neg_partkey
      FROM custs, pk, (SELECT unnest(range(1, {_NEG_K} + 1)) AS k)
    ),
    bought AS (
      SELECT DISTINCT o_custkey, l_partkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT c.o_custkey, CAST(c.k AS BIGINT) AS k,
           CAST(c.neg_partkey AS BIGINT) AS neg_partkey
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM bought b
      WHERE b.o_custkey = c.o_custkey AND b.l_partkey = c.neg_partkey
    )
    """,
)
def j_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC negative sampling for recommender / contrastive
    training: every active customer draws {k} pseudo-random candidate
    parts via a multiplicative integer hash of (custkey, draw), and
    candidates the customer actually bought are anti-joined away —
    yielding reproducible (user, negative-item) pairs without any RNG
    state (the t_train_test_split reproducibility convention: hash,
    don't rand(), so retries/replays/backfills emit identical samples).

    Scale: the candidate set is |customers|×{k} rows built by an
    explode (no join), the bought set reduces to DISTINCT (customer,
    part) pairs, and the screen is one equi anti-join shuffled on the
    composite key — fact-scale parallel, no broadcast of anything
    unbounded. Collisions (a draw landing on a bought part) are simply
    dropped, the standard trade: at real catalog sizes the hit rate is
    items-per-user / catalog ~ 1e-4, so the yield loss is noise."""
    pk = load(spark, sf_dir, "part").agg(
        F.max("p_partkey").cast("long").alias("max_pk")
    )
    custs = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    cand = (
        custs.crossJoin(F.broadcast(pk))
        .select(
            "o_custkey",
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("k"),
            "max_pk",
        )
        .select(
            "o_custkey",
            F.col("k").cast("long").alias("k"),
            F.expr(
                f"CAST(1 + (o_custkey * {_NEG_MULT} + k * {_NEG_STEP})"
                " % max_pk AS BIGINT)"
            ).alias("neg_partkey"),
        )
    )
    bought = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey")
        .join(
            load(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
            ),
            "o_orderkey",
        )
        .select("o_custkey", F.col("l_partkey").alias("neg_partkey"))
        .distinct()
    )
    return cand.join(bought, ["o_custkey", "neg_partkey"], "left_anti").select(
        "o_custkey", "k", "neg_partkey"
    )


j_negative_sample.__doc__ = j_negative_sample.__doc__.format(k=_NEG_K)


# --------------------------------------------------------------------------
# RFM segmentation — global quantile scoring via broadcast thresholds
# --------------------------------------------------------------------------
def _quintile_cuts_duck(metric: str) -> str:
    """CTE pair computing the four quintile thresholds of ``metric``."""
    cuts = ", ".join(
        f"(SELECT min(v) FROM {metric}_cum, n WHERE cum >= ({q} * n + 4) // 5)"
        f" AS t{q}"
        for q in (1, 2, 3, 4)
    )
    return f"""
    {metric}_cum AS (
      SELECT v, sum(cnt) OVER (ORDER BY v) AS cum
      FROM (SELECT {metric} AS v, count(*) AS cnt FROM rfm GROUP BY 1)
    ),
    {metric}_cuts AS (SELECT {cuts})
    """


def _score_duck(metric: str, c: str) -> str:
    return (
        f"1 + CAST({metric} > {c}.t1 AS INT) + CAST({metric} > {c}.t2 AS INT)"
        f" + CAST({metric} > {c}.t3 AS INT) + CAST({metric} > {c}.t4 AS INT)"
    )


@query(
    "q_rfm_segments",
    oracle=f"""
    WITH maxd AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders
    ),
    rfm AS (
      SELECT o_custkey,
             CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                           (SELECT dmax FROM maxd)) AS BIGINT) AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
    {_quintile_cuts_duck("recency")},
    {_quintile_cuts_duck("frequency")},
    {_quintile_cuts_duck("monetary")}
    SELECT CAST(6 - ({_score_duck("recency", "recency_cuts")}) AS BIGINT)
             AS r_score,
           CAST({_score_duck("frequency", "frequency_cuts")} AS BIGINT)
             AS f_score,
           CAST({_score_duck("monetary", "monetary_cuts")} AS BIGINT)
             AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary) AS BIGINT) AS total_cents
    FROM rfm, recency_cuts, frequency_cuts, monetary_cuts
    GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — every customer scored 1-5 on Recency (days
    since last order), Frequency (order count), and Monetary (lifetime
    cents) against GLOBAL quintile thresholds, then rolled up per
    (r,f,m) cell: the classic CRM / churn-targeting segmentation.

    This is the documented answer to w_ntile_deciles' caveat ("an
    unpartitioned ntile over a fact table is a single-reducer sort"):
    instead of ranking every customer through one window, each metric's
    EXACT quintile thresholds (order statistics at ceil(q*n/5), the
    a_winsorized_stats convention) come from a distinct-value count
    cumsum — partitioned two-pass, value-domain-bounded — and scoring
    is a per-row CASE against four BROADCAST scalars. No global sort
    touches per-customer rows at any point; ties share a score, so the
    result is engine-deterministic with no tie-break key needed.

    Score direction follows the standard RFM convention: 5 is BEST on
    every axis — r_score 5 = most recently active (recency in days
    scores against the quintile cuts and is then inverted, 6 - q),
    f_score/m_score 5 = highest frequency/spend — so (5,5,5) reads as
    'best customers', not stale-but-heavy spenders.

    The per-customer rollup is localCheckpointed: three threshold
    passes and the final scoring all read it, and it is |customers|
    rows — at 100 TB persist it to disk-backed storage instead (same
    discipline, bigger state)."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    maxd = orders.agg(F.max("d").alias("dmax"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("cents").cast("long").alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("dmax", "last_d").cast("long").alias("recency"),
            "frequency",
            "monetary",
        )
        .localCheckpoint(eager=True)
    )

    def cuts(metric: str) -> DataFrame:
        vc = rfm.groupBy(F.col(metric).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        cum = partitioned_running_sum(
            vc,
            bucket=F.expr("v div 1000000"),
            order_cols=["v"],
            value_col="cnt",
            out_col="cum",
        )
        nn = vc.agg(F.sum("cnt").cast("long").alias("n"))
        return (
            cum.crossJoin(F.broadcast(nn))
            .agg(
                *[
                    F.min(
                        F.when(
                            F.col("cum") >= F.expr(f"({q} * n + 4) div 5"),
                            F.col("v"),
                        )
                    ).alias(f"{metric}_t{q}")
                    for q in (1, 2, 3, 4)
                ]
            )
        )

    def score(metric: str, invert: bool = False) -> F.Column:
        c = F.lit(1)
        for q in (1, 2, 3, 4):
            c = c + (F.col(metric) > F.col(f"{metric}_t{q}")).cast("int")
        if invert:  # high-is-bad metric (recency days): 5 = most recent
            c = F.lit(6) - c
        return c.cast("long")

    scored = (
        rfm.crossJoin(F.broadcast(cuts("recency")))
        .crossJoin(F.broadcast(cuts("frequency")))
        .crossJoin(F.broadcast(cuts("monetary")))
        .select(
            score("recency", invert=True).alias("r_score"),
            score("frequency").alias("f_score"),
            score("monetary").alias("m_score"),
            "monetary",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary").cast("long").alias("total_cents"),
    )


# --------------------------------------------------------------------------
# Supervised training-set assembly — features strictly past, label strictly
# future, one leakage-free table
# --------------------------------------------------------------------------
_CHURN_HORIZON_DAYS = 180


@query(
    "q_churn_training_set",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    seg_o AS (
      SELECT o.*, c_mktsegment AS segment
      FROM o JOIN customer ON o_custkey = c_custkey
    ),
    seg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS seg_n,
             CAST(sum(cents) AS BIGINT) AS seg_sum
      FROM seg_o GROUP BY 1
    )
    SELECT o_orderkey,
           CAST(coalesce(count(cents) OVER past, 0) AS BIGINT)
             AS trailing_n,
           CAST(coalesce(sum(cents) OVER past, 0) AS BIGINT)
             AS trailing_cents,
           CASE WHEN seg_n > 1
                THEN CAST((seg_sum - cents) // (seg_n - 1) AS BIGINT)
           END AS loo_cents,
           CAST(CASE WHEN lead(day) OVER nxt - day
                          <= {_CHURN_HORIZON_DAYS}
                     THEN 1 ELSE 0 END AS BIGINT) AS label
    FROM seg_o JOIN seg USING (segment)
    WINDOW past AS (PARTITION BY o_custkey ORDER BY day
                    RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING),
           nxt AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)
    """,
)
def q_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPERVISED TRAINING-SET ASSEMBLY — one table, three
    leakage-sensitive constructions composed, each pointing the right
    way in time: features look strictly BACKWARD (the j_pit_features
    90-day trailing window, current day excluded; the j_target_encode
    leave-one-out segment mean, own row excluded), the label looks
    strictly FORWARD (did the customer order again within {h} days —
    lead() over the per-customer order sequence, last order labeled 0).
    This is the repo's reference shape for 'build me a churn model
    table': every feature is computable at serving time, the label
    never contaminates a feature, and the whole thing is deterministic
    (lead ordered by (day, o_orderkey) total order).

    Scale: one fact shuffle on o_custkey serves BOTH customer-keyed
    windows (trailing + lead — Spark plans them in one WindowExec
    chain on the same partitioning), the customer-dim join shuffles
    once before it, and the LOO encode is broadcast 5-row group state.
    No self-joins, no global windows."""
    o = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .join(
            load(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("segment"),
            ),
            "o_custkey",
        )
    )
    seg = o.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("seg_n"),
        F.sum("cents").cast("long").alias("seg_sum"),
    )
    past = (
        Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-90, -1)
    )
    nxt = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    return (
        o.join(F.broadcast(seg), "segment")
        .select(
            "o_orderkey",
            F.coalesce(F.count("cents").over(past), F.lit(0))
            .cast("long")
            .alias("trailing_n"),
            F.coalesce(F.sum("cents").over(past), F.lit(0))
            .cast("long")
            .alias("trailing_cents"),
            F.when(
                F.col("seg_n") > 1,
                F.expr("CAST((seg_sum - cents) div (seg_n - 1) AS BIGINT)"),
            ).alias("loo_cents"),
            F.when(
                F.lead("day").over(nxt) - F.col("day")
                <= F.lit(_CHURN_HORIZON_DAYS),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("label"),
        )
    )


q_churn_training_set.__doc__ = q_churn_training_set.__doc__.format(
    h=_CHURN_HORIZON_DAYS
)


# --------------------------------------------------------------------------
# W5b — backward-fill + interpolation-free bounded fill
# --------------------------------------------------------------------------
@query(
    "w_backward_fill",
    oracle="""
    WITH t AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE round(value, 2) END AS v
      FROM events
    )
    SELECT event_id, user_id,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfilled,
           coalesce(
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             AS v_filled_both
    FROM t
    """,
)
def w_backward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-fill — the W5 mirror (next valid observation propagates
    back), plus the combined ffill-then-bfill column pandas users know
    as fillna(method='ffill').fillna(method='bfill'): leading nulls take
    the first later value, everything else takes the last earlier one.
    One shuffle on user_id serves BOTH frame directions (same
    partitioning + ordering, forward and reverse frames share the
    WindowExec sort). Used for sensor warm-up gaps where the first
    reading arrives late."""
    events = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.round(F.col("value"), 2)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    base = events.select("event_id", "user_id", v.alias("v"))
    bfill = F.first("v", ignorenulls=True).over(bwd)
    ffill = F.last("v", ignorenulls=True).over(fwd)
    return base.select(
        "event_id",
        "user_id",
        bfill.alias("v_bfilled"),
        F.coalesce(ffill, bfill).alias("v_filled_both"),
    )


# --------------------------------------------------------------------------
# Revenue bridge — period-over-period decomposition by customer class
# --------------------------------------------------------------------------
_BRIDGE_P1 = ("2000-01-01", "2000-07-01")
_BRIDGE_P2 = ("2000-07-01", "2001-01-01")


@query(
    "q_revenue_bridge",
    oracle=f"""
    WITH p1 AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS r1
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '{_BRIDGE_P1[0]}'
        AND CAST(o_orderdate AS DATE) < DATE '{_BRIDGE_P1[1]}'
      GROUP BY 1
    ),
    p2 AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS r2
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '{_BRIDGE_P2[0]}'
        AND CAST(o_orderdate AS DATE) < DATE '{_BRIDGE_P2[1]}'
      GROUP BY 1
    ),
    merged AS (
      SELECT coalesce(p1.o_custkey, p2.o_custkey) AS custkey,
             coalesce(r1, 0) AS r1, coalesce(r2, 0) AS r2
      FROM p1 FULL OUTER JOIN p2 ON p1.o_custkey = p2.o_custkey
    )
    SELECT CASE WHEN r1 = 0 THEN 'new'
                WHEN r2 = 0 THEN 'churned'
                WHEN r2 > r1 THEN 'expansion'
                WHEN r2 < r1 THEN 'contraction'
                ELSE 'flat' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(r2 - r1) AS BIGINT) AS delta_cents
    FROM merged
    GROUP BY 1
    """,
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE BRIDGE: the half-over-half revenue change decomposed
    into the four stories an operator asks about — new, churned,
    expanding, contracting customers (plus exactly-flat) — with each
    segment's customer count and signed delta in exact cents. The
    bridge identity sum(delta_cents) == P2 total - P1 total is the
    audit: a decomposition that doesn't reconcile is worse than none.

    Plan shape: two filtered partial aggregates over the SAME fact scan
    pattern (Catalyst reuses the scan subplan), a per-customer FULL
    OUTER merge — both sides keyed and shuffle-partitioned on custkey —
    then classification arithmetic and a 5-row rollup. Nothing after
    the merge grows with data; the merge itself is the unavoidable
    alignment shuffle."""
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        cents.alias("cents"),
    )

    def period(d0: str, d1: str, out: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("d") >= F.lit(d0)) & (F.col("d") < F.lit(d1))
            )
            .groupBy("o_custkey")
            .agg(F.sum("cents").cast("long").alias(out))
        )

    p1 = period(*_BRIDGE_P1, "r1")
    p2 = period(*_BRIDGE_P2, "r2")
    merged = (
        p1.join(p2, "o_custkey", "full_outer")
        .select(
            F.coalesce("r1", F.lit(0)).alias("r1"),
            F.coalesce("r2", F.lit(0)).alias("r2"),
        )
    )
    seg = (
        F.when(F.col("r1") == 0, "new")
        .when(F.col("r2") == 0, "churned")
        .when(F.col("r2") > F.col("r1"), "expansion")
        .when(F.col("r2") < F.col("r1"), "contraction")
        .otherwise("flat")
    )
    return merged.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.expr("r2 - r1")).cast("long").alias("delta_cents"),
    )


# --------------------------------------------------------------------------
# ABC analysis — cumulative-revenue-share classification of parts
# --------------------------------------------------------------------------
@query(
    "q_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
    ranked AS (
      SELECT cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey)
                  AS BIGINT) AS cum
      FROM rev
    )
    SELECT CASE WHEN 100 * cum <= 80 * total THEN 'A'
                WHEN 100 * cum <= 95 * total THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM ranked, tot
    GROUP BY 1
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC ANALYSIS: parts classified by cumulative revenue share in
    descending revenue order — A carries the first 80% of revenue, B
    the next 15%, C the tail — the inventory-prioritization classic
    (and the per-item sibling of e_user_pareto's curve). Boundary rule
    is exact integer arithmetic (100*cum <= 80*total), so the part
    STRADDLING the 80% line goes to B deterministically in both
    engines — a float share would flicker the boundary part between
    classes.

    The descending global rank is the scale-interesting part: computed
    by the partitioned two-pass cumsum with bucket = -(cents div 1e6) —
    NEGATED so the bucket stays monotone non-decreasing along the
    descending revenue order (the operator's contract) — never a
    single-partition global window over the part dimension. Ties
    (equal revenue) share a bucket, and the (cents DESC, partkey)
    tie-break totalizes the order identically in both engines."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    # materialize the catalog-bounded per-part rollup: the total, the
    # cumsum passes, and the final rollup all read it — unchecked, each
    # reference re-scans the lineitem fact
    rev = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=True)
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total"))
    ranked = partitioned_running_sum(
        rev,
        bucket=F.expr("-(cents div 1000000)"),
        order_cols=[F.desc("cents"), F.asc("l_partkey")],
        value_col="cents",
        out_col="cum",
    )
    cls = (
        F.when(F.expr("100 * cum <= 80 * total"), "A")
        .when(F.expr("100 * cum <= 95 * total"), "B")
        .otherwise("C")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------------
# Share-of-parent — multi-level contribution in one aggregation pass
# --------------------------------------------------------------------------
@query(
    "q_share_hierarchy",
    oracle="""
    WITH rev AS (
      SELECT r_name AS region, n_name AS nation,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, cents,
           CAST((10000 * CAST(cents AS HUGEINT))
                // sum(cents) OVER (PARTITION BY region) AS BIGINT)
             AS share_of_region_x10000,
           CAST((10000 * CAST(sum(cents) OVER (PARTITION BY region)
                              AS HUGEINT))
                // sum(cents) OVER () AS BIGINT)
             AS region_share_x10000
    FROM rev
    """,
)
def q_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARE-OF-PARENT at two hierarchy levels in one pass: each
    nation's revenue share within its region AND the region's share of
    world revenue, as exact x10000 integers — the drill-down
    contribution readout every BI tool calls 'percent of parent'.

    The fact table aggregates ONCE to the (region, nation) grid —
    dimension-bounded (25 nations) — and both parent sums are windows
    OVER THAT GRID, not over fact rows: the region partition window
    sees at most |nations| rows, the global window |nations| rows
    total, so the unpartitioned window is the documented
    bounded-domain exception (e_burst_minutes rule), never a
    fact-scale sort. Dims broadcast into the fact join; shares divide
    exact cents AFTER the x10000 scaling."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
        "n_regionkey",
    )
    reg = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"),
        F.col("r_name").alias("region"),
    )
    rev = (
        orders.join(cust, "o_custkey")
        .join(F.broadcast(nat), "c_nationkey")
        .join(F.broadcast(reg), "n_regionkey")
        .groupBy("region", "nation")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "cents",
        # x10000 numerators in DECIMAL(38,0) (HUGEINT in the oracle):
        # 10000 * a regional cents sum passes 2^63 at ~$9.2T/region —
        # real at the 100 TB contract even though BIGINT survives sf0.1
        F.expr("10000 * CAST(cents AS DECIMAL(38,0))").alias("_num"),
        F.sum("cents").over(w_region).alias("_reg"),
        F.sum("cents").over(w_all).alias("_tot"),
    ).select(
        "region",
        "nation",
        "cents",
        F.expr("CAST(_num div _reg AS BIGINT)").alias(
            "share_of_region_x10000"
        ),
        F.expr(
            "CAST((10000 * CAST(_reg AS DECIMAL(38,0))) div _tot AS BIGINT)"
        ).alias("region_share_x10000"),
    )


# --------------------------------------------------------------------------
# Median absolute deviation — the robust-scale estimator, two-pass exact
# --------------------------------------------------------------------------
@query(
    "a_mad_spend",
    oracle="""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    vc AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
    nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vc),
    c1 AS (
      SELECT cents, sum(cnt) OVER (ORDER BY cents) AS cum FROM vc
    ),
    med AS (
      SELECT (SELECT min(cents) FROM c1, nn WHERE cum >= (n + 1) // 2) AS m
    ),
    dv AS (
      SELECT abs(cents - m) AS dev, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM vc, med GROUP BY 1
    ),
    c2 AS (
      SELECT dev, sum(cnt) OVER (ORDER BY dev) AS cum FROM dv
    )
    SELECT (SELECT n FROM nn) AS n_orders,
           (SELECT m FROM med) AS median_cents,
           (SELECT min(dev) FROM c2, nn WHERE cum >= (n + 1) // 2)
             AS mad_cents
    """,
)
def a_mad_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN ABSOLUTE DEVIATION of order value — the robust scale
    estimator that pairs with the winsorized mean and the Gini index
    (stddev blows up on the same fat-finger rows winsorize clips; MAD
    has a 50% breakdown point). Exact, two passes of the same
    count-rank machinery: pass one finds the median as the smallest
    value whose cumulative count reaches ceil(n/2); pass two re-keys
    the VALUE-COUNT table (never the facts) by |x - median| — a
    map-side arithmetic on at most |distinct prices| rows once the
    1-row median broadcasts — and takes the median of that.

    Both cumsums run through the partitioned two-pass operator over
    value-domain-bounded tables; the fact is scanned exactly once
    (the vc table is checkpointed, the a_winsorized_stats discipline).
    Integer cents end-to-end: MAD of integers is an observed integer
    deviation, no interpolation to disagree on."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    o = load(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    vc = (
        o.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    nn = vc.agg(F.sum("cnt").cast("long").alias("n"))

    def rank_median(df: DataFrame, col: str) -> DataFrame:
        """1-row frame: smallest ``col`` whose cum count hits ceil(n/2)."""
        cum = partitioned_running_sum(
            df,
            bucket=F.expr(f"{col} div 1000000"),
            order_cols=[col],
            value_col="cnt",
            out_col="cum",
        )
        return (
            cum.crossJoin(F.broadcast(nn))
            .agg(
                F.min(
                    F.when(
                        F.col("cum") >= F.expr("(n + 1) div 2"), F.col(col)
                    )
                ).alias("m")
            )
        )

    med = rank_median(vc, "cents")
    dv = (
        vc.crossJoin(F.broadcast(med))
        .groupBy(F.expr("abs(cents - m)").alias("dev"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    mad = rank_median(dv, "dev").select(F.col("m").alias("mad"))
    return (
        nn.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            F.col("n").alias("n_orders"),
            F.col("m").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
        )
    )
