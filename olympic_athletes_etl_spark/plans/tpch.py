"""Flagship + headline analytic queries (bench path).

These exercise the full scan → filter → join → aggregate → window stack the
reference pipeline composes (SURVEY.md §2: S1, F2/F5, J1/J5, A1, W1, O1-O3)
on the driver's TPC-H-ish tables. They are also the bench.py workload, so
they are written the way we'd want the 100 TB plan to look:

- BOUNDED dimension joins carry explicit ``F.broadcast`` hints
  (region/nation are fixed-size at every SF; scalar aggregates likewise).
  SF-scaled tables — customer/supplier/part, even when "small relative to
  the fact" — get NO hard hint: the planner/AQE broadcasts them while
  they fit the threshold and falls back to a shuffle join at cluster
  scale, where a forced 100 GB broadcast would OOM every executor (r13);
- aggregation happens BEFORE the window (shrink first, rank second);
- windows partition by a real key — never a global Window.orderBy on a
  fact table (SURVEY.md §4 anti-pattern);
- float aggregates are rounded identically in Spark and the DuckDB oracle
  (double accumulation order differs between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# Money SUMS accumulate in exact integer units and convert to dollars
# once at the end (tpch_extra's _REV_INT convention, applied here after
# the r12 sf10 sweep caught the raw-double-sum class on
# c_conditional_bucket — the a_gini_spend/r5 failure one decade later):
# price-cents x (100 - discount-cents) is an exact x1e4 integer per row
# (the money columns carry exactly 2 decimals), bigint sums are
# order-independent, and the dollar conversion is integer-DIV truncation
# to cents followed by /100.0 — NEVER round() on a double, which Spark
# evaluates on the shortest decimal repr while DuckDB uses the exact
# binary value (they disagree on .xx5 boundaries; with 1.5M output
# groups at sf10 some group always lands on one). Headroom: rev units
# <= ~1.05e9/row -> BIGINT holds to ~8e9 rows (~sf1000); charge units
# (x1e6, highest power of the money columns) are carried in
# DECIMAL(38,0)/HUGEINT.
_REV_INT = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)
# PRECONDITION sum >= 0: the truncating conversions pair Spark DIV
# (truncation toward zero) with DuckDB // (floor division) — identical
# for non-negative sums, one cent apart on negative ones. Every current
# use sums revenue terms that are provably >= 0 (price >= 0, discount
# <= 100%); a signed money column (e.g. acctbal deltas) must NOT reuse
# these templates as-is — use a sign-safe truncation on both sides.
_REV_SUM_SPARK = f"CAST(sum({_REV_INT}) DIV 100 AS DOUBLE) / 100.0"
_CHARGE_INT = (
    f"CAST({_REV_INT} * (100 + CAST(round(l_tax * 100) AS BIGINT))"
    " AS DECIMAL(38,0))"
)


def _rev_sum(alias: str = "revenue") -> F.Column:
    return F.expr(_REV_SUM_SPARK).alias(alias)


def flagship_region_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lineitem revenue within each region.

    Covers the reference's composite shape: parquet scans (S1), projection
    (F2), left-join chain on single keys (J1) with broadcast dims (J5),
    group aggregation (A1), partitioned window rank (W1/O3), deterministic
    tie-break (SURVEY §7 decision log).

    The fact scan is ``spread_on`` its join key (tables.spread — the
    guide-§2.5 unsplittable-input remedy): the bench layout packs each
    table into one parquet row group, so the scan stage — and the four
    broadcast-join probes pipelined into it — would run as ONE populated
    task. Safe: every aggregate downstream is an exact integer sum
    (partition-order-insensitive); a no-op on any layout that already
    splits.
    """
    lineitem = load(spark, sf_dir, "lineitem", spread_on="l_orderkey")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    per_customer = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .groupBy("r_name", "c_custkey", "c_name")
        .agg(_rev_sum())
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_customer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("r_name", "c_custkey", "c_name", "revenue", "rank")
    )


query(
    "flagship_region_top_customers",
    oracle="""
    WITH per_customer AS (
      SELECT r_name, c_custkey, c_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 100 AS DOUBLE) / 100.0 AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, c_custkey, c_name
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY r_name
                                   ORDER BY revenue DESC, c_custkey ASC) AS rank
      FROM per_customer
    )
    SELECT r_name, c_custkey, c_name, revenue, rank FROM ranked WHERE rank <= 3
    """,
)(flagship_region_top_customers)


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
           CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100) AS BIGINT))
                         * (100 + CAST(round(l_tax * 100) AS BIGINT))
                         AS HUGEINT))
                // 10000 AS DOUBLE) / 100.0 AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
                // count(*) AS DOUBLE) / 10000.0                        AS avg_price,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100
                // count(*) AS DOUBLE) / 10000.0                        AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate hash aggregation (A1/A6-style).

    Map-side partial aggregation + final hash agg — Catalyst does both; at
    100 TB the shuffle carries only (2-key × 8-agg) partials.

    ``spread_on`` (guide §2.5): the bench layout's single-row-group file
    pins the scan + partial aggregation to one populated task; the
    redistribution parallelizes the 8-aggregate arithmetic and is a
    no-op on a layout that splits. Aggregates are partition-order-proof:
    integer-unit money sums, counts, and sums/avgs of integer-valued
    quantity doubles (exact far below 2^53).
    """
    lineitem = load(spark, sf_dir, "lineitem", spread_on="l_orderkey")
    disc_price = _revenue()
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " AS DOUBLE) / 100.0"
            ).alias("sum_base_price"),
            _rev_sum("sum_disc_price"),
            F.expr(
                f"CAST(sum({_CHARGE_INT}) DIV 10000 AS DOUBLE) / 100.0"
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            # money AVGs truncate exact integer units to 4dp (sum >= 0;
            # quantity avg stays raw — integer-valued doubles are exact)
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100"
                " DIV count(*) AS DOUBLE) / 10000.0"
            ).alias("avg_price"),
            F.expr(
                "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100"
                " DIV count(*) AS DOUBLE) / 10000.0"
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 100 AS DOUBLE) / 100.0 AS revenue,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters pushed to scan, join, agg, top-k.

    Filters sit directly on the scans so Catalyst pushes them into the
    parquet readers (PushedFilters) before the join shuffles.
    """
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    # spread_on the group/join key (guide §2.5): parallelizes the join
    # probes + partial agg off the single-row-group scan task; exact
    # integer revenue sums are partition-order-proof. No-op when the
    # layout splits. The pushed l_shipdate filter still reaches the scan
    # (repartition sits above the filtered read).
    lineitem = load(spark, sf_dir, "lineitem", spread_on="l_orderkey").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "inner")
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_sum())
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_supplier_volume",
    oracle="""
    SELECT n_name, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 100 AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: multi-way join chain with broadcast dims (J1/J5/A1).

    ``spread_on`` the supplier join key (guide §2.5): parallelizes the
    broadcast-join probes + partial agg off the single-row-group scan
    task; exact integer revenue sums are partition-order-proof. No-op
    when the layout splits."""
    lineitem = load(spark, sf_dir, "lineitem", spread_on="l_suppkey")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_rev_sum())
    )


@query(
    "q_order_share_window",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(({_REV_INT} * 1000000)
                // sum({_REV_INT}) OVER (PARTITION BY l_orderkey)
                AS DOUBLE) / 1000000.0 AS order_share
    FROM lineitem
    """,
)
def q_order_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window (W3): each lineitem's share of its order's
    revenue — the reference's per-group-median-broadcast shape
    (data_clean_II_glue.py:80-92) on a fact-table key.

    The share truncates exact integer revenue units to 6dp:
    rev_int·1e6 DIV Σrev_int over the order — a raw-double window sum
    is accumulation-order-dependent and its round(,6) can flip
    cross-engine (r12 money-sum class). rev_int >= 0 and every order
    has a positive total in this schema (price >= 1 cent, discount
    <= 100%), so DIV==// and the denominator is never zero."""
    lineitem = load(spark, sf_dir, "lineitem")
    # rev_int is computed ONCE, below the window's exchange (guide §2.3
    # "project before the exchange"): the shuffle carries (l_orderkey,
    # l_linenumber, rev_int) instead of the two raw money doubles PLUS
    # the derived window operand, and the post-window projection reuses
    # the shuffled value instead of re-deriving it from the raws (the
    # before-plan shipped 5 columns and evaluated the cents expression
    # twice). Integer arithmetic — values bit-identical.
    return lineitem.selectExpr(
        "l_orderkey", "l_linenumber", f"{_REV_INT} AS rev_int"
    ).selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST((rev_int * 1000000)"
        " DIV sum(rev_int) OVER (PARTITION BY l_orderkey)"
        " AS DOUBLE) / 1000000.0 AS order_share",
    )
