"""Window-function surface: ranking, analytic, framed aggregates (SURVEY §2B).

Window partitioning shuffles once on the partition key; all functions over
the same (partitionBy, orderBy) share a single sort — the queries below are
written so each uses one window spec (one exchange + one sort at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._helpers import dec, fmt_date
from .registry import query


# --------------------------------------------------------------------------
# Ranking family over customers per nation.
# --------------------------------------------------------------------------
@query(
    "q_window_ranking",
    oracle="""
SELECT c_custkey, c_nationkey,
  ROW_NUMBER() OVER w AS rn,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk,
  NTILE(4) OVER w AS quartile,
  PERCENT_RANK() OVER w AS pct_rank,
  CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
)
def q_window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# Analytic family: lag/lead/first/last over each customer's order history.
# --------------------------------------------------------------------------
@query(
    "q_window_analytic",
    oracle="""
SELECT o_orderkey, o_custkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(LAG(CAST(o_totalprice AS DECIMAL(12,2)))
       OVER w AS DOUBLE) AS prev_price,
  CAST(LEAD(CAST(o_totalprice AS DECIMAL(12,2)))
       OVER w AS DOUBLE) AS next_price,
  CAST(FIRST_VALUE(CAST(o_totalprice AS DECIMAL(12,2)))
       OVER w AS DOUBLE) AS first_price,
  CAST(LAST_VALUE(CAST(o_totalprice AS DECIMAL(12,2))) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS DOUBLE) AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    price = dec("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        fmt_date("o_orderdate", "orderdate"),
        F.lag(price).over(w).cast("double").alias("prev_price"),
        F.lead(price).over(w).cast("double").alias("next_price"),
        F.first(price).over(w).cast("double").alias("first_price"),
        F.last(price).over(wfull).cast("double").alias("last_price"),
    )


# --------------------------------------------------------------------------
# Framed aggregates: running total (ROWS) + moving average (3-row frame).
# --------------------------------------------------------------------------
@query(
    "q_window_frames",
    oracle="""
SELECT o_orderkey, o_custkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_total,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS window3_sum,
  COUNT(*) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS window3_n
FROM orders
""",
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = base.rowsBetween(-2, Window.currentRow)
    price = dec("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(price).over(run).cast("double").alias("running_total"),
        F.sum(price).over(mov).cast("double").alias("window3_sum"),
        F.count(F.lit(1)).over(mov).alias("window3_n"),
    )


# --------------------------------------------------------------------------
# RANGE frame: orders within +/- value range of each order's price.
# --------------------------------------------------------------------------
@query(
    "q_window_range_frame",
    oracle="""
SELECT o_orderkey,
  COUNT(*) OVER
    (ORDER BY o_totalprice RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING)
    AS n_similar_price
FROM orders
""",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-15 scale-safe rewrite (guide §2). The declared result — for
    # each order, COUNT(*) of orders with o_totalprice in
    # [p - 1000.0, p + 1000.0] — was computed by a GLOBAL RANGE window:
    # Exchange SinglePartition + one window task at any scale
    # (faaaf6a:plans/r15/q_window_range_frame_before.txt), the last single-task
    # query path in the registry. Rewritten as a domain-bounded
    # bucket-partitioned cumulative count:
    #
    #   1. Aggregate orders to per-price counts. o_totalprice carries
    #      <= 2 decimals over a fixed domain (~[800, 800k] at ANY scale
    #      factor — TPC-H prices are bounded by part price x max qty x
    #      max lines), so this relation is bounded by the price DOMAIN,
    #      not the row count.
    #   2. Each distinct price p contributes its count to 1000-wide
    #      buckets floor(p/1000) - 1 .. + 1 (every price within +/-1000
    #      of a bucket-b price lies in those buckets), and emits two
    #      zero-weight query points at p - 1000.0 and p + 1000.0 into
    #      its own bucket.
    #   3. One running-count window PARTITIONED BY BUCKET (~800 groups,
    #      each bounded by the <= 100,001 distinct cent values per
    #      bucket) gives, at each query point, the number of orders
    #      with price strictly-below / at-or-below it; the difference
    #      of the two cums is exactly the RANGE-frame count. The tie
    #      column sequences equal sort keys: lower bound (0) before
    #      data (1) so its cum EXCLUDES prices equal to p - 1000.0,
    #      upper bound (2) after data so its cum INCLUDES p + 1000.0 —
    #      the window frame's closed interval.
    #
    # The +/-1000.0 boundaries are computed with the same IEEE double
    # add/subtract the window's RangeFrame used, so the kept set is
    # bit-identical (proven by collect-compare + oracle hash at 3 SFs).
    # Two column-pruned scans of orders replace the one wide scan; no
    # single-partition exchange remains.
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select("o_orderkey", F.col("o_totalprice").alias("v"))
    cnts = o.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    b = F.floor(F.col("v") / F.lit(1000.0)).cast("long")
    zero_w = F.lit(0).cast("long")
    no_p = F.lit(None).cast("double")

    def _row(tb, sv, tie, w, p):
        return F.struct(
            tb.alias("tb"),
            sv.alias("sv"),
            tie.alias("tie"),
            w.alias("w"),
            p.alias("p"),
        )

    rows = cnts.select(
        F.explode(
            F.array(
                _row(b - 1, F.col("v"), F.lit(1), F.col("c"), no_p),
                _row(b, F.col("v"), F.lit(1), F.col("c"), no_p),
                _row(b + 1, F.col("v"), F.lit(1), F.col("c"), no_p),
                _row(
                    b,
                    F.col("v") + F.lit(1000.0),
                    F.lit(2),
                    zero_w,
                    F.col("v"),
                ),
                _row(
                    b,
                    F.col("v") - F.lit(1000.0),
                    F.lit(0),
                    zero_w,
                    F.col("v"),
                ),
            )
        ).alias("e")
    ).select("e.tb", "e.sv", "e.tie", "e.w", "e.p")
    w_cum = (
        Window.partitionBy("tb")
        .orderBy("sv", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Both query points of a price p live in bucket b_p, so grouping by
    # (tb, p) — not p alone — lets the aggregate reuse the window's
    # hash(tb) partitioning (no third exchange). The join back
    # broadcasts the per-price relation (verified in the sf10 final
    # plan, 13M rows): safe at ANY data scale because the build side is
    # bounded by the PRICE DOMAIN, not the row count — <= ~8e7 distinct
    # cent values x 16 B ~= 1.3 GB absolute worst case, inside Spark's
    # 8 GB / 512M-row broadcast caps.
    per_p = (
        rows.withColumn("cum", F.sum("w").over(w_cum))
        .where(F.col("tie") != 1)
        .groupBy("tb", "p")
        .agg(
            F.sum(
                F.when(F.col("tie") == 2, F.col("cum")).otherwise(
                    -F.col("cum")
                )
            ).alias("n_similar_price")
        )
        .select("p", "n_similar_price")
    )
    return o.join(per_p, o.v == per_p.p).select(
        "o_orderkey", "n_similar_price"
    )


# --------------------------------------------------------------------------
# Top-k per group via row_number filter (classic Spark top-k pattern).
# --------------------------------------------------------------------------
@query(
    "q_topk_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
""",
)
def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            dec("o_totalprice").cast("double").alias("totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# Window + join: each order vs. its customer's average (exact decimal mean).
# --------------------------------------------------------------------------
@query(
    "q_window_vs_group_avg",
    oracle="""
SELECT o_orderkey, o_custkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
       (PARTITION BY o_custkey) AS DOUBLE)
    / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg,
  CASE WHEN o_totalprice > CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
       (PARTITION BY o_custkey) AS DOUBLE) / COUNT(*) OVER (PARTITION BY o_custkey)
       THEN 1 ELSE 0 END AS above_avg
FROM orders
""",
)
def q_window_vs_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = F.sum(dec("o_totalprice")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        cust_avg.alias("cust_avg"),
        F.when(F.col("o_totalprice") > cust_avg, 1).otherwise(0).alias(
            "above_avg"
        ),
    )
