"""Window-function queries (Q9): rank/dense_rank/row_number, lag/lead,
cumulative and moving frames, per-group top-k."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import top_k_per_group
from ..registry import register
from ..sources.tables import load_table


@register(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="rank + dense_rank per customer by order value (deterministic tiebreak).",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    return o.select("o_custkey", "o_orderkey",
                    F.rank().over(w).alias("rnk"),
                    F.dense_rank().over(w).alias("drnk"))


@register(
    "window_row_number_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    doc="Top-3 orders per customer: the scalable per-group top-k idiom.",
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    top = top_k_per_group(o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3)
    return top.select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"))


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(lag(o_orderdate)  OVER w, '%Y-%m-%d') AS prev_order_date,
           strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS next_order_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead over each customer's order history.",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey")))
    return o.select(
        "o_custkey", "o_orderkey",
        F.date_format(F.lag("o_orderdate").over(w), "yyyy-MM-dd")
        .alias("prev_order_date"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd")
        .alias("next_order_date"),
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend
    FROM orders
    """,
    doc="Cumulative spend per customer (unbounded-preceding frame).",
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .alias("running_spend"))


@register(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS moving_avg5
    FROM events
    """,
    doc="5-row moving average per user; round(6) is tie-free because the\n        "
        "true avg of 2-decimal values over a <=5-row frame has <=4 decimals "
        "(round(2) would tie on exact .xx5 and engines disagree).",
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(-4, Window.currentRow))
    return e.select("user_id", "event_id",
                    F.round(F.avg("value").over(w), 6).alias("moving_avg5"))


@register(
    "window_global_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
    FROM orders
    """,
    doc="Global ntile via the distributed two-phase global ranking "
        "(range-partition + per-partition row_number + broadcast offsets) — "
        "exact ntile semantics with NO single-partition window over the "
        "base table; the only single-partition work is the "
        "#shuffle-partitions-row offsets frame.",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_ntile
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tiled = grouped_ntile(o, [], [("o_totalprice", "desc"), "o_orderkey"], 10,
                          out="decile")
    return tiled.select("o_orderkey", "decile")


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS spend_30d
    FROM orders
    """,
    doc="Value-RANGE window frame (vs the ROWS frames elsewhere): per-"
        "customer trailing-30-day spend.  RANGE frames include ties "
        "(same-day orders), so the result is deterministic per row even "
        "with duplicate order dates — no tiebreaker column needed.  One "
        "shuffle on o_custkey; frame evaluation is a per-partition "
        "sliding aggregate.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.unix_date(F.to_date("o_orderdate"))
    w = (Window.partitionBy("o_custkey").orderBy(day.cast("long"))
         .rangeBetween(-30, Window.currentRow))
    return o.select(
        "o_orderkey", "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
    doc="Distribution-rank window functions (percent_rank + cume_dist) "
        "partitioned by priority: rank-based, so tied totalprices get "
        "identical values — deterministic per row without a tiebreaker.  "
        "One shuffle on the partition key; both functions evaluate in a "
        "single Window operator pass.",
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "window_global_rank_stats",
    oracle="""
    WITH r AS (
      SELECT l_quantity,
             rank()         OVER (ORDER BY l_quantity) AS rnk,
             dense_rank()   OVER (ORDER BY l_quantity) AS drnk,
             percent_rank() OVER (ORDER BY l_quantity) AS pct,
             cume_dist()    OVER (ORDER BY l_quantity) AS cd
      FROM lineitem)
    SELECT l_quantity,
           CAST(rnk AS BIGINT)      AS rnk,
           CAST(drnk AS BIGINT)     AS drnk,
           round(pct, 6)            AS pct_rank,
           round(cd, 6)             AS cume_dist,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM r GROUP BY 1, 2, 3, 4, 5
    """,
    doc="Global tie-correct rank family — rank, dense_rank, "
        "percent_rank, cume_dist OVER (ORDER BY l_quantity) — via "
        "operators/windows.global_order_stats, the two-phase operator "
        "that collapses the input to DISTINCT keys + counts before the "
        "prefix pass (50 quantity values regardless of fact size), so "
        "no single-partition window and no full-width sort exist in "
        "the plan; the only full shuffle is the equi-join of per-key "
        "stats back to rows.  The oracle runs DuckDB's OWN window "
        "functions over all rows — ground truth, not a formula twin.  "
        "The group-by on the joined per-row frame verifies join-back "
        "multiplicity (n_rows per key must match the fact table).",
)
def q_window_global_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import global_order_stats

    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    s = global_order_stats(li, ["l_quantity"])
    return (
        s.select("l_quantity", "rnk", "drnk",
                 F.round("pct_rank", 6).alias("pct_rank"),
                 F.round("cume_dist", 6).alias("cume_dist"))
        .groupBy("l_quantity", "rnk", "drnk", "pct_rank", "cume_dist")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "window_range_trailing_7d",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS flag,
             datediff('day', DATE '1992-01-01', l_shipdate) AS dday,
             round(sum(l_extendedprice), 2) AS rev_day
      FROM lineitem GROUP BY 1, 2
    )
    SELECT flag, CAST(dday AS BIGINT) AS dday, rev_day,
           round(sum(rev_day) OVER (PARTITION BY flag ORDER BY dday
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rev_7d
    FROM daily
    """,
    doc="Trailing-7-day revenue via a value-RANGE window frame over the "
        "day number (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW): unlike "
        "a ROWS frame, missing calendar days correctly shrink the "
        "window, with no gap-filling spine needed.  The full-data "
        "shuffle is the daily pre-aggregation; the window then runs "
        "over (flags x days) rows partitioned by flag.  Daily sums are "
        "rounded(2) before the frame sum so both engines add identical "
        "doubles.",
)
def q_window_range_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.col("l_returnflag").alias("flag"),
                        F.expr("datediff(l_shipdate, DATE '1992-01-01')")
                         .alias("dday"))
             .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev_day")))
    w = Window.partitionBy("flag").orderBy("dday").rangeBetween(-6, 0)
    return daily.select("flag", F.col("dday").cast("long").alias("dday"),
                        "rev_day",
                        F.round(F.sum("rev_day").over(w), 2).alias("rev_7d"))
