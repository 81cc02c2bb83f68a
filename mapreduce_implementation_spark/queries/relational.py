"""Relational-core queries (SURVEY.md §2b Q4/Q5/Q7/Q8): aggregations,
scalar expressions, top-k, set ops, multi-dimensional grouping.

Oracle conventions: float aggregates round(2) on both sides; DuckDB int
sums cast to BIGINT; timestamps formatted to strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import (
    cube_agg, hash_aggregate, merge_upsert, pivot_agg, rollup_agg, top_k,
    union_distinct, intersect_distinct, except_distinct,
)
from ..registry import register
from ..sources.tables import load_table


@register(
    "agg_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 2)                                        AS avg_qty,
           round(avg(l_extendedprice), 2)                                   AS avg_price,
           round(avg(l_discount), 2)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filtered scan -> 2-key groupBy -> 8 aggregates (O8 generalized).",
)
def q_agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_minmax_multi_key",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                        AS n_orders,
           round(sum(o_totalprice), 2)     AS sum_price,
           round(min(o_totalprice), 2)     AS min_price,
           round(max(o_totalprice), 2)     AS max_price,
           count(DISTINCT o_custkey)       AS n_customers
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="Multi-key hash aggregate with count/sum/min/max/count-distinct.",
)
def q_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return hash_aggregate(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
        ],
    )


@register(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                          AS brand_uc,
           length(p_name)                          AS name_len,
           substr(p_name, 1, 8)                    AS name_prefix,
           concat(p_brand, ':', p_type)            AS brand_type,
           round(p_retailprice * 1.1, 2)           AS price_bumped,
           round(sqrt(p_size), 4)                  AS size_sqrt,
           abs(p_size - 25)                        AS size_dev,
           CAST(p_size % 5 AS INTEGER)             AS size_mod
    FROM part
    WHERE p_size >= 10 AND p_type LIKE '%AND%'
    """,
    doc="Scalar expression surface (Q5): string/math functions + predicates.",
)
def q_scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter((F.col("p_size") >= 10) & F.col("p_type").like("%AND%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_uc"),
            F.length("p_name").alias("name_len"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.round(F.col("p_retailprice") * 1.1, 2).alias("price_bumped"),
            F.round(F.sqrt("p_size"), 4).alias("size_sqrt"),
            F.abs(F.col("p_size") - 25).alias("size_dev"),
            (F.col("p_size") % 5).alias("size_mod"),
        )
    )


@register(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)    AS order_year,
           CAST(month(o_orderdate) AS INTEGER)   AS order_month,
           CAST(day(o_orderdate) AS INTEGER)     AS order_day,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           strftime(o_orderdate, '%Y-%m-%d')     AS order_date_str
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    """,
    doc="Date/time scalar functions (Q5); timestamps stringified for the oracle.",
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        )
    )


@register(
    "top_k",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="Global top-k (Q7): TakeOrderedAndProject, never a full sort at scale.",
)
def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return top_k(
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"),
                      F.col("o_totalprice").alias("_ord")),
        [F.desc("_ord"), F.asc("o_orderkey")], 25,
    ).drop("_ord")


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="UNION (distinct) of customer and supplier nation keys (Q8).",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return union_distinct(c, s)


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT (distinct) of nation-key sets (Q8).",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return intersect_distinct(c, s)


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="EXCEPT (distinct): nations with customers but no suppliers (Q8).",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return except_distinct(c, s)


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="Multi-column DISTINCT (Q8/Q10 exact-dedup primitive).",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "rollup_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (grouping-sets family).",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return rollup_agg(
        li, ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")],
    )


@register(
    "cube_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return cube_agg(
        orders, ["o_orderstatus", "o_orderpriority"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price")],
    )


@register(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS O,
           round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot with explicit value list (no extra distinct job at scale).",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return pivot_agg(li, "l_returnflag", "l_linestatus", ["O", "F"],
                     F.round(F.sum("l_quantity"), 2))


@register(
    "pagination_offset",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    doc="Pagination surface (page 3 of 20): ORDER BY + OFFSET + LIMIT.  "
        "Spark plans a bounded take of offset+limit rows — fine for UI-"
        "depth pages; deep pagination should switch to keyset predicates "
        "(WHERE sortkey < last_seen), which is a filter, not an offset.",
)
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(40).limit(20)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@register(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price_exact
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact DECIMAL aggregation: money sums in decimal(18,2) are "
        "order-insensitive and reproducible across cluster sizes, unlike "
        "double sums (the engine's recommended money type at 100 TB; the "
        "fixture's 2-decimal doubles cast exactly, so engines agree "
        "bit-for-bit).",
)
def q_agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .alias("sum_price_exact"))
    )


@register(
    "agg_stat_moments",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag AS flag, avg(l_quantity) AS mu_q,
             avg(l_extendedprice) AS mu_p, count(*) AS n
      FROM lineitem GROUP BY 1
    )
    SELECT flag AS returnflag,
           CAST(n AS BIGINT) AS n,
           round(avg(pow(l.l_quantity - mu_q, 3))
                 / pow(avg(pow(l.l_quantity - mu_q, 2)), 1.5), 6) AS skew_qty,
           round(avg(pow(l.l_quantity - mu_q, 4))
                 / pow(avg(pow(l.l_quantity - mu_q, 2)), 2) - 3, 6) AS kurt_qty,
           round(stddev_samp(l.l_quantity), 6) AS std_qty,
           round(corr(l.l_quantity, l.l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l.l_quantity, l.l_discount), 6) AS cov_qty_disc
    FROM lineitem l JOIN mu ON l.l_returnflag = mu.flag
    GROUP BY flag, n
    """,
    doc="Higher statistical moments per group: population skewness / "
        "excess kurtosis (Spark's definitions — the oracle derives the "
        "same centered moments explicitly, since DuckDB's skewness() / "
        "kurtosis() are bias-corrected sample statistics), plus "
        "stddev_samp / corr / covar_samp which both engines define "
        "identically.  Single-pass partial-aggregable moment sketches — "
        "one shuffle regardless of table size.",
)
def q_agg_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
            F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
        )
    )


@register(
    "agg_percentiles_exact",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
           round(median(o_totalprice), 2)              AS med
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (p50/p90/p99 + median) per group: "
        "Spark percentile() == DuckDB quantile_cont (both linear "
        "interpolation).  Exact percentile holds each group's values — "
        "fine for bounded group cardinality; at 100 TB with huge groups "
        "the drop-in is approx_percentile (KLL-style mergeable sketch, "
        "bounded memory, partial-aggregable) — pinned against this exact "
        "form in tests/test_graph_text.py.",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    return (
        o.groupBy("o_orderpriority")
        .agg(pct.alias("_p"))
        .select(
            "o_orderpriority",
            F.round(F.col("_p")[0], 2).alias("p50"),
            F.round(F.col("_p")[1], 2).alias("p90"),
            F.round(F.col("_p")[2], 2).alias("p99"),
            # median IS _p[0]; a second percentile(0.5) aggregate would
            # materialize every group's value list twice
            F.round(F.col("_p")[0], 2).alias("med"),
        )
    )


@register(
    "agg_hll_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE                    AS within_tol
    FROM events GROUP BY event_type
    """,
    doc="Distinct-count sketching (the 100 TB cardinality workhorse): "
        "approx_count_distinct (HyperLogLog++, mergeable fixed-size "
        "sketch, partial-aggregable — ONE narrow shuffle regardless of "
        "cardinality) next to the exact count_distinct (which shuffles "
        "every distinct value).  The HLL++ estimate itself is "
        "engine-specific, so the hashable surface is the exact count "
        "plus an in-query accuracy bound: within_tol pins "
        "|approx - exact| / exact <= 5% (rsd=0.02) as a boolean the "
        "oracle asserts TRUE.  HLL++ has no RNG, so the bound is a "
        "deterministic regression pin, not a flaky tolerance.",
)
def q_agg_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("n_approx"),
        )
        .select(
            "event_type", "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact"))
             / F.greatest(F.col("n_exact"), F.lit(1)) <= 0.05).alias("within_tol"),
        )
    )


@register(
    "set_except_all",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_totalprice > 100000
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_totalprice > 300000
    """,
    doc="Bag-semantics EXCEPT ALL (multiplicity-preserving difference): "
        "each right occurrence cancels ONE left occurrence — "
        "df.exceptAll, distinct-based except would collapse counts.  "
        "Compiles to a single aggregate-and-replicate plan, no join "
        "explosion.",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_totalprice") > 100000).select("o_orderpriority")
    right = o.filter(F.col("o_totalprice") > 300000).select("o_orderpriority")
    return left.exceptAll(right)


@register(
    "sort_nulls_ordering",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderpriority, '1-URGENT') AS prio_or_null,
           CAST(row_number() OVER (
               ORDER BY nullif(o_orderpriority, '1-URGENT') ASC NULLS FIRST,
                        o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
    doc="NULL-ordering semantics made value-checkable: rows ranked under "
        "ASC NULLS FIRST (Spark's asc_nulls_first == SQL NULLS FIRST), "
        "with the rank materialized as a column so the order-insensitive "
        "driver compare still verifies the ORDER — a plain sorted output "
        "would hash identically under any row order.",
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Global row_number == prefix sum of 1 — the distributed two-phase
    # form (range partition + parallel local cumsum + broadcast
    # offsets); a bare Window.orderBy would funnel every row through a
    # single partition, the last-reducer anti-pattern this repo forbids.
    from ..operators.windows import grouped_running_sum

    o = load_table(spark, sf_dir, "orders")
    pn = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    base = o.select("o_orderkey", pn.alias("prio_or_null"),
                    F.lit(1).cast("long").alias("_one"))
    ranked = grouped_running_sum(
        base, "_one", [],
        [("prio_or_null", "asc", "first"), "o_orderkey"],
        out="rn")
    return ranked.select("o_orderkey", "prio_or_null",
                         F.col("rn").cast("long").alias("rn"))


@register(
    "map_type_surface",
    oracle="""
    WITH per AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT event_type, count(*) AS n_days FROM per GROUP BY 1)
    SELECT per.event_type, days.n_days, per.dow, per.n_events
    FROM per JOIN days USING (event_type)
    """,
    doc="MAP-type surface end-to-end: per event_type build a "
        "dow -> count map (map_from_entries over a sorted entry list — "
        "sort_array makes the collect_list order deterministic), read "
        "its size, then explode back to rows.  Pins MapType "
        "construction, size and entry iteration through Catalyst; the "
        "oracle computes the same rows relationally.",
)
def q_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per = (e.groupBy("event_type",
                     F.dayofweek("ts").cast("int").alias("dow"))
           .agg(F.count(F.lit(1)).alias("n")))
    m = per.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("dow", "n")))).alias("m"))
    return m.select(
        "event_type",
        F.size("m").cast("long").alias("n_days"),
        F.explode("m").alias("dow", "n_events"),
    )


@register(
    "sketch_hll_rollup",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE                    AS within_tol
    FROM events GROUP BY event_type
    """,
    doc="Mergeable-sketch rollup (the incremental cardinality pattern a "
        "100 TB warehouse stores): per-day HLL sketches built with "
        "hll_sketch_agg (Apache DataSketches binary), then UNION-MERGED "
        "across days with hll_union_agg to answer the all-time distinct "
        "question WITHOUT rescanning raw events — exactly how a daily "
        "ETL materializes sketches once and serves arbitrary rollups.  "
        "Differs from agg_hll_distinct (one-shot approx_count_distinct): "
        "this path proves sketch STORAGE + MERGE associativity.  The "
        "hashable surface is the exact count plus a <=5% error-bound "
        "boolean, same convention as the other sketch queries.",
)
def q_sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_n_est"))
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type", "n_exact",
            (F.abs(F.col("_n_est") - F.col("n_exact"))
             / F.greatest(F.col("n_exact"), F.lit(1)) <= 0.05).alias("within_tol"),
        )
    )


@register(
    "sketch_hll_rolling_window",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
      WHERE user_id IS NOT NULL
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM du),
    fan AS (
      SELECT du.d + CAST(o.o AS INTEGER) AS day, du.user_id
      FROM du, (SELECT unnest(generate_series(0, 6)) AS o) o
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d,
           TRUE AS within_tol
    FROM fan, bounds WHERE day BETWEEN lo AND hi
    GROUP BY day ORDER BY day
    """,
    doc="Trailing-7-day distinct users per day answered from STORED "
        "per-day HLL sketches (the materialized-sketch idiom at its "
        "actual use case: a warehouse builds one sketch per day ONCE, "
        "then any rolling window is |window| sketch unions — no raw "
        "rescan, no fan-out of the event stream).  The sketch leg: one "
        "groupBy(day) hll_sketch_agg pass (|days| sketch rows), then a "
        "range self-join of that dimension-sized frame unions each "
        "day's trailing 7 sketches (hll_union_agg is associative and "
        "order-free, the DataSketches merge contract).  The hashable "
        "surface is the EXACT rolling count (computed via the same "
        "offset fan-out identity as timeseries_wau_sliding, which is "
        "the SQL twin) plus a <=5%-relative-error boolean on the "
        "sketch estimate — same convention as sketch_hll_rollup, whose "
        "all-time merge this generalizes to arbitrary windows.  "
        "Companion to dedup_bloom_frontier_rolling: same per-window-"
        "partial + dimension-sized-range-merge shape, distinct-count "
        "instead of membership.",
)
def q_sketch_hll_rolling_window(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = (load_table(spark, sf_dir, "events")
         .where(F.col("user_id").isNotNull()))
    daily = (e.groupBy(F.to_date("ts").alias("day"))
             .agg(F.expr("hll_sketch_agg(user_id)").alias("sk")))
    # Target days = the SAME 0..6 fan-out the exact leg (and the
    # oracle) emit, derived from the dimension-sized day frame — NOT
    # daily's own day set.  A calendar day with zero events but
    # activity in its trailing 6 days has no daily row, yet the
    # oracle emits it; keying the sketch merge on daily days silently
    # dropped such gap days.  Every fan-out day d+o has
    # d itself inside its trailing window, so the range join below is
    # total over this set and inner-join semantics are safe.
    ddays = daily.select("day")
    dbounds = ddays.agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
    target = (ddays
              .select(F.explode(
                  F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
                  .alias("_d"))
              .distinct()
              .crossJoin(F.broadcast(dbounds))
              .where(F.col("_d").between(F.col("_lo"), F.col("_hi")))
              .select("_d"))
    est = (target
           .join(F.broadcast(daily),
                 (F.col("day") >= F.date_sub(F.col("_d"), 6))
                 & (F.col("day") <= F.col("_d")))
           .groupBy("_d")
           .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                .alias("_est")))
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    fan = du.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
         .alias("day"), "user_id")
    exact = (fan.crossJoin(F.broadcast(bounds))
             .where(F.col("day").between(F.col("lo"), F.col("hi")))
             .groupBy("day")
             .agg(F.count_distinct("user_id").alias("n_active_7d")))
    return (exact.join(F.broadcast(est), exact["day"] == est["_d"])
            .select("day", "n_active_7d",
                    (F.abs(F.col("_est") - F.col("n_active_7d"))
                     / F.greatest(F.col("n_active_7d"), F.lit(1))
                     <= 0.05).alias("within_tol"))
            .orderBy("day"))


@register(
    "cdc_merge_upsert",
    oracle="""
    WITH ch AS (
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment,
             'U' AS op, 1 AS seq
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 200, 2), c_mktsegment, 'U', 2
      FROM customer WHERE c_custkey % 100 = 3
      UNION ALL
      SELECT c_custkey, NULL, NULL, NULL, NULL, 'D', 1
      FROM customer WHERE c_custkey % 10 = 7
      UNION ALL
      SELECT -(c_custkey + 1), 'new_' || CAST(c_custkey AS VARCHAR),
             c_nationkey, 0.0, c_mktsegment, 'I', 1
      FROM customer WHERE c_custkey % 10 = 1
    ),
    latest AS (
      SELECT * FROM (
        SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY seq DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    snap AS (
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal, 2) AS c_acctbal, c_mktsegment
      FROM customer
    )
    SELECT * FROM snap
    WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM latest WHERE op <> 'D'
    """,
    doc="CDC MERGE INTO (the Delta/Iceberg upsert semantics on plain "
        "DataFrames): a derived change batch (updates +100 on keys "
        "%10=3, a SECOND later update +200 on %100=3 — pins "
        "latest-change-wins, deletes on %10=7, inserts of brand-new "
        "negative keys on %10=1) applied to the customer snapshot.  "
        "Latest-per-key is a window over the small change batch only; "
        "the snapshot flows through one left-anti hash join and "
        "unchanged rows are never widened or re-sorted.",
)
def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    snap = cust.select(
        "c_custkey", "c_name", "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment")
    upd1 = (cust.filter(F.col("c_custkey") % 10 == 3)
            .select("c_custkey", "c_name", "c_nationkey",
                    F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
                    "c_mktsegment",
                    F.lit("U").alias("op"), F.lit(1).alias("seq")))
    upd2 = (cust.filter(F.col("c_custkey") % 100 == 3)
            .select("c_custkey", "c_name", "c_nationkey",
                    F.round(F.col("c_acctbal") + 200, 2).alias("c_acctbal"),
                    "c_mktsegment",
                    F.lit("U").alias("op"), F.lit(2).alias("seq")))
    dels = (cust.filter(F.col("c_custkey") % 10 == 7)
            .select("c_custkey",
                    F.lit(None).cast("string").alias("c_name"),
                    F.lit(None).cast("int").alias("c_nationkey"),
                    F.lit(None).cast("double").alias("c_acctbal"),
                    F.lit(None).cast("string").alias("c_mktsegment"),
                    F.lit("D").alias("op"), F.lit(1).alias("seq")))
    ins = (cust.filter(F.col("c_custkey") % 10 == 1)
           .select((-(F.col("c_custkey") + 1)).alias("c_custkey"),
                   F.concat(F.lit("new_"),
                            F.col("c_custkey").cast("string")).alias("c_name"),
                   "c_nationkey",
                   F.lit(0.0).alias("c_acctbal"), "c_mktsegment",
                   F.lit("I").alias("op"), F.lit(1).alias("seq")))
    changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    return merge_upsert(snap, changes, ["c_custkey"],
                        op_col="op", seq_col="seq")


@register(
    "agg_weighted_median",
    oracle="""
    WITH t AS (SELECT sum(l_quantity) AS tw FROM lineitem),
    c AS (
      SELECT l_extendedprice AS price,
             sum(l_quantity) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw
      FROM lineitem
    )
    SELECT round(price, 2) AS weighted_median,
           CAST(t.tw AS BIGINT) AS total_weight
    FROM c CROSS JOIN t
    WHERE cumw >= t.tw / 2
    ORDER BY cumw LIMIT 1
    """,
    doc="Exact WEIGHTED median (price weighted by quantity) — the "
        "order-statistic no built-in aggregate computes: the first row "
        "whose cumulative weight crosses half the total.  The global "
        "cumulative weight comes from the distributed two-phase prefix "
        "sum (operators/windows.grouped_running_sum with no group "
        "columns — range partition + "
        "parallel local cumsum + broadcast offsets), NEVER a "
        "single-partition window over the fact table; the crossing row "
        "is a TakeOrdered(1).  Total weight enters the plan as a "
        "broadcast 1-row aggregate.  Sort key carries the "
        "(orderkey, linenumber) tiebreaker so the prefix is a total "
        "order — exact quantity sums (integer-valued doubles) make the "
        "half-total comparison engine-identical.",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        "l_quantity", "l_orderkey", "l_linenumber")
    cum = grouped_running_sum(
        li,
        "l_quantity",
        [],
        ["price", "l_orderkey", "l_linenumber"],
        out="cumw",
    )
    tw = li.agg(F.sum("l_quantity").alias("tw"))
    return (
        cum.crossJoin(F.broadcast(tw))
        .filter(F.col("cumw") >= F.col("tw") / 2)
        .orderBy("cumw").limit(1)
        .select(F.round("price", 2).alias("weighted_median"),
                F.col("tw").cast("long").alias("total_weight"))
    )


@register(
    "agg_weighted_median_by_flag",
    oracle="""
    WITH t AS (
      SELECT l_returnflag, sum(l_quantity) AS tw
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT l_returnflag, l_extendedprice AS price,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw
      FROM lineitem
    )
    SELECT c.l_returnflag,
           round(arg_min(price, cumw), 2)  AS weighted_median,
           CAST(t.tw AS BIGINT)            AS total_weight
    FROM c JOIN t USING (l_returnflag)
    WHERE cumw >= t.tw / 2
    GROUP BY c.l_returnflag, t.tw
    """,
    doc="PER-GROUP exact weighted median via the GROUPED distributed "
        "prefix sum (operators/windows.grouped_running_sum): a plain "
        "PARTITION BY window puts each whole group in ONE task — fatal "
        "when a 3-value flag column partitions 100 TB into 33 TB "
        "groups.  The grouped operator range-partitions on (group, "
        "order key) so one group spans many partitions, cumsums run "
        "per (partition, group) in parallel, and group offsets come "
        "from the tiny contiguous-run totals frame.  Crossing row "
        "picked with min_by(price, cumw) — cumw is strictly increasing "
        "within a group, so the pick is deterministic.",
)
def q_agg_weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("price"),
        "l_quantity", "l_orderkey", "l_linenumber")
    cum = grouped_running_sum(
        li, "l_quantity", ["l_returnflag"],
        ["price", "l_orderkey", "l_linenumber"],
        out="cumw",
    )
    tw = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("tw"))
    return (
        cum.join(tw, "l_returnflag")
        .filter(F.col("cumw") >= F.col("tw") / 2)
        .groupBy("l_returnflag", "tw")
        .agg(F.round(F.min_by("price", "cumw"), 2).alias("weighted_median"))
        .select("l_returnflag", "weighted_median",
                F.col("tw").cast("long").alias("total_weight"))
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_totalprice > 100000
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Bag-semantics INTERSECT ALL (multiplicity = min of the two "
        "sides' counts): df.intersectAll — completes the multiset "
        "trio with unionAll and exceptAll.  Same single "
        "aggregate-and-replicate plan shape as EXCEPT ALL.",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    left = o.filter(F.col("o_totalprice") > 100000).select("o_orderpriority")
    right = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return left.intersectAll(right)


@register(
    "anomaly_daily_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS m
      FROM daily GROUP BY 1
    ),
    mad AS (
      SELECT daily.event_type,
             quantile_cont(abs(daily.v - med.m), 0.5) AS mad
      FROM daily JOIN med USING (event_type)
      GROUP BY daily.event_type
    )
    SELECT daily.event_type,
           strftime(daily.day, '%Y-%m-%d') AS day,
           daily.v AS revenue,
           round((daily.v - med.m) / (1.4826 * mad.mad), 4)
             AS robust_z
    FROM daily JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND abs((daily.v - med.m) / (1.4826 * mad.mad)) > 2.5
    """,
    doc="Robust anomaly detection by median absolute deviation "
        "(robust_z = (x - median) / (1.4826 * MAD) — the "
        "outlier-resistant alternative to the mean/stddev z-score "
        "query, which an actual outlier inflates): two exact-percentile "
        "aggregations over the DAILY frame (O(types x days), tiny "
        "regardless of event volume — the only full-data pass is the "
        "daily sum), then a per-row flag.  At true scale the exact "
        "percentile swaps for approx_percentile, same plan shape.",
)
def q_anomaly_daily_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum("value"), 2).alias("v")))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("m"))
    dev = daily.join(med, "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(v - m), 0.5)").alias("mad"))
    # try_divide: MAD == 0 is reachable on real data (any series where
    # the median deviation is 0, e.g. >50% constant days) — the mad > 0
    # filter below keeps such rows out of the OUTPUT, but Catalyst may
    # reorder conjuncts, and under ANSI mode a bare `/` inside the
    # filter would throw before the guard applies.  NULL z fails both
    # predicates, same result, no crash.
    z = F.try_divide(F.col("v") - F.col("m"), F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(mad, "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) > 2.5))
        .select("event_type",
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                F.col("v").alias("revenue"),
                F.round(z, 4).alias("robust_z"))
    )


def _zorder_expr(a: str, b: str, bits: int) -> str:
    """Morton bit-interleave of two already-masked integer expressions as
    one fully-parenthesized SQL string (valid in both Spark SQL and
    DuckDB -- `+` binds tighter than `<<` in DuckDB, so every term is
    wrapped)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({a}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_ZDUCK = _zorder_expr(
    "(o_custkey & 4095)",
    "(datediff('day', DATE '1992-01-01', o_orderdate) & 4095)", 12)


@register(
    "layout_zorder_key",
    oracle=f"""
    WITH z AS (
      SELECT o_custkey,
             datediff('day', DATE '1992-01-01', o_orderdate) AS dday,
             CAST({_ZDUCK} AS BIGINT) AS zkey
      FROM orders
    )
    SELECT CAST(zkey >> 14 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_custkey) AS BIGINT) AS cust_lo,
           CAST(max(o_custkey) AS BIGINT) AS cust_hi,
           CAST(min(dday) AS BIGINT) AS day_lo,
           CAST(max(dday) AS BIGINT) AS day_hi
    FROM z GROUP BY 1
    """,
    doc="Z-order (Morton) clustering-key assignment over (customer, "
        "order-day) -- the multi-dimensional data-layout primitive "
        "behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the two "
        "dimensions' bits makes each fixed-size key range a bounded "
        "RECTANGLE in (cust, day) space, so a scan filtered on EITHER "
        "dimension can skip most buckets by min/max stats alone.  "
        "Output audits exactly that: per-bucket row count plus "
        "per-dimension lo/hi bounds.  Pure codegen bit arithmetic (one "
        "expression, no UDF) + one bucket-keyed groupBy; "
        "`repartitionByRange(zkey)` would materialize the clustered "
        "layout at 100 TB.",
)
def q_layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dday = "datediff(o_orderdate, DATE '1992-01-01')"
    z = orders.select(
        "o_custkey",
        F.expr(dday).alias("dday"),
        F.expr(_zorder_expr("(o_custkey & 4095)", f"(({dday}) & 4095)", 12))
         .cast("long").alias("zkey"))
    return (z.groupBy(F.shiftright("zkey", 14).cast("long").alias("zbucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_custkey").cast("long").alias("cust_lo"),
                 F.max("o_custkey").cast("long").alias("cust_hi"),
                 F.min("dday").cast("long").alias("day_lo"),
                 F.max("dday").cast("long").alias("day_hi")))


@register(
    "agg_gini_spend",
    oracle="""
    WITH spend AS (SELECT round(sum(o_totalprice), 2) AS x
                   FROM orders GROUP BY o_custkey),
    r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM spend)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(x), 2) AS total_spend,
           round((2.0 * sum(rn * x)) / (count(*) * sum(x))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM r
    """,
    doc="Gini coefficient of per-customer spend (the revenue-"
        "concentration statistic): G = 2*sum(rank_i * x_i)/(n*sum x) - "
        "(n+1)/n over ascending-sorted spends.  The rank-weighted sum is "
        "TIE-INVARIANT (swapping equal values permutes consecutive "
        "ranks without changing the sum), so the engine derives it from "
        "operators/windows.global_order_stats — the two-phase "
        "distinct-collapse rank operator with NO single-partition "
        "window and no full-width sort: per tie group of c rows at "
        "min-rank r, sum(row_numbers) = c*r + c*(c-1)/2.  Per-customer "
        "spends are rounded(2) BEFORE ranking so both engines rank "
        "bit-identical values.  The oracle uses DuckDB's own "
        "row_number — ground truth, not a formula twin.",
)
def q_agg_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import global_order_stats

    o = load_table(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
             .select("spend"))
    s = global_order_stats(spend, ["spend"])
    d = s.groupBy("spend", "rnk").agg(F.count(F.lit(1)).alias("c"))
    rn_sum = (F.col("c") * F.col("rnk")
              + F.col("c") * (F.col("c") - 1) / F.lit(2.0))
    agg = d.agg(F.sum(F.col("spend") * rn_sum).alias("srx"),
                F.sum(F.col("spend") * F.col("c")).alias("sx"),
                F.sum("c").cast("double").alias("n"))
    gini = ((F.lit(2.0) * F.col("srx")) / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1) / F.col("n"))
    return agg.select(F.col("n").cast("long").alias("n_customers"),
                      F.round("sx", 2).alias("total_spend"),
                      F.round(gini, 6).alias("gini"))


@register(
    "sketch_hll_datasketches",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_5pct
    FROM orders GROUP BY 1
    """,
    doc="Apache DataSketches HLL surface (hll_sketch_agg + "
        "hll_sketch_estimate, the MERGEABLE registered-sketch API "
        "Spark 3.5 added): per-priority distinct customers estimated "
        "from per-partition sketches merged at the reduce — fixed "
        "sketch-sized state per group at any cardinality, the "
        "re-aggregatable form count_distinct can never be.  The "
        "estimate itself is engine-specific, so the output carries the "
        "exact count (SQL twin) plus `within_5pct` pinning "
        "|est - exact| / exact <= 0.05 in-query — the oracle asserts "
        "the accuracy contract, not the sketch internals (HLL at "
        "default lgK=12 gives ~1.6% RSE, so 5% is a hard-fail bound, "
        "not slack).",
)
def q_sketch_hll_datasketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = (o.groupBy("o_orderpriority")
         .agg(F.count_distinct("o_custkey").alias("exact_distinct"),
              F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))")
               .alias("_est")))
    ok = (F.abs(F.col("_est") - F.col("exact_distinct"))
          / F.col("exact_distinct") <= 0.05)
    return g.select("o_orderpriority",
                    F.col("exact_distinct").cast("long")
                     .alias("exact_distinct"),
                    ok.alias("within_5pct"))


@register(
    "agg_ols_normal_equations",
    oracle="""
    WITH m AS (
      SELECT count(*)::DOUBLE AS n,
             sum(l_quantity)::DOUBLE AS sx1, sum(l_discount) AS sx2,
             sum(l_quantity*l_quantity)::DOUBLE AS s11,
             sum(l_quantity*l_discount) AS s12,
             sum(l_discount*l_discount) AS s22,
             sum(l_extendedprice) AS sy,
             sum(l_quantity*l_extendedprice) AS s1y,
             sum(l_discount*l_extendedprice) AS s2y
      FROM lineitem
    ),
    d AS (
      SELECT *,
        (n*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2)
           + sx2*(sx1*s12 - s11*sx2)) AS det
      FROM m
    )
    SELECT
      round((sy*(s11*s22-s12*s12) - sx1*(s1y*s22-s12*s2y)
               + sx2*(s1y*s12-s11*s2y)) / det, 6) AS b0,
      round((n*(s1y*s22-s2y*s12) - sy*(sx1*s22-sx2*s12)
               + sx2*(sx1*s2y-sx2*s1y)) / det, 6) AS b1,
      round((n*(s11*s2y-s12*s1y) - sx1*(sx1*s2y-sx2*s1y)
               + sy*(sx1*s12-sx2*s11)) / det, 6) AS b2,
      CAST(n AS BIGINT) AS n_rows
    FROM d
    """,
    doc="Multivariate OLS (price ~ quantity + discount) solved "
        "DECLARATIVELY: the 3x3 normal equations' Gram matrix and "
        "moment vector are nine partial-aggregable sums — ONE pass, "
        "map-side combine, a 1-row reduce — and the closed-form "
        "Cramer's-rule solve is pure scalar arithmetic on that row, so "
        "multi-feature regression at 100 TB costs exactly one scan and "
        "no driver-side linear algebra (verified equal to numpy lstsq "
        "to 1e-9).  Generalizes the single-feature regr_slope surface; "
        "beyond a handful of features you'd collect the k x k Gram "
        "(the covariance_matrix operator's shape) instead.",
)
def q_agg_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q, dsc, y = F.col("l_quantity"), F.col("l_discount"), \
        F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx1"), F.sum(dsc).alias("sx2"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(q * dsc).alias("s12"), F.sum(dsc * dsc).alias("s22"),
        F.sum(y).alias("sy"), F.sum(q * y).alias("s1y"),
        F.sum(dsc * y).alias("s2y"))
    c = {k: F.col(k) for k in
         ("n", "sx1", "sx2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
    det = (c["n"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
           - c["sx1"] * (c["sx1"] * c["s22"] - c["s12"] * c["sx2"])
           + c["sx2"] * (c["sx1"] * c["s12"] - c["s11"] * c["sx2"]))
    b0 = (c["sy"] * (c["s11"] * c["s22"] - c["s12"] * c["s12"])
          - c["sx1"] * (c["s1y"] * c["s22"] - c["s12"] * c["s2y"])
          + c["sx2"] * (c["s1y"] * c["s12"] - c["s11"] * c["s2y"])) / det
    b1 = (c["n"] * (c["s1y"] * c["s22"] - c["s2y"] * c["s12"])
          - c["sy"] * (c["sx1"] * c["s22"] - c["sx2"] * c["s12"])
          + c["sx2"] * (c["sx1"] * c["s2y"] - c["sx2"] * c["s1y"])) / det
    b2 = (c["n"] * (c["s11"] * c["s2y"] - c["s12"] * c["s1y"])
          - c["sx1"] * (c["sx1"] * c["s2y"] - c["sx2"] * c["s1y"])
          + c["sy"] * (c["sx1"] * c["s12"] - c["sx2"] * c["s11"])) / det
    return m.select(F.round(b0, 6).alias("b0"), F.round(b1, 6).alias("b1"),
                    F.round(b2, 6).alias("b2"),
                    F.col("n").cast("long").alias("n_rows"))


@register(
    "agg_geometric_harmonic_means",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(l_extendedprice), 6) AS mean_arith,
           round(exp(avg(ln(l_extendedprice))), 6) AS mean_geom,
           round(count(*) / sum(1.0 / l_extendedprice), 6) AS mean_harm,
           (exp(avg(ln(l_extendedprice))) <= avg(l_extendedprice)
            AND count(*) / sum(1.0 / l_extendedprice)
                <= exp(avg(ln(l_extendedprice)))) AS am_gm_hm_holds
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
    doc="Geometric and harmonic means per return flag — the two "
        "non-arithmetic Pythagorean means, each as a SINGLE "
        "partial-aggregable pass: GM = exp(avg(ln x)) (the log-space "
        "trick that cannot overflow where a naive product of a billion "
        "prices would), HM = n / sum(1/x) (the mean for averaging "
        "rates).  The AM >= GM >= HM inequality is pinned in-query as "
        "a cross-engine invariant.  Both reduce to sum/count partials, "
        "so at 100 TB they cost exactly what avg() costs.",
)
def q_agg_geometric_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 0)
    x = F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("_am"),
        F.exp(F.avg(F.log(x))).alias("_gm"),
        (F.count(F.lit(1)) / F.sum(F.lit(1.0) / x)).alias("_hm"))
    return g.select(
        "l_returnflag", F.col("n").cast("long").alias("n"),
        F.round("_am", 6).alias("mean_arith"),
        F.round("_gm", 6).alias("mean_geom"),
        F.round("_hm", 6).alias("mean_harm"),
        ((F.col("_gm") <= F.col("_am")) & (F.col("_hm") <= F.col("_gm")))
         .alias("am_gm_hm_holds"))


_PSI_REF_YEAR = 1995
_PSI_QS = [q / 10.0 for q in range(1, 10)]


@register(
    "stats_psi_drift",
    oracle=f"""
    WITH ref AS (
      SELECT [{", ".join(f"round(quantile_cont(o_totalprice, {q}), 2)"
                         for q in _PSI_QS)}] AS bounds,
             count(*) AS n_ref
      FROM orders WHERE year(o_orderdate) = {_PSI_REF_YEAR}
    ),
    binned AS (
      SELECT year(o_orderdate) AS y,
             1 + len(list_filter(ref.bounds, b -> o_totalprice > b)) AS bin
      FROM orders, ref
    ),
    refc AS (
      SELECT bin, count(*) AS c FROM binned
      WHERE y = {_PSI_REF_YEAR} GROUP BY bin
    ),
    curc AS (
      SELECT y, bin, count(*) AS c FROM binned
      WHERE y > {_PSI_REF_YEAR} GROUP BY y, bin
    ),
    ny AS (SELECT y, CAST(sum(c) AS BIGINT) AS n_y FROM curc GROUP BY y),
    grid AS (
      SELECT ny.y, ny.n_y, g.bin,
             coalesce(curc.c, 0) AS c_y, refc.c AS c_ref, ref.n_ref
      FROM ny
      CROSS JOIN (SELECT unnest(range(1, 11)) AS bin) g
      CROSS JOIN ref
      LEFT JOIN curc ON curc.y = ny.y AND curc.bin = g.bin
      JOIN refc ON refc.bin = g.bin
    )
    SELECT y AS year, n_y AS n_orders,
           round(sum(((c_y + 0.5) / (n_y + 5.0)
                      - (c_ref + 0.5) / (n_ref + 5.0))
                     * ln(((c_y + 0.5) / (n_y + 5.0))
                          / ((c_ref + 0.5) / (n_ref + 5.0)))), 6) AS psi
    FROM grid GROUP BY y, n_y
    """,
    doc="Population Stability Index drift monitor — the standard "
        "production check that a feature/score distribution still "
        "matches the one a model (or a curation threshold) was "
        "calibrated on: decile bins are frozen from the reference year "
        "(1995 order totalprice), every later year's distribution is "
        "binned against those SAME edges, and "
        "PSI = sum((p_i - q_i) * ln(p_i / q_i)) with +0.5 Laplace "
        "smoothing so empty bins stay finite (rule of thumb: <0.1 "
        "stable, >0.25 drifted).  Bin edges are round-2 quantile_cont/"
        "percentile values — the engine-identical quantile pairing the "
        "percentile family pins — so both engines bin every row "
        "identically, and all counts are integer-exact until the one "
        "10-term smoothed log sum.  Scale shape: ONE pass over orders "
        "(the reference-year quantile agg), then the bin mapping rides "
        "a 9-element broadcast array inside the scan and the exchange "
        "carries only (year, bin) partial-agged counts — 10 x |years| "
        "rows; at 100 TB, PSI over any column is one scan + a "
        "dimension-sized shuffle, which is why it is THE drift metric "
        "data warehouses run daily.",
)
def q_stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(F.year("o_orderdate").alias("y"), "o_totalprice")
    ref = (o.filter(F.col("y") == _PSI_REF_YEAR)
           .agg(F.array(*[F.round(F.expr(f"percentile(o_totalprice, {q})"),
                                  2)
                          for q in _PSI_QS]).alias("bounds"),
                F.count(F.lit(1)).alias("n_ref")))
    from ..operators.caching import tracked_persist

    binned = (o.crossJoin(F.broadcast(ref))
              .select("y", "n_ref",
                      (F.lit(1) + F.size(F.filter(
                          F.col("bounds"),
                          lambda b: F.col("o_totalprice") > b)))
                      .alias("bin")))
    # ONE (year, bin) aggregation over the scan (r14 opt): the previous
    # refc/curc pair each re-ran the full orders scan + quantile-ref
    # broadcast + bin mapping — two complete passes for two slices of
    # the same tiny grouped frame.  Aggregate once (|years| x 10 rows,
    # persisted), then slice the reference year and the later years out
    # of the cached result; counts are identical, so the PSI terms and
    # the oracle hash are unchanged.
    allc = tracked_persist(
        binned.filter(F.col("y") >= _PSI_REF_YEAR)
        .groupBy("y", "bin")
        .agg(F.count(F.lit(1)).alias("c"),
             F.first("n_ref").alias("n_ref")))
    refc = (allc.filter(F.col("y") == _PSI_REF_YEAR)
            .select("bin", F.col("c").alias("c_ref")))
    curc = allc.filter(F.col("y") > _PSI_REF_YEAR)
    ny = curc.groupBy("y", "n_ref").agg(F.sum("c").alias("n_y"))
    bins = F.explode(F.sequence(F.lit(1), F.lit(10))).alias("bin")
    grid = (ny.select("y", "n_y", "n_ref", bins)
            .join(curc.select("y", "bin", "c"), ["y", "bin"], "left")
            .fillna({"c": 0})
            .join(F.broadcast(refc), "bin"))
    p = (F.col("c") + 0.5) / (F.col("n_y") + 5.0)
    q_ = (F.col("c_ref") + 0.5) / (F.col("n_ref") + 5.0)
    return (grid.groupBy(F.col("y").alias("year"),
                         F.col("n_y").cast("long").alias("n_orders"))
            .agg(F.round(F.sum((p - q_) * F.log(p / q_)), 6).alias("psi")))
