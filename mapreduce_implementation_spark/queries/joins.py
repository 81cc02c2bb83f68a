"""Join queries (SURVEY.md §2b Q6): broadcast/shuffle, semi/anti, outer,
multi-way, as-of, and bucketed range join."""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import asof_join, range_join_bucketed
from ..registry import register
from ..sources.tables import load_table


@register(
    "join_broadcast_dims",
    oracle="""
    SELECT r_name, n_name,
           count(*)                                           AS n_customers,
           CAST(round(CAST(avg(c_acctbal) AS DECIMAL(28,6)), 2) AS DOUBLE)
                                                              AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="Star-schema rollup; both dims broadcast — zero shuffle for the joins, "
        "one for the final agg.  avg_acctbal quantizes at 6 decimals "
        "before the 2-decimal round ON BOTH SIDES: Spark's round() "
        "rounds the double's shortest DECIMAL-STRING repr (BigDecimal."
        "valueOf) while DuckDB's round() rounds the BINARY value, so an "
        "average landing on an exact .xx5 boundary (binary ~4201.314999"
        "...96, string '4201.315') rounds .32 vs .31 — observed at "
        "sf0.001.  Quantizing at 6 decimals first (F.round(_, 6) / "
        "CAST AS DECIMAL(28,6)) makes both engines resolve the boundary "
        "identically, shrinking the divergence window by ~4 orders of "
        "magnitude; the residual class is documented in registry.py's "
        "conventions.",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    j = j.join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.round(F.avg("c_acctbal"), 6), 2).alias("avg_acctbal"),
    )


@register(
    "join_shuffle_facts",
    oracle="""
    SELECT o_orderpriority,
           count(*)                                           AS n_lineitems,
           round(sum(l_extendedprice * (1 - l_discount)), 2)  AS revenue
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Fact-fact equi-join: shuffle both sides on orderkey (AQE handles skew).",
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
    doc="Left-semi join (EXISTS): right side filters, never widens.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000)
    """,
    doc="Left-anti join (NOT EXISTS): customers with no order above 480k.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey)                       AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join preserving customers with zero orders.",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "join_tpch_q5_shape",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 5-way join; only the true dims (nation, region) "
        "carry a broadcast hint — customer is fact-scale (150k x sf rows), "
        "so the customer⋈dims side must stay shuffle-joinable and only AQE "
        "may upgrade it if the filtered side turns out genuinely small. "
        "The r_name filter prunes before any fact shuffle.",
)
def q_join_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "asof_join_latest_order",
    oracle="""
    SELECT e.event_id,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS asof_orderdate
    FROM events e
    ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    doc="As-of join: latest order at-or-before each event, per user. "
        "operators/joins.asof_join: union of both sides + last(ignorenulls) "
        "over a window keyed by user and ordered by time (one shuffle, all "
        "JVM); output limited to the asof timestamp, which is unique per event even "
        "when several orders tie on it.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    matched = asof_join(
        e, o, left_on="ts", right_on="o_orderdate",
        left_by="user_id", right_by="o_custkey",
        right_values=["o_orderdate"],
    )
    return matched.select(
        "event_id",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("asof_orderdate"),
    )


@register(
    "asof_join_tolerance",
    oracle="""
    SELECT e.event_id,
           CASE WHEN o.o_orderdate IS NOT NULL
                 AND e.ts - CAST(o.o_orderdate AS TIMESTAMP)
                     <= INTERVAL 30 DAY
                THEN strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S')
           END AS asof_orderdate
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
    doc="As-of join with a staleness tolerance (the financial-data "
        "idiom: a quote older than the staleness budget must not price "
        "a trade): latest order at-or-before each event per user, but "
        "only within 30 days — older matches become NULL, and every "
        "event survives (LEFT semantics, how='left').  Same operator "
        "as asof_join_latest_order (operators/joins.asof_join: union "
        "+ last(ignorenulls) over a keyed window — one shuffle, all "
        "JVM), with a typed timedelta tolerance.  The oracle emulates "
        "tolerance by NULLing the unconditional ASOF LEFT match beyond "
        "the budget, which is equivalent because any other candidate "
        "is older still.",
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("timestamp").alias("o_ts"))
    matched = asof_join(
        e, o, left_on="ts", right_on="o_ts",
        left_by="user_id", right_by="o_custkey",
        right_values=["o_ts"], tolerance=timedelta(days=30), how="left",
    )
    return matched.select(
        "event_id",
        F.date_format("o_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_orderdate"),
    )


@register(
    "range_join_sessions",
    oracle="""
    SELECT a.event_id AS anchor_event, count(*) AS n_following
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY a.event_id
    """,
    doc="Time-window range join via bucketed equi-join + residual filter — "
        "no BroadcastNestedLoopJoin at scale.",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    left = e.select(F.col("event_id").alias("anchor_event"), "user_id", "ts")
    right = e.select("user_id", F.col("ts").alias("ts2"))
    joined = range_join_bucketed(left, right, key="user_id",
                                 left_ts="ts", right_ts="ts2", window_seconds=3600)
    return joined.groupBy("anchor_event").agg(F.count(F.lit(1)).alias("n_following"))


@register(
    "join_tpch_q3_shape",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter (mktsegment, pushed to the "
        "customer scan) -> two fact joins -> grouped revenue -> global "
        "top-10 via TakeOrderedAndProject, never a full sort.",
)
def q_join_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-01-01")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "join_tpch_q9_shape",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    """,
    doc="TPC-H Q9 shape: lineitem joined to TWO dimension paths (part via "
        "partkey, supplier->nation via suppkey) AND the orders fact via "
        "orderkey — a join DAG, not a chain.  Only nation (25 rows) "
        "carries a broadcast hint; part (200k x sf) and supplier "
        "(10k x sf) are fact-scale by this repo's standard, so they stay "
        "threshold/AQE-decided exactly like Q5's customer side — a forced "
        "hint there OOMs the build side at large sf.  The p_name LIKE "
        "filter prunes part before any join.",
)
def q_join_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name")
    return (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(sn, li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("amount"))
    )


@register(
    "join_tpch_q7_shape",
    oracle="""
    SELECT supp_nation, cust_nation, o_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, o_year
    """,
    doc="TPC-H Q7 shape (volume shipping): the SAME dimension (nation) "
        "joins twice under different roles (supplier's vs customer's "
        "nation) with a cross-side OR predicate.  Each nation filter is "
        "pushed BELOW its join (supplier/customer shrink to 2/25 of "
        "themselves before touching the facts); only the residual OR — "
        "which needs both sides — evaluates after.  Nation broadcasts; "
        "the two fact joins shuffle on their own keys.",
)
def q_join_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2"))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cn = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
          .select("c_custkey", F.col("n_name").alias("cust_nation")))
    pair_ok = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")) |
        ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(sn, li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation",
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register(
    "join_tpch_q10_shape",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (top returned-item customers): selective fact "
        "filter (returnflag, pushed to the lineitem scan) -> two fact "
        "joins -> per-customer revenue -> global top-20 via "
        "TakeOrderedAndProject.  nation broadcasts onto the customer side.",
)
def q_join_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, F.col("o_custkey") == cn.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("c_custkey", "c_name", "revenue",
                F.round("c_acctbal", 2).alias("acctbal"), "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "join_tpch_q19_shape",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#18' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive predicate join): an OR-of-ANDs "
        "mixing both sides' columns.  Catalyst derives the per-side "
        "implied disjunctions (p_brand IN (...) to the part scan, "
        "l_quantity range union to the lineitem scan) so both scans "
        "prune BEFORE the join, and only the residual cross-side OR "
        "evaluates after — the classic pushdown-through-OR test.",
)
def q_join_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11)) |
        ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(10, 30)
         & F.col("l_quantity").between(10, 20)) |
        ((F.col("p_brand") == "Brand#18") & F.col("p_size").between(20, 50)
         & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register(
    "string_similarity_levenshtein",
    oracle="""
    SELECT a.p_partkey AS a, b.p_partkey AS b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    doc="Blocked string-similarity join: candidate pairs only within a "
        "blocking key (brand) equi-join, then edit-distance verify — the "
        "scalable fuzzy-match shape (never an all-pairs levenshtein).",
)
def q_string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(F.col("p_partkey").alias("a"), F.col("p_brand").alias("brand"),
                 F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("b"), F.col("p_brand").alias("brand"),
                 F.col("p_name").alias("name_b"))
    # threshold form (Spark 3.5+): banded DP, O(len*k) per pair with
    # early exit, returns -1 past the bound — exact distance for every
    # kept pair, so the output (and the oracle) are unchanged.  The
    # length-difference prefilter is pure codegen and skips the DP
    # entirely when |len a - len b| alone exceeds the bound.  Measured
    # 7.5 -> 5.1 s at sf0.1 on the ~8M brand-blocked pairs.
    dist = F.levenshtein("name_a", "name_b", 2)
    return (
        a.join(b, "brand")
        .filter(F.col("a") < F.col("b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 2)
        .filter(dist >= 0)
        .select("a", "b", dist.alias("dist"))
    )


@register(
    "skew_join_salted",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_events,
           CAST(round(sum(e.value), 2) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="Salted skew join (events fact x customer, 8-way salt): the "
        "manual mitigation for a hot key whose single shuffle partition "
        "would exceed executor memory even after AQE splitting.  "
        "Row-level results identical to the plain join (the oracle IS "
        "the plain join); only the physical key distribution differs.",
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    joined = salted_join(ev, cust, "user_id", salt=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "agg_tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (revenue-change forecast) — the canonical "
        "predicate-pushdown microbenchmark: three range predicates all "
        "reach the parquet scan as PushedFilters, the scan reads FOUR "
        "columns of eleven (ReadSchema pruning), and the whole query is "
        "one map-side-partial scalar aggregate with no shuffle wider "
        "than 32 single-value partials.  At 100 TB this runs at storage "
        "bandwidth on the pruned column chunks — the plan test pins the "
        "pushdown so a refactor can't silently turn it into a full scan.",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01")
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "join_tpch_q15_shape",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape (top supplier): an aggregate VIEW consumed "
        "twice — once for rows, once for its max — decorrelated into a "
        "broadcast 1-row max joined back (Catalyst's scalar-subquery "
        "plan; ReuseExchange dedups the revenue build).  The supplier "
        "dim broadcasts onto the 3-month revenue slice.  Ties on the "
        "max all surface, exactly as the spec's = comparison demands.",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (F.lit(1) - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "join_tpch_q8_shape",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_7'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey   = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN part     ON l_partkey   = p_partkey
    WHERE r_name = 'ASIA' AND p_type = 'LARGE'
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): one nation's share of "
        "a part class's revenue among a region's customers, per order "
        "year.  Seven-way star join — every dimension (part filter, "
        "supplier->nation, customer->nation->region) broadcasts onto "
        "the single lineitem->orders fact spine, so the whole query is "
        "ONE fact shuffle (the orders join) + one agg shuffle; the "
        "share is a conditional-sum / sum within each year group, no "
        "second pass.  Revenue sums are rounded AFTER the division so "
        "the 1e-12 summation-order jitter cannot flip the hash.",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "LARGE")
    asia_nat = (
        n.join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
               n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("_cnat"))
    )
    supp_nat = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_snatkey"),
                             F.col("n_name").alias("_snat"))),
        s.s_nationkey == F.col("_snatkey")).select("s_suppkey", "_snat")
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(asia_nat), c.c_nationkey == F.col("_cnat"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("_snat") == "NATION_7", vol).otherwise(0.0))
            / F.sum(vol), 4).alias("mkt_share"))
    )


@register(
    "join_tpch_q12_shape",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping-priority audit), adapted: the "
        "fixtures carry no l_shipmode, so the grouping stand-in is "
        "l_linestatus.  The year filter pushes to the lineitem parquet "
        "scan BEFORE the orders join (plan-pinned via PushedFilters), "
        "and the priority split is conditional aggregation — one "
        "shuffle for the join, one for the 2-row agg.",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")))
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
    )


@register(
    "join_tpch_q14_shape",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-06-01'
      AND l_shipdate <  TIMESTAMP '1998-07-01'
    """,
    doc="TPC-H Q14 shape (promotion effect): percent of one month's "
        "revenue from PROMO-type parts.  The month filter prunes the "
        "fact scan; the part dim broadcasts (no fact shuffle at all — "
        "the single-row global agg is the only exchange).  Division "
        "before rounding, as in Q8.",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
            / F.sum(vol), 4).alias("promo_revenue"))
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
    GROUP BY p_brand
    """,
    doc="Bloom-filter semi-join reduction (operators/joins."
        "bloom_prefilter): the filtered part subset ('widget' parts) is "
        "compressed to a 64-Kbit bitmap built by a tiny aggregate and "
        "broadcast as ONE map row; lineitem rows probe it map-side "
        "(xxhash64 + shift/mask, whole-stage codegen) BEFORE the join's "
        "exchange, so at 100 TB the fact shuffle carries matching rows "
        "plus a ~1% false-positive trickle instead of the full table — "
        "the classic semi-join reduction for dim subsets too large to "
        "broadcast-join but whose bitmap is still kilobytes.  Bloom "
        "filters have no false negatives and the real join removes "
        "false positives, so the result is EXACTLY the plain join "
        "(which is the oracle).",
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import bloom_prefilter

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount")
    p = (load_table(spark, sf_dir, "part")
         .where(F.col("p_name").like("%widget%"))
         .select("p_partkey", "p_brand"))
    pre = bloom_prefilter(li, p, "l_partkey", "p_partkey")
    return (
        pre.join(p, pre.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (F.lit(1) - F.col("l_discount"))), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (SELECT nullif(event_type, 'click') AS k, value FROM events),
    r AS (SELECT DISTINCT nullif(event_type, 'click') AS k
          FROM events WHERE user_id % 5 = 0)
    SELECT l.k, CAST(count(*) AS BIGINT) AS n,
           round(sum(l.value), 2) AS total_value
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
    doc="Null-safe equi-join surface (Spark <=> / eqNullSafe == SQL "
        "IS NOT DISTINCT FROM): NULL keys MATCH each other instead of "
        "silently dropping — the semantics needed when a 'key' encodes "
        "an optional attribute (here event_type with 'click' nulled "
        "out deterministically via nullif).  Planner-relevant because "
        "<=> keeps an equi-join hash-joinable (single null bucket) "
        "where an OR (both-null) predicate would degrade to a "
        "nested-loop join; output counts per key prove the null "
        "bucket survived the join on both engines.",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("click"))
    left = e.select(k.alias("k"), "value")
    right = (e.where(F.col("user_id") % 5 == 0)
             .select(k.alias("k")).distinct())
    return (left.join(right, left["k"].eqNullSafe(right["k"]))
            .groupBy(left["k"].alias("k"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value")))


_BANDS = [("budget", 0, 75000), ("mid", 75000, 150000),
          ("premium", 150000, 300000), ("whale", 300000, 10**9)]


@register(
    "join_band_broadcast",
    oracle="""
    WITH bands(tier, lo, hi) AS (VALUES
      ('budget', 0, 75000), ('mid', 75000, 150000),
      ('premium', 150000, 300000), ('whale', 300000, 1000000000))
    SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY tier
    """,
    doc="Band (point-in-interval) join against a tiny literal dimension "
        "— the price-tier / IP-range / SLA-bucket lookup shape.  With a "
        "4-row dimension the RIGHT plan is a BroadcastNestedLoopJoin: "
        "each fact row tests 4 broadcast intervals map-side, zero "
        "shuffle of the fact table — the one case where BNLJ is "
        "optimal, in contrast to range_join_sessions / "
        "sessions_interval_overlap where both sides are big and the "
        "engine buckets instead.  Disjoint half-open bands make the "
        "join multiplicity exactly 1 per order, pinned by the counts.",
)
def q_join_band_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = o.sparkSession.createDataFrame(_BANDS, "tier string, lo long, hi long")
    joined = o.join(F.broadcast(bands),
                    (F.col("o_totalprice") >= F.col("lo"))
                    & (F.col("o_totalprice") < F.col("hi")))
    return (joined.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))
