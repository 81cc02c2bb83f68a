"""Pandas-UDF surface (reference O13 generalized): the reference's only
"UDF" mechanism is its compiled-in map/reduce function pairs
(mapreduce.c:511-515); here user logic plugs in as Arrow-vectorized
Pandas UDFs.  This query computes the same values as a pure-SQL twin so
the UDF path itself is oracle-checked end-to-end (serialization, Arrow
batching, null handling)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table


def _make_udfs():
    """Built lazily: pandas_udf type resolution needs an active session,
    and query modules import session-free (registry loads at collection
    time)."""

    @F.pandas_udf("double")
    def discounted_charge(price: pd.Series, discount: pd.Series,
                          tax: pd.Series) -> pd.Series:
        # vectorized over Arrow batches; identical arithmetic to the SQL twin
        return price * (1.0 - discount) * (1.0 + tax)

    @F.pandas_udf("long")
    def bucket10k(price: pd.Series) -> pd.Series:
        return (price // 10_000).astype("int64")

    return discounted_charge, bucket10k


def _make_grouped_agg_udfs():
    @F.pandas_udf("double")
    def rms(v: pd.Series) -> float:
        # GROUPED_AGG flavor: whole group arrives as one Series, returns a
        # scalar — Spark runs it per group after the hash shuffle (and, on
        # a cluster, per partial batch with Arrow transfer each way)
        return float((v.astype("float64") ** 2).mean() ** 0.5)

    @F.pandas_udf("long")
    def pd_count(v: pd.Series) -> int:
        # Spark refuses to mix GROUPED_AGG pandas UDFs with built-in
        # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the
        # count rides the same Arrow path.
        return len(v)

    return rms, pd_count


@register(
    "udtf_order_years",
    oracle="""
    SELECT o_orderkey,
           CAST(unnest(generate_series(CAST(year(o_orderdate) AS BIGINT), 1998)) AS INT) AS yr
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    doc="Python UDTF (table function) in a SQL lateral join — one row per "
        "year from each order's year through 1998; the row-expanding UDF "
        "surface (reference O13 has no table functions at all).",
)
def q_udtf_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, yr int")
    class OrderYears:
        def eval(self, o_orderkey: int, start_year: int):
            for y in range(start_year, 1999):
                yield o_orderkey, y

    spark.udtf.register("order_years", OrderYears)
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    ).createOrReplaceTempView("_udtf_orders")
    return spark.sql("""
        SELECT t.o_orderkey, t.yr
        FROM _udtf_orders o,
             LATERAL order_years(o.o_orderkey, year(o.o_orderdate)) t
    """)


@register(
    "pandas_udf_charge",
    oracle="""
    SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS price_bucket,
           count(*) AS n,
           round(sum(o_totalprice * (1 - 0.05) * (1 + 0.08)), 2) AS charged
    FROM orders
    GROUP BY 1
    """,
    doc="Arrow-vectorized Pandas UDFs in a grouped aggregation, oracle-"
        "checked against the pure-SQL equivalent (the UDF transport layer "
        "itself is under test).",
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    discounted_charge, bucket10k = _make_udfs()
    o = load_table(spark, sf_dir, "orders")
    charged = discounted_charge(
        F.col("o_totalprice"), F.lit(0.05), F.lit(0.08))
    return (
        o.select(bucket10k(F.col("o_totalprice")).alias("price_bucket"),
                 charged.alias("_charge"))
        .groupBy("price_bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("_charge"), 2).alias("charged"))
    )


@register(
    "pandas_udaf_rms_spend",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           round(sqrt(avg(o_totalprice * o_totalprice)), 2) AS rms_spend
    FROM orders
    WHERE o_custkey % 10 = 7
    GROUP BY o_custkey
    """,
    doc="Grouped-aggregate Pandas UDFs (GROUPED_AGG — the O13 UDAF flavor): "
        "per-customer root-mean-square order value + count, both over the "
        "grouped Arrow path; oracle-checked against the pure-SQL equivalent "
        "so the UDAF transport itself is under test.  The input is capped "
        "to the deterministic o_custkey % 10 = 7 slice (~1/10 of groups, "
        "pushed-down scan filter on BOTH sides): the GROUPED_AGG cost "
        "floor is per-group Python-call overhead (~0.3 ms/group), and "
        "paying ~30k groups on every run just to re-measure that floor "
        "buys no signal — ~3k groups pins the same Arrow transport at <5% of suite "
        "time.  NOTE: the PRODUCTION form of this aggregation is the "
        "built-in F.sqrt(F.avg(x*x)) (pure codegen, ~10x faster); use "
        "GROUPED_AGG only for logic no built-in composition can express.",
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    rms, pd_count = _make_grouped_agg_udfs()
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") % 10 == 7)
        .groupBy("o_custkey")
        .agg(pd_count(F.col("o_orderkey")).alias("n_orders"),
             F.round(rms(F.col("o_totalprice")), 2).alias("rms_spend"))
    )
