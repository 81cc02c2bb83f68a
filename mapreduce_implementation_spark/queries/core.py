"""Reference-surface queries: tokenize, word count, distributed sort.

These are the two jobs the reference binary ships (SURVEY.md §2 Jobs A/B)
re-expressed over the ``documents`` / ``events`` fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sort import distributed_sort
from ..operators.text import tokenize, word_count
from ..registry import register
from ..sources.tables import derived_copy, load_table

# DuckDB twin of the reference's per-token normalization ('g' =
# replace-all, which Spark's regexp_replace does by default); the Spark
# side normalizes the whole line first (functions.textfn), which gives
# the same tokens.
_NORM = "lower(regexp_replace({tok}, '[^A-Za-z]', '', 'g'))"


@register(
    "tokenize",
    oracle=f"""
    SELECT doc_id, w AS word
    FROM (
        SELECT doc_id, {_NORM.format(tok='tok')} AS w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    )
    WHERE w <> ''
    """,
    doc="Reference-exact tokenizer (O3, mapreduce.c:115-132) over documents.text.",
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tokenize(docs, col="text", keep=["doc_id"])


@register(
    "word_count",
    oracle=f"""
    SELECT w AS word, count(*) AS cnt
    FROM (
        SELECT {_NORM.format(tok='tok')} AS w
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    )
    WHERE w <> ''
    GROUP BY w
    ORDER BY cnt DESC, word DESC
    """,
    doc="Job A: word count + (count desc, word desc) order (O3+O5+O8+O10).",
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return word_count(docs, col="text")


@register(
    "distributed_sort",
    oracle="""
    SELECT event_id, value
    FROM events
    ORDER BY value, event_id
    """,
    doc="Job B: global range-partitioned sort, duplicates preserved (O6+O9+O11).",
)
def q_distributed_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    # two-key sort mirrors the reference's stable global order; expressed as
    # range partition + partition-local sort (one shuffle, no single point)
    return (
        events.repartitionByRange(F.col("value"), F.col("event_id"))
        .sortWithinPartitions("value", "event_id")
    )


@register(
    "distributed_sort_desc",
    oracle="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey
    """,
    doc="Descending variant of Job B on a fact table column.",
)
def q_distributed_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"))


@register(
    "partitioned_scan_events_week",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type
    """,
    doc="Date-partitioned-table scan (the 100 TB fact layout): events "
        "materialized once as event_date=YYYY-MM-DD/ directories, then a "
        "one-week date predicate prunes partitions at PLAN time "
        "(PartitionFilters — pinned in tests/test_plans.py) instead of "
        "scanning the table and filtering rows.",
)
def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import partitioned_events_path

    path = partitioned_events_path(spark, sf_dir)
    e = spark.read.parquet(path)
    return (
        e.filter(F.col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "source_jsonl_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="JSON-lines source path: events exported once to JSONL (the "
        "interchange format crawl/annotation pipelines actually deliver), "
        "read back with spark.read.json under an EXPLICIT schema — "
        "schema-on-read without inference (inference is a full extra "
        "scan at 100 TB), column pruning still applies — and aggregated. "
        "Oracle runs the same aggregation on the parquet table, so the "
        "JSONL round-trip itself is what's under test.",
)
def q_source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    path = derived_copy(sf_dir, "events", "jsonl",
                        lambda p: e.write.mode("overwrite").json(p))
    j = spark.read.schema("event_type string, value double").json(path)
    return (
        j.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="CSV source path: orders exported once to headered CSV, read back "
        "under an EXPLICIT schema (no inference scan) and aggregated; the "
        "oracle runs on the parquet table, so the lossless text round-trip "
        "of doubles/dates is what's under test.  CSV is a row format — no "
        "pushdown, no pruning — which is exactly why the engine treats it "
        "as an ingest format to convert, never a query-time format.",
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice")
    path = derived_copy(
        sf_dir, "orders", "csv",
        lambda p: o.write.mode("overwrite").option("header", "true").csv(p))
    c = spark.read.schema("o_orderstatus string, o_totalprice double") \
        .option("header", "true").csv(path)
    return (
        c.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n,
           round(avg(c_acctbal), 2) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="ORC source path (the second columnar format large warehouses "
        "standardize on): customer exported once to ORC, read back and "
        "aggregated — column pruning and predicate pushdown work on ORC "
        "exactly as on parquet (Spark's OrcScan reports PushedFilters).  "
        "Oracle runs on the parquet table: the round-trip is the test.",
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal")
    path = derived_copy(sf_dir, "customer", "orc",
                        lambda p: c.write.mode("overwrite").orc(p))
    r = spark.read.orc(path)
    return (
        r.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
    )


@register(
    "source_schema_evolution",
    oracle="""
    WITH old AS (
      SELECT event_id, user_id, event_type, NULL AS value
      FROM events WHERE event_id % 2 = 0
    ),
    new AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 2 = 1
    ),
    merged AS (SELECT * FROM old UNION ALL SELECT * FROM new)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(value) AS BIGINT) AS n_with_value,
           round(coalesce(sum(value), 0), 2) AS total_value
    FROM merged GROUP BY event_type
    """,
    doc="Parquet schema evolution (mergeSchema): an 'old' partition "
        "written WITHOUT the value column and a 'new' partition written "
        "with it, read back as ONE table — Spark unions the file "
        "footers' schemas and null-fills the missing column, the "
        "lakehouse upgrade path that avoids rewriting petabytes of "
        "history when a field is added.  The query proves both the "
        "union (row counts per type) and the null-fill (value count = "
        "new-partition rows only).  Oracle simulates the same split on "
        "the source parquet; both partitions are write-once derived "
        "copies like the other round-trip queries' exports.",
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    old_p = derived_copy(
        sf_dir, "events", "schema_old",
        lambda p: (e.where(F.col("event_id") % 2 == 0)
                   .select("event_id", "user_id", "event_type")
                   .write.mode("overwrite").parquet(p)))
    new_p = derived_copy(
        sf_dir, "events", "schema_new",
        lambda p: (e.where(F.col("event_id") % 2 == 1)
                   .select("event_id", "user_id", "event_type", "value")
                   .write.mode("overwrite").parquet(p)))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(old_p, new_p))
    return (merged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("value").alias("n_with_value"),
                 F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2)
                  .alias("total_value")))
