"""Bucketing — co-located joins without a shuffle (SURVEY.md §4 / the
100 TB fact-fact join strategy).

Writing both fact tables bucketed (+sorted) on the join key means later
joins read pre-distributed, pre-sorted buckets: the SortMergeJoin gets
its required distribution from the scan, so the plan has ZERO Exchange
nodes (pinned by tests/test_bucketing.py).  At 100 TB this converts
every recurring orderkey join from a 2-sided shuffle of ~TBs into a
bucket-aligned local merge.

Uses the session catalog (in-memory by default locally; Hive/Glue on a
cluster).  Bucket count is a physical layout decision: pick
~(table size / 256 MiB) rounded to a power of two, identical on both
sides of the recurring join.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from ..sql import sql_ident

__all__ = ["write_bucketed", "bucketed"]


def _drop_stale(spark: SparkSession, table: str) -> None:
    # A killed session leaves the managed location on disk while the
    # (in-memory) catalog forgets the table; saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS. Drop both the entry and any orphan dir.
    # The name is spliced into SQL and a path, so `../x` must never pass.
    sql_ident(table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    path = urlparse(warehouse).path or warehouse
    if path:
        shutil.rmtree(f"{path.rstrip('/')}/{table.lower()}", ignore_errors=True)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   sort: bool = True, mode: str = "overwrite") -> None:
    # Stale-location cleanup is destructive — only valid when the caller
    # asked to overwrite; an append must never drop existing data.
    if mode == "overwrite":
        _drop_stale(df.sparkSession, table)
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
