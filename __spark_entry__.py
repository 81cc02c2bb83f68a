"""Driver contract for spark-graft (PySpark target).

A verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All queries live in ``mapreduce_implementation_spark.queries.*`` and
register themselves into ``mapreduce_implementation_spark.registry``;
this file just re-exports the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mapreduce_implementation_spark import registry as _registry
from mapreduce_implementation_spark.operators.text import word_count
from mapreduce_implementation_spark.sources.tables import load_table

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: word count over documents.text at sf0.001.

    Exercises every stage of the reference's Job A — scan, flatMap
    tokenize, shuffle on word, hash aggregate (with the map-side combine
    the reference lacks), global sort (count desc, word desc).
    """
    docs = load_table(spark, _SF0001, "documents")
    return word_count(docs, col="text")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2/§2b."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for every SQL-expressible query (same column aliases)."""
    return _registry.oracle_sql()
