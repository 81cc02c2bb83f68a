"""Job B of the reference — distributed sort — as declarative DataFrame ops.

Reference pipeline (mapreduce.c): tokenize+parse int (:151-163) ->
fixed-width range partition assuming uniform [0, 2^30) (O6, :162-167) ->
per-bucket in-memory std::sort (O9, :252) -> ordered concatenation of
bucket files (O11, :405-439).

Spark mapping: ``repartitionByRange(col).sortWithinPartitions(col)`` —
identical dataflow, but RangePartitioning *samples* the input to pick
bucket bounds instead of assuming a uniform distribution, which is what
makes the same operator survive skewed 100 TB inputs.  The ordered-concat
merge is implicit: range-partitioned sorted parts are globally ordered by
part index.  ``orderBy`` compiles to exactly this (SortExec over
RangePartitioning), so both spellings share one physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["distributed_sort"]


def distributed_sort(df: DataFrame, col: str,
                     num_partitions: int | None = None) -> DataFrame:
    """Globally sort ``df`` ascending by ``col``, duplicates preserved
    (O6+O9+O11).

    Explicit two-step form so the partition count is controllable
    (the reference's R reducers); with ``num_partitions=None`` Spark
    uses spark.sql.shuffle.partitions and AQE may coalesce.
    """
    key = F.col(col).asc()
    if num_partitions is not None:
        return df.repartitionByRange(num_partitions, key).sortWithinPartitions(key)
    return df.repartitionByRange(key).sortWithinPartitions(key)
