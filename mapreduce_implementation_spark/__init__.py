"""PySpark-native analytics engine with the capabilities of
tom-shanahan/MapReduce-Implementation, rebuilt Spark-first.

The reference (/root/reference/mapreduce.c) is a single-binary MapReduce
framework whose two jobs — word count and distributed sort — decompose into
the operator inventory in SURVEY.md §2 (O1–O16).  Here each operator is
re-expressed as declarative DataFrame/SQL so Catalyst/Tungsten choose the
physical strategy; the master/worker/UDP machinery (O14–O16) is Spark's
driver/executor model and is deliberately absent.

Layout:
    session     — SparkSession builder sized from the machine it runs on
    sources     — table loaders (parquet fixtures, text dirs) and sinks
    operators   — text (word count), sort, relational, joins, windows,
                  dedup, similarity, multimodal
    functions   — reusable column expressions (tokenizer, text stats, vectors)
    plans       — physical-plan inspection helpers (broadcast/pushdown asserts)
    streaming   — Structured Streaming variants (word count, windowed aggs)
"""

import sys as _sys

from pyspark import cloudpickle as _cloudpickle

__version__ = "0.1.0"

# Closures shipped to Python workers (pandas UDFs, mapInPandas) carry the
# package functions they call by value, so a worker needs only pyspark on
# its path, not this package.
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
