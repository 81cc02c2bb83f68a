from __future__ import annotations

import contextlib
import os
import sys

import pytest

# repo root on sys.path so `mapreduce_implementation_spark` and
# `__spark_entry__` import without installation
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_implementation_spark.session import get_spark  # noqa: E402

SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"
REFERENCE = "/root/reference"


@contextlib.contextmanager
def shuffle_partitions(spark, n: int):
    """Run the enclosed calls with ``spark.sql.shuffle.partitions`` set
    to ``n``, restoring the previous value after.  The two-phase window
    operators size their range buckets from this setting, so tests vary
    the bucket count here.  A plain context manager rather than a
    fixture, so Hypothesis tests can use it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
