"""SparkSession construction.

One builder for the whole engine.  Local defaults (local[N] single-JVM)
are sized from the machine it runs on: its usable cores and its cgroup
or physical memory.  The same config block is what we would ship to a
1000-executor cluster — AQE on (runtime coalesce + skew-join split), shuffle
partitions sized explicitly, Arrow enabled for the Pandas-UDF slow path,
session timezone pinned to UTC so timestamp semantics match the DuckDB
oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


_GIB = 1 << 30


def default_sizing(ram_bytes: int, cores: int) -> tuple[int, str]:
    """(local threads, driver heap) for a box with ``ram_bytes`` of usable
    memory and ``cores`` usable cores.

    In local mode the driver JVM is the only executor, so its heap is the
    engine's memory.  It gets half the box: the other half stays free for
    the Python workers of the Arrow/pandas path, off-heap shuffle buffers
    and the OS page cache.  The heap is at least 1 GiB, Spark's own
    default, and at most 31 GiB, the largest heap that keeps compressed
    object pointers.
    """
    heap_mb = min(max(ram_bytes // 2, _GIB), 31 * _GIB) >> 20
    return max(cores, 1), f"{heap_mb}m"


def _usable_ram() -> int:
    """The cgroup memory limit (v2, then v1), or physical RAM when the
    process has no tighter limit."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            return min(ram, int(limit))
    return ram


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API outside Linux
        return os.cpu_count() or 1


def _box_sizing() -> tuple[int, str]:
    """``default_sizing`` of this box, under the deployment overrides
    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``."""
    cpus, heap = default_sizing(_usable_ram(), _usable_cores())
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or cpus
    except ValueError:
        pass
    return cpus, os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap)


def get_spark(app_name: str = "mapreduce_implementation_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``shuffle_partitions`` defaults to the core count: on local[N] a
    partition per thread; on a real cluster this would be set to
    2-3x total executor cores (and AQE coalesces down at runtime, so
    over-provisioning is safe while under-provisioning is not).
    """
    cpus, heap = _box_sizing()
    parts = shuffle_partitions or cpus
    builder = (
        # local[N, 4]: up to 4 attempts per task.  Local mode defaults to
        # maxFailures=1, so one stochastic task failure (a lost block or
        # a killed worker) aborts the whole job; a real cluster would
        # retry.  All our jobs are idempotent (deterministic plans,
        # noop/overwrite sinks), so retries are safe.
        SparkSession.builder.master(f"local[{cpus}, 4]")
        .appName(app_name)
        # -- planner / runtime adaptivity (the 100 TB posture) --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(parts))
        # scans: 128 MiB splits is the scale default; harmless locally
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # joins: broadcast only under threshold; AQE may upgrade at runtime
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # -- python/arrow path --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- determinism for the oracle --
        .config("spark.sql.session.timeZone", "UTC")
        # -- local-mode memory (driver == only JVM here) --
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # bucketed tables (in-memory catalog) land outside any repo checkout
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
