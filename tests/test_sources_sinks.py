"""Source/sink round-trips: csv, json, text, parquet — write with the
engine's sinks, read back with explicit schemas (never inferSchema in
prod paths), values preserved."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.sources.sinks import (
    write_csv, write_json, write_orc, write_parquet, write_text,
)
from mapreduce_implementation_spark.sources.tables import (
    load_table, read_json, read_orc, read_text_dir,
)
from tests.conftest import SF_DIR_001


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sinks_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_parquet_roundtrip(spark, tmpdir):
    src = load_table(spark, SF_DIR_001, "customer")
    out = os.path.join(tmpdir, "pq")
    write_parquet(src, out, partition_by=["c_mktsegment"])
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    # partitioned layout: segment dirs exist, and partition pruning works
    segs = [f for f in os.listdir(out) if f.startswith("c_mktsegment=")]
    assert len(segs) == src.select("c_mktsegment").distinct().count()
    one = back.filter(F.col("c_mktsegment") == segs[0].split("=")[1])
    assert one.count() > 0


def test_partition_pruning_in_plan(spark, tmpdir):
    """A filter on the partition column must land in PartitionFilters
    (directory pruning), not just a row-level filter after a full scan."""
    from mapreduce_implementation_spark.plans.inspect import assert_partition_pruning

    src = load_table(spark, SF_DIR_001, "customer")
    out = os.path.join(tmpdir, "pq_pruned")
    write_parquet(src, out, partition_by=["c_mktsegment"])
    seg = src.select("c_mktsegment").head()[0]
    pruned = spark.read.parquet(out).filter(F.col("c_mktsegment") == seg)
    assert_partition_pruning(pruned, "c_mktsegment")
    assert pruned.count() == src.filter(F.col("c_mktsegment") == seg).count()


def test_csv_roundtrip_with_schema(spark, tmpdir):
    src = load_table(spark, SF_DIR_001, "nation")
    out = os.path.join(tmpdir, "csv")
    write_csv(src, out, header=True)
    back = spark.read.option("header", True).schema(
        "n_nationkey int, n_name string, n_regionkey int").csv(out)
    assert sorted(tuple(r) for r in back.collect()) == \
           sorted(tuple(r) for r in src.collect())


def test_json_roundtrip(spark, tmpdir):
    src = load_table(spark, SF_DIR_001, "region")
    out = os.path.join(tmpdir, "json")
    write_json(src, out)
    back = read_json(spark, out, schema="r_regionkey int, r_name string")
    assert sorted(tuple(r) for r in back.select("r_regionkey", "r_name").collect()) == \
           sorted(tuple(r) for r in src.collect())


def test_orc_roundtrip_with_pushdown(spark, tmpdir):
    """ORC preserves values and, like parquet, pushes filters to the scan."""
    src = load_table(spark, SF_DIR_001, "nation")
    out = os.path.join(tmpdir, "orc")
    write_orc(src, out)
    back = read_orc(spark, out)
    assert sorted(tuple(r) for r in back.collect()) == \
           sorted(tuple(r) for r in src.collect())
    from mapreduce_implementation_spark.plans.inspect import assert_pushed_filter
    assert_pushed_filter(read_orc(spark, out).filter(F.col("n_regionkey") == 1),
                         "EqualTo(n_regionkey,1)")


def test_text_sink_and_dir_source(spark, tmpdir):
    src = load_table(spark, SF_DIR_001, "documents").select(
        F.col("text").alias("value")).limit(50)
    out = os.path.join(tmpdir, "txt")
    write_text(src, out)
    back = read_text_dir(spark, out)
    assert back.count() == 50
    assert back.columns == ["value"]


def test_single_file_parity_sink(spark, tmpdir):
    """single_file=True exists only for golden-output parity at toy scale
    (one writer task: a 100 TB anti-pattern)."""
    src = load_table(spark, SF_DIR_001, "region").select("r_name")
    out = os.path.join(tmpdir, "single")
    write_csv(src, out, single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1


def test_orc_scan_pushes_filters(spark, tmp_path):
    """ORC is a first-class columnar source: a predicate on the ORC read
    must reach the scan as a pushed filter and the projection must prune
    ReadSchema — same discipline the parquet tests pin."""
    from mapreduce_implementation_spark.sources.sinks import write_orc
    from mapreduce_implementation_spark.sources.tables import load_table, read_orc
    from tests.conftest import SF_DIR_001

    path = str(tmp_path / "cust_orc")
    write_orc(load_table(spark, SF_DIR_001, "customer"), path)
    df = read_orc(spark, path).filter(F.col("c_acctbal") > 1000.0) \
        .select("c_custkey", "c_acctbal")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "c_acctbal" in plan, plan
    assert "c_mktsegment" not in plan.split("ReadSchema")[-1], plan
    assert df.count() > 0


def test_compact_parquet_dir_reduces_files_and_preserves_rows(spark, tmp_path):
    """64 tiny files -> size-targeted file count; rows identical; sorted
    compaction leaves disjoint per-file key ranges so parquet min/max
    stats prune whole files."""
    from mapreduce_implementation_spark.sources.sinks import compact_parquet_dir

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(10000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(src)
    import glob
    import os
    assert len(glob.glob(os.path.join(src, "*.parquet"))) == 64
    n = compact_parquet_dir(spark, src, dst,
                            target_file_bytes=1 * 1024 * 1024, sort_by=["k"])
    assert n < 64
    out = spark.read.parquet(dst)
    assert out.count() == 10000
    # disjoint ranges: per-file (min,max) intervals must not overlap
    from pyspark.sql import functions as F
    stats = (out.withColumn("f", F.input_file_name())
             .groupBy("f").agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
             .collect())
    ivals = sorted((r["lo"], r["hi"]) for r in stats)
    assert all(a[1] < b[0] for a, b in zip(ivals, ivals[1:]))


def test_python_datasource_partition_contract(spark):
    """The custom source's partitions() plan maps 1:1 to Spark tasks and
    slices are disjoint+complete: 8 partitions, every id exactly once."""
    from mapreduce_implementation_spark.sources.python_datasource import (
        register_synthrange,
    )

    register_synthrange(spark)
    df = (spark.read.format("synthrange")
          .option("n", 1000).option("partitions", 8).load())
    assert df.rdd.getNumPartitions() == 8
    ids = [r["id"] for r in df.select("id").collect()]
    assert sorted(ids) == list(range(1000))


def test_python_datasource_empty_and_bad_options(spark):
    """n=0 must plan an empty scan (one empty slice), not raise
    `range step must not be zero`; partitions<1 is a caller error with
    a clear message."""
    import pytest

    from mapreduce_implementation_spark.sources.python_datasource import (
        SynthRangeReader, register_synthrange,
    )

    register_synthrange(spark)
    df = (spark.read.format("synthrange")
          .option("n", 0).option("partitions", 4).load())
    assert df.count() == 0
    with pytest.raises(ValueError, match="partitions"):
        SynthRangeReader({"n": "10", "partitions": "0"}).partitions()


def test_jsonl_corrupt_records_quarantined_not_fatal(spark, tmp_path):
    """PERMISSIVE JSON ingest: malformed lines land in _corrupt_record
    (the quarantine column) instead of failing the job — the ingest
    posture a 100 TB crawl feed needs; FAILFAST is opt-in for curated
    feeds.  Good rows parse fully; corrupt count is exact."""
    import os

    p = str(tmp_path / "feed.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "text": "ok"}\n')
        f.write('{"id": 2, "text": "also ok"}\n')
        f.write('{"id": 3, "text": "truncated...\n')      # bad JSON
        f.write('not json at all\n')                       # bad JSON
    schema = "id BIGINT, text STRING, _corrupt_record STRING"
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(p)).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert {r["id"] for r in good.collect()} == {1, 2}
        assert bad.count() == 2
    finally:
        df.unpersist()
        os.remove(p)


def test_derived_copy_follows_a_rewritten_source(spark, tmp_path, monkeypatch):
    """A regenerated fixture table must not be served from the copy
    derived from its previous version: the derived-copy key includes the
    source's mtime and size, not only the sf directory name."""
    import datetime
    import inspect

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_implementation_spark.sources.tables import partitioned_events_path

    assert "base" not in inspect.signature(partitioned_events_path).parameters
    monkeypatch.setenv("SPARK_GRAFT_DERIVED", str(tmp_path / "derived"))
    sf = tmp_path / "sf_tiny"
    sf.mkdir()

    def events(ids):
        day = datetime.datetime(2024, 1, 8, tzinfo=datetime.timezone.utc)
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([day + datetime.timedelta(days=i) for i in ids],
                           pa.timestamp("us", tz="UTC")),
        }), str(sf / "events.parquet"))
        path = partitioned_events_path(spark, str(sf))
        return sorted(r["event_id"] for r in spark.read.parquet(path).collect())

    assert events([0, 1, 2]) == [0, 1, 2]
    assert events([3, 4, 5, 6, 7]) == [3, 4, 5, 6, 7]
