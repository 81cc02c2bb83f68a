"""Round-4 operator semantics: CDC merge-upsert, RRF fusion, hash split,
source-overlap — unit semantics on tiny frames plus the scale-posture
plan pins the registry queries rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.relational import merge_upsert
from mapreduce_implementation_spark.plans.inspect import plan_string
from mapreduce_implementation_spark.registry import all_specs
from tests.conftest import SF_DIR_001, SF_DIR_01, shuffle_partitions

SPECS = all_specs()


def test_merge_upsert_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double")
    changes = spark.createDataFrame(
        [
            (2, "b", 25.0, "U", 1),     # stale update …
            (2, "b2", 29.0, "U", 2),    # … superseded: latest wins
            (3, None, None, "D", 1),    # delete
            (4, "d", 40.0, "I", 1),     # brand-new key
        ],
        "k long, name string, bal double, op string, seq int")
    out = {r["k"]: (r["name"], r["bal"])
           for r in merge_upsert(snap, changes, ["k"],
                                 op_col="op", seq_col="seq").collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 29.0), 4: ("d", 40.0)}


def test_merge_upsert_no_seq_single_change_per_key(spark):
    snap = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame([(1, 2.0, "U")], "k long, v double, op string")
    rows = merge_upsert(snap, changes, ["k"], op_col="op").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, 2.0)]


def test_merge_upsert_no_seq_duplicate_keys_fails_loudly(spark):
    """Without seq_col, 'latest wins' is undefined for a batch holding
    two changes to one key — the in-plan assert_true guard must FAIL the
    job with the actionable message, never emit duplicate-key rows in
    nondeterministic order."""
    import pytest

    snap = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(1, 2.0, "U"), (1, 3.0, "U")], "k long, v double, op string")
    with pytest.raises(Exception, match="seq_col"):
        merge_upsert(snap, changes, ["k"], op_col="op").collect()


def test_cdc_sink_recovers_missing_snapshot_from_retired(spark, tmp_path):
    """Crash-window recovery: if a crash between the retire
    and promote renames leaves no live snapshot, the next batch restores
    the newest .retired-* generation before merging, so the replayed
    batch has its base and exactly-once holds."""
    import os

    from mapreduce_implementation_spark.streaming.ops import cdc_upsert_sink

    snap_dir = str(tmp_path / "snap")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double") \
        .coalesce(1).write.parquet(snap_dir)
    # simulate the crash: snapshot retired, promote never happened
    os.rename(snap_dir, snap_dir + ".retired-7")
    assert not os.path.exists(snap_dir)

    chg_dir = str(tmp_path / "chg")
    spark.createDataFrame([(2, 25.0, "U")], "k long, v double, op string") \
        .coalesce(1).write.parquet(chg_dir)
    stream = (spark.readStream
              .schema("k long, v double, op string").parquet(chg_dir))
    q = (cdc_upsert_sink(stream, snap_dir, ["k"])
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["k"]: r["v"] for r in spark.read.parquet(snap_dir).collect()}
    assert got == {1: 10.0, 2: 25.0}


def test_cdc_sink_replay_over_stale_retired_dir(spark, tmp_path):
    """Crash window: promote succeeded but the
    retired-dir cleanup didn't run.  On checkpoint replay of that batch,
    os.rename(snap, '.retired-{id}') targets an existing non-empty dir
    (ENOTEMPTY forever, stream dead).  apply_batch must clear the
    batch's stale retired-/staging- dirs before the swap."""
    import os

    from mapreduce_implementation_spark.streaming.ops import cdc_upsert_sink

    snap_dir = str(tmp_path / "snap")
    spark.createDataFrame([(1, 10.0), (2, 25.0)], "k long, v double") \
        .coalesce(1).write.parquet(snap_dir)
    # simulate: batch 0 already promoted (snap holds merged data) but
    # crashed before rmtree — both per-batch dirs linger, non-empty
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double") \
        .coalesce(1).write.parquet(snap_dir + ".retired-0")
    spark.createDataFrame([(9, 9.0)], "k long, v double") \
        .coalesce(1).write.parquet(snap_dir + ".staging-0")

    chg_dir = str(tmp_path / "chg")
    spark.createDataFrame([(2, 25.0, "U")], "k long, v double, op string") \
        .coalesce(1).write.parquet(chg_dir)
    stream = (spark.readStream
              .schema("k long, v double, op string").parquet(chg_dir))
    # fresh checkpoint => this run's first batch_id is 0, colliding with
    # the stale dirs exactly as a replay would
    q = (cdc_upsert_sink(stream, snap_dir, ["k"])
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["k"]: r["v"] for r in spark.read.parquet(snap_dir).collect()}
    assert got == {1: 10.0, 2: 25.0}
    assert not os.path.exists(snap_dir + ".retired-0")


def test_cdc_sink_accepts_file_uri(spark, tmp_path):
    """'file:' URIs are explicitly permitted by the eager guard, so the
    os.rename/exists machinery must see a plain path (otherwise the
    allowed form crashes on every path op)."""
    from mapreduce_implementation_spark.streaming.ops import cdc_upsert_sink

    snap_dir = str(tmp_path / "snap")
    spark.createDataFrame([(1, 10.0)], "k long, v double") \
        .coalesce(1).write.parquet(snap_dir)
    chg_dir = str(tmp_path / "chg")
    spark.createDataFrame([(1, 11.0, "U")], "k long, v double, op string") \
        .coalesce(1).write.parquet(chg_dir)
    stream = (spark.readStream
              .schema("k long, v double, op string").parquet(chg_dir))
    q = (cdc_upsert_sink(stream, "file://" + snap_dir, ["k"])
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    got = {r["k"]: r["v"] for r in spark.read.parquet(snap_dir).collect()}
    assert got == {1: 11.0}


def test_cdc_sink_rejects_object_store_paths(spark):
    import pytest

    from mapreduce_implementation_spark.streaming.ops import cdc_upsert_sink

    with pytest.raises(ValueError, match="local paths only"):
        cdc_upsert_sink(None, "s3://bucket/snap", ["k"])


def test_cdc_merge_plan_hash_joins_only(spark):
    """The snapshot flows through a hash LeftAnti join — never a nested
    loop or cartesian — and unchanged rows are not widened by change
    columns (no op/seq in the kept-side projection)."""
    df = SPECS["cdc_merge_upsert"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rrf_fusion_rank_contract(spark):
    """Ranks are 1..n with strictly non-increasing rrf, and every rrf is
    a sum of at most two reciprocal-rank terms bounded by 2/61."""
    rows = (SPECS["retrieval_rrf_fusion"].fn(spark, SF_DIR_001)
            .orderBy("rank").collect())
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) > 0
    vals = [r["rrf"] for r in rows]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert all(0 < v <= round(2 / 61, 6) + 1e-9 for v in vals)


def test_split_is_content_stable(spark):
    """Growing the corpus never reassigns an existing doc: the split of
    doc_id d is a pure function of d (the whole point vs randomSplit)."""
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                     16, 10).cast("long") % 100)
    split = (F.when(bucket < 90, "train")
             .when(bucket < 95, "valid").otherwise("test"))
    small = spark.range(100).withColumnRenamed("id", "doc_id").select(
        "doc_id", split.alias("split"))
    grown = spark.range(1000).withColumnRenamed("id", "doc_id").select(
        "doc_id", split.alias("split"))
    joined = small.alias("s").join(grown.alias("g"), "doc_id")
    assert joined.filter(F.col("s.split") != F.col("g.split")).count() == 0
    # and it is a real 90/5/5-ish partition, not degenerate
    parts = {r["split"]: r["n"] for r in
             grown.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(parts) == {"train", "valid", "test"}
    assert parts["train"] > parts["valid"] and parts["train"] > parts["test"]


def test_corpus_overlap_symmetric_bounds(spark):
    """Jaccard in [0,1]; common grams never exceed either side; the pair
    matrix covers every unordered source pair exactly once."""
    rows = SPECS["corpus_overlap_sources"].fn(spark, SF_DIR_001).collect()
    srcs = set()
    for r in rows:
        srcs.add(r["src_a"]); srcs.add(r["src_b"])
        assert r["src_a"] < r["src_b"]
        assert 0.0 <= r["jaccard_grams"] <= 1.0
        assert r["n_common_grams"] <= min(r["n_grams_a"], r["n_grams_b"])
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment = 1.0
    while Jaccard stays below any useful dedup threshold — the exact
    failure mode this operator exists for."""
    from mapreduce_implementation_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    import itertools

    short = "alpha beta gamma delta epsilon"
    # letter-only fillers: the tokenizer strips digits, so numbered
    # fillers would collapse to identical tokens
    fillers = ["".join(p) for p in itertools.product("abcdef", repeat=3)]
    long = short + " " + " ".join(fillers[:90])
    df = spark.createDataFrame([(1, long), (2, short)],
                               "doc_id long, text string")
    cont = ngram_containment_pairs(df, "doc_id", "text",
                                   n=3, min_containment=0.9).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    assert cont[0]["jaccard"] < 0.1
    jac = ngram_jaccard_pairs(df, "doc_id", "text",
                              n=3, min_jaccard=0.5).collect()
    assert jac == []


def test_label_propagation_two_cliques(spark):
    """Two disconnected triangles converge to two communities labeled by
    their minimum member; an isolated node keeps its own id."""
    from mapreduce_implementation_spark.operators.graph import (
        label_propagation,
    )

    und = [(a, b, 1.0) for a, b in
           [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]]
    edges = spark.createDataFrame(
        und + [(b, a, w) for a, b, w in und],
        "src long, dst long, w double")
    nodes = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 12, 99]],
                                  "v long")
    got = {r["v"]: r["label"]
           for r in label_propagation(edges, nodes, iters=5).collect()}
    assert got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12]
    assert got[1] != got[10]
    assert got[99] == 99


def test_rfm_single_event_scan(spark):
    """The three chained global ntiles must share ONE persisted per-user
    aggregate: exactly one events-parquet scan in the physical plan."""
    df = SPECS["rfm_segments"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert plan.count("events.parquet") <= 1, plan


def test_dq_report_detects_and_passes(spark):
    """The report must DETECT the fixture's two genuine rule breaches
    (negative balances, >8% discounts) and report zero for the clean
    rules — proving it distinguishes, not rubber-stamps."""
    rows = {r["rule"]: r for r in
            SPECS["dq_rule_report"].fn(spark, SF_DIR_001).collect()}
    assert rows["customer_acctbal_nonneg"]["n_violations"] > 0
    assert rows["lineitem_discount_le_8pct"]["n_violations"] > 0
    assert rows["orders_pk_unique"]["n_violations"] == 0
    assert rows["lineitem_fk_orders"]["n_violations"] == 0
    for r in rows.values():
        assert r["n_checked"] > 0


def test_bfs_distances_path_graph(spark):
    """Hop distances on a 4-node path with an isolated node: exact
    distances, NULL for unreachable, and max_hops truncation."""
    from mapreduce_implementation_spark.operators.graph import bfs_distances

    und = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long")
    nodes = spark.createDataFrame([(v,) for v in [1, 2, 3, 4, 9]], "v long")
    got = {r["v"]: r["dist"]
           for r in bfs_distances(edges, nodes, source=1,
                                  max_hops=5).collect()}
    trunc = {r["v"]: r["dist"]
             for r in bfs_distances(edges, nodes, source=1,
                                    max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 9: None}
    assert trunc == {1: 0, 2: 1, 3: 2, 4: None, 9: None}


def test_corpus_build_quality_filter_below_shuffle(spark):
    """The corpus-build pipeline filters on the quality predicate
    map-side, BEFORE the dedup shuffle: the Filter node containing the
    0.7 threshold sits below the first Exchange in the plan."""
    plan = plan_string(SPECS["pipeline_corpus_build"].fn(spark, SF_DIR_01))
    # formatted plan prints operators root-first: the Exchange must
    # appear BEFORE (above) the quality Filter in the text
    fpos = plan.find("0.7")
    assert fpos != -1, plan
    first_ex = plan.find("Exchange")
    assert first_ex != -1 and first_ex < fpos, plan[:4000]


def test_grouped_running_sum_matches_keyed_window(spark):
    """grouped_running_sum == the plain PARTITION BY window on a frame
    engineered so single groups straddle many range partitions (2
    groups x 5000 rows across 8 partitions)."""
    from pyspark.sql.window import Window

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        grouped_running_sum,
    )

    df = (spark.range(10000)
          .select((F.col("id") % 2).cast("string").alias("g"),
                  F.col("id").alias("k"),
                  (F.col("id") % 7 + 1).alias("v")))
    w = Window.partitionBy("g").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    want = df.withColumn("cum", F.sum("v").over(w))
    try:
        with shuffle_partitions(spark, 8):
            got = grouped_running_sum(df, "v", ["g"], ["k"], out="cum")
            assert got.count() == 10000
            diff = (got.select("g", "k", "cum")
                    .exceptAll(want.select("g", "k", "cum")))
            assert diff.count() == 0
        # and the distributed form really buckets: base rows shuffle on
        # the value-derived (_bkt, g) key, never through a per-group-only
        # hash exchange into one task, and no evaluation-dependent
        # spark_partition_id survives anywhere in the plan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "_bkt" in plan, plan[:2000]
        assert "SPARK_PARTITION_ID" not in plan.upper(), plan[:2000]
    finally:
        release_persisted()


def test_hll_rolling_window_emits_gap_days(spark, tmp_path):
    """A calendar day with zero events but
    activity in its trailing 6 days has no per-day sketch row, yet
    the oracle (and the exact leg) emit it via the 0..6 fan-out.
    Keying the sketch merge on the sketch-day set silently dropped
    such gap days.  Synthetic ledger: events on Jan 1 and Jan 6 only;
    Jan 2-5 are gap days that MUST appear with the Jan-1 trailing
    population, and the sketch estimate must exist for them."""
    import datetime

    rows = []
    for u in range(40):
        rows.append((datetime.datetime(2024, 1, 1, 12, 0, 0), u))
    for u in range(100, 120):
        rows.append((datetime.datetime(2024, 1, 6, 12, 0, 0), u))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    d = str(tmp_path / "sf_gap")
    df.write.parquet(f"{d}/events.parquet")

    out = {r["day"].isoformat(): (r["n_active_7d"], r["within_tol"])
           for r in SPECS["sketch_hll_rolling_window"].fn(spark, d).collect()}
    # every day Jan 1..6 present — including the four gap days
    assert sorted(out) == [f"2024-01-0{i}" for i in range(1, 7)], out
    for day in ("2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"):
        assert out[day][0] == 40, out          # trailing Jan-1 cohort
    assert out["2024-01-06"][0] == 60, out     # both cohorts in window
    # HLL at these cardinalities is exact-ish; the tol boolean holds
    assert all(v[1] for v in out.values()), out
