"""Structured Streaming tests: drive each streaming operator to completion
with an availableNow trigger over a file source, and check the final
state equals the equivalent batch computation."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.sources.tables import load_table
from mapreduce_implementation_spark.streaming.ops import (
    click_attribution_join, dedup_stream, running_user_totals_stateful,
    sessionize_stream, streaming_word_count, windowed_event_agg,
)
from tests.conftest import SF_DIR_001


@pytest.fixture(scope="module")
def events_dir(spark):
    """Events with micro-precision ts materialized for readStream (the
    raw fixture's nano timestamps need the batch loader's conversion)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF_DIR_001, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(df, name, mode):
    q = (df.writeStream.outputMode(mode).format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return name


def test_streaming_word_count_matches_batch(spark):
    docs_dir = tempfile.mkdtemp(prefix="docs_stream_")
    try:
        docs = load_table(spark, SF_DIR_001, "documents").select(
            F.col("text").alias("value"))
        docs.write.mode("overwrite").parquet(docs_dir)
        stream = spark.readStream.schema("value string").parquet(docs_dir)
        _run_stream(streaming_word_count(stream), "wc_out", "complete")
        got = {(r["word"], r["cnt"]) for r in spark.sql("SELECT * FROM wc_out").collect()}
        want = {(r["word"], r["cnt"])
                for r in streaming_word_count(docs).collect()}
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_streaming_windowed_agg_matches_batch(spark, events_dir):
    """Append mode emits only watermark-closed windows: emitted rows must
    exactly match the batch result for those windows; trailing windows
    (within the 2h watermark of max event time) are legitimately held."""
    import datetime as dt

    schema = load_table(spark, SF_DIR_001, "events").schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    _run_stream(windowed_event_agg(stream), "win_out", "append")
    got = {(str(r["window_start"]), r["event_type"], r["n"], r["sum_value"])
           for r in spark.sql("SELECT * FROM win_out").collect()}
    batch_df = windowed_event_agg(load_table(spark, SF_DIR_001, "events"))
    want_rows = batch_df.collect()
    want = {(str(r["window_start"]), r["event_type"], r["n"], r["sum_value"])
            for r in want_rows}
    max_ts = load_table(spark, SF_DIR_001, "events").agg(F.max("ts")).head()[0]
    cutoff = max_ts - dt.timedelta(hours=3)  # watermark 2h + 1h window slack
    must_emit = {(str(r["window_start"]), r["event_type"], r["n"], r["sum_value"])
                 for r in want_rows if r["window_end"] < cutoff}
    assert got <= want, f"streaming emitted rows not in batch: {sorted(got - want)[:5]}"
    assert must_emit <= got, f"closed windows missing: {sorted(must_emit - got)[:5]}"
    assert len(got) > 0


def test_streaming_sessionize_runs(spark, events_dir):
    schema = load_table(spark, SF_DIR_001, "events").schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    _run_stream(sessionize_stream(stream), "sess_out", "append")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    assert all(r["session_end"] > r["session_start"] for r in rows)


def test_streaming_dedup_matches_batch_distinct(spark, events_dir):
    """dropDuplicatesWithinWatermark over the whole fixture (one
    availableNow batch, so every duplicate lands inside the horizon)
    must keep exactly one row per key, same key set as batch distinct."""
    schema = load_table(spark, SF_DIR_001, "events").schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    _run_stream(dedup_stream(stream), "dedup_out", "append")
    got = [ (r["user_id"], r["event_type"]) for r in
            spark.sql("SELECT user_id, event_type FROM dedup_out").collect() ]
    want = {(r["user_id"], r["event_type"]) for r in
            load_table(spark, SF_DIR_001, "events")
            .select("user_id", "event_type").distinct().collect()}
    assert len(got) == len(set(got)), "stream emitted duplicate keys"
    assert set(got) == want


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream click->purchase join: emitted matches
    must be a subset of the batch join, and pairs whose event times are
    safely inside the watermark horizon must all be emitted."""
    schema = load_table(spark, SF_DIR_001, "events").schema
    s1 = spark.readStream.schema(schema).parquet(events_dir)
    s2 = spark.readStream.schema(schema).parquet(events_dir)
    _run_stream(click_attribution_join(s1, s2), "ssj_out", "append")
    got = {(r["click_id"], r["purchase_id"]) for r in
           spark.sql("SELECT * FROM ssj_out").collect()}
    e = load_table(spark, SF_DIR_001, "events")
    batch = click_attribution_join(e, e).collect()
    want = {(r["click_id"], r["purchase_id"]) for r in batch}
    assert got <= want, f"stream emitted pairs not in batch: {sorted(got - want)[:5]}"
    # single availableNow batch => watermark starts unset; all pairs join
    assert got == want
    assert len(want) > 0


def test_stateful_running_totals(spark, events_dir):
    schema = load_table(spark, SF_DIR_001, "events").schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    _run_stream(running_user_totals_stateful(stream), "state_out", "update")
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.sql(
               "SELECT user_id, max_by(n_events, n_events) AS n_events,"
               " max_by(total_value, n_events) AS total_value"
               " FROM state_out GROUP BY user_id").collect()}
    e = load_table(spark, SF_DIR_001, "events")
    want = {r["user_id"]: (r["n"], r["t"]) for r in
            e.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("t")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 0.05


def test_streaming_curation_matches_batch(spark):
    """The curation filter+dedup runs identically on a stream: same kept
    doc_ids as the batch form (dedup survivor is first-seen in stream
    order vs min-doc_id in batch — the synthetic corpus has no exact
    normalized dups, so survivor sets coincide and the comparison is on
    the full row including p_quality)."""
    from mapreduce_implementation_spark.streaming.ops import curate_stream

    docs_dir = tempfile.mkdtemp(prefix="docs_curate_")
    try:
        docs = load_table(spark, SF_DIR_001, "documents")
        docs.write.mode("overwrite").parquet(docs_dir)
        stream = spark.readStream.schema(docs.schema).parquet(docs_dir)
        _run_stream(curate_stream(stream), "curate_out", "append")
        got = {tuple(r) for r in spark.sql("SELECT * FROM curate_out").collect()}
        want = {tuple(r) for r in curate_stream(docs).collect()}
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_watermark_drops_late_rows_across_microbatches(spark):
    """Real micro-batch watermark semantics (only observable across
    MULTIPLE batches — a single availableNow batch starts with no
    watermark and drops nothing): files are consumed one per trigger in
    mtime order, the watermark advances to max(ts) - 2h after each
    batch, and a row arriving in batch 3 whose window closed behind the
    batch-2 watermark must be dropped, not aggregated."""
    import os
    import pandas as pd

    d = tempfile.mkdtemp(prefix="events_wm_")
    try:
        t0 = pd.Timestamp("2024-01-01 00:10:00")
        def write(name, rows, mtime):
            # micros, not pandas-default nanos: Spark's vectorized reader
            # rejects INT64(nanos) under a `timestamp` read schema
            pd.DataFrame(rows, columns=["ts", "event_type", "value"]).to_parquet(
                f"{d}/{name}", coerce_timestamps="us", allow_truncated_timestamps=True)
            os.utime(f"{d}/{name}", (mtime, mtime))
        base = 1_700_000_000
        # batch 1: two rows in the 00:00 window
        write("f1.parquet", [(t0, "a", 1.0), (t0 + pd.Timedelta("5min"), "a", 2.0)], base)
        # batch 2: event at 10:00 — the wm computed from it (08:00) takes
        # effect for FILTERING one batch later (the state operator filters
        # with the previous batch's committed watermark)
        write("f2.parquet", [(t0 + pd.Timedelta("9h50min"), "a", 4.0)], base + 60)
        # batch 3: on-time row; runs under wm=08:00, closing the 00:00 window
        write("f3.parquet", [(t0 + pd.Timedelta("10h20min"), "a", 16.0)], base + 120)
        # batch 4: one LATE row for the closed 00:00 window — must be
        # dropped by the watermark, not aggregated
        write("f4.parquet", [(t0 + pd.Timedelta("10min"), "a", 8.0)], base + 180)
        stream = (spark.readStream.schema("ts timestamp, event_type string, value double")
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (windowed_event_agg(stream).writeStream.outputMode("append")
             .format("memory").queryName("wm_out")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM wm_out").collect()
        assert len(rows) == 1, f"expected exactly the closed 00:00 window, got {rows}"
        assert str(rows[0]["window_start"]).startswith("2024-01-01 00:00")
        assert rows[0]["n"] == 2, "late row leaked into a watermark-closed window"
        assert rows[0]["sum_value"] == 3.0
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress for op in p.get("stateOperators", []))
        assert dropped == 1, f"expected exactly the one late row dropped, got {dropped}"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_resume_exactly_once(spark):
    """Durable-sink restart semantics: an availableNow run to a parquet
    sink with a checkpoint, then new files + a SECOND run reusing the
    same checkpoint, must process each input file exactly once (no
    reprocessing of batch-1 data, no loss of batch-2 data)."""
    import pandas as pd

    src = tempfile.mkdtemp(prefix="ckpt_src_")
    sink = tempfile.mkdtemp(prefix="ckpt_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    try:
        pd.DataFrame({"doc_id": [1, 2], "text": ["alpha beta", "gamma"]}).to_parquet(
            f"{src}/f1.parquet")

        def run_once():
            stream = (spark.readStream.schema("doc_id long, text string").parquet(src)
                      .select("doc_id", F.upper("text").alias("text_uc")))
            q = (stream.writeStream.format("parquet").outputMode("append")
                 .option("path", sink).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_once()
        first = spark.read.parquet(sink).collect()
        assert {(r.doc_id, r.text_uc) for r in first} == {(1, "ALPHA BETA"), (2, "GAMMA")}

        pd.DataFrame({"doc_id": [3], "text": ["delta"]}).to_parquet(f"{src}/f2.parquet")
        run_once()
        rows = spark.read.parquet(sink).collect()
        assert len(rows) == 3, f"exactly-once violated: {rows}"
        assert {(r.doc_id, r.text_uc) for r in rows} == {
            (1, "ALPHA BETA"), (2, "GAMMA"), (3, "DELTA")}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(sink.rsplit("/", 1)[0], ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_cdc_upsert_sink_applies_batches_in_order(spark, tmp_path):
    """foreachBatch MERGE sink: two micro-batches (maxFilesPerTrigger=1)
    applied sequentially to a parquet snapshot — batch 2 updates a row
    batch 1 inserted, deletes an original row, and the final snapshot is
    the composed result."""
    import os

    from mapreduce_implementation_spark.streaming.ops import cdc_upsert_sink

    snap_dir = str(tmp_path / "snapshot")
    chg_dir = str(tmp_path / "changes")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(chg_dir)
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, bal double"
    ).coalesce(1).write.parquet(snap_dir)
    # batch 1: update k=1, insert k=3 — written as ONE file
    spark.createDataFrame(
        [(1, "a1", 11.0, "U"), (3, "c", 30.0, "I")],
        "k long, name string, bal double, op string",
    ).coalesce(1).write.parquet(chg_dir + "/b1")
    # batch 2: update k=3 (the row batch 1 created), delete k=2
    spark.createDataFrame(
        [(3, "c2", 33.0, "U"), (2, None, None, "D")],
        "k long, name string, bal double, op string",
    ).coalesce(1).write.parquet(chg_dir + "/b2")
    stream = (spark.readStream
              .schema("k long, name string, bal double, op string")
              .option("maxFilesPerTrigger", 1)
              .parquet(chg_dir + "/b*"))
    q = (cdc_upsert_sink(stream, snap_dir, ["k"])
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["k"]: (r["name"], r["bal"])
           for r in spark.read.parquet(snap_dir).collect()}
    assert got == {1: ("a1", 11.0), 3: ("c2", 33.0)}


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """Streaming LEFT OUTER join semantics: an unmatched click is
    emitted null-extended only once the purchase watermark proves no
    future match can arrive.  Batch 1 carries a matched and an
    unmatched click; batch 2 (a much later event) advances the
    watermark past both horizons, forcing the null row out."""
    import datetime as dt
    import os

    from mapreduce_implementation_spark.streaming.ops import (
        click_attribution_join,
    )

    d = str(tmp_path / "ev")
    os.makedirs(d)
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch1 = [
        (1, t0, 1, "click", 0.0),
        (2, t0 + dt.timedelta(minutes=10), 1, "purchase", 9.99),  # matches 1
        (3, t0, 2, "click", 0.0),                                  # never converts
    ]
    # watermark pushes must be visible to BOTH watermark nodes (each
    # side filters to its event type BEFORE withWatermark, and the
    # global watermark is the MIN across sides) — so each push batch
    # carries a late click AND a late purchase for unrelated users
    batch2 = [(4, t0 + dt.timedelta(hours=12), 98, "click", 0.0),
              (5, t0 + dt.timedelta(hours=12), 99, "purchase", 1.0)]
    # outer-null emission happens while PROCESSING a batch whose
    # STARTING watermark already passed the horizon — b2's advance
    # takes effect during b3
    batch3 = [(6, t0 + dt.timedelta(hours=13), 98, "click", 0.0),
              (7, t0 + dt.timedelta(hours=13), 99, "purchase", 1.0)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(d + "/b1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(d + "/b2")
    spark.createDataFrame(batch3, schema).coalesce(1).write.parquet(d + "/b3")
    s1 = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(d + "/b*"))
    s2 = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(d + "/b*"))
    joined = click_attribution_join(s1, s2, join_type="leftOuter")
    _run_stream(joined, "ssj_outer_out", "append")
    rows = spark.sql("SELECT * FROM ssj_outer_out").collect()
    got = {(r["click_id"], r["purchase_id"]) for r in rows}
    assert (1, 2) in got, rows          # matched pair
    assert (3, None) in got, rows       # null-extended after watermark
    assert (2, None) not in got  # converted click never null-extends


@pytest.mark.parametrize("num_bits", [512, 1000])
def test_frontier_stream_matches_batch_anti_join(spark, num_bits):
    """frontier_stream (bloom literal probe + stream-static anti
    recheck) must emit exactly the distinct stream URLs NOT in the
    static ledger — equal to the batch distinct+anti-join over the
    same data — with a deliberately tiny bitmap forcing real
    false-positive traffic through the recheck join, plus one NULL
    key (kept, anti-join semantics).  1000 bits is not a multiple of
    64: the last word is partial, and the answer stays exact."""
    from mapreduce_implementation_spark.streaming.ops import frontier_stream

    src_dir = tempfile.mkdtemp(prefix="frontier_stream_")
    try:
        hist = spark.range(0, 400).selectExpr("concat('u', id) AS curl")
        batch = spark.sql("""
            SELECT concat('u', id) AS curl,
                   timestamp'2026-01-01' + make_interval(0,0,0,0,0,0,id) AS ts
            FROM range(300, 700)
            UNION ALL  -- an in-stream duplicate and a NULL key
            SELECT concat('u', 650),
                   timestamp'2026-01-01' + make_interval(0,0,0,0,0,0,99)
            UNION ALL
            SELECT CAST(NULL AS STRING),
                   timestamp'2026-01-01' + make_interval(0,0,0,0,0,0,5)
        """)
        batch.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "curl string, ts timestamp").parquet(src_dir)
        out = frontier_stream(stream, hist, num_bits=num_bits, num_hashes=3)
        _run_stream(out, f"frontier_out_{num_bits}", "append")
        got = sorted((r["curl"] or "<null>") for r in spark.sql(
            f"SELECT curl FROM frontier_out_{num_bits}").collect())
        want = sorted([f"u{i}" for i in range(400, 700)] + ["<null>"])
        assert got == want, (len(got), len(want), got[:5])
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_frontier_stream_key_rule(spark):
    """An int stream key probes a bigint ledger: both hash as BIGINT,
    so already-seen keys are dropped exactly as the batch anti-join
    drops them (hashing each side in its own width re-emitted every
    seen key).  A string stream against a bigint ledger cannot be
    canonicalized and must fail loudly at build."""
    from mapreduce_implementation_spark.streaming.ops import frontier_stream

    src_dir = tempfile.mkdtemp(prefix="frontier_keys_")
    try:
        hist = spark.range(10).selectExpr("id AS curl")
        spark.sql("""
            SELECT CAST(id AS INT) AS curl,
                   timestamp'2026-01-01' + make_interval(0,0,0,0,0,0,id) AS ts
            FROM range(20)
        """).write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(
            "curl int, ts timestamp").parquet(src_dir)
        out = frontier_stream(stream, hist, num_bits=512, num_hashes=3)
        _run_stream(out, "frontier_keys_out", "append")
        got = sorted(r["curl"] for r in
                     spark.sql("SELECT curl FROM frontier_keys_out").collect())
        assert got == list(range(10, 20)), got

        strs = spark.readStream.schema(
            "curl string, ts timestamp").parquet(src_dir)
        with pytest.raises(TypeError, match="types must match"):
            frontier_stream(strs, hist)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
