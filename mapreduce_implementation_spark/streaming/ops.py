"""Structured Streaming operators (north-star Q14).

The reference is batch-only; these give its aggregation semantics an
unbounded-input form.  Every function here is a *transformation* on a
(possibly streaming) DataFrame — source/sink wiring stays with the
caller, so the same code serves ``readStream`` (production),
``availableNow`` triggers (tests), and plain batch DataFrames (the
oracle-checked twins in queries/streaming_batch.py).

Scale posture: watermarks bound state (late rows beyond the watermark
are dropped, state for closed windows is evicted); stateful ops key
their state by user — state size O(active keys), not O(events).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.textfn import tokens
from ..operators.text import tokenize

__all__ = [
    "streaming_word_count", "windowed_event_agg", "sessionize_stream",
    "running_user_totals_stateful",
    "dedup_stream", "click_attribution_join",
    "curate_stream", "cdc_upsert_sink", "frontier_stream",
]


def streaming_word_count(lines: DataFrame, col: str = "value") -> DataFrame:
    """Job A over an unbounded stream: same tokenizer expressions, running
    counts (update/complete mode)."""
    return (
        tokenize(lines, col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def windowed_event_agg(events: DataFrame, window: str = "1 hour",
                       slide: str | None = None,
                       watermark: str = "2 hours") -> DataFrame:
    """Tumbling/sliding windowed counts per event_type with a watermark
    bounding state and admitting late data up to ``watermark``."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based) — state evicted once the
    watermark passes a session's close."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup (north-star Q10 over unbounded input):
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the watermark passes — state is O(keys in horizon),
    not O(stream), which is what makes exact dedup viable on an
    unbounded 100 TB/day feed (plain ``dropDuplicates`` on a stream
    retains every key forever)."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys or ["user_id", "event_type"])
    )


def click_attribution_join(clicks: DataFrame, purchases: DataFrame,
                           horizon: str = "1 hour",
                           watermark: str = "2 hours",
                           join_type: str = "inner") -> DataFrame:
    """Stream-stream join: purchases attributed to a same-user click
    within ``horizon`` after the click.

    Both sides carry watermarks and the join condition bounds purchase
    time to [click_ts, click_ts + horizon], so each side's buffered
    state is evicted once the other side's watermark passes the bound —
    the canonical bounded-state stream-stream join.  On batch inputs
    the watermarks are no-ops and this is a plain range join (the
    oracle-checked twin in queries/streaming_batch.py).

    ``join_type='leftOuter'`` gives the unconverted-click semantics: a
    click with no purchase in its horizon is emitted null-extended ONLY
    once the purchase-side watermark proves no future match can arrive
    — the delayed-null-emission contract unique to streaming outer
    joins (a batch outer join has no such wait), pinned in
    tests/test_streaming.py."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(F.col("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.round(F.col("value"), 2).alias("amount"))
        .withWatermark("purchase_ts", watermark)
    )
    return (
        c.join(
            p,
            (c["user_id"] == p["p_user_id"])
            & (p["purchase_ts"] >= c["click_ts"])
            & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {horizon}")),
            join_type,
        )
        .select("user_id", "click_id", "click_ts", "purchase_id",
                "purchase_ts", "amount")
    )


_STATE_SCHEMA = "n BIGINT, total DOUBLE"
_OUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"


def _running_totals(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Custom stateful operator body: running (count, sum) per user."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]})


def running_user_totals_stateful(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: per-user running totals emitted every
    micro-batch — the custom-stateful-operator escape hatch (state is a
    2-tuple per key; Arrow-batched)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals, _OUT_SCHEMA, _STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout,
        )
    )


def curate_stream(docs: DataFrame, min_quality: float = 0.7) -> DataFrame:
    """Streaming corpus curation: the quality-classifier filter is pure
    per-row expression work (stateless — runs identically on a stream),
    and exact dedup keys state by the normalized-text fingerprint via
    dropDuplicates.  On an unbounded ingest feed the fingerprint state
    grows with the corpus; production bounds it with
    dropDuplicatesWithinWatermark once docs carry an event-time column —
    here documents are timeless, so state is the honest price of exact
    global dedup (same trade C4 makes by deduping in bounded batches).

    Emits (doc_id, lang, source, p_quality) for kept, first-seen docs.
    """
    from ..operators.textstats import quality_prob

    p = quality_prob("text")
    norm = F.concat_ws(" ", tokens(F.col("text")))
    return (
        docs.withColumn("_p", p).filter(F.col("_p") >= min_quality)
        .withColumn("_fp", F.md5(norm.cast("binary")))
        .dropDuplicates(["_fp"])
        .select("doc_id", "lang", "source",
                F.round("_p", 6).alias("p_quality"))
    )


def cdc_upsert_sink(changes: DataFrame, snapshot_dir: str, keys: list[str],
                    op_col: str = "op", seq_col: str | None = None):
    """Streaming MERGE sink: apply each CDC micro-batch to a parquet
    snapshot via ``foreachBatch`` + :func:`..operators.relational.
    merge_upsert` — the standard streaming-upsert pattern (exactly what
    ``MERGE INTO`` inside foreachBatch does on Delta/Iceberg, expressed
    on plain parquet with a write-staging-then-swap commit so readers
    never see a half-written snapshot).

    Returns the un-started ``DataStreamWriter`` — the caller owns
    trigger/checkpoint/start, same contract as every op in this module.

    Commit protocol and its limits (single-writer, LOCAL filesystem):
    the retire-then-promote swap is two ``os.rename`` calls, so (a) a
    concurrent reader can observe a missing ``snapshot_dir`` in the
    gap between them, and (b) a crash in that gap leaves no live
    snapshot.  (b) is self-healing: every batch first restores
    ``snapshot_dir`` from the newest ``.retired-*`` directory if it is
    missing, so the checkpoint's replayed batch re-merges against the
    pre-crash state and exactly-once holds.  (a) means readers must
    tolerate-and-retry or be scheduled around the writer — the
    single-writer assumption every plain-parquet swap scheme carries.
    ``os.rename`` is also local-fs-only; a non-local URI (s3://,
    hdfs://) is rejected eagerly — production on object stores swaps a
    manifest pointer (or uses a real table format's MERGE) instead.

    Prefer passing ``seq_col``: without it a batch holding two changes
    for one key has no defined winner, and :func:`merge_upsert` fails
    the batch by contract rather than pick one nondeterministically.

    Scale notes: each micro-batch pays one left-anti hash join of
    snapshot x batch keys (the batch side is small by construction) and
    rewrites the snapshot — the plain-parquet cost a table format
    amortizes with file-level pruning + metadata commits; the operator
    boundary is identical, so swapping the sink body for a real
    ``MERGE INTO`` is a one-line change.  Exactly-once comes from the
    checkpoint: a replayed batch re-merges idempotently (same keys,
    same latest change).
    """
    import os
    import shutil

    from ..operators.relational import merge_upsert

    if "://" in snapshot_dir and not snapshot_dir.startswith("file:"):
        raise ValueError(
            "cdc_upsert_sink swaps snapshots with os.rename and supports "
            f"local paths only, got {snapshot_dir!r}; on object stores use "
            "a manifest pointer or a table format's MERGE INTO")
    if snapshot_dir.startswith("file:"):
        # os.rename/os.listdir need a plain path; normalize file:/p,
        # file:///p -> /p (Spark reads the plain path fine either way)
        rest = snapshot_dir[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        snapshot_dir = rest

    snap_path = snapshot_dir.rstrip("/")

    def recover_if_crashed() -> None:
        # a crash between retire and promote leaves no snapshot_dir;
        # restore the newest retired generation so the replayed batch
        # has a base to merge against (idempotent recovery)
        if os.path.exists(snap_path):
            return
        parent, name = os.path.dirname(snap_path), os.path.basename(snap_path)
        retired = sorted(
            (d for d in os.listdir(parent or ".")
             if d.startswith(name + ".retired-")),
            key=lambda d: int(d.rsplit("-", 1)[1]))
        if retired:
            os.rename(os.path.join(parent, retired[-1]), snap_path)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_if_crashed()
        staging = snap_path + f".staging-{batch_id}"
        retired = snap_path + f".retired-{batch_id}"
        # a crash after promote but before the retired-dir cleanup leaves
        # this batch's '.retired-{id}' behind; on checkpoint replay the
        # os.rename below would then hit an existing non-empty target and
        # raise ENOTEMPTY forever.  Clear this batch's stale dirs first
        # (recover_if_crashed has already consumed any retired dir it
        # needed, so whatever remains under these exact names is garbage).
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)
        snap = spark.read.parquet(snapshot_dir)
        merged = merge_upsert(snap, batch_df, keys,
                              op_col=op_col, seq_col=seq_col)
        merged.write.mode("overwrite").parquet(staging)
        os.rename(snap_path, retired)
        os.rename(staging, snap_path)
        shutil.rmtree(retired, ignore_errors=True)

    return changes.writeStream.foreachBatch(apply_batch).outputMode("update")


def frontier_stream(urls: DataFrame, history: DataFrame,
                    key_col: str = "curl", ts_col: str = "ts",
                    watermark: str = "2 hours",
                    num_bits: int = 1 << 16,
                    num_hashes: int = 4) -> DataFrame:
    """Streaming crawl-frontier dedup — the unbounded twin of the batch
    ``dedup_bloom_frontier`` pipeline: emit each incoming URL at most
    once, and only if it is not already in the STATIC seen-URL ledger.

    Three stages, all state-bounded:

    * in-stream dedup via ``dropDuplicatesWithinWatermark`` — one state
      entry per key inside the watermark horizon, evicted after;
    * Bloom probe against the ledger's bitmap, embedded as a LITERAL
      ``map<word, bits>``: the bitmap is built once from the static
      ledger at plan-build time and collected to the driver — at most
      num_bits/64 words, a sketch like the IVF centroids, NOT
      data-sized — so the probe is a pure row-local expression with no
      stream-static join at all.  Definitely-unseen rows (no false
      negatives) pass straight through;
    * probe survivors (true dups + false positives) re-check exactly
      via a stream-static LEFT ANTI join against the ledger — the only
      rows that ever reach the join, so its per-batch cost scales with
      the dup+FP rate, not the stream rate.

    Stream and ledger keys follow the shared Bloom key rule of
    ``operators.joins`` (integral pairs hash as bigint, floating pairs
    as double, any other pair must match exactly or raises
    ``TypeError``), so an int stream key finds its bigint ledger twin.
    The ledger is fixed for the life of the query (the standard
    crawl-loop contract: rebuild the bitmap when the ledger compacts
    and restart the query from the checkpoint).  NULL keys pass the
    LEDGER check unconditionally (anti-join semantics: NULL matches
    nothing), but the trailing in-stream dedup treats NULL as a key
    like any other — multiple NULL-key rows inside one watermark
    horizon collapse to a single emission, the same at-most-once
    contract every key gets (documented, not routed
    around — a crawl frontier must not emit an unbounded stream of
    keyless rows).  The stateful in-stream dedup runs
    ONCE, after the union — branching fresh/survivors below it would
    plant the dedup subtree (and its state store) twice in the plan,
    doubling state for identical content; the branch point is instead
    the stateless probe, whose duplicated map work per micro-batch is
    the cheap side of that trade (r12 review).
    """
    from ..operators.joins import (
        _bloom_keys, _bloom_map, _bloom_words, _might_contain,
    )

    m, k = int(num_bits), int(num_hashes)
    key, hist_key = _bloom_keys("frontier_stream", urls, key_col,
                                history, key_col)
    words = _bloom_map(_bloom_words(
        history.where(F.col(key_col).isNotNull()), hist_key, m, k),
        "_bm").head()["_bm"]
    bitmap = F.map_from_arrays(
        F.lit(list(words)).cast("array<bigint>"),
        F.lit(list(words.values())).cast("array<bigint>"))

    might = _might_contain(bitmap, key, m, k)
    keep_null = F.col(key_col).isNull()
    fresh = urls.filter(keep_null | ~might)
    survivors = urls.filter(~keep_null & might)
    rechecked = survivors.join(
        history.select(key_col).where(F.col(key_col).isNotNull()),
        key_col, "left_anti")
    return (fresh.unionByName(rechecked)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark([key_col]))
