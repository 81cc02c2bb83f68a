"""Join operators — all absent from the reference (SURVEY.md §2: "no
joins"), added per the §2b extension surface (Tenzing-style SQL-on-MR).

Strategy notes for 100 TB:

* ``broadcast=`` hints mark dimension tables; Catalyst also
  auto-broadcasts under ``spark.sql.autoBroadcastJoinThreshold`` and AQE
  can upgrade a shuffle join to broadcast at runtime.
* fact-fact joins shuffle on the join key; AQE skew-join splits hot
  partitions (enabled in session.py).
* ``asof_join`` unions both sides and takes ``last(ignorenulls)`` over
  a window keyed by the by-key and ordered by time: one shuffle, one
  in-partition sort, no time-range blowup, no driver collect and no
  Python.  An inequality join would build an O(matches) intermediate
  to express "latest row at or before t".
* ``range_join_bucketed`` turns an inequality time-window join into an
  equi-join on (key, time_bucket) + residual filter — the standard trick
  to avoid BroadcastNestedLoopJoin on big-big range predicates.
* The Bloom family (``bloom_prefilter``, ``bloom_anti_join``,
  ``bloom_anti_join_rolling`` and ``streaming.ops.frontier_stream``)
  filters candidates with a Bloom filter and then verifies exactly,
  ClusterJoin-style.  The Bloom steps are shared: one key rule
  (``_bloom_keys``: integral pairs hash as bigint, floating pairs as
  double, anything else must match), one build (``_bloom_words``
  ``bit_or``-combines 64-bit words per group, ``_bloom_map`` collapses
  them to a ``map<word, bits>``) and one probe (``_might_contain``, a
  row expression over that map).  Each operator keeps only its recheck.
"""

from __future__ import annotations

import operator
from datetime import timedelta
from functools import reduce
from typing import Literal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join_bucketed", "interval_overlap_join",
           "bloom_prefilter", "bloom_params", "bloom_anti_join"]


def _fresh_name(base: str, *dfs: DataFrame, extra: tuple = ()) -> str:
    """A temp-column name (or prefix) no caller column starts with —
    prefix-safe so derived names like ``f"{p}{c}"`` can't clobber either
    (fixed names such as '_by'/'_bkt' shadowed caller data).
    ``extra`` folds caller-chosen OUTPUT names into the taken set: an
    operator that later does ``withColumn(out, ...)`` must not derive a
    temp name the out-column collides with, or the trailing drop()
    deletes the caller's output (an out like '_gn_bkt' would collide
    with grouped_ntile's internal bucket column)."""
    cols = {c for df in dfs for c in df.columns} | set(extra)
    name = base
    while any(c.startswith(name) for c in cols):
        name += "_"
    return name


def _by_key_cast(lt, rt) -> str | None:
    """The common Spark type :func:`asof_join` normalizes mixed-dtype
    by-keys to (None = already identical).  Decided ONCE from the Spark
    schema so the window partition and the match key read the same
    canonical representation.  Targets: both-integral ->
    bigint (exact); int/float mixes -> double (SQL's own bigint=double
    cast; >2^53 aliasing is SQL's, not ours); both-decimal -> the
    widened common decimal, REFUSED when the widened precision would
    exceed decimal's 38-digit capacity (a capped min(p,38) cast
    overflows 37-digit keys to NULL under non-ANSI, silently turning
    matches into non-matches); decimal mixed
    with non-decimal -> loud error (SQL compares decimal=bigint AS
    DECIMAL — a double cast would silently alias); date/timestamp
    mixes -> timestamp (SQL's midnight cast); anything else -> Spark's
    cast-to-string forms."""
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    floating = integral + (T.FloatType, T.DoubleType)
    temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if lt == rt:
        return None
    if isinstance(lt, integral) and isinstance(rt, integral):
        return "bigint"
    if isinstance(lt, T.DecimalType) and isinstance(rt, T.DecimalType):
        s = max(lt.scale, rt.scale)
        p = max(lt.precision - lt.scale, rt.precision - rt.scale) + s
        if p > 38:
            raise ValueError(
                f"as-of by-keys {lt.simpleString()}/{rt.simpleString()} "
                f"widen to decimal({p},{s}) > 38 digits; the capped cast "
                "would overflow large keys to NULL — reduce scale or "
                "precision upstream")
        return f"decimal({p},{s})"
    if isinstance(lt, T.DecimalType) or isinstance(rt, T.DecimalType):
        raise ValueError(
            f"as-of by-keys mix DecimalType with {lt}/{rt}; cast "
            "both sides to one exact type upstream")
    if isinstance(lt, floating) and isinstance(rt, floating):
        return "double"
    if isinstance(lt, temporal) and isinstance(rt, temporal):
        return "timestamp"
    return "string"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_values: list[str],
    tolerance: timedelta | int | float | None = None,
    how: Literal["inner", "left"] = "inner",
) -> DataFrame:
    """Backward as-of join: for each left row, the single right row with
    the greatest ``right_on`` <= ``left_on`` within the same ``by`` key.

    Pure DataFrame ops: union both sides with a sort tag, then
    ``last(value, ignorenulls=True)`` over a window partitioned by the
    by-key and ordered by (time, tag), so each left row sees the latest
    right row at-or-before it.  One hash shuffle + one in-partition
    sort, all JVM/codegen — no Python evaluation.  Right rows tag 0 and
    left rows tag 1, so a right row AT the left timestamp matches
    (backward-inclusive).

    ``how="inner"`` (the default, DuckDB ``ASOF JOIN``) keeps only left
    rows with a match; ``how="left"`` (``ASOF LEFT JOIN``) keeps every
    left row, with NULL right values where nothing matches.

    ``tolerance`` bounds how stale a match may be: a right row farther
    than the tolerance from the left ``on`` value is no match at all —
    the financial-data as-of idiom (a quote older than the staleness
    budget must not price a trade).  It is a ``datetime.timedelta`` for
    timestamp ``on`` keys or a number for numeric ones, compared against
    ``left_on - right_on``; ``right_values`` must then include
    ``right_on``.

    Tie rule: right rows tied on ``right_on`` within a by-key resolve
    deterministically by the ``right_values`` tuple — the greatest
    wins, NULLS FIRST, with NaN in top-level float/double fields ranked
    as NULL (``nanvl`` on the order key only; the returned payload
    keeps the NaN).  NaN inside nested arrays is not normalized.

    NULL rule: NULL by-keys AND NULL on-keys match nothing (SQL
    equality and inequality semantics).  Null-keyed right rows are
    filtered out before the union.  Null-keyed left rows never enter
    the shuffle: ``how="inner"`` drops them, ``how="left"`` unions them
    back after the window with NULL payload — a second scan of the left
    input, no extra exchange or Window.  Routing them through the
    window would put every one of them in the single partition of the
    NULL key, a skewed sort that turns a mostly-NULL corpus into one
    hot task.

    The matched payload travels as ONE STRUCT column, not one window
    expression per value column: per-column ``last(c, ignorenulls=True)``
    would conflate the left rows' placeholder NULLs with a right row's
    genuine NULL field and resurrect the previous match's value for
    that column.  A struct from a right row is never NULL even when
    every field is, so ``last(struct, ignorenulls=True)`` skips exactly
    the placeholders and keeps each matched row whole.

    Mixed-dtype by-keys are normalized to the :func:`_by_key_cast`
    target so keys that compare equal share a window partition; temp
    names are uniquified against caller columns.
    """
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    if how not in ("inner", "left"):
        raise ValueError(
            f"asof_join: how must be 'inner' or 'left', not {how!r}")
    rv = list(right_values)
    if tolerance is not None and right_on not in rv:
        raise ValueError(
            "tolerance needs the matched timestamp: include "
            f"{right_on!r} in right_values")
    by_cast = _by_key_cast(left.schema[left_by].dataType,
                           right.schema[right_by].dataType)
    lby = F.col(left_by).cast(by_cast) if by_cast else F.col(left_by)
    rby = F.col(right_by).cast(by_cast) if by_cast else F.col(right_by)
    by_c = _fresh_name("_by", left, right)
    t_c = _fresh_name("_t", left, right)
    side_c = _fresh_name("_side", left, right)
    rv_c = _fresh_name("_rv", left, right)
    m_c = _fresh_name("_m", left, right)
    rv_t = T.StructType([right.schema[c] for c in rv])
    right = right.filter(F.col(right_by).isNotNull()
                         & F.col(right_on).isNotNull())
    l_null = F.col(left_by).isNull() | F.col(left_on).isNull()
    null_left = left.filter(l_null)
    left = left.filter(~l_null)
    l_tag = left.select(
        lby.alias(by_c), F.col(left_on).alias(t_c),
        F.lit(1).alias(side_c),
        *[F.col(c) for c in left.columns],
        F.lit(None).cast(rv_t).alias(rv_c),
    )
    r_tag = right.select(
        rby.alias(by_c), F.col(right_on).alias(t_c),
        F.lit(0).alias(side_c),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in left.columns],
        F.struct(*[F.col(c).alias(c) for c in rv]).alias(rv_c),
    )
    # Tie-break ORDER key: the payload struct with NaN in top-level
    # float/double fields mapped to NULL, so NaN ranks smallest (the
    # tie rule above); Spark's raw struct ordering would rank it
    # greatest.  For LEFT rows the key is a struct of NULLs instead of
    # a NULL struct — irrelevant: the side tag already separates sides.
    flt = (T.FloatType, T.DoubleType)
    rv_ord = F.struct(*[
        (F.nanvl(F.col(rv_c).getField(f.name),
                 F.lit(None).cast(f.dataType)) if isinstance(f.dataType, flt)
         else F.col(rv_c).getField(f.name)).alias(f.name)
        for f in rv_t.fields])
    w = (Window.partitionBy(by_c)
         .orderBy(F.col(t_c).asc(), F.col(side_c).asc(),
                  rv_ord.asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = l_tag.unionByName(r_tag, allowMissingColumns=False).select(
        "*", F.last(rv_c, ignorenulls=True).over(w).alias(m_c),
    ).where(F.col(side_c) == 1)
    keep = F.col(m_c).isNotNull()
    if tolerance is not None:
        keep = keep & (F.col(t_c) - F.col(m_c).getField(right_on)
                       <= F.lit(tolerance))
    left_cols = [F.col(c) for c in left.columns]
    if how == "inner":
        return matched.where(keep).select(
            *left_cols, *[F.col(m_c).getField(c).alias(c) for c in rv])
    out = matched.select(
        *left_cols, *[F.when(keep, F.col(m_c).getField(c)).alias(c)
                      for c in rv])
    pad = null_left.select(
        *left_cols,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rv])
    return out.unionByName(pad)


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Pairs (l, r) with same ``key`` and ``l.ts < r.ts <= l.ts + window``.

    Equi-join on (key, bucket) with the left side exploded to its two
    candidate buckets, then a residual range filter — shuffle volume is
    O(2·|left| + |right|) instead of the O(|left|·|right|/keys) of a
    naive inequality join.
    """
    bucket = lambda c: F.floor(F.unix_timestamp(F.col(c)) / window_seconds)  # noqa: E731
    bkt = _fresh_name("_bkt", left, right)
    l = left.withColumn(
        bkt, F.explode(F.array(bucket(left_ts), bucket(left_ts) + 1))
    )
    r = right.withColumn(bkt, bucket(right_ts))
    lcol, rcol = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return (
        l.alias("l")
        .join(r.alias("r"), on=[F.col(f"l.{bkt}") == F.col(f"r.{bkt}"), F.col(f"l.{key}") == F.col(f"r.{key}")])
        .where((rcol > lcol) & (rcol <= lcol + F.expr(f"INTERVAL {window_seconds} SECONDS")))
        .drop(bkt)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int,
) -> DataFrame:
    """All pairs whose closed intervals ``[l_start, l_end]`` and
    ``[r_start, r_end]`` OVERLAP — without a BroadcastNestedLoopJoin.

    Both sides explode each interval into the time buckets it covers
    (``sequence`` over ``floor(unix_ts / bucket_seconds)``), equi-join
    on the bucket, apply the residual overlap predicate, and keep each
    pair exactly ONCE by requiring the joined bucket to be the FIRST
    bucket both intervals are live in (``greatest`` of the two start
    buckets — overlap guarantees that bucket is common).  Shuffle volume
    is O(sum of interval lengths / bucket) instead of |L| x |R|; pick
    ``bucket_seconds`` near the typical interval length so each interval
    explodes to a handful of buckets.  Column names on the two sides
    must be disjoint (rename before calling — the join returns both
    sides' columns).  Timestamps compare exactly; touching endpoints
    (l_end == r_start) count as overlap, matching SQL's
    ``a.s <= b.e AND b.s <= a.e``.
    """
    def bkt(c: str):
        return F.floor(F.unix_timestamp(F.col(c)) / bucket_seconds)

    bkt_c = _fresh_name("_bkt", left, right)
    l = left.withColumn(bkt_c, F.explode(F.sequence(bkt(l_start), bkt(l_end))))
    r = right.withColumn(bkt_c, F.explode(F.sequence(bkt(r_start), bkt(r_end))))
    first_common = F.greatest(bkt(l_start), bkt(r_start))
    return (
        l.join(r, bkt_c)
        .where((F.col(l_start) <= F.col(r_end))
               & (F.col(r_start) <= F.col(l_end))
               & (F.col(bkt_c) == first_common))
        .drop(bkt_c)
    )


def _bloom_keys(op: str, a: DataFrame, a_col: str, b: DataFrame,
                b_col: str) -> tuple[Column, Column]:
    """The Bloom key rule: the two key columns as they must be hashed.
    xxhash64 is type-sensitive, so an int key and a bigint key hash
    differently and a probe would silently DROP matches that a plain
    equi-join's implicit coercion keeps.  Integral pairs therefore hash
    as BIGINT and floating pairs as DOUBLE (coercion-equivalent, and
    xxhash64 already hashes -0.0 like 0.0 and every NaN alike, as join
    keys compare); identical types hash as they are; any other pair is
    refused at plan build."""
    at, bt = dict(a.dtypes)[a_col], dict(b.dtypes)[b_col]
    integral = {"tinyint", "smallint", "int", "bigint"}
    floating = {"float", "double"}
    if at in integral and bt in integral:
        cast = "bigint"
    elif at in floating and bt in floating:
        cast = "double"
    elif at == bt:
        return F.col(a_col), F.col(b_col)
    else:
        raise TypeError(
            f"{op} key types must match (or both be integral, or both be "
            f"floating): {a_col} is {at}, {b_col} is {bt} — xxhash64 over "
            "mismatched types silently loses matches")
    return F.col(a_col).cast(cast), F.col(b_col).cast(cast)


def _bloom_hashes(key: Column, m: int, k: int) -> list[Column]:
    """The k bit positions of ``key`` in an m-bit filter — the seed
    mixing ``xxhash64(key, j)`` every build and probe shares."""
    return [F.pmod(F.xxhash64(key, F.lit(j)), F.lit(m)) for j in range(k)]


def _bloom_words(keys: DataFrame, key: Column, m: int, k: int,
                 by: tuple[str, ...] = ()) -> DataFrame:
    """Bloom build: ``(*by, _w, _bits)`` — one row per group and set
    64-bit word, ``bit_or``-combined map-side, so the exchange carries
    at most ``num_bits / 64`` word partials per group, never a key."""
    pos = F.explode(F.array(*_bloom_hashes(key, m, k)))
    bit = F.call_function("shiftleft", F.lit(1).cast("bigint"),
                          F.pmod("_pos", F.lit(64)).cast("int"))
    return (keys.select(*by, pos.alias("_pos"))
            .groupBy(*by, F.shiftright("_pos", 6).alias("_w"))
            .agg(F.bit_or(bit).alias("_bits")))


def _bloom_map(words: DataFrame, out: str,
               by: tuple[str, ...] = ()) -> DataFrame:
    """Collapse :func:`_bloom_words` rows to one ``map<word, bits>`` per
    group in column ``out``.  NULL words (a group a left join found no
    words for) are skipped, so such a group gets an empty map."""
    entry = F.when(F.col("_w").isNotNull(), F.struct("_w", "_bits"))
    return words.groupBy(*by).agg(
        F.map_from_entries(F.collect_list(entry)).alias(out))


def _might_contain(bitmap: Column, key: Column, m: int, k: int) -> Column:
    """Bloom probe: TRUE iff all k bits of ``key`` are set in the
    ``map<word, bits>`` column ``bitmap`` — a pure row expression
    (xxhash64 + element_at + shift/mask, codegen, no UDF).  A missing
    word or a NULL map reads as 0 bits, so the answer is never NULL."""
    zero = F.lit(0).cast("bigint")
    return reduce(operator.and_, [
        F.call_function(
            "shiftright",
            F.coalesce(F.element_at(bitmap, F.shiftright(p, 6)), zero),
            F.pmod(p, F.lit(64)).cast("int")).bitwiseAND(1) == 1
        for p in _bloom_hashes(key, m, k)])


def bloom_prefilter(fact: DataFrame, keys: DataFrame, fact_key: str,
                    dim_key: str, num_bits: int = 1 << 16,
                    num_hashes: int = 4) -> DataFrame:
    """Semi-join reduction: drop ``fact`` rows whose ``fact_key`` CANNOT
    match any ``keys.dim_key`` before the join's shuffle, using a Bloom
    filter built as a tiny aggregate and shipped as ONE broadcast row.

    The scale case this serves: a filtered dimension subset that is too
    big to broadcast-join at 100 TB (tens of millions of keys) still
    compresses to a kilobytes-scale bitmap, and applying that bitmap
    map-side cuts the fact table's shuffle volume to matching rows plus
    a controlled false-positive trickle.  Semantics are TRANSPARENT: a
    Bloom filter has no false negatives, so `prefilter -> real join`
    returns exactly the rows of the plain join (oracles compare against
    the plain join).  False positives only cost shuffle bytes and are
    removed by the real join.

    Plan shape: build = one pass over ``keys`` exploding each key to its
    ``num_hashes`` bit positions, ``bit_or`` per 64-bit word
    (<= num_bits/64 rows), collapsed to a single ``map<word, bits>``
    row.  Probe = crossJoin(broadcast(1 row)) + a pure-expression filter.
    Size ``num_bits ~ -n * ln(p) / ln(2)^2`` for n keys at target FPR p
    (default 64 Kbit ~ 6k keys at 1%); the map never exceeds
    ``num_bits / 64`` entries regardless of key count.  Key types follow
    the shared Bloom key rule (integral pairs as BIGINT, floating pairs
    as DOUBLE, otherwise identical), the coercions a plain join makes.
    """
    m, k = int(num_bits), int(num_hashes)
    fact_col, dim_col = _bloom_keys("bloom_prefilter", fact, fact_key,
                                    keys, dim_key)
    # the broadcast map lands ON the caller's frame, where a fixed
    # '_bloom' name would clobber (and then drop) a caller column
    bloom_c = _fresh_name("_bloom", fact)
    bloom = _bloom_map(_bloom_words(keys, dim_col, m, k), bloom_c)
    return (fact.crossJoin(F.broadcast(bloom))
            .where(_might_contain(F.col(bloom_c), fact_col, m, k))
            .drop(bloom_c))


def bloom_params(n_keys: int, fpr: float = 0.01) -> tuple[int, int]:
    """Textbook Bloom sizing: bits m = -n ln p / ln^2 2 (rounded up to a
    multiple of 64), hashes k = (m/n) ln 2.  Scale rule: size for the
    build side's distinct-key count — at 10^10 seen URLs and 1% FPR the
    bitmap is ~12 GB, past comfortable broadcast range, so shard the
    history by key range and build one filter per shard (each probe
    key touches exactly one shard's filter)."""
    import math as _m

    n = max(n_keys, 1)
    m = int(_m.ceil(-n * _m.log(fpr) / (_m.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * _m.log(2)))
    return m, k


def bloom_anti_join(incoming: DataFrame, history: DataFrame, key_col: str,
                    num_bits: int = 1 << 16,
                    num_hashes: int = 4) -> DataFrame:
    """Rows of ``incoming`` whose ``key_col`` does NOT appear in
    ``history`` (both frames carry the key under the same name) — the
    crawl-frontier seen-key dedup shape.  Output-identical to a plain
    left-anti join: the Bloom probe has no false NEGATIVES (a
    definitely-unseen row takes the cheap path directly) and its false
    positives are re-checked exactly, so the filter only ever moves
    rows between paths, never changes the answer.

    The exact recheck never shuffles the history: probe survivors are
    broadcast.  It runs as history-scan LEFT SEMI broadcast(survivor
    keys) -> confirmed-seen keys (bounded by the survivor count) ->
    survivors LEFT ANTI broadcast(confirmed) — history is map-scanned
    once for the bitmap and once for the semi probe, and nothing
    history-sized ever crosses an exchange.  This fits the crawl shape
    (incoming batch << history), where survivors are few.  NULL incoming
    keys follow anti-join semantics (NULL matches nothing => kept); NULL
    history keys are ignored.  Size ``num_bits``/``num_hashes`` with
    ``bloom_params`` from the history's distinct-key estimate."""
    from .caching import tracked_persist

    m, k = int(num_bits), int(num_hashes)
    inc_key, hist_key = _bloom_keys("bloom_anti_join", incoming, key_col,
                                    history, key_col)
    bloom_c = _fresh_name("_bloom", incoming)
    # NOT persisted: the bitmap's broadcast exchange is plan-identical
    # in the fresh and survivor branches, so exchange reuse
    # (spark.sql.exchange.reuse) computes it once per action anyway —
    # an explicit persist only adds a materialization barrier (measured
    # +0.8 s per run at sf0.1 for zero saved work).
    bloom = _bloom_map(_bloom_words(
        history.where(F.col(key_col).isNotNull()), hist_key, m, k), bloom_c)
    probed = incoming.crossJoin(F.broadcast(bloom))
    might = _might_contain(F.col(bloom_c), inc_key, m, k)
    keep_null = F.col(key_col).isNull()
    fresh = probed.where(keep_null | ~might).drop(bloom_c)
    # persisted: survivors feed both the broadcast key set and the
    # final anti-join's left side
    survivors = tracked_persist(probed.where(~keep_null & might)
                                .drop(bloom_c))
    surv_keys = survivors.select(key_col).distinct()
    confirmed = (history.select(key_col)
                 .join(F.broadcast(surv_keys), key_col, "left_semi")
                 .distinct())
    new = survivors.join(F.broadcast(confirmed), key_col, "left_anti")
    return fresh.unionByName(new)


def bloom_anti_join_rolling(ledger: DataFrame, key_col: str,
                            window_col: str, lookback: int,
                            num_bits: int = 1 << 16,
                            num_hashes: int = 4) -> DataFrame:
    """Rolling-history frontier dedup — the incremental-crawl twin of
    ``bloom_anti_join``: ``ledger`` holds one row
    per (window, key) sighting (``window_col`` an integer epoch — day
    index, week index); a row survives iff its key does NOT appear in
    any of the ``lookback`` windows strictly before its own, i.e.
    exact output of the windowed anti-join

        ledger l ANTI JOIN ledger h
          ON h.key = l.key AND h.window IN [l.window-lookback, l.window-1]

    with the same no-false-negative / exact-recheck structure as the
    static operator, so a plain windowed anti-join oracle is EXACT.

    Shape at 100 TB — per-window bitmaps, history NEVER shuffles:

    * ONE pass over the ledger builds a sparse ``map<word,bits>``
      bitmap PER WINDOW (groupBy(window, word) bit_or): the exchange
      carries at most |windows| x m/64 word partials (map-side
      combined), never a ledger row;
    * each window's TRAILING bitmap is the bit_or of its ``lookback``
      predecessors — a range self-join on the |windows|-row bitmap
      frame (dimension-sized by construction: windows are calendar
      epochs), merged by re-aggregating exploded word entries;
    * probes run map-side via broadcast of the |windows| trailing
      bitmaps; only probe survivors (true dups + false positives)
      reach the exact recheck, which scans the ledger once against
      BROADCAST survivor pairs (key equality + window-range residual
      inside a broadcast hash join) — bounded by the survivor count.

    At the 10^10-keys-per-window regime, shard each window's bitmap by
    key range exactly as ``bloom_params`` documents for the static
    ledger.  Probe survivors are broadcast, and their volume is
    DATA-DEPENDENT (all true within-window dups plus false positives):
    on a high-duplication ledger it is ledger-sized, and that broadcast
    is the limit at scale.  NULL keys
    are kept, and so are NULL-window rows (both
    anti-join semantics: NULL matches nothing, so no trailing history
    can contain them — identical to what the exact windowed anti-join
    does with a NULL on either side of its range predicate); neither
    enters a bitmap.
    """
    from .caching import tracked_persist

    m, k = int(num_bits), int(num_hashes)
    if int(lookback) < 1:
        raise ValueError(f"lookback must be >= 1, got {lookback}")
    wtypes = dict(ledger.dtypes)
    if wtypes[window_col] not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            f"window_col {window_col!r} must be integral (an epoch "
            f"index), got {wtypes[window_col]} — cast dates with "
            "datediff() first so the trailing range is well-defined")
    keyed = ledger.where(F.col(key_col).isNotNull()
                         & F.col(window_col).isNotNull())
    w = F.col(window_col)
    # every temp column that lands on (or joins against) the caller's
    # frame is uniquified: a ledger already carrying a column with the
    # temp's name must not become ambiguous
    bm_c = _fresh_name("_bm", ledger)
    tw = _fresh_name("_tw", ledger)
    sw = _fresh_name("_sw", ledger)
    sk = _fresh_name("_sk", ledger)
    hw = _fresh_name("_hw", ledger)
    hk = _fresh_name("_hk", ledger)

    # per-window word partials: ONE pass over the keyed ledger.
    # NULL-window rows never enter a bitmap (no range predicate could
    # match them anyway).
    per_win = _bloom_words(keyed.withColumn(hw, w), F.col(key_col), m, k,
                           by=(hw,))
    # trailing bitmap per target window: range self-join of the tiny
    # per-window word frame, re-aggregated by word (bit_or is
    # associative, so merging word partials == merging bitmaps).  The
    # target-window set comes from per_win itself — deriving it from
    # the ledger would re-scan data to enumerate a dimension-sized set.
    targets = per_win.select(F.col(hw).alias(tw)).distinct()
    trailing = _bloom_map(
        targets.join(
            F.broadcast(per_win),
            (F.col(hw) >= F.col(tw) - F.lit(int(lookback)))
            & (F.col(hw) <= F.col(tw) - F.lit(1)), "left")
        .groupBy(tw, "_w")
        .agg(F.bit_or("_bits").alias("_bits")),
        bm_c, by=(tw,))

    probed = ledger.join(F.broadcast(trailing), w == F.col(tw), "left")
    might = _might_contain(F.col(bm_c), F.col(key_col), m, k)
    keep_null = F.col(key_col).isNull()
    fresh = probed.where(keep_null | ~might).drop(tw, bm_c)
    # persisted: survivors feed both the broadcast pair set and the
    # final anti-join's left side
    survivors = tracked_persist(probed.where(~keep_null & might)
                                .drop(tw, bm_c))
    surv_pairs = survivors.select(w.alias(sw),
                                  F.col(key_col).alias(sk)).distinct()
    confirmed = (
        keyed.select(w.alias(hw), F.col(key_col).alias(hk))
        .join(F.broadcast(surv_pairs),
              (F.col(hk) == F.col(sk))
              & (F.col(hw) >= F.col(sw) - F.lit(int(lookback)))
              & (F.col(hw) <= F.col(sw) - F.lit(1)))
        .select(sw, sk).distinct())
    new = survivors.join(
        F.broadcast(confirmed),
        (w == F.col(sw)) & (F.col(key_col) == F.col(sk)),
        "left_anti")
    return fresh.unionByName(new)
