"""Window-function operators (SURVEY.md §2b Q9) — absent from the
reference; added per the extension surface.

Determinism discipline: every ``orderBy`` inside a window spec includes a
unique tiebreaker key, otherwise row_number/lag results are
partition-order-dependent and cannot hash-match any oracle.  At 100 TB a
window spec costs one shuffle on its partition keys; specs sharing keys
reuse the exchange.

Two-phase operators (:func:`grouped_running_sum`, :func:`grouped_ntile`,
:func:`grouped_exact_quantiles`, :func:`global_order_stats`) derive their
range bucket id as a PURE FUNCTION OF THE ROW VALUES — a broadcast list of
boundary key tuples compared against each row with an ordinary
expression — never from ``spark_partition_id()`` over a
``repartitionByRange``.  RangePartitioner boundaries come from a
nondeterministic sampling job and partition ids are an artifact of the
one evaluation that produced them: under cache eviction, task retry,
AQE re-planning, or a second action over the same lineage, a recompute
re-samples and re-assigns ids, silently desyncing the local prefix from
its bucket offsets.  A value-derived bucket id is identical under ANY
recomputation, configuration, or cache state, so the persist below is a
pure perf optimization (one materialization feeds both plan branches),
not a correctness requirement.

The ``grouped_*`` operators take their group columns as a list; an
empty list is the global form (``ORDER BY`` with no ``PARTITION BY``).
The bucket count is the session's ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .caching import tracked_persist
from .joins import _fresh_name

__all__ = ["ranked", "with_lag", "running_agg", "top_k_per_group",
           "top_k_per_group_salted",
           "grouped_running_sum", "grouped_ntile", "grouped_exact_quantiles",
           "global_order_stats", "shared_boundaries"]

# Temp-name discipline (r10 sweep of the fixed-name clobber class): each
# operator derives ONE prefix no caller column starts with via
# _fresh_name, then builds every internal column name from it — a caller
# column literally named '_bkt'/'_rn'/'_offset'/... passes through
# untouched instead of being silently replaced and dropped.


def _shuffle_partitions(df: DataFrame) -> int:
    """The session's effective ``spark.sql.shuffle.partitions``: the
    count its shuffles use, Spark's default of 200 when nothing set it."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _spec(partition_by: list[str], order_by: list[Column]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def ranked(df: DataFrame, partition_by: list[str], order_by: list[Column],
           kind: str = "rank", out: str = "rnk") -> DataFrame:
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}[kind]
    return df.withColumn(out, fn().over(_spec(partition_by, order_by)))


def with_lag(df: DataFrame, col: str, partition_by: list[str],
             order_by: list[Column], offset: int = 1, out: str | None = None) -> DataFrame:
    out = out or f"{col}_lag{offset}"
    return df.withColumn(out, F.lag(col, offset).over(_spec(partition_by, order_by)))


def running_agg(df: DataFrame, agg: Column, partition_by: list[str],
                order_by: list[Column], out: str,
                preceding: int | None = None) -> DataFrame:
    """Cumulative (preceding=None) or moving-frame aggregate over rows."""
    start = Window.unboundedPreceding if preceding is None else -preceding
    spec = _spec(partition_by, order_by).rowsBetween(start, Window.currentRow)
    return df.withColumn(out, agg.over(spec))


def top_k_per_group(df: DataFrame, partition_by: list[str],
                    order_by: list[Column], k: int) -> DataFrame:
    """Per-group top-k: window row_number + filter — the scalable idiom
    (no per-group sort materialization beyond the one shuffle)."""
    rn = _fresh_name("_rn", df)
    return (
        df.withColumn(rn, F.row_number().over(_spec(partition_by, order_by)))
        .filter(F.col(rn) <= k)
        .drop(rn)
    )


def top_k_per_group_salted(df: DataFrame, partition_by: list[str],
                           order_by: list[Column], k: int,
                           salt_col: Column, buckets: int = 64,
                           out_rank: str | None = None) -> DataFrame:
    """Per-group top-k that survives GIANT groups: a plain keyed window
    sorts each entire group in one task — fatal when one group is the
    whole corpus (e.g. top-k neighbors per probe vector, where each of
    a handful of probes scores every row).  Two-phase instead: local
    top-k per (group, salt) — the salt spreads a group over ``buckets``
    tasks — then global top-k over the <= buckets*k survivors per
    group.  Exact for any salt assignment (an element's global rank is
    never better than its local rank, so the global top-k is contained
    in the union of local top-ks); ``salt_col`` is hashed
    (``xxhash64 % buckets``) so the bucket id is a pure row-value
    function — deterministic under recompute/retry/AQE, same discipline
    as the two-phase window family.  ``out_rank`` optionally emits the
    final 1-based rank.
    """
    p = _fresh_name("_tk_", df,
                    extra=(out_rank,) if out_rank is not None else ())
    salt_c, rn, grn = f"{p}salt", f"{p}rn", f"{p}grn"
    salted = df.withColumn(
        salt_c, F.pmod(F.xxhash64(salt_col), F.lit(buckets)))
    local = (salted.withColumn(
        rn, F.row_number().over(_spec([*partition_by, salt_c], order_by)))
        .filter(F.col(rn) <= k))
    final = (local.withColumn(
        grn, F.row_number().over(_spec(partition_by, order_by)))
        .filter(F.col(grn) <= k))
    if out_rank is not None:
        final = final.withColumn(out_rank, F.col(grn).cast("int"))
    return final.drop(salt_c, rn, grn)


# --------------------------------------------------------------------------
# Deterministic range buckets for the two-phase operators.
#
# A sort key is given as a column NAME plus direction and null placement:
#   "price"                       -> ascending, Spark default NULLS FIRST
#   ("cnt", "desc")               -> descending, Spark default NULLS LAST
#   ("p", "asc", "first")         -> explicit null placement
# Names (not Column sort expressions) are required because the operator
# must build BOTH a window sort spec and a value-comparison expression
# from the same key, and Column objects don't expose their sort direction
# through a public API.
# --------------------------------------------------------------------------

SortKey = "str | tuple[str, str] | tuple[str, str, str]"


def _norm_keys(order_by) -> list[tuple[str, bool, bool]]:
    """-> [(name, ascending, nulls_first)] with Spark's default null
    placement (ASC -> NULLS FIRST, DESC -> NULLS LAST)."""
    keys: list[tuple[str, bool, bool]] = []
    for k in order_by:
        if isinstance(k, str):
            name, d, n = k, "asc", None
        elif len(k) == 2:
            (name, d), n = k, None
        else:
            name, d, n = k
        asc = d.lower() == "asc"
        nf = (asc if n is None else n.lower() == "first")
        keys.append((name, asc, nf))
    return keys


def _sort_cols(keys: list[tuple[str, bool, bool]]) -> list[Column]:
    out = []
    for name, asc, nf in keys:
        c = F.col(name)
        if asc:
            out.append(c.asc_nulls_first() if nf else c.asc_nulls_last())
        else:
            out.append(c.desc_nulls_first() if nf else c.desc_nulls_last())
    return out


def _sample_rows(df: DataFrame, names: list[str], S: int) -> list:
    """The ``S`` rows of ``df`` with the smallest ``xxhash64(names)``
    (a fixed-seed uniform sample; TakeOrdered over a total order, so the
    same rows come back on every evaluation).  Depends only on row
    VALUES — never on input partitioning, task scheduling, or cache
    state.  Cost: one column-pruned pass collecting S tiny tuples."""
    sel = df.select(*names)
    tag = _fresh_name("_tag", sel)
    return (
        sel.withColumn(tag, F.xxhash64(*names))
        .orderBy(F.col(tag).asc(),
                 *[F.col(n).asc_nulls_first() for n in names])
        .limit(S)
        .collect()
    )


_SAMPLE_PER_BUCKET = 24  # sampled rows per bucket boundary


def _derive_bounds(vals: list[tuple], keys: list[tuple[str, bool, bool]],
                   n_buckets: int) -> list[tuple]:
    """Boundary tuples from sampled key tuples: sort driver-side in the
    operator's sort order, pick the S/B quantile positions, dedupe."""
    vals = list(vals)
    # stable multi-key sort in the operator's sort order, last key first
    for i in reversed(range(len(keys))):
        _, asc, nf = keys[i]
        rank_null = (0 if nf else 1) if asc else (1 if nf else 0)
        vals.sort(
            key=lambda t: (rank_null if t[i] is None else 1 - rank_null,
                           0 if t[i] is None else t[i]),
            reverse=not asc,
        )
    bounds: list[tuple] = []
    n = len(vals)
    for i in range(1, n_buckets):
        b = vals[(i * n) // n_buckets] if n else None
        if b is not None and (not bounds or b != bounds[-1]):
            bounds.append(b)
    return bounds


def _boundaries(df: DataFrame, keys: list[tuple[str, bool, bool]],
                n_buckets: int) -> list[tuple]:
    """B-1 boundary key tuples — a deterministic function of the DATA.

    :func:`_sample_rows` + :func:`_derive_bounds`.  Boundary placement
    affects only bucket BALANCE; the two-phase prefix math is exact for
    any boundary set, so an imperfect sample can never change results.
    """
    names = [k[0] for k in keys]
    S = max(n_buckets * _SAMPLE_PER_BUCKET, 96)
    rows = _sample_rows(df, names, S)
    return _derive_bounds([tuple(r[n] for n in names) for r in rows],
                          keys, n_buckets)


def shared_boundaries(df: DataFrame, key_sets: list) -> list[list[tuple]]:
    """Boundary lists for SEVERAL two-phase window calls over the same
    frame from ONE sample pass — the chained-pipeline optimization
    (e.g. RFM's three ntiles over one per-user aggregate: one
    boundary-collect job instead of three scans of the base).

    Sampling tags rows by ``xxhash64`` over the union of all key
    columns, so every key set derives its boundaries from the same
    collected rows; per-set boundaries are then the usual sort-order
    quantile picks.  Still a pure function of row values (deterministic
    under recomputation/retry/AQE); sharing one sample across key sets
    changes only bucket BALANCE, never results — the two-phase math is
    exact for any boundary set.  Pass each returned element as the
    matching :func:`grouped_ntile` call's ``bounds=``.
    """
    parts = _shuffle_partitions(df)
    keyed = [_norm_keys(ks) for ks in key_sets]
    all_names: list[str] = []
    for keys in keyed:
        for name, _, _ in keys:
            if name not in all_names:
                all_names.append(name)
    S = max(parts * _SAMPLE_PER_BUCKET, 96)
    rows = _sample_rows(df, all_names, S)
    out = []
    for keys in keyed:
        names = [k[0] for k in keys]
        out.append(_derive_bounds([tuple(r[n] for n in names) for r in rows],
                                  keys, parts))
    return out


def _sql_lit(v) -> str:
    """Render a collected boundary value as a Spark SQL literal with an
    exact round-trip (floats go through repr -> CAST AS DOUBLE so the
    binary64 value is bit-identical to the collected one)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"unsupported boundary literal type: {type(v)!r}")


def _bucket_expr(df: DataFrame, keys: list[tuple[str, bool, bool]],
                 bounds: list[tuple]) -> Column:
    """bucket = #boundaries at-or-before the row in sort order — the
    searchsorted expression.  Pure row-value function: identical under
    recomputation, retry, AQE re-plan, or any shuffle-partition conf.
    Size is O(B * n_keys) comparison terms (fine to B ~ a few hundred;
    a 1000-executor deployment wanting B in the thousands would move the
    boundary list into an array literal + ``aggregate`` HOF, same math).
    Null-safe: boundary components may themselves be NULL (a mostly-null
    sort key samples null boundaries) and rows may be NULL at any key.

    Built as ONE generated SQL string parsed server-side: composing the
    ~B * keys comparison tree out of Column objects costs hundreds of
    py4j round-trips (~1.5 s of pure plan-build per operator call,
    measured); a single ``F.expr`` is one round-trip for the same tree.
    Comparisons stay on the untouched column (literals are cast, never
    the column), so parquet min/max and codegen behavior are unchanged.
    """
    if not bounds:
        return F.lit(0)
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    terms = []
    for b in bounds:
        ge = "TRUE"  # row >= boundary given all later keys compared
        for i in reversed(range(len(keys))):
            name, asc, nf = keys[i]
            c, bv = f"`{name}`", b[i]
            if bv is None:
                eq = f"({c} IS NULL)"
                # rows strictly after a NULL boundary: non-null rows when
                # nulls sort first; nothing when nulls sort last
                after = f"({c} IS NOT NULL)" if nf else "FALSE"
            else:
                # dtype gate BEFORE literal rendering so an unsupported
                # key type reports itself, not _sql_lit's TypeError
                if not dtypes[name].startswith(("bigint", "int", "smallint",
                                                "tinyint", "double", "float",
                                                "string", "date", "timestamp",
                                                "boolean", "decimal")):
                    raise TypeError(
                        f"unsupported sort-key type {dtypes[name]} for {name}")
                if dtypes[name].startswith("decimal"):
                    # decimal.Decimal boundary: exact digits via str(),
                    # cast to the column's own DECIMAL(p,s)
                    lit = f"CAST('{bv}' AS {dtypes[name].upper()})"
                else:
                    lit = _sql_lit(bv)
                eq = f"({c} <=> {lit})"
                op = ">" if asc else "<"
                after = (f"(({c} IS NULL AND {'FALSE' if nf else 'TRUE'}) OR "
                         f"({c} IS NOT NULL AND {c} {op} {lit}))")
            ge = f"({after} OR ({eq} AND {ge}))"
        terms.append(f"(CASE WHEN {ge} THEN 1 ELSE 0 END)")
    return F.expr(" + ".join(terms))


def grouped_running_sum(df: DataFrame, value_col: str, group_cols: list[str],
                        order_by, out: str = "cum") -> DataFrame:
    """Exact ``sum(v) OVER (PARTITION BY g ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` that stays distributed even when single groups dwarf a
    partition; ``group_cols=[]`` is the global running sum, which never
    funnels through a single-partition window either.

    A plain keyed window puts each ENTIRE group in one task: fine for
    many small groups, fatal when one group holds billions of rows (the
    3-value l_returnflag case).  Instead: bucket on (group..., order...)
    via broadcast boundaries — groups occupy contiguous bucket runs, a
    huge group spans MANY buckets — then per-(bucket, group) local
    cumsums run in parallel, and the per-(bucket, group) totals frame
    (at most buckets + distinct-groups rows, because a bucket holds a
    contiguous group range) computes each group's exclusive prefix
    offsets with a window partitioned BY GROUP over bucket ids.
    Offsets come back via a keyed join (not broadcast: group
    cardinality may itself be huge — Spark upgrades to broadcast when
    stats allow).  Bucket ids are value-derived, so every plan branch
    sees the same assignment under any recomputation (module
    docstring); the persist is perf-only.

    ``order_by``: sort-key list (see the sort-key notes above), a total
    order within each group.
    """
    keys = _norm_keys([*group_cols, *order_by])
    okeys = _norm_keys(order_by)
    # persist the BASE frame: the boundary-sample collect materializes
    # it, so the upstream lineage (often the expensive part) runs once
    # and both consumer branches read the cache.  The bucket expression
    # is recomputed per branch — cheap, and recompute-stable by design.
    base = tracked_persist(df)
    bounds = _boundaries(base, keys, _shuffle_partitions(df))
    p = _fresh_name("_gr_", df, extra=(out,))
    bkt, lcum, tot, off = f"{p}bkt", f"{p}lcum", f"{p}tot", f"{p}off"
    bucketed = base.withColumn(bkt, _bucket_expr(base, keys, bounds))
    local = bucketed.withColumn(
        lcum,
        F.sum(value_col).over(
            Window.partitionBy(bkt, *group_cols).orderBy(*_sort_cols(okeys))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    totals = bucketed.groupBy(bkt, *group_cols).agg(
        F.sum(value_col).alias(tot))
    w_off = (Window.partitionBy(*group_cols).orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        bkt, *group_cols,
        F.coalesce(F.sum(tot).over(w_off), F.lit(0)).alias(off))
    return (
        local.join(offsets, [bkt, *group_cols])
        .withColumn(out, F.col(lcum) + F.col(off))
        .drop(bkt, lcum, off)
    )


def grouped_ntile(df: DataFrame, group_cols: list[str], order_by,
                  n_tiles: int, out: str = "tile",
                  bounds: list[tuple] | None = None) -> DataFrame:
    """Exact ``ntile(k) OVER (PARTITION BY g ORDER BY ...)`` that stays
    distributed even when single groups dwarf a partition — the ntile
    sibling of :func:`grouped_running_sum`; ``group_cols=[]`` is the
    global ``ntile(k) OVER (ORDER BY ...)``.

    A plain keyed window puts each ENTIRE group in one task — fatal when
    one group is terabytes (per-source quality deciles where a source is
    half the corpus).  Instead: bucket on (group..., order...) via
    broadcast value boundaries (groups occupy contiguous bucket runs),
    per-(bucket, group) row_number in parallel, and a small
    per-(bucket, group) counts frame computes each group's exclusive
    prefix offset AND group total with windows partitioned by group over
    bucket ids.  Group rank = local rank + offset; the standard ntile
    split (first N mod k tiles take ceil(N/k) rows) is then a pure
    expression of (rank, group total).  Offsets return via a keyed join
    (group cardinality may be huge; Spark upgrades to broadcast when
    stats allow).  Bucket ids are value-derived — identical under any
    recomputation — so the persist is perf-only (module docstring).

    ``order_by`` must total-order rows WITHIN each group (include a
    unique tiebreaker) or ties straddling a boundary make ranks
    nondeterministic.  ``bounds`` takes a :func:`shared_boundaries`
    element for the same ``group_cols + order_by`` keys; by default the
    operator samples its own.
    """
    keys = _norm_keys([*group_cols, *order_by])
    okeys = _norm_keys(order_by)
    base = tracked_persist(df)
    if bounds is None:
        bounds = _boundaries(base, keys, _shuffle_partitions(df))
    p = _fresh_name("_gn_", df, extra=(out,))
    bkt, lrn, off, nn, cnt = (f"{p}bkt", f"{p}lrn", f"{p}off", f"{p}n",
                              f"{p}cnt")
    bucketed = base.withColumn(bkt, _bucket_expr(base, keys, bounds))
    local = ranked(bucketed, [bkt, *group_cols], _sort_cols(okeys),
                   kind="row_number", out=lrn)
    counts = bucketed.groupBy(bkt, *group_cols).agg(
        F.count(F.lit(1)).alias(cnt))
    w_off = (Window.partitionBy(*group_cols).orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.partitionBy(*group_cols).orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    offsets = counts.select(
        bkt, *group_cols,
        F.coalesce(F.sum(cnt).over(w_off), F.lit(0)).alias(off),
        F.sum(cnt).over(w_all).alias(nn),
    )
    r = F.col(lrn) + F.col(off)
    k = F.lit(n_tiles).cast("long")
    q = F.floor(F.col(nn) / k)
    rem = F.col(nn) % k
    cut = rem * (q + 1)
    tile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / F.greatest(q, F.lit(1))) + 1)
    return (
        local.join(offsets, [bkt, *group_cols])
        .withColumn(out, tile.cast("int"))
        .drop(bkt, lrn, off, nn)
    )


def grouped_exact_quantiles(df: DataFrame, value_col: str,
                            group_cols: list[str], probs: list[float],
                            out_names: list[str] | None = None) -> DataFrame:
    """EXACT per-group interpolated quantiles (``percentile_cont(p)
    WITHIN GROUP`` / ``... OVER (PARTITION BY g)`` semantics, one row
    per group) WITHOUT the builtin ``percentile()`` aggregate;
    ``group_cols=[]`` gives the whole column's quantiles as one row.

    The builtin's buffer holds every distinct value OF THE GROUP in one
    task: fine for many small groups, a silent OOM when one group is
    terabytes (per-source percentiles where a source is half the
    corpus).  Here the group never lands in one task: bucket on
    (group..., value) via broadcast value boundaries (groups occupy
    contiguous bucket runs, a huge group spans MANY buckets), rank
    per-(bucket, group) in parallel, recover each row's in-group rank
    by adding the group's exclusive bucket-count prefix, then each
    requested quantile picks its two neighboring order statistics with
    conditional sums aggregated BY GROUP (partial-aggregable — the
    reduce sees #groups * #probs doubles).  Interpolation is
    ``v_lo + (v_hi - v_lo) * frac``, the same float-op order as DuckDB
    ``quantile_cont`` and Spark ``percentile()``, so all three agree to
    the ulp on equal inputs.  NULL values are excluded per
    percentile_cont; groups whose values are all NULL vanish (matching
    SQL GROUP BY over the null-filtered input).  Offsets return via a
    keyed join, not broadcast — group cardinality may itself be huge.
    """
    names = out_names or [f"q{str(p).replace('.', '_')}" for p in probs]
    keys = _norm_keys([*group_cols, value_col])
    okeys = _norm_keys([value_col])
    base = tracked_persist(
        df.select(*group_cols, value_col)
        .filter(F.col(value_col).isNotNull()))
    bounds = _boundaries(base, keys, _shuffle_partitions(df))
    tp = _fresh_name("_gq_", base, extra=tuple(names))
    bkt, rn, off, nn, cnt = (f"{tp}bkt", f"{tp}rn", f"{tp}off", f"{tp}n",
                             f"{tp}cnt")
    bucketed = base.withColumn(bkt, _bucket_expr(base, keys, bounds))
    local = ranked(bucketed, [bkt, *group_cols], _sort_cols(okeys),
                   kind="row_number", out=rn)
    counts = bucketed.groupBy(bkt, *group_cols).agg(
        F.count(F.lit(1)).alias(cnt))
    w_off = (Window.partitionBy(*group_cols).orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.partitionBy(*group_cols).orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    offsets = counts.select(
        bkt, *group_cols,
        F.coalesce(F.sum(cnt).over(w_off), F.lit(0)).alias(off),
        F.sum(cnt).over(w_all).alias(nn),
    )
    joined = local.join(offsets, [bkt, *group_cols])
    r = F.col(rn) + F.col(off)
    v = F.col(value_col).cast("double")
    aggs = [F.max(nn).alias(nn)]
    for i, p in enumerate(probs):
        pos = (F.col(nn) - 1) * F.lit(float(p))  # per-row: the group's n
        lo = F.floor(pos) + 1
        aggs.append(F.sum(F.when(r == lo, v).otherwise(0.0)).alias(f"{tp}lo{i}"))
        aggs.append(F.sum(F.when(r == lo + 1, v).otherwise(0.0)).alias(f"{tp}hi{i}"))
    one = joined.groupBy(*group_cols).agg(*aggs)
    outs = [F.col(c) for c in group_cols]
    for i, (p, name) in enumerate(zip(probs, names)):
        pos = (F.col(nn) - 1) * F.lit(float(p))
        frac = pos - F.floor(pos)
        # the last row of the group has no hi neighbor (frac == 0 there,
        # so the hi term contributes nothing; hi holds 0.0 from the sum)
        outs.append((F.col(f"{tp}lo{i}")
                     + (F.col(f"{tp}hi{i}") - F.col(f"{tp}lo{i}")) * frac)
                    .alias(name))
    return one.select(*outs)


def global_order_stats(df: DataFrame, order_by,
                       rank_col: str = "rnk", dense_col: str = "drnk",
                       pct_col: str = "pct_rank",
                       cume_col: str = "cume_dist") -> DataFrame:
    """Exact ``rank() / dense_rank() / percent_rank() / cume_dist()
    OVER (ORDER BY keys)`` for EVERY row — tie-correct — without a
    single-partition global window, completing the two-phase family.

    The tie insight makes this cheap: all four statistics are pure
    functions of (key's cumulative row count, key's row count, key's
    ordinal, total rows), so phase 0 collapses the input to DISTINCT
    keys + counts (one partial-aggregating shuffle, tiny under ties),
    the value-bucketed two-phase pass runs over the keyed frame
    computing BOTH cumulative row count and key ordinal in one local
    window, and per-key stats join back to the rows by key (null-safe:
    SQL window functions rank NULL keys too).  rank = cum - cnt + 1;
    dense_rank = key ordinal; percent_rank = (rank-1)/(n-1) (0.0 when
    n == 1 per SQL); cume_dist = cum / n.  The join back is the only
    full-width shuffle, an equi-join on the order keys.

    ``order_by``: sort-key list (module docstring).  Unlike the other
    two-phase operators no tiebreaker is needed — ties are the point.
    """
    keys = _norm_keys(order_by)
    names = [k[0] for k in keys]
    tp = _fresh_name("_os_", df,
                     extra=(rank_col, dense_col, pct_col, cume_col))
    bkt, cnt, lc, lk = f"{tp}bkt", f"{tp}cnt", f"{tp}lc", f"{tp}lk"
    tc, tk, oc, ok, nn = (f"{tp}tc", f"{tp}tk", f"{tp}oc", f"{tp}ok",
                          f"{tp}n")
    keyed = tracked_persist(
        df.groupBy(*names).agg(F.count(F.lit(1)).alias(cnt)))
    bounds = _boundaries(keyed, keys, _shuffle_partitions(df))
    bucketed = keyed.withColumn(bkt, _bucket_expr(keyed, keys, bounds))
    w_loc = (Window.partitionBy(bkt).orderBy(*_sort_cols(keys))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = (bucketed
             .withColumn(lc, F.sum(cnt).over(w_loc))
             .withColumn(lk, F.row_number().over(
                 Window.partitionBy(bkt).orderBy(*_sort_cols(keys)))))
    totals = bucketed.groupBy(bkt).agg(
        F.sum(cnt).alias(tc), F.count(F.lit(1)).alias(tk))
    w_off = (Window.orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.orderBy(bkt)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    offsets = totals.select(
        bkt,
        F.coalesce(F.sum(tc).over(w_off), F.lit(0)).alias(oc),
        F.coalesce(F.sum(tk).over(w_off), F.lit(0)).alias(ok),
        F.sum(tc).over(w_all).alias(nn))
    cum = F.col(lc) + F.col(oc)
    # stats keys renamed {tp}k0.., so the join back to df (whose lineage
    # stats shares) is never an ambiguous self-join reference
    stats = (
        local.join(F.broadcast(offsets), bkt)
        .select(
            *[F.col(n).alias(f"{tp}k{i}") for i, n in enumerate(names)],
            (cum - F.col(cnt) + 1).alias(rank_col),
            (F.col(lk) + F.col(ok)).alias(dense_col),
            F.when(F.col(nn) > 1,
                   (cum - F.col(cnt)).cast("double")
                   / (F.col(nn) - 1).cast("double"))
            .otherwise(F.lit(0.0)).alias(pct_col),
            (cum.cast("double") / F.col(nn).cast("double"))
            .alias(cume_col))
    )
    cond = None
    for i, n in enumerate(names):
        c = F.col(n).eqNullSafe(F.col(f"{tp}k{i}"))
        cond = c if cond is None else (cond & c)
    return (df.join(stats, cond)
            .drop(*[f"{tp}k{i}" for i in range(len(names))]))
