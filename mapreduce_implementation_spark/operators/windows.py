"""Window-function operators (SURVEY.md §2b Q9) — absent from the
reference; added per the extension surface.

Determinism discipline: every ``orderBy`` inside a window spec includes a
unique tiebreaker key, otherwise row_number/lag results are
partition-order-dependent and cannot hash-match any oracle.  At 100 TB a
window spec costs one shuffle on its partition keys; specs sharing keys
reuse the exchange.

Two-phase operators (:func:`grouped_running_sum`, :func:`grouped_ntile`,
:func:`grouped_exact_quantiles`, :func:`global_order_stats`) all run on
ONE prefix-offset core, :func:`_prefix` — the reference's Job B dataflow
(range-partition on sampled boundaries, work per bucket, stitch the
buckets back in order).  It gives every row its in-group row number and
group size and, when asked, the in-group running sum of a value and that
value's group total; each operator keeps only its own formula over those
four columns.  The core derives its range bucket id as a PURE FUNCTION
OF THE ROW VALUES — a broadcast list of boundary key tuples compared
against each row with an ordinary expression — never from
``spark_partition_id()`` over a ``repartitionByRange``.  RangePartitioner
boundaries come from a nondeterministic sampling job and partition ids
are an artifact of the one evaluation that produced them: under cache
eviction, task retry, AQE re-planning, or a second action over the same
lineage, a recompute re-samples and re-assigns ids, silently desyncing
the local prefix from its bucket offsets.  A value-derived bucket id is
identical under ANY recomputation, configuration, or cache state, so the
core's persist is a pure perf optimization (one materialization feeds
both plan branches), not a correctness requirement.

The ``grouped_*`` operators take their group columns as a list; an
empty list is the global form (``ORDER BY`` with no ``PARTITION BY``).
NULL group keys form one group, as in SQL's ``PARTITION BY``/``GROUP
BY``.  The bucket count is the session's ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .caching import tracked_persist
from .joins import _fresh_name

__all__ = ["top_k_per_group", "top_k_per_group_salted",
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


def shared_boundaries(df: DataFrame, key_sets: list) -> list[list[tuple]]:
    """B-1 boundary key tuples per key set — a deterministic function of
    the DATA — for SEVERAL two-phase window calls over the same frame
    from ONE sample pass (e.g. RFM's three ntiles over one per-user
    aggregate: one boundary-collect job instead of three scans of the
    base).  :func:`_prefix` samples through here with one key set when
    its caller passes no boundaries.

    Sampling tags rows by ``xxhash64`` over the union of all key
    columns (:func:`_sample_rows`), so every key set derives its
    boundaries from the same collected rows; per-set boundaries are
    then the usual sort-order quantile picks (:func:`_derive_bounds`).
    Still a pure function of row values (deterministic under
    recomputation/retry/AQE); boundary placement — including sharing
    one sample across key sets — changes only bucket BALANCE, never
    results: the two-phase math is exact for any boundary set.  Pass
    each returned element as the matching :func:`grouped_ntile` call's
    ``bounds=``.
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


def _prefix(base: DataFrame, group_cols: list[str], order_by,
            bounds: list[tuple] | None, p: str,
            value: str | None = None) -> DataFrame:
    """The prefix-offset core of the two-phase family: ``base`` plus, per
    row, ``{p}rn`` (its ``row_number()`` within its group in
    ``order_by`` order) and ``{p}n`` (the group's row count) and, given
    ``value``, ``{p}cum`` (the in-group running sum of ``value``, rows
    frame) and ``{p}sum`` (its group total).  ``p`` is the caller's
    :func:`_fresh_name` prefix.

    A plain keyed window puts each ENTIRE group in one task — fatal when
    one group is terabytes.  Instead: bucket on (group..., order...)
    keys via broadcast value boundaries (``bounds``, or one
    :func:`shared_boundaries` sample when None), so groups occupy
    contiguous bucket runs and a huge group spans MANY buckets; the
    local row_number/running sum run per (bucket, group) in parallel;
    the per-(bucket, group) totals frame (at most buckets +
    distinct-groups rows) yields each group's exclusive prefix offsets
    and totals with windows partitioned BY GROUP over bucket ids; and
    the offsets join back on (bucket, group) NULL-SAFELY, so a NULL
    group key is a group like any other.  With group columns the join
    is keyed, not broadcast (group cardinality may itself be huge —
    Spark upgrades to broadcast when stats allow); without, the
    offsets frame is at most one row per bucket and is broadcast.

    ``base`` is persisted: the boundary-sample collect materializes it,
    so its upstream lineage runs once and both branches read the cache;
    the bucket expression is recomputed per branch — cheap, and
    recompute-stable by design (module docstring).
    """
    base = tracked_persist(base)
    keys = [*group_cols, *order_by]
    if bounds is None:
        [bounds] = shared_boundaries(base, [keys])
    bkt, obkt, rn, cum = f"{p}bkt", f"{p}obkt", f"{p}rn", f"{p}cum"
    gk = [f"{p}g{i}" for i in range(len(group_cols))]
    bucketed = base.withColumn(bkt, _bucket_expr(base, _norm_keys(keys),
                                                 bounds))
    w_loc = (Window.partitionBy(bkt, *group_cols)
             .orderBy(*_sort_cols(_norm_keys(order_by))))
    local = bucketed.withColumn(rn, F.row_number().over(w_loc))
    # (per-bucket aggregate, its name, in-group column, group-total name)
    parts = [(F.count(F.lit(1)), f"{p}cnt", rn, f"{p}n")]
    if value is not None:
        local = local.withColumn(cum, F.sum(value).over(
            w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        parts.append((F.sum(value), f"{p}tot", cum, f"{p}sum"))
    w = Window.partitionBy(*group_cols).orderBy(bkt)
    w_off = w.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = (
        bucketed.groupBy(bkt, *group_cols)
        .agg(*[agg.alias(a) for agg, a, _, _ in parts])
        .select(F.col(bkt).alias(obkt),
                *[F.col(g).alias(k) for g, k in zip(group_cols, gk)],
                *[F.sum(a).over(w_off).alias(f"{a}off")
                  for _, a, _, _ in parts],
                *[F.sum(a).over(w_all).alias(t) for _, a, _, t in parts]))
    cond = F.col(bkt) == F.col(obkt)
    for g, k in zip(group_cols, gk):
        cond = cond & F.col(g).eqNullSafe(F.col(k))
    out = local.join(offsets if group_cols else F.broadcast(offsets), cond)
    # SQL sum semantics: NULL only when the local prefix AND every
    # earlier bucket of the group hold no value (NULL offset = nothing
    # precedes, or only NULLs do)
    for _, a, c, _ in parts:
        local_c, off = F.col(c), F.col(f"{a}off")
        out = out.withColumn(c, F.coalesce(local_c + off, local_c, off))
    return out.drop(bkt, obkt, *gk, *[f"{a}off" for _, a, _, _ in parts])


def grouped_running_sum(df: DataFrame, value_col: str, group_cols: list[str],
                        order_by, out: str = "cum") -> DataFrame:
    """Exact ``sum(v) OVER (PARTITION BY g ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` that stays distributed even when single groups dwarf a
    partition (the 3-value l_returnflag case); ``group_cols=[]`` is the
    global running sum, which never funnels through a single-partition
    window either.  The running sum is :func:`_prefix`'s ``cum`` column.

    ``order_by``: sort-key list (see the sort-key notes above), a total
    order within each group.
    """
    p = _fresh_name("_gr_", df, extra=(out,))
    return (_prefix(df, group_cols, order_by, None, p, value=value_col)
            .withColumn(out, F.col(f"{p}cum"))
            .drop(f"{p}rn", f"{p}n", f"{p}cum", f"{p}sum"))


def grouped_ntile(df: DataFrame, group_cols: list[str], order_by,
                  n_tiles: int, out: str = "tile",
                  bounds: list[tuple] | None = None) -> DataFrame:
    """Exact ``ntile(k) OVER (PARTITION BY g ORDER BY ...)`` that stays
    distributed even when single groups dwarf a partition (per-source
    quality deciles where a source is half the corpus);
    ``group_cols=[]`` is the global ``ntile(k) OVER (ORDER BY ...)``.
    The standard ntile split (the first N mod k tiles take ceil(N/k)
    rows) is a pure expression of :func:`_prefix`'s (in-group rank,
    group size).

    ``order_by`` must total-order rows WITHIN each group (include a
    unique tiebreaker) or ties straddling a boundary make ranks
    nondeterministic.  ``bounds`` takes a :func:`shared_boundaries`
    element for the same ``group_cols + order_by`` keys; by default the
    operator samples its own.
    """
    p = _fresh_name("_gn_", df, extra=(out,))
    r, nn = F.col(f"{p}rn"), F.col(f"{p}n")
    k = F.lit(n_tiles).cast("long")
    q = F.floor(nn / k)
    rem = nn % k
    cut = rem * (q + 1)
    tile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / F.greatest(q, F.lit(1))) + 1)
    return (_prefix(df, group_cols, order_by, bounds, p)
            .withColumn(out, tile.cast("int"))
            .drop(f"{p}rn", f"{p}n"))


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
    corpus).  Here the group never lands in one task: :func:`_prefix`
    ranks each row within its group by value, then each requested
    quantile picks its two neighboring order statistics with
    conditional sums aggregated BY GROUP (partial-aggregable — the
    reduce sees #groups * #probs doubles).  Interpolation is
    ``v_lo + (v_hi - v_lo) * frac``, the same float-op order as DuckDB
    ``quantile_cont`` and Spark ``percentile()``, so all three agree to
    the ulp on equal inputs.  NULL values are excluded per
    percentile_cont; groups whose values are all NULL vanish (matching
    SQL GROUP BY over the null-filtered input).
    """
    names = out_names or [f"q{str(p).replace('.', '_')}" for p in probs]
    base = (df.select(*group_cols, value_col)
            .filter(F.col(value_col).isNotNull()))
    tp = _fresh_name("_gq_", base, extra=tuple(names))
    r, nn = F.col(f"{tp}rn"), f"{tp}n"
    v = F.col(value_col).cast("double")
    aggs = [F.max(nn).alias(nn)]
    for i, p in enumerate(probs):
        pos = (F.col(nn) - 1) * F.lit(float(p))  # per-row: the group's n
        lo = F.floor(pos) + 1
        aggs.append(F.sum(F.when(r == lo, v).otherwise(0.0)).alias(f"{tp}lo{i}"))
        aggs.append(F.sum(F.when(r == lo + 1, v).otherwise(0.0)).alias(f"{tp}hi{i}"))
    one = (_prefix(base, group_cols, [value_col], None, tp)
           .groupBy(*group_cols).agg(*aggs))
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
    and :func:`_prefix` runs over that keyed frame with no group
    columns: its row number is the key ordinal, its running sum and
    total of the per-key counts are the cumulative and total row
    counts.  Per-key stats join back to the rows by key (null-safe:
    SQL window functions rank NULL keys too).  rank = cum - cnt + 1;
    dense_rank = key ordinal; percent_rank = (rank-1)/(n-1) (0.0 when
    n == 1 per SQL); cume_dist = cum / n.  The join back is the only
    full-width shuffle, an equi-join on the order keys.

    ``order_by``: sort-key list (module docstring).  Unlike the other
    two-phase operators no tiebreaker is needed — ties are the point.
    """
    names = [k[0] for k in _norm_keys(order_by)]
    tp = _fresh_name("_os_", df,
                     extra=(rank_col, dense_col, pct_col, cume_col))
    rows, cum, nn = F.col(f"{tp}rows"), F.col(f"{tp}cum"), F.col(f"{tp}sum")
    keyed = df.groupBy(*names).agg(F.count(F.lit(1)).alias(f"{tp}rows"))
    # stats keys renamed {tp}k0.., so the join back to df (whose lineage
    # stats shares) is never an ambiguous self-join reference
    stats = _prefix(keyed, [], order_by, None, tp, value=f"{tp}rows").select(
        *[F.col(n).alias(f"{tp}k{i}") for i, n in enumerate(names)],
        (cum - rows + 1).alias(rank_col),
        F.col(f"{tp}rn").alias(dense_col),
        F.when(nn > 1, (cum - rows).cast("double") / (nn - 1).cast("double"))
        .otherwise(F.lit(0.0)).alias(pct_col),
        (cum.cast("double") / nn.cast("double")).alias(cume_col))
    cond = None
    for i, n in enumerate(names):
        c = F.col(n).eqNullSafe(F.col(f"{tp}k{i}"))
        cond = c if cond is None else (cond & c)
    return (df.join(stats, cond)
            .drop(*[f"{tp}k{i}" for i in range(len(names))]))
