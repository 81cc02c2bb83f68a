"""Property tests (Hypothesis) — SURVEY.md §5 item 3.

The tokenizer property runs the engine's column expressions against a
pure-Python port of the reference mapper loop (mapreduce.c:115-132); the
sort properties assert permutation-invariance and duplicate preservation
of the range-partitioned sort.
"""

from __future__ import annotations

import math
import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.sort import distributed_sort
from mapreduce_implementation_spark.operators.text import tokenize


def reference_tokenize(line: str) -> list[str]:
    """Pure-Python port of do_map's token loop (mapreduce.c:115-132):
    split on single spaces, keep [A-Za-z] lowercased, drop empties."""
    out = []
    for raw in line.split(" "):
        tok = "".join(c.lower() for c in raw if c.isascii() and c.isalpha())
        if tok:
            out.append(tok)
    return out


# printable ASCII minus newline (the reference reads line-at-a-time)
_ascii_line = st.text(
    alphabet=string.ascii_letters + string.digits + string.punctuation + " \t",
    min_size=0, max_size=120,
)


@settings(max_examples=30, deadline=None)
@given(st.lists(_ascii_line, min_size=1, max_size=8))
def test_tokenizer_matches_reference_python(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = [r["word"] for r in tokenize(df).collect()]
    want = [w for l in lines for w in reference_tokenize(l)]
    assert sorted(got) == sorted(want)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**30 - 1),
                min_size=1, max_size=500))
def test_sort_is_permutation_preserving_duplicates(spark, ints):
    df = spark.createDataFrame([(n,) for n in ints], ["n"])
    got = [r["n"] for r in distributed_sort(df, "n", num_partitions=4).collect()]
    assert got == sorted(ints)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                min_size=1, max_size=300))
def test_sort_handles_negative_and_wide_range(spark, ints):
    """Beyond the reference's [0, 2^30) assumption — sampling-based range
    partitioning has no distribution requirement."""
    df = spark.createDataFrame([(n,) for n in ints], ["n"])
    got = [r["n"] for r in distributed_sort(df, "n", num_partitions=3).collect()]
    assert got == sorted(ints)


def test_tokenizer_reference_edge_cases(spark):
    """The exact cases documented in FIXTURES.md."""
    cases = ["Don't", "well-known", "1865", "end.Start", "", "  ", "a  b"]
    df = spark.createDataFrame([(c,) for c in cases], ["value"])
    got = sorted(r["word"] for r in tokenize(df).collect())
    assert got == sorted(["dont", "wellknown", "endstart", "a", "b"])


# --- global prefix sum vs the single-partition window model, with
# --- descending keys and NULLs (exercises the value-derived boundary
# --- comparison's direction/null-order logic on arbitrary frames) ---

_grow_null = st.tuples(
    st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),  # key (nullable)
    st.integers(min_value=0, max_value=10**6),                       # tiebreak
    st.integers(min_value=-5, max_value=9))                          # value


@settings(max_examples=12, deadline=None)
@given(st.lists(_grow_null, min_size=1, max_size=50,
                unique_by=lambda t: t[1]),
       st.booleans())
def test_global_running_sum_matches_window_model_desc_nulls(spark, rows, asc):
    """global_running_sum == sum() OVER (ORDER BY k ASC NULLS FIRST / k
    DESC NULLS LAST, tb) on frames with NULL keys, in BOTH directions,
    across a bucket count that forces many range buckets — pinning the
    boundary searchsorted expression's direction and null-placement
    semantics (null boundary tuples included)."""
    from pyspark.sql.window import Window

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        global_running_sum,
    )

    df = spark.createDataFrame(rows, "k long, tb long, v long")
    key = ("k", "asc") if asc else ("k", "desc")
    got = global_running_sum(df, "v", [key, "tb"], out="cum", partitions=7)
    order = ([F.col("k").asc_nulls_first(), F.col("tb").asc()] if asc
             else [F.col("k").desc_nulls_last(), F.col("tb").asc()])
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    want = df.withColumn("cum", F.sum("v").over(w))
    try:
        assert {(r["k"], r["tb"], r["cum"]) for r in got.collect()} \
            == {(r["k"], r["tb"], r["cum"]) for r in want.collect()}
    finally:
        release_persisted()


# --- registry/doc drift guard (VERDICT r04 item 7) ---

def test_registry_counts_match_coverage_doc():
    """COVERAGE.md's canonical counts line must equal the live registry —
    doc and code can no longer drift (the r4 181/174 counting slip)."""
    import pathlib
    import re

    from mapreduce_implementation_spark.registry import all_specs

    specs = all_specs()
    live = (len(specs),
            sum(1 for s in specs.values() if s.oracle),
            sum(1 for s in specs.values() if not s.oracle))
    txt = (pathlib.Path(__file__).resolve().parent.parent
           / "COVERAGE.md").read_text()
    m = re.search(r"Registry counts[^:]*: (\d+) registered, (\d+) oracled, "
                  r"(\d+) rows-only", txt)
    assert m, "COVERAGE.md must carry the canonical 'Registry counts' line"
    assert (int(m[1]), int(m[2]), int(m[3])) == live, (m.groups(), live)


# --- oracle output-type lint (VERDICT r05 item 1) ---

def test_oracle_output_types_no_wide_integers():
    """DuckDB ``DESCRIBE`` over every registered oracle: no output column
    may be HUGEINT/UHUGEINT.  The driver fetches oracle results on the
    pandas path, where HUGEINT lands as float64 — so an integer-equal
    result canonicalizes as "0.0" vs Spark's "0" and the value hash
    diverges with rows/schema green.  That exact mechanism kept
    pipeline_sequence_packing red for three rounds (the windowed
    sum(BIGINT) widens to HUGEINT and ``//`` keeps it wide).  DECIMAL is
    allowed only where the Spark side is DECIMAL by design
    (agg_decimal_exact).  No Spark session needed: DESCRIBE plans without
    executing."""
    from mapreduce_implementation_spark.registry import all_specs
    from tests._oracle import duck_connect
    from tests.conftest import SF_DIR_001

    con = duck_connect(SF_DIR_001)
    decimal_ok = {"agg_decimal_exact"}
    offenders = []
    for name, spec in all_specs().items():
        if not spec.oracle:
            continue
        for row in con.execute(f"DESCRIBE {spec.oracle}").fetchall():
            col, dtype = row[0], row[1]
            t = dtype.upper()
            if "HUGEINT" in t:
                offenders.append((name, col, dtype))
            if "DECIMAL" in t and name not in decimal_ok:
                offenders.append((name, col, dtype))
    assert not offenders, (
        "wide-typed oracle output columns (cast to BIGINT/DOUBLE in the "
        f"SQL): {offenders}"
    )


# --- CDC merge model test: random change batches vs a dict reference ---

_keys = st.integers(min_value=0, max_value=9)
_change = st.tuples(_keys,
                    st.sampled_from(["U", "I", "D"]),
                    st.floats(min_value=-100, max_value=100,
                              allow_nan=False, width=32))


@settings(max_examples=20, deadline=None)
@given(st.lists(_change, min_size=0, max_size=25))
def test_merge_upsert_matches_dict_model(spark, changes):
    """merge_upsert == the obvious sequential dict semantics: replay the
    change log in seq order against {key: value}; 'D' deletes, 'U'/'I'
    set.  The operator's latest-per-key window + anti join + union must
    land on the same final table for ANY change sequence, including
    repeated keys, delete-then-insert, and updates to absent keys
    (upsert semantics: a 'U' on a missing key creates it, exactly like
    MERGE WHEN NOT MATCHED)."""
    from mapreduce_implementation_spark.operators.relational import (
        merge_upsert,
    )

    base = {k: float(k * 10) for k in range(0, 10, 2)}  # keys 0,2,4,6,8
    model = dict(base)
    for k, op, v in changes:
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = round(float(v), 2)

    snap = spark.createDataFrame(
        [(k, v) for k, v in base.items()], "k long, v double")
    if changes:
        ch = spark.createDataFrame(
            [(k, op, round(float(v), 2), seq)
             for seq, (k, op, v) in enumerate(changes)],
            "k long, op string, v double, seq int",
        ).select("k", "v", "op", "seq")
        got_rows = merge_upsert(snap, ch, ["k"],
                                op_col="op", seq_col="seq").collect()
    else:
        got_rows = snap.collect()
    got = {r["k"]: r["v"] for r in got_rows}
    assert len(got_rows) == len(got), "duplicate keys in merged output"
    assert got == model


# --- grouped prefix sum vs the keyed-window reference, random frames ---

_grow = st.tuples(st.integers(min_value=0, max_value=3),   # group
                  st.integers(min_value=0, max_value=50),  # order key
                  st.integers(min_value=-5, max_value=9))  # value


@settings(max_examples=15, deadline=None)
@given(st.lists(_grow, min_size=1, max_size=60, unique_by=lambda t: (t[0], t[1])))
def test_grouped_running_sum_matches_window_model(spark, rows):
    """grouped_running_sum == sum() OVER (PARTITION BY g ORDER BY k) on
    arbitrary group/key/value frames (duplicate keys excluded — the
    operator's contract requires a total order), across partition
    counts that force groups to straddle range partitions."""
    from pyspark.sql.window import Window

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        grouped_running_sum,
    )

    df = spark.createDataFrame(rows, "g long, k long, v long")
    got = grouped_running_sum(df, "v", ["g"], ["k"],
                              out="cum", partitions=5)
    w = Window.partitionBy("g").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    want = df.withColumn("cum", F.sum("v").over(w))
    try:
        assert {(r["g"], r["k"], r["cum"]) for r in got.collect()} \
            == {(r["g"], r["k"], r["cum"]) for r in want.collect()}
    finally:
        release_persisted()


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),      # group
                          st.integers(min_value=-20, max_value=20),   # key
                          st.integers(min_value=0, max_value=10**6)), # tiebreak
                min_size=1, max_size=60, unique_by=lambda t: t[2]),
       st.sampled_from([2, 3, 7]))
def test_grouped_ntile_matches_keyed_window_model(spark, rows, k):
    """grouped_ntile == ntile(k) OVER (PARTITION BY g ORDER BY key, tb)
    on arbitrary group sizes (including groups smaller than k) across a
    bucket count that forces groups to span many range buckets."""
    from pyspark.sql.window import Window

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import grouped_ntile

    df = spark.createDataFrame(rows, "g long, key long, tb long")
    got = grouped_ntile(df, ["g"], ["key", "tb"], n_tiles=k, out="tile",
                        partitions=7)
    w = Window.partitionBy("g").orderBy(F.col("key").asc(), F.col("tb").asc())
    want = df.withColumn("tile", F.ntile(k).over(w))
    try:
        assert {(r["g"], r["tb"], r["tile"]) for r in got.collect()} \
            == {(r["g"], r["tb"], r["tile"]) for r in want.collect()}
    finally:
        release_persisted()


def test_global_ntile_decimal_sort_key(spark):
    """Decimal sort keys are in _bucket_expr's supported-dtype whitelist,
    so they must actually plan and run (ADVICE r5: _sql_lit raised
    TypeError on decimal.Decimal boundaries before the whitelist check
    fired).  Boundary literals are cast to the column's own
    DECIMAL(p,s), so the comparison stays exact."""
    from decimal import Decimal

    from pyspark.sql.window import Window

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import global_ntile

    rows = [(i, Decimal(f"{(i * 37) % 500}.{i % 100:02d}")) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, amt decimal(10,2)")
    got = global_ntile(df, ["amt", "id"], n_tiles=4, out="tile", partitions=7)
    w = Window.orderBy(F.col("amt").asc_nulls_first(), F.col("id").asc())
    want = df.withColumn("tile", F.ntile(4).over(w))
    try:
        assert {(r["id"], r["tile"]) for r in got.collect()} \
            == {(r["id"], r["tile"]) for r in want.collect()}
    finally:
        release_persisted()


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=-1000, max_value=1000,
                          allow_nan=False, width=32),
                min_size=1, max_size=80),
       st.sampled_from([0.0, 0.1, 0.5, 0.9, 1.0]))
def test_exact_quantiles_matches_percentile_builtin(spark, vals, p):
    """exact_quantiles (two-phase distributed order statistics) ==
    the builtin percentile() aggregate (percentile_cont semantics) on
    arbitrary float data including duplicates and the p=0/p=1 edges."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    try:
        got = exact_quantiles(df, "v", [p], out_names=["q"],
                              partitions=5).collect()[0]["q"]
        want = df.agg(F.expr(f"percentile(v, {p})").alias("q")
                      ).collect()[0]["q"]
        assert got is not None and abs(got - want) < 1e-9, (got, want)
    finally:
        release_persisted()


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),
                          st.floats(min_value=-1000, max_value=1000,
                                    allow_nan=False, width=32)),
                min_size=1, max_size=60),
       st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]))
def test_grouped_exact_quantiles_matches_builtin(spark, rows, p):
    """grouped_exact_quantiles == percentile(v, p) GROUP BY g (both
    percentile_cont interpolation) on arbitrary grouped float data —
    including single-row groups and the p=0/p=1 edges."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        grouped_exact_quantiles,
    )

    df = spark.createDataFrame([(f"g{g}", float(v)) for g, v in rows],
                               "g string, v double")
    try:
        got = {r["g"]: r["q"] for r in grouped_exact_quantiles(
            df, "v", ["g"], [p], out_names=["q"], partitions=5).collect()}
        want = {r["g"]: r["q"] for r in df.groupBy("g").agg(
            F.expr(f"percentile(v, {p})").alias("q")).collect()}
        assert set(got) == set(want)
        for g in want:
            assert abs(got[g] - want[g]) < 1e-9, (g, got[g], want[g])
    finally:
        release_persisted()


# --- interval-overlap join vs the brute-force model -------------------------

_iv = st.tuples(st.integers(min_value=0, max_value=500),   # start offset (s)
                st.integers(min_value=0, max_value=400))   # length (s)


@settings(max_examples=8, deadline=None)
@given(st.lists(_iv, min_size=1, max_size=14),
       st.lists(_iv, min_size=1, max_size=14),
       st.sampled_from([60, 128, 300]))
def test_interval_overlap_join_matches_bruteforce(spark, lraw, rraw, bucket):
    """interval_overlap_join == the naive all-pairs overlap check, for
    arbitrary interval sets (touching endpoints, containment, duplicates,
    zero-length) and bucket sizes smaller AND larger than the spans —
    pinning the explode/residual/first-common-bucket dedup exactly."""
    import datetime as dt

    from mapreduce_implementation_spark.operators.joins import (
        interval_overlap_join,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda off: base + dt.timedelta(seconds=off)  # noqa: E731
    lrows = [(i, mk(s), mk(s + ln)) for i, (s, ln) in enumerate(lraw)]
    rrows = [(j, mk(s), mk(s + ln)) for j, (s, ln) in enumerate(rraw)]
    l = spark.createDataFrame(lrows, "lid long, ls timestamp, le timestamp")
    r = spark.createDataFrame(rrows, "rid long, rs timestamp, re timestamp")
    got = {(row["lid"], row["rid"])
           for row in interval_overlap_join(l, r, "ls", "le", "rs", "re",
                                            bucket_seconds=bucket)
           .select("lid", "rid").collect()}
    want = {(i, j)
            for i, (s1, n1) in enumerate(lraw) for j, (s2, n2) in enumerate(rraw)
            if s1 <= s2 + n2 and s2 <= s1 + n1}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=2),      # key
                          st.integers(min_value=0, max_value=40_000)),  # ms
                min_size=1, max_size=16),
       st.lists(st.tuples(st.integers(min_value=0, max_value=2),
                          st.integers(min_value=0, max_value=40_000)),
                min_size=1, max_size=16),
       st.sampled_from([5, 7, 60]))
def test_range_join_bucketed_matches_bruteforce(spark, lraw, rraw, win):
    """range_join_bucketed == the naive all-pairs (same key,
    l.ts < r.ts <= l.ts + window) check, on MILLISECOND-granular
    timestamps (r11 gap: the operator had no differential test, and
    its 2-bucket coverage argument is subtle under sub-second
    components — unix_timestamp() TRUNCATES to seconds, so coverage
    holds only because window_seconds is integral:
    trunc(r) <= trunc(l) + window exactly when r <= l + window).
    Exercises boundary-exact pairs (r.ts == l.ts + window must MATCH,
    r.ts == l.ts must not — strict lower bound), duplicate
    timestamps, and windows smaller and larger than the spread."""
    import datetime as dt

    from mapreduce_implementation_spark.operators.joins import (
        range_join_bucketed,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda ms: base + dt.timedelta(milliseconds=ms)  # noqa: E731
    lrows = [(i, k, mk(ms)) for i, (k, ms) in enumerate(lraw)]
    rrows = [(j, k, mk(ms)) for j, (k, ms) in enumerate(rraw)]
    l = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    r = spark.createDataFrame(rrows, "rid long, k long, rts timestamp")
    got = {(row["lid"], row["rid"])
           for row in range_join_bucketed(
               l, r, key="k", left_ts="ts", right_ts="rts",
               window_seconds=win)
           .select(F.col("l.lid").alias("lid"), F.col("r.rid").alias("rid"))
           .collect()}
    want = {(i, j)
            for i, (k1, m1) in enumerate(lraw)
            for j, (k2, m2) in enumerate(rraw)
            if k1 == k2 and m1 < m2 <= m1 + win * 1000}
    assert got == want


# --- weighted SSSP vs a pure-Python Bellman-Ford model ----------------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=7),   # src
                          st.integers(min_value=0, max_value=7),   # dst
                          st.integers(min_value=1, max_value=9)),  # w
                min_size=1, max_size=20),
       st.integers(min_value=1, max_value=5))
def test_sssp_weighted_matches_python_bellman_ford(spark, eraw, rounds):
    """sssp_weighted == a sequential Bellman-Ford run for the SAME round
    count, on arbitrary small digraphs (self-loops, parallel edges,
    unreachable nodes) — including the not-yet-converged intermediate
    states, which is exactly what the unrolled oracle compares."""
    from mapreduce_implementation_spark.operators.graph import sssp_weighted

    nodes = list(range(8))
    edges = spark.createDataFrame(eraw, "src long, dst long, w long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "v long")
    got = {r["v"]: r["dist"]
           for r in sssp_weighted(edges, ndf, source=0, rounds=rounds,
                                  max_edge_w=9).collect()}
    dist = {v: (0 if v == 0 else None) for v in nodes}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, w in eraw:
            if dist[s] is not None:
                cand = dist[s] + w
                if nxt[d] is None or cand < nxt[d]:
                    nxt[d] = cand
        dist = nxt
    assert got == dist


# --- k-core peeling vs a pure-Python model ----------------------------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=7),
                          st.integers(min_value=0, max_value=7)),
                min_size=1, max_size=20),
       st.integers(min_value=2, max_value=4),
       st.integers(min_value=1, max_value=4))
def test_kcore_matches_python_peeling(spark, eraw, k, rounds):
    """kcore == sequential synchronous peeling for the SAME round count,
    on arbitrary small graphs (self-loops dropped, parallel edges
    deduped) — including not-yet-converged intermediate states, exactly
    what the unrolled oracle compares."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import kcore

    edges = spark.createDataFrame(eraw, "a long, b long")
    try:
        got = {(r["node"], r["core_deg"])
               for r in kcore(edges, "a", "b", k=k, rounds=rounds,
                              dense_path=True).collect()}
        got_decl = {(r["node"], r["core_deg"])
                    for r in kcore(edges, "a", "b", k=k, rounds=rounds,
                                   dense_path=False).collect()}
    finally:
        release_persisted()
    assert got == got_decl

    e = {(min(a, b), max(a, b)) for a, b in eraw if a != b}
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for u, v in e:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, d in deg.items() if d >= k}
        e = {(u, v) for u, v in e if u in keep and v in keep}
    deg = {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert got == set(deg.items())


# --- as-of tolerance semantics on a hand-built frame ------------------------

def test_asof_join_tolerance_and_left_semantics(spark):
    """tolerance: a match staler than the budget is NO match (NULL, not
    the stale value); how='left' keeps every left row including users
    with no orders at all; an in-budget match still picks the LATEST
    at-or-before."""
    from mapreduce_implementation_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "2024-03-10 00:00:00"),   # match at 03-08 (2d old): keep
         (2, 10, "2024-06-01 00:00:00"),   # latest is 03-08 (85d old): NULL
         (3, 20, "2024-03-10 00:00:00"),   # user 20 has no orders: NULL row kept
         ], "id long, user long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(10, "2024-03-01 00:00:00"), (10, "2024-03-08 00:00:00")],
        "user long, ots string",
    ).withColumn("ots", F.to_timestamp("ots"))
    out = asof_join(left, right, left_on="ts", right_on="ots",
                    left_by="user", right_by="user",
                    right_values=["ots"], tolerance="30D", how="left")
    got = {r["id"]: (str(r["ots"]) if r["ots"] is not None else None)
           for r in out.collect()}
    assert got == {1: "2024-03-08 00:00:00", 2: None, 3: None}


def test_asof_join_mixed_dtype_by_keys(spark):
    """int vs bigint by-keys must work end-to-end (r8 ADVICE: the hash
    bucketing co-located them but pd.merge_asof rejects mismatched
    by-key dtypes) — the common-dtype promotion inside the cogroup
    makes the documented claim true."""
    from mapreduce_implementation_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 50), (3, 20, 100)],
        "id long, user int, ts long")
    right = spark.createDataFrame(
        [(10, 90), (10, 40), (20, 200)], "user long, ots long")
    out = asof_join(left, right, left_on="ts", right_on="ots",
                    left_by="user", right_by="user",
                    right_values=["ots"], how="left")
    got = {r["id"]: r["ots"] for r in out.collect()}
    assert got == {1: 90, 2: 40, 3: None}


def test_asof_join_dtype_normalization_edges(spark):
    """The r9-review failure modes of by-key dtype handling:
    (a) string-vs-bigint by-keys actually match via the documented
    string fallback (np.promote_types(object, int64) never raises, so
    the first draft's except-TypeError fallback was unreachable and
    such joins silently emptied); (b) integral by-keys stay EXACT
    above 2^53 even when a NULL by-key row would share the SAME pandas
    batch (num_buckets=1 forces co-batching — Arrow float64s a
    null-carrying integral column, so exactness requires the null rows
    to be routed AROUND the cogroup, not cast after the fact);
    (c) caller columns literally named '_by'/'_bkt'/'_matched' survive
    untouched; (d) date-vs-timestamp by-keys match per SQL's
    date->timestamp-midnight cast; (e) a decimal by-key mixed with a
    non-decimal type refuses loudly instead of aliasing through
    float64; (f) int-vs-double by-keys match per SQL's double cast
    (requires the bucket hash and the merge to share the normalized
    key); (g) decimal-vs-decimal with different precision/scale
    matches exactly via the widened common decimal; (h) values whose
    canonical forms differ (bool true vs string 'True') mismatch
    DETERMINISTICALLY at every bucket count — the third review round's
    bucket-vs-batch repr-disagreement class."""
    import pytest as _pytest

    from mapreduce_implementation_spark.operators.joins import asof_join

    # (a) string left key vs bigint right key
    left = spark.createDataFrame(
        [(1, "10", 100)], "id long, user string, ts long")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    got = {r["id"]: r["ots"]
           for r in asof_join(left, right, left_on="ts", right_on="ots",
                              left_by="user", right_by="user",
                              right_values=["ots"]).collect()}
    assert got == {1: 90}

    # (b) 2^53 + 1 must not alias onto 2^53 even when the NULL row
    # would land in the same (only) batch
    big, nxt = 2**53, 2**53 + 1
    left = spark.createDataFrame(
        [(1, big, 100), (2, nxt, 100), (3, None, 100)],
        "id long, user long, ts long")
    right = spark.createDataFrame(
        [(big, 90), (nxt, 77)], "user long, ots long")
    out = asof_join(left, right, left_on="ts", right_on="ots",
                    left_by="user", right_by="user",
                    right_values=["ots"], how="left", num_buckets=1)
    got = {r["id"]: r["ots"] for r in out.collect()}
    assert got == {1: 90, 2: 77, 3: None}

    # (c) payload columns named like the temp columns are not clobbered
    left = spark.createDataFrame(
        [(1, 10, "keepme", 7, 100)],
        "id long, user int, _by string, _bkt long, ts long")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    row = asof_join(left, right, left_on="ts", right_on="ots",
                    left_by="user", right_by="user",
                    right_values=["ots"]).collect()[0]
    assert (row["_by"], row["_bkt"], row["ots"]) == ("keepme", 7, 90)

    # (d) date by-key vs timestamp by-key: midnight timestamps match
    left = spark.createDataFrame(
        [(1, "2024-03-10", 100)], "id long, d string, ts long"
    ).select("id", F.to_date("d").alias("user"), "ts")
    right = spark.createDataFrame(
        [("2024-03-10 00:00:00", 90)], "u string, ots long"
    ).select(F.to_timestamp("u").alias("user"), "ots")
    got = {r["id"]: r["ots"]
           for r in asof_join(left, right, left_on="ts", right_on="ots",
                              left_by="user", right_by="user",
                              right_values=["ots"]).collect()}
    assert got == {1: 90}

    # (e) decimal-vs-bigint by-keys raise instead of silently aliasing
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long"
    ).select("id", F.col("user").cast("decimal(20,0)").alias("user"), "ts")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    with _pytest.raises(ValueError, match="DecimalType"):
        asof_join(left, right, left_on="ts", right_on="ots",
                  left_by="user", right_by="user", right_values=["ots"])

    # (f) int-vs-double by-keys match per SQL's double cast — requires
    # the bucket hash to normalize types BEFORE stringifying (raw forms
    # '10' vs '10.0' would land in different buckets)
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long")
    right = spark.createDataFrame([(10.0, 90)], "user double, ots long")
    got = {r["id"]: r["ots"]
           for r in asof_join(left, right, left_on="ts", right_on="ots",
                              left_by="user", right_by="user",
                              right_values=["ots"]).collect()}
    assert got == {1: 90}

    # (g) decimal-vs-decimal with different precision/scale is exact
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long"
    ).select("id", F.col("user").cast("decimal(20,0)").alias("user"), "ts")
    right = spark.createDataFrame(
        [(10, 90)], "user long, ots long"
    ).select(F.col("user").cast("decimal(10,2)").alias("user"), "ots")
    got = {r["id"]: r["ots"]
           for r in asof_join(left, right, left_on="ts", right_on="ots",
                              left_by="user", right_by="user",
                              right_values=["ots"]).collect()}
    assert got == {1: 90}

    # (h) canonical-form mismatches are deterministic across bucket
    # counts: bool true vs the string 'True' never match (Spark's
    # cast-to-string form is 'true'), at num_buckets=1 AND the default
    left = spark.createDataFrame([(1, True, 100)],
                                 "id long, user boolean, ts long")
    right = spark.createDataFrame([("True", 90)], "user string, ots long")
    for nb in (1, 64):
        assert asof_join(left, right, left_on="ts", right_on="ots",
                         left_by="user", right_by="user",
                         right_values=["ots"],
                         num_buckets=nb).count() == 0


def test_asof_join_null_by_keys_match_nothing(spark):
    """NULL by-keys follow SQL equality semantics (r8 ADVICE: pandas
    factorizes NaN keys as equal, so null-left would wrongly match
    null-right): inner drops null-by left rows; left keeps them with a
    NULL payload; null-by right rows never match anyone."""
    from mapreduce_implementation_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, None, 100)], "id long, user long, ts long")
    right = spark.createDataFrame(
        [(10, 90), (None, 50)], "user long, ots long")
    args = dict(left_on="ts", right_on="ots", left_by="user",
                right_by="user", right_values=["ots"])
    inner = {r["id"]: r["ots"]
             for r in asof_join(left, right, how="inner", **args).collect()}
    assert inner == {1: 90}
    left_out = {r["id"]: r["ots"]
                for r in asof_join(left, right, how="left", **args).collect()}
    assert left_out == {1: 90, 2: None}


# --- salted two-phase top-k == plain keyed-window top-k ---------------------

@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),      # group
                          st.integers(min_value=-50, max_value=50),   # score
                          st.integers(min_value=0, max_value=10**6)), # id
                min_size=1, max_size=60, unique_by=lambda t: t[2]),
       st.sampled_from([1, 3, 5]),
       st.sampled_from([2, 7, 64]))
def test_salted_topk_matches_plain_window_topk(spark, rows, k, buckets):
    """top_k_per_group_salted == the plain PARTITION BY window top-k for
    ANY salt bucket count (exactness does not depend on the salt: the
    global top-k is contained in the union of per-salt local top-ks),
    including ties on score (id tiebreaker) and groups smaller than k."""
    from mapreduce_implementation_spark.operators.windows import (
        top_k_per_group, top_k_per_group_salted,
    )

    df = spark.createDataFrame(rows, "g long, s long, id long")
    order = [F.desc("s"), F.asc("id")]
    got = {(r["g"], r["id"])
           for r in top_k_per_group_salted(
               df, ["g"], order, k, salt_col=F.col("id"),
               buckets=buckets).collect()}
    want = {(r["g"], r["id"])
            for r in top_k_per_group(df, ["g"], order, k).collect()}
    assert got == want


def test_asof_windowed_dtype_normalization_edges(spark):
    """The r9 cogroup hardening, ported to asof_join_windowed (r10
    VERDICT item 2) — same (a)-(h) family as
    test_asof_join_dtype_normalization_edges where each class applies
    to the declarative route (no pandas, so the Arrow float64 trap
    becomes a plain exactness pin):
    (a) string-vs-bigint by-keys match via the string fallback;
    (b) integral by-keys stay exact above 2^53 with a NULL-by row in
    the same frame; (c) caller columns literally named
    '_by'/'_t'/'_side'/'_rv_<value>' survive untouched; (d)
    date-vs-timestamp by-keys match per SQL's midnight cast; (e)
    decimal mixed with non-decimal refuses loudly; (f) int-vs-double
    by-keys match per SQL's double cast; (g) differently-shaped
    decimals match exactly via the widened common decimal — and a
    widening that would EXCEED 38 digits refuses loudly instead of
    overflowing keys to NULL (r9 ADVICE, pinned on BOTH operators);
    (h) bool-vs-string by-keys never match, and NULL by-keys follow
    SQL equality semantics (left rows keep NULL payload, null-by right
    rows match nobody)."""
    import pytest as _pytest

    from mapreduce_implementation_spark.operators.joins import (
        asof_join, asof_join_windowed,
    )

    def run(left, right, **kw):
        return {r["id"]: r["ots"]
                for r in asof_join_windowed(
                    left, right, left_on="ts", right_on="ots",
                    left_by="user", right_by="user",
                    right_values=["ots"], **kw).collect()}

    # (a) string left key vs bigint right key
    left = spark.createDataFrame(
        [(1, "10", 100)], "id long, user string, ts long")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    assert run(left, right) == {1: 90}

    # (b) 2^53 + 1 must not alias onto 2^53, NULL-by row present
    big, nxt = 2**53, 2**53 + 1
    left = spark.createDataFrame(
        [(1, big, 100), (2, nxt, 100), (3, None, 100)],
        "id long, user long, ts long")
    right = spark.createDataFrame(
        [(big, 90), (nxt, 77), (None, 55)], "user long, ots long")
    assert run(left, right) == {1: 90, 2: 77, 3: None}

    # (c) payload columns named like the temp names are not clobbered
    # ('_rv_ots' exercises the PREFIX freshness: a fixed '_rv_' prefix
    # would collide with it)
    left = spark.createDataFrame(
        [(1, 10, "keepme", 3, 4, "keep2", 100)],
        "id long, user int, _by string, _t long, _side long, "
        "_rv_ots string, ts long")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    row = asof_join_windowed(left, right, left_on="ts", right_on="ots",
                             left_by="user", right_by="user",
                             right_values=["ots"]).collect()[0]
    assert (row["_by"], row["_t"], row["_side"], row["_rv_ots"],
            row["ots"]) == ("keepme", 3, 4, "keep2", 90)

    # (d) date by-key vs timestamp by-key: midnight timestamps match
    left = spark.createDataFrame(
        [(1, "2024-03-10", 100)], "id long, d string, ts long"
    ).select("id", F.to_date("d").alias("user"), "ts")
    right = spark.createDataFrame(
        [("2024-03-10 00:00:00", 90)], "u string, ots long"
    ).select(F.to_timestamp("u").alias("user"), "ots")
    assert run(left, right) == {1: 90}

    # (e) decimal-vs-bigint by-keys raise instead of silently aliasing
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long"
    ).select("id", F.col("user").cast("decimal(20,0)").alias("user"), "ts")
    right = spark.createDataFrame([(10, 90)], "user long, ots long")
    with _pytest.raises(ValueError, match="DecimalType"):
        asof_join_windowed(left, right, left_on="ts", right_on="ots",
                           left_by="user", right_by="user",
                           right_values=["ots"])

    # (f) int-vs-double by-keys match per SQL's double cast
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long")
    right = spark.createDataFrame([(10.0, 90)], "user double, ots long")
    assert run(left, right) == {1: 90}

    # (g) decimal-vs-decimal widening is exact; >38-digit widening
    # refuses loudly on BOTH operators (r9 ADVICE: min(p,38) capped the
    # cast and overflowed 37-digit keys to NULL -> false NaN matches)
    left = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long"
    ).select("id", F.col("user").cast("decimal(20,0)").alias("user"), "ts")
    right = spark.createDataFrame(
        [(10, 90)], "user long, ots long"
    ).select(F.col("user").cast("decimal(10,2)").alias("user"), "ots")
    assert run(left, right) == {1: 90}
    wide_l = spark.createDataFrame(
        [(1, 10, 100)], "id long, user long, ts long"
    ).select("id", F.col("user").cast("decimal(38,0)").alias("user"), "ts")
    wide_r = spark.createDataFrame(
        [(10, 90)], "user long, ots long"
    ).select(F.col("user").cast("decimal(10,2)").alias("user"), "ots")
    for op in (asof_join, asof_join_windowed):
        with _pytest.raises(ValueError, match="38"):
            op(wide_l, wide_r, left_on="ts", right_on="ots",
               left_by="user", right_by="user", right_values=["ots"])

    # (h) bool true vs string 'True' never match; NULL by-keys follow
    # SQL semantics (windowed is LEFT: NULL payload, never a match)
    left = spark.createDataFrame([(1, True, 100)],
                                 "id long, user boolean, ts long")
    right = spark.createDataFrame([("True", 90)], "user string, ots long")
    out = asof_join_windowed(left, right, left_on="ts", right_on="ots",
                             left_by="user", right_by="user",
                             right_values=["ots"]).collect()
    assert [(r["id"], r["ots"]) for r in out] == [(1, None)]
    left = spark.createDataFrame(
        [(1, 10, 100), (2, None, 100)], "id long, user long, ts long")
    right = spark.createDataFrame(
        [(10, 90), (None, 50)], "user long, ots long")
    assert run(left, right) == {1: 90, 2: None}


def test_asof_join_row_unity_ties_and_null_on_keys(spark):
    """The r10 review triple, pinned on BOTH as-of routes:

    (1) ROW UNITY — a latest-match right row carrying a genuine NULL
    payload field must be returned AS A UNIT, not mixed with the
    previous match's value for that field (the windowed route's old
    per-column last(ignorenulls) resurrected 'A' from the stale row —
    reproduced before the struct fix);
    (2) TIE DETERMINISM — right rows tied on the timestamp resolve by
    the greatest right_values tuple on both routes, INDEPENDENT of
    Arrow batch arrival order (pinned under an adversarial
    sortWithinPartitions that flipped the cogroup's answer before the
    tie sort), including array payloads via the tuple-key fallback;
    (3) NULL ON-KEYS — a NULL timestamp satisfies no inequality: null-
    on right rows match nobody, null-on left rows keep NULL payload
    for how='left' and drop for inner (before r10 they CRASHED the
    cogroup — pd.merge_asof rejects null merge keys)."""
    from mapreduce_implementation_spark.operators.joins import (
        asof_join, asof_join_windowed,
    )

    left = spark.createDataFrame([(1, 5, 100)], "id long, user long, ts long")

    # (1) row unity
    right = spark.createDataFrame(
        [(5, 80, "A", 5), (5, 90, None, 7)],
        "user long, ots long, tag string, x long")
    for out in (
        asof_join_windowed(left, right, left_on="ts", right_on="ots",
                           left_by="user", right_by="user",
                           right_values=["ots", "tag", "x"]),
        asof_join(left, right, left_on="ts", right_on="ots",
                  left_by="user", right_by="user",
                  right_values=["ots", "tag", "x"], how="left"),
    ):
        assert [(r["ots"], r["tag"], r["x"]) for r in out.collect()] \
            == [(90, None, 7)]

    # (2) tie determinism under adversarial batch order
    right = (spark.createDataFrame(
        [(5, 90, "A"), (5, 90, "B"), (5, 90, "C")],
        "user long, ots long, tag string")
        .repartition(1).sortWithinPartitions(F.desc("tag")))
    for out in (
        asof_join_windowed(left, right, left_on="ts", right_on="ots",
                           left_by="user", right_by="user",
                           right_values=["ots", "tag"]),
        asof_join(left, right, left_on="ts", right_on="ots",
                  left_by="user", right_by="user",
                  right_values=["ots", "tag"], how="left", num_buckets=1),
    ):
        assert [r["tag"] for r in out.collect()] == ["C"]
    # array payload: pandas can't compare ndarrays vectorized — the
    # tuple-key fallback must yield Spark's array ordering
    right = (spark.createDataFrame(
        [(5, 90, [1.0, 2.0]), (5, 90, [3.0, 1.0])],
        "user long, ots long, emb array<double>")
        .repartition(1).sortWithinPartitions(F.desc(F.col("emb")[0])))
    for out in (
        asof_join_windowed(left, right, left_on="ts", right_on="ots",
                           left_by="user", right_by="user",
                           right_values=["ots", "emb"]),
        asof_join(left, right, left_on="ts", right_on="ots",
                  left_by="user", right_by="user",
                  right_values=["ots", "emb"], how="left", num_buckets=1),
    ):
        assert [list(r["emb"]) for r in out.collect()] == [[3.0, 1.0]]

    # (3) NULL on-keys
    left = spark.createDataFrame(
        [(1, 5, 100), (2, 5, None)], "id long, user long, ts long")
    right = spark.createDataFrame(
        [(5, 90), (5, None)], "user long, ots long")
    args = dict(left_on="ts", right_on="ots", left_by="user",
                right_by="user", right_values=["ots"])
    got_w = sorted((r["id"], r["ots"]) for r in
                   asof_join_windowed(left, right, **args).collect())
    got_l = sorted((r["id"], r["ots"]) for r in
                   asof_join(left, right, how="left", **args).collect())
    got_i = sorted((r["id"], r["ots"]) for r in
                   asof_join(left, right, how="inner", **args).collect())
    assert got_w == [(1, 90), (2, None)]
    assert got_l == [(1, 90), (2, None)]
    assert got_i == [(1, 90)]


# --- windowed as-of == pandas-cogroup as-of ---------------------------------

@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(st.one_of(st.none(),                        # user
                                    st.integers(min_value=0, max_value=3)),
                          st.integers(min_value=0, max_value=40)),    # ts sec
                min_size=1, max_size=25),
       st.lists(st.tuples(st.one_of(st.none(),
                                    st.integers(min_value=0, max_value=3)),
                          st.integers(min_value=0, max_value=40),
                          st.one_of(st.none(),                        # payload
                                    st.integers(min_value=0, max_value=5))),
                min_size=0, max_size=25),
       st.booleans(),
       st.sampled_from([1, 64]))
def test_asof_windowed_matches_pandas_cogroup(spark, levts, rords,
                                              with_tol, num_buckets):
    """The two as-of routes implement ONE contract (r10 VERDICT item 3
    — the r9 NULL-semantics drift between them is exactly what this
    pins): asof_join_windowed (declarative union + keyed-window last)
    == asof_join (pd.merge_asof cogroup, how='left') on arbitrary
    interleavings INCLUDING NULL by-keys on both sides (match nothing;
    left rows keep NULL payload), a NULLABLE payload column riding
    right_values (the r10 Frankenstein class: a genuine NULL payload
    field must not resurrect the previous match's value), TIED right
    timestamps (the 0-40s offset range makes ties common; both routes
    must pick the same greatest-(ots,val) row), equal left/right
    timestamps (backward-inclusive), duplicate rows, users with no
    right rows, tolerance ON (10-second budget) and OFF, and both
    num_buckets 1 (everything co-batched) and 64.  A third leg checks
    the timestamp surface against DuckDB's NATIVE ASOF LEFT JOIN — a
    fully independent engine — so the contract is pinned externally,
    not just internally consistent."""
    from mapreduce_implementation_spark.operators.joins import (
        asof_join, asof_join_windowed,
    )

    base = "2024-01-01 00:00:00"
    left = spark.createDataFrame(
        [(i, u, s) for i, (u, s) in enumerate(levts)],
        "id long, user long, off long",
    ).select("id", "user", F.expr(f"timestamp'{base}' + make_interval(0,0,0,0,0,0,off)").alias("ts"))
    right = spark.createDataFrame(
        [(u, s, v) for (u, s, v) in rords] or [(99, 0, None)],
        "user long, off long, val long",
    ).select("user", "val", F.expr(f"timestamp'{base}' + make_interval(0,0,0,0,0,0,off)").alias("ots"))

    win = asof_join_windowed(
        left, right, left_on="ts", right_on="ots",
        left_by="user", right_by="user", right_values=["ots", "val"],
        tolerance_expr="INTERVAL 10 SECONDS" if with_tol else None)
    pdc = asof_join(
        left, right, left_on="ts", right_on="ots",
        left_by="user", right_by="user", right_values=["ots", "val"],
        tolerance="10s" if with_tol else None, how="left",
        num_buckets=num_buckets)
    a = sorted((r["id"], str(r["ots"]), r["val"]) for r in win.collect())
    b = sorted((r["id"], str(r["ots"]), r["val"]) for r in pdc.collect())
    assert a == b

    # third, fully independent implementation: DuckDB's native ASOF
    # LEFT JOIN over the same frames (timestamp surface only — tied
    # timestamps carry engine-chosen payloads, and generated on-keys
    # are never NULL, where DuckDB's NULLS-LAST ordering would diverge
    # from this repo's SQL-predicate NULL rule by design)
    import duckdb
    import pandas as pd

    base_ts = pd.Timestamp("2024-01-01 00:00:00")
    lpdf = pd.DataFrame({
        "id": range(len(levts)),
        "user": pd.array([u for u, _ in levts], dtype="Int64"),
        "ts": [base_ts + pd.Timedelta(seconds=s) for _, s in levts]})
    rr = rords or [(99, 0, None)]
    rpdf = pd.DataFrame({
        "user": pd.array([u for u, _, _ in rr], dtype="Int64"),
        "ots": [base_ts + pd.Timedelta(seconds=s) for _, s, _ in rr]})
    sel = ("CASE WHEN r.ots IS NOT NULL AND l.ts - r.ots <= "
           "INTERVAL 10 SECOND THEN r.ots END" if with_tol else "r.ots")
    con = duckdb.connect()
    duck = sorted(
        (int(i), str(pd.Timestamp(o)) if o is not None else "None")
        for i, o in con.execute(
            f"SELECT l.id, {sel} AS ots FROM lpdf l ASOF LEFT JOIN rpdf r "
            "ON l.user = r.user AND r.ots <= l.ts").fetchall())
    con.close()
    assert sorted((r["id"], str(r["ots"])) for r in win.collect()) == duck


def test_asof_windowed_null_left_rows_bypass_window(spark):
    """r10 VERDICT item 2: a left corpus that is 90% NULL-keyed must
    NOT funnel those rows into one window partition (every NULL by-key
    hashes to the same partition — a single hot task at scale).  The
    r11 fix routes null-keyed left rows AROUND the shuffle+window via
    the cogroup route's filter-and-pad idiom, so the skew guarantee is
    structural: the optimized plan shows the null rows filtered out
    BELOW the window leg (they can never reach the exchange) and
    re-attached by a second, exchange-free Union leg.  Semantics are
    unchanged: null-keyed rows keep NULL payload, non-null rows match
    as before."""
    from mapreduce_implementation_spark.operators.joins import (
        asof_join_windowed,
    )

    rows = [(i, 5 if i % 10 == 0 else None, 100 + i) for i in range(1000)]
    left = spark.createDataFrame(rows, "id long, user long, ts long")
    right = spark.createDataFrame([(5, 90, 7)],
                                  "user long, ots long, val long")
    out = asof_join_windowed(left, right, left_on="ts", right_on="ots",
                             left_by="user", right_by="user",
                             right_values=["ots", "val"])
    got = {(r["id"], r["val"]) for r in out.collect()}
    assert len(got) == 1000
    assert all(v == (7 if i % 10 == 0 else None) for i, v in got)

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # two Unions: the operator's internal left/right tag union feeding
    # the Window, plus the NEW outer pad union (pre-fix plans had one)
    assert plan.count("Union") == 2, plan
    # the window leg's left input filters null keys out BEFORE any
    # exchange; the pad leg keeps exactly the complement
    assert "isnotnull(user" in plan and "isnotnull(ts" in plan, plan
    assert "isnull(user" in plan and "isnull(ts" in plan, plan
    # still exactly one Window
    assert plan.count("Window") == 1, plan


def test_asof_nan_payload_tie_order_matches(spark):
    """r10 ADVICE: right rows TIED on the timestamp with a float
    payload containing NaN must resolve the same on both routes.  The
    cogroup route's pandas sort treats NaN as NA (sorts smallest);
    Spark's raw struct ordering sorts NaN GREATER than any value, so
    pre-fix the windowed route picked the NaN row among ties while the
    cogroup route picked the non-NaN row.  r11 normalizes the windowed
    ORDER key with nanvl (NaN -> NULL, smallest) — both routes now
    pick the greatest-by-(payload-with-NaN-as-NA) row.  (NULL-vs-NaN
    ties remain out of contract — Arrow conflates them in float
    columns — so the fixture uses a NaN/non-NaN pair, not NULL.)"""
    from mapreduce_implementation_spark.operators.joins import (
        asof_join, asof_join_windowed,
    )

    left = spark.createDataFrame([(1, 5, 100)], "id long, user long, ts long")
    right = spark.createDataFrame(
        [(5, 90, float("nan"), "nan_row"), (5, 90, 2.0, "num_row")],
        "user long, ots long, price double, rid string")
    args = dict(left_on="ts", right_on="ots", left_by="user",
                right_by="user", right_values=["ots", "price", "rid"])
    got_w = asof_join_windowed(left, right, **args).collect()
    got_c = asof_join(left, right, how="left", **args).collect()
    # pandas sort key (ots, price, rid) with NaN-as-NA-first: num_row
    # is the greatest tuple -> backward picks it; windowed must agree
    assert [r["rid"] for r in got_w] == ["num_row"]
    assert [r["rid"] for r in got_c] == ["num_row"]
    assert got_w[0]["price"] == 2.0 and got_c[0]["price"] == 2.0


def test_two_phase_window_operators_accept_colliding_out_names(spark):
    """r10 ADVICE: global_ntile / global_running_sum /
    grouped_running_sum / grouped_ntile derived their temp prefix from
    df.columns only — an ``out`` like '_gt_bkt' collided with the
    internal bucket column, so withColumn(out, ...) REPLACED it and
    the trailing drop() deleted the caller's output.  The fresh-name
    set now folds ``out`` in (the exact_quantiles guard, generalized
    via _fresh_name(extra=)); each call below picks the exact out-name
    that used to collide and asserts the output survives with correct
    values."""
    from mapreduce_implementation_spark.operators.windows import (
        global_ntile, global_running_sum, grouped_ntile,
        grouped_running_sum,
    )

    df = spark.createDataFrame(
        [("a", i, i % 3) for i in range(12)], "g string, k long, v long")

    out = global_ntile(df, ["k"], 4, out="_gt_bkt")
    assert "_gt_bkt" in out.columns
    assert sorted((r["k"], r["_gt_bkt"]) for r in out.collect()) == [
        (i, i // 3 + 1) for i in range(12)]

    out = global_running_sum(df, "v", ["k"], out="_gs_bkt")
    assert "_gs_bkt" in out.columns
    exp, acc = [], 0
    for i in range(12):
        acc += i % 3
        exp.append((i, acc))
    assert sorted((r["k"], r["_gs_bkt"]) for r in out.collect()) == exp

    out = grouped_running_sum(df, "v", ["g"], ["k"], out="_gr_bkt")
    assert "_gr_bkt" in out.columns
    assert sorted((r["k"], r["_gr_bkt"]) for r in out.collect()) == exp

    out = grouped_ntile(df, ["g"], ["k"], 4, out="_gn_bkt")
    assert "_gn_bkt" in out.columns
    assert sorted((r["k"], r["_gn_bkt"]) for r in out.collect()) == [
        (i, i // 3 + 1) for i in range(12)]

    # the r11 review found a FIFTH site the same sweep missed:
    # top_k_per_group_salted's out_rank ('_tk_grn' used to collide with
    # the internal global-rank column and be dropped)
    from mapreduce_implementation_spark.operators.windows import (
        top_k_per_group_salted,
    )

    out = top_k_per_group_salted(
        df, ["g"], [F.col("k").desc()], 3, salt_col=F.col("k"),
        buckets=4, out_rank="_tk_grn")
    assert "_tk_grn" in out.columns
    assert sorted((r["k"], r["_tk_grn"]) for r in out.collect()) == [
        (9, 3), (10, 2), (11, 1)]


def test_join_and_skew_operators_do_not_clobber_caller_temp_names(spark):
    """r10 sweep of the fixed-temp-name clobber class across the
    remaining library operators that mutate CALLER frames (the as-of
    pair was fixed first; these had the identical latent trap): a
    caller column literally named '_salt' / '_bkt' / '_bloom' / '_p0'
    must pass through salted_join, salted_aggregate,
    range_join_bucketed, interval_overlap_join and bloom_prefilter
    untouched — previously withColumn REPLACED it and the trailing
    drop() deleted it from the output."""
    from mapreduce_implementation_spark.operators.joins import (
        bloom_prefilter, interval_overlap_join, range_join_bucketed,
    )
    from mapreduce_implementation_spark.operators.skew import (
        salted_aggregate, salted_join,
    )

    # salted_join: '_salt' on both sides survives with caller values
    skewed = spark.createDataFrame(
        [(1, "keep-l")], "k long, _salt string")
    other = spark.createDataFrame([(1, 7)], "k long, v long")
    row = salted_join(skewed, other, "k").collect()[0]
    assert (row["_salt"], row["v"]) == ("keep-l", 7)

    # salted_aggregate: '_salt' in the frame does not break the phases
    df = spark.createDataFrame([(1, "x", 2), (1, "y", 3)],
                               "k long, _salt string, v long")
    got = salted_aggregate(
        df, "k", [F.sum("v")], ["_part"],
        [F.sum("_part").alias("total")]).collect()
    assert [(r["k"], r["total"]) for r in got] == [(1, 5)]

    # range_join_bucketed: caller '_bkt' on the left survives
    l = spark.createDataFrame(
        [(1, "keep", "2024-01-01 00:00:00")], "k long, _bkt string, ts string"
    ).select("k", "_bkt", F.to_timestamp("ts").alias("ts"))
    r = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00")], "k long, rts string"
    ).select("k", F.to_timestamp("rts").alias("rts"))
    out = range_join_bucketed(l, r, "k", "ts", "rts", 3600).collect()
    assert len(out) == 1 and out[0]["_bkt"] == "keep"

    # interval_overlap_join: caller '_bkt' on the left survives
    li = spark.createDataFrame(
        [("keep", "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "_bkt string, s string, e string"
    ).select("_bkt", F.to_timestamp("s").alias("s"),
             F.to_timestamp("e").alias("e"))
    ri = spark.createDataFrame(
        [("2024-01-01 00:30:00", "2024-01-01 02:00:00")],
        "rs string, re string"
    ).select(F.to_timestamp("rs").alias("rs"),
             F.to_timestamp("re").alias("re"))
    out = interval_overlap_join(li, ri, "s", "e", "rs", "re", 1800).collect()
    assert len(out) == 1 and out[0]["_bkt"] == "keep"

    # bloom_prefilter: caller '_bloom' and '_p0' survive; filter exact
    fact = spark.createDataFrame(
        [(1, "keepb", 11), (2, "keepb", 22)],
        "k bigint, _bloom string, _p0 long")
    dim = spark.createDataFrame([(1,)], "d bigint")
    kept = bloom_prefilter(fact, dim, "k", "d", num_bits=1 << 10).collect()
    assert {(r["k"], r["_bloom"], r["_p0"]) for r in kept} >= {(1, "keepb", 11)}
    assert all(r["_bloom"] == "keepb" for r in kept)

    # windows family: '_rn' / '_bkt' / '_offset' caller columns survive
    # top_k_per_group and the two-phase global operators with exact
    # results (the two-phase math is checked elsewhere; this pins
    # pass-through)
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        global_ntile, global_running_sum, top_k_per_group,
    )

    wdf = spark.createDataFrame(
        [(1, 10, "a", 5, 100), (1, 20, "b", 6, 200), (2, 30, "c", 7, 300)],
        "g long, v long, _rn string, _bkt long, _offset long")
    try:
        top = top_k_per_group(wdf, ["g"], [F.desc("v")], 1).collect()
        assert {(r["g"], r["_rn"], r["_bkt"]) for r in top} \
            == {(1, "b", 6), (2, "c", 7)}
        cum = global_running_sum(wdf, "v", ["v"], out="cum",
                                 partitions=3).collect()
        assert {(r["v"], r["cum"], r["_offset"]) for r in cum} \
            == {(10, 10, 100), (20, 30, 200), (30, 60, 300)}
        tiles = global_ntile(wdf, ["v"], 3, out="tile",
                             partitions=3).collect()
        assert {(r["v"], r["tile"], r["_rn"]) for r in tiles} \
            == {(10, 1, "a"), (20, 2, "b"), (30, 3, "c")}
    finally:
        release_persisted()


# --- URL canonicalizer == component model ------------------------------------

def test_canonicalize_url_matches_component_model(spark):
    """functions/urlfn.canonicalize_url and url_host vs an independent
    Python model of the documented rules, on ~200 seeded
    component-built URLs covering: mixed-case schemes/hosts, www.
    prefixes (incl. a 'www'-without-dot host that must NOT strip),
    default and non-default ports on http/https/ftp, empty and cased
    paths, tracking params (utm_*/gclid/fbclid/ref) mixed with
    legitimate ones in random order, dangling '?', fragments, and
    userinfo ('User:Pw@' — dropped from host and canonical form, r10
    ADVICE: pre-fix the www-strip/port-strip ran on the
    userinfo-prefixed string).  One Spark action for all cases."""
    import random

    from mapreduce_implementation_spark.functions.urlfn import (
        canonicalize_url, url_host,
    )

    rng = random.Random(4210)
    schemes = ["http", "https", "ftp"]
    hosts = ["Ex-1.Test", "wwwx.test", "A.B.test", "site.test"]
    tracking = ["utm_source", "utm_medium", "utm_x", "gclid", "fbclid", "ref"]
    legit = ["topic", "a", "b", "id"]

    def randcase(s, r):
        return "".join(ch.upper() if r.random() < 0.5 else ch.lower()
                       for ch in s)

    cases = []
    for i in range(200):
        scheme = rng.choice(schemes)
        host = rng.choice(hosts)
        userinfo = rng.choice([None, None, None, "User:Pw", "u"])
        www = rng.random() < 0.4
        port = rng.choice([None, "80", "443", "8080"])
        path = rng.choice(["", "/", "/A/b", "/x/Y/z9"])
        n_par = rng.randint(0, 4)
        params = [(rng.choice(tracking + legit), str(rng.randint(0, 99)))
                  for _ in range(n_par)]
        dangling_q = n_par == 0 and rng.random() < 0.3
        frag = rng.choice([None, "Sec1", "f"])
        url = (randcase(scheme, rng) + "://"
               + (f"{userinfo}@" if userinfo else "")
               + ("WWW." if www else "") + randcase(host, rng)
               + (f":{port}" if port else "")
               + path
               + ("?" + "&".join(f"{k}={v}" for k, v in params)
                  if params else ("?" if dangling_q else ""))
               + (f"#{frag}" if frag else ""))
        # independent model of the documented rules
        mhost = host.lower()  # 'WWW.' prefix stripped; inner www kept
        default = (scheme, port) in (("https", "443"), ("http", "80"))
        mport = f":{port}" if port and not default else ""
        mpath = path if path else "/"
        kept = sorted(f"{k}={v}" for k, v in params
                      if not (k.startswith("utm_")
                              or k in ("gclid", "fbclid", "ref")))
        mquery = "?" + "&".join(kept) if kept else ""
        expect = f"{scheme}://{mhost}{mport}{mpath}{mquery}"
        cases.append((i, url, expect, mhost))

    df = spark.createDataFrame([(i, u) for i, u, _, _ in cases],
                               "i long, url string")
    got = {r["i"]: (r["c"], r["h"]) for r in df.select(
        "i", canonicalize_url(F.col("url")).alias("c"),
        url_host(F.col("url")).alias("h")).collect()}
    for i, url, expect, mhost in cases:
        assert got[i] == (expect, mhost), (url, got[i], (expect, mhost))


# --- bloom prefilter: transparency (never drops a true match) ---------------

@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=-10_000, max_value=10_000),
                min_size=1, max_size=80),
       st.lists(st.integers(min_value=-10_000, max_value=10_000),
                min_size=0, max_size=40))
def test_bloom_prefilter_never_drops_true_matches(spark, fact_keys, dim_keys):
    """prefiltered set is sandwiched: (fact semi-join dim) <= prefiltered
    <= fact.  No false negatives ever (the transparency guarantee the
    oracle relies on); false positives allowed but the kept set can
    never exceed the input."""
    from mapreduce_implementation_spark.operators.joins import bloom_prefilter

    fact = spark.createDataFrame([(k,) for k in fact_keys], "k bigint")
    dim = spark.createDataFrame([(k,) for k in dim_keys], "d bigint")
    kept = {r["k"] for r in bloom_prefilter(fact, dim, "k", "d",
                                            num_bits=1 << 10).collect()}
    true = {k for k in fact_keys if k in set(dim_keys)}
    assert true <= kept <= set(fact_keys)


def test_bloom_prefilter_mixed_integral_widths_keep_matches(spark):
    """int fact key vs bigint dim key (ADVICE r5): xxhash64 is
    type-sensitive, so without BIGINT canonicalization the probe hashes
    diverge from the build hashes and TRUE matches vanish — the silent
    false-negative the transparency guarantee forbids.  Both integral
    sides must hash identically after the cast."""
    from mapreduce_implementation_spark.operators.joins import bloom_prefilter

    fact = spark.createDataFrame([(k,) for k in range(200)], "k int")
    dim = spark.createDataFrame([(5,), (77,), (199,)], "d bigint")
    kept = {r["k"] for r in bloom_prefilter(fact, dim, "k", "d",
                                            num_bits=1 << 10).collect()}
    assert {5, 77, 199} <= kept


def test_bloom_prefilter_rejects_incompatible_key_types(spark):
    """A string/bigint key pair cannot be canonicalized for hashing —
    must fail loudly at plan build, never drop rows silently."""
    import pytest

    from mapreduce_implementation_spark.operators.joins import bloom_prefilter

    fact = spark.createDataFrame([("5",)], "k string")
    dim = spark.createDataFrame([(5,)], "d bigint")
    with pytest.raises(TypeError, match="types must match"):
        bloom_prefilter(fact, dim, "k", "d")


# --- systematic PPS sampling vs a pure-Python model --------------------------

@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=500),
                min_size=5, max_size=60),
       st.integers(min_value=1, max_value=10))
def test_systematic_pps_matches_python_model(spark, weights, k):
    """The integer systematic-PPS selection rule (w_cum DIV step crosses)
    computed distributed (global_running_sum two-phase) equals the
    sequential Python model; zero-weight rows are never selected and
    every selected index is distinct."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        global_running_sum,
    )

    total = sum(weights)
    if total < k:   # step would be 0 -> division by zero; not a valid config
        return
    step = total // k
    cum, want = 0, set()
    for i, w in enumerate(weights):
        prev = cum
        cum += w
        if cum // step > prev // step:
            want.add(i)
    df = spark.createDataFrame(list(enumerate(weights)), "i bigint, w bigint")
    try:
        c = global_running_sum(df, "w", ["i"], out="wc", partitions=4)
        got = {r["i"] for r in c.where(
            F.expr(f"wc DIV {step} > (wc - w) DIV {step}")).collect()}
        assert got == want
        assert all(weights[i] > 0 for i in got)
    finally:
        release_persisted()


# --- global order stats vs the builtin window functions ----------------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.one_of(st.none(),
                          st.integers(min_value=0, max_value=6)),
                min_size=1, max_size=50))
def test_global_order_stats_matches_builtin_windows(spark, ks):
    """global_order_stats == rank/dense_rank/percent_rank/cume_dist
    OVER (ORDER BY k) computed by Spark's own (single-partition) window,
    on tie-heavy data including NULL keys and the n==1 edge."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.windows import (
        global_order_stats,
    )
    from pyspark.sql import Window

    df = spark.createDataFrame([(i, k) for i, k in enumerate(ks)],
                               "i bigint, k bigint")
    w = Window.orderBy(F.col("k").asc_nulls_first())
    want = {r["i"]: (r["r"], r["d"], round(r["p"], 9), round(r["c"], 9))
            for r in df.select(
                "i", F.rank().over(w).alias("r"),
                F.dense_rank().over(w).alias("d"),
                F.percent_rank().over(w).alias("p"),
                F.cume_dist().over(w).alias("c")).collect()}
    try:
        got = {r["i"]: (r["rnk"], r["drnk"], round(r["pct_rank"], 9),
                        round(r["cume_dist"], 9))
               for r in global_order_stats(df, ["k"], partitions=4).collect()}
        assert got == want
    finally:
        release_persisted()


@given(st.lists(st.tuples(st.integers(0, 4095), st.integers(0, 4095)),
                min_size=1, max_size=30))
@settings(max_examples=15, deadline=None)
def test_zorder_expr_matches_python_morton(spark, pts):
    """The SQL bit-interleave expression (shared verbatim with the
    DuckDB oracle) must equal a Python-model Morton code, and ordering
    by it must give the data-skipping property: any contiguous zkey
    range is a bounded rectangle in (x, y)."""
    from mapreduce_implementation_spark.queries.relational import _zorder_expr

    def morton(x, y):
        z = 0
        for i in range(12):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pts, "x bigint, y bigint")
    got = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y",
        F.expr(_zorder_expr("(x & 4095)", "(y & 4095)", 12))
         .cast("long").alias("z")).collect()}
    for x, y in pts:
        assert got[(x, y)] == morton(x, y)


@given(st.lists(st.tuples(st.integers(0, 30),
                          st.integers(-1000, 1000)),
                min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_skyline_matches_bruteforce_dominance(spark, pts):
    """skyline_2d_min must equal the all-pairs dominance definition:
    keep (x, y) iff no point has x' <= x and y' <= y with one strict."""
    from mapreduce_implementation_spark.operators.relational import (
        skyline_2d_min,
    )

    df = spark.createDataFrame(pts, "x bigint, y bigint")
    got = sorted((r["x"], r["y"]) for r in
                 skyline_2d_min(df, "x", "y").collect())
    collapsed = {}
    for x, y in pts:
        collapsed[x] = min(collapsed.get(x, y), y)
    cand = sorted(collapsed.items())
    want = sorted(
        (x, y) for x, y in cand
        if not any((bx <= x and by <= y and (bx < x or by < y))
                   for bx, by in cand))
    assert got == want


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=300))
@settings(max_examples=10, deadline=None)
def test_histogram_quantile_within_bound(spark, xs):
    """The equi-width histogram estimate must sit within its err_bound
    (one bin width) of the DISCRETE quantile — the rank-ceil(q*n) order
    statistic, numpy's inverted_cdf — for ANY input, including
    single-valued (zero-width) columns.  (No bound exists against the
    interpolated quantile: on {0.0, 1.0} at q=0.1 the interpolation
    crosses 6 empty bins.)"""
    import numpy as np

    from mapreduce_implementation_spark.operators.sketch import (
        histogram_quantile_estimates,
    )

    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    rows = histogram_quantile_estimates(df, "v", bins=64,
                                        qs=(0.1, 0.5, 0.9)).collect()
    assert len(rows) == 3
    for r in rows:
        exact = float(np.quantile(np.array(xs), r["q"],
                                  method="inverted_cdf"))
        assert abs(r["est_value"] - exact) <= r["err_bound"] + 1e-9, (
            r["q"], r["est_value"], exact, r["err_bound"])


def test_covariance_matrix_matches_numpy(spark):
    """covariance_matrix's BLAS-partial mapInPandas pass must equal
    numpy's population covariance, and power_iteration_top's Rayleigh
    estimate must be dominated by (and near) the true top eigenvalue."""
    import numpy as np

    from mapreduce_implementation_spark.operators.similarity import (
        covariance_matrix, power_iteration_top,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(200, 8)) @ np.diag([3, 2, 1, 1, 1, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id bigint, embedding array<double>")
    n, mean, C = covariance_matrix(df, "embedding", dim=8)
    assert n == len(X)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    assert np.allclose(C, np.cov(X, rowvar=False, bias=True), atol=1e-9)
    lam, vec = power_iteration_top(C, iters=5)
    true = float(np.linalg.eigvalsh(C)[-1])
    assert abs(np.linalg.norm(vec) - 1.0) < 1e-9
    assert lam <= true + 1e-9
    assert lam >= 0.9 * true  # eigengap 9:4 converges fast from 5 iters


# --- bloom anti-join: exactness + the frontier FPR sentinel -----------------

@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=-5_000, max_value=5_000),
                min_size=0, max_size=80),
       st.lists(st.integers(min_value=-5_000, max_value=5_000),
                min_size=0, max_size=80))
def test_bloom_anti_join_equals_exact_anti_join(spark, inc_keys, hist_keys):
    """bloom_anti_join output == plain left-anti join EXACTLY, on both
    recheck routes (broadcast semi/anti and the shuffle fallback): the
    Bloom leg has no false negatives and false positives are re-checked,
    so the filter moves rows between paths without changing the answer.
    A deliberately TINY bitmap (256 bits) forces heavy false-positive
    traffic through the recheck leg."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.joins import bloom_anti_join

    inc = spark.createDataFrame([(k,) for k in inc_keys], "k bigint")
    hist = spark.createDataFrame([(k,) for k in hist_keys], "k bigint")
    want = sorted(r["k"] for r in inc.join(hist, "k", "left_anti").collect())
    try:
        for bc in (True, False):
            got = sorted(r["k"] for r in bloom_anti_join(
                inc, hist, "k", num_bits=256, num_hashes=3,
                broadcast_recheck=bc).collect())
            assert got == want, (bc, got[:5], want[:5])
    finally:
        release_persisted()


def test_bloom_anti_join_null_and_type_semantics(spark):
    """NULL incoming keys are kept (anti-join semantics: NULL matches
    nothing), NULL history keys are ignored, extra incoming columns
    survive both paths, and mismatched key types fail loudly."""
    import pytest

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.joins import bloom_anti_join

    inc = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 3)], "k string, payload int")
    hist = spark.createDataFrame([("a",), (None,)], "k string")
    try:
        got = {(r["k"], r["payload"])
               for r in bloom_anti_join(inc, hist, "k", 256, 3).collect()}
    finally:
        release_persisted()
    assert got == {("b", 2), (None, 3)}
    bad = spark.createDataFrame([(5,)], "k bigint")
    with pytest.raises(TypeError, match="types must match"):
        bloom_anti_join(inc, bad, "k")


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=12),
                          st.integers(min_value=0, max_value=25)),
                min_size=0, max_size=120),
       st.integers(min_value=1, max_value=6))
def test_bloom_rolling_equals_exact_windowed_anti_join(
        spark, sightings, lookback):
    """bloom_anti_join_rolling output == the exact windowed anti-join
    (key seen in [w-lookback, w-1] => dropped) on random sighting
    ledgers, with a deliberately TINY per-window bitmap (128 bits)
    forcing heavy false-positive traffic through the recheck leg, plus
    NULL-key and NULL-window rows (both kept — anti-join semantics).
    Both recheck routes: broadcast pair-set AND the shuffled windowed
    anti-join fallback (r13 ADVICE — the escape hatch for ledgers
    whose survivor volume is ledger-sized)."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.joins import (
        bloom_anti_join_rolling,
    )

    rows = sorted(set(sightings)) + [(3, None), (None, 7)]
    df = spark.createDataFrame(rows, "d int, k int")
    le, h = df.alias("l"), df.alias("h")
    want = sorted(
        ((r["d"], r["k"]) for r in le.join(
            h.where(F.col("h.k").isNotNull()),
            (F.col("h.k") == F.col("l.k"))
            & (F.col("h.d") >= F.col("l.d") - lookback)
            & (F.col("h.d") <= F.col("l.d") - 1),
            "left_anti").collect()), key=str)
    try:
        for bc in (True, False):
            got = sorted(
                ((r["d"], r["k"]) for r in bloom_anti_join_rolling(
                    df, "k", "d", lookback, num_bits=128, num_hashes=3,
                    broadcast_recheck=bc).collect()), key=str)
            assert got == want, (bc, lookback,
                                 set(map(str, got)) ^ set(map(str, want)))
    finally:
        release_persisted()


def test_bloom_anti_join_float_keys_normalized(spark):
    """Float/double keys match plain-anti-join semantics exactly:
    Spark join keys normalize -0.0 = 0.0 and NaN = NaN, but xxhash64
    hashes raw bits, so an un-normalized probe would emit an incoming
    -0.0 against a history 0.0 via the 'definitely unseen' Bloom path
    (a false negative — r12 ADVICE).  The operator nanvl/+0.0
    normalizes both sides before hashing; verify on both recheck
    routes against Spark's own left-anti as the oracle."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.joins import bloom_anti_join

    nan = float("nan")
    inc = spark.createDataFrame(
        [(-0.0, 1), (1.5, 2), (nan, 3), (None, 4), (2.5, 5)],
        "k double, payload int")
    hist = spark.createDataFrame(
        [(0.0,), (nan,), (None,)], "k double")
    want = sorted(r["payload"]
                  for r in inc.join(hist, "k", "left_anti").collect())
    assert want == [2, 4, 5]  # -0.0 and NaN matched; NULL kept
    try:
        for bc in (True, False):
            got = sorted(r["payload"] for r in bloom_anti_join(
                inc, hist, "k", num_bits=256, num_hashes=3,
                broadcast_recheck=bc).collect())
            assert got == want, (bc, got)
        # float32 incoming vs float64 history also normalizes
        inc32 = spark.createDataFrame(
            [(-0.0, 1), (1.5, 2)], "k float, payload int")
        got32 = sorted(r["payload"] for r in bloom_anti_join(
            inc32, hist, "k", num_bits=256, num_hashes=3).collect())
        assert got32 == [2]
    finally:
        release_persisted()


def test_bloom_frontier_fpr_sentinel(spark):
    """dedup_bloom_frontier's n_hist_keys column must equal the ACTUAL
    history distinct-key count (the exact integer input to the textbook
    sizing bound (1 - e^{-kn/m})^k at the query's fixed m=4096, k=5 —
    the bound VALUE lives here, not in the hash-compared output), and
    the Bloom's measured false-positive rate on the truly-new URLs must
    not exceed ~3x that bound (binomial slack on O(100) probes)."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.joins import (
        _bloom_bitmap, _bloom_positions, _bloom_probe_sql,
    )
    from mapreduce_implementation_spark.queries.dedup import (
        _BLOOM_FRONTIER_K, _BLOOM_FRONTIER_M, _synth_url,
    )
    from mapreduce_implementation_spark.functions.urlfn import (
        canonicalize_url,
    )
    from mapreduce_implementation_spark.registry import all_specs
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    m, k = _BLOOM_FRONTIER_M, _BLOOM_FRONTIER_K
    docs = load_table(spark, SF_DIR_001, "documents")
    c = docs.select(F.col("doc_id"), _synth_url().alias("url")).select(
        "doc_id", canonicalize_url(F.col("url")).alias("curl"))
    hist_curls = {r["curl"] for r in
                  c.filter(F.col("doc_id") % 7 < 5).select("curl")
                  .distinct().collect()}
    inc_curls = {r["curl"] for r in
                 c.filter(F.col("doc_id") % 7 >= 5).select("curl")
                 .distinct().collect()}
    truly_new = inc_curls - hist_curls
    assert truly_new and (inc_curls & hist_curls), "split must mix both"

    bound = (1 - math.exp(-k * len(hist_curls) / m)) ** k
    try:
        rows = all_specs()["dedup_bloom_frontier"].fn(
            spark, SF_DIR_001).collect()
        assert rows
        for r in rows:
            assert r["n_hist_keys"] == len(hist_curls), (
                r["n_hist_keys"], len(hist_curls))
        # measured FPR: probe the truly-new keys against the bitmap
        hist = c.filter(F.col("doc_id") % 7 < 5).select("curl")
        bloom = _bloom_bitmap(hist, F.col("curl"), m, k, "_bloom")
        probe = spark.createDataFrame([(u,) for u in sorted(truly_new)],
                                      "curl string")
        probed = _bloom_positions(probe.crossJoin(F.broadcast(bloom)),
                                  F.col("curl"), "_p", m, k)
        fp = probed.where(F.expr(_bloom_probe_sql("_bloom", "_p", k))).count()
    finally:
        release_persisted()
    assert fp / len(truly_new) <= max(3 * bound, 5 / len(truly_new)), (
        fp, len(truly_new), bound)


def test_bloom_params_sizing_delivers_target_fpr(spark):
    """bloom_params' textbook (m, k) must actually deliver the target
    FPR: build a filter over n random keys at fpr=0.02 and probe 4,000
    disjoint keys — measured FPR must stay within 2x the target (the
    formula is an expectation; 2x covers binomial spread at this n)."""
    from mapreduce_implementation_spark.operators.joins import (
        _bloom_bitmap, _bloom_positions, _bloom_probe_sql, bloom_params,
    )

    n = 3000
    m, k = bloom_params(n, fpr=0.02)
    assert m % 64 == 0 and k >= 1
    hist = spark.range(0, n).selectExpr("concat('k', id) AS u")
    probe = spark.range(1_000_000, 1_004_000).selectExpr(
        "concat('k', id) AS u")
    bloom = _bloom_bitmap(hist, F.col("u"), m, k, "_bloom")
    probed = _bloom_positions(probe.crossJoin(F.broadcast(bloom)),
                              F.col("u"), "_p", m, k)
    fp = probed.where(F.expr(_bloom_probe_sql("_bloom", "_p", k))).count()
    assert fp / 4000 <= 0.04, (fp, m, k)
