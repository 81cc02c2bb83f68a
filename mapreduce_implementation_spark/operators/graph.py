"""Distributed connected components over a pair/edge DataFrame.

The LLM-dedup pipeline's clustering step: near-dup *pairs* (MinHash / LSH /
Jaccard joins, operators/dedup.py) become dedup *clusters* by computing the
connected components of the pair graph and keeping min(doc_id) per component
as the canonical representative.

Algorithm: the alternating **large-star / small-star** method of Kiveris et
al., "Connected Components in MapReduce and Beyond" (SoCC'14) — the standard
formulation for exactly this setting (GraphFrames/GraphX use the same
scheme).  Each round is two hash aggregations + joins on the edge list (pure
DataFrame ops, map-side combinable), and the edge list *contracts* toward
star graphs rooted at component minima in O(log n) rounds — unlike naive
min-label flooding, which needs O(graph diameter) rounds and keeps the full
edge list live throughout.  At 100 TB the edge list is the near-dup pair
output (orders of magnitude smaller than the corpus), every round shrinks
it, and nothing ever reaches the driver except a per-round convergence
scalar (count + order-insensitive checksum of the edge list).

Reference parity: the reference engine (mapreduce.c) has no graph operator;
this is north-star surface (SURVEY §2b Q10/Q11 — dedup at scale needs the
clustering step, not just pairwise candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .caching import tracked_persist

__all__ = ["connected_components", "pagerank", "label_propagation",
           "triangle_count", "bfs_distances", "kcore", "hits"]

# Rounds are O(log n); 25 covers any graph that fits on a real cluster
# (2^25 nodes of *diameter* after contraction).  Hitting the cap raises —
# silently returning a half-contracted clustering would be wrong.
_MAX_ROUNDS = 25

# Every physical-mode choice below is made from the input, never by the
# caller.  An edge list of at most this many rows (integral keys) runs
# as one vectorized Arrow task (see _dense_probe); a graph of at most
# _BROADCAST_NODE_LIMIT nodes broadcasts its O(nodes) score vector.
_DENSE_EDGE_LIMIT = 2_000_000
_BROADCAST_NODE_LIMIT = 1_000_000

# hits' declarative chain renormalizes and truncates lineage every this
# many full rounds (the magnitude bound is in its docstring).
_HITS_NORM_EVERY = 2


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct edges oriented large→small, self-loops dropped."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighborhood.

    Emit (v, m(u)) for v in N(u), v > u, where m(u) = min(N(u) ∪ {u});
    operates on the symmetrized edge list.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor (and u itself) to the minimum.

    Operates on large→small oriented edges: for each u with smaller
    neighbors N(u), m = min(N(u)); emit (v, m) for v in N(u) ∪ {u}, v != m.
    """
    e = _canon(edges)
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        e.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _signature(edges: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive checksum) — the only values that ever
    reach the driver; used purely as the convergence test."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _cc_dense_membership(e: DataFrame) -> DataFrame:
    """connected_components' dimension-sized fast path (the graph-family
    precedent): min-label propagation with pointer jumping in ONE
    vectorized Arrow task over the canonical edge list.  Labels only
    ever decrease and are bounded below by the component minimum, so
    the unique fixed point is cluster_id = min node id — exactly the
    star-contraction result — reached in O(log n) vectorized rounds
    (`np.minimum.at` edge relax + p = p[p] jumps).  Returns membership
    for edge-touched nodes only; the caller joins isolated/self-loop
    nodes back, same as the declarative mode."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vs = np.unique(np.concatenate(
            [pdf["u"].to_numpy(), pdf["v"].to_numpy()]))
        ui = _relabel(vs, pdf["u"].to_numpy())
        vi = _relabel(vs, pdf["v"].to_numpy())
        p = np.arange(len(vs))
        while True:
            old = p.copy()
            np.minimum.at(p, ui, p[vi])
            np.minimum.at(p, vi, p[ui])
            while True:
                pp = p[p]
                if np.array_equal(pp, p):
                    break
                p = pp
            if np.array_equal(p, old):
                break
        return pd.DataFrame({"node": vs.astype("int64"),
                             "cluster_id": vs[p].astype("int64")})

    return (e.groupBy(F.lit(1).alias("_g"))
            .applyInPandas(solve, "node bigint, cluster_id bigint"))


def connected_components(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cluster assignment for every node appearing in ``pairs``.

    Returns ``(node, cluster_id)`` with ``cluster_id`` = the minimum node id
    of the component (deterministic canonical representative).  Runs
    large-star/small-star rounds until the edge list is a fixed point (a
    star forest rooted at each component's minimum).  Canonical edge
    lists that pass :func:`_dense_probe` resolve in one vectorized task
    — :func:`_cc_dense_membership`; the convergence-looped star
    contraction (with its per-round signature collects) remains the
    past-the-limit mode.
    """
    # persist the 2-column pair projection FIRST: the `nodes` union and
    # the canonical edge build are separate consumers, and without this
    # the upstream pair pipeline (often an expensive similarity join)
    # re-runs for each branch — measured 2-4 s per extra traversal on
    # dedup_clusters' trigram-Jaccard join at sf0.1
    pv = tracked_persist(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")))
    nodes = (
        pv.select(F.col("u").alias("node"))
        .union(pv.select(F.col("v").alias("node")))
        .distinct()
    )
    # checkpoint the canonical edges BEFORE the probe so the distinct
    # runs once, not once for the limit-capped count and again for
    # whichever mode runs
    edges = _canon(pv).localCheckpoint(eager=True)
    if _dense_probe(edges, ("u", "v")):
        # cast the int64 Arrow output back to the input key type so the
        # output schema is identical to the declarative mode's (ADVICE
        # r7: the physical mode must never leak into the schema)
        kt = edges.schema["v"].dataType
        membership = _cc_dense_membership(edges)
        return (nodes.join(membership, "node", "left")
                .select("node",
                        F.coalesce(F.col("cluster_id").cast(kt),
                                   F.col("node")).alias("cluster_id")))
    sig = _signature(edges)
    for _ in range(_MAX_ROUNDS):
        stepped = _small_star(_large_star(edges))
        # localCheckpoint truncates the per-round lineage (plans would
        # otherwise nest one analysis tree per round) and materializes the
        # contracted edge list so each round scans its predecessor once.
        stepped = stepped.localCheckpoint(eager=True)
        new_sig = _signature(stepped)
        edges = stepped
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds")
    # Fixed point: every edge is (member, root).  Roots map to themselves.
    membership = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    return (
        nodes.join(membership, "node", "left")
        .select("node", F.coalesce("cluster_id", "node").alias("cluster_id"))
    )


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _dense_probe(e: DataFrame, key_cols: tuple[str, str],
                 weight_col: str | None = None) -> bool:
    """The ONE auto-gate for every dense Arrow fast path in this module
    (pagerank/hits/label_propagation/bfs/sssp/kcore share it so a
    contract fix lands everywhere at once): BOTH vertex key columns
    must be integral (the int64 relabeling contract), ``weight_col`` —
    when given — must be integral too (sssp's exact min-plus truncates
    fractional weights, so float-weight callers stay declarative), and
    the edge list must fit one Arrow batch (a ``_DENSE_EDGE_LIMIT``-capped
    count — never scans more than limit+1 rows of the persisted frame)."""
    dtypes = {f.name: f.dataType.simpleString() for f in e.schema.fields}
    if any(dtypes[c] not in _INTEGRAL for c in key_cols):
        return False
    if weight_col is not None and dtypes[weight_col] not in _INTEGRAL:
        return False
    return e.limit(_DENSE_EDGE_LIMIT + 1).count() <= _DENSE_EDGE_LIMIT


def _broadcast_hint(n1: DataFrame):
    """F.broadcast for a node set of at most ``_BROADCAST_NODE_LIMIT``
    rows (LIMIT-capped count), identity past it: pagerank's and hits'
    score vector then joins by key as a shuffled hash join."""
    small = (n1.limit(_BROADCAST_NODE_LIMIT + 1).count()
             <= _BROADCAST_NODE_LIMIT)
    return F.broadcast if small else (lambda df: df)


def _relabel(vs, arr):
    """Indices of ``arr``'s values in the SORTED unique vertex array —
    vectorized np.searchsorted, not a Python dict: at the 2M-row batch
    cap a dict .map() costs millions of interpreter-level lookups
    inside the task these fast paths exist to shrink."""
    import numpy as np

    return np.searchsorted(vs, arr)


def _pagerank_dense(e: DataFrame, n1: DataFrame, cnt: DataFrame,
                    iters: int, damping: float,
                    rs: DataFrame | None = None) -> DataFrame:
    """pagerank()'s dimension-sized fast path (the hits()/_hits_dense
    precedent): the whole damped power iteration as ONE vectorized Arrow
    task over the aggregated edge list — bincount scatter-add matvecs,
    O(edges) time, O(nodes) memory, executor-side (never the driver).
    The global node count rides in as a broadcast column so teleport
    mass and the uniform start are exact; isolated nodes (no edges at
    all) join back with their closed-form stationary rank (1-d)/n.

    ``rs`` (r8) personalizes the walk the same way the declarative
    chain does: the per-node reset mass rides INTO the Arrow batch as
    two extra edge columns (the src's and dst's reset value — exactly
    how ``_n`` rides in for the uniform case), so the O(nodes) reset
    state never needs its own transport; isolated nodes join back with
    their closed form (1-d)*s_v.  A source whose out-weights sum to 0
    is masked out of the contribution scatter — the declarative chain's
    ``w/_ow`` divide-by-zero yields NULL which F.sum skips, and the
    mask reproduces that exactly instead of letting 0/0 = NaN poison
    every rank (ADVICE r7)."""
    import pandas as pd

    personalized = rs is not None

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # sorted rows => deterministic float accumulation order
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        vs = np.unique(np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]))
        si = _relabel(vs, pdf["src"].to_numpy())
        di = _relabel(vs, pdf["dst"].to_numpy())
        w = pdf["w"].to_numpy(dtype="float64")
        m = len(vs)
        ow = np.bincount(si, weights=w, minlength=m)
        # zero-out-weight sources contribute nothing (declarative
        # parity: w/_ow is NULL on _ow == 0 and F.sum skips NULLs)
        nz = ow[si] != 0.0
        siz, diz, wz, owz = si[nz], di[nz], w[nz], ow[si][nz]
        if personalized:
            s = np.zeros(m)
            s[si] = pdf["_s_src"].to_numpy(dtype="float64")
            s[di] = pdf["_s_dst"].to_numpy(dtype="float64")
            r = s.copy()
            tele = (1.0 - damping) * s
        else:
            n_total = float(pdf["_n"].iloc[0])
            r = np.full(m, 1.0 / n_total)
            tele = (1.0 - damping) / n_total
        for _ in range(iters):
            contrib = np.bincount(diz, weights=r[siz] * wz / owz,
                                  minlength=m)
            r = tele + damping * contrib
        return pd.DataFrame({"v": vs.astype("int64"), "r": r})

    if personalized:
        s_src = rs.select(F.col("v").alias("src"),
                          F.col("_rs").alias("_s_src"))
        s_dst = rs.select(F.col("v").alias("dst"),
                          F.col("_rs").alias("_s_dst"))
        scored = (
            e.join(F.broadcast(s_src), "src", "left")
            .join(F.broadcast(s_dst), "dst", "left")
            .select("src", "dst", "w",
                    F.coalesce("_s_src", F.lit(0.0)).alias("_s_src"),
                    F.coalesce("_s_dst", F.lit(0.0)).alias("_s_dst"))
            .groupBy(F.lit(1).alias("_g"))
            .applyInPandas(solve, "v bigint, r double"))
        # rs is node-complete by construction (pagerank() builds it as
        # n1 LEFT JOIN reset with a 0.0 coalesce), so the densify joins
        # the isolated-node closed form straight off rs — re-joining n1
        # would be a third tiny-frame join per query for nothing (r8
        # VERDICT item 4: seed-build overhead).
        return (rs.join(scored, "v", "left")
                .select("v", F.coalesce(
                    F.col("r"),
                    (F.lit(1.0) - F.lit(damping))
                    * F.col("_rs")).alias("r")))
    scored = (e.crossJoin(F.broadcast(cnt))
              .groupBy(F.lit(1).alias("_g"))
              .applyInPandas(solve, "v bigint, r double"))
    return (n1.crossJoin(F.broadcast(cnt))
            .join(scored, "v", "left")
            .select("v", F.coalesce(
                F.col("r"),
                (F.lit(1.0) - F.lit(damping)) / F.col("_n")).alias("r")))


def pagerank(edges: DataFrame, nodes: DataFrame, iters: int = 5,
             damping: float = 0.85,
             reset: DataFrame | None = None) -> DataFrame:
    """Weighted PageRank over an edge list ``(src, dst, w)``.

    ``reset`` (optional) personalizes the walk: a ``(v, s)`` frame whose
    ``s`` sums to 1 replaces the uniform teleport — each round's
    restart mass lands as ``(1-d)*s_v`` via one broadcast join, and the
    initial rank vector is the reset distribution itself, so seeded
    relevance costs the same per round as global PageRank.

    Power iteration expressed as DataFrame ops: each round is ONE join of
    the rank vector onto the (large) edge list + one aggregation on dst —
    the edge list is hash-partitioned once and reused, and nothing
    touches the driver.  ``edges``/out-weights are persisted so the
    expensive edge build runs once, not once per iteration.
    Dangling-node mass is dropped (the standard simplification); node
    count enters the plan as a broadcast 1-row aggregate, never a Python
    scalar.

    Rank-vector strategy: the vector is O(nodes).  For dimension-sized
    graphs (the 25-node trade graph) it broadcasts — zero shuffle per
    iteration.  At web-scale node counts a broadcast exceeds executor
    memory, so past ``_BROADCAST_NODE_LIMIT`` nodes (a LIMIT-capped
    count, :func:`_broadcast_hint`) the vector joins by ``src`` as a
    plain shuffled hash join instead (same result, one extra exchange
    per iteration — the Pregel-style layout).  Both modes are
    oracle-identical —
    tests/test_graph_text.py::test_pagerank_shuffle_mode_matches_broadcast.

    Dense fast path (the hits() precedent, r7): when the AGGREGATED edge
    list passes :func:`_dense_probe` (≤ ``_DENSE_EDGE_LIMIT`` rows,
    integral keys), the whole iteration runs instead as ONE vectorized
    ``applyInPandas`` task — see :func:`_pagerank_dense`.  Personalized
    walks qualify too (r8): the reset distribution is O(nodes) state,
    but only the edge-touched slice of it matters inside the batch, and
    that slice rides in as two per-edge columns; isolated nodes keep
    their closed-form (1-d)*s_v at the densify.  All three physical modes
    agree to 1e-9 (test_pagerank_shuffle_mode_matches_broadcast;
    reset parity in test_personalized_pagerank_dense_matches).

    Reference parity: none — mapreduce.c has no graph surface; this is
    north-star iterative-analytics surface (the PageRank-in-MapReduce
    formulation of Page et al. / the classic Hadoop example, re-expressed
    declaratively).
    """
    # iters=0 would expose a dense/declarative discrepancy in the
    # pre-iteration state (raw reset mass vs the closed-form densify) —
    # a zero-round "PageRank" has no meaning anyway, so reject it at
    # the contract instead of letting the physical mode pick an answer
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # NULL-weight/endpoint edges are dropped up front: the declarative
    # chain's F.sum/joins skip them anyway (dropping is equivalence-
    # preserving), and the dense numpy path must never see NaN
    e = tracked_persist(
        edges.select("src", "dst", F.col("w").cast("double").alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & F.col("w").isNotNull()))
    n1 = nodes.select(F.col("v")).distinct()
    cnt = n1.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    rs = None
    if reset is not None:
        rs = tracked_persist(
            n1.join(reset.select("v", F.col("s").cast("double").alias("_rs")),
                    "v", "left")
            .select("v", F.coalesce("_rs", F.lit(0.0)).alias("_rs")))
    # dimension-sized dense fast path (see _pagerank_dense / hits()).
    # Personalized walks qualify too (r8): the O(nodes) reset state
    # rides into the Arrow batch as two per-edge columns, so the probe
    # is the same edge-list-fits-one-batch test either way.
    if _dense_probe(e, ("src", "dst")):
        return _pagerank_dense(e, n1, cnt, iters, damping, rs=rs)
    outw = tracked_persist(e.groupBy("src").agg(F.sum("w").alias("_ow")))
    hint = _broadcast_hint(n1)
    if reset is None:
        ranks = n1.crossJoin(F.broadcast(cnt)).select(
            "v", (F.lit(1.0) / F.col("_n")).alias("r"))
    else:
        ranks = rs.select("v", F.col("_rs").alias("r"))
    for _i in range(iters):
        contrib = (
            e.join(outw, "src")
            .join(hint(ranks), F.col("src") == F.col("v"))
            .groupBy("dst")
            # try_divide: a source whose weights sum to exactly 0 (w=0.0
            # edges pass the isNotNull filter) contributes nothing —
            # NULL is skipped by F.sum.  A bare `/` would THROW
            # DIVIDE_BY_ZERO under ANSI mode (Spark 4 default) and
            # silently NULL under non-ANSI; try_divide pins the
            # contribute-nothing semantics in both configs, matching
            # the dense path's zero-out-weight mask (ADVICE r7).
            .agg(F.sum(F.try_divide(F.col("r") * F.col("w"),
                                    F.col("_ow"))).alias("_s"))
        )
        base = (n1.crossJoin(F.broadcast(cnt))
                .join(contrib, F.col("v") == F.col("dst"), "left"))
        if rs is None:
            tele = (1.0 - damping) / F.col("_n")
        else:
            base = base.join(F.broadcast(rs), "v", "left")
            tele = (1.0 - damping) * F.coalesce(F.col("_rs"), F.lit(0.0))
        ranks = base.select(
            "v",
            (tele + damping * F.coalesce(F.col("_s"), F.lit(0.0))).alias("r"),
        )
        # truncate the per-round lineage (the CC idiom): without this the
        # plan nests one join tree per iteration and Catalyst re-analyzes
        # the whole stack each round — measured ~1 s/round locally.  The
        # rank vector is O(nodes); a cluster deployment caring about
        # executor loss swaps this for reliable checkpoint().  The LAST
        # round stays lazy so the returned frame's plan still shows the
        # iteration shape (plan-pinned by tests) and composes with
        # downstream pushdown.
        if _i < iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _kcore_dense(e: DataFrame, k: int, rounds: int) -> DataFrame:
    """kcore()'s dimension-sized fast path (the graph-family precedent):
    all peeling rounds in ONE vectorized Arrow task over the canonical
    edge list — per round one pair of bincounts for the symmetric
    degree and a boolean mask restricting edges to surviving endpoints.
    Pure integer math, so exactly the declarative semantics including
    mid-cascade nodes (the output keeps every node with a surviving
    edge, even below k, exactly like the final groupBy)."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vs = np.unique(np.concatenate(
            [pdf["u"].to_numpy(), pdf["v"].to_numpy()]))
        ui = _relabel(vs, pdf["u"].to_numpy())
        vi = _relabel(vs, pdf["v"].to_numpy())
        m = len(vs)
        alive = np.ones(len(ui), dtype=bool)
        for _ in range(rounds):
            deg = (np.bincount(ui[alive], minlength=m)
                   + np.bincount(vi[alive], minlength=m))
            keep = deg >= k
            alive &= keep[ui] & keep[vi]
        deg = (np.bincount(ui[alive], minlength=m)
               + np.bincount(vi[alive], minlength=m))
        sel = deg > 0
        return pd.DataFrame({"node": vs[sel].astype("int64"),
                             "core_deg": deg[sel].astype("int64")})

    return (e.groupBy(F.lit(1).alias("_g"))
            .applyInPandas(solve, "node bigint, core_deg bigint"))


def kcore(edges: DataFrame, a_col: str, b_col: str, k: int,
          rounds: int) -> DataFrame:
    """k-core decomposition by synchronous iterative peeling: repeatedly
    drop every node of degree < ``k`` (with the cascade — removing a
    node lowers its neighbors' degrees, which may push THEM under k)
    until a fixed point.  Returns ``(node, core_deg)`` for the nodes of
    the ``rounds``-round peel, with their degree inside the surviving
    subgraph.  The k-core is the standard dense-subgraph primitive
    (Seidman 1983, "Network structure and minimum degree"); in a dedup
    pipeline it separates tight near-duplicate communities from
    stragglers that LSH banding happened to pair once.

    Each round is one symmetrized degree aggregate (map-side
    combinable) + two semi joins restricting the edge list to surviving
    endpoints — all keyed operations, nothing driver-side, and the edge
    list only ever SHRINKS, so the 100 TB posture is the
    connected_components one: iteration cost tracks the (contracting)
    edge list.  The fixed unrolled ``rounds`` keeps the computation
    oracle-able (the DuckDB twin unrolls identical CTE rounds, so both
    sides agree even mid-cascade); production at unknown diameter swaps
    the fixed count for connected_components' signature-convergence
    loop.  Lineage truncates per round (see pagerank; last round stays
    lazy).  Canonical edge lists that pass :func:`_dense_probe` peel in
    one vectorized task — :func:`_kcore_dense`.
    """
    e = tracked_persist(
        edges.select(F.least(F.col(a_col), F.col(b_col)).alias("u"),
                     F.greatest(F.col(a_col), F.col(b_col)).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct())
    if _dense_probe(e, ("u", "v")):
        # int64 Arrow output cast back to the input key type: both
        # physical modes must return identical schemas (ADVICE r7)
        kt = e.schema["u"].dataType
        return (_kcore_dense(e, k, rounds)
                .select(F.col("node").cast(kt).alias("node"), "core_deg"))
    for _i in range(rounds):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        keep = (sym.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k).select("u"))
        e = (e.join(keep, "u", "left_semi")
             .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
             .select("u", "v"))
        if _i < rounds - 1:
            e = e.localCheckpoint(eager=True)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (sym.groupBy("u").agg(F.count(F.lit(1)).alias("core_deg"))
            .select(F.col("u").alias("node"), "core_deg"))


def triangle_count(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-node triangle counts via the ordered two-path join (Suri &
    Vassilvitskii, WWW'11 "Counting triangles and the curse of the last
    reducer").

    Edges are canonicalized to u < v (undirected, loops dropped), so each
    triangle {a<b<c} exists exactly once as the edge triple (a,b), (a,c),
    (b,c): one self-join builds ordered 2-paths (a,b)-(a,c) with b<c, one
    semi-ish join against the edge set closes them.  The ordering is the
    scale trick — a high-degree hub only fans out pairs among its
    HIGHER-ordered neighbors, killing the quadratic last-reducer that a
    naive undirected 2-path join hits on skewed graphs.  (The classic
    refinement orders by degree instead of id for worst-case m^1.5; id
    order keeps the operator deterministic and oracle-checkable and is
    the same join plan.)

    Returns (node, n_triangles) for every node that closes >=1 triangle.
    """
    e = (edges.select(F.least(F.col(a_col), F.col(b_col)).alias("u"),
                      F.greatest(F.col(a_col), F.col(b_col)).alias("v"))
         .filter(F.col("u") < F.col("v"))
         .distinct())
    p1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    p2 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    paths = p1.join(p2, "a").filter(F.col("b") < F.col("c"))
    closing = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = paths.join(closing, ["b", "c"])
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def _label_propagation_dense(e: DataFrame, n1: DataFrame,
                             iters: int) -> DataFrame:
    """label_propagation()'s dimension-sized fast path (the
    hits()/pagerank() precedent): all rounds in ONE vectorized Arrow
    task.  Per round the (dst, label) weight sums come from one
    np.unique over combined int64 keys + bincount (O(E log E), no dense
    matrix), and the argmax-with-min-label-tie is a lexsort picking the
    first row per dst — node ids relabeled through the SORTED unique
    vertex array, so smallest-index == smallest-label and the tie order
    matches the declarative window exactly.  Nodes receiving no mass
    revert to their own id each round, mirroring the declarative
    coalesce."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # sorted rows => deterministic float accumulation order
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        vs = np.unique(np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]))
        si = _relabel(vs, pdf["src"].to_numpy())
        di = _relabel(vs, pdf["dst"].to_numpy())
        w = pdf["w"].to_numpy(dtype="float64")
        m = len(vs)
        lab = np.arange(m)
        for _ in range(iters):
            key = di.astype(np.int64) * m + lab[si]
            uk, inv = np.unique(key, return_inverse=True)
            s = np.bincount(inv, weights=w)
            dsts = uk // m
            labs = uk % m
            order = np.lexsort((labs, -s, dsts))
            du = dsts[order]
            first = np.ones(len(du), dtype=bool)
            first[1:] = du[1:] != du[:-1]
            nxt = np.arange(m)
            nxt[du[first]] = labs[order][first]
            lab = nxt
        return pd.DataFrame({"v": vs.astype("int64"),
                             "label": vs[lab].astype("int64")})

    scored = (e.groupBy(F.lit(1).alias("_g"))
              .applyInPandas(solve, "v bigint, label bigint"))
    # int64 Arrow output cast back to the node key type: both physical
    # modes must return identical schemas (ADVICE r7)
    kt = n1.schema["v"].dataType
    return (n1.join(scored, "v", "left")
            .select("v", F.coalesce(F.col("label").cast(kt),
                                    F.col("v")).alias("label")))


def label_propagation(edges: DataFrame, nodes: DataFrame,
                      iters: int = 5) -> DataFrame:
    """Synchronous weighted label propagation (community detection,
    Raghavan et al. 2007) — deterministic variant: every node
    simultaneously adopts the label with the highest incident edge
    weight among its neighbors, ties broken by smallest label;
    isolated nodes keep their own id.  Returns ``(v, label)`` after
    ``iters`` rounds from the all-singleton start.

    Scale shape mirrors ``pagerank``: the (contracted) edge list is
    persisted and hash-partitioned once; each round is one equi-join of
    the label vector onto edges, one (dst, label) partial-aggregable
    sum, and one KEYED window (partitioned by dst — never a global
    window) to pick the argmax.  The label vector is O(nodes) and joins
    by key — no broadcast requirement, so the operator is web-scale by
    construction.  Synchronous update + min-label tie-break makes the
    fixed iteration count exactly reproducible (and therefore
    oracle-able), unlike the asynchronous/random-order formulation.

    Dense fast path (the hits()/pagerank() precedent, r7): when the
    aggregated edge list passes :func:`_dense_probe` (≤
    ``_DENSE_EDGE_LIMIT`` rows, integral keys) AND the caller's weight
    column is integral (the tie-break contract, see the probe comment
    below), all rounds run as ONE vectorized ``applyInPandas`` task —
    see :func:`_label_propagation_dense`; past the limit (or with float
    weights) the declarative chain below runs unchanged.  Both modes
    parity-tested (test_label_propagation_modes_match).  Like the other
    graph operators, edge endpoints are expected to be a subset of
    ``nodes``.
    """
    from pyspark.sql.window import Window

    from .caching import tracked_persist

    # NULL-weight/endpoint edges dropped up front (see pagerank: the
    # declarative chain skips them anyway; dense numpy must not see NaN)
    e = tracked_persist(
        edges.select("src", "dst", F.col("w").cast("double").alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & F.col("w").isNotNull()))
    n1 = nodes.select(F.col("v")).distinct()
    # The auto-probe additionally requires an INTEGRAL caller weight
    # column (checked on ``edges`` BEFORE the double cast above): the
    # argmax/min-label tie-break only provably matches the declarative
    # window when per-(dst,label) sums are bit-identical, and float
    # sums that tie mathematically can differ by 1 ulp between numpy's
    # sorted accumulation and Spark's partition-order aggregation
    # (ADVICE r7).  Integer weights make every sum exact in both
    # engines, so ties break identically; float-weight callers stay on
    # one deterministic mode (declarative).
    w_integral = edges.schema["w"].dataType.simpleString() in _INTEGRAL
    if w_integral and _dense_probe(e, ("src", "dst")):
        return _label_propagation_dense(e, n1, iters)
    labels = n1.select("v", F.col("v").alias("label"))
    w_pick = Window.partitionBy("dst").orderBy(F.desc("_s"), F.asc("label"))
    for _i in range(iters):
        scores = (
            e.join(labels, F.col("src") == F.col("v"))
            .groupBy("dst", "label").agg(F.sum("w").alias("_s"))
        )
        picked = (
            scores.withColumn("_rn", F.row_number().over(w_pick))
            .filter(F.col("_rn") == 1)
            .select(F.col("dst"), F.col("label").alias("_new"))
        )
        labels = (
            n1.join(picked, F.col("v") == F.col("dst"), "left")
            .select("v", F.coalesce("_new", F.col("v")).alias("label"))
        )
        # lineage truncation per round (see pagerank; last round stays
        # lazy for plan inspection): label vector is O(nodes), and
        # without it plan analysis grows per iteration
        if _i < iters - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels


def _bellman_ford_dense(e: DataFrame, n1: DataFrame, source, rounds: int,
                        weighted: bool, out_type: str) -> DataFrame:
    """Shared dimension-sized fast path for :func:`bfs_distances` /
    :func:`sssp_weighted` (the hits()/pagerank()/LPA precedent): all
    synchronous relaxation rounds in ONE vectorized Arrow task.  Each
    round is a masked ``np.minimum.at`` scatter over the previous
    round's vector — int64 min-plus, exact, no float ever touches a
    distance.  Unreached nodes stay NULL through a pandas nullable
    Int64 column; a source outside the edge vertex set is pinned to 0
    at the densify."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vs = np.unique(np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]))
        si = _relabel(vs, pdf["src"].to_numpy())
        di = _relabel(vs, pdf["dst"].to_numpy())
        w = (pdf["w"].to_numpy(dtype="int64") if weighted
             else np.ones(len(si), dtype="int64"))
        m = len(vs)
        inf = np.iinfo(np.int64).max // 2  # +w can never overflow
        dist = np.full(m, inf, dtype="int64")
        src_i = int(np.searchsorted(vs, source))
        if src_i < m and vs[src_i] == source:
            dist[src_i] = 0
        for _ in range(rounds):
            mask = dist[si] < inf
            nxt = dist.copy()
            np.minimum.at(nxt, di[mask], dist[si][mask] + w[mask])
            dist = nxt
        return pd.DataFrame({
            "v": vs.astype("int64"),
            "d": pd.array([None if x >= inf else int(x) for x in dist],
                          dtype="Int64"),
        })

    scored = (e.groupBy(F.lit(1).alias("_g"))
              .applyInPandas(solve, "v bigint, d bigint"))
    return (n1.join(scored, "v", "left")
            .select("v", F.when(F.col("v") == source, F.lit(0))
                    .otherwise(F.col("d")).cast(out_type).alias("dist")))


def bfs_distances(edges: DataFrame, nodes: DataFrame, source,
                  max_hops: int = 5) -> DataFrame:
    """Single-source shortest HOP distances (multi-round distributed
    BFS / the unit-weight Bellman-Ford relaxation): ``(v, dist)`` with
    NULL dist for nodes unreachable within ``max_hops``.

    Each round relaxes every edge once — one equi-join of the current
    distance vector onto the edge list, one (dst) min-aggregate, one
    key-joined merge with the previous vector: the Pregel superstep
    expressed declaratively.  The distance vector is O(nodes) and joins
    by key (no broadcast requirement — same web-scale posture as the
    shuffled-rank PageRank mode); rounds run a fixed count with
    ``localCheckpoint`` lineage truncation per round (the CC idiom) —
    deterministic, so still oracle-able.  At true web diameter, swap
    the fixed count for the convergence test ``connected_components``
    uses.  Edge lists that pass :func:`_dense_probe` run all rounds in
    one vectorized task — :func:`_bellman_ford_dense`.
    """
    # infinity sentinel derived from max_hops (a reachable distance is
    # <= max_hops, so max_hops + 1 can never collide with a real value);
    # a magic constant here silently mis-NULLed distances >= it
    inf = max_hops + 1
    e = tracked_persist(
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    n1 = nodes.select(F.col("v")).distinct()
    # dimension-sized dense fast path (see _bellman_ford_dense): exact
    # int64 min-plus in one Arrow task when the edge list fits a batch
    if _dense_probe(e, ("src", "dst")):
        return _bellman_ford_dense(e, n1, source, max_hops,
                                   weighted=False, out_type="int")
    dist = n1.select(
        "v", F.when(F.col("v") == source, 0).cast("int").alias("d"))
    for _i in range(max_hops):
        relaxed = (
            e.join(dist.filter(F.col("d").isNotNull()),
                   F.col("src") == F.col("v"))
            .groupBy("dst").agg((F.min("d") + 1).alias("_nd"))
        )
        dist = (
            dist.join(relaxed, dist.v == relaxed.dst, "left")
            .select(dist.v,
                    F.least(F.coalesce(F.col("d"), F.lit(inf)),
                            F.coalesce(F.col("_nd"), F.lit(inf))).alias("_m"))
            .select("v", F.when(F.col("_m") < inf,
                                F.col("_m")).cast("int").alias("d"))
        )
        # lineage truncation per round (see pagerank; last round stays
        # lazy for plan inspection): the nested join-per-hop plan costs
        # ~1 s/round of pure analysis otherwise; the distance vector is
        # O(nodes) and the edge list is persisted, so each round's job
        # is one cached-edge join + tiny aggregate
        if _i < max_hops - 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.withColumnRenamed("d", "dist")


def sssp_weighted(edges: DataFrame, nodes: DataFrame, source,
                  rounds: int, max_edge_w: int) -> DataFrame:
    """Single-source shortest WEIGHTED path distances (Bellman-Ford):
    ``(v, dist)`` with NULL dist for nodes not reached within
    ``rounds`` relaxation rounds.  Generalizes :func:`bfs_distances`
    from hop counting to integer edge weights — each round relaxes
    every edge once with ``min(dist[src] + w)`` instead of
    ``min(dist) + 1``.

    ``max_edge_w`` must upper-bound every edge weight; the infinity
    sentinel is derived as ``rounds * max_edge_w + 1`` (no reachable
    distance can collide — the magic-constant lesson from the BFS
    sentinel).  Integer weights keep the min-plus algebra exact in any
    engine; callers with float costs should scale to integers first.

    Scale shape: the distance vector is O(nodes) and joins by key (no
    broadcast requirement); each round is one edge equi-join + one
    (dst) min-aggregate + one keyed merge — the Pregel superstep,
    declaratively, a fixed round count with ``localCheckpoint``
    lineage truncation per round (deterministic, so still oracle-able).
    At true web scale swap the fixed count for the convergence test
    ``connected_components`` uses.  Edge lists that pass
    :func:`_dense_probe` with an integral weight column run all rounds
    in one vectorized task — :func:`_bellman_ford_dense`.
    """
    if max_edge_w < 1:
        raise ValueError("max_edge_w must be >= 1")
    inf = rounds * max_edge_w + 1
    e = tracked_persist(
        edges.select("src", "dst", "w")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & F.col("w").isNotNull()))
    n1 = nodes.select(F.col("v")).distinct()
    # dimension-sized dense fast path (see _bellman_ford_dense): exact
    # int64 min-plus in one Arrow task when the edge list fits a batch;
    # the probe also requires an INTEGRAL weight column — the contract
    # says integer weights, and gating (rather than truncating) keeps
    # float-weight callers on the declarative chain with unchanged math
    if _dense_probe(e, ("src", "dst"), weight_col="w"):
        return _bellman_ford_dense(e, n1, source, rounds,
                                   weighted=True, out_type="long")
    dist = n1.select(
        "v", F.when(F.col("v") == source, 0).cast("long").alias("d"))
    for _i in range(rounds):
        relaxed = (
            e.join(dist.filter(F.col("d").isNotNull()),
                   F.col("src") == F.col("v"))
            .groupBy("dst").agg(F.min(F.col("d") + F.col("w")).alias("_nd"))
        )
        dist = (
            dist.join(relaxed, dist.v == relaxed.dst, "left")
            .select(dist.v,
                    F.least(F.coalesce(F.col("d"), F.lit(inf)),
                            F.coalesce(F.col("_nd"), F.lit(inf))).alias("_m"))
            .select("v", F.when(F.col("_m") < inf,
                                F.col("_m")).cast("long").alias("d"))
        )
        # lineage truncation per round (see bfs_distances; last round
        # stays lazy): flattens the nested Bellman-Ford plan from
        # O(rounds^2) analysis to O(rounds)
        if _i < rounds - 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.withColumnRenamed("d", "dist")


def _hits_dense(e: DataFrame, n1: DataFrame, iters: int) -> DataFrame:
    """hits()'s dimension-sized fast path: the whole power iteration as
    ONE vectorized Arrow task over the aggregated edge list (executor-
    side numpy, never the driver).  Each half-step is a ``bincount``
    scatter-add matvec — O(edges) time, O(nodes) memory, no dense n×n
    matrix — with the same per-half-step L2 normalization (zero norm →
    divide by 1) as the declarative chain.  Isolated nodes join back as
    0.0 in the final densify, identical to the declarative mode."""
    import pandas as pd

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # sorted rows => deterministic float accumulation order
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        vs = np.unique(np.concatenate(
            [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]))
        si = _relabel(vs, pdf["src"].to_numpy())
        di = _relabel(vs, pdf["dst"].to_numpy())
        w = pdf["w"].to_numpy(dtype="float64")
        n = len(vs)
        h = np.ones(n)
        a = h
        for _ in range(iters):
            a = np.bincount(di, weights=w * h[si], minlength=n)
            a = a / (np.sqrt((a * a).sum()) or 1.0)
            h = np.bincount(si, weights=w * a[di], minlength=n)
            h = h / (np.sqrt((h * h).sum()) or 1.0)
        return pd.DataFrame(
            {"v": vs.astype("int64"), "hub": h, "authority": a})

    scored = (e.groupBy(F.lit(1).alias("_g"))
              .applyInPandas(solve, "v bigint, hub double, authority double"))
    return (n1.join(scored, "v", "left")
            .select("v", F.coalesce("hub", F.lit(0.0)).alias("hub"),
                    F.coalesce("authority", F.lit(0.0)).alias("authority")))


def hits(edges: DataFrame, nodes: DataFrame, iters: int = 2) -> DataFrame:
    """Weighted HITS (Kleinberg, "Authoritative sources in a hyperlinked
    environment", JACM 1999): alternating hub/authority power iteration,
    L2-normalized.  Same execution shape as pagerank(): the edge list is
    persisted and reused across rounds; each half-step is one join of
    the O(nodes) score vector onto the edges + one partial-aggregable
    sum keyed on the opposite endpoint; the L2 normalizer enters the
    plan as a broadcast 1-row aggregate, never a Python scalar.  The
    score vector broadcasts for dimension-sized graphs and falls back to
    a shuffled hash join past ``_BROADCAST_NODE_LIMIT`` nodes — the
    same :func:`_broadcast_hint` gate pagerank uses.

    Returns (v, hub, authority) after ``iters`` full authority-then-hub
    rounds from the all-ones hub start (deterministic, RNG-free, so an
    oracle can unroll the identical rounds as chained CTEs).

    Two algebraic facts carry the whole cost model:

    * **Sparsity** — a node that receives no mass has score exactly 0,
      and zero scores contribute exactly 0 to both the next propagation
      sum and the L2 norm, so iteration runs on the sparse scored frame
      and the join back onto all nodes happens ONCE, at the end.
    * **Scale invariance** — every update is linear, so per-half-step
      normalization only rescales: the final normalized directions are
      identical whether you normalize each half-step or defer.  The
      iteration therefore chains UNNORMALIZED propagations lazily (one
      join + one agg per half-step, a linear plan with no norm
      subqueries doubling branches) and pays normalization only at
      renormalization points.  This is what took the r6 query from
      3.4 s to ~1 s on the 25-node trade graph: the old shape spent 4
      jobs + 8 broadcast exchanges normalizing 25-row frames.

    ``_HITS_NORM_EVERY`` (2) bounds the unnormalized stretch: every
    that many full rounds, both vectors renormalize and localCheckpoint
    (truncating lineage to O(iters/2) — the sssp/pagerank idiom).
    Magnitude grows at most ×(max L1 row weight)² per round, so values
    stay under ~W⁴·√n — overflow-safe for row weights to 1e70.  A zero
    L2 norm (edge-free graph, or a
    half-step where all mass dies) divides by 1 instead, yielding
    all-zero scores rather than NULLs — mirroring power_iteration_top's
    nrm == 0 branch.

    **Dense fast path** (the embedding_pca_power / IVF-centroid
    precedent): the iteration state is O(active nodes + edges) — after
    the data-sized edge aggregation, a graph whose AGGREGATED edge list
    passes :func:`_dense_probe` (≤ ``_DENSE_EDGE_LIMIT`` rows, integral
    keys) iterates fastest as ONE vectorized
    numpy task (``applyInPandas`` over a single group: per-half-step
    ``bincount`` matvecs, O(edges) time, O(nodes) memory, rows sorted by
    (src, dst) first so float accumulation order is deterministic).
    Nothing touches the driver; the 25-node trade graph drops from ~8
    tiny exchange-separated stages to one.  Past the limit the
    declarative chain above runs unchanged (web-scale edge lists never
    collapse into one task).  Both modes are oracle-identical —
    tests/test_graph_text.py::test_hits_matches_numpy_iteration.
    """
    # iters=0 would diverge between modes (raw all-ones vs normalized
    # 1/sqrt(n)) — reject at the contract, same as pagerank
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # NULL-weight/endpoint edges dropped up front (see pagerank: the
    # declarative chain skips them anyway; dense numpy must not see NaN)
    e = tracked_persist(
        edges.select("src", "dst", F.col("w").cast("double").alias("w"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()
               & F.col("w").isNotNull()))
    n1 = nodes.select("v").distinct()
    if _dense_probe(e, ("src", "dst")):
        return _hits_dense(e, n1, iters)
    hint = _broadcast_hint(n1)

    def propagate(vec: DataFrame, in_key: str, out_key: str) -> DataFrame:
        """One unnormalized half-step: mass flows along edges from
        ``in_key`` onto ``out_key`` (sparse — absent node = score 0)."""
        return (e.join(hint(vec), F.col(in_key) == F.col("v"))
                .groupBy(out_key)
                .agg(F.sum(F.col("w") * F.col("x")).alias("x"))
                .withColumnRenamed(out_key, "v"))

    def normalize(vec: DataFrame) -> DataFrame:
        """L2-normalize via a broadcast 1-row aggregate (zero-guarded)."""
        nrm = vec.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("_nrm"))
        safe = F.when(F.col("_nrm") == 0, F.lit(1.0)).otherwise(F.col("_nrm"))
        return vec.crossJoin(F.broadcast(nrm)).select(
            "v", (F.col("x") / safe).alias("x"))

    h = n1.select("v", F.lit(1.0).alias("x"))
    a = h
    for _i in range(iters):
        a = propagate(h, "src", "dst")
        h = propagate(a, "dst", "src")
        # renormalize + truncate lineage every _HITS_NORM_EVERY rounds; only
        # ``h`` needs it — the next round's first propagate reads h, and
        # this round's ``a`` was already consumed (its magnitude bound
        # follows from h's); the FINAL round's vectors stay lazy
        # (normalized below) so the returned plan shows the iteration
        # shape
        if _i < iters - 1 and (_i + 1) % _HITS_NORM_EVERY == 0:
            h = normalize(h).localCheckpoint(eager=True)

    def dense(vec: DataFrame, name: str) -> DataFrame:
        return (n1.join(normalize(vec), "v", "left")
                .select("v", F.coalesce("x", F.lit(0.0)).alias(name)))

    return dense(h, "hub").join(dense(a, "authority"), "v")
