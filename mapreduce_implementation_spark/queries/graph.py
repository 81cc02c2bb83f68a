"""Graph-analytics queries: PageRank over the nation-level trade graph.

The edge list is derived from the fact tables (customer-nation →
supplier-nation, weighted by lineitem count), so the expensive part —
building edges from 100 TB of facts — is ordinary join+aggregate work;
the iteration itself only ever touches the contracted O(nodes²) edge
list.  The DuckDB oracle unrolls the same 5 power iterations as chained
CTEs, making an *iterative* algorithm fully hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import hits, pagerank
from ..registry import register
from ..sources.tables import load_table

_D = 0.85
_ITERS = 5


def _pagerank_oracle() -> str:
    sql = """
    WITH e AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
    n1 AS (SELECT n_nationkey AS v FROM nation),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM n1),
    r0 AS (SELECT v, 1.0 / c AS r FROM n1 CROSS JOIN cnt)
    """
    for i in range(_ITERS):
        sql += f""",
    r{i + 1} AS (
      SELECT n1.v,
             (1 - {_D}) / cnt.c + {_D} * coalesce(x.s, 0) AS r
      FROM n1 CROSS JOIN cnt
      LEFT JOIN (
        SELECT e.dst, sum(r{i}.r * e.w / outw.ow) AS s
        FROM e JOIN outw USING (src) JOIN r{i} ON r{i}.v = e.src
        GROUP BY e.dst
      ) x ON x.dst = n1.v
    )"""
    sql += f"""
    SELECT CAST(v AS INTEGER) AS nationkey, round(r, 6) AS pagerank
    FROM r{_ITERS}
    """
    return sql


@register(
    "graph_pagerank_trade",
    oracle=_pagerank_oracle(),
    doc=f"Weighted PageRank ({_ITERS} unrolled power iterations, d={_D}) "
        "over the customer-nation → supplier-nation trade graph.  Edge "
        "build = 3 fact joins + one aggregation (the only 100 TB-scale "
        "work, done once and persisted); each iteration is a broadcast "
        "of the O(nodes) rank vector onto the edge list + one partial-"
        "aggregable shuffle on dst.  Oracle unrolls the identical "
        "iterations as chained CTEs.",
)
def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"),
                 F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("v"))
    ranks = pagerank(edges, nodes, iters=_ITERS, damping=_D)
    return ranks.select(F.col("v").cast("int").alias("nationkey"),
                        F.round("r", 6).alias("pagerank"))


@register(
    "graph_triangle_count",
    oracle="""
    WITH raw AS (
      SELECT c_nationkey AS x, s_nationkey AS y
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    e AS (
      SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
      FROM raw WHERE least(x, y) < greatest(x, y)
    ),
    tri AS (
      SELECT p1.u AS a, p1.v AS b, p2.v AS c
      FROM e p1 JOIN e p2 ON p1.u = p2.u AND p1.v < p2.v
      JOIN e cl ON cl.u = p1.v AND cl.v = p2.v
    ),
    nodes AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    )
    SELECT node, count(*) AS n_triangles
    FROM nodes GROUP BY node
    """,
    doc="Per-node triangle counting over the undirected trade graph "
        "(ordered two-path join, Suri & Vassilvitskii WWW'11): edges "
        "canonicalized u<v, 2-paths fan out only toward higher-ordered "
        "neighbors, one join closes them — the MapReduce-era algorithm "
        "that avoids the skewed last reducer.  Edge build from the fact "
        "tables is the only corpus-scale work.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("x"),
                 F.col("s_nationkey").alias("y"))
        .agg(F.count(F.lit(1)).alias("_w"))
        .select("x", "y")
    )
    return triangle_count(edges, "x", "y")


_LPA_ITERS = 5


def _lpa_oracle() -> str:
    sql = """
    WITH raw AS (
      SELECT c_nationkey AS a, s_nationkey AS b,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    e AS (
      SELECT src, dst, sum(w) AS w FROM (
        SELECT a AS src, b AS dst, w FROM raw
        UNION ALL
        SELECT b AS src, a AS dst, w FROM raw
      ) GROUP BY src, dst
    ),
    n1 AS (SELECT n_nationkey AS v FROM nation),
    l0 AS (SELECT v, v AS lab FROM n1)
    """
    for i in range(_LPA_ITERS):
        sql += f""",
    l{i + 1} AS (
      SELECT n1.v, coalesce(p.lab, n1.v) AS lab
      FROM n1 LEFT JOIN (
        SELECT dst, lab FROM (
          SELECT e.dst, l.lab,
                 row_number() OVER (PARTITION BY e.dst
                                    ORDER BY sum(e.w) DESC, l.lab) AS rn
          FROM e JOIN l{i} l ON l.v = e.src
          GROUP BY e.dst, l.lab
        ) WHERE rn = 1
      ) p ON p.dst = n1.v
    )"""
    sql += f"""
    SELECT CAST(v AS INTEGER) AS nationkey,
           CAST(lab AS INTEGER) AS community
    FROM l{_LPA_ITERS}
    """
    return sql


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"Community detection by synchronous weighted label propagation "
        f"({_LPA_ITERS} rounds, min-label tie-break) over the undirected "
        "trade graph (customer-nation <-> supplier-nation, weighted by "
        "lineitem count).  The deterministic synchronous variant makes an "
        "iterative clustering algorithm fully hash-checkable: the oracle "
        "unrolls the identical rounds as chained CTEs.  Each round is one "
        "label-vector equi-join + partial-aggregable (dst, label) sum + a "
        "KEYED argmax window — no global window, no broadcast "
        "requirement, so the operator holds at web-scale node counts "
        "(the same honesty rule as the PageRank shuffled-join mode).",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("a"),
                 F.col("s_nationkey").alias("b"))
        # weights stay BIGINT counts: every per-(dst, label) sum is then
        # an exact integer even after label_propagation's internal double
        # cast, so argmax ties break identically here and in the oracle
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # symmetrize in ONE pass over raw (explode, not a self-union whose
    # two branches would each re-run the 3-fact join), then re-aggregate
    # the (a,b)/(b,a) collisions — a nation-pair-sized groupBy
    edges = (
        raw.select(F.explode(F.array(
            F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
        )).alias("e"), "w")
        .select("e.src", "e.dst", "w")
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("v"))
    labels = label_propagation(edges, nodes, iters=_LPA_ITERS)
    return labels.select(F.col("v").cast("int").alias("nationkey"),
                         F.col("label").cast("int").alias("community"))


_BFS_HOPS = 5
_BFS_EDGE_MIN_W = 160


def _bfs_oracle() -> str:
    sql = f"""
    WITH raw AS (
      SELECT c_nationkey AS a, s_nationkey AS b
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2 HAVING count(*) >= {_BFS_EDGE_MIN_W}
    ),
    e AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
    n1 AS (SELECT n_nationkey AS v FROM nation),
    d0 AS (SELECT v, CASE WHEN v = 0 THEN 0 ELSE NULL END AS d FROM n1)
    """
    prev = "d0"
    for i in range(1, _BFS_HOPS + 1):
        sql += f""",
    d{i} AS (
      SELECT n1.v,
             CASE WHEN least(coalesce(p.d, 999), coalesce(m.nd, 999)) = 999
                  THEN NULL
                  ELSE least(coalesce(p.d, 999), coalesce(m.nd, 999)) END AS d
      FROM n1 LEFT JOIN {prev} p ON p.v = n1.v
      LEFT JOIN (SELECT e.dst AS v, min(p2.d) + 1 AS nd
                 FROM e JOIN {prev} p2 ON p2.v = e.src AND p2.d IS NOT NULL
                 GROUP BY e.dst) m ON m.v = n1.v
    )"""
        prev = f"d{i}"
    sql += f"""
    SELECT CAST(v AS INTEGER) AS nationkey, CAST(d AS INTEGER) AS dist
    FROM {prev}
    """
    return sql


@register(
    "graph_bfs_distances",
    oracle=_bfs_oracle(),
    doc=f"Single-source shortest-hop distances ({_BFS_HOPS} unrolled BFS "
        "rounds from nation 0) over the STRONG trade graph — edges kept "
        f"only where >= {_BFS_EDGE_MIN_W} lineitems connect the nation "
        "pair, which gives the fixture real multi-hop structure (dist 0/"
        "1/2 and an unreachable NULL node) instead of the dense graph's "
        "all-ones.  Each round is one edge-list equi-join + dst "
        "min-aggregate + key-joined merge (the Pregel superstep, "
        "declaratively); the distance vector joins by key, never "
        "broadcast-bound.  Oracle unrolls the identical relaxation as "
        "chained CTEs.",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_distances

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("a"),
                 F.col("s_nationkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _BFS_EDGE_MIN_W)
    )
    edges = (raw.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(raw.select(F.col("b").alias("src"),
                                     F.col("a").alias("dst")))
             .distinct())
    nodes = n.select(F.col("n_nationkey").alias("v"))
    d = bfs_distances(edges, nodes, source=0, max_hops=_BFS_HOPS)
    return d.select(F.col("v").cast("int").alias("nationkey"),
                    F.col("dist").cast("int").alias("dist"))


# --- weighted SSSP (Bellman-Ford) over the full trade graph -----------------
# cost(a, b) = greatest(1, 1000000 div lineitem_count): heavy trade lanes
# are cheap to route through, rare lanes expensive — all-integer min-plus
# algebra, exact in any engine.  Edge count caps the weight at 1_000_000,
# which the oracle's unrolled CTEs derive their infinity sentinel from.
_SSSP_ROUNDS = 6
_SSSP_MAX_W = 1_000_000


def _sssp_oracle() -> str:
    sql = """
    WITH raw AS (
      SELECT c_nationkey AS a, s_nationkey AS b,
             greatest(1, 1000000 // count(*)) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    e AS (
      SELECT a AS src, b AS dst, CAST(min(w) AS BIGINT) AS w FROM (
        SELECT a, b, w FROM raw UNION ALL SELECT b, a, w FROM raw
      ) GROUP BY 1, 2
    ),
    n1 AS (SELECT n_nationkey AS v FROM nation),
    d0 AS (SELECT v, CASE WHEN v = 0 THEN CAST(0 AS BIGINT) END AS d FROM n1)
    """
    inf = _SSSP_ROUNDS * _SSSP_MAX_W + 1
    prev = "d0"
    for i in range(1, _SSSP_ROUNDS + 1):
        sql += f""",
    d{i} AS (
      SELECT n1.v,
             CASE WHEN least(coalesce(p.d, {inf}), coalesce(m.nd, {inf}))
                       = {inf}
                  THEN NULL
                  ELSE least(coalesce(p.d, {inf}), coalesce(m.nd, {inf}))
             END AS d
      FROM n1 LEFT JOIN {prev} p ON p.v = n1.v
      LEFT JOIN (SELECT e.dst AS v, min(p2.d + e.w) AS nd
                 FROM e JOIN {prev} p2 ON p2.v = e.src AND p2.d IS NOT NULL
                 GROUP BY e.dst) m ON m.v = n1.v
    )"""
        prev = f"d{i}"
    sql += f"""
    SELECT CAST(v AS INTEGER) AS nationkey, CAST(d AS BIGINT) AS dist
    FROM {prev}
    """
    return sql


@register(
    "graph_sssp_weighted",
    oracle=_sssp_oracle(),
    doc=f"Single-source shortest WEIGHTED paths ({_SSSP_ROUNDS} unrolled "
        "Bellman-Ford rounds from nation 0) over the trade graph with "
        "integer routing costs greatest(1, 1000000 div lane_count) — "
        "heavy trade lanes cheap, rare lanes expensive, so the optimum "
        "routinely takes MORE hops than BFS would (the property that "
        "distinguishes weighted relaxation from hop counting).  NULL "
        "means unreached: the merge is a NULL-skipping least(), so the "
        "operator needs no infinity sentinel (the oracle keeps its own "
        "derived one).  Each round is one edge equi-join + "
        "dst min-aggregate over dist+w + keyed merge; the distance "
        "vector joins by key, never broadcast-bound.  All-integer "
        "min-plus algebra: the oracle unrolls the identical relaxation "
        "as chained CTEs and the hash comparison is exact.",
)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp_weighted

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("a"),
                 F.col("s_nationkey").alias("b"))
        .agg(F.greatest(F.lit(1), F.expr("1000000 div count(1)")).alias("w"))
    )
    both = raw.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w") \
              .unionByName(raw.select(F.col("b").alias("src"),
                                      F.col("a").alias("dst"), "w"))
    edges = both.groupBy("src", "dst").agg(F.min("w").cast("long").alias("w"))
    nodes = n.select(F.col("n_nationkey").alias("v"))
    d = sssp_weighted(edges, nodes, source=0, rounds=_SSSP_ROUNDS)
    return d.select(F.col("v").cast("int").alias("nationkey"),
                    F.col("dist").cast("long").alias("dist"))


_KCORE_K = 5
_KCORE_ROUNDS = 5


def _kcore_oracle() -> str:
    # every unrolled CTE is MATERIALIZED: e{i} is referenced 3x per
    # round, so DuckDB's default inlining would expand the scan tree
    # 3^rounds times (observed: fd exhaustion from thousands of
    # duplicate parquet opens); materialization keeps it linear
    sql = f"""
    WITH lanes AS MATERIALIZED (
      SELECT c_nationkey AS a, s_nationkey AS b, count(*) AS cnt
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    stats AS (SELECT count(*) AS n, sum(cnt) AS tot FROM lanes),
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM lanes, stats
      WHERE 2 * cnt * n > 3 * tot AND a <> b
    )"""
    for i in range(_KCORE_ROUNDS):
        sql += f""",
    d{i} AS MATERIALIZED (SELECT u, count(*) AS c
             FROM (SELECT u FROM e{i} UNION ALL SELECT v FROM e{i}) t(u)
             GROUP BY u),
    k{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE c >= {_KCORE_K}),
    e{i + 1} AS MATERIALIZED (SELECT e{i}.u, e{i}.v FROM e{i}
                 JOIN k{i} x ON e{i}.u = x.u
                 JOIN k{i} y ON e{i}.v = y.u)"""
    sql += f"""
    SELECT CAST(u AS INTEGER) AS nationkey, CAST(count(*) AS BIGINT) AS core_deg
    FROM (SELECT u FROM e{_KCORE_ROUNDS}
          UNION ALL SELECT v FROM e{_KCORE_ROUNDS}) t(u)
    GROUP BY u
    """
    return sql


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    doc=f"k-core decomposition (k={_KCORE_K}, {_KCORE_ROUNDS} unrolled "
        "peel rounds) of the above-average-volume trade graph: lanes "
        "kept when 2*cnt*n_lanes > 3*sum(cnt) — the all-integer form of "
        "'volume > 1.5x the mean lane', no float knife edge — then "
        "iterative peeling drops every nation of core degree < k with "
        "the cascade (at sf0.01 the peel genuinely cascades: fixpoint "
        "on round 3 of 5).  Each round is one symmetrized degree "
        "aggregate + two semi joins; the edge list only shrinks.  The "
        "oracle unrolls identical CTE rounds, so both engines agree "
        "even mid-cascade (operators/graph.kcore).",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist
    from ..operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    # persisted: the fact-scale 4-way join feeds BOTH the threshold
    # scalar and the edge filter — without the cache the lanes build
    # runs twice (it dwarfs everything else at 100 TB)
    lanes = tracked_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("a"),
                 F.col("s_nationkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = lanes.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("cnt").alias("tot"))
    heavy = (lanes.crossJoin(F.broadcast(stats))
             .where((F.lit(2) * F.col("cnt") * F.col("n")
                     > F.lit(3) * F.col("tot"))
                    & (F.col("a") != F.col("b"))))
    core = kcore(heavy, "a", "b", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return core.select(F.col("node").cast("int").alias("nationkey"),
                       F.col("core_deg").cast("long").alias("core_deg"))


@register(
    "graph_hits_trade",
    oracle="""
    WITH edges AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    h0 AS (SELECT v, 1.0 AS h FROM nodes),
    a1r AS (SELECT dst AS v, sum(w * h.h) AS s FROM edges JOIN h0 h ON src = h.v GROUP BY 1),
    a1 AS (SELECT nodes.v, coalesce(s, 0) / sqrt((SELECT sum(coalesce(s,0)*coalesce(s,0)) FROM nodes LEFT JOIN a1r ON nodes.v = a1r.v)) AS a
           FROM nodes LEFT JOIN a1r ON nodes.v = a1r.v),
    h1r AS (SELECT src AS v, sum(w * a.a) AS s FROM edges JOIN a1 a ON dst = a.v GROUP BY 1),
    h1 AS (SELECT nodes.v, coalesce(s, 0) / sqrt((SELECT sum(coalesce(s,0)*coalesce(s,0)) FROM nodes LEFT JOIN h1r ON nodes.v = h1r.v)) AS h
           FROM nodes LEFT JOIN h1r ON nodes.v = h1r.v),
    a2r AS (SELECT dst AS v, sum(w * h.h) AS s FROM edges JOIN h1 h ON src = h.v GROUP BY 1),
    a2 AS (SELECT nodes.v, coalesce(s, 0) / sqrt((SELECT sum(coalesce(s,0)*coalesce(s,0)) FROM nodes LEFT JOIN a2r ON nodes.v = a2r.v)) AS a
           FROM nodes LEFT JOIN a2r ON nodes.v = a2r.v),
    h2r AS (SELECT src AS v, sum(w * a.a) AS s FROM edges JOIN a2 a ON dst = a.v GROUP BY 1),
    h2 AS (SELECT nodes.v, coalesce(s, 0) / sqrt((SELECT sum(coalesce(s,0)*coalesce(s,0)) FROM nodes LEFT JOIN h2r ON nodes.v = h2r.v)) AS h
           FROM nodes LEFT JOIN h2r ON nodes.v = h2r.v)
    SELECT CAST(h2.v AS INTEGER) AS nationkey,
           round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
    FROM h2 JOIN a2 ON h2.v = a2.v
    """,
    doc="Weighted HITS hub/authority scores (Kleinberg 1999) over the "
        "customer-nation -> supplier-nation trade graph: 2 unrolled "
        "authority-then-hub rounds, L2-normalized per half-step, from "
        "the all-ones hub start.  Hub = nations whose customers buy from "
        "authoritative suppliers; authority = nations whose suppliers "
        "serve hub buyers — the asymmetric dual PageRank collapses.  "
        "Edge build = 3 fact joins + one aggregation, persisted once.  "
        "Per half-step: one join of the O(nodes) score vector onto the "
        "edges + one partial-aggregable sum on the opposite endpoint, "
        "normalization deferred by linearity — the same chain at any "
        "edge count.  Oracle unrolls the identical rounds as chained "
        "CTEs.",
)
def q_graph_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"),
                 F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("v"))
    scores = hits(edges, nodes, iters=2)
    return scores.select(F.col("v").cast("int").alias("nationkey"),
                         F.round("hub", 6).alias("hub"),
                         F.round("authority", 6).alias("authority"))


def _ppr_oracle() -> str:
    """Personalized-PageRank twin: identical unrolled rounds, but the
    teleport mass lands on the seed distribution instead of uniformly."""
    sql = """
    WITH e AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
    n1 AS (SELECT n_nationkey AS v FROM nation),
    seeds AS (
      SELECT n_nationkey AS v FROM nation
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    sc AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
    rs AS (SELECT n1.v,
                  CASE WHEN seeds.v IS NOT NULL THEN 1.0 / sc.c ELSE 0 END AS s
           FROM n1 CROSS JOIN sc LEFT JOIN seeds ON n1.v = seeds.v),
    r0 AS (SELECT v, s AS r FROM rs)
    """
    for i in range(_ITERS):
        sql += f""",
    r{i + 1} AS (
      SELECT rs.v,
             (1 - {_D}) * rs.s + {_D} * coalesce(x.s, 0) AS r
      FROM rs
      LEFT JOIN (
        SELECT e.dst, sum(r{i}.r * e.w / outw.ow) AS s
        FROM e JOIN outw USING (src) JOIN r{i} ON r{i}.v = e.src
        GROUP BY e.dst
      ) x ON x.dst = rs.v
    )"""
    sql += f"""
    SELECT CAST(v AS INTEGER) AS nationkey, round(r, 6) AS ppr
    FROM r{_ITERS}
    """
    return sql


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    doc=f"Personalized PageRank ({_ITERS} unrolled iterations, d={_D}) "
        "from the ASIA-region nations as the seed/teleport set: random "
        "walks restart INTO the seeds, so scores rank every nation by "
        "proximity to ASIA's trade flows — the 'related items' dual of "
        "global PageRank, and the standard seeded-relevance primitive.  "
        "Reuses the pagerank operator with a reset-distribution frame "
        "(v, s): the teleport term becomes (1-d)*s_v via one broadcast "
        "join per round instead of the uniform (1-d)/N, and iteration "
        "cost is unchanged — one broadcast of the O(nodes) vector + one "
        "partial-aggregable shuffle.  Oracle unrolls identical rounds.",
)
def q_graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"),
                 F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("v"))
    # one nation-x-region pass tags every node with its seed flag, so
    # the reset distribution needs one broadcast join + one 1-row agg
    # instead of a seeds frame joined back onto nodes (the seed build
    # was the measured gap vs global pagerank)
    tagged = (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .select(F.col("n_nationkey").alias("v"),
                      (F.col("r_name") == "ASIA")
                      .cast("double").alias("_seed")))
    sc = tagged.agg(F.sum("_seed").alias("_c"))
    reset = (tagged.crossJoin(F.broadcast(sc))
             .select("v", (F.col("_seed") / F.col("_c")).alias("s")))
    ranks = pagerank(edges, nodes, iters=_ITERS, damping=_D, reset=reset)
    return ranks.select(F.col("v").cast("int").alias("nationkey"),
                        F.round("r", 6).alias("ppr"))
