"""Unit tests for the iterative-graph and ranking operators against
pure-Python reference implementations (no Spark in the expected-value
path, so a planner/operator bug can't cancel itself out)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.graph import pagerank
from mapreduce_implementation_spark.operators.textstats import bm25_topk


def _py_pagerank(edges, nodes, iters=5, d=0.85):
    outw = {}
    for s, _t, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += r[s] * w / outw[s]
        r = {v: (1 - d) / n + d * contrib[v] for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    edges = [(1, 2, 3.0), (2, 1, 1.0), (2, 3, 1.0), (3, 1, 2.0), (1, 3, 1.0)]
    nodes = [1, 2, 3]
    e = spark.createDataFrame(edges, "src int, dst int, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v int")
    got = {r.v: r.r for r in pagerank(e, nd, iters=5).collect()}
    want = _py_pagerank(edges, nodes, iters=5)
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_pagerank_shuffled_rank_join_matches_python(spark):
    """The rank vector joins onto the edges without a hint, so past
    Spark's broadcast threshold it takes the web-scale shuffled layout.
    With the threshold off, that layout must give the pure-Python
    reference's ranks too."""
    edges = [(1, 2, 3.0), (2, 1, 1.0), (2, 3, 1.0), (3, 1, 2.0), (1, 3, 1.0)]
    nodes = [1, 2, 3]
    e = spark.createDataFrame(edges, "src int, dst int, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v int")
    want = _py_pagerank(edges, nodes, iters=5)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        ranks = pagerank(e, nd, iters=5)
        plan = ranks._jdf.queryExecution().executedPlan().toString()
        got = {r.v: r.r for r in ranks.collect()}
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, v


def test_pagerank_mass_conserved_no_dangling(spark):
    """With every node having out-edges, total rank mass stays 1."""
    edges = [(i, (i + 1) % 6, 1.0) for i in range(6)] + [(0, 3, 2.0)]
    e = spark.createDataFrame(edges, "src int, dst int, w double")
    nd = spark.createDataFrame([(v,) for v in range(6)], "v int")
    total = pagerank(e, nd, iters=4).agg(F.sum("r")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    import math

    toks = {i: t.split() for i, t in docs}
    dl = {i: len(ts) for i, ts in toks.items()}
    avgdl = sum(dl.values()) / len(dl)
    n = len(docs)
    scores = {}
    for term in terms:
        df = sum(1 for ts in toks.values() if term in ts)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, ts in toks.items():
            tf = ts.count(term)
            if tf:
                scores[i] = scores.get(i, 0.0) + idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * dl[i] / avgdl))
    return scores


def test_bm25_matches_python_reference(spark):
    docs = [
        (1, "hash join hash join window"),
        (2, "window scan sort sort sort"),
        (3, "join join join join join hash"),
        (4, "scan scan scan scan"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in
           bm25_topk(df, "doc_id", "text", ("hash", "join", "window"), k=10).collect()}
    want = _py_bm25(docs, ("hash", "join", "window"))
    assert set(got) == set(want)
    for i, s in want.items():
        assert abs(got[i] - round(s, 6)) < 2e-6, (i, got[i], s)


def test_bm25_rank_order_and_k(spark):
    docs = [(i, "hash " * i + "filler") for i in range(1, 8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bm25_topk(df, "doc_id", "text", ("hash",), k=3).collect()
    assert len(out) == 3
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].bm25 >= out[1].bm25 >= out[2].bm25


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization should recall >=80% of the exact top-10 (SQ8
    error is ~1/254 per component; far below the cosine gaps between
    neighbors and non-neighbors)."""
    from mapreduce_implementation_spark.operators.similarity import (
        cosine_topk, quantized_cosine_topk,
    )
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_01

    emb = load_table(spark, SF_DIR_01, "embeddings").cache()
    row = emb.filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in row["embedding"]]
    exact = [r["vec_id"] for r in
             cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    approx = [r["vec_id"] for r in
              quantized_cosine_topk(emb, "vec_id", "embedding", qv, k=10,
                                    exclude_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"quantized recall too low: {recall}"


def test_quantize_int8_bounds_and_roundtrip(spark):
    """Quantized components stay in [-127, 127] and dequantize back to
    within one quantization step of the original."""
    from mapreduce_implementation_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [100.0, -50.0, 0.0, 1.0]),
         (3, [0.0, 0.0, 0.0, 0.0])],
        "id long, embedding array<double>")
    out = quantize_int8(df, "embedding").collect()
    for r in out:
        for orig, q in zip(r.embedding, r.qvec):
            assert -127 <= q <= 127
            assert abs(orig - q * r.qscale) <= r.qscale / 2 + 1e-12


def test_hll_distinct_relative_error(spark):
    """approx_count_distinct at rsd=0.02 must land within 5% of the exact
    distinct count per group (HLL++ is deterministic for a given input,
    so this is a regression pin, not a flaky bound)."""
    from mapreduce_implementation_spark.registry import all_specs
    from tests.conftest import SF_DIR_01

    rows = all_specs()["agg_hll_distinct"].fn(spark, SF_DIR_01).collect()
    assert rows, "expected one row per event_type"
    for r in rows:
        assert r["within_tol"], f"{r['event_type']}: HLL estimate off by >5%"


def test_approx_percentile_tracks_exact(spark):
    """approx_percentile (the mergeable-sketch 100 TB form) stays within
    1% of the exact interpolated percentile on every group/quantile."""
    from pyspark.sql import functions as F
    from mapreduce_implementation_spark.registry import all_specs
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_01

    exact = {r["o_orderpriority"]: r
             for r in all_specs()["agg_percentiles_exact"].fn(spark, SF_DIR_01).collect()}
    o = load_table(spark, SF_DIR_01, "orders")
    approx = (
        o.groupBy("o_orderpriority")
        .agg(F.expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)")
             .alias("ap"))
        .collect()
    )
    for r in approx:
        e = exact[r["o_orderpriority"]]
        for i, key in enumerate(("p50", "p90", "p99")):
            rel = abs(r["ap"][i] - e[key]) / max(e[key], 1.0)
            assert rel <= 0.01, f"{r['o_orderpriority']} {key}: rel {rel}"


def test_countmin_overestimate_bounds(spark):
    """CM contract on the real corpus: est(k) >= true(k) always, and
    est(k) <= true(k) + (e/w)*N for the probed stopwords (w=1024 makes
    the slack ~0.27% of the stream — tight enough to catch a broken
    hash or merge)."""
    import math

    from mapreduce_implementation_spark.operators.sketch import (
        countmin_build, countmin_estimate,
    )
    from mapreduce_implementation_spark.operators.text import tokenize
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_01

    docs = load_table(spark, SF_DIR_01, "documents")
    toks = tokenize(docs, "text", keep=["doc_id"]).cache()
    n_stream = toks.count()
    sketch = countmin_build(toks, "word", depth=4, width=1024)
    probe_words = ["the", "a", "of", "to", "and", "in", "is", "it",
                   "spark", "zzz_absent_key"]
    probes = spark.createDataFrame([(w,) for w in probe_words], "tok string")
    est = {r["key"]: r["est"]
           for r in countmin_estimate(sketch, probes, "tok",
                                      depth=4, width=1024).collect()}
    exact = {r["word"]: r["n"] for r in
             toks.groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    slack = math.e / 1024 * n_stream
    for w in probe_words:
        t = exact.get(w, 0)
        assert est[w] >= t, (w, est[w], t)
        assert est[w] <= t + slack, (w, est[w], t, slack)


def test_span_dedup_rebuild_invariants(spark):
    """Structural contract of C4 span removal on the real corpus: the
    rebuilt corpus keeps each distinct span text EXACTLY once across all
    documents (n_kept sums to the distinct-span count), nothing is
    dropped that wasn't a repeat (chunks - kept == chunks - distinct),
    and every doc's n_kept <= n_chunks."""
    from mapreduce_implementation_spark.operators.dedup import (
        span_chunks, span_dedup_rebuild,
    )
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_01

    docs = load_table(spark, SF_DIR_01, "documents")
    out = span_dedup_rebuild(docs, "doc_id", "text", span_tokens=10).cache()
    chunks = span_chunks(docs, "doc_id", "text", span_tokens=10)
    n_distinct = chunks.select("chunk_text").distinct().count()
    n_total = chunks.count()
    agg = out.agg(F.sum("n_kept").alias("k"), F.sum("n_chunks").alias("c")).head()
    assert agg["k"] == n_distinct, (agg["k"], n_distinct)
    assert agg["c"] == n_total, (agg["c"], n_total)
    assert out.filter(F.col("n_kept") > F.col("n_chunks")).count() == 0
    assert n_total > n_distinct, "fixture corpus should contain repeated spans"


def test_sequence_packing_invariants(spark):
    """Packing conservation on the real corpus: bins are contiguous from
    0, token totals are conserved, and no sequence overflows 2048 by
    more than one straddling document (each doc lands in the bin of its
    starting offset)."""
    from mapreduce_implementation_spark.operators.text import tokenize
    from mapreduce_implementation_spark.registry import all_specs
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_01

    out = all_specs()["pipeline_sequence_packing"].fn(spark, SF_DIR_01).cache()
    rows = {r["seq_id"]: r for r in out.collect()}
    assert sorted(rows) == list(range(len(rows))), "seq_ids must be contiguous"
    docs = load_table(spark, SF_DIR_01, "documents")
    total = tokenize(docs, "text").count()
    assert sum(r["n_tokens"] for r in rows.values()) == total
    max_doc = (docs.select(
        F.size(F.split(F.lower(F.regexp_replace("text", "[^A-Za-z ]", "")), " "))
        .alias("n")).agg(F.max("n")).head()[0])
    for r in rows.values():
        assert r["n_tokens"] <= 2048 + max_doc, r


def test_sssp_weighted_prefers_cheap_multihop_path(spark):
    """Weighted relaxation must take the cheap 2-hop route over the
    expensive direct edge (the property separating Bellman-Ford from
    BFS hop counting), and derive the unreachable NULL correctly."""
    from mapreduce_implementation_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(0, 1, 10), (0, 2, 1), (2, 1, 1), (1, 3, 2)],
        "src long, dst long, w long")
    nodes = spark.createDataFrame([(0,), (1,), (2,), (3,), (9,)], "v long")
    d = {r["v"]: r["dist"]
         for r in sssp_weighted(edges, nodes, source=0, rounds=4).collect()}
    assert d == {0: 0, 1: 2, 2: 1, 3: 4, 9: None}


def test_sssp_weighted_needs_no_weight_bound(spark):
    """NULL is "unreached" and the merge is a NULL-skipping least(), so
    distances are exact whatever the edge weights: a 5-weight edge
    followed by a 1-weight edge reaches both nodes."""
    from mapreduce_implementation_spark.operators.graph import sssp_weighted

    edges = spark.createDataFrame([(0, 1, 5), (1, 2, 1)],
                                  "src long, dst long, w long")
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "v long")
    d = {r["v"]: r["dist"]
         for r in sssp_weighted(edges, nodes, source=0, rounds=3).collect()}
    assert d == {0: 0, 1: 5, 2: 6}


def _np_hits(edges, n_nodes, iters):
    """numpy HITS over nodes ``0..n_nodes-1``: ``iters`` authority-then-
    hub rounds from the all-ones hub start, each half-step L2-normalized
    (a zero norm divides by 1).  Returns ``(hub, authority)`` arrays."""
    import numpy as np

    W = np.zeros((n_nodes, n_nodes))
    for s, d, w in edges:
        W[s, d] = w
    h = np.ones(n_nodes)
    a = h
    for _ in range(iters):
        a = W.T @ h
        a = a / (np.sqrt((a * a).sum()) or 1.0)
        h = W @ a
        h = h / (np.sqrt((h * h).sum()) or 1.0)
    return h, a


def test_hits_matches_numpy_iteration(spark):
    """hits() must reproduce an independent numpy implementation of the
    same 2 authority-then-hub L2-normalized rounds on a small weighted
    digraph, and both score vectors must be unit-norm.  The operator
    defers normalization across rounds (scale invariance), so agreement
    to 1e-9 also pins that algebra."""
    import numpy as np

    from mapreduce_implementation_spark.operators.graph import hits
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (3, 2, 5.0),
             (2, 0, 1.0), (4, 1, 2.0)]
    nv = 6  # node 5 is isolated
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    nodes = spark.createDataFrame([(i,) for i in range(nv)], "v bigint")
    h, a = _np_hits(edges, nv, iters=2)
    assert abs(np.linalg.norm(h) - 1) < 1e-9

    try:
        got = {r["v"]: (r["hub"], r["authority"])
               for r in hits(df, nodes, iters=2).collect()}
    finally:
        release_persisted()
    for v in range(nv):
        assert abs(got[v][0] - h[v]) < 1e-9, ("hub", v)
        assert abs(got[v][1] - a[v]) < 1e-9, ("authority", v)
    # isolated node present, scored zero
    assert got[5] == (0.0, 0.0)


def test_personalized_pagerank_uniform_reset_equals_global(spark):
    """pagerank(reset=uniform 1/N) must equal plain pagerank: the
    personalization generalizes the uniform teleport, so the uniform
    distribution is the identity case (atol for the one extra multiply
    vs divide rounding)."""
    from mapreduce_implementation_spark.operators.graph import pagerank
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 3.0), (0, 2, 1.0),
             (3, 1, 1.0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    nodes = spark.createDataFrame([(i,) for i in range(5)], "v bigint")
    uniform = nodes.selectExpr("v", "1.0 / 5 AS s")
    try:
        plain = {r["v"]: r["r"] for r in
                 pagerank(df, nodes, iters=4).collect()}
        seeded = {r["v"]: r["r"] for r in
                  pagerank(df, nodes, iters=4, reset=uniform).collect()}
    finally:
        release_persisted()
    assert plain.keys() == seeded.keys()
    for v in plain:
        assert abs(plain[v] - seeded[v]) < 1e-12, v


def test_pagerank_hits_match_references_random(spark):
    """pagerank() (global and personalized) and hits() on seeded random
    digraphs (self-loops, isolated nodes, parallel-free multi-weight
    edges, a node with out-edges only) must match the pure-Python
    PageRank / personalized PageRank models and the numpy HITS
    reference to 1e-9 on every score."""
    import random

    from mapreduce_implementation_spark.operators.graph import hits
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    rng = random.Random(42)
    for trial in range(3):
        n = rng.randrange(4, 9)
        nodes = list(range(n + 2))  # n+1 and n stay isolated sometimes
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(rng.randrange(3, 14))})
        edges = [(s, t, float(rng.randrange(1, 6))) for s, t in edges]
        if not edges:
            continue
        e = spark.createDataFrame(edges, "src int, dst int, w double")
        nd = spark.createDataFrame([(v,) for v in nodes], "v int")
        # a random sparse reset distribution for the personalized case
        seeds = sorted({rng.choice(nodes) for _ in range(3)})
        reset = {v: 1.0 / len(seeds) for v in seeds}
        rst = spark.createDataFrame(list(reset.items()), "v int, s double")
        pr_want = _py_pagerank(edges, nodes, iters=4)
        ppr_want = _py_ppr(edges, nodes, reset, iters=4)
        hub_want, auth_want = _np_hits(edges, len(nodes), iters=2)
        try:
            pr = {r.v: r.r for r in pagerank(e, nd, iters=4).collect()}
            ppr = {r.v: r.r for r in pagerank(
                e, nd, iters=4, reset=rst).collect()}
            ht = {r.v: (r.hub, r.authority) for r in hits(
                e, nd, iters=2).collect()}
        finally:
            release_persisted()
        assert set(pr) == set(ppr) == set(ht) == set(nodes), trial
        for v in nodes:
            assert abs(pr[v] - pr_want[v]) < 1e-9, (trial, v)
            assert abs(ppr[v] - ppr_want[v]) < 1e-9, (trial, v)
            assert abs(ht[v][0] - hub_want[v]) < 1e-9, (trial, v, "hub")
            assert abs(ht[v][1] - auth_want[v]) < 1e-9, (trial, v, "auth")


def _py_lpa(edges, nodes, iters):
    """Pure-Python synchronous LPA with min-label ties (the operator's
    documented semantics: new label = argmax incident src-label weight,
    no-mass nodes revert to their own id)."""
    lab = {v: v for v in nodes}
    for _ in range(iters):
        score = {}
        for s, t, w in edges:
            score.setdefault(t, {})
            score[t][lab[s]] = score[t].get(lab[s], 0.0) + w
        nxt = {v: v for v in nodes}
        for t, per in score.items():
            best = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            nxt[t] = best
        lab = nxt
    return lab


def test_label_propagation_modes_match(spark):
    """label_propagation vs the pure-Python model on seeded random
    weighted digraphs: identical labels, every node, every trial
    (integer weights make sums exact in any accumulation order, so
    argmax ties are engine-independent)."""
    import random

    from mapreduce_implementation_spark.operators.graph import (
        label_propagation,
    )
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    rng = random.Random(11)
    for trial in range(3):
        n = rng.randrange(4, 9)
        nodes = list(range(n + 2))
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(rng.randrange(4, 16))})
        edges = [(s, t, rng.randrange(1, 5)) for s, t in edges]
        if not edges:
            continue
        e = spark.createDataFrame(edges, "src int, dst int, w bigint")
        nd = spark.createDataFrame([(v,) for v in nodes], "v int")
        want = _py_lpa(edges, nodes, iters=4)
        try:
            got = {r.v: r.label for r in label_propagation(
                e, nd, iters=4).collect()}
        finally:
            release_persisted()
        assert got == want, (trial, got, want)


def test_graph_operators_ignore_null_weight_edges(spark):
    """A NULL-weight (or NULL-endpoint) edge row must be ignored: the
    operators drop such rows up front, which is what F.sum/F.min would
    do with them anyway.  Also: sssp_weighted relaxes float edge
    weights without truncating them first."""
    from mapreduce_implementation_spark.operators.graph import (
        hits, sssp_weighted,
    )
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [(1, 2, 3.0), (2, 1, 1.0), (2, 3, None), (None, 1, 5.0),
             (3, 1, 2.0), (1, 3, 1.0)]
    clean = [(s, t, w) for s, t, w in edges if None not in (s, t, w)]
    nodes = [1, 2, 3]
    e = spark.createDataFrame(edges, "src int, dst int, w double")
    ec = spark.createDataFrame(clean, "src int, dst int, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v int")
    want = _py_pagerank(clean, nodes, iters=4)
    try:
        got = {r.v: r.r for r in pagerank(e, nd, iters=4).collect()}
        hv = {r.v: (r.hub, r.authority) for r in hits(
            e, nd, iters=2).collect()}
        hc = {r.v: (r.hub, r.authority) for r in hits(
            ec, nd, iters=2).collect()}
        for v in nodes:
            assert abs(got[v] - want[v]) < 1e-9, v
        assert hv == hc

        ew = spark.createDataFrame([(1, 2, 1.5), (2, 3, 1.0)],
                                   "src int, dst int, w double")
        d = {r["v"]: r["dist"]
             for r in sssp_weighted(ew, nd, source=1, rounds=3).collect()}
        assert d[2] == 1.5 or d[2] == 1  # long cast floors the output
    finally:
        release_persisted()


def test_string_vertex_keys_fall_back_to_declarative(spark):
    """String vertex ids work end to end: pagerank matches the
    pure-Python reference on the int-relabeled graph, and hits gives
    the same scores as on the int-keyed copy of the graph."""
    from mapreduce_implementation_spark.operators.graph import hits
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [("x", "y", 3.0), ("y", "x", 1.0), ("y", "z", 1.0),
             ("z", "x", 2.0), ("x", "z", 1.0)]
    nodes = ["x", "y", "z"]
    e = spark.createDataFrame(edges, "src string, dst string, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v string")
    int_edges = [(0, 1, 3.0), (1, 0, 1.0), (1, 2, 1.0), (2, 0, 2.0),
                 (0, 2, 1.0)]
    want = _py_pagerank(int_edges, [0, 1, 2], iters=4)
    m = {"x": 0, "y": 1, "z": 2}
    try:
        pr = {r.v: r.r for r in pagerank(e, nd, iters=4).collect()}
        assert set(pr) == set(nodes)
        for v in nodes:
            assert abs(pr[v] - want[m[v]]) < 1e-9, v
        ht = {r.v: (r.hub, r.authority)
              for r in hits(e, nd, iters=2).collect()}
        assert set(ht) == set(nodes)
        # same graph with int keys must agree
        ei = spark.createDataFrame(int_edges, "src int, dst int, w double")
        ni = spark.createDataFrame([(v,) for v in (0, 1, 2)], "v int")
        hti = {r.v: (r.hub, r.authority)
               for r in hits(ei, ni, iters=2).collect()}
        for v in nodes:
            for j in (0, 1):
                assert abs(ht[v][j] - hti[m[v]][j]) < 1e-9, (v, j)
    finally:
        release_persisted()


def _py_ppr(edges, nodes, reset, iters=4, d=0.85):
    """Pure-Python personalized PageRank (the operator's documented
    semantics: initial rank = reset distribution, teleport mass lands
    as (1-d)*s_v, zero-out-weight sources contribute nothing — the
    declarative chain's divide-by-zero-is-NULL behavior)."""
    outw = {}
    for s, _t, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    r = {v: reset.get(v, 0.0) for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            if outw[s] != 0.0:
                contrib[t] += r[s] * w / outw[s]
        r = {v: (1 - d) * reset.get(v, 0.0) + d * contrib[v]
             for v in nodes}
    return r


def test_personalized_pagerank_dense_matches(spark):
    """Personalized pagerank vs the pure-Python model, on a graph with
    an isolated seed node (its rank is (1-d)*s_v), an isolated non-seed
    node (rank exactly 0), and a seed concentrated on one vertex."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 3.0), (0, 2, 1.0),
             (3, 1, 1.0)]
    nodes = list(range(6))  # 4 = isolated seed, 5 = isolated non-seed
    reset = {0: 0.5, 4: 0.5}
    e = spark.createDataFrame(edges, "src bigint, dst bigint, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v bigint")
    rst = spark.createDataFrame(list(reset.items()), "v bigint, s double")
    want = _py_ppr(edges, nodes, reset, iters=4)
    try:
        got = {r["v"]: r["r"] for r in pagerank(
            e, nd, iters=4, reset=rst).collect()}
    finally:
        release_persisted()
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-9, v
    # isolated seed: closed form (1-d)*s_v; isolated non-seed: 0
    assert abs(got[4] - 0.15 * 0.5) < 1e-12
    assert got[5] == 0.0


def test_pagerank_zero_out_weight_source_modes_match(spark):
    """A source whose edge weights sum to exactly 0 (w=0.0 rows pass
    the isNotNull filter) must contribute nothing: w/_ow is a
    try_divide, NULL on a zero divisor, and F.sum skips it — never a
    NaN poisoning every rank, nor a DIVIDE_BY_ZERO under ANSI.  The
    reference is the Python model that masks zero-out-weight sources."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    edges = [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 3.0),
             (3, 1, 0.0), (3, 2, 0.0)]  # node 3: all-zero out-weight
    nodes = [0, 1, 2, 3]
    e = spark.createDataFrame(edges, "src int, dst int, w double")
    nd = spark.createDataFrame([(v,) for v in nodes], "v int")
    # uniform reset == global pagerank; _py_ppr masks outw == 0 sources
    want = _py_ppr(edges, nodes, {v: 0.25 for v in nodes}, iters=4)
    try:
        got = {r["v"]: r["r"] for r in pagerank(e, nd, iters=4).collect()}
    finally:
        release_persisted()
    for v in nodes:
        assert got[v] == got[v], v  # no NaN
        assert abs(got[v] - want[v]) < 1e-9, v


def test_graph_outputs_preserve_input_key_dtypes(spark):
    """Outputs keep the caller's INT vertex key dtype: connected_components
    (node, cluster_id), kcore (node) and label_propagation (label), each
    checked against hand / pure-Python results."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import (
        connected_components, kcore, label_propagation,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "a int, b int")
    ek = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "a int, b int")
    el = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 1), (3, 1, 1)], "src int, dst int, w int")
    nd = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "v int")
    try:
        cc = connected_components(pairs, "a", "b")
        assert dict(cc.dtypes) == {"node": "int", "cluster_id": "int"}
        assert ({r["node"]: r["cluster_id"] for r in cc.collect()}
                == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7})
        kc = kcore(ek, "a", "b", k=2, rounds=3)
        lp = label_propagation(el, nd, iters=3)
        assert dict(kc.dtypes) == {"node": "int", "core_deg": "bigint"}
        assert dict(lp.dtypes) == {"v": "int", "label": "int"}
        # the triangle 1-2-3 is the 2-core; node 4 (degree 1) peels
        assert ({r["node"]: r["core_deg"] for r in kc.collect()}
                == {1: 2, 2: 2, 3: 2})
        assert ({r["v"]: r["label"] for r in lp.collect()}
                == _py_lpa([(1, 2, 2), (2, 3, 1), (3, 1, 1)], [1, 2, 3, 4],
                           iters=3))
    finally:
        release_persisted()


def test_lpa_float_weights_auto_route_declarative(spark):
    """Float and integral caller weights run the same declarative chain
    (no Python node in either plan) and agree with the pure-Python
    model on this fixture (integer-valued floats, so sums are exact
    either way)."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import (
        label_propagation,
    )

    rows = [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 3, 3)]
    ef = spark.createDataFrame([(s, t, float(w)) for s, t, w in rows],
                               "src int, dst int, w double")
    ei = spark.createDataFrame(rows, "src int, dst int, w bigint")
    nd = spark.createDataFrame([(v,) for v in (1, 2, 3)], "v int")
    try:
        lf = label_propagation(ef, nd, iters=3)
        li = label_propagation(ei, nd, iters=3)
        for lab in (lf, li):
            plan = lab._jdf.queryExecution().executedPlan().toString()
            assert "Python" not in plan, plan
            assert ({r["v"]: r["label"] for r in lab.collect()}
                    == _py_lpa(rows, [1, 2, 3], iters=3))
    finally:
        release_persisted()


def _random_wellformed_merges(rng, n_merges, alphabet="theranois"):
    """A random BPE-style merge table built the way training builds one:
    each merge pairs two symbols already in the pool (chars + earlier
    merge outputs) and its output is a NEW string not yet in the pool —
    the well-formedness property real merges.txt files have."""
    pool = list(alphabet)
    seen = set(pool)
    merges = []
    while len(merges) < n_merges:
        a, b = rng.choice(pool), rng.choice(pool)
        if a + b in seen or len(a + b) > 8:
            continue
        merges.append((a, b))
        pool.append(a + b)
        seen.add(a + b)
    return merges


def _bpe_ref_seq(word, merges):
    """Independent sequential-full-application reference (table order,
    leftmost non-overlapping) — deliberately NOT the production helper."""
    syms = list(word)
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_ref_text(text, merges):
    """Reference encoding of one document: the tokenizer contract in
    plain Python (keep [A-Za-z] and spaces, lowercase, split on
    spaces), then ``_bpe_ref_seq`` per word; NULL text gives NULL."""
    import re

    if text is None:
        return None
    norm = re.sub("[^A-Za-z ]", "", text).lower()
    return [t for part in norm.split() for t in _bpe_ref_seq(part, merges)]


def test_bpe_encoder_matches_reference(spark):
    """``bpe_encode_batched`` on the query's fixed merge table vs the
    independent reference, on 200 seeded random words plus the words
    whose merges interact ('there': symbol e followed by symbol 're'
    must not merge as 'er')."""
    import random

    from mapreduce_implementation_spark.queries.textanalysis import (
        _BPE_MERGES, bpe_encode_batched,
    )

    rng = random.Random(4211)
    texts = ["there", "then", "other", "the", "and", "rere", "thther",
             "eses", "interesting", "and then there were none"]
    texts += ["".join(rng.choice("theranois") for _ in range(rng.randint(1, 14)))
              for _ in range(200)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["toks"] for r in
           bpe_encode_batched(df, "text", out="toks").collect()}
    for i, t in enumerate(texts):
        assert got[i] == _bpe_ref_text(t, _BPE_MERGES), (t, got[i])


def test_bpe_encoder_edge_texts_match_reference(spark):
    """``bpe_encode_batched`` vs the independent reference on the texts
    the tokenizer must normalise: None, empty, punctuation-bearing,
    whitespace-padded and non-ASCII ('İ' lowercases to 'i' + U+0307, so
    the tokenizer must strip before it lowercases), on the fixed merge
    table and on a random well-formed one."""
    import random

    from mapreduce_implementation_spark.queries.textanalysis import (
        _BPE_MERGES, bpe_encode_batched,
    )

    rng = random.Random(907)
    texts = ["There, THEN: other!", "", None, "İstanbul naïve reëntry",
             "x" * 40, "  spaced   out  ", "tab\tand\nnewline"]
    texts += ["".join(rng.choice("theranois .,!")
                      for _ in range(rng.randint(0, 30))) for _ in range(80)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    for merges in (_BPE_MERGES, _random_wellformed_merges(rng, 15)):
        got = {r["i"]: r["toks"] for r in
               bpe_encode_batched(df, "text", merges=merges,
                                  out="toks").collect()}
        for i, t in enumerate(texts):
            assert got[i] == _bpe_ref_text(t, merges), (merges, t, got[i])


def test_bpe_encoder_random_merge_tables(spark):
    """``bpe_encode_batched`` vs the independent reference over RANDOM
    well-formed merge tables (not just the fixed _BPE_MERGES fixture),
    so the encoder is pinned as a property of BPE, not of one lucky
    table.  8 seeded tables x 150 texts, one Spark action per table."""
    import random

    from mapreduce_implementation_spark.queries.textanalysis import (
        bpe_encode_batched,
    )

    rng = random.Random(1211)
    for table_i in range(8):
        merges = _random_wellformed_merges(rng, rng.randint(4, 20))
        texts = ["".join(rng.choice("theranois .,!")
                         for _ in range(rng.randint(0, 16)))
                 for _ in range(148)] + ["there", "and then there were none"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string")
        got = {r["i"]: r["toks"] for r in
               bpe_encode_batched(df, "text", merges=merges,
                                  out="toks").collect()}
        for i, t in enumerate(texts):
            assert got[i] == _bpe_ref_text(t, merges), (table_i, merges, t)


def test_bpe_batched_rejects_output_name_collision(spark):
    """An `out` name that already exists on the input must fail loudly
    at call time — the pandas side would silently overwrite while the
    schema gained a duplicate field (r12 review)."""
    import pytest

    from mapreduce_implementation_spark.queries.textanalysis import (
        bpe_encode_batched,
    )

    df = spark.createDataFrame([(1, "ab")], "i long, text string")
    with pytest.raises(ValueError, match="already exists"):
        bpe_encode_batched(df, "text", out="text")


def test_bpe_batched_at_vocab_scale_matches_reference(spark):
    """The encoder at a REAL merge-table size: 1,000 random well-formed
    merges (a chained-replace expression of this size overflows the
    driver's stack at about 300 merges before a task runs) vs the
    independent sequential reference on 120 seeded words."""
    import random

    from mapreduce_implementation_spark.queries.textanalysis import (
        bpe_encode_batched,
    )

    rng = random.Random(5012)
    merges = _random_wellformed_merges(rng, 1000)
    words = ["".join(rng.choice("theranois")
                     for _ in range(rng.randint(1, 14)))
             for _ in range(118)] + ["there", "and then there were none"]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                               "i long, text string")
    got = {r["i"]: r["toks"] for r in
           bpe_encode_batched(df, "text", merges=merges,
                              out="toks").collect()}
    for i, w in enumerate(words):
        ref = [t for part in w.split() for t in _bpe_ref_seq(part, merges)]
        assert got[i] == ref, (w, got[i][:8], ref[:8])


def test_bpe_train_batched_matches_reference_past_ceiling(spark):
    """The trainer vs an INDEPENDENT pure-Python Sennrich trainer
    (dict-of-word-counts formulation, shared nothing with the Spark
    path) for 40 rounds — enough rounds that a tie-break or
    apply-order slip compounds visibly."""
    import random
    from collections import Counter

    from mapreduce_implementation_spark.queries.textanalysis import (
        bpe_train_merges,
    )

    def ref_train(word_counts, k):
        vocab = {w: list(w) for w in word_counts}
        out = []
        for rank in range(1, k + 1):
            pc = Counter()
            for w, syms in vocab.items():
                c = word_counts[w]
                for j in range(len(syms) - 1):
                    pc[(syms[j], syms[j + 1])] += c
            if not pc:
                break
            # argmax with (count desc, lhs asc, rhs asc) — the same
            # total order both engines sort by
            (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, n))
            for w in vocab:
                vocab[w] = _bpe_ref_seq_one(vocab[w], a, b)
        return out

    def _bpe_ref_seq_one(syms, a, b):
        i, res = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                res.append(a + b)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        return res

    rng = random.Random(1307)
    words = ["".join(rng.choice("theranois")
                     for _ in range(rng.randint(2, 12)))
             for _ in range(400)]
    counts = Counter(words)
    # docs frame: one word per row, repeated per count (the trainer
    # collapses it back itself)
    df = spark.createDataFrame([(w,) for w in words], "text string")
    want = ref_train(counts, 40)
    got = [tuple(r) for r in
           bpe_train_merges(df, "text", 40).collect()]
    assert got == want, (got[:3], want[:3])


def test_bpe_train_multi_merge_parity(spark):
    """Multi-merge batching: batch_merges=m
    selects the maximal symbol-disjoint PREFIX of the sorted pair
    candidates, tie-guarded against created-pair count collisions
    (the two refinements that make the batch provably equal to the
    one-merge rounds — see the operator docstring).  Pin m∈{4,16}
    == m=1 — ranks, pairs, AND counts — on BOTH a uniform-random
    corpus (tie-dense: greedy-skip batching diverged at rank 3 here)
    and the real fixture documents (where plain prefix truncation
    without the tie-guard diverged at rank 14, the 'column'
    created-pair tie)."""
    import random

    from mapreduce_implementation_spark.queries.textanalysis import (
        bpe_train_merges,
    )
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    rng = random.Random(1307)
    words = ["".join(rng.choice("theranois")
                     for _ in range(rng.randint(2, 12)))
             for _ in range(400)]
    corpora = [
        spark.createDataFrame([(w,) for w in words], "text string"),
        load_table(spark, SF_DIR_001, "documents"),
    ]
    for corpus in corpora:
        want = [tuple(r) for r in
                bpe_train_merges(corpus, "text", 40).collect()]
        for m in (4, 16):
            got = [tuple(r) for r in
                   bpe_train_merges(corpus, "text", 40,
                                    batch_merges=m).collect()]
            first_diff = next((i for i, (g, w_) in
                               enumerate(zip(got, want)) if g != w_), None)
            assert got == want, (m, first_diff,
                                 got[first_diff] if first_diff is not None
                                 else None,
                                 want[first_diff] if first_diff is not None
                                 else None)


# --- r12: random-graph reference models for the remaining graph ops ---------
# (the BPE-lesson idiom: each operator's oracle twin unrolls the SAME
# formulation in SQL, so a mis-formulated algorithm could hash-match;
# these recompute the graph statistic with textbook pure-Python
# implementations on seeded random graphs.)


def _random_graph(rng, n_nodes, n_edges):
    edges = set()
    while len(edges) < n_edges:
        u, v = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    return sorted(edges)


def test_connected_components_matches_union_find(spark):
    import random

    from mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(121)
    for trial in range(3):
        edges = _random_graph(rng, 40, rng.randint(15, 60))
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        comp: dict[int, list] = {}
        for u, v in edges:
            comp.setdefault(find(u), []).append(u)
            comp[find(u)].append(v)
        want = {}
        for members in comp.values():
            lo = min(members)
            for m in members:
                want[m] = lo

        df = spark.createDataFrame(edges, "a long, b long")
        got = {r["node"]: r["cluster_id"] for r in
               connected_components(df, "a", "b").collect()}
        assert got == want, (trial,
                             sorted(set(got.items()) ^ set(want.items()))[:4])


def test_kcore_matches_python_peeling(spark):
    import random

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import kcore

    rng = random.Random(212)
    for trial in range(3):
        edges = _random_graph(rng, 30, rng.randint(25, 80))
        k = rng.randint(2, 4)
        # textbook fixed point: repeatedly drop ALL nodes of degree < k
        es = set(edges)
        while True:
            deg: dict[int, int] = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {x for x, d in deg.items() if d >= k}
            nes = {(u, v) for u, v in es if u in keep and v in keep}
            if nes == es:
                break
            es = nes
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        want = dict(deg)

        df = spark.createDataFrame(edges, "a long, b long")
        try:
            got = {r["node"]: r["core_deg"] for r in
                   kcore(df, "a", "b", k=k, rounds=30).collect()}
        finally:
            release_persisted()
        assert got == want, (trial, k, got, want)


def test_triangle_count_matches_bruteforce(spark):
    import itertools
    import random

    from mapreduce_implementation_spark.operators.graph import triangle_count

    rng = random.Random(312)
    for trial in range(3):
        edges = _random_graph(rng, 25, rng.randint(40, 120))
        es = set(edges)
        want: dict[int, int] = {}
        nodes = sorted({x for e in es for x in e})
        for a, b, c in itertools.combinations(nodes, 3):
            if ((a, b) in es and (a, c) in es and (b, c) in es):
                for x in (a, b, c):
                    want[x] = want.get(x, 0) + 1
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r["node"]: r["n_triangles"] for r in
               triangle_count(df, "a", "b").collect()}
        assert got == want, (trial, sorted(set(got.items())
                                           ^ set(want.items()))[:4])


def test_bfs_and_sssp_match_python_shortest_paths(spark):
    import heapq
    import random

    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import (
        bfs_distances, sssp_weighted,
    )

    rng = random.Random(412)
    for trial in range(2):
        n = 25
        dir_edges = sorted({(rng.randrange(n), rng.randrange(n))
                            for _ in range(70) if True})
        dir_edges = [(u, v, rng.randint(1, 9)) for u, v in dir_edges
                     if u != v]
        adj: dict[int, list] = {}
        for u, v, w in dir_edges:
            adj.setdefault(u, []).append((v, w))
        # dijkstra from 0 (weighted) + BFS hop counts (unit)
        dist = {0: 0}
        pq = [(0, 0)]
        while pq:
            d, x = heapq.heappop(pq)
            if d > dist.get(x, 1 << 60):
                continue
            for y, w in adj.get(x, ()):
                nd = d + w
                if nd < dist.get(y, 1 << 60):
                    dist[y] = nd
                    heapq.heappush(pq, (nd, y))
        hops = {0: 0}
        frontier = [0]
        h = 0
        while frontier and h < 6:
            h += 1
            nxt = []
            for x in frontier:
                for y, _ in adj.get(x, ()):
                    if y not in hops:
                        hops[y] = h
                        nxt.append(y)
            frontier = nxt

        all_nodes = sorted({x for u, v, _ in dir_edges for x in (u, v)}
                           | {0})
        e = spark.createDataFrame(dir_edges, "src long, dst long, w long")
        nodes = spark.createDataFrame([(x,) for x in all_nodes], "v long")
        try:
            got_b = {r["v"]: r["dist"] for r in bfs_distances(
                e, nodes, 0, max_hops=6).collect()}
            got_s = {r["v"]: r["dist"] for r in sssp_weighted(
                e, nodes, 0, rounds=n).collect()}
        finally:
            release_persisted()
        want_b = {x: hops.get(x) for x in all_nodes}
        want_s = {x: dist.get(x) for x in all_nodes}
        assert got_b == want_b, (trial, {x: (got_b[x], want_b[x])
                                         for x in all_nodes
                                         if got_b[x] != want_b[x]})
        assert got_s == want_s, (trial, {x: (got_s[x], want_s[x])
                                         for x in all_nodes
                                         if got_s[x] != want_s[x]})
