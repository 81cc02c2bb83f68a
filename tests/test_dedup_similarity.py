"""Quality checks for the approximate (non-SQL-oracle) dedup/similarity
operators: the hash-based candidate generators must recall the
ground-truth pairs that exact methods find."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.dedup import (
    char_shingles, lsh_candidate_pairs, minhash_signatures, minhash_dedup_pairs,
)
from mapreduce_implementation_spark.operators.similarity import ann_topk_lsh, cosine_topk
from mapreduce_implementation_spark.registry import all_specs
from mapreduce_implementation_spark.sources.tables import load_table
from tests.conftest import SF_DIR_01


def test_minhash_lsh_recalls_true_near_dups(spark):
    """Every pair with true char-shingle Jaccard >= 0.9 must appear in the
    LSH candidate set (P(miss) = (1-0.9^4)^16 ~ 3e-8 per pair)."""
    docs = load_table(spark, SF_DIR_01, "documents")
    sh = char_shingles(docs, "doc_id", "text", k=9).cache()

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle").filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sb")), "b")
        .withColumn("j", F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")))
        .filter(F.col("j") >= 0.9)
    )
    true_pairs = {(r["a"], r["b"]) for r in truth.collect()}
    assert true_pairs, "corpus should contain at least one >=0.9 near-dup pair"

    cand = lsh_candidate_pairs(minhash_signatures(sh, "doc_id"), "doc_id")
    cand_pairs = {(r["a"], r["b"]) for r in cand.collect()}
    missed = true_pairs - cand_pairs
    assert not missed, f"LSH missed true near-dups: {sorted(missed)[:10]}"


def test_minhash_estimate_tracks_true_jaccard(spark):
    """Signature-estimated Jaccard within 0.25 of truth for flagged pairs."""
    docs = load_table(spark, SF_DIR_01, "documents")
    est = {(r["a"], r["b"]): r["est_jaccard"]
           for r in minhash_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5).collect()}
    assert est, "expected some MinHash near-dup pairs"
    sh = char_shingles(docs, "doc_id", "text", k=9)
    sets = {r["doc_id"]: set(r["shs"]) for r in
            sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("shs")).collect()}
    for (x, y), e in list(est.items())[:50]:
        t = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
        assert abs(t - e) <= 0.25, f"pair ({x},{y}): est {e} vs true {t}"


def test_ann_lsh_recall_vs_exact(spark):
    """8-bit sign-LSH with Hamming<=1 ring should recall >=50% of the exact
    top-10 (random hyperplanes, cos>=0.3 neighborhood)."""
    emb = load_table(spark, SF_DIR_01, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in row["embedding"]]
    exact = [r["vec_id"] for r in
             cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    approx = [r["vec_id"] for r in
              ann_topk_lsh(emb, "vec_id", "embedding", qv, dim=64, k=10, exclude_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall too low: {recall} (exact={exact}, approx={approx})"


def test_ivf_recall_vs_exact(spark):
    """IVF with k=8/nprobe=4 (half the lists) should recall >=50% of the
    exact top-10 even on near-random vectors."""
    from mapreduce_implementation_spark.operators.ivf import ivf_topk, kmeans_fit

    emb = load_table(spark, SF_DIR_01, "embeddings").cache()
    row = emb.filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in row["embedding"]]
    cents = kmeans_fit(emb, "embedding", dim=64, k=8, iters=3)
    exact = [r["vec_id"] for r in
             cosine_topk(emb, "vec_id", "embedding", qv, k=10, exclude_id=0).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(emb, "vec_id", "embedding", qv, cents, k=10, nprobe=4,
                       exclude_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # determinism: same seed -> same centroids -> same result
    cents2 = kmeans_fit(emb, "embedding", dim=64, k=8, iters=3)
    assert (cents == cents2).all()


def test_embedding_lsh_recall_and_precision(spark):
    """The bucketed embedding near-dup (sign-LSH candidates + exact-cosine
    verify) at the AUTO-CHOSEN (bits, tables) — sign_lsh_params, the rule
    measured ~linear from sf0.1 to sf1 — must recall
    >=85% of the brute-force pairs at the same threshold (seeded
    hyperplanes -> deterministic; measured 0.919-0.922 across SFs), and
    the verify step makes false positives impossible.  The registered
    query's own audit (exact pairs on the md5 50% subset + recall_ok)
    must agree: recall_ok TRUE on every row."""
    from mapreduce_implementation_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh, sign_lsh_params,
    )

    specs = all_specs()
    emb = load_table(spark, SF_DIR_01, "embeddings")
    bits, tables = sign_lsh_params(emb.count(), 0.35, target_bucket=50)
    exact = {(r["a"], r["b"])
             for r in specs["dedup_embedding_cosine"].fn(spark, SF_DIR_01).collect()}
    lsh = {(r["a"], r["b"])
           for r in embedding_near_dup_pairs_lsh(
               emb, "vec_id", "embedding", dim=64, min_cosine=0.35,
               bits=bits, tables=tables).collect()}
    assert exact, "corpus should contain pairs above the cosine threshold"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.85, f"embedding-LSH recall too low: {recall}"
    assert not (lsh - exact), f"verified candidates above threshold yet absent from exact: {sorted(lsh - exact)[:5]}"

    audited = specs["dedup_embedding_lsh"].fn(spark, SF_DIR_01).collect()
    assert audited and all(r["recall_ok"] for r in audited)
    # the audit rows are exactly the exact pairs within the hash subset,
    # plus the unconditional (-1,-1) flag sentinel (r8)
    pairs_only = {(r["a"], r["b"]) for r in audited} - {(-1, -1)}
    assert (-1, -1) in {(r["a"], r["b"]) for r in audited}
    assert pairs_only and pairs_only <= exact


def test_ann_queries_recall_ok_and_exact_rows(spark):
    """The graduated ANN queries return the exact top-10 with
    recall_ok=TRUE at the fixed seeds (the bounded-oracle contract the
    driver hashes)."""
    specs = all_specs()
    for name, min_hits in (("similarity_ann_lsh", 7), ("similarity_ann_ivf", 5)):
        rows = specs[name].fn(spark, SF_DIR_01).collect()
        assert len(rows) == 10, name
        assert all(r["recall_ok"] for r in rows), name
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] \
            == list(range(1, 11)), name


def test_simhash_banding_is_lossless(spark):
    """The 4x16-bit band join is COMPLETE for Hamming <= 3 (pigeonhole:
    <= 3 differing bits cannot touch all 4 bands, so every qualifying
    pair shares at least one exact band) — the banded operator must
    equal the brute-force all-pairs Hamming join on the same simhashes.
    This is the structural guarantee that lets dedup_simhash stay a
    candidate-set query without a SQL twin: the candidate generation
    provably loses nothing."""
    from mapreduce_implementation_spark.operators.dedup import (
        simhash, simhash_near_dup_pairs,
    )
    from tests.conftest import SF_DIR_001

    docs = load_table(spark, SF_DIR_001, "documents")
    hashes = {r["doc_id"]: r["simhash"]
              for r in simhash(docs, "doc_id", "text").collect()}
    ids = sorted(hashes)
    mask = (1 << 64) - 1  # JVM longs are signed; popcount needs the
    brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]  # two's-complement view
             if bin((hashes[a] ^ hashes[b]) & mask).count("1") <= 3}
    banded = {(r["a"], r["b"]) for r in
              simhash_near_dup_pairs(docs, "doc_id", "text",
                                     max_hamming=3).collect()}
    assert banded == brute


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """Adversarial corpus: 300 byte-identical documents put all 300 ids in
    the SAME bucket of every band — 16 * C(300,2) ~ 717k joined rows from
    a 300-row input.  With bucket_cap=50 those stop-buckets are dropped
    outright, so candidates stay bounded (here: zero from the degenerate
    group, the three distinct docs keep their tiny buckets); cap=None
    recovers the full quadratic pair set, pinning that the guard — not
    some other pruning — is what bounds the output."""
    same = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, same) for i in range(300)] + [
        (1000, "completely different text about spark execution engines"),
        (1001, "another unrelated document concerning parquet readers"),
        (1002, "a third distinct body of text on shuffle services"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(char_shingles(docs, "doc_id", "text", k=9), "doc_id")
    capped = lsh_candidate_pairs(sig, "doc_id", bucket_cap=50).count()
    assert capped == 0, f"degenerate buckets must be dropped, got {capped} pairs"
    uncapped = lsh_candidate_pairs(sig, "doc_id", bucket_cap=None).count()
    assert uncapped == 300 * 299 // 2, uncapped


def test_lsh_bucket_cap_bounds_skewed_near_dup_cluster(spark):
    """The 100 TB failure mode the bucket cap exists for: a
    NEAR-duplicate cluster ~100x the median cluster size —
    not byte-identical, so signatures vary slightly and the mega-bucket
    forms from genuine signature agreement, the realistic boilerplate/
    crawl-dup shape.  Pins:

    1. the threat is real: uncapped, the hottest band bucket holds most
       of the 400-doc cluster, and candidates go quadratic (>= C(400,2)
       intra-cluster pairs would join);
    2. the cap bounds it: every surviving (band, bucket) has <= cap
       members, so the join's worst bucket emits <= C(cap, 2) pairs.
       The operator's contract is PER BUCKET VALUE (bands * cap^2 / 2
       per value — many independent clusters legitimately multiply the
       total); on THIS single-poison-cluster fixture the distinct
       bucket values outside the tiny ordinary families all come from
       the one mega-cluster, so total candidates <= bands * C(cap, 2)
       is the fixture-specific corollary asserted below;
    3. the cap is surgical: the median-sized clusters (ordinary 2-doc
       near-dups) keep their tiny buckets and their pairs survive.
    """
    from mapreduce_implementation_spark.operators.dedup import (
        char_shingles, lsh_candidate_pairs, minhash_signatures,
    )

    base = ("large language model training corpora require careful "
            "deduplication because repeated boilerplate passages distort "
            "the loss surface and waste compute on memorized spans that "
            "contribute nothing to generalization across domains " * 2)
    words = base.split()
    rows = []
    # the poison: 400 near-dups of one base text (one word swapped each)
    for i in range(400):
        mutated = list(words)
        mutated[i % len(words)] = f"variant{i:04d}"
        rows.append((i, " ".join(mutated)))
    # the median: 5 ordinary near-dup pairs of DISTINCT texts
    for j in range(5):
        t = (f"document family {j} discusses topic{j} with entirely "
             f"distinct vocabulary covering subject{j} area{j} details "
             f"and several unique sentences about matter{j} " * 3)
        rows.append((1000 + 2 * j, t))
        rows.append((1001 + 2 * j, t + " trailing marker"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(
        char_shingles(docs, "doc_id", "text", k=9, distinct=False),
        "doc_id").persist()
    bands, rows_per, cap = 16, 4, 50
    # (1) uncapped: the mega-cluster's shared-base band hashes form a
    # bucket holding most of the 400 docs — measured with the same
    # band arithmetic the operator uses
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"mh{b * rows_per + r}")
                              for r in range(rows_per)],
                            F.lit(b)).alias("bh"))
        for b in range(bands)
    ])
    buckets = (sig.select("doc_id", F.explode(band_structs).alias("bb"))
               .select("doc_id", "bb.band", "bb.bh"))
    sizes = buckets.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
    hottest = sizes.agg(F.max("n")).collect()[0][0]
    assert hottest > 100, hottest  # the skew threat is real
    uncapped = lsh_candidate_pairs(sig, "doc_id", bucket_cap=None).count()
    assert uncapped >= 400 * 399 // 2, uncapped  # quadratic blowup
    # (2) capped: surviving buckets all <= cap, candidates within the
    # documented bands * C(cap,2) bound
    surviving_max = (sizes.filter(F.col("n") <= cap)
                     .agg(F.max("n")).collect()[0][0])
    assert surviving_max <= cap
    capped_pairs = lsh_candidate_pairs(sig, "doc_id",
                                       bucket_cap=cap)
    n_capped = capped_pairs.count()
    bound = bands * cap * (cap - 1) // 2
    assert n_capped <= bound, (n_capped, bound)
    assert n_capped < uncapped / 20, (n_capped, uncapped)
    # (3) the ordinary near-dup pairs survive the cap
    got = {(r["a"], r["b"]) for r in capped_pairs.collect()}
    for j in range(5):
        assert (1000 + 2 * j, 1001 + 2 * j) in got, j
    sig.unpersist()


def test_simhash_pairs_are_high_jaccard(spark):
    """SimHash Hamming<=3 pairs should overlap the high-Jaccard truth
    set.  Runs against the operator directly — the registry's
    dedup_simhash query graduated (r8) to the audit-subset hash-oracle
    form, but the full-corpus candidate generator is still the
    production surface this pins."""
    from mapreduce_implementation_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    specs = all_specs()
    docs = load_table(spark, SF_DIR_01, "documents")
    sim = {(r["a"], r["b"])
           for r in simhash_near_dup_pairs(docs, "doc_id", "text",
                                           max_hamming=3).collect()}
    jac = {(r["a"], r["b"]) for r in specs["dedup_ngram_jaccard"].fn(spark, SF_DIR_01).collect()}
    assert sim, "expected some SimHash pairs"
    assert jac & sim, "SimHash pairs should include some exact-Jaccard near-dups"


def _union_find_min(edges):
    """{node: min node of its component} by pure-Python union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    lo: dict = {}
    for n in parent:
        r = find(n)
        lo[r] = min(lo.get(r, n), n)
    return {n: lo[find(n)] for n in parent}


def _shuffled_path(n, seed):
    """Edges of a path over ``n`` nodes whose ids are a seeded
    permutation: the component minimum sits mid-path, so star
    contraction needs several rounds."""
    import random

    ids = list(range(1000, 1000 + n))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


def _cc(spark, edges, schema):
    from mapreduce_implementation_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, schema)
    return {r["node"]: r["cluster_id"]
            for r in connected_components(df, "a", "b").collect()}


def test_connected_components_vs_union_find(spark):
    """Large-star/small-star CC must match a pure-Python union-find on an
    adversarial edge list: a long chain (worst case for naive min-label
    flooding), a star, a cycle, two singleton-ish pairs, and shuffled ids."""
    edges = (
        [(i + 1, i) for i in range(40, 60)]            # chain 40..60
        + [(100, v) for v in (101, 102, 103, 104)]     # star rooted high
        + [(7, 8), (8, 9), (9, 7)]                     # cycle
        + [(1, 2), (3, 4)]                             # two pairs
        + [(200, 45)]                                  # bridge into the chain
    )
    expect = _union_find_min(edges)
    assert _cc(spark, edges, "a: long, b: long") == expect
    # self-loop-only node: appears in `nodes`, never in canonical edges
    assert (_cc(spark, edges + [(77, 77)], "a: long, b: long")
            == {**expect, 77: 77})


def test_connected_components_string_keys(spark):
    """Vertex keys need not be integers: cluster_id is the component's
    minimum string, in the input key type."""
    from mapreduce_implementation_spark.operators.graph import connected_components

    edges = [("m", "c"), ("c", "x"), ("q", "p"), ("p", "b"), ("k", "k"),
             ("doc10", "doc9"), ("doc9", "doc100")]
    df = spark.createDataFrame(edges, "a string, b string")
    cc = connected_components(df, "a", "b")
    assert dict(cc.dtypes) == {"node": "string", "cluster_id": "string"}
    got = {r["node"]: r["cluster_id"] for r in cc.collect()}
    assert got == _union_find_min(edges)


def test_connected_components_multi_round_path(spark):
    """A 64-node path with shuffled ids takes more than one round to
    contract; the fixed point still matches union-find."""
    edges = _shuffled_path(64, seed=11)
    want = _union_find_min(edges)
    assert set(want.values()) == {1000}
    assert _cc(spark, edges, "a long, b long") == want


def test_connected_components_raises_past_max_rounds(spark, monkeypatch):
    """A graph that is not a fixed point after ``_MAX_ROUNDS`` rounds
    raises instead of returning a half-contracted clustering."""
    from mapreduce_implementation_spark.operators import graph

    monkeypatch.setattr(graph, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _cc(spark, _shuffled_path(64, seed=11), "a long, b long")


def test_connected_components_empty_pairs(spark):
    """An empty pair frame gives an empty clustering with the input key
    type, not an error."""
    from mapreduce_implementation_spark.operators.graph import connected_components

    df = spark.createDataFrame([], "a long, b long")
    cc = connected_components(df, "a", "b")
    assert dict(cc.dtypes) == {"node": "bigint", "cluster_id": "bigint"}
    assert cc.collect() == []


def _py_trigram_jaccard(rows, t):
    """Pure-Python exact trigram Jaccard over the reference tokenizer
    (ASCII-space split, [A-Za-z] kept, lowercased, empties dropped):
    {(a, b): J} for a < b with J >= t, rounded like the operator."""
    import re

    grams = {}
    for i, text in rows:
        toks = [w for w in (re.sub("[^A-Za-z]", "", t).lower()
                            for t in text.split(" ")) if w]
        grams[i] = {" ".join(toks[k:k + 3]) for k in range(len(toks) - 2)}
    out = {}
    for a in grams:
        for b in grams:
            inter = len(grams[a] & grams[b])
            if a < b and inter:
                j = inter / (len(grams[a]) + len(grams[b]) - inter)
                if j >= t:
                    out[(a, b)] = round(j, 6)
    return out


def test_ngram_jaccard_matches_python_and_keeps_boundary(spark):
    """``ngram_jaccard_pairs`` against a pure-Python trigram Jaccard on
    the same rows: a pair at EXACTLY J = t (the raw-score threshold
    must keep it), near-miss chaff whose docs share one gram (J well
    under t), and punctuation/case that the tokenizer strips."""
    from mapreduce_implementation_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # J(A,B) = 2 / (3 + 3 - 2) = 0.5 exactly
    rows = [(1, "a b c d e"), (2, "A, b c d f")]
    rows += [(10 + i, f"x{i} y{i} z{i} q w r{i} s{i} t{i}")
             for i in range(6)]
    rows += [(20, "the quick brown fox jumps"),
             (21, "The quick brown fox jumps!"), (22, "quick brown fox")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard for r in
           ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                               min_jaccard=0.5).collect()}
    assert got == _py_trigram_jaccard(rows, 0.5)
    assert got[(1, 2)] == 0.5


def test_cluster_representatives_semantics(spark):
    """Survivor set = exactly one per component (the longest member, min-id
    tiebreak) + every unpaired doc as a singleton."""
    from mapreduce_implementation_spark.operators.dedup import (
        cluster_representatives, ngram_jaccard_pairs)
    from mapreduce_implementation_spark.operators.graph import connected_components

    docs = load_table(spark, SF_DIR_01, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.5)
    pairs = pairs.cache()
    reps = cluster_representatives(
        docs.select("doc_id", "n_chars"), pairs, "doc_id", "n_chars").collect()

    cc = {r["node"]: r["cluster_id"]
          for r in connected_components(pairs, "a", "b").collect()}
    chars = {r["doc_id"]: r["n_chars"]
             for r in docs.select("doc_id", "n_chars").collect()}
    # expected survivor per component: max n_chars, then min doc_id
    best: dict[int, int] = {}
    for node, cl in cc.items():
        if cl not in best or (chars[node], -node) > (chars[best[cl]], -best[cl]):
            best[cl] = node
    singletons = set(chars) - set(cc)
    expected = {(best[cl], cl) for cl in best} | {(d, d) for d in singletons}
    got = {(r["doc_id"], r["cluster_id"]) for r in reps}
    assert got == expected
    sizes = {r["cluster_id"]: r["cluster_size"] for r in reps}
    for cl, sz in sizes.items():
        member_n = sum(1 for v in cc.values() if v == cl)
        assert sz == (member_n if member_n else 1)


def test_incremental_filter_vs_symmetric_pairs(spark):
    """Batch docs dropped by the incremental filter == batch docs that the
    symmetric pair join links to a corpus doc (and never to only other
    batch docs)."""
    from mapreduce_implementation_spark.operators.dedup import (
        near_dup_filter_against, ngram_jaccard_pairs)

    docs = load_table(spark, SF_DIR_01, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    kept = {r["doc_id"] for r in near_dup_filter_against(
        batch, corpus, "doc_id", "text", n=3, min_jaccard=0.5)
        .select("doc_id").collect()}
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert kept <= batch_ids

    sym = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard=0.5)
    linked = set()
    for r in sym.collect():
        a, b = r["a"], r["b"]
        if a % 5 == 0 and b % 5 != 0:
            linked.add(a)
        if b % 5 == 0 and a % 5 != 0:
            linked.add(b)
    assert batch_ids - kept == linked


def test_semantic_kmeans_dedup_validity(spark):
    """The k-means-blocked SemDeDup variant can't be SQL-oracled (cluster
    ids come from the seeded fit), so pin its semantics directly: (1) one
    output row per input vector, (2) deterministic across two runs, (3)
    every DROPPED vector has a same-block neighbor of lower id at
    cosine >= threshold (the min-id greedy's defining invariant), and
    (4) it actually drops something on this corpus."""
    from mapreduce_implementation_spark.operators.semantic import semantic_dedup_kmeans

    emb = load_table(spark, SF_DIR_01, "embeddings")
    out = semantic_dedup_kmeans(emb, "vec_id", "embedding",
                                dim=64, min_cosine=0.3)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert sorted(r["vec_id"] for r in rows) == sorted(
        r["vec_id"] for r in emb.select("vec_id").collect())

    again = {(r["vec_id"], r["block"], r["kept"])
             for r in semantic_dedup_kmeans(
                 emb, "vec_id", "embedding", dim=64, min_cosine=0.3).collect()}
    assert {(r["vec_id"], r["block"], r["kept"]) for r in rows} == again

    import numpy as np
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    block = {r["vec_id"]: r["block"] for r in rows}
    kept = {r["vec_id"] for r in rows if r["kept"]}
    dropped = [r["vec_id"] for r in rows if not r["kept"]]
    assert dropped, "corpus has within-cluster near-dups; expected drops"
    for d in dropped:
        mates = [v for v in vecs
                 if block[v] == block[d] and v < d]
        cos = [float(vecs[d] @ vecs[m]
                     / (np.linalg.norm(vecs[d]) * np.linalg.norm(vecs[m])))
               for m in mates]
        assert any(c >= 0.3 - 1e-9 for c in cos), \
            f"vec {d} dropped with no qualifying lower-id block-mate"


def test_semantic_block_cap_bounds_degenerate_block(spark):
    """Stop-block guard: a degenerate block holding nearly all vectors
    (identical embeddings -> every pair qualifies) is SKIPPED when it
    exceeds block_cap — all its members kept, quadratic work bounded —
    while small blocks still dedup; cap=None recovers the full greedy."""
    from mapreduce_implementation_spark.operators.semantic import (
        semantic_dedup_blocked,
    )

    v = [1.0] * 8
    rows = [(i, v, 0) for i in range(200)] + [(1000, v, 1), (1001, v, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    capped = semantic_dedup_blocked(df, "vec_id", "embedding", "label",
                                    min_cosine=0.9, block_cap=50)
    got = {r["vec_id"]: r["kept"] for r in capped.collect()}
    assert len(got) == 202
    assert all(got[i] for i in range(200)), "capped block must keep all"
    assert got[1000] and not got[1001], "small block still dedups"
    full = semantic_dedup_blocked(df, "vec_id", "embedding", "label",
                                  min_cosine=0.9, block_cap=None)
    kept_full = {r["vec_id"] for r in full.collect() if r["kept"]}
    assert kept_full == {0, 1000}


def test_sign_lsh_params_policy(spark):
    """The codified parameter rule: bits track log2(n/bucket) so bucket
    occupancy stays ~constant; tables hit the recall target via the
    Charikar collision probability; and the auto-parameterized LSH join
    still recalls the brute-force pairs at fixture scale."""
    import math

    from mapreduce_implementation_spark.operators.dedup import (
        embedding_near_dup_pairs, embedding_near_dup_pairs_lsh,
        sign_lsh_params,
    )
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    # bits nondecreasing in n, exact log2 rule
    prev_bits = 0
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        bits, tables = sign_lsh_params(n, 0.9)
        assert bits >= prev_bits
        assert bits == max(2, math.ceil(math.log2(n / 1000)))
        prev_bits = bits
        # where not capped, the analytic recall meets the target
        p = 1.0 - math.acos(0.9) / math.pi
        if tables < 64:
            assert 1 - (1 - p ** bits) ** tables >= 0.9
    # tighter thresholds need FEWER tables at same n (higher p)
    assert sign_lsh_params(10**6, 0.95)[1] <= sign_lsh_params(10**6, 0.5)[1]

    # end-to-end: auto params at fixture scale keep recall >= 0.8
    emb = load_table(spark, SF_DIR_001, "embeddings")
    n = emb.count()
    bits, tables = sign_lsh_params(n, 0.35, target_bucket=50)
    exact = {(r["a"], r["b"]) for r in
             embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                      min_cosine=0.35).collect()}
    approx = {(r["a"], r["b"]) for r in
              embedding_near_dup_pairs_lsh(emb, "vec_id", "embedding",
                                           dim=64, min_cosine=0.35,
                                           bits=bits, tables=tables).collect()}
    assert approx <= exact  # verify step is exact — no false positives
    assert exact, "fixture should contain near-dup pairs"
    assert len(approx & exact) / len(exact) >= 0.8


def test_substring_spans_planted_duplicate(spark):
    """A substring of length >= width + stride - 1 shared verbatim by two
    docs must be caught (the windowed-exactness guarantee), spans must
    cover it, and per-doc spans never overlap after the merge."""
    from mapreduce_implementation_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog again"  # 49 chars
    rows = [
        (1, "aaaa bbbb cccc " + shared + " dddd eeee"),
        (2, "xxxx yyyy " + shared + " zzzz wwww qqqq rrrr"),
        (3, "totally unrelated text with no duplicate content at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicate_substring_spans(df, "doc_id", "text",
                                      width=20, stride=5).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"]))
    assert 3 not in by_doc
    assert 1 in by_doc and 2 in by_doc
    # spans within a doc are disjoint and non-adjacent after the merge
    for doc, ss in by_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1, (doc, ss)
    # doc 1's normalized text places `shared` at 1-based offset 16;
    # some span must cover the whole planted region
    s, e = sorted(by_doc[1])[0], sorted(by_doc[1])[-1]
    assert s[0] <= 16 and e[1] >= 16 + len(shared) - 1


def test_substring_spans_hash_key_equivalent(spark):
    """hash_key=True (the 8-byte 100 TB shuffle key) must produce the
    same spans as string keys on the fixture corpus."""
    from mapreduce_implementation_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    docs = load_table(spark, SF_DIR_01, "documents").limit(200)
    plain = duplicate_substring_spans(docs, "doc_id", "text").collect()
    hashed = duplicate_substring_spans(docs, "doc_id", "text",
                                       hash_key=True).collect()
    canon = lambda rs: sorted((r["doc_id"], r["span_start"], r["span_end"])
                              for r in rs)
    assert canon(plain) == canon(hashed)


def test_random_projection_matches_numpy_signs(spark):
    """The JL query's hash-derived sign matrix and projection must equal
    a pure-Python rebuild: same md5-parity signs, y = (X R) / sqrt(16),
    and E-preserving distances on the audit subset."""
    import hashlib

    import numpy as np

    from mapreduce_implementation_spark.queries.similarity import (
        q_embedding_random_projection,
    )

    rows = q_embedding_random_projection(spark, SF_DIR_01).collect()
    assert rows, "audit subset must be non-empty at sf0.01"
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in load_table(spark, SF_DIR_01, "embeddings").collect()}

    def sign(d, j):
        h = int(hashlib.md5(f"{d}_{j}".encode()).hexdigest()[:4], 16)
        return 1.0 if h % 2 == 0 else -1.0

    R = np.array([[sign(d, j) for j in range(16)] for d in range(64)])

    def proj(x):
        return (x @ R) / 4.0

    for r in rows[:10]:
        x, y = emb[r["a"]], emb[r["b"]]
        od = float(np.sqrt(((x - y) ** 2).sum()))
        pd_ = float(np.sqrt(((proj(x) - proj(y)) ** 2).sum()))
        assert abs(r["orig_dist"] - round(od, 6)) < 1e-9
        assert abs(r["proj_dist"] - round(pd_, 6)) < 2e-6
        assert r["jl_mean_ok"] is True


def _model_substring_spans(rows: list[tuple[int, str]], width: int,
                           stride: int) -> set[tuple[int, int, int]]:
    """Independent pure-Python model of duplicate_substring_spans'
    documented semantics (normalize -> aligned windows every `stride`
    chars -> windows verbatim in >= 2 distinct docs -> per-doc merge of
    hits closer than `width`, 1-based inclusive offsets)."""
    import re

    norm = {i: re.sub(r"[^A-Za-z ]", "", t).lower() for i, t in rows}
    wins: dict[int, list[tuple[int, str]]] = {}
    for i, t in norm.items():
        if len(t) < width:
            continue
        wins[i] = [(p + 1, t[p:p + width])
                   for p in range(0, len(t) - width + 1, stride)]
    owners: dict[str, set[int]] = {}
    for i, ws in wins.items():
        for _, w in ws:
            owners.setdefault(w, set()).add(i)
    out: set[tuple[int, int, int]] = set()
    for i, ws in wins.items():
        hits = sorted({p for p, w in ws if len(owners[w]) >= 2})
        if not hits:
            continue
        start = prev = hits[0]
        for p in hits[1:]:
            if p - prev <= width:
                prev = p
                continue
            out.add((i, start, prev + width - 1))
            start = prev = p
        out.add((i, start, prev + width - 1))
    return out


def test_substring_spans_match_brute_force_model(spark):
    """duplicate_substring_spans must equal the pure-Python model on a
    corpus engineered around the edge cases: hits merging at EXACTLY
    `width` apart (adjacent spans coalesce), hits width+1 apart (spans
    split), docs shorter than width (excluded), normalization collisions
    (digits/punct stripped make two texts identical), whole-doc dups,
    and both key modes (string and xxhash64)."""
    from mapreduce_implementation_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    w, s = 6, 2
    blk = "abcdef"  # one aligned window wide
    rows = [
        # whole-doc duplicate pair
        (1, "xx yy " + blk + " zz qq"),
        (2, "xx yy " + blk + " zz qq"),
        # same block planted in otherwise-unique docs at stride-aligned
        # and unaligned offsets
        (3, "pp " + blk + " rr ss tt uu vv"),
        (4, "m" + blk + "nopqrs tuvwy"),
        # two hits 2*width apart -> must stay TWO spans (split case)
        (5, blk + "klmtuv" + blk + "wy"),
        # underscores strip to blk+blk: hits exactly `width` apart
        # (positions 1 and 7) -> must merge into ONE span
        (6, blk + "______" + blk),
        # doc shorter than width after normalization -> excluded
        (7, "a1b2!"),
        # digits strip to produce a verbatim copy of doc 3's text
        (8, "pp " + blk + " rr s7s t9t uu vv"),
        # no duplicated content at all
        (9, "zyxwvutsrqponmlkjihgfe"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    want = _model_substring_spans(rows, w, s)
    for hk in (False, True):
        got = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in duplicate_substring_spans(
                   df, "doc_id", "text", width=w, stride=s,
                   hash_key=hk).collect()}
        assert got == want, (hk, sorted(got), sorted(want))
    # the fixture really exercised the edge cases: doc 6 merged into one
    # span, doc 5 split into two, doc 7 excluded
    assert len([x for x in want if x[0] == 6]) == 1
    assert len([x for x in want if x[0] == 5]) == 2
    assert not any(x[0] == 7 for x in want)


def test_substring_spans_match_model_random(spark):
    """Randomized agreement with the model: many small docs over a
    2-letter+space alphabet (dense window collisions), several
    width/stride combos including stride=1 and stride>width."""
    import random

    from mapreduce_implementation_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    rng = random.Random(7)
    alphabet = "ab B!7 "
    for w, s in ((4, 1), (5, 2), (4, 6)):
        rows = [(i, "".join(rng.choice(alphabet)
                            for _ in range(rng.randrange(0, 18))))
                for i in range(24)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in duplicate_substring_spans(
                   df, "doc_id", "text", width=w, stride=s).collect()}
        want = _model_substring_spans(rows, w, s)
        assert got == want, (w, s, sorted(got), sorted(want))


def test_tfidf_cosine_matches_python_model(spark):
    """The exact TF-IDF cosine join must produce the identical pair set
    and scores as a pure-Python model, on a corpus with rare
    discriminative terms and shared stop-ish words, including
    near-identical pairs straddling the 0.9 threshold."""
    import math

    from mapreduce_implementation_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different zebra quagga okapi text here"),
        (5, "completely different zebra quagga okapi text here"),
        (6, "the the the quick quick words words words words"),
        (7, "unrelated singleton gibberish tokens nothing shared"),
        # doc 1 plus one common word: a near pair with unequal norms
        (8, "the quick brown fox jumps over the lazy dog here"),
    ]

    # pure-Python model of the documented semantics
    toks = {i: [t for t in txt.split() if t] for i, txt in rows}
    n = len(rows)
    tf: dict = {}
    for i, ts in toks.items():
        for t in ts:
            tf[(i, t)] = tf.get((i, t), 0) + 1
    dfc: dict = {}
    for (i, t) in tf:
        dfc[t] = dfc.get(t, 0) + 1
    w = {(i, t): c * math.log(n / dfc[t])
         for (i, t), c in tf.items() if dfc[t] < n}
    nn = {i: math.sqrt(sum(v * v for (j, _), v in w.items() if j == i))
          for i, _ in rows}
    want = set()
    for i, _ in rows:
        for j, _ in rows:
            if i < j:
                dot = sum(v * w.get((j, t), 0.0)
                          for (k, t), v in w.items() if k == i)
                if nn[i] and nn[j] and dot / (nn[i] * nn[j]) >= 0.9:
                    want.add((i, j, round(dot / (nn[i] * nn[j]), 6)))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        got = {(r["a"], r["b"], r["cos"])
               for r in tfidf_cosine_pairs(
                   df, "doc_id", "text", min_cosine=0.9).collect()}
    finally:
        release_persisted()
    assert {(a, b) for a, b, _ in got} == {(a, b) for a, b, _ in want}
    for (a, b, c) in got:
        cw = next(cw for (x, y, cw) in want if (x, y) == (a, b))
        assert abs(c - cw) < 1e-6, (a, b, c, cw)
    assert {(1, 2), (1, 8)} <= {(a, b) for a, b, _ in want}  # fixture sanity


def test_zero_norm_vectors_never_throw_under_ansi(spark):
    """A zero-norm (all-zero) embedding is VALID input — and under ANSI
    mode (Spark 4 default) a bare cosine division would throw
    DIVIDE_BY_ZERO the moment one reaches a corpus (r8 hardening: every
    cosine denominator is now try_divide).  Semantics pinned here: a
    zero vector has no direction, so it pairs with nothing
    (NULL cosine fails every threshold) and ranks last in top-k
    (NULL under desc ordering), while all other rows score exactly as
    before."""
    from mapreduce_implementation_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from mapreduce_implementation_spark.operators.semantic import (
        semantic_dedup_blocked,
    )
    from mapreduce_implementation_spark.operators.similarity import (
        cosine_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "x"),
        (2, [0.9, 0.1, 0.0, 0.0], "x"),
        (3, [0.0, 1.0, 0.0, 0.0], "x"),
        (4, [0.0, 0.0, 0.0, 0.0], "x"),  # zero-norm
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(
        df, "vec_id", "embedding", min_cosine=0.5).collect()}
    assert pairs == {(1, 2)}
    assert not any(4 in p for p in pairs)

    topk = cosine_topk(df, "vec_id", "embedding",
                       query_vec=[1.0, 0.0, 0.0, 0.0], k=4).collect()
    assert [r["vec_id"] for r in topk[:2]] == [1, 2]
    assert topk[-1]["vec_id"] == 4 and topk[-1]["cos"] is None

    sem = {r["vec_id"]: r["kept"] for r in semantic_dedup_blocked(
        df, "vec_id", "embedding", "label", min_cosine=0.5).collect()}
    assert sem[4] is True          # pairs with nothing -> survives
    assert sem[2] is False         # dropped by its lower-id near-dup


def test_content_defined_chunks_survive_insertion(spark):
    """The property content-defined chunking EXISTS for (and the fixed-
    stride chunker structurally lacks): inserting one token near the
    front re-chunks only its neighborhood — the chunk-hash set of the
    edited doc keeps the large majority of the original's chunks, so a
    chunk-store (or chunk-level dedup pass) pays for the edit, not the
    whole document.  Fixed-stride 64-char/256-char windows shift every
    downstream offset instead, killing most shared chunks."""
    import random

    from mapreduce_implementation_spark.operators.dedup import (
        content_defined_chunks,
    )

    rng = random.Random(1313)
    words = ["".join(rng.choice("theranois") for _ in range(rng.randint(2, 9)))
             for _ in range(400)]
    v1 = " ".join(words)
    v2 = " ".join(words[:10] + ["zzinserted"] + words[10:])
    df = spark.createDataFrame([(1, v1), (2, v2)], "doc_id long, text string")
    ch = content_defined_chunks(df, "doc_id", "text", buckets=8)
    by_doc = {1: set(), 2: set()}
    n_chunks = {1: 0, 2: 0}
    for r in ch.collect():
        by_doc[r["doc_id"]].add(r["ch"])
        n_chunks[r["doc_id"]] += 1
    shared = len(by_doc[1] & by_doc[2])
    frac = shared / max(len(by_doc[1]), 1)
    # ~400 tokens / ~8-token chunks => ~50 chunks; the edit should
    # disturb only the chunk(s) around position 10
    assert n_chunks[1] > 20, n_chunks
    assert frac >= 0.85, (
        f"CDC insertion robustness regressed: {shared} shared of "
        f"{len(by_doc[1])} original chunks (frac {frac:.2f}, pinned >=0.85)")
    # contrast: fixed-stride chunking of the same pair shares ~nothing
    # downstream of the edit (md5 of 64-char windows every 256 chars,
    # the dedup_chunk_signature scheme)
    from pyspark.sql import functions as F
    offs = F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)),
                      F.lit(256))
    fixed = (df.select("doc_id", F.explode(offs).alias("o"), "text")
             .select("doc_id", F.md5(F.expr("substring(text, o, 64)")
                                     .cast("binary")).alias("ch")))
    fx = {1: set(), 2: set()}
    for r in fixed.collect():
        fx[r["doc_id"]].add(r["ch"])
    fixed_frac = len(fx[1] & fx[2]) / max(len(fx[1]), 1)
    assert fixed_frac < frac, (fixed_frac, frac)


def test_cdc_finds_shifted_duplicate_fixed_stride_misses(spark):
    """At PAIR level, a front-shifted
    duplicate is detected by CDC chunk sharing (>=2 shared chunk
    hashes — the dedup_chunk_signature survival rule applied to
    content-defined chunks, the dedup_cdc_duplicate_mass composition)
    and MISSED by the fixed-stride signature (one inserted token
    shifts every 256-char window, so the pair shares fewer than 2
    fixed chunks and never surfaces)."""
    import random

    from pyspark.sql import functions as F

    from mapreduce_implementation_spark.operators.dedup import (
        content_defined_chunks,
    )

    rng = random.Random(1717)
    words = ["".join(rng.choice("theranois")
                     for _ in range(rng.randint(2, 9)))
             for _ in range(400)]
    v1 = " ".join(words)
    v2 = " ".join(["zzshift"] + words)  # pure front insertion
    df = spark.createDataFrame([(1, v1), (2, v2)],
                               "doc_id long, text string")

    def pairs_with_shared_ge2(chunks):
        a = chunks.select(F.col("doc_id").alias("a"), "ch").distinct()
        b = chunks.select(F.col("doc_id").alias("b"), "ch").distinct()
        return {(r["a"], r["b"]) for r in
                (a.join(b, "ch").filter(F.col("a") < F.col("b"))
                 .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") >= 2)).collect()}

    cdc = content_defined_chunks(df, "doc_id", "text", buckets=8)
    assert (1, 2) in pairs_with_shared_ge2(cdc)

    offs = F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)),
                      F.lit(256))
    fixed = (df.select("doc_id", F.explode(offs).alias("o"), "text")
             .select("doc_id", F.md5(F.expr("substring(text, o, 64)")
                                     .cast("binary")).alias("ch")))
    assert (1, 2) not in pairs_with_shared_ge2(fixed)
