"""Similarity-search queries (north-star Q12) over ``embeddings``.

The query vector is vec_id=0's embedding — fetched with a 1-row collect
(a query *parameter*, not a data-path collect; in production the caller
supplies it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import ann_topk_lsh, cosine_topk
from ..registry import register
from ..sources.tables import load_table

_DIM = 64


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise ValueError(
            f"query vector unavailable: no row with vec_id={vec_id} "
            "(a caller-side parameter error, not an engine state)")
    return [float(x) for x in row["embedding"]]


@register(
    "similarity_cosine_topk",
    oracle="""
    SELECT b.vec_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos
    FROM embeddings a, embeddings b
    WHERE a.vec_id = 0 AND b.vec_id <> 0
    ORDER BY cos DESC, b.vec_id
    LIMIT 10
    """,
    doc="Exact brute-force cosine top-10 to vec 0 (Q12 baseline): one scan, "
        "JVM-side dot products, TakeOrderedAndProject (no global sort).",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, "vec_id", "embedding",
                       _query_vec(spark, sf_dir), k=10, exclude_id=0)


_EXACT_TOPK_SQL = """
    SELECT vec_id, cos, CAST(rank AS INTEGER) AS rank, TRUE AS recall_ok
    FROM (
      SELECT b.vec_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos,
             row_number() OVER (
               ORDER BY round(list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])), 6) DESC, b.vec_id) AS rank
      FROM embeddings a, embeddings b
      WHERE a.vec_id = 0 AND b.vec_id <> 0
    ) WHERE rank <= 10
    """


def _recall_audited_topk(emb: DataFrame, ann: DataFrame,
                         query_vec: list[float], min_hits: int) -> DataFrame:
    """Bounded-oracle graduation for ANN top-k (the minhash/simhash
    pattern): output the EXACT top-10 (fully
    SQL-expressible -> hash-oracled) plus an in-query ``recall_ok``
    boolean — |ann-top-10 ∩ exact-top-10| >= min_hits on the fixed
    seeds.  The ANN leg is deterministic (seeded hyperplanes / seeded
    k-means), so the boolean is stable and the oracle pins it TRUE; a
    recall regression flips every output row's hash.  The audit costs
    one 10-row semi-join — nothing at any scale."""
    from pyspark.sql.window import Window

    exact = cosine_topk(emb, "vec_id", "embedding", query_vec,
                        k=10, exclude_id=0)
    hits = (exact.select("vec_id")
            .join(ann.select("vec_id"), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("_h")))
    rc = hits.select((F.col("_h") >= min_hits).alias("recall_ok"))
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return (exact.withColumn("rank", F.row_number().over(w).cast("int"))
            .crossJoin(F.broadcast(rc)))


@register(
    "similarity_ann_lsh",
    oracle=_EXACT_TOPK_SQL,
    doc="Sign-LSH (multi-table random-hyperplane) ANN top-10 — scale path "
        "#1: candidate set from bucket collisions, then exact re-rank.  "
        "Graduated to a bounded hash oracle: output = exact top-10 "
        "(SQL twin) + in-query recall_ok (ANN∩exact >= 7 of 10 at the "
        "fixed seed; measured 0.9-1.0 across sf0.001/0.01/0.1).",
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    ann = ann_topk_lsh(emb, "vec_id", "embedding", qv,
                       dim=_DIM, k=10, exclude_id=0)
    return _recall_audited_topk(emb, ann, qv, min_hits=7)


@register(
    "similarity_ann_ivf",
    oracle=_EXACT_TOPK_SQL,
    doc="IVF ANN top-10 — scale path #2: seeded k-means inverted lists "
        "(built on a sample at 100 TB), probe nprobe nearest lists, exact "
        "re-rank inside them.  Graduated to a bounded hash oracle: "
        "output = exact top-10 (SQL twin) + in-query recall_ok "
        "(ANN∩exact >= 5 of 10 at nprobe=4/k=8 lists; measured 0.6-0.8 "
        "across sf0.001/0.01/0.1).",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist
    from ..operators.ivf import ivf_topk, kmeans_fit

    # tracked: a bare .cache() here would outlive
    # release_persisted() — a session-lifetime leak in repeat callers.
    emb = tracked_persist(load_table(spark, sf_dir, "embeddings"))
    qv = _query_vec(spark, sf_dir)
    centroids = kmeans_fit(emb, "embedding", dim=_DIM, k=8, iters=3)
    ann = ivf_topk(emb, "vec_id", "embedding", qv,
                   centroids, k=10, nprobe=4, exclude_id=0)
    return _recall_audited_topk(emb, ann, qv, min_hits=5)


@register(
    "embedding_centroids",
    oracle="""
    SELECT label,
           CAST(pos AS INTEGER) AS pos,
           count(*) AS n_vectors,
           round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val
    FROM (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
    doc="Per-label mean embedding (the class-centroid building block of "
        "IVF / clustering / nearest-class-mean): posexplode to "
        "(label, dim, value) then one partial-aggregable shuffle keyed on "
        "(label, dim) — output is O(labels x dim) no matter how many "
        "vectors; centroids never pass through the driver.",
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
        .select("label", F.col("pos").cast("int").alias("pos"),
                "n_vectors", "centroid_val")
    )


@register(
    "similarity_quantized_topk",
    oracle="""
    WITH qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id = 0
    ),
    qq AS (
      SELECT list_transform(v, x -> round(x / (
               CASE WHEN list_max(list_transform(v, y -> abs(y))) > 0
                    THEN list_max(list_transform(v, y -> abs(y))) / 127.0
                    ELSE 1.0 END))) AS q
      FROM qv
    ),
    cand AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> round(x / (
               CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                 y -> abs(y))) > 0
                    THEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                 y -> abs(y))) / 127.0
                    ELSE 1.0 END))) AS qvec
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id,
           round(list_dot_product(qvec, q) /
                 (sqrt(list_dot_product(qvec, qvec)) *
                  sqrt(list_dot_product(q, q))), 6) AS cos
    FROM cand, qq
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """,
    doc="Approximate cosine top-10 over int8-quantized embeddings "
        "(symmetric per-vector SQ8): the 100 TB memory rung — the scan "
        "reads a 4x-smaller column and the dot products are integer "
        "arithmetic in codegen.  Score = exact cosine of the quantized "
        "vectors — deterministic and list-expressible, so it carries a "
        "full DuckDB oracle (round() is half-away-from-zero on both "
        "sides); recall vs the float baseline is additionally pinned by "
        "tests/test_graph_text.py.",
)
def q_similarity_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantized_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_cosine_topk(emb, "vec_id", "embedding",
                                 _query_vec(spark, sf_dir), k=10, exclude_id=0)


@register(
    "retrieval_rrf_fusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(list_filter(
            string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
            t -> t <> '')) AS tok
        FROM documents WHERE doc_id <> 0
      )
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ('hash', 'join', 'window') GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1))
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS c
      FROM tf JOIN dl USING (doc_id)
      JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN stats
    ),
    agg AS (SELECT doc_id, round(sum(c), 6) AS bm25 FROM scored GROUP BY doc_id),
    bm20 AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM agg
      ) WHERE r <= 20
    ),
    cs20 AS (
      SELECT doc_id, r FROM (
        SELECT b.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) DESC, b.vec_id) AS r
        FROM embeddings a, embeddings b
        WHERE a.vec_id = 0 AND b.vec_id <> 0
      ) WHERE r <= 20
    ),
    fused AS (
      SELECT COALESCE(bm20.doc_id, cs20.doc_id) AS doc_id,
             round(COALESCE(1.0 / (60 + bm20.r), 0)
                   + COALESCE(1.0 / (60 + cs20.r), 0), 6) AS rrf
      FROM bm20 FULL OUTER JOIN cs20 ON bm20.doc_id = cs20.doc_id
    )
    SELECT doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM (
      SELECT doc_id, rrf,
             row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion (the RAG-stack "
        "standard): BM25 top-20 for the query terms {hash, join, window} "
        "fused with embedding-cosine top-20 to the query vector (vec 0 "
        "= its document, excluded from both lists) via "
        "RRF(k=60) = sum 1/(60+rank).  Both retrieval legs are the "
        "already-proven scale paths (aggregation-based BM25, one-scan "
        "TakeOrderedAndProject cosine); fusion itself is a full-outer "
        "join of two 20-row frames — driver-negligible whatever the "
        "corpus size, because rank lists are top-k by construction.",
)
def q_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.textstats import bm25_topk

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    bm = (bm25_topk(docs, "doc_id", "text", ("hash", "join", "window"), k=20)
          .select("doc_id", F.col("rank").alias("r_bm")))
    emb = load_table(spark, sf_dir, "embeddings")
    cos = cosine_topk(emb, "vec_id", "embedding",
                      _query_vec(spark, sf_dir), k=20, exclude_id=0)
    # rank windows run over the already-top-20 frames (<= 20 rows)
    w_cos = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    cs = (cos.withColumn("r_cos", F.row_number().over(w_cos))
          .select(F.col("vec_id").alias("doc_id"), "r_cos"))
    fused = (
        bm.join(cs, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.lit(1.0) / (F.col("r_bm") + 60), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.col("r_cos") + 60), F.lit(0.0)),
                6).alias("rrf"),
        )
    )
    top = fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)
    w_out = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w_out).cast("int"))


_SUBVECS = 8
_SUBDIM = 8


def _maxsim_oracle() -> str:
    """DuckDB twin of the maxsim scoring: same slice/cos/greatest/sum
    expression tree, query subvectors materialized from vec 0."""
    cos = (lambda j, i:
           f"round(list_cosine_similarity("
           f"CAST(b.embedding[{j * _SUBDIM + 1}:{(j + 1) * _SUBDIM}] AS DOUBLE[]), "
           f"CAST(a.embedding[{i * _SUBDIM + 1}:{(i + 1) * _SUBDIM}] AS DOUBLE[])), 6)")
    per_q = " + ".join(
        "greatest(" + ", ".join(cos(j, i) for j in range(_SUBVECS)) + ")"
        for i in range(_SUBVECS))
    return f"""
    SELECT vec_id, maxsim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT vec_id, maxsim,
             row_number() OVER (ORDER BY maxsim DESC, vec_id) AS rank
      FROM (
        SELECT b.vec_id, round({per_q}, 6) AS maxsim
        FROM embeddings a, embeddings b
        WHERE a.vec_id = 0 AND b.vec_id <> 0
      )
    ) WHERE rank <= 10
    """


@register(
    "similarity_maxsim_multivector",
    oracle=_maxsim_oracle(),
    doc="Late-interaction (ColBERT-style) multi-vector retrieval: each "
        "64-dim embedding is treated as 8 token-level subvectors of 8 "
        "dims; score(doc) = sum over query subvectors of the max cosine "
        "against any doc subvector — the MaxSim operator.  All 64 "
        "subvector cosines are pure per-row column expressions inside "
        "whole-stage codegen (slice + fold dot + greatest), one corpus "
        "scan, TakeOrderedAndProject top-10 — no explode, no join, no "
        "shuffle before the final top-k.  The 100 TB escalation is the "
        "same as single-vector search: route through an ANN index on "
        "the pooled vector, MaxSim-rerank the candidates (exactly this "
        "expression).",
)
def q_similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.window import Window

    from ..functions.vectorfn import dot, l2_norm

    q = _query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)

    per_q_terms = []
    for i in range(_SUBVECS):
        qi = q[i * _SUBDIM:(i + 1) * _SUBDIM]
        qn = math.sqrt(sum(x * x for x in qi))
        qlit = F.array(*[F.lit(float(x)) for x in qi])
        cos_js = []
        for j in range(_SUBVECS):
            sl = F.slice(F.col("embedding"), j * _SUBDIM + 1, _SUBDIM)
            cos_js.append(F.round(
                dot(sl, qlit) / (l2_norm(sl) * F.lit(qn)), 6))
        per_q_terms.append(F.greatest(*cos_js))
    score = F.round(sum(per_q_terms[1:], per_q_terms[0]), 6)
    top = (emb.select("vec_id", score.alias("maxsim"))
           .orderBy(F.desc("maxsim"), F.asc("vec_id")).limit(10))
    w = Window.orderBy(F.desc("maxsim"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@register(
    "retrieval_hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS ql
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.qid, b.vec_id,
             round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])),
                   6) AS cos
      FROM q JOIN embeddings b ON b.label <> q.ql
    ),
    ranked AS (
      SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    )
    SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS neg_id,
           cos, CAST(rn AS INTEGER) AS rank
    FROM ranked WHERE rn <= 5
    """,
    doc="Hard-negative mining for contrastive retrieval training (the "
        "embedding-model data-curation step: the most confusable "
        "OTHER-class examples make the strongest negatives): for each "
        "of 8 probe vectors, the top-5 by cosine among vectors with a "
        "DIFFERENT label.  Probes broadcast (8 rows), scoring is the "
        "JVM cosine HOF over one corpus scan, and per-probe top-5 runs "
        "through operators/windows.top_k_per_group_salted — the "
        "two-phase top-k whose local phase spreads each probe's "
        "corpus-sized candidate group over 64 salt buckets, so no "
        "task ever sorts a whole group (a plain PARTITION BY qid "
        "window would put each probe's ENTIRE corpus scan in one "
        "task).  Ranking on the round-6 score keeps tie order "
        "engine-independent.",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectorfn import cosine
    from ..operators.windows import top_k_per_group_salted

    emb = load_table(spark, sf_dir, "embeddings")
    probes = (emb.where(F.col("vec_id") < 8)
              .select(F.col("vec_id").alias("qid"),
                      F.col("embedding").alias("qe"),
                      F.col("label").alias("ql")))
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .where(F.col("label") != F.col("ql"))
        .select("qid", "vec_id",
                F.round(cosine(F.col("qe"), F.col("embedding")), 6)
                .alias("cos"))
    )
    top = top_k_per_group_salted(
        scored, ["qid"], [F.desc("cos"), F.asc("vec_id")], k=5,
        salt_col=F.col("vec_id"), out_rank="rank")
    return top.select("qid", F.col("vec_id").alias("neg_id"), "cos", "rank")


@register(
    "embedding_dim_stats",
    oracle="""
    WITH e AS (
      SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(v), 6) AS mean_v,
           round(var_samp(v), 6) AS var_v,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v
    FROM e GROUP BY dim
    """,
    doc="Per-dimension embedding statistics (the feature-health audit "
        "run before training a quantizer or whitening transform): "
        "posexplode -> one partial-aggregable groupBy over 64 dims.  "
        "The reduce side sees 64 rows regardless of corpus size; at "
        "100 TB this is a pure map-side-combine pipeline, and the "
        "per-dim variance feeds directly into the SQ8 quantizer ranges "
        "used by similarity_quantized_topk.",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "v"))
    v = F.col("v").cast("double")
    return (ex.select("dim", v.alias("v"))
            .groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("v"), 6).alias("mean_v"),
                 F.round(F.var_samp("v"), 6).alias("var_v"),
                 F.round(F.min("v"), 6).alias("min_v"),
                 F.round(F.max("v"), 6).alias("max_v")))


# Power-iteration rounds for embedding_pca_power.  r11: 5 -> 40.  The
# r11 reference test (tests/test_stats_references.py) checked the
# recipe against numpy.linalg.eigh and found 5 rounds stop at ~85% of
# the true leading eigenvalue on the fixture spectrum (lambda2/lambda1
# ~ 0.93 — synthetic embeddings are near-isotropic, the slowest case
# for power iteration); 40 rounds reach 99.8% with 0.988 alignment.
# The matvec runs DRIVER-SIDE on the collected 64x64 matrix, so extra
# rounds are microseconds; the oracle's matching unrolled CTE rounds
# are generated programmatically below (each is a 64x64-row join).
_PCA_POWER_ITERS = 40


def _pca_power_oracle() -> str:
    ctes = ["""e AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )""", """c AS MATERIALIZED (
      SELECT a.d AS i, b.d AS j, covar_pop(a.v, b.v) AS cv
      FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2
    )""", "v0 AS (SELECT i AS d, 0.125 AS x FROM (SELECT DISTINCT i FROM c))"]
    k = _PCA_POWER_ITERS
    for i in range(1, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT c.i AS d, sum(cv * v{i-1}.x) AS y "
            f"FROM c JOIN v{i-1} ON c.j = v{i-1}.d GROUP BY 1)")
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT d, y / sqrt((SELECT sum(y*y) FROM m{i})) AS x "
            f"FROM m{i})")
    ctes.append(f"lam AS MATERIALIZED (SELECT sqrt(sum(y*y)) AS l FROM m{k})")
    ctes.append("tr AS (SELECT sum(cv) AS t FROM c WHERE i = j)")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(v{k}.d AS INTEGER) AS dim, round(v{k}.x, 4) AS loading,
           round((SELECT l FROM lam), 6) AS eigenvalue,
           round((SELECT l FROM lam) / (SELECT t FROM tr), 6) AS var_explained
    FROM v{k}
    """)


@register(
    "embedding_pca_power",
    oracle=_pca_power_oracle(),
    doc="Leading principal component of the embedding corpus (the "
        "whitening / feature-decorrelation primitive run before "
        "quantizer training): population covariance via BLAS "
        "outer-product partials in one mapInPandas stage (O(dim^2) "
        "state and shuffle per task, never n*dim^2 rows — "
        "operators/similarity.covariance_matrix), then 40 deterministic "
        "power-iteration matvecs on the collected 64x64 matrix (RNG-free "
        "all-0.125 start; 5 rounds stopped at ~85% of the true leading "
        "eigenvalue on the near-isotropic fixture spectrum — the r11 "
        "numpy.linalg.eigh reference test caught it, and driver-side "
        "64x64 matvecs make extra rounds free).  The oracle rebuilds "
        "the identical covariance with covar_pop and unrolls the same "
        "40 matvec+normalize rounds as generated chained CTEs, so "
        "loadings, eigenvalue (= ||C v39||) and variance-explained "
        "fraction agree to rounding.",
)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import covariance_matrix, power_iteration_top

    emb = load_table(spark, sf_dir, "embeddings")
    n, _mean, C = covariance_matrix(emb, "embedding", dim=64)
    schema = ("dim int, loading double, eigenvalue double, "
              "var_explained double")
    if n == 0:
        return spark.createDataFrame([], schema)
    lam, vec = power_iteration_top(C, iters=_PCA_POWER_ITERS)
    tr = float(C.trace())
    rows = [(d, float(vec[d]), lam, lam / tr) for d in range(64)]
    raw = spark.createDataFrame(rows, schema)
    return raw.select("dim", F.round("loading", 4).alias("loading"),
                      F.round("eigenvalue", 6).alias("eigenvalue"),
                      F.round("var_explained", 6).alias("var_explained"))


@register(
    "embedding_random_projection",
    oracle="""
    WITH k AS (
      SELECT greatest(1, least(50, CAST(3000 // greatest(count(*), 1) AS BIGINT))) AS kk
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, CAST(generate_subscripts(embedding,1)-1 AS INTEGER) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings, k
      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100 < kk
    ),
    proj AS MATERIALIZED (
      SELECT vec_id, j,
             sum(v * (CASE WHEN ('0x' || substr(md5(d || '_' || j), 1, 4))::BIGINT % 2 = 0
                           THEN 1.0 ELSE -1.0 END)) / sqrt(16.0) AS y
      FROM e, (SELECT unnest(generate_series(0, 15)) AS j) js
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             sqrt(sum((a.v - b.v) * (a.v - b.v))) AS orig_dist
      FROM e a JOIN e b ON a.d = b.d AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    pdist AS (
      SELECT p.a, p.b, sqrt(sum((x.y - y.y) * (x.y - y.y))) AS proj_dist
      FROM pairs p
      JOIN proj x ON x.vec_id = p.a
      JOIN proj y ON y.vec_id = p.b AND x.j = y.j
      GROUP BY 1, 2
    ),
    audit AS (
      SELECT a, b, orig_dist, proj_dist,
             (proj_dist / orig_dist) * (proj_dist / orig_dist) AS sq_ratio
      FROM pairs JOIN pdist USING (a, b) WHERE orig_dist > 0
    ),
    stats AS (SELECT avg(sq_ratio) AS msr FROM audit)
    SELECT a, b, round(orig_dist, 6) AS orig_dist,
           round(proj_dist, 6) AS proj_dist,
           round(sq_ratio, 6) AS sq_ratio,
           round(msr, 6) AS mean_sq_ratio,
           (msr BETWEEN 0.7 AND 1.4) AS jl_mean_ok
    FROM audit, stats
    """,
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims with a "
        "DETERMINISTIC hash-derived sign matrix (Achlioptas 2003: "
        "+-1/sqrt(k) entries preserve distances in expectation; the sign "
        "of R[d][j] is the parity of md5(d_j), so every engine and every "
        "run builds the same matrix with no RNG state).  Output audits "
        "the JL guarantee itself on the adaptive md5-bucket vector "
        "subset (K = clamp(3000//n, 1, 50) of 100 buckets -- the O(1) "
        "audit-cost idiom from dedup_embedding_lsh): per-pair original "
        "vs projected distance and squared ratio, plus the subset mean "
        "of the squared ratio, whose expectation is exactly 1 "
        "(jl_mean_ok pins it to [0.7, 1.4]; measured ~1.01).  The "
        "projection is one posexplode + a 16-way partial-aggregable "
        "sum -- n x dim x 16 codegen rows into an n x 16 shuffle, no "
        "Python; at 100 TB it is the cheap preprocessing that makes "
        "downstream ANN 4x narrower.",
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    kk = max(1, min(50, 3000 // max(n, 1)))
    bucket = (F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4),
                     16, 10).cast("long") % 100)
    e = (emb.where(bucket < kk)
         .select("vec_id", F.posexplode("embedding").alias("d", "v"))
         .select("vec_id", "d", F.col("v").cast("double").alias("v")))
    e = tracked_persist(e)
    js = spark.range(16).select(F.col("id").cast("int").alias("j"))
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat_ws("_", F.col("d"), F.col("j"))),
                           1, 4), 16, 10).cast("long") % 2 == 0,
        F.lit(1.0)).otherwise(F.lit(-1.0))
    proj = (e.crossJoin(F.broadcast(js))
            .groupBy("vec_id", "j")
            .agg((F.sum(F.col("v") * sign) / F.lit(4.0)).alias("y")))
    ea, eb = e.alias("ea"), e.alias("eb")
    pairs = (ea.join(eb, (F.col("ea.d") == F.col("eb.d"))
                     & (F.col("ea.vec_id") < F.col("eb.vec_id")))
             .groupBy(F.col("ea.vec_id").alias("a"),
                      F.col("eb.vec_id").alias("b"))
             .agg(F.sqrt(F.sum((F.col("ea.v") - F.col("eb.v"))
                               * (F.col("ea.v") - F.col("eb.v"))))
                  .alias("orig_dist")))
    px, py = proj.alias("px"), proj.alias("py")
    pdist = (px.join(py, (F.col("px.j") == F.col("py.j"))
                     & (F.col("px.vec_id") < F.col("py.vec_id")))
             .groupBy(F.col("px.vec_id").alias("a"),
                      F.col("py.vec_id").alias("b"))
             .agg(F.sqrt(F.sum((F.col("px.y") - F.col("py.y"))
                               * (F.col("px.y") - F.col("py.y"))))
                  .alias("proj_dist")))
    sq = (F.col("proj_dist") / F.col("orig_dist")) * (F.col("proj_dist") / F.col("orig_dist"))
    audit = (pairs.join(pdist, ["a", "b"])
             .where(F.col("orig_dist") > 0)
             .withColumn("sq_ratio", sq))
    stats = audit.agg(F.avg("sq_ratio").alias("msr"))
    return (audit.crossJoin(F.broadcast(stats))
            .select("a", "b", F.round("orig_dist", 6).alias("orig_dist"),
                    F.round("proj_dist", 6).alias("proj_dist"),
                    F.round("sq_ratio", 6).alias("sq_ratio"),
                    F.round("msr", 6).alias("mean_sq_ratio"),
                    F.col("msr").between(0.7, 1.4).alias("jl_mean_ok")))


@register(
    "embedding_outlier_zscore",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (
      SELECT dim, avg(v) AS mu, stddev_pop(v) AS sigma FROM e GROUP BY dim
    ),
    d AS (
      SELECT e.vec_id, sum(pow((e.v - st.mu) / st.sigma, 2)) AS d2
      FROM e JOIN st USING (dim) GROUP BY 1
    )
    SELECT vec_id,
           CAST(round(CAST(d2 AS DECIMAL(28,6)), 2) AS DOUBLE) AS z2
    FROM d
    ORDER BY CAST(d2 AS DECIMAL(28,6)) DESC, vec_id
    LIMIT 20
    """,
    doc="Embedding-space outlier detection (diagonal-covariance "
        "Mahalanobis, i.e. summed per-dimension z-scores): the standard "
        "curation filter for corrupt/degenerate vectors before they "
        "poison ANN indexes or dedup thresholds.  Plan: posexplode -> "
        "per-dim mean/stddev_pop groupBy (64 reduce rows at ANY corpus "
        "size, pure map-side combine) -> the 64-row stats frame "
        "broadcast back onto the exploded stream -> per-vector sum -> "
        "TakeOrdered top-20.  Two partial-aggregable shuffles and one "
        "broadcast, nothing driver-side — the 100 TB plan is identical. "
        "A zero-variance dimension contributes nothing on both engines "
        "(F.try_divide NULL == DuckDB x/0.0 NULL, both sums skip "
        "NULLs); selection orders by the 6-decimal-quantized distance "
        "with a vec_id tiebreak so the top-20 row SET is engine-stable "
        "(registry rounding convention).",
)
def q_embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = (emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
         .select("vec_id", "dim", F.col("v").cast("double").alias("v")))
    st = (e.groupBy("dim")
          .agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sigma")))
    z = F.try_divide(F.col("v") - F.col("mu"), F.col("sigma"))
    d = (e.join(F.broadcast(st), "dim")
         .groupBy("vec_id")
         .agg(F.sum(F.pow(z, F.lit(2))).alias("d2")))
    # 2-decimal output computed from an EXACT decimal(28,6) intermediate
    # (round(round(d2,6),2) would re-round a double approximating
    # the 6-decimal value, which can fall below an exact .xx5 tie that
    # the oracle's DECIMAL path rounds up); the order-by key is the same
    # decimal cast the oracle sorts on.
    d2dec = F.col("d2").cast("decimal(28,6)")
    return (d.orderBy(d2dec.desc(), F.col("vec_id"))
            .limit(20)
            .select("vec_id", F.round(d2dec, 2).cast("double").alias("z2")))


# Rank discounts 1/log2(rank+1) for ranks 1..10 and their running sums
# (the ideal-DCG ladder), precomputed in Python and embedded as double
# literals in BOTH engines: neither engine's libm log2 is in the data
# path, so the only cross-engine FP surface is the <=10-term dcg sum.
import math as _math

_NDCG_DISC = tuple(1.0 / _math.log2(k + 1) for k in range(1, 11))
_NDCG_IDCG = tuple(sum(_NDCG_DISC[:k]) for k in range(1, 11))
_DISC_SQL = "[" + ", ".join(repr(d) for d in _NDCG_DISC) + "]"
_IDCG_SQL = "[" + ", ".join(repr(v) for v in _NDCG_IDCG) + "]"


@register(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS ql
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    scored AS (
      SELECT q.qid, q.ql, b.vec_id, b.label,
             round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])),
                   6) AS cos
      FROM q JOIN embeddings b ON b.vec_id <> q.qid
    ),
    top AS (
      SELECT * FROM (
        SELECT qid, ql, label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= 10
    ),
    perq AS (
      SELECT qid,
             sum(CASE WHEN label = ql THEN 1 ELSE 0 END) AS rel10,
             sum(CASE WHEN label = ql THEN ({_DISC_SQL})[rn]
                      ELSE 0 END) AS dcg,
             min(CASE WHEN label = ql THEN rn END) AS first_rel
      FROM top GROUP BY qid
    ),
    lab AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
    SELECT CAST(q.qid AS BIGINT) AS qid,
           CAST(lab.n - 1 AS BIGINT) AS n_rel,
           CAST(p.rel10 AS BIGINT) AS rel_in_10,
           round(p.rel10 / 10.0, 6) AS p_at_10,
           round(coalesce(1.0 / p.first_rel, 0), 6) AS mrr_at_10,
           round(CASE WHEN lab.n <= 1 THEN 0
                 ELSE p.dcg / ({_IDCG_SQL})[least(10, lab.n - 1)]
                 END, 6) AS ndcg_at_10
    FROM q
    JOIN lab ON lab.label = q.ql
    JOIN perq p ON p.qid = q.qid
    """,
    doc="Retrieval-quality EVALUATION metrics — the eval loop every "
        "embedding-model data pipeline closes with (train on mined "
        "pairs -> index -> measure ranking quality): for each probe "
        "(every 25th vector), rank the corpus by cosine and score the "
        "ranking against label-match relevance with nDCG@10, MRR@10 "
        "and P@10, plus the per-query relevant-population size n_rel. "
        "Rank discounts and ideal-DCG denominators are PRECOMPUTED "
        "double constants indexed by integer rank (no libm log2 in "
        "either engine's data path); candidates rank on the round-6 "
        "cosine with vec_id tie-break, the engine-independent ordering "
        "discipline of the similarity family.  Scale shape: probes "
        "broadcast (|corpus|/25 rows at this layout; a FIXED eval set "
        "in production), scoring is one corpus scan of JVM cosines, "
        "and per-probe top-10 runs through operators/windows."
        "top_k_per_group_salted — no task ever sorts a probe's full "
        "candidate set; the metric aggregation then touches only "
        "|probes| x 10 rows, and n_rel rides a |labels|-row broadcast "
        "join.  At 100 TB the eval cost is exactly one scored scan — "
        "the same shape as retrieval_hard_negatives mining.",
)
def q_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectorfn import dot, l2_norm
    from ..operators.windows import top_k_per_group_salted

    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") % 25 == 0)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qe"),
                 F.col("label").alias("ql"),
                 l2_norm(F.col("embedding")).alias("_nq")))
    # Norms are computed ONCE per side BEFORE the |corpus| x |probes|
    # cross join (r14 opt: the inline cosine() evaluated THREE sequential
    # array folds per scored pair — dot + both norms; the probe norm was
    # re-folded |corpus| times and the corpus norm |probes| times).
    # sqrt(fold) is the identical expression on the identical values, and
    # the division keeps the exact l2_norm(qe) * l2_norm(embedding)
    # operand order, so every cosine is bit-equal to the 3-fold form and
    # the oracle hash is unchanged — only the per-pair work drops 3x.
    b = emb.select(
        "vec_id", "label", "embedding",
        l2_norm(F.col("embedding")).alias("_nb"))
    scored = (
        b.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "ql", "vec_id", "label",
                F.round(F.try_divide(dot(F.col("qe"), F.col("embedding")),
                                     F.col("_nq") * F.col("_nb")), 6)
                .alias("cos")))
    top = top_k_per_group_salted(
        scored, ["qid"], [F.desc("cos"), F.asc("vec_id")], k=10,
        salt_col=F.col("vec_id"), out_rank="rnk")
    rel = F.col("label") == F.col("ql")
    disc = F.element_at(F.array(*[F.lit(d) for d in _NDCG_DISC]),
                        F.col("rnk"))
    perq = top.groupBy("qid").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("rel10"),
        F.sum(F.when(rel, disc).otherwise(F.lit(0.0))).alias("dcg"),
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel"))
    lab = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    idcg = F.element_at(F.array(*[F.lit(v) for v in _NDCG_IDCG]),
                        F.least(F.lit(10), (F.col("n") - 1).cast("int")))
    return (q.join(F.broadcast(lab), F.col("ql") == F.col("label"))
            .join(perq, "qid")
            .select(F.col("qid").cast("long").alias("qid"),
                    (F.col("n") - 1).cast("long").alias("n_rel"),
                    F.col("rel10").cast("long").alias("rel_in_10"),
                    F.round(F.col("rel10") / F.lit(10.0), 6)
                    .alias("p_at_10"),
                    F.round(F.coalesce(F.lit(1.0) / F.col("first_rel"),
                                       F.lit(0.0)), 6).alias("mrr_at_10"),
                    F.round(F.when(F.col("n") <= 1, F.lit(0.0))
                            .otherwise(F.col("dcg") / idcg), 6)
                    .alias("ndcg_at_10")))
