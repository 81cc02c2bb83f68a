"""Deduplication suite (north-star Q10/Q11): exact, MinHash+LSH, SimHash,
exact n-gram Jaccard, embedding-cosine near-dup.

Scale design (100 TB corpus):

* exact dedup is a groupBy on the dedup key — one shuffle, map-side
  partial agg; for long texts dedup on a 128-bit hash of the text, not
  the text itself (shuffle bytes ~ 16/row instead of document size).
* MinHash signatures are computed in ONE aggregation over the exploded
  shingle stream (64 ``min(xxhash64(shingle, seed))`` aggregates fused in
  a single HashAggregateExec) — no per-doc Python, no iteration.
* LSH banding turns all-pairs comparison into an equi-join on
  (band_id, band_hash): shuffle volume O(docs x bands), candidate pairs
  only within buckets.  Bucket-size skew (a degenerate band value) is
  the classic hazard — AQE skew-join handles moderate cases, and
  ``lsh_candidate_pairs``'s ``bucket_cap`` drops degenerate stop-buckets
  outright so a hostile corpus cannot turn the join quadratic.
* SimHash is one aggregation over exploded tokens (64 signed-sum
  aggregates), near-dup candidates via 16-bit band buckets, verified by
  ``bit_count(xor)`` Hamming distance.
* all hash functions are ``xxhash64`` with fixed seeds — deterministic
  across runs/cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import normalize_line, tokens
from ..sql import sql_ident
from .caching import tracked_persist
from .text import tokenize

__all__ = [
    "exact_dedup_representatives", "char_shingles", "word_ngrams",
    "tfidf_cosine_pairs",
    "minhash_signatures", "lsh_candidate_pairs", "minhash_dedup_pairs",
    "simhash", "simhash_near_dup_pairs", "overlap_pairs",
    "ngram_jaccard_pairs", "ngram_containment_pairs",
    "embedding_near_dup_pairs", "embedding_near_dup_pairs_lsh",
    "sign_lsh_params",
    "cluster_representatives", "near_dup_filter_against",
    "span_chunks", "span_dedup_rebuild",
]


def exact_dedup_representatives(df: DataFrame, key_cols: list[str],
                                id_col: str) -> DataFrame:
    """One representative (min id) per distinct key — deterministic, unlike
    dropDuplicates whose survivor is partition-order dependent."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 9,
                  distinct: bool = True) -> DataFrame:
    """(id, shingle) — k-char shingles of the normalized text.

    ``substr`` over an exploded position sequence; regex normalization
    stays upstream of the explode (textfn note).

    ``distinct=False`` skips the set-semantics dedup — a full shuffle of
    the shingle stream, the largest frame in any shingling pipeline.
    Correct whenever the consumer is duplicate-insensitive: MinHash's
    min-aggregation gives the same signature with or without duplicate
    shingles, so the minhash path aggregates straight off the map stage
    (map-side combine collapses each doc to 64 longs before any
    exchange).  Jaccard/size consumers need set semantics — keep the
    default there.
    """
    norm = normalize_line(F.col(text_col))
    out = (
        df.select(F.col(id_col), norm.alias("_t"))
        .filter(F.length("_t") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.length("_t") - (k - 1))).alias("_i"),
            F.col("_t"),
        )
        .select(id_col, F.expr(f"substr(_t, _i, {k})").alias("shingle"))
    )
    return out.distinct() if distinct else out


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, gram_idx, ngram) — word n-grams built per-row from the
    normalized, empty-filtered token array: slide an n-window via
    transform + slice, then posexplode.  ZERO shuffle — gram generation
    is a pure map inside whole-stage codegen; a lead()-window over the
    token stream would shuffle the whole stream on the id first.  The
    n-gram strings equal the leads over the filtered stream.

    ``gram_idx`` (0-based) is the gram's index in the EMPTY-FILTERED
    token stream, not the position in the raw split.  Regex
    normalization stays upstream of the explode (textfn note)."""
    # Materialize the normalized+filtered token array ONCE per row in its
    # own projection: the expression embeds the regex normalization, and
    # referencing it repeatedly inline (size x2, slice per gram) would
    # re-run that regex per use.
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    arr = F.col("_toks")
    starts = F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(arr, i, n)))
    return toks.select(F.col(id_col), F.posexplode(grams).alias("gram_idx", "ngram"))


def minhash_signatures(shingled: DataFrame, id_col: str,
                       num_hashes: int = 64,
                       as_array: bool = False) -> DataFrame:
    """(id, mh0..mh{n-1}) — one fused aggregation over the shingle stream.

    The shingle string is hashed ONCE (variable-length byte path), and
    the ``num_hashes`` signature functions re-hash that 8-byte long with
    distinct seeds — the fixed-width xxhash64 path, measured ~25-30%
    faster than re-hashing the string per seed at sf0.1 (the hash is
    the pipeline's dominant per-row cost: num_hashes x every shingle).
    Seeded re-hash of a hash is itself a uniform hash family, so the
    MinHash estimator is unchanged; only the signature VALUES differ
    from the hash-the-string-per-seed formulation (no oracle depends on
    them — recall/estimate quality is pinned in tests).

    ``as_array=True`` returns (id, sig array<long>) instead of the 64
    unpacked columns — the r14 schema-width fix for every downstream
    stage of the dedup pipeline: a 64-column schema makes Catalyst
    generate enormous per-stage code (measured multi-second codegen
    stalls on the banding join and the agreement join even over a
    CACHED 5,000-row signature frame), while the single array column
    carries the identical longs through one narrow slot.  Values are
    byte-identical either way (``sig[i] == mh{i}``).
    """
    sql_ident(id_col)
    pre = shingled.withColumn("_h", F.xxhash64(F.col("shingle")))
    # The 64 min-aggregates are emitted as ONE parsed SQL expression
    # (array of aggregates): composing them as nested Column objects
    # cost ~260 py4j round-trips of pure plan-build per query
    # construction.  Catalyst still plans the same 64 partial-aggregable
    # min() functions (the array wrapper lives in the aggregate's
    # result projection), so every signature value is unchanged.
    arr = "array(" + ", ".join(
        f"min(xxhash64(_h, {seed}))" for seed in range(num_hashes)) + ")"
    agg = pre.groupBy(id_col).agg(F.expr(arr).alias("sig"))
    if as_array:
        return agg
    return agg.selectExpr(
        f"`{id_col}`", *[f"sig[{i}] AS mh{i}" for i in range(num_hashes)])


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        bands: int = 16, rows: int = 4,
                        bucket_cap: int | None = 1000,
                        sig_col: str | None = None) -> DataFrame:
    """(a, b) candidate pairs sharing >=1 LSH band bucket (a < b).

    ``bucket_cap`` is the hard guard against adversarial/degenerate
    corpora: a single band value shared by m documents yields m^2/2
    candidate pairs, so one poisoned bucket (boilerplate, empty docs, a
    hostile crawl) turns the equi-join quadratic no matter what AQE does.
    Buckets with more than ``bucket_cap`` members are dropped ENTIRELY
    before the self-join — the stop-bucket treatment, mirroring stop-word
    dropping in inverted indexes: the count is a partial-aggregable
    aggregate (no single-task sort of the mega-bucket, which a rank-limit
    would need), and a true near-dup pair lost in a degenerate band
    almost surely still collides in one of the other ``bands-1`` bands.
    Candidate volume is thus bounded by bands * cap^2 / 2 per bucket
    value.  ``None`` disables the guard (used by the labeled recall
    tests at fixture scale).
    """
    # ONE parsed expression for the 16-struct band array (r14 opt: the
    # Column-object form cost ~160 py4j round-trips per construction;
    # the parsed tree, and with it the plan and every bucket hash, is
    # identical).  ``sig_col`` reads the band inputs out of the single
    # array column instead of 64 unpacked mh columns — same longs,
    # 64x narrower input schema for this stage's generated code.
    if sig_col is not None:
        sql_ident(sig_col)
    ref = (lambda i: f"{sig_col}[{i}]") if sig_col else (lambda i: f"mh{i}")
    band_structs = F.expr("array(" + ", ".join(
        "named_struct('band', {b}, 'bh', xxhash64({cols}, {b}))".format(
            b=b, cols=", ".join(ref(b * rows + r) for r in range(rows)))
        for b in range(bands)) + ")")
    buckets = (
        signatures.select(F.col(id_col), F.explode(band_structs).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    )
    if bucket_cap is not None:
        ok = (buckets.groupBy("band", "bh")
              .agg(F.count(F.lit(1)).alias("_bn"))
              .filter(F.col("_bn") <= bucket_cap)
              .select("band", "bh"))
        buckets = buckets.join(ok, ["band", "bh"])
    left = buckets.select(F.col(id_col).alias("a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("b"), "band", "bh")
    return (
        left.join(right, on=["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 64, bands: int = 16, rows: int = 4,
                        shingle_k: int = 9,
                        min_jaccard: float | None = None,
                        bucket_cap: int | None = 1000) -> DataFrame:
    """Near-dup pairs (a, b, est_jaccard): MinHash -> LSH banding ->
    signature-agreement estimate; optional threshold filter.

    Shingles feed the signature aggregation WITHOUT the set-dedup
    shuffle (min() is duplicate-insensitive), so the only full-width
    exchange in the signature build is the 64-longs-per-doc partial
    aggregate."""
    sh = char_shingles(df, id_col, text_col, k=shingle_k, distinct=False)
    # array-form signatures end to end (r14 opt): the unpacked 64-column
    # schema made Catalyst generate multi-second-to-compile code for the
    # banding and agreement stages (measured even over a CACHED 5k-row
    # frame); the single array column carries the identical longs
    sig = minhash_signatures(sh, id_col, num_hashes=num_hashes,
                             as_array=True)
    # The signature frame feeds three consumers (banding, a-side, b-side);
    # without a persist the shingle scan — the dominant cost, ~|corpus| —
    # runs three times.  Signatures are tiny (64 longs/doc), so caching
    # them is the right trade at any scale (MEMORY_AND_DISK spills);
    # long-lived sessions release via caching.release_persisted().
    sig = tracked_persist(sig)
    cand = lsh_candidate_pairs(sig, id_col, bands=bands, rows=rows,
                               bucket_cap=bucket_cap, sig_col="sig")
    a_sig = sig.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    b_sig = sig.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x,
    )
    est = agree / F.lit(num_hashes)
    out = cand.join(a_sig, "a").join(b_sig, "b")
    if min_jaccard is not None:
        out = out.filter(est >= min_jaccard)  # raw-score threshold
    return out.select("a", "b", F.round(est, 4).alias("est_jaccard"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over the token stream: per bit, the
    sign of sum(+1/-1) across token hashes."""
    sql_ident(id_col)
    toks = tokenize(df, text_col, keep=[id_col]).withColumn("_h", F.xxhash64("word"))
    # Both 64-term expression trees are emitted as ONE parsed SQL string
    # each (the minhash_signatures discipline): the Column-object forms
    # cost ~600 py4j round-trips of plan-build per construction; the
    # parsed trees — and every signature bit — are identical.
    sums = "array(" + ", ".join(
        f"sum(CASE WHEN ((shiftright(_h, {i}) & 1) = 1) THEN 1 ELSE -1 END)"
        for i in range(bits)) + ")"
    summed = toks.groupBy(id_col).agg(F.expr(sums).alias("_sarr"))
    # the sign/packing chain reads the sum array directly — no 64-column
    # intermediate schema anywhere (wide schemas stall codegen)
    sh = " | ".join(
        f"shiftleft(CASE WHEN _sarr[{i}] > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END, {i})"
        for i in range(bits))
    return summed.selectExpr(f"`{id_col}`", f"({sh}) AS simhash")


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3) -> DataFrame:
    """(a, b, hamming) — SimHash pairs within Hamming distance, candidates
    from 16-bit band buckets (a pair within distance 3 must agree on at
    least one of 4 bands)."""
    sh = simhash(df, id_col, text_col)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bh"),
        )
        for b in range(4)
    ])
    buckets = sh.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    left = buckets.select(F.col(id_col).alias("a"), F.col("simhash").alias("sh_a"), "band", "bh")
    right = buckets.select(F.col(id_col).alias("b"), F.col("simhash").alias("sh_b"), "band", "bh")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        left.join(right, on=["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def overlap_pairs(postings: DataFrame, id_col: str, key_col: str,
                  weight: Column) -> DataFrame:
    """(a, b, dot, sa, sb) — the EXACT inverted-index overlap self-join
    behind every set and count-vector similarity join here: ``postings``
    holds one (id, key) row per posting with weight ``weight``.  ``dot``
    = Σ wₐ·w_b over the keys a and b share (a < b; pairs sharing no key
    are absent), ``sa``/``sb`` = Σ w² per id.  Sets pass ``F.lit(1)``,
    which makes ``dot`` = |A∩B| and ``s`` = |A|.

    One postings equi-join on the key with a partial-aggregated dot,
    then the per-id sums joined back: candidates and verification in
    one dataflow (ClusterJoin).  ``postings`` is read by the sums and
    both join sides; callers persist it when it costs a corpus scan.
    """
    p = postings.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k"),
                        weight.alias("_w"))
    sums = p.groupBy("_id").agg(F.sum(F.col("_w") * F.col("_w")).alias("_s"))
    a = p.select(F.col("_id").alias("a"), "_k", F.col("_w").alias("_wa"))
    b = p.select(F.col("_id").alias("b"), "_k", F.col("_w").alias("_wb"))
    dots = (a.join(b, "_k").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.sum(F.col("_wa") * F.col("_wb")).alias("dot")))
    sa = sums.select(F.col("_id").alias("a"), F.col("_s").alias("sa"))
    sb = sums.select(F.col("_id").alias("b"), F.col("_s").alias("sb"))
    return dots.join(sa, "a").join(sb, "b").select("a", "b", "dot", "sa", "sb")


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, min_jaccard: float = 0.5) -> DataFrame:
    """(a, b, jaccard) — EXACT n-gram Jaccard similarity join: pairs from
    shared n-grams (``overlap_pairs``), |A∩B| by count, |A∪B| by
    inclusion-exclusion.  SQL-expressible -> full DuckDB oracle."""
    grams = tracked_persist(word_ngrams(df, id_col, text_col, n=n)
                            .select(id_col, "ngram").distinct())
    ov = overlap_pairs(grams, id_col, "ngram", F.lit(1))
    jac = F.col("dot") / (F.col("sa") + F.col("sb") - F.col("dot"))
    # Threshold on the RAW score (the oracle's WHERE also uses the raw
    # value); rounding is presentation-only — filtering on the rounded
    # column would keep scores within 5e-7 below the cut that the oracle
    # drops.
    return (ov.filter(jac >= min_jaccard)
            .select("a", "b", F.round(jac, 6).alias("jaccard")))


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, min_containment: float = 0.8) -> DataFrame:
    """(a, b, containment, jaccard) — EXACT n-gram CONTAINMENT join
    (overlap coefficient |A∩B| / min(|A|,|B|)): the asymmetric-dup
    detector Jaccard misses.  A short doc quoted nearly whole inside a
    long one has tiny Jaccard (the union is dominated by the long doc)
    but containment ~1 — the "article embedded in aggregator page"
    shape every crawl corpus carries.

    Same ``overlap_pairs`` plan as ``ngram_jaccard_pairs`` — one extra
    projected column, zero extra shuffles.
    """
    grams = tracked_persist(word_ngrams(df, id_col, text_col, n=n)
                            .select(id_col, "ngram").distinct())
    ov = overlap_pairs(grams, id_col, "ngram", F.lit(1))
    cont = F.col("dot") / F.least(F.col("sa"), F.col("sb"))
    jac = F.col("dot") / (F.col("sa") + F.col("sb") - F.col("dot"))
    # threshold on the RAW score; rounding is presentation-only (same
    # discipline as ngram_jaccard_pairs)
    return (ov.filter(cont >= min_containment)
            .select("a", "b", F.round(cont, 6).alias("containment"),
                    F.round(jac, 6).alias("jaccard")))


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             min_cosine: float = 0.95) -> DataFrame:
    """(a, b, cos) — embedding near-duplicates above a cosine threshold.

    Brute-force all-pairs baseline (O(n^2) dot products, JVM-side HOFs).
    The 100 TB path, ``embedding_near_dup_pairs_lsh``, replaces the
    crossJoin with sign-LSH bucket candidates
    (similarity.hyperplane_bucket_keys) — same verify step.

    Norms are computed ONCE per vector before the join (2 array folds
    per row), not per pair — the naive cosine-per-pair evaluates 3 folds
    per pair, 3x the work on n^2 pairs.  sqrt(dot(v,v)) is the identical
    expression either side of the join, so results are bit-equal and the
    oracle unaffected.
    """
    from ..functions.vectorfn import dot, l2_norm

    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
                  l2_norm(F.col(vec_col)).alias("na"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
                  l2_norm(F.col(vec_col)).alias("nb"))
    # try_divide: a zero-norm vector pairs with nothing (NULL cosine
    # fails the threshold) instead of throwing under ANSI mode
    c = F.try_divide(dot(F.col("va"), F.col("vb")),
                     F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", c)  # one evaluation per pair (projection)
        .filter(F.col("cos") >= min_cosine)  # raw-score threshold, like the oracle
        .select("a", "b", F.round("cos", 6).alias("cos"))
    )


def embedding_near_dup_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                                 dim: int, min_cosine: float = 0.35,
                                 bits: int = 4, tables: int = 16,
                                 seed: int = 42) -> DataFrame:
    """(a, b, cos) — the bucketed 100 TB path for embedding near-dup:
    sign-LSH candidates + exact cosine verify.  Same output schema as
    ``embedding_near_dup_pairs``; recall < 1 by construction.

    Candidates = pairs sharing a random-hyperplane bucket in >=1 of
    ``tables`` independent tables (per-pair recall 1-(1-p^bits)^tables,
    p = 1 - theta/pi).  Defaults (4, 16) target the moderate-similarity
    regime (cos ~0.35 -> recall ~0.9); for true near-dup thresholds
    (cos >= 0.9) raise ``bits`` to 12-16 so buckets prune ~2^bits harder.

    Scale shape: the bucket self-join shuffles only (id, bucket-key)
    pairs — vectors are joined back by id AFTER candidate distinct, so
    the dim*4-byte payload is never duplicated ``tables`` times through
    the shuffle.  All tables*bits hyperplane dots come from one
    vectorized Arrow matmul (hyperplane_bucket_keys), not per-table
    column expressions.  The verify step is identical to the brute-force
    operator's, on a candidate set ~tables/2^bits of the square.
    """
    from ..functions.vectorfn import make_cosine_arrow
    from .similarity import hyperplane_bucket_keys

    base = df.select(F.col(id_col), F.col(vec_col))
    wb = hyperplane_bucket_keys(base, vec_col, dim, bits=bits,
                                tables=tables, seed=seed, out="_bks")
    buckets = wb.select(F.col(id_col), F.explode("_bks").alias("_bk"))
    left = buckets.select(F.col(id_col).alias("a"), "_bk")
    right = buckets.select(F.col(id_col).alias("b"), "_bk")
    cand = (
        left.join(right, "_bk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = base.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = base.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    # bulk verify: Arrow-batched numpy cosine — the candidate set is
    # millions of pairs, where the JVM HOF's per-element lambda cost
    # dominates the whole query (see make_cosine_arrow)
    cos_arrow = make_cosine_arrow()
    c = cos_arrow(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("_c", c)
        .filter(F.col("_c") >= min_cosine)
        .select("a", "b", F.round("_c", 6).alias("cos"))
    )


def tfidf_cosine_pairs(df: DataFrame, id_col: str, text_col: str,
                       min_cosine: float = 0.9) -> DataFrame:
    """(a, b, cos) — EXACT sparse TF-IDF cosine similarity join (the IR
    twin of the dense embedding ops): weight each (doc, term) by
    tf * ln(N/df), find candidate pairs on shared terms (inverted
    index), cosine = sum of weight products over the product of L2
    norms.  Terms with df == N (idf 0, weight 0) are dropped before
    anything — they contribute nothing to dot or norm.

    The join is ``overlap_pairs`` over the (doc, term, weight) postings:
    one postings self-join on the term with a partial-aggregated dot,
    and the per-doc squared norms joined back.  Building the frame runs
    no job.

    Trade-off, measured on a 4-core box (one session, 8 shuffle
    partitions, build + collect, median of 3 warm runs, two sessions
    each) against a Bayardo-style prefix-filtered candidate/verify
    join (Bayardo, Ma & Srikant, WWW'07), identical rows: 2.1-2.2 s vs
    2.3-3.0 s on the sf0.01 fixture; at sf0.1 both took 70-90 s, within
    their run-to-run spread.  The fixture's 31-term vocabulary makes
    every term a stop term, so the prefix filter prunes almost nothing
    there.  On a Zipfian vocabulary this join's cost grows with the
    squared postings of the most common terms, where the prefix filter
    would index only each doc's rare terms.
    """
    toks = tokenize(df, text_col, keep=[id_col])
    tf = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    nd = tf.select(id_col).distinct().agg(F.count(F.lit(1)).alias("n"))
    dfq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(F.broadcast(dfq), "word")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") < F.col("n"))
        .select(id_col, "word",
                (F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df")))
                .alias("w"))
    )
    # w feeds the norms and both join sides: without a persist the
    # token-stream aggregation -- the corpus-scale cost -- runs once
    # per consumer (the minhash-signature class).
    w = tracked_persist(w)
    ov = overlap_pairs(w, id_col, "word", F.col("w"))
    # try_divide: a doc whose every term weight is 0 (tf-idf with
    # df == n) has a zero norm — NULL cosine fails the threshold
    # instead of throwing under ANSI mode
    cos = F.try_divide(F.col("dot"), F.sqrt("sa") * F.sqrt("sb"))
    return (
        ov.filter(cos >= min_cosine)  # raw-score threshold (oracle parity)
        .select("a", "b", F.round(cos, 6).alias("cos"))
    )


def cluster_representatives(df: DataFrame, pairs: DataFrame, id_col: str,
                            rank_col: str) -> DataFrame:
    """(id, cluster_id, cluster_size) — ONE kept row per near-dup cluster:
    the step after pairwise candidates that actually produces the deduped
    corpus.  Clusters are connected components of ``pairs``; the survivor
    is the max-``rank_col`` member (min id tiebreak); rows in no pair are
    their own singleton cluster and always survive.

    Scale shape: components contract to (member, root) stars without ever
    holding a cluster on one machine; survivor selection is a single
    shuffle on cluster_id with cluster_size (count) and the row_number
    rank computed under the SAME partitioning — one Exchange, two Window
    nodes, no second scan and no persist.  Near-dup clusters are
    bounded-size in practice (they are near-identical documents), so the
    per-cluster window never sees a mega-partition.
    """
    from .graph import connected_components

    cc = connected_components(pairs, "a", "b").withColumnRenamed("node", id_col)
    base = (
        df.select(id_col, rank_col)
        .join(cc, id_col, "left")
        .select(id_col, rank_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("cluster_id")
    wr = wp.orderBy(F.col(rank_col).desc(), F.col(id_col))
    return (
        base.withColumn("cluster_size", F.count(F.lit(1)).over(wp))
        .withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_id", "cluster_size")
    )


def near_dup_filter_against(batch: DataFrame, corpus: DataFrame | None,
                            id_col: str, text_col: str, n: int = 3,
                            min_jaccard: float = 0.5,
                            corpus_grams: DataFrame | None = None) -> DataFrame:
    """Batch rows with NO corpus near-duplicate (word-n-gram Jaccard >=
    threshold) — incremental dedup of a new crawl/snapshot against an
    existing corpus, the steady-state shape of a training-data pipeline
    (the symmetric all-pairs join only ever runs on the first snapshot).

    ``corpus_grams`` is the TRUE steady-state input: a precomputed
    distinct (id, ngram) gram table (written to parquet once per corpus
    snapshot, e.g. by ``word_ngrams(...).distinct().write.parquet``).
    When given, the corpus text is never re-tokenized — each batch pays
    only its own gram build plus the join, and the frame is NOT cached
    (two parquet reads of a column-pruned gram table beat pinning a
    corpus-scale frame in memory).  Exactly one of ``corpus`` /
    ``corpus_grams`` must be provided.

    Scale shape: grams are built zero-shuffle per side; the inverted-index
    join is batch-grams x corpus-grams on the gram — shuffle volume
    O(batch postings + corpus postings), candidate pairs only where grams
    are shared, never batch x corpus.  Computed gram frames feed their
    size aggregate and the join, so they are persisted (default
    MEMORY_AND_DISK; release via caching.release_persisted() between
    batches).
    """
    if (corpus is None) == (corpus_grams is None):
        raise ValueError("provide exactly one of corpus / corpus_grams")
    gb = tracked_persist(word_ngrams(batch, id_col, text_col, n=n)
                         .select(F.col(id_col).alias("_b"), "ngram").distinct())
    if corpus_grams is not None:
        gc = corpus_grams.select(F.col(id_col).alias("_a"), "ngram")
    else:
        gc = tracked_persist(word_ngrams(corpus, id_col, text_col, n=n)
                             .select(F.col(id_col).alias("_a"), "ngram").distinct())
    szb = gb.groupBy("_b").agg(F.count(F.lit(1)).alias("sz_b"))
    szc = gc.groupBy("_a").agg(F.count(F.lit(1)).alias("sz_a"))
    inter = gb.join(gc, "ngram").groupBy("_b", "_a").agg(
        F.count(F.lit(1)).alias("i"))
    jac = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    dups = (
        inter.join(szb, "_b").join(szc, "_a")
        .filter(jac >= min_jaccard)  # raw-score threshold (oracle parity)
        .select(F.col("_b").alias(id_col)).distinct()
    )
    return batch.join(dups, id_col, "left_anti")


def span_chunks(df: DataFrame, id_col: str, text_col: str,
                span_tokens: int = 10) -> DataFrame:
    """(id, chunk_idx, chunk_text) — the span-generation stage of
    :func:`span_dedup_rebuild`, exposed so the plan test pins the
    SHIPPED code path (in-row array slicing — no Window, no Exchange)."""
    w = int(span_tokens)
    arr = tokens(F.col(text_col))
    n = F.size(arr)
    idxs = F.when(n > 0, F.sequence(F.lit(0), F.ceil(n / w).cast("int") - 1)
                  ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(idxs, lambda i: F.struct(
        i.cast("long").alias("chunk_idx"),
        F.concat_ws(" ", F.slice(arr, i * w + 1, w)).alias("chunk_text")))
    return (
        df.select(F.col(id_col), F.explode(spans).alias("s"))
        .select(id_col, F.col("s.chunk_idx").alias("chunk_idx"),
                F.col("s.chunk_text").alias("chunk_text"))
    )


def span_dedup_rebuild(df: DataFrame, id_col: str, text_col: str,
                       span_tokens: int = 10) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 §2.2 dedupe
    "any three-sentence span occurring more than once"): the corpus is cut
    into fixed-width token spans, every span that appears more than once
    ANYWHERE keeps only its first occurrence (min (doc_id, span index) —
    deterministic where C4 keeps a random one), and each document is
    rebuilt from its surviving spans.

    Output: (id, n_chunks, n_kept, text_dedup) — one row per doc with at
    least one span; ``text_dedup`` is the rewritten document.

    Scale shape: span generation is ZERO-shuffle — the token array is
    sliced in-row with JVM higher-order functions (``transform`` over a
    ``sequence`` of span indices; the word_ngrams trick), never an
    explode+window renumber.  Then exactly two shuffles: one window
    partitioned by span text to rank occurrences (at 100 TB partition by
    a hash of the span — same plan, narrower exchange), one groupBy(doc)
    to reassemble.  No joins, no all-pairs anything; this is how C4's
    dedup actually ran (a single MapReduce over span→occurrence lists).
    """
    chunks = span_chunks(df, id_col, text_col, span_tokens)
    from pyspark.sql import Window
    occ = F.row_number().over(
        Window.partitionBy("chunk_text").orderBy(id_col, "chunk_idx"))
    ranked = chunks.withColumn("_occ", occ)
    kept_struct = F.when(F.col("_occ") == 1,
                         F.struct("chunk_idx", "chunk_text"))
    return (
        ranked.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_occ") == 1, 1).otherwise(0)).alias("n_kept"),
            F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk_text"])).alias("text_dedup"),
        )
    )


def sign_lsh_params(n_vectors: int, min_cosine: float,
                    target_bucket: int = 1000,
                    target_recall: float = 0.9,
                    max_tables: int = 64) -> tuple[int, int]:
    """(bits, tables) for sign-LSH at a given corpus size and threshold —
    a parameter policy as code, so callers scale the index
    instead of inheriting fixture-tuned constants.

    ``bits`` grows with log2(n / target_bucket): expected bucket
    occupancy ~ n / 2^bits, and candidate volume from RANDOM collisions
    ~ tables * n^2 / 2^bits — holding bucket size constant is what keeps
    the banded join linear as n grows (measured: fixed (4, 16) went
    superlinear at 10x, (10, 32) restored ~5.7 s at 500k vectors).
    ``tables`` is then the smallest count with per-pair recall
    1 - (1 - p^bits)^tables >= target_recall at the threshold, where
    p = 1 - arccos(min_cosine)/pi is the per-hyperplane agreement
    probability (Goemans-Williamson / Charikar SimHash analysis),
    capped at ``max_tables`` (beyond which callers should raise the
    threshold or accept lower recall — more tables is linear cost).
    """
    import math

    bits = max(2, int(math.ceil(math.log2(max(n_vectors, 2)
                                          / max(target_bucket, 1)))))
    p = 1.0 - math.acos(max(min(min_cosine, 1.0), -1.0)) / math.pi
    p_bits = p ** bits
    if p_bits >= 1.0:
        return bits, 1
    tables = 1
    while (1.0 - (1.0 - p_bits) ** tables) < target_recall and tables < max_tables:
        tables += 1
    return bits, tables


def duplicate_substring_spans(df: DataFrame, id_col: str, text_col: str,
                              width: int = 20, stride: int = 5,
                              hash_key: bool = False) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): fixed-``width``
    character windows at every ``stride`` offset of the normalized text;
    a window that occurs verbatim in >= 2 distinct documents is a
    duplication hit, and per-document hits merging (overlapping or
    adjacent windows coalesce) yields the duplicated SPANS a substring
    dedup pass would cut.  Returns (id, span_start, span_end), 1-based
    inclusive char offsets into the normalized text.

    Suffix-automaton exactness is traded for windowed exactness: a
    duplicated substring of length >= width + stride - 1 is always
    caught (it must contain an aligned full window); shorter ones may be
    missed — the same trade the MinHash family makes, but with exact
    span offsets out.

    Scale: one explode (n_chars/stride rows), one groupBy on the window
    key, one semi-join back, one per-doc window pass over hit positions
    (hits per doc are bounded by doc length, never corpus size).  With
    ``hash_key=True`` the shuffle key is xxhash64(window) — 8 bytes
    instead of ``width`` chars — the 100 TB setting (collisions only
    ever ADD a candidate window, and only if two different 20-char
    strings collide in the same 64-bit bucket); the default keys on the
    string itself so results are exactly reproducible by the oracle.

    PRECONDITION: ``id_col`` must be unique per input row.  The hit
    recovery is a LEFT SEMI join (no de-dup of probe rows), so with
    duplicate ids the duplicated (id, pos) windows flow into the span
    merge and inflate span extents.  Every caller passes a primary-key
    id (doc_id), matching the operator's contract.
    """
    from pyspark.sql import Window

    norm = normalize_line(F.col(text_col))
    base = (df.select(F.col(id_col), norm.alias("_t"))
            .where(F.length("_t") >= width))
    wins = (
        base.select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.length("_t") - (width - 1),
                                 F.lit(stride))).alias("pos"),
            "_t")
        .select(id_col, "pos",
                F.expr(f"substring(_t, pos, {width})").alias("w"))
    )
    key = F.xxhash64("w").alias("k") if hash_key else F.col("w").alias("k")
    # persisted: the window stream feeds BOTH the dup-key aggregate and
    # the hit semi-join — without the persist the scan + explode +
    # substring pass (the corpus-sized leg) runs twice per query
    wins = tracked_persist(wins.select(id_col, "pos", key))
    dup = (wins.groupBy("k")
           .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
           .where(F.col("_nd") >= 2)
           .select("k"))
    # LEFT SEMI, no .distinct(): (id, pos) is unique in ``wins`` by
    # construction (one row per exploded stride position) and a semi
    # join never duplicates probe rows, so a distinct would be a full
    # extra exchange of the hit stream re-proving uniqueness
    hits = wins.join(dup, "k", "left_semi").select(id_col, "pos")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w_doc) <= width,
                 F.lit(0)).otherwise(F.lit(1))
    grouped = (hits.withColumn("_brk", brk)
               .withColumn("_grp", F.sum("_brk").over(
                   w_doc.rowsBetween(Window.unboundedPreceding, 0))))
    return (grouped.groupBy(id_col, "_grp")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(width - 1)).alias("span_end"))
            .drop("_grp"))



def content_defined_chunks(df: DataFrame, id_col: str, text_col: str,
                           buckets: int = 8,
                           extra_cols: list[str] | None = None) -> DataFrame:
    """(id, [extra_cols...], chunk_id, ch, n_tok) — CONTENT-DEFINED
    chunking (Rabin/FastCDC family): a chunk boundary opens at token i
    wherever the md5 of the preceding 3-token window lands in bucket 0
    of ``buckets``, so boundaries are a function of content, not
    offset.  The property that matters (pinned in
    tests/test_dedup_similarity.py): inserting a token re-chunks only
    its own neighborhood — downstream chunk hashes survive, which a
    fixed-stride chunker structurally cannot do.  ``ch`` is the md5 of
    the space-joined chunk tokens; expected chunk length ~= buckets
    tokens.  ONE per-doc window pass (lag x3 + running boundary sum
    under a single doc-keyed exchange), one (doc, chunk) rollup —
    shuffle volume O(tokens)."""
    from pyspark.sql import Window

    extra = list(extra_cols or [])
    pos = (df.select(
        id_col, *extra,
        F.posexplode(tokens(F.col(text_col))).alias("_i0", "_tok"))
        .select(id_col, *extra, "_tok", (F.col("_i0") + 1).alias("_i")))
    w = Window.partitionBy(id_col).orderBy("_i")
    win_hash = F.conv(F.substring(F.md5(F.concat_ws(
        " ", F.lag("_tok", 3).over(w), F.lag("_tok", 2).over(w),
        F.lag("_tok", 1).over(w))), 1, 4), 16, 10).cast("long")
    new_chunk = F.when(F.col("_i") == 1, 1).when(
        (F.col("_i") >= 4) & (win_hash % int(buckets) == 0), 1).otherwise(0)
    assigned = (pos.select(id_col, *extra, "_tok", "_i",
                           new_chunk.alias("_nc"))
                .withColumn("chunk_id", F.sum("_nc").over(
                    w.rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow))))
    return (assigned
            .groupBy(id_col, *extra, "chunk_id")
            .agg(F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("_i", "_tok"))),
                         lambda s: s["_tok"]), " ").cast("binary"))
                 .alias("ch"),
                 F.count(F.lit(1)).alias("n_tok")))
