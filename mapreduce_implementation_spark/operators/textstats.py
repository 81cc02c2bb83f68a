"""Text-analysis operators (north-star Q13): language-ID heuristic,
quality scoring, token statistics, fingerprinting, TF-IDF.

All pure column expressions / declarative aggregations — each one is a
single scan + (at most) one shuffle, so they run as map-side work on a
100 TB corpus.  Ratios are round(6); the only hashes are md5 (shared
with DuckDB for oracle parity) and xxhash64 (Spark-side fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import tokens
from .text import tokenize

__all__ = [
    "EN_STOPWORDS", "token_stats", "quality_score", "quality_score_parts",
    "quality_prob", "lang_id", "fingerprint", "tf_idf_top_terms",
]

# tiny deterministic stopword profile (shared with the DuckDB oracle)
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc token statistics: counts by three tokenizer definitions
    (whitespace, alpha-normalized, BPE-ish regex pieces) + type/token."""
    ws_tokens = F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != ""))
    bpe_pieces = F.regexp_count(F.col(text_col), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
    per_doc = df.select(
        id_col,
        ws_tokens.alias("n_ws_tokens"),
        bpe_pieces.alias("n_bpe_pieces"),
        F.length(text_col).alias("n_chars_actual"),
    )
    toks = tokenize(df, text_col, keep=[id_col]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_alpha_tokens"),
        F.countDistinct("word").alias("n_distinct_tokens"),
    )
    return per_doc.join(toks, id_col, "left").select(
        id_col, "n_ws_tokens", "n_bpe_pieces", "n_chars_actual",
        F.coalesce("n_alpha_tokens", F.lit(0)).alias("n_alpha_tokens"),
        F.coalesce("n_distinct_tokens", F.lit(0)).alias("n_distinct_tokens"),
        F.round(
            F.coalesce("n_distinct_tokens", F.lit(0)) /
            F.greatest(F.coalesce("n_alpha_tokens", F.lit(0)), F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]: weighted mix of length band,
    alpha ratio, stopword presence, and mean word length band — the
    standard cheap pre-filters of LLM data pipelines.

    Single-scan, ZERO-shuffle: all token statistics come from array
    higher-order functions over the per-row token array (size / filter /
    aggregate), so the whole operator is one narrow projection inside
    whole-stage codegen; exploding the token stream and joining the
    aggregate back would cost a second corpus scan and a shuffle for
    per-row arithmetic.  mean_wlen = exact int64 length sum / count,
    identical to the grouped avg and to DuckDB's avg(length(tok))."""
    toks = tokens(F.col(text_col))
    with_toks = df.select(F.col(id_col), F.col(text_col), toks.alias("_toks"))
    n_tok, stop_ratio, mean_wlen, alpha_ratio, score = quality_score_parts(
        F.col("_toks"), F.col(text_col))
    return with_toks.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def quality_score_parts(toks: Column, text: Column):
    """(n_tok, stop_ratio, mean_wlen, alpha_ratio, score) column tuple
    given a pre-projected NON-EMPTY token array column — the single
    source of the quality-score formulation, shared by quality_score
    (which projects ``_toks`` once so the tokenizer regex runs once per
    row); composition queries can build the score inline next to other
    per-row signals in one scan."""
    n_tok = F.size(toks)
    wlen_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    mean_wlen = F.when(
        n_tok > 0, wlen_sum.cast("double") / n_tok).otherwise(F.lit(0.0))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    alpha_ratio = (
        F.length(F.regexp_replace(text, "[^A-Za-z]", "")) /
        F.greatest(F.length(text), F.lit(1))
    )
    len_band = F.when((n_tok >= 20) & (n_tok <= 1000), 1.0).otherwise(0.3)
    wlen_band = F.when((mean_wlen >= 3) & (mean_wlen <= 10), 1.0).otherwise(0.4)
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    stop_band = F.when(stop_ratio >= 0.02, 1.0).otherwise(0.5)
    score = (0.3 * len_band + 0.25 * wlen_band + 0.25 * stop_band
             + 0.2 * alpha_ratio)
    return n_tok, stop_ratio, mean_wlen, alpha_ratio, score


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-profile language heuristic.  The fixture corpus is synthetic
    (one shared vocabulary), so this demonstrates the *mechanism*: a
    deterministic per-doc score against per-language stopword profiles,
    argmax wins, 'und' (undetermined) below threshold."""
    toks = tokenize(df, text_col, keep=[id_col])
    profiles = {
        "en": EN_STOPWORDS,
        "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
        "fr": ("le", "la", "les", "et", "est", "un", "une"),
        "es": ("el", "la", "los", "y", "es", "un", "una"),
    }
    aggs = [
        (F.sum(F.col("word").isin(*words).cast("int")) /
         F.greatest(F.count(F.lit(1)), F.lit(1))).alias(f"r_{lang}")
        for lang, words in profiles.items()
    ]
    scored = toks.groupBy(id_col).agg(*aggs)
    best_score = F.greatest(*[F.col(f"r_{l}") for l in profiles])
    pred = F.lit("und")
    for lang in reversed(list(profiles)):  # earlier profiles win exact ties
        pred = F.when(F.col(f"r_{lang}") == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score < 0.01, F.lit("und")).otherwise(pred)
    return scored.select(
        id_col,
        F.round("r_en", 6).alias("score_en"),
        pred.alias("predicted_lang"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str,
                keep: list[str] | None = None) -> DataFrame:
    """Content fingerprints: md5 of the normalized token stream (stable
    under whitespace/punctuation noise — the classic content-defined
    dedup key) plus raw-text md5.  ``keep`` carries extra columns
    through (e.g. source, for per-source dup reporting)."""
    norm_joined = F.concat_ws(" ", tokens(F.col(text_col)))
    return df.select(
        id_col,
        *(keep or []),
        F.md5(F.col(text_col).cast("binary")).alias("raw_md5"),
        F.md5(norm_joined.cast("binary")).alias("content_md5"),
    )


def tf_idf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per doc: tf = n/len_doc, idf = ln(N/df); pure
    aggregations + one window — no ML-lib dependency, fully SQL-mirrorable."""
    from pyspark.sql import Window

    from .caching import tracked_persist

    toks = tokenize(df, text_col, keep=[id_col])
    # term_freq feeds FOUR consumers (doc_len, doc_freq, the tfidf join,
    # and the in-plan n_docs branch); without a persist each consumer
    # re-runs the token-stream aggregation, the corpus-scale cost.  The
    # (doc, term, n) frame is vocabulary-sized, far smaller than the
    # token stream, so caching is the right trade.
    term_freq = tracked_persist(
        toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("n")))
    doc_len = term_freq.groupBy(id_col).agg(F.sum("n").alias("len"))
    doc_freq = term_freq.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # N (corpus doc count) stays IN the plan — a 1-row aggregate broadcast-
    # cross-joined in, like the oracle's `nd` CTE — so building the query
    # runs no job and the token stream is never scanned just for a scalar.
    n_docs = doc_len.agg(F.count(F.lit(1)).cast("double").alias("_nd"))
    tfidf = (
        term_freq.join(doc_len, id_col).join(doc_freq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(
            (F.col("n") / F.col("len")) * F.log(F.col("_nd") / F.col("df")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        tfidf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, F.col("word").alias("term"), "tfidf", F.col("_rn").alias("term_rank"))
    )


def bm25_topk(df: DataFrame, id_col: str, text_col: str, terms: tuple[str, ...],
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 ranking of documents against a fixed term set.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contribution
    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).  Everything is aggregation over
    the token stream: tf filtered to the query terms (the corpus-wide
    token stream is scanned once), dl/avgdl/N as 1-row or per-term
    aggregates that broadcast — so corpus size only affects the first
    scan.  Final top-k is TakeOrderedAndProject on the per-doc scores;
    the rank window runs on k rows only.
    """
    from pyspark.sql import Window

    toks = tokenize(df, text_col, keep=[id_col])
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"),
                   F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (toks.where(F.col("word").isin(list(terms)))
          .groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    doc_score = (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    topk = doc_score.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return topk.select(id_col, "bm25",
                       F.row_number().over(w).cast("int").alias("rank"))


def quality_prob(text_col: str = "text") -> Column:
    """Logistic keep/drop probability as a single in-row Column (the
    fastText-style linear classifier of CCNet/RefinedWeb pipelines, with
    fixed public weights) over the features ``quality_score_parts``
    returns: one scan, zero shuffles.  Consumed by the
    text_quality_classifier / pipeline_curation_stats queries and the
    streaming curate_stream twin; the DuckDB twin of the feature
    expressions lives next to those queries' oracles.
    """
    text = F.col(text_col)
    _, stop_ratio, mean_wlen, alpha_ratio, _ = quality_score_parts(tokens(text), text)
    z = (F.lit(-1.5) + F.lit(4.0) * stop_ratio + F.lit(2.0) * alpha_ratio
         + F.lit(0.1) * mean_wlen)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
