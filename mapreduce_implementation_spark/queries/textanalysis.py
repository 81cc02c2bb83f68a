"""Text-analysis queries (Q13) over ``documents``, plus JSON extraction
over ``events.props`` — every oracle mirrors the Spark expressions
term-for-term (same stopword lists, same bands, same rounding)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import normalize_line, tokens
from ..operators.text import tokenize
from ..operators.textstats import (
    fingerprint, lang_id, quality_prob, quality_score, tf_idf_top_terms,
    token_stats,
)
from ..registry import register
from ..sources.tables import load_table

# DuckDB twin of the normalized token stream (textfn.tokens)
_DUCK_TOKS = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
)
"""

_STOP = "('the','a','of','to','and','in','is','it')"


@register(
    "text_token_stats",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_pieces,
             length(text) AS n_chars_actual
      FROM documents
    ),
    alpha AS (
      SELECT doc_id, count(*) AS n_alpha_tokens, count(DISTINCT tok) AS n_distinct_tokens
      FROM (
        SELECT doc_id, unnest(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY doc_id
    )
    SELECT ws.doc_id, n_ws_tokens, n_bpe_pieces, n_chars_actual,
           coalesce(n_alpha_tokens, 0) AS n_alpha_tokens,
           coalesce(n_distinct_tokens, 0) AS n_distinct_tokens,
           round(coalesce(n_distinct_tokens, 0) * 1.0 /
                 greatest(coalesce(n_alpha_tokens, 0), 1), 6) AS type_token_ratio
    FROM ws LEFT JOIN alpha ON ws.doc_id = alpha.doc_id
    """,
    doc="Per-doc token counts under three tokenizer definitions + type/token "
        "ratio (Q13 token counting).",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_quality_score",
    oracle=f"""
    {_DUCK_TOKS},
    stats AS (
      SELECT doc_id, count(*) AS n_tok, avg(length(tok)) AS mean_wlen,
             sum(CASE WHEN tok IN {_STOP} THEN 1 ELSE 0 END) AS n_stop
      FROM toks GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 /
               greatest(length(text), 1) AS alpha_ratio
      FROM documents
    )
    SELECT b.doc_id,
           coalesce(n_tok, 0) AS n_tokens,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(coalesce(n_stop, 0) * 1.0 / greatest(coalesce(n_tok, 0), 1), 6) AS stopword_ratio,
           round(coalesce(mean_wlen, 0.0), 6) AS mean_word_len,
           round(0.3 * (CASE WHEN coalesce(n_tok,0) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.3 END)
               + 0.25 * (CASE WHEN coalesce(mean_wlen,0.0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.4 END)
               + 0.25 * (CASE WHEN coalesce(n_stop,0) * 1.0 / greatest(coalesce(n_tok,0), 1) >= 0.02
                              THEN 1.0 ELSE 0.5 END)
               + 0.2 * alpha_ratio, 6) AS quality_score
    FROM base b LEFT JOIN stats s ON b.doc_id = s.doc_id
    """,
    doc="Heuristic quality score: length/word-length/stopword bands + alpha "
        "ratio (Q13 quality scoring — the cheap LLM-corpus pre-filter).",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_lang_id",
    oracle=f"""
    {_DUCK_TOKS},
    scored AS (
      SELECT doc_id,
             sum(CASE WHEN tok IN {_STOP} THEN 1 ELSE 0 END) * 1.0 / greatest(count(*),1) AS r_en,
             sum(CASE WHEN tok IN ('der','die','das','und','ist','nicht','ein') THEN 1 ELSE 0 END) * 1.0 / greatest(count(*),1) AS r_de,
             sum(CASE WHEN tok IN ('le','la','les','et','est','un','une') THEN 1 ELSE 0 END) * 1.0 / greatest(count(*),1) AS r_fr,
             sum(CASE WHEN tok IN ('el','la','los','y','es','un','una') THEN 1 ELSE 0 END) * 1.0 / greatest(count(*),1) AS r_es
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, round(r_en, 6) AS score_en,
           CASE WHEN greatest(r_en, r_de, r_fr, r_es) < 0.01 THEN 'und'
                WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
                WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
                WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
    doc="Stopword-profile language-ID heuristic (Q13): deterministic argmax "
        "over per-language stopword ratios, 'und' below threshold.",
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS raw_md5,
           md5(array_to_string(list_filter(
               string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
               t -> t <> ''), ' ')) AS content_md5
    FROM documents
    """,
    doc="Content fingerprints (Q13): md5 of raw text and of the normalized "
        "token stream (whitespace/punctuation-invariant dedup key).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_tfidf_top3",
    oracle=_DUCK_TOKS.replace("WITH toks", "WITH toks") + """,
    tf AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, sum(n) AS len FROM tf GROUP BY doc_id),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.tok AS term,
             round((tf.n * 1.0 / dl.len) * ln(nd.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN dl USING (doc_id) JOIN df ON tf.tok = df.tok CROSS JOIN nd
    )
    SELECT doc_id, term, tfidf, CAST(term_rank AS INTEGER) AS term_rank FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
      FROM scored
    ) WHERE term_rank <= 3
    """,
    doc="Top-3 TF-IDF terms per doc (Q13): tf=n/len, idf=ln(N/df), pure "
        "aggregations + one window; no ML-lib dependency.",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tf_idf_top_terms(load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON extraction from the events.props payload (scalar function "
        "surface; Spark get_json_object == DuckDB json_extract_string).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


@register(
    "pipeline_fingerprint_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang, n_chars,
             md5(array_to_string(list_filter(
                 string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                 t -> t <> ''), ' ')) AS content_md5
      FROM documents
    ),
    reps AS (SELECT content_md5, min(doc_id) AS rep_doc_id
             FROM fp GROUP BY content_md5)
    SELECT lang,
           count(*) AS n_unique_docs,
           round(avg(n_chars), 6) AS avg_chars
    FROM fp JOIN reps ON fp.doc_id = reps.rep_doc_id
    GROUP BY lang
    """,
    doc="Composite LLM-pipeline stage chain in ONE plan: content "
        "fingerprint (normalized-token md5) -> exact dedup (deterministic "
        "min-id representative per fingerprint) -> per-language corpus "
        "stats of the survivors.  The dedup shuffle carries the 16-byte "
        "hash, never the document text.",
)
def q_pipeline_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint(docs, "doc_id", "text").select("doc_id", "content_md5")
    enriched = docs.select("doc_id", "lang", "n_chars").join(fp, "doc_id")
    reps = enriched.groupBy("content_md5").agg(F.min("doc_id").alias("rep_doc_id"))
    return (
        enriched.join(reps, enriched.doc_id == reps.rep_doc_id)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique_docs"),
             F.round(F.avg("n_chars"), 6).alias("avg_chars"))
    )


@register(
    "text_bm25_top10",
    oracle=f"""
    {_DUCK_TOKS},
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
    agg AS (SELECT doc_id, round(sum(c), 6) AS bm25 FROM scored GROUP BY doc_id)
    SELECT doc_id, bm25, CAST(rank AS INTEGER) AS rank FROM (
      SELECT doc_id, bm25,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 10
    """,
    doc="Okapi BM25 top-10 for the query {{hash, join, window}} "
        "(k1=1.2, b=0.75): the full-text relevance-ranking surface on top "
        "of the tokenizer — tf/df/dl/avgdl as aggregations, "
        "TakeOrderedAndProject top-k, rank window on 10 rows only.",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import bm25_topk
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", ("hash", "join", "window"), k=10)


@register(
    "text_pmi_pairs",
    oracle=f"""
    {_DUCK_TOKS},
    dt AS (SELECT DISTINCT doc_id, tok FROM toks),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
    df AS (SELECT tok, count(*) AS c FROM dt GROUP BY tok
           HAVING count(*) >= 0.2 * (SELECT n FROM nd)),
    co AS (
      SELECT a.tok AS w1, b.tok AS w2, count(*) AS c_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      WHERE a.tok IN (SELECT tok FROM df) AND b.tok IN (SELECT tok FROM df)
      GROUP BY 1, 2 HAVING count(*) >= 0.3 * (SELECT n FROM nd)
    )
    SELECT w1, w2, c_ab,
           round(ln(c_ab * 1.0 * nd.n / (fa.c * 1.0 * fb.c)), 6) AS pmi
    FROM co JOIN df fa ON co.w1 = fa.tok JOIN df fb ON co.w2 = fb.tok
    CROSS JOIN nd
    """,
    doc="Pointwise mutual information of token co-occurrence (collocation "
        "mining): document-level inverted-index self-join restricted to a "
        "df >= 0.2*N vocabulary with co-occurrence >= 0.3*N — both "
        "thresholds computed IN the plan from the corpus doc count (the "
        "broadcast 1-row `nd` aggregate, same pattern as tf_idf_top_terms) "
        "so the query is scale-factor-independent, matching the oracle at "
        "any sf.  The vocab filter bounds the per-doc pair blowup, the "
        "standard trick for PMI at corpus scale.  "
        "PMI = ln(P(a,b)/(P(a)P(b))) with document-event probabilities.",
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # dt feeds the vocab filter, both join sides and the N scalar --
    # persist so the tokenize+distinct shuffle runs once, not four times.
    from ..operators.caching import tracked_persist
    dt = tracked_persist(tokenize(docs, "text", keep=["doc_id"]).distinct())
    nd = dt.agg(F.count_distinct("doc_id").alias("n"))
    # Thresholds stay IN the plan (0.2*N / 0.3*N via the broadcast 1-row
    # frame) — hard-coding their sf0.01 values (100/150) would silently
    # diverge from the oracle at any other scale factor.
    df_ = (dt.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
           .crossJoin(F.broadcast(nd))
           .where(F.col("c") >= 0.2 * F.col("n"))
           .select("word", "c"))
    a = dt.join(F.broadcast(df_.select("word")), "word").select(
        "doc_id", F.col("word").alias("w1"))
    b = dt.join(F.broadcast(df_.select("word")), "word").select(
        "doc_id", F.col("word").alias("w2"))
    co = (a.join(b, "doc_id").where(F.col("w1") < F.col("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
          .crossJoin(F.broadcast(nd))
          .where(F.col("c_ab") >= 0.3 * F.col("n")))
    fa = df_.select(F.col("word").alias("w1"), F.col("c").alias("ca"))
    fb = df_.select(F.col("word").alias("w2"), F.col("c").alias("cb"))
    return (
        co.join(F.broadcast(fa), "w1").join(F.broadcast(fb), "w2")
        .select("w1", "w2", "c_ab",
                F.round(F.log(F.col("c_ab") * F.lit(1.0) * F.col("n")
                              / (F.col("ca") * F.lit(1.0) * F.col("cb"))), 6)
                .alias("pmi"))
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        FROM (SELECT doc_id,
                     string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ') AS toks
              FROM documents)
      ) WHERE tok <> ''
    ),
    bigrams AS (
      SELECT doc_id, tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks
    ),
    bg AS (SELECT doc_id, w1, w2 FROM bigrams WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c) AS ctot FROM c12 GROUP BY 1)
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln(c12.c * 1.0 / c1.ctot)), 6) AS avg_logprob
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY bg.doc_id
    """,
    doc="Bigram language-model scoring (the perplexity-style quality "
        "signal of an LLM-data pipeline): MLE bigram probs trained on the "
        "corpus itself, per-doc mean log-probability.  Token stream is "
        "scanned once; the model (c12/c1 counts) is aggregation output "
        "joined back — never driver-side.",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zero-shuffle bigram stream (array sliding window); split is safe —
    # tokens never contain spaces.  Shared with text_perplexity_buckets.
    return _bigram_logprob_df(spark, sf_dir)


_DUCK_POSTOKS = """
WITH toks AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
    FROM (SELECT doc_id,
                 string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ') AS toks
          FROM documents)
  ) WHERE tok <> ''
)
"""


@register(
    "text_contamination_4gram",
    oracle=_DUCK_POSTOKS + """,
    grams AS (
      SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                 || ' ' || lead(tok, 3) OVER w AS g
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    g2 AS (SELECT DISTINCT doc_id, g FROM grams WHERE g IS NOT NULL),
    ev AS (SELECT DISTINCT g FROM g2 WHERE doc_id % 100 = 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams
    FROM g2
    WHERE doc_id % 100 <> 0 AND g IN (SELECT g FROM ev)
    GROUP BY doc_id
    """,
    doc="Benchmark-contamination / decontamination check (the eval-overlap "
        "filter every LLM data pipeline runs): the held-out set is "
        "doc_id%100==0; its distinct 4-grams form a fixed-size broadcast "
        "set matched against each corpus doc's distinct 4-grams.  The "
        "corpus side is one scan + one distinct; the eval side is "
        "O(eval-set) no matter the corpus size — exactly the shape used "
        "to decontaminate 100 TB against a benchmark suite.",
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(docs, "doc_id", "text", n=4)
    g2 = grams.select("doc_id", "ngram").distinct()
    ev = (g2.where(F.col("doc_id") % 100 == 0)
          .select("ngram").distinct())
    return (
        g2.where(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(ev), "ngram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_grams"))
    )


@register(
    "text_repetition_gopher",
    oracle=_DUCK_POSTOKS + """,
    bg AS (
      SELECT doc_id, tok || ' ' || lead(tok) OVER (
        PARTITION BY doc_id ORDER BY pos) AS g
      FROM toks
    ),
    cnts AS (SELECT doc_id, g, count(*) AS c FROM bg
             WHERE g IS NOT NULL GROUP BY doc_id, g),
    per AS (SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_c,
                   count(*) AS n_distinct
            FROM cnts GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           round(1 - n_distinct * 1.0 / n_bigrams, 6) AS dup_bigram_frac,
           round(top_c * 1.0 / n_bigrams, 6)          AS top_bigram_frac,
           CAST(top_c * 1.0 / n_bigrams <= 0.18
                AND 1 - n_distinct * 1.0 / n_bigrams <= 0.6
                AS INTEGER) AS keep
    FROM per
    """,
    doc="Gopher-style repetition quality rules (Rae et al. 2021 §A1.1): "
        "per-doc duplicate-bigram fraction and top-bigram mass, with a "
        "keep flag at the classic thresholds.  One token-stream scan, one "
        "shuffle on (doc_id, bigram), then a per-doc rollup — the filter "
        "shape used to drop repetitive boilerplate from web-scale crawls.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = word_ngrams(docs, "doc_id", "text", n=2)
    cnts = bg.groupBy("doc_id", "ngram").agg(F.count(F.lit(1)).alias("c"))
    per = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    dup = 1 - F.col("n_distinct") * F.lit(1.0) / F.col("n_bigrams")
    top = F.col("top_c") * F.lit(1.0) / F.col("n_bigrams")
    return per.select(
        "doc_id", "n_bigrams",
        F.round(dup, 6).alias("dup_bigram_frac"),
        F.round(top, 6).alias("top_bigram_frac"),
        ((top <= 0.18) & (dup <= 0.6)).cast("int").alias("keep"),
    )


@register(
    "text_top_terms_per_lang",
    oracle="""
    WITH toks AS (
      SELECT lang, doc_id, tok FROM (
        SELECT lang, doc_id,
               unnest(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    df AS (
      SELECT lang, tok, count(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY lang, tok
    )
    SELECT lang, tok AS term, n_docs, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT lang, tok, n_docs,
             row_number() OVER (PARTITION BY lang ORDER BY n_docs DESC, tok) AS rnk
      FROM df
    ) WHERE rnk <= 5
    """,
    doc="Top-5 terms per language by document frequency: grouped top-k "
        "over a two-key aggregate.  The (lang, tok, doc) distinct + "
        "count are partial-aggregable; the rank window runs on the "
        "vocabulary-sized (lang, tok) frame, never the token stream, and "
        "WindowGroupLimit prunes it to k rows per group before the final "
        "sort — the per-corpus-slice vocabulary report of an LLM data "
        "pipeline.",
)
def q_text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", keep=["lang", "doc_id"])
    dfreq = (toks.select("lang", "doc_id", "word").distinct()
             .groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs"), F.asc("word"))
    return (
        dfreq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", F.col("word").alias("term"), "n_docs",
                F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "text_token_entropy",
    oracle=f"""
    {_DUCK_TOKS},
    tf AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, sum(n) AS len, count(*) AS n_distinct
           FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(dl.n_distinct AS BIGINT) AS n_distinct,
           round(-sum((n * 1.0 / len) * ln(n * 1.0 / len)), 6) AS token_entropy,
           round(-sum((n * 1.0 / len) * ln(n * 1.0 / len))
                 / ln(greatest(dl.n_distinct, 2)), 6) AS normalized_entropy
    FROM tf JOIN dl USING (doc_id)
    GROUP BY tf.doc_id, dl.n_distinct
    """,
    doc="Per-doc Shannon entropy of the token distribution (plus the "
        "0-1 normalized form, entropy / ln(vocab)): low entropy flags "
        "repetitive/templated text that the Gopher bigram rules miss "
        "when the repetition is unigram-level — a standard cheap LLM-"
        "corpus quality signal.  One token-stream aggregation, one "
        "vocabulary-sized rollup; partial-aggregable throughout.",
)
def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (tokenize(docs, "text", keep=["doc_id"])
          .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n")))
    dl = tf.groupBy("doc_id").agg(F.sum("n").alias("len"),
                                  F.count(F.lit(1)).alias("n_distinct"))
    p = F.col("n") * F.lit(1.0) / F.col("len")
    return (
        tf.join(dl, "doc_id")
        .groupBy("doc_id", "n_distinct")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy"),
             F.round(-F.sum(p * F.log(p)) /
                     F.log(F.greatest(F.col("n_distinct"), F.lit(2))), 6)
             .alias("normalized_entropy"))
        .select("doc_id", "n_distinct", "token_entropy", "normalized_entropy")
    )


def _bigram_logprob_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus-trained bigram-LM mean log-prob (shared by
    text_bigram_logprob and text_perplexity_buckets)."""
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = word_ngrams(docs, "doc_id", "text", n=2).select(
        "doc_id",
        F.split("ngram", " ").getItem(0).alias("w1"),
        F.split("ngram", " ").getItem(1).alias("w2"),
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("ctot"))
    return (
        bg.join(c12, ["w1", "w2"]).join(c1, "w1")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.round(F.avg(F.log(F.col("c") * F.lit(1.0) / F.col("ctot"))), 6)
             .alias("avg_logprob"))
    )


_DUCK_QUALITY_Z = f"""
    feats AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t <> '')) AS n_tok,
             list_sum(list_transform(
                 list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t <> ''),
                 t -> length(t))) AS sum_wlen,
             len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t IN {_STOP})) AS n_stop,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / greatest(length(text), 1) AS alpha_ratio
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -1.5 + 4.0 * (n_stop * 1.0 / greatest(n_tok, 1))
                  + 2.0 * alpha_ratio
                  + 0.1 * (coalesce(sum_wlen, 0) * 1.0 / greatest(n_tok, 1)) AS z
      FROM feats
    )
"""


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t <> '')) AS n_tok,
             list_sum(list_transform(
                 list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t <> ''),
                 t -> length(t))) AS sum_wlen,
             len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t IN {_STOP})) AS n_stop,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / greatest(length(text), 1) AS alpha_ratio
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -1.5 + 4.0 * (n_stop * 1.0 / greatest(n_tok, 1))
                  + 2.0 * alpha_ratio
                  + 0.1 * (coalesce(sum_wlen, 0) * 1.0 / greatest(n_tok, 1)) AS z
      FROM feats
    )
    SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p_quality,
           (1.0 / (1.0 + exp(-z)) >= 0.7) AS keep
    FROM z
    """,
    doc="Linear quality classifier (the fastText-style keep/drop filter of "
        "CCNet/RefinedWeb pipelines, with fixed public weights instead of "
        "a learned model): logistic over stopword ratio, alpha ratio and "
        "mean word length.  ONE corpus scan, zero shuffles, zero joins — "
        "features come from in-row array HOFs, so at 100 TB this is pure "
        "map-side throughput.  The sibling heuristic band score is "
        "text_quality_score; this one emits a calibrated probability and "
        "a boolean keep decision.",
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = quality_prob("text")
    return docs.select("doc_id",
                       F.round(p, 6).alias("p_quality"),
                       (p >= 0.7).alias("keep"))


@register(
    "text_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        FROM (SELECT doc_id,
                     string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ') AS toks
              FROM documents)
      ) WHERE tok <> ''
    ),
    bigrams AS (
      SELECT doc_id, tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks
    ),
    bg AS (SELECT doc_id, w1, w2 FROM bigrams WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c) AS ctot FROM c12 GROUP BY 1),
    lp AS (
      SELECT bg.doc_id, round(avg(ln(c12.c * 1.0 / c1.ctot)), 6) AS avg_logprob
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY bg.doc_id
    )
    SELECT doc_id, avg_logprob,
           ntile(10) OVER (ORDER BY avg_logprob, doc_id) AS ppl_bucket
    FROM lp
    """,
    doc="Perplexity-decile bucketing (the CCNet head/middle/tail split, at "
        "decile granularity): per-doc bigram-LM mean log-prob, then an "
        "EXACT global ntile(10) via the distributed two-phase ranking "
        "(range partition + per-partition row_number + broadcast offsets "
        "— operators/windows.grouped_ntile with no group columns), "
        "never a single-partition "
        "window.  Sort key is (rounded logprob, doc_id) so tie order is "
        "engine-independent.",
)
def q_text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_ntile

    lp = _bigram_logprob_df(spark, sf_dir).select("doc_id", "avg_logprob")
    return grouped_ntile(lp, [], ["avg_logprob", "doc_id"],
                         n_tiles=10, out="ppl_bucket")


@register(
    "pipeline_curation_stats",
    oracle="WITH" + _DUCK_QUALITY_Z + """
    , scored AS (
      SELECT d.doc_id, d.lang, d.source, d.text,
             1.0 / (1.0 + exp(-z.z)) AS p
      FROM documents d JOIN z ON d.doc_id = z.doc_id
    ),
    kept AS (SELECT * FROM scored WHERE p >= 0.7),
    fp AS (
      SELECT *, md5(concat_ws(' ',
               list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                           t -> t <> ''))) AS fprint,
             row_number() OVER (PARTITION BY md5(concat_ws(' ',
               list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                           t -> t <> ''))) ORDER BY doc_id) AS occ
      FROM kept
    )
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(p), 6) AS avg_quality,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM fp WHERE occ = 1
    GROUP BY lang, source
    """,
    doc="The curation pipeline END TO END as ONE lazy plan: quality-"
        "classifier filter (p >= 0.7) -> normalized-fingerprint exact "
        "dedup (min doc_id survives) -> per-(lang, source) corpus stats.  "
        "This is the shape a 100 TB pre-training ingest actually runs — "
        "filter early (map-side, before any shuffle), dedup on a hash "
        "key (one narrow shuffle), aggregate last (partial agg) — and "
        "Catalyst fuses all three stages; nothing materializes between "
        "steps.",
)
def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    p = quality_prob("text")
    kept = docs.withColumn("_p", p).filter(F.col("_p") >= 0.7)
    norm = F.concat_ws(" ", tokens(F.col("text")))
    fp = kept.withColumn("_fp", F.md5(norm.cast("binary")))
    occ = F.row_number().over(Window.partitionBy("_fp").orderBy("doc_id"))
    dedup = fp.withColumn("_occ", occ).filter(F.col("_occ") == 1)
    return (
        dedup.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("_p"), 6).alias("avg_quality"),
             F.sum(F.length("text")).alias("total_chars"))
    )


@register(
    "source_mixing_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(sum(len(list_filter(
                 string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                 t -> t <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tgt AS (
      SELECT source, tokens,
             1.0 / (1 + CAST(substring(source, 4) AS INTEGER)) AS raw_w
      FROM tok
    ),
    norm AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
             sum(raw_w) AS sum_w
      FROM tgt
    )
    SELECT t.source, t.tokens,
           round(t.raw_w / n.sum_w, 6) AS target_share,
           round(least(1.0, (t.raw_w / n.sum_w) * (0.5 * n.total_tokens)
                            / t.tokens), 6) AS sample_rate,
           CAST(floor(least(1.0, (t.raw_w / n.sum_w) * (0.5 * n.total_tokens)
                            / t.tokens) * t.tokens) AS BIGINT) AS expected_tokens
    FROM tgt t CROSS JOIN norm n
    """,
    doc="Source-mixture reweighting (the Pile/Dolma mixing step): given "
        "per-source target weights (deterministic 1/(1+idx) here, a "
        "config table in production) and a global token budget (50% of "
        "the corpus), emit each source's sampling rate = min(1, "
        "target_share * budget / actual_tokens) and expected token "
        "yield.  One token-counting scan (in-row HOFs, zero shuffle "
        "before the 20-group agg), the corpus totals stay IN the plan as "
        "a broadcast 1-row frame — the tf_idf n_docs pattern.  This is "
        "the math deciding what a 100 TB pre-training run actually "
        "reads from each source.",
)
def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens(F.col("text")))
    tok = docs.groupBy("source").agg(F.sum(ntok).alias("tokens"))
    tgt = tok.withColumn(
        "raw_w", F.lit(1.0) / (F.lit(1) + F.substring("source", 4, 10)
                               .cast("int")))
    norm = tgt.agg(F.sum("tokens").alias("total_tokens"),
                   F.sum("raw_w").alias("sum_w"))
    share = F.col("raw_w") / F.col("sum_w")
    rate = F.least(F.lit(1.0),
                   share * (F.lit(0.5) * F.col("total_tokens"))
                   / F.col("tokens"))
    return (
        tgt.crossJoin(F.broadcast(norm))
        .select("source", "tokens",
                F.round(share, 6).alias("target_share"),
                F.round(rate, 6).alias("sample_rate"),
                F.floor(rate * F.col("tokens")).cast("long")
                .alias("expected_tokens"))
    )


@register(
    "sketch_countmin_stopwords",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(
          string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
          t -> t <> '')) AS tok
      FROM documents
    ),
    stops AS (
      SELECT unnest(['the', 'a', 'of', 'to', 'and', 'in', 'is', 'it']) AS key
    )
    SELECT stops.key,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_exact,
           TRUE AS never_undercounts,
           TRUE AS within_eps
    FROM stops
    LEFT JOIN (SELECT tok, count(*) AS n FROM toks GROUP BY tok) c
      ON c.tok = stops.key
    """,
    doc="Count-min sketch point queries (Cormode-Muthukrishnan), "
        "HASH-ORACLED via the bounded-accuracy convention (the same "
        "graduation as the HLL/percentile/MinHash rows): the token "
        "stream folds into a fixed 4x1024 counter grid (one partially-"
        "aggregated groupBy — shuffle carries <=4096 rows at ANY corpus "
        "size or skew), the eight stopwords are point-queried (min over "
        "depths), and the query emits the EXACT count plus the two CM "
        "contract booleans — est >= exact (deterministic, always) and "
        "est <= exact + (e/w)*N (fixed-seed sketch => a hard regression "
        "pin; measured slack at sf0.01 is ZERO collisions vs a 72-count "
        "budget).  A sketch-addressing or merge regression flips a "
        "boolean and breaks the driver hash.",
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators.sketch import countmin_build, countmin_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text")
    sketch = countmin_build(toks, "word", depth=4, width=1024)
    stops_w = ("the", "a", "of", "to", "and", "in", "is", "it")
    stops = spark.createDataFrame([(w,) for w in stops_w], "tok string")
    est = countmin_estimate(sketch, stops, "tok", depth=4, width=1024)
    exact = (toks.filter(F.col("word").isin(*stops_w))
             .groupBy("word").agg(F.count(F.lit(1)).alias("_nx")))
    n_total = toks.agg(F.count(F.lit(1)).alias("_N"))
    eps = F.lit(math.e / 1024.0)
    return (
        est.join(exact, est.key == exact.word, "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "key",
            F.coalesce("_nx", F.lit(0)).alias("n_exact"),
            (F.col("est") >= F.coalesce("_nx", F.lit(0))).alias("never_undercounts"),
            (F.col("est") <= F.coalesce("_nx", F.lit(0))
             + eps * F.col("_N")).alias("within_eps"),
        )
    )


@register(
    "pipeline_sequence_packing",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(
                 string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                 t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    ),
    binned AS (
      -- CAST kills the registry's one HUGEINT output column: DuckDB widens
      -- the windowed sum(BIGINT) to HUGEINT, `//` keeps it wide, and the
      -- driver's pandas fetch renders HUGEINT as float64 ("0.0" vs Spark's
      -- "0") — rows/schema match, value-hash doesn't (red r03-r05).
      SELECT doc_id, n_tok,
             CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id FROM cum
    )
    SELECT seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM binned GROUP BY seq_id
    """,
    doc="Sequence packing (the training-batch assembly step of every LLM "
        "data pipeline): docs in stable doc_id order are packed into "
        "2048-token sequences by their starting offset in the global "
        "token stream — offset = exclusive prefix sum of token counts, "
        "computed by the distributed two-phase grouped_running_sum "
        "with no group columns "
        "(range partition + parallel local cumsum + broadcast offsets), "
        "NEVER a single-partition window.  Output is per-sequence "
        "occupancy; the fill ratio tells you the padding waste the "
        "packer buys back.  Token counting is in-row HOF work.",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens(F.col("text")))
    tok = docs.select("doc_id", ntok.cast("long").alias("n_tok"))
    cum = grouped_running_sum(tok, "n_tok", [], ["doc_id"], out="cum")
    # integer `div`, not double division + cast: exact past 2^53 tokens,
    # and the same floor-division semantics as the oracle's `//`.
    binned = cum.withColumn("seq_id", F.expr("(cum - n_tok) div 2048"))
    return (
        binned.groupBy("seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").alias("n_tokens"),
             F.min("doc_id").alias("first_doc"))
    )


@register(
    "inference_scores_batched",
    oracle="""
    SELECT doc_id,
           round(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
                 / 4294967296.0, 6) AS score,
           'stub-scorer-v1' AS scored_by
    FROM documents
    """,
    doc="Batched model-inference plumbing (mapInPandas): Arrow batches "
        "stream through a Python worker that loads the model once per "
        "task iterator and scores per batch — the reranker/classifier "
        "inference shape of an LLM data pipeline, with a deterministic "
        "md5 stub standing in for the model so the transport itself is "
        "hash-oracled end to end (same md5 math in DuckDB).  At 100 TB "
        "this is embarrassingly parallel; batch size is Arrow's "
        "maxRecordsPerBatch, memory is model + one batch per task.",
)
def q_inference_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import batch_inference_scores

    docs = load_table(spark, sf_dir, "documents")
    return batch_inference_scores(docs, "doc_id", "text")


@register(
    "text_chunk_overlap",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                         t -> t <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(gs // 48 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, gs + 1, gs + 64)) AS BIGINT) AS n_chunk_tok,
           md5(array_to_string(list_slice(toks, gs + 1, gs + 64), ' ')) AS chunk_fp
    FROM tok, LATERAL unnest(range(0, len(toks), 48)) AS u(gs)
    """,
    doc="RAG-style overlapping chunking (retrieval-index build step): "
        "each doc's token stream splits into 64-token windows every 48 "
        "tokens (16-token overlap), emitting per-chunk token counts and "
        "content fingerprints.  Pure in-row array work — sequence + "
        "slice higher-order expressions, ZERO shuffles and no Python — "
        "so at 100 TB it is a single map-only scan; empty docs emit no "
        "chunks (explode of an empty start list).  chunk_fp is the md5 "
        "of the space-joined window, the join key a vector store would "
        "dedup/upsert on.",
)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, stride = 64, 48
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    starts = F.when(
        F.size("toks") > 0,
        F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return (
        docs.select("doc_id", toks.alias("toks"))
        .withColumn("gs", F.explode(starts))
        .select(
            "doc_id",
            F.expr(f"CAST(gs div {stride} AS BIGINT)").alias("chunk_idx"),
            F.expr(f"slice(toks, gs + 1, {size})").alias("ctoks"),
        )
        .select(
            "doc_id", "chunk_idx",
            F.size("ctoks").cast("long").alias("n_chunk_tok"),
            F.md5(F.concat_ws(" ", "ctoks").cast("binary")).alias("chunk_fp"),
        )
    )


@register(
    "text_zipf_alpha",
    oracle=_DUCK_TOKS + """,
    wc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM wc)
    SELECT round(-regr_slope(ln(cnt), ln(rnk)), 4) AS zipf_alpha,
           round(regr_r2(ln(cnt), ln(rnk)), 4)     AS fit_r2,
           count(*)                                AS n_vocab
    FROM r
    """,
    doc="Zipf-law fit over the corpus vocabulary (the classic "
        "natural-text diagnostic: alpha ~ 1 for organic text, far off "
        "for boilerplate/spam/generated corpora): OLS slope of "
        "log-frequency vs log-rank via the built-in REGR_* aggregates.  "
        "The global frequency rank uses the distributed two-phase "
        "prefix sum (rank = running count of 1 in (cnt desc, word) "
        "order), NEVER a single-partition window — at 100 TB the "
        "vocabulary is 10^8 rows and a global ROW_NUMBER would "
        "serialize it through one task.  Equal-count ties swap ranks "
        "between tied words only, which permutes identical (y=ln cnt) "
        "points across adjacent x values but leaves the fitted point "
        "SET deterministic per tie-block ordering (tok tiebreaker "
        "matches the oracle exactly).",
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        tokenize(docs, "text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_one", F.lit(1))
    )
    ranked = grouped_running_sum(
        wc, "_one", [], [("cnt", "desc"), "word"], out="rnk")
    return ranked.agg(
        F.round(-F.expr("regr_slope(ln(cnt), ln(rnk))"), 4).alias("zipf_alpha"),
        F.round(F.expr("regr_r2(ln(cnt), ln(rnk))"), 4).alias("fit_r2"),
        F.count(F.lit(1)).alias("n_vocab"),
    )


@register(
    "split_train_valid_hash",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               % 100 AS bucket
      FROM documents
    ),
    s AS (
      SELECT CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'valid'
                  ELSE 'test' END AS split,
             lang, n_chars
      FROM b
    )
    SELECT split, lang,
           count(*)                          AS n_docs,
           CAST(sum(n_chars) AS BIGINT)      AS sum_chars
    FROM s GROUP BY split, lang
    """,
    doc="Deterministic train/valid/test split (90/5/5) by content-stable "
        "hash of the document id — the reproducible-split discipline "
        "every training pipeline needs (rerunning on a grown corpus "
        "never moves an old doc across splits, unlike randomSplit whose "
        "assignment depends on partitioning).  Bucket = first 16 bits "
        "of md5(id) mod 100, a pure per-row expression inside "
        "whole-stage codegen; the per-(split, lang) report is one "
        "map-side-combinable aggregate.  Hash choice is engine-portable "
        "(md5 hex — identical in Spark, DuckDB, Python), so the split "
        "is stable across the batch engine, the streaming twin, and "
        "any downstream reader.",
)
def q_split_train_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                     16, 10).cast("long") % 100)
    split = (F.when(bucket < 90, "train")
             .when(bucket < 95, "valid")
             .otherwise("test"))
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
    )


@register(
    "pipeline_corpus_build",
    oracle="WITH" + _DUCK_QUALITY_Z + """
    , scored AS (
      SELECT d.doc_id, d.text, 1.0 / (1.0 + exp(-z.z)) AS p
      FROM documents d JOIN z ON d.doc_id = z.doc_id
    ),
    kept AS (SELECT * FROM scored WHERE p >= 0.7),
    fp AS (
      SELECT *, row_number() OVER (PARTITION BY md5(concat_ws(' ',
               list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                           t -> t <> ''))) ORDER BY doc_id) AS occ
      FROM kept
    ),
    final AS (
      SELECT doc_id, p,
             len(list_filter(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                             t -> t <> '')) AS n_tok,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 95 THEN 'valid'
                  ELSE 'test' END AS split
      FROM fp WHERE occ = 1
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           round(avg(p), 6) AS avg_quality
    FROM final GROUP BY split
    """,
    doc="The full training-corpus BUILD as one lazy plan — the manifest "
        "a pre-training run consumes: quality-classifier filter "
        "(p >= 0.7, map-side before any shuffle) -> normalized-"
        "fingerprint exact dedup (min-doc_id survivor, one narrow "
        "shuffle) -> content-stable hash split (pure per-row "
        "expression) -> per-split token budget + doc count + mean "
        "quality.  Composes the three proven stages "
        "(pipeline_curation_stats, split_train_valid_hash, token "
        "counting) into the end-to-end artifact; Catalyst fuses "
        "everything — two exchanges total (dedup key, split agg) "
        "however large the corpus.",
)
def q_pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    kept = (docs.withColumn("_p", quality_prob("text"))
            .filter(F.col("_p") >= 0.7))
    toks = tokens(F.col("text"))
    fp = kept.withColumn("_fp", F.md5(F.concat_ws(" ", toks).cast("binary")))
    occ = F.row_number().over(Window.partitionBy("_fp").orderBy("doc_id"))
    surv = fp.withColumn("_occ", occ).filter(F.col("_occ") == 1)
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                     16, 10).cast("long") % 100)
    split = (F.when(bucket < 90, "train")
             .when(bucket < 95, "valid").otherwise("test"))
    return (
        surv.select(split.alias("split"), F.size(toks).alias("_n_tok"), "_p")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("_n_tok").cast("long").alias("sum_tokens"),
             F.round(F.avg("_p"), 6).alias("avg_quality"))
    )


@register(
    "text_collocations_llr",
    oracle=_DUCK_POSTOKS + """,
    bg AS (
      SELECT w1, w2 FROM (
        SELECT tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
      ) WHERE w2 IS NOT NULL
    ),
    c12 AS (SELECT w1, w2, count(*) AS k11 FROM bg GROUP BY 1, 2),
    r AS (SELECT w1, sum(k11) AS r1 FROM c12 GROUP BY 1),
    c AS (SELECT w2, sum(k11) AS c1 FROM c12 GROUP BY 1),
    n AS (SELECT sum(k11) AS nn FROM c12),
    kk AS (
      SELECT w1, w2, k11,
             r1 - k11                 AS k12,
             c1 - k11                 AS k21,
             nn - r1 - c1 + k11       AS k22,
             r1, c1, nn
      FROM c12 JOIN r USING (w1) JOIN c USING (w2) CROSS JOIN n
      WHERE k11 >= 30
    )
    SELECT w1, w2, CAST(k11 AS BIGINT) AS n_pair,
           round(2 * (
             CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * nn / (CAST(r1 AS DOUBLE) * c1)) ELSE 0 END
           + CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * nn / (CAST(r1 AS DOUBLE) * (nn - c1))) ELSE 0 END
           + CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * nn / (CAST(nn - r1 AS DOUBLE) * c1)) ELSE 0 END
           + CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * nn / (CAST(nn - r1 AS DOUBLE) * (nn - c1))) ELSE 0 END
           ), 4) AS llr
    FROM kk
    ORDER BY llr DESC, w1, w2
    LIMIT 20
    """,
    doc="Bigram collocation extraction by log-likelihood ratio (Dunning "
        "1993 — the statistically sound alternative to PMI for "
        "frequency-skewed corpora; PMI overweights rare pairs, LLR "
        "scores the full 2x2 contingency table): observed bigram count "
        "vs independence via 2*sum k_ij ln(k_ij N / (row_i col_j)).  "
        "All counts come from ONE aggregation over the zero-shuffle "
        "bigram stream; marginals re-aggregate the (w1, w2) counts "
        "(vocab-sized, not corpus-sized); the scalar LLR arithmetic is "
        "per-row inside codegen; top-20 is TakeOrderedAndProject.",
)
def q_text_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    bg = (word_ngrams(docs, "doc_id", "text", n=2)
          .select(F.split("ngram", " ")[0].alias("w1"),
                  F.split("ngram", " ")[1].alias("w2")))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11"))
    r = c12.groupBy("w1").agg(F.sum("k11").alias("r1"))
    c = c12.groupBy("w2").agg(F.sum("k11").alias("c1"))
    n = c12.agg(F.sum("k11").alias("nn"))
    kk = (c12.join(r, "w1").join(c, "w2").crossJoin(F.broadcast(n))
          .filter(F.col("k11") >= 30)
          .withColumn("k12", F.col("r1") - F.col("k11"))
          .withColumn("k21", F.col("c1") - F.col("k11"))
          .withColumn("k22", F.col("nn") - F.col("r1") - F.col("c1") + F.col("k11")))

    def term(k, num_l, num_r):
        return F.when(
            k > 0,
            k * F.log(k.cast("double") * F.col("nn")
                      / (num_l.cast("double") * num_r))).otherwise(0.0)

    llr = F.round(2 * (
        term(F.col("k11"), F.col("r1"), F.col("c1"))
        + term(F.col("k12"), F.col("r1"), F.col("nn") - F.col("c1"))
        + term(F.col("k21"), F.col("nn") - F.col("r1"), F.col("c1"))
        + term(F.col("k22"), F.col("nn") - F.col("r1"), F.col("nn") - F.col("c1"))
    ), 4)
    return (kk.select("w1", "w2", F.col("k11").alias("n_pair"),
                      llr.alias("llr"))
            .orderBy(F.desc("llr"), "w1", "w2").limit(20))


@register(
    "text_keyphrase_rake",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
                          ' ') AS toks
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM raw
    ), t2 AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN {_STOP} OR tok = '' THEN 1 ELSE 0 END AS d,
             sum(CASE WHEN tok IN {_STOP} OR tok = '' THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS pid
      FROM t
    ), words AS (SELECT doc_id, pid, pos, tok FROM t2 WHERE d = 0),
    pl AS (
      SELECT doc_id, pid, count(*) AS plen,
             string_agg(tok, ' ' ORDER BY pos) AS phrase
      FROM words GROUP BY doc_id, pid
    ),
    ws AS (
      SELECT tok, count(*) AS freq, sum(plen) AS deg
      FROM words JOIN pl USING (doc_id, pid) GROUP BY tok
    ),
    ps AS (
      SELECT w.doc_id, w.pid, sum(ws.deg * 1.0 / ws.freq) AS pscore
      FROM words w JOIN ws USING (tok) GROUP BY w.doc_id, w.pid
    )
    SELECT pl.phrase AS phrase,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(max(pl.plen) AS BIGINT) AS n_words,
           round(max(ps.pscore), 4) AS rake_score
    FROM pl JOIN ps USING (doc_id, pid)
    WHERE pl.plen >= 2
    GROUP BY pl.phrase
    HAVING count(*) >= 3
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010) — the classic "
        "unsupervised keyword/topic surfacer a corpus-curation pipeline "
        "runs for content profiling.  Candidate phrases are maximal runs "
        "of non-stopword tokens (stopwords and empty tokens delimit); "
        "word score = corpus degree/frequency where degree(w) = sum of "
        "the lengths of the phrases containing each occurrence of w; "
        "phrase score = sum of its word scores.  Output: phrases of >= 2 "
        "words occurring >= 3 times (an integer support cut, so no "
        "float-ranked LIMIT can flip the hash on a knife-edge score).  "
        "Scale shape: the phrase-segmentation window is keyed by doc_id "
        "(doc-sized partitions, never global), both stats frames are "
        "vocabulary-sized partial aggregates, and the score rejoin is a "
        "token->vocab hash join — no all-pairs, no driver loop.",
)
def q_text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.textfn import tokens_array
    from ..operators.caching import tracked_persist
    from ..operators.textstats import EN_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_array(F.col("text"))).alias("pos", "tok"))
    d = (F.col("tok").isin(*EN_STOPWORDS) | (F.col("tok") == "")).cast("int")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t2 = toks.withColumn("d", d).withColumn("pid", F.sum("d").over(w))
    # persist the segmented word stream: it feeds the phrase build, the
    # corpus word stats, and the score rejoin — without the cache the
    # plan re-scans + re-tokenizes + re-windows documents four times
    # (verified via explain), a 4x token-stream cost at 100 TB
    words = tracked_persist(
        t2.filter(F.col("d") == 0).select("doc_id", "pid", "pos", "tok"))
    pl = (words.groupBy("doc_id", "pid")
          .agg(F.count(F.lit(1)).alias("plen"),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                       lambda x: x["tok"]), " ").alias("phrase")))
    ws = (words.join(pl.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
          .groupBy("tok")
          .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")))
    ps = (words.join(ws, "tok")
          .groupBy("doc_id", "pid")
          .agg(F.sum(F.col("deg") * F.lit(1.0) / F.col("freq")).alias("pscore")))
    return (pl.join(ps, ["doc_id", "pid"])
            .filter(F.col("plen") >= 2)
            .groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("n_occ"),
                 F.max("plen").alias("n_words"),
                 F.round(F.max("pscore"), 4).alias("rake_score"))
            .filter(F.col("n_occ") >= 3))


@register(
    "text_bpe_first_merges",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(regexp_replace(
                 text, '[^A-Za-z ]', '', 'g')), ' ')) AS w
      FROM documents
    ),
    w2 AS (SELECT w FROM tok WHERE len(w) >= 2),
    pairs AS (
      SELECT substr(w, CAST(u AS INTEGER), 2) AS pair
      FROM (SELECT w, unnest(range(1, len(w))) AS u FROM w2)
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 10
    """,
    doc="The first round of BPE vocabulary induction (Sennrich et al. "
        "2016, 'Neural Machine Translation of Rare Words with Subword "
        "Units'): count every adjacent character pair inside every "
        "token of the corpus and take the 10 most frequent — the pair "
        "a BPE trainer would merge first.  Tokens come from the "
        "canonical line-level normalize (no regex downstream of the "
        "explode — the documented JIT-stall shape); positions explode "
        "via sequence() and the pair is a substr, so the whole "
        "pipeline is scan -> project -> two explodes -> partial-agg "
        "count -> TakeOrdered: one shuffle of vocabulary-pair-sized "
        "partial counts (<= 26^2 keys), nothing driver-side.  "
        "Deterministic tie order (count desc, pair asc).",
)
def q_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfn import tokens_array

    docs = load_table(spark, sf_dir, "documents")
    w = (docs.select(F.explode(tokens_array(F.col("text"))).alias("w"))
         .filter(F.length("w") >= 2))
    pairs = (w.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w")
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair")))
    return (pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(10))


@register(
    "text_ngram_novelty",
    oracle=_DUCK_POSTOKS + """,
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok,1) OVER w, lead(tok,2) OVER w) AS g,
               lead(tok,2) OVER w AS _l2
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE _l2 IS NOT NULL
    ),
    shared AS (SELECT g FROM grams GROUP BY g
               HAVING count(DISTINCT doc_id) >= 2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE s.g IS NULL) AS BIGINT) AS n_novel,
           round(count(*) FILTER (WHERE s.g IS NULL) * 1.0 / count(*), 6)
               AS novelty_frac
    FROM grams LEFT JOIN shared s ON grams.g = s.g
    GROUP BY doc_id
    """,
    doc="Per-document n-gram novelty (the diversity / memorization-risk "
        "score used when weighting corpus sources): fraction of a doc's "
        "distinct trigrams appearing in NO other document.  One distinct "
        "per (doc, gram), one gram-keyed counting aggregate, one "
        "gram-keyed join back — the exact inverted-index shape of the "
        "contamination check, so it shares its linear-scaling argument.",
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # g2 feeds two consumers (the shared-gram aggregate and the join
    # probe) and recomputes per branch — examined and deliberately NOT
    # persisted in the r14 optimization pass: an A/B at sf0.1 measured
    # the persist form ~40% SLOWER (min-of-warm 2.07-2.21 s vs
    # 1.41-1.51 s, two interleaved sessions) because materializing the
    # corpus-sized distinct-gram cache costs more than re-running the
    # scan+explode+distinct; the same holds at scale, where the cache
    # would spill the full gram stream to disk while the recompute is
    # one extra columnar scan.
    g2 = (word_ngrams(docs, "doc_id", "text", n=3)
          .select("doc_id", "ngram").distinct())
    shared = (g2.groupBy("ngram")
              .agg(F.count_distinct("doc_id").alias("_nd"))
              .where(F.col("_nd") >= 2)
              .select("ngram", F.lit(1).alias("_shared")))
    novel = F.when(F.col("_shared").isNull(), 1).otherwise(0)
    return (g2.join(shared, "ngram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(novel).alias("n_novel"),
                 F.round(F.sum(novel) / F.count(F.lit(1)), 6)
                  .alias("novelty_frac")))


_HEAPS_DISC = ", ".join(
    f"quantile_disc(doc_id, {k / 10:.1f}) AS b{k}" for k in range(1, 11))
_HEAPS_UNION = " UNION ALL ".join(
    f"SELECT {k} AS k, b{k} AS b FROM bs" for k in range(1, 11))


@register(
    "text_heaps_law",
    oracle=_DUCK_POSTOKS + f""",
    grams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id,
               concat_ws(' ', tok, lead(tok,1) OVER w, lead(tok,2) OVER w) AS g,
               lead(tok,2) OVER w AS _l2
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE _l2 IS NOT NULL
    ),
    per_doc AS (SELECT doc_id, count(*) AS ntok FROM grams GROUP BY doc_id),
    first_doc AS (SELECT g, min(doc_id) AS fd FROM grams GROUP BY g),
    bs AS (SELECT {_HEAPS_DISC} FROM per_doc),
    bounds AS ({_HEAPS_UNION}),
    toks_k AS (SELECT k, b, CAST(sum(ntok) AS BIGINT) AS cum_tokens
               FROM per_doc, bounds WHERE doc_id <= b GROUP BY k, b),
    vocab_k AS (SELECT k, CAST(count(*) AS BIGINT) AS vocab_size
                FROM first_doc, bounds WHERE fd <= b GROUP BY k),
    pts AS (SELECT k, b, cum_tokens, vocab_size
            FROM toks_k JOIN vocab_k USING (k)),
    fit AS (SELECT regr_slope(ln(CAST(vocab_size AS DOUBLE)),
                              ln(CAST(cum_tokens AS DOUBLE))) AS beta
            FROM pts)
    SELECT CAST(k AS INTEGER) AS decile, CAST(b AS BIGINT) AS boundary_doc,
           cum_tokens, vocab_size,
           round((SELECT beta FROM fit), 4) AS heaps_beta
    FROM pts
    """,
    doc="Heaps'-law vocabulary-growth curve over trigram vocabulary "
        "(Heaps 1978: V ~ K*N^beta; the corpus-health audit that says "
        "whether adding data still adds novelty): cumulative gram count "
        "and cumulative distinct-vocabulary size at 10 document-rank "
        "deciles, plus the fitted log-log slope beta.  No global prefix "
        "window anywhere: each gram's FIRST document (one groupBy) and "
        "each doc's gram count (one groupBy) are joined against the 10 "
        "decile boundary doc_ids (percentile_disc, a distributed "
        "aggregate) as broadcast conditional sums — the cumulative curve "
        "at 10 checkpoints costs two vocabulary-sized shuffles, never a "
        "sort of the corpus.  Integer exact until the final regr_slope.",
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist
    from ..operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    g = tracked_persist(
        word_ngrams(docs, "doc_id", "text", n=3).select("doc_id", "ngram"))
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ntok"))
    first_doc = g.groupBy("ngram").agg(F.min("doc_id").alias("fd"))
    disc = ", ".join(
        f"percentile_disc({k / 10:.1f}) WITHIN GROUP (ORDER BY doc_id)"
        for k in range(1, 11))
    bounds = (per_doc.selectExpr(f"array({disc}) AS bs")
              .select(F.posexplode("bs").alias("i", "b"))
              .select((F.col("i") + 1).alias("k"), "b"))
    toks_k = (per_doc.crossJoin(F.broadcast(bounds))
              .where(F.col("doc_id") <= F.col("b"))
              .groupBy("k", "b").agg(F.sum("ntok").alias("cum_tokens")))
    vocab_k = (first_doc.crossJoin(F.broadcast(bounds))
               .where(F.col("fd") <= F.col("b"))
               .groupBy("k").agg(F.count(F.lit(1)).alias("vocab_size")))
    pts = toks_k.join(vocab_k, "k")
    fit = pts.agg(F.expr(
        "regr_slope(ln(CAST(vocab_size AS DOUBLE)), "
        "ln(CAST(cum_tokens AS DOUBLE)))").alias("beta"))
    return (pts.crossJoin(F.broadcast(fit))
            .select(F.col("k").cast("int").alias("decile"),
                    F.col("b").cast("long").alias("boundary_doc"),
                    F.col("cum_tokens").cast("long").alias("cum_tokens"),
                    F.col("vocab_size").cast("long").alias("vocab_size"),
                    F.round("beta", 4).alias("heaps_beta")))


@register(
    "text_js_divergence_sources",
    oracle=_DUCK_POSTOKS + """,
    st AS (SELECT d.source, t.tok FROM toks t
           JOIN documents d ON t.doc_id = d.doc_id),
    cnt AS (SELECT source, tok, count(*) AS c FROM st GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY 1),
    probs AS (SELECT cnt.source, tok, c / (1.0 * t) AS p
              FROM cnt JOIN tot ON cnt.source = tot.source),
    srcs AS (SELECT DISTINCT source FROM probs),
    pairs AS (SELECT a.source AS s1, b.source AS s2
              FROM srcs a JOIN srcs b ON a.source < b.source),
    u AS (
      SELECT s1, s2, tok,
             sum(CASE WHEN source = s1 THEN p ELSE 0 END) AS p1,
             sum(CASE WHEN source = s2 THEN p ELSE 0 END) AS p2
      FROM probs JOIN pairs ON source = s1 OR source = s2
      GROUP BY 1, 2, 3
    )
    SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_words,
           round(sum(
             0.5 * (CASE WHEN p1 > 0 THEN p1 * ln(p1) ELSE 0 END)
           + 0.5 * (CASE WHEN p2 > 0 THEN p2 * ln(p2) ELSE 0 END)
           - ((p1 + p2) / 2) * ln((p1 + p2) / 2)), 6) AS jsd_nats,
           round(sum(
             0.5 * (CASE WHEN p1 > 0 THEN p1 * ln(p1) ELSE 0 END)
           + 0.5 * (CASE WHEN p2 > 0 THEN p2 * ln(p2) ELSE 0 END)
           - ((p1 + p2) / 2) * ln((p1 + p2) / 2)) / ln(2.0), 6) AS jsd_bits
    FROM u GROUP BY s1, s2
    """,
    doc="Pairwise Jensen-Shannon divergence between the sources' "
        "unigram distributions (the source-similarity matrix used when "
        "setting corpus mixing weights; JSD is symmetric, bounded by "
        "ln 2, and zero iff identical): per-source word probabilities "
        "(exact integer-count ratios, so both engines divide identical "
        "numbers), then per source-pair one union-of-vocabulary "
        "aggregation computing JSD = H(M) - (H(P)+H(Q))/2 term-wise "
        "with x*ln(x) and x=0 handled exactly.  Everything after the "
        "token count is vocabulary-sized; the pair fan-out is "
        "|sources|^2/2 rows, a broadcast.",
)
def q_text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", keep=["doc_id"])
    st = toks.join(docs.select("doc_id", "source"), "doc_id")
    cnt = st.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    probs = (cnt.join(tot, "source")
             .select("source", "word",
                     (F.col("c") / (F.lit(1.0) * F.col("t"))).alias("p")))
    srcs = probs.select("source").distinct()
    pairs = (srcs.alias("a").crossJoin(srcs.alias("b"))
             .where(F.col("a.source") < F.col("b.source"))
             .select(F.col("a.source").alias("s1"),
                     F.col("b.source").alias("s2")))
    u = (probs.join(F.broadcast(pairs),
                    (F.col("source") == F.col("s1"))
                    | (F.col("source") == F.col("s2")))
         .groupBy("s1", "s2", "word")
         .agg(F.sum(F.when(F.col("source") == F.col("s1"),
                           F.col("p")).otherwise(0.0)).alias("p1"),
              F.sum(F.when(F.col("source") == F.col("s2"),
                           F.col("p")).otherwise(0.0)).alias("p2")))

    def xlnx(c):
        return F.when(c > 0, c * F.log(c)).otherwise(F.lit(0.0))

    m = (F.col("p1") + F.col("p2")) / 2
    term = (F.lit(0.5) * xlnx(F.col("p1")) + F.lit(0.5) * xlnx(F.col("p2"))
            - m * F.log(m))
    return (u.groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.round(F.sum(term), 6).alias("jsd_nats"),
                 F.round(F.sum(term) / F.lit(float(__import__("math").log(2.0))),
                         6).alias("jsd_bits")))


@register(
    "stats_ks_two_sample",
    oracle="""
    WITH a AS (SELECT n_chars FROM documents WHERE source IN
                 ('src0','src1','src2','src3','src4')),
    b AS (SELECT n_chars FROM documents WHERE source IN
                 ('src5','src6','src7','src8','src9')),
    cnt AS (SELECT (SELECT count(*) FROM a) AS n1,
                   (SELECT count(*) FROM b) AS n2),
    pts AS (
      SELECT n_chars,
             count(*) FILTER (WHERE side = 1) AS c1,
             count(*) FILTER (WHERE side = 2) AS c2
      FROM (SELECT n_chars, 1 AS side FROM a
            UNION ALL SELECT n_chars, 2 FROM b)
      GROUP BY n_chars
    ),
    cum AS (
      SELECT n_chars,
             sum(c1) OVER (ORDER BY n_chars) AS cc1,
             sum(c2) OVER (ORDER BY n_chars) AS cc2
      FROM pts
    ),
    ks AS (
      SELECT max(abs(cc1 * 1.0 / n1 - cc2 * 1.0 / n2)) AS d
      FROM cum, cnt
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(d, 6) AS ks_d,
           round(1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)), 6) AS crit_05,
           (d > 1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2))) AS reject_same_dist
    FROM ks, cnt
    """,
    doc="Two-sample Kolmogorov-Smirnov test on document-length "
        "distributions between two source groups (the distribution-"
        "drift check run before mixing a new source into a corpus): "
        "D = max |F1 - F2| over the pooled sample, with the alpha=0.05 "
        "critical value 1.358*sqrt((n1+n2)/(n1*n2)).  Both empirical "
        "CDFs come from ONE conditional count per distinct length + a "
        "cumulative window over the length DOMAIN (bounded by distinct "
        "values, not rows — lengths are small integers; a continuous "
        "metric would first quantize, the histogram-sketch idiom).  "
        "Every CDF step is an exact integer ratio, so D and the reject "
        "decision are bit-identical across engines.",
)
def q_stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    ga = [f"src{i}" for i in range(5)]
    gb = [f"src{i}" for i in range(5, 10)]
    both = (d.where(F.col("source").isin(ga + gb))
            .select("n_chars",
                    F.when(F.col("source").isin(ga), 1).otherwise(2)
                     .alias("side")))
    cnt = both.groupBy().agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("side") == 2, 1).otherwise(0)).alias("n2"))
    pts = (both.groupBy("n_chars")
           .agg(F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c1"),
                F.sum(F.when(F.col("side") == 2, 1).otherwise(0)).alias("c2")))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(F.sum("c1").over(w).alias("cc1"),
                     F.sum("c2").over(w).alias("cc2"))
    ks = (cum.crossJoin(F.broadcast(cnt))
          .agg(F.max(F.abs(F.col("cc1") * 1.0 / F.col("n1")
                           - F.col("cc2") * 1.0 / F.col("n2"))).alias("d")))
    crit = F.lit(1.358) * F.sqrt((F.col("n1") + F.col("n2")) * 1.0
                                 / (F.col("n1") * F.col("n2")))
    return (ks.crossJoin(F.broadcast(cnt))
            .select(F.col("n1").cast("long").alias("n1"),
                    F.col("n2").cast("long").alias("n2"),
                    F.round("d", 6).alias("ks_d"),
                    F.round(crit, 6).alias("crit_05"),
                    (F.col("d") > crit).alias("reject_same_dist")))


# Fixed tiny BPE merge table for text_token_budget_bpe — ordered like a
# trained merges.txt (earlier = higher priority; ('th','e')/('an','d')
# build on the ('t','h')/('a','n') outputs).  Shared by both engines so
# the encoder is hash-oracled.  The DuckDB oracle encodes with SQL
# string functions: every symbol is WRAPPED in spaces (" t  h  e ", two
# spaces between adjacent symbols), and merge (a, b) is ONE literal
# leftmost-nonoverlapping replace of " a  b " with " ab ".  The wrap
# makes the replace exactly full BPE application of that merge: the
# pattern's leading " a " can only match a COMPLETE symbol a (a space
# precedes and follows it), and " b " a complete symbol b — so a merge
# can never span a symbol boundary; and since the replacement " ab "
# is a single symbol, it can't recreate its own pattern.  (With ONE
# space between symbols, " e r" would match symbol e followed by the
# PREFIX of symbol "re", and "there" would collapse to one token.)
# Word separators become 5+ spaces after the wrap, unreachable by any
# 2-space pattern.
_BPE_MERGES = [
    ("t", "h"), ("i", "n"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("e", "r"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("th", "e"), ("an", "d"),
]

_TOKEN_BUDGET = 50_000  # per-source token budget (tokens, not chars)


def _bpe_apply_merge(syms: list, a: str, b: str) -> list:
    """One left-to-right non-overlapping application of merge (a, b)
    to a symbol sequence — the single-round primitive of the full
    encoder below; the trainer's fused batch scan (bpe_train_merges)
    reduces to it for one merge."""
    i, out = 0, []
    n = len(syms)
    ab = a + b
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_encode_word(word: str, merges) -> list[str]:
    """Sequential full application of each merge in table order to one
    word — the same semantics as the oracle's chained SQL replaces,
    expressed imperatively.  ``bpe_encode_batched``'s per-word step."""
    syms = list(word)
    for a, b in merges:
        syms = _bpe_apply_merge(syms, a, b)
    return syms


def bpe_encode_batched(df: DataFrame, text_col: str, merges=None,
                       out: str = "bpe_tokens") -> DataFrame:
    """BPE encoder: ``mapInPandas`` over Arrow batches with the merge
    table captured once in the task closure (a list of string pairs — a
    few MB even at 50k merges, broadcast with the task binary) and a
    per-partition unique-word memo (Zipf makes the cache hit rate high,
    so each distinct word is encoded once per partition).

    Plan depth is O(1) at any table size, and per-row cost is
    O(word_len · |merges|) amortized by the memo.  One chained
    ``F.replace`` per merge — the oracle's SQL form — would instead grow
    the expression tree with every merge; the driver's recursive
    column-node conversion throws ``StackOverflowError`` at about 300
    merges, where real vocabularies have 1k–50k.  Pinned against an
    independent reference on fixed and random merge tables, up to 1,000
    merges, in tests/test_graph_text.py.

    The text is normalized on the JVM side by
    ``functions.textfn.normalize_line``, the tokenizer contract's one
    home, and the pandas side splits it on spaces.  Output: the input
    schema plus ``out`` as ``array<string>`` BPE tokens; NULL text gives
    NULL tokens.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    if out in df.columns:
        raise ValueError(
            f"bpe_encode_batched: output column {out!r} already exists on "
            "the input — pass a fresh name (the pandas side would silently "
            "overwrite while the schema gained a duplicate field)")
    table = list(merges if merges is not None else _BPE_MERGES)
    # a FRESH StructType: StructType.add mutates (and returns) the
    # receiver, and df.schema hands back the frame's cached schema
    # object — mutating it corrupts the input frame's own schema
    schema = StructType(list(df.schema.fields)
                        + [StructField(out, ArrayType(StringType()))])
    norm = "_bpe_norm"
    while norm in df.columns:
        norm = "_" + norm

    def encode_batches(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def enc_doc(line):
            if not isinstance(line, str):
                return None  # NULL in, NULL out
            toks: list[str] = []
            for w in line.split():
                hit = memo.get(w)
                if hit is None:
                    hit = memo[w] = _bpe_encode_word(w, table)
                toks.extend(hit)
            return toks

        for pdf in batches:
            pdf[out] = pdf.pop(norm).map(enc_doc)
            yield pdf

    return (df.withColumn(norm, normalize_line(F.col(text_col)))
            .mapInPandas(encode_batches, schema=schema))


def _bpe_budget_oracle() -> str:
    enc = ("regexp_replace(lower(regexp_replace(text, '[^A-Za-z ]', '', "
           "'g')), '(.)', ' \\1 ', 'g')")
    for a, b in _BPE_MERGES:
        enc = f"replace({enc}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
    WITH perdoc AS (
      SELECT source,
             length(regexp_extract_all(lower(regexp_replace(
                 text, '[^A-Za-z ]', '', 'g')), '[A-Za-z]+')) AS ws,
             length(regexp_extract_all({enc}, '[^ ]+')) AS bpe
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(floor(sum(bpe) * 1.0 / count(*)) AS BIGINT) AS bpe_per_doc,
           CAST(floor(1000.0 * least(1.0,
                {_TOKEN_BUDGET}.0 / greatest(sum(bpe), 1))) AS INTEGER)
             AS keep_permille,
           CAST(floor(count(*) * least(1.0,
                {_TOKEN_BUDGET}.0 / greatest(sum(bpe), 1))) AS BIGINT)
             AS est_docs_kept
    FROM perdoc GROUP BY source ORDER BY source
    """


@register(
    "text_token_budget_bpe",
    oracle=_bpe_budget_oracle(),
    doc="Tokenizer-aware token budgeting: per-doc "
        "token counts under a REAL subword scheme — each doc is "
        "BPE-encoded against a fixed 12-entry merge table (the encoder "
        "side of text_bpe_first_merges' trainer; Sennrich et al. 2016) "
        "and the per-source BPE-token totals drive a token-based keep "
        "fraction against a 50k-token budget, the quantity an actual "
        "pretraining mix is budgeted by (char- and doc-count budgets "
        "misprice sources with different token densities; the ws_tokens "
        "column shows the whitespace-token count the naive budget would "
        "use).  The encoder is bpe_encode_batched, the one BPE encoder: "
        "normalize_line on the JVM side, then one mapInPandas pass that "
        "applies the merges word by word with a per-partition memo, so "
        "the plan stays the same size at any merge-table size.  The "
        "oracle's chained SQL replace() per merge is the independent "
        "reference.  No explode: per-doc encoding rides the scan and "
        "the only shuffle is the |sources|-row budget aggregate.  "
        "Fractions are floor()ed permille/doc-counts (exact IEEE "
        "division in both engines, so no round() tie can differ).",
)
def q_text_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    norm = normalize_line(F.col("text"))
    perdoc = bpe_encode_batched(docs, "text").select(
        "source",
        F.size(F.regexp_extract_all(norm, F.lit("[A-Za-z]+"), F.lit(0)))
         .alias("ws"),
        F.size("bpe_tokens").alias("bpe"),
    )
    budget = F.lit(float(_TOKEN_BUDGET))
    frac = F.least(F.lit(1.0), budget / F.greatest(F.sum("bpe"), F.lit(1)))
    return (perdoc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ws").cast("bigint").alias("ws_tokens"),
                 F.sum("bpe").cast("bigint").alias("bpe_tokens"),
                 F.floor(F.sum("bpe") * F.lit(1.0) / F.count(F.lit(1)))
                  .cast("bigint").alias("bpe_per_doc"),
                 F.floor(F.lit(1000.0) * frac).cast("int")
                  .alias("keep_permille"),
                 F.floor(F.count(F.lit(1)) * frac).cast("bigint")
                  .alias("est_docs_kept"))
            .orderBy("source"))


def bpe_train_merges(docs: DataFrame, text_col: str, n_merges: int,
                     batch_merges: int = 1) -> DataFrame:
    """Full BPE vocabulary TRAINING (Sennrich et al. 2016): per round,
    count adjacent symbol pairs cnt-weighted across the vocabulary,
    merge the (count desc, lhs, rhs) argmax pair everywhere, repeat.
    Returns (merge_rank, lhs, rhs, n_pairs), the learned merge table
    with each round's winning pair count.

    Execution shape — O(1) plan depth per round at ANY round count
    (real vocabularies have 1k–50k merges; a plan that grows one
    expression per round stops planning at a few hundred):

    * the corpus collapses ONCE to the (distinct word, count)
      vocabulary (the classic Sennrich trainer move; the only
      corpus-wide shuffle), symbols held as ``array<string>``;
    * per round, ONE ``mapInPandas`` pass emits per-batch partial
      pair counts (a manual map-side combine: the exchange carries at
      most |symbol vocab|^2 partials per batch, never a row per
      pair occurrence), a |pairs|-group aggregate picks the argmax,
      and the 1-row result is collected — per-round driver state is
      ONE row, the graph-loop convention (bounded model state, not
      data);
    * the winning merge is applied in a second ``mapInPandas`` pass
      via ``_bpe_apply_merge`` (the same primitive the encoder runs),
      fully-merged single-symbol words are dropped (they can never
      pair again, so the working set only shrinks), and the result is
      LAZILY ``localCheckpoint(eager=False)``-ed: the next round's
      pair-count job is the first action over it, so one job per
      round both applies the merge and materializes the truncation
      point; lineage truncates to the checkpointed partitions, so
      round 1,000's plan is exactly as deep as round 1's — no
      re-execution of earlier rounds.

    Fault story at cluster scale: ``localCheckpoint`` trades
    recompute-on-executor-loss for speed; the merge prefix collected
    so far IS the recovery state — on loss, rebuild the working set
    from the persisted base vocabulary by replaying the prefix through
    ``_bpe_encode_word`` (one batched pass), then continue.  On a
    long-lived cluster job prefer ``spark.sparkContext.setCheckpointDir``
    + ``.checkpoint()`` for the same shape with durable storage.

    Building the result runs the training: one job per round, each
    collecting at most a few candidate rows.  Stops early (fewer rows)
    if the vocabulary runs out of pairs before ``n_merges`` rounds.

    ``batch_merges=m`` (the multi-merge lever for
    real vocab sizes, where 50k one-merge rounds ≈ 14 h of driver-loop
    LATENCY): each scan selects up to m merges instead of one — the
    maximal pairwise SYMBOL-DISJOINT **prefix** of the (count desc,
    lhs, rhs)-sorted candidates (selection stops at the FIRST
    candidate overlapping an already-selected pair), all applied in
    ONE mapInPandas pass.  Why this equals one merge per round (m=1):
    disjoint merges commute, and a pair's corpus count is INVARIANT
    under a symbol-disjoint merge, so after applying the first j-1
    batch members (i) every original pair ranked above batch member j
    is itself a batch member (prefix property — a higher-ranked
    overlapping pair would have truncated the batch), (ii) pairs
    overlapping earlier members can only LOSE count (merging (a,b)
    only removes a/b occurrences; new adjacencies involve only the
    merged symbol), and (iii) a pair newly CREATED by member i has
    count <= the overlapping original pair (x,a_i)/(b_i,y) it
    descends from, which is ranked below member j — so member j is
    still the round-j argmax.  The ONE residual divergence class is
    an exact-count TIE against a newly created pair whose
    concatenated symbol sorts differently (the batch-boundary
    tie-order caveat); test_bpe_train_multi_merge_parity pins
    m∈{4,16} == m=1 for 40 rounds on the fixture corpus.
    """
    from typing import Iterator

    import pandas as pd

    from ..functions.textfn import tokens_array

    spark = docs.sparkSession
    w = (docs.select(F.explode(tokens_array(F.col(text_col))).alias("w"))
         .filter(F.length("w") >= 2)
         .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    sym_schema = "syms array<string>, cnt bigint"

    def to_syms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"syms": pdf["w"].map(list),
                                "cnt": pdf["cnt"]})

    def count_pairs(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc: dict = {}
            for syms, cnt in zip(pdf["syms"], pdf["cnt"]):
                c = int(cnt)
                for j in range(len(syms) - 1):
                    key = (syms[j], syms[j + 1])
                    acc[key] = acc.get(key, 0) + c
            if acc:
                yield pd.DataFrame(
                    {"a": [k[0] for k in acc], "b": [k[1] for k in acc],
                     "n": list(acc.values())})

    def apply_merges(pairs: list):
        # ONE fused left-to-right scan applies the whole batch —
        # sound because batch pairs are pairwise symbol-DISJOINT (no
        # two can claim the same position) and a merged symbol is a
        # brand-new string no batch pair refers to, so the fused scan
        # equals applying the pairs one at a time in any order (and
        # for m=1 it is exactly _bpe_apply_merge's greedy scan);
        # O(len) per word instead of O(m*len)
        table = {pair: pair[0] + pair[1] for pair in pairs}

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def apply_all(s):
                out, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and (s[i], s[i + 1]) in table:
                        out.append(table[(s[i], s[i + 1])])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                return out
            for pdf in batches:
                merged = pdf["syms"].map(apply_all)
                keep = merged.map(len) > 1
                yield pd.DataFrame({"syms": merged[keep],
                                    "cnt": pdf["cnt"][keep]})
        return run

    # LAZY localCheckpoint: each round's pair-count job is the first
    # action over the newly-applied frame, so the one job both applies
    # the previous merge AND materializes the truncation point — ONE
    # job per training round (measured: the eager form's separate
    # checkpoint job doubled per-round wall time)
    m = max(1, int(batch_merges))
    cur = w.mapInPandas(to_syms, schema=sym_schema).localCheckpoint(
        eager=False)
    learned: list[tuple] = []
    while len(learned) < n_merges:
        k = min(m, n_merges - len(learned))
        # collect enough sorted candidates to find k disjoint pairs —
        # bounded model state (<= 4k+64 rows), the graph-loop
        # convention; a shortfall just means a smaller batch, never a
        # wrong merge.  k=1 keeps the original limit(1) plan exactly.
        cand = (cur.mapInPandas(count_pairs,
                                schema="a string, b string, n bigint")
                .groupBy("a", "b").agg(F.sum("n").alias("n"))
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1 if k == 1 else 4 * k + 64).collect())
        if not cand:
            break
        used: set = set()
        sel: list[tuple] = []
        for r in cand:
            if len(sel) >= k:
                break
            if r["a"] in used or r["b"] in used:
                # PREFIX truncation, not greedy skip: the equivalence
                # proof needs every candidate ranked above a selected
                # pair to itself be selected — skipping an overlapping
                # pair and continuing would let a lower-ranked pair
                # into the batch that sequential would not pick next
                break
            sel.append((r["a"], r["b"], int(r["n"])))
            used.update((r["a"], r["b"]))
        if len(sel) > 1:
            # Tie-guard (the one residual divergence class): a pair
            # CREATED by merging member i has count <= the count of an
            # overlapping original pair (x,a_i)/(b_i,y), so it can tie
            # into the sequential order only at counts reached by
            # candidates that overlap the selected symbols.  Keep only
            # members whose count strictly exceeds that band (p_1 is
            # unconditionally the true round argmax).  Kept members
            # stay a rank prefix automatically: counts are sorted, so
            # a dropped member forces every later one out too.
            skeys = {(a, b) for a, b, _ in sel}
            t_guard = max((int(r["n"]) for r in cand
                           if (r["a"], r["b"]) not in skeys
                           and (r["a"] in used or r["b"] in used)),
                          default=0)
            if len(cand) >= 4 * k + 64:
                # full window: deeper (unseen) candidates may overlap
                t_guard = max(t_guard, int(cand[-1]["n"]))
            sel = sel[:1] + [p for p in sel[1:] if p[2] > t_guard]
        for a, b, n in sel:
            learned.append((len(learned) + 1, a, b, n))
        if len(learned) < n_merges:
            cur = cur.mapInPandas(apply_merges([(a, b) for a, b, _ in sel]),
                                  schema=sym_schema).localCheckpoint(
                eager=False)
    return spark.createDataFrame(
        learned, "merge_rank int, lhs string, rhs string, n_pairs bigint")


_BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle(k: int) -> str:
    """DuckDB twin of bpe_train_merges: the sequential argmax unrolls
    as k CTE stages whose replace() patterns take the previous stage's
    winning pair via SCALAR SUBQUERIES — an independent, purely
    declarative statement of the same induction the Spark trainer runs
    round by round.

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines plain CTEs, so
    each of e{i}'s four m{i} scalar-subquery references would re-run
    the ENTIRE upstream chain — measured 4^k blowup, 425 s at sf0.1
    vs 0.2 s materialized."""
    sql = """
WITH w AS MATERIALIZED (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' ')) AS w
    FROM documents
  ) WHERE len(w) >= 2 GROUP BY w
),
e0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS e, cnt FROM w)"""
    for i in range(1, k + 1):
        sql += f""",
p{i} AS MATERIALIZED (
  SELECT s[CAST(u AS INT)] AS a, s[CAST(u AS INT) + 1] AS b,
         sum(cnt) AS n
  FROM (SELECT s, cnt, unnest(range(1, len(s))) AS u
        FROM (SELECT regexp_extract_all(e, '[^ ]+') AS s, cnt FROM e{i-1}))
  GROUP BY 1, 2
),
m{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
e{i} AS MATERIALIZED (
  SELECT replace(e,
           ' ' || (SELECT a FROM m{i}) || '  ' || (SELECT b FROM m{i}) || ' ',
           ' ' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ' ') AS e,
         cnt
  FROM e{i-1}
)"""
    sql += "\n" + " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_rank, a AS lhs, b AS rhs, "
        f"CAST(n AS BIGINT) AS n_pairs FROM m{i}" for i in range(1, k + 1)
    ) + " ORDER BY merge_rank"
    return sql


@register(
    "text_bpe_train_merges",
    oracle=_bpe_train_oracle(_BPE_TRAIN_ROUNDS),
    doc="Full BPE vocabulary training, 6 merge rounds (Sennrich 2016 — "
        "text_bpe_first_merges is round ONE of this loop; this query "
        "runs the actual sequential induction): per round, count "
        "adjacent symbol pairs corpus-wide, merge the argmax pair "
        "everywhere, repeat with the grown symbol vocabulary.  The "
        "corpus collapses ONCE to (distinct word, count) — the classic "
        "trainer optimization — so rounds are vocabulary-sized: "
        "mapInPandas partial pair counts, a cnt-weighted pair "
        "aggregate, a few-row argmax collect, and a lazily "
        "localCheckpointed re-encode (O(1) plan depth per round).  The "
        "6 merges train through strict multi-merge batches "
        "(batch_merges=6): fewer scans than 6 one-merge rounds, the "
        "same merge table (proof in bpe_train_merges).  "
        "The DuckDB oracle unrolls the same induction declaratively "
        "as scalar-subquery CTE stages.  Output is the learned merge "
        "table with winning-pair counts — the artifact a tokenizer "
        "build actually ships.",
)
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "text", _BPE_TRAIN_ROUNDS,
                            batch_merges=_BPE_TRAIN_ROUNDS)
