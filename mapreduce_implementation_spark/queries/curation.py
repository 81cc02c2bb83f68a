"""Round-5 curation/statistics queries: robust aggregates, per-source
nucleus selection, normalized exact dedup — corpus-curation operations a
training-data pipeline runs between ingest and packing.

Every query follows the registry oracle conventions (identical aliases,
round() on floats both sides, BIGINT casts for DuckDB sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import normalize_line, tokens
from ..operators.textstats import quality_prob
from ..registry import register
from ..sources.tables import load_table


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH p AS (
      SELECT quantile_cont(l_extendedprice, 0.1) AS p10,
             quantile_cont(l_extendedprice, 0.9) AS p90
      FROM lineitem
    )
    SELECT round(p.p10, 2) AS p10,
           round(p.p90, 2) AS p90,
           round(avg(CASE WHEN l_extendedprice >= p.p10
                           AND l_extendedprice <= p.p90
                          THEN l_extendedprice END), 2) AS trimmed_mean,
           round(avg(least(greatest(l_extendedprice, p.p10), p.p90)), 2)
             AS winsorized_mean,
           CAST(sum(CASE WHEN l_extendedprice >= p.p10
                          AND l_extendedprice <= p.p90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM lineitem CROSS JOIN p
    GROUP BY p.p10, p.p90
    """,
    doc="Robust location statistics (the outlier-resistant aggregates a "
        "quality-scoring pipeline needs): 10%-two-sided TRIMMED mean "
        "(drop the tails) and WINSORIZED mean (clamp to the decile "
        "bounds) of l_extendedprice.  The exact interpolated decile "
        "bounds come from operators/windows.grouped_exact_quantiles "
        "with no group columns — the "
        "two-phase distributed order-statistic operator — NOT the "
        "builtin percentile() aggregate, whose buffer ships every "
        "distinct value to one reduce task (the agg_percentiles_exact "
        "query keeps that builtin as a labeled surface-parity check; "
        "this query is the 100 TB path).  quantile_cont interpolation "
        "(v_lo + (v_hi - v_lo) * frac) matches DuckDB op-for-op; the "
        "1-row bounds frame broadcasts onto the second scan.",
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_exact_quantiles

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    p = grouped_exact_quantiles(li, "l_extendedprice", [], [0.1, 0.9],
                                out_names=["_p10", "_p90"])
    x = F.col("l_extendedprice")
    inside = (x >= F.col("_p10")) & (x <= F.col("_p90"))
    return (
        li.crossJoin(F.broadcast(p))
        .agg(
            F.round(F.first("_p10"), 2).alias("p10"),
            F.round(F.first("_p90"), 2).alias("p90"),
            F.round(F.avg(F.when(inside, x)), 2).alias("trimmed_mean"),
            F.round(F.avg(F.least(F.greatest(x, F.col("_p10")),
                                  F.col("_p90"))), 2).alias("winsorized_mean"),
            F.sum(F.when(inside, 1).otherwise(0)).alias("n_kept"),
        )
    )


@register(
    "corpus_source_topp",
    oracle="""
    WITH tot AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    ),
    cum AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS c
      FROM documents
    ),
    kept AS (
      SELECT cum.source, cum.doc_id, cum.n_chars
      FROM cum JOIN tot USING (source)
      WHERE cum.c - cum.n_chars < 0.5 * tot.total_chars
    )
    SELECT kept.source,
           count(*) AS n_docs_kept,
           CAST(sum(kept.n_chars) AS BIGINT) AS chars_kept,
           round(sum(kept.n_chars) * 1.0 / tot.total_chars, 4) AS share
    FROM kept JOIN tot USING (source)
    GROUP BY kept.source, tot.total_chars
    """,
    doc="Per-source nucleus (top-p) selection — the budgeted curation "
        "cut: within each source, keep the largest documents until they "
        "cover half the source's character mass (a doc is kept while "
        "its EXCLUSIVE cumulative offset is below the budget, so the "
        "crossing doc is included).  The cumulative mass comes from the "
        "GROUPED distributed prefix sum (operators/windows."
        "grouped_running_sum — value-derived buckets, a single source "
        "spans many buckets), never a per-source single-task window; "
        "per-source totals ride a broadcastable 20-row join.  Ordering "
        "(n_chars desc, doc_id) is total, so the cut is deterministic.",
)
def q_corpus_source_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    tot = d.groupBy("source").agg(F.sum("n_chars").alias("total_chars"))
    cum = grouped_running_sum(
        d, "n_chars", ["source"], [("n_chars", "desc"), "doc_id"], out="c")
    kept = (cum.join(F.broadcast(tot), "source")
            .filter(F.col("c") - F.col("n_chars")
                    < 0.5 * F.col("total_chars")))
    return (
        kept.groupBy("source", "total_chars")
        .agg(F.count(F.lit(1)).alias("n_docs_kept"),
             F.sum("n_chars").alias("chars_kept"))
        .select("source", "n_docs_kept", "chars_kept",
                F.round(F.col("chars_kept") / F.col("total_chars"), 4)
                .alias("share"))
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             avg(l_quantity)                         AS m1,
             avg(l_quantity * l_quantity)            AS m2,
             avg(l_quantity * l_quantity * l_quantity) AS m3,
             avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(m1, 4) AS mean_qty,
           round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                 / pow(m2 - m1 * m1, 1.5), 4) AS skewness_pop,
           round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * pow(m1, 4))
                 / pow(m2 - m1 * m1, 2) - 3, 4) AS excess_kurtosis_pop
    FROM m
    """,
    doc="Population skewness and excess kurtosis of l_quantity per "
        "returnflag, computed from raw power sums (one partial-aggregable "
        "pass — the distribution-shape diagnostics a length/score column "
        "gets profiled with).  Both sides evaluate the IDENTICAL moment "
        "arithmetic (avg of x^k then the central-moment formula) rather "
        "than each engine's skewness()/kurtosis() builtins, which differ "
        "in sample-vs-population correction.",
)
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = F.col("l_quantity")
    m = (load_table(spark, sf_dir, "lineitem")
         .select(F.col("l_returnflag"), x)
         .groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.avg(x).alias("m1"),
              F.avg(x * x).alias("m2"),
              F.avg(x * x * x).alias("m3"),
              F.avg(x * x * x * x).alias("m4")))
    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    var = m2 - m1 * m1
    return m.select(
        "l_returnflag",
        F.col("n").alias("n"),
        F.round(m1, 4).alias("mean_qty"),
        F.round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                / F.pow(var, F.lit(1.5)), 4).alias("skewness_pop"),
        F.round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * F.pow(m1, F.lit(4.0)))
                / F.pow(var, F.lit(2.0)) - 3, 4).alias("excess_kurtosis_pop"),
    )


@register(
    "text_dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(
                 lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
                 ' +', ' ', 'g'))) AS h
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT h) AS n_distinct_norm,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM norm
    GROUP BY source
    """,
    doc="Normalization-aware exact-dedup audit (the variants plain exact "
        "dedup misses: case, punctuation and whitespace differences): "
        "normalize (lower, strip non-letters, collapse spaces, trim), "
        "md5 the canonical form, count distinct canonical docs per "
        "source — n_dup_docs is the normalization-dup volume the source "
        "would shed.  md5 makes the canonical key engine-portable; one "
        "map stage + one partial-aggregable shuffle on (source, 16-byte "
        "hash) — the canonical 100 TB exact-dedup shape.  (Fixture note: "
        "normalized dups first appear at sf0.1 — 8 groups; smaller SFs "
        "honestly report 0.)",
)
def q_text_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        normalize_line(F.col("text")),
        " +", " "))
    return (
        d.select("doc_id", "source", F.md5(norm).alias("_h"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct("_h").alias("n_distinct_norm"),
             (F.count(F.lit(1)) - F.countDistinct("_h")).alias("n_dup_docs"),
             F.min("doc_id").alias("first_doc"))
    )




from .textanalysis import _DUCK_QUALITY_Z  # noqa: E402  (shared CTE twin)


@register(
    "corpus_quality_deciles_by_source",
    oracle="WITH" + _DUCK_QUALITY_Z + """
    , p AS (
      SELECT z.doc_id, d.source, round(1.0 / (1.0 + exp(-z.z)), 6) AS p
      FROM z JOIN documents d ON d.doc_id = z.doc_id
    ),
    t AS (
      SELECT source, doc_id, p,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY p DESC, doc_id) AS decile
      FROM p
    )
    SELECT source, CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(round(p * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_p_micro,
           round(min(p), 6) AS min_p,
           round(max(p), 6) AS max_p
    FROM t GROUP BY source, decile
    """,
    doc="Per-source quality deciles — the slice a curator reads before "
        "setting per-source keep thresholds: logistic quality "
        "probability (the text_quality_classifier features), then an "
        "EXACT ntile(10) PARTITION BY source via the distributed "
        "two-phase grouped ntile (operators/windows.grouped_ntile).  A "
        "plain keyed window would put each entire source in one task — "
        "at 100 TB a single source can be terabytes, so the operator "
        "buckets on broadcast (source, p, doc_id) value boundaries and "
        "a huge source spans many buckets; per-(bucket, source) "
        "row_numbers run in parallel and group offsets/totals come from "
        "the small counts frame.  Sort key is the ROUNDED probability "
        "(+ doc_id tiebreak) so tile assignment is engine-independent.",
)
def q_corpus_quality_deciles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_ntile

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source",
        F.round(quality_prob("text"), 6).alias("p"))
    tiled = grouped_ntile(scored, ["source"], [("p", "desc"), "doc_id"],
                          n_tiles=10, out="decile")
    return (
        tiled.groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             # integer micro-units, not round(avg(p), 6): averaging
             # 6-decimal-rounded inputs lands EXACTLY on .5 rounding
             # boundaries (2-doc deciles guarantee it), where Spark and
             # DuckDB round the ulp-different doubles apart
             F.sum(F.round(F.col("p") * 1000000).cast("long"))
             .alias("sum_p_micro"),
             F.round(F.min("p"), 6).alias("min_p"),
             F.round(F.max("p"), 6).alias("max_p"))
    )


@register(
    "pipeline_budget_resample",
    oracle="""
    WITH perdoc AS (
      SELECT doc_id, source,
             len(list_filter(
                 string_split(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')), ' '),
                 t -> t <> '')) AS ntok
      FROM documents
    ),
    tok AS (
      SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens
      FROM perdoc GROUP BY source
    ),
    tgt AS (
      SELECT source, tokens,
             1.0 / (1 + CAST(substring(source, 4) AS INTEGER)) AS raw_w
      FROM tok
    ),
    norm AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens, sum(raw_w) AS sum_w
      FROM tgt
    ),
    rates AS (
      SELECT t.source,
             CAST(floor(least(1.0, (t.raw_w / n.sum_w)
                              * (0.5 * n.total_tokens) / t.tokens)
                        * 10000) AS BIGINT) AS sample_bps
      FROM tgt t CROSS JOIN norm n
    ),
    kept AS (
      SELECT p.source, r.sample_bps, p.ntok
      FROM perdoc p JOIN rates r USING (source)
      WHERE ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 6))::BIGINT
            % 10000 < r.sample_bps
    )
    SELECT source, sample_bps,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(ntok) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source, sample_bps
    """,
    doc="The mixture-weights math APPLIED: source_mixing_weights computes "
        "per-source sampling rates against a 50%-of-corpus token budget; "
        "this pipeline materializes the resampled corpus membership with "
        "a DETERMINISTIC md5 bucket test (doc kept iff its hash bucket "
        "of 10000 falls below floor(rate*10000)) and reports achieved "
        "docs/tokens per source — rate math and selection in ONE lazy "
        "plan.  Hash-based sampling is the production idiom (rerunnable, "
        "no RNG state, stable under retries — the same property the "
        "train/valid split query pins); the per-doc token counts frame "
        "is persisted because both the totals aggregate and the keep "
        "decision consume it, and the 20-row rates frame broadcasts "
        "back onto the scan.  At 100 TB: two passes over (doc_id, "
        "source, ntok) — never the text — and one 20-group aggregate.",
)
def q_pipeline_budget_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens(F.col("text")))
    perdoc = tracked_persist(
        docs.select("doc_id", "source", ntok.alias("ntok")))
    tok = perdoc.groupBy("source").agg(F.sum("ntok").alias("tokens"))
    tgt = tok.withColumn(
        "raw_w", F.lit(1.0) / (F.lit(1) + F.substring("source", 4, 10)
                               .cast("int")))
    norm = tgt.agg(F.sum("tokens").alias("total_tokens"),
                   F.sum("raw_w").alias("sum_w"))
    rate = F.least(F.lit(1.0),
                   (F.col("raw_w") / F.col("sum_w"))
                   * (F.lit(0.5) * F.col("total_tokens")) / F.col("tokens"))
    rates = (tgt.crossJoin(F.broadcast(norm))
             .select("source",
                     F.floor(rate * 10000).cast("long").alias("sample_bps")))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                     16, 10).cast("long") % 10000)
    kept = (perdoc.join(F.broadcast(rates), "source")
            .filter(bucket < F.col("sample_bps")))
    return (
        kept.groupBy("source", "sample_bps")
        .agg(F.count(F.lit(1)).alias("n_kept"),
             F.sum("ntok").alias("tokens_kept"))
    )


@register(
    "corpus_length_quantiles_by_source",
    oracle="""
    SELECT source,
           round(quantile_cont(n_chars, 0.25), 2) AS p25,
           round(quantile_cont(n_chars, 0.50), 2) AS p50,
           round(quantile_cont(n_chars, 0.75), 2) AS p75,
           round(quantile_cont(n_chars, 0.95), 2) AS p95,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
    """,
    doc="Per-source document-length quantiles through "
        "operators/windows.grouped_exact_quantiles — the DISTRIBUTED "
        "per-group percentile_cont.  agg_percentiles_exact keeps the "
        "builtin percentile() as a surface-parity check, but that "
        "aggregate buffers every distinct value of a group in one task "
        "— a silent OOM when one source is half the corpus.  Here a "
        "group NEVER lands in one task: rows bucket on (source, "
        "n_chars) via broadcast value boundaries, rank per-(bucket, "
        "group) in parallel, add the group's exclusive bucket-count "
        "prefix, and each quantile picks its two order statistics with "
        "by-group conditional sums (partial-aggregable; the reduce "
        "sees #groups * #probs doubles).  Interpolation float-op order "
        "matches DuckDB quantile_cont exactly.  The companion n_docs "
        "count joins from a plain aggregate over the same persisted "
        "scan.",
)
def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_exact_quantiles

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    q = grouped_exact_quantiles(docs, "n_chars", ["source"],
                                [0.25, 0.50, 0.75, 0.95],
                                out_names=["_p25", "_p50", "_p75", "_p95"])
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        q.join(n, "source")
        .select(
            "source",
            F.round("_p25", 2).alias("p25"),
            F.round("_p50", 2).alias("p50"),
            F.round("_p75", 2).alias("p75"),
            F.round("_p95", 2).alias("p95"),
            "n_docs",
        )
    )


@register(
    "sample_weighted_systematic",
    oracle="""
    WITH cum AS (
      SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS w_cum
      FROM documents),
    tot AS (SELECT CAST(sum(n_chars) AS BIGINT) // 50 AS step FROM documents)
    SELECT doc_id, source, n_chars,
           CAST(w_cum // step AS BIGINT) AS sel_idx
    FROM cum, tot
    WHERE w_cum // step > (w_cum - n_chars) // step
    """,
    doc="Systematic probability-proportional-to-size sampling: order "
        "docs by doc_id, running-sum their token weights (n_chars), and "
        "select every doc whose cumulative weight crosses a multiple of "
        "step = total_weight div k — each doc's selection probability "
        "is proportional to its weight, with k=50 picks, ZERO floats "
        "(integer div on both engines; no float-ranked knife edge) and "
        "full determinism.  This is the weighted corpus-sampling "
        "primitive (sample big-docs-proportionally for a token budget). "
        " The running sum is operators/windows.grouped_running_sum "
        "with no group columns — the "
        "two-phase value-bucketed prefix sum — so no single-partition "
        "global window exists anywhere in the plan; the oracle uses the "
        "plain SQL window.  The step scalar joins as a broadcast 1-row "
        "frame.",
)
def q_sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_running_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    cum = grouped_running_sum(docs, "n_chars", [], ["doc_id"], out="w_cum")
    step = docs.agg(
        F.expr("CAST(sum(n_chars) AS BIGINT) DIV 50").alias("_step"))
    return (
        cum.crossJoin(F.broadcast(step))
        .where(F.expr("w_cum DIV _step > (w_cum - n_chars) DIV _step"))
        .select("doc_id", "source", "n_chars",
                F.expr("CAST(w_cum DIV _step AS BIGINT)").alias("sel_idx"))
    )


@register(
    "corpus_datasheet",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, lang,
             length(text) - length(replace(text, ' ', '')) + 1 AS ws_toks,
             n_chars,
             md5(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g'))) AS fp
      FROM documents
    )
    SELECT 'n_docs' AS metric, 'total' AS scope,
           CAST(count(*) AS BIGINT) AS value FROM toks
    UNION ALL
    SELECT 'n_docs', 'source=' || source, CAST(count(*) AS BIGINT)
    FROM toks GROUP BY source
    UNION ALL
    SELECT 'n_docs', 'lang=' || lang, CAST(count(*) AS BIGINT)
    FROM toks GROUP BY lang
    UNION ALL
    SELECT 'n_chars', 'total', CAST(sum(n_chars) AS BIGINT) FROM toks
    UNION ALL
    SELECT 'ws_tokens', 'total', CAST(sum(ws_toks) AS BIGINT) FROM toks
    UNION ALL
    SELECT 'distinct_normalized_docs', 'total',
           CAST(count(DISTINCT fp) AS BIGINT) FROM toks
    """,
    doc="One-frame corpus datasheet (the 'dataset card' numbers every "
        "training-data release publishes: Gebru et al., 'Datasheets for "
        "Datasets'): doc counts total / per source / per language, "
        "total chars, whitespace token total, and distinct "
        "normalized-text fingerprints (the exact-dedup denominator).  "
        "All metrics are integers from one shared scan projected to "
        "five tiny aggregates unioned into a tall (metric, scope, "
        "value) frame — the shape a catalog or data-quality dashboard "
        "ingests directly; each leg is a partial-aggregable reduce, so "
        "the datasheet of a 100 TB corpus is one pass over four "
        "columns, never the text twice.",
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = (F.length("text")
          - F.length(F.regexp_replace(F.col("text"), " ", "")) + 1)
    fp = F.md5(normalize_line(F.col("text")))
    base = d.select("doc_id", "source", "lang", ws.alias("ws_toks"),
                    "n_chars", fp.alias("fp"))

    def row(metric, scope_col, value_col, grp=None):
        g = base.groupBy(grp) if grp else base
        return g.agg(value_col.alias("value")).select(
            F.lit(metric).alias("metric"), scope_col.alias("scope"),
            F.col("value").cast("long").alias("value"))

    total_docs = row("n_docs", F.lit("total"), F.count(F.lit(1)))
    by_src = row("n_docs", F.concat(F.lit("source="), F.col("source")),
                 F.count(F.lit(1)), grp="source")
    by_lang = row("n_docs", F.concat(F.lit("lang="), F.col("lang")),
                  F.count(F.lit(1)), grp="lang")
    chars = row("n_chars", F.lit("total"), F.sum("n_chars"))
    toks = row("ws_tokens", F.lit("total"), F.sum("ws_toks"))
    dedup = row("distinct_normalized_docs", F.lit("total"),
                F.count_distinct("fp"))
    return (total_docs.unionByName(by_src).unionByName(by_lang)
            .unionByName(chars).unionByName(toks).unionByName(dedup))


@register(
    "pipeline_filter_funnel",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, n_chars,
             length(text) - length(replace(text, ' ', '')) + 1 AS ws_toks,
             md5(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g'))) AS fp
      FROM documents
    ),
    s1 AS (SELECT * FROM base WHERE lang = 'en'),
    s2 AS (SELECT * FROM s1 WHERE n_chars BETWEEN 100 AND 500),
    s3 AS (SELECT * FROM s2
           WHERE ws_toks >= 15
             AND n_chars * 1.0 / ws_toks BETWEEN 3.0 AND 12.0),
    s4 AS (SELECT fp, min(doc_id) AS rep, min(n_chars) AS rep_chars
           FROM s3 GROUP BY fp)
    SELECT 0 AS stage, 'ingest' AS stage_name,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_total FROM base
    UNION ALL SELECT 1, 'lang_en', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s1
    UNION ALL SELECT 2, 'length_100_500', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s2
    UNION ALL SELECT 3, 'mean_wordlen_3_12', CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT) FROM s3
    UNION ALL SELECT 4, 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(rep_chars) AS BIGINT) FROM s4
    """,
    doc="Curation filter funnel (the ablation table a dataset paper "
        "prints: docs and chars surviving each successive filter): "
        "ingest -> language -> length band -> mean-word-length quality "
        "heuristic -> exact-normalized dedup (min-doc_id survivor per "
        "fingerprint).  One shared 4-column projection feeds every "
        "stage; each stage is a conditional aggregate, and the dedup "
        "stage is one fingerprint-keyed reduce — the funnel of a 100 TB "
        "corpus costs one scan plus vocabulary-free shuffles, and every "
        "count is an exact integer (the reproducibility bar for "
        "published dataset cards).",
)
def q_pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = (F.length("text")
          - F.length(F.regexp_replace(F.col("text"), " ", "")) + 1)
    fp = F.md5(normalize_line(F.col("text")))
    base = d.select("doc_id", "lang", "n_chars", ws.alias("ws_toks"),
                    fp.alias("fp"))
    s1 = base.where(F.col("lang") == "en")
    s2 = s1.where(F.col("n_chars").between(100, 500))
    s3 = s2.where((F.col("ws_toks") >= 15)
                  & (F.col("n_chars") * 1.0 / F.col("ws_toks"))
                  .between(3.0, 12.0))
    s4 = s3.groupBy("fp").agg(F.min("n_chars").alias("rep_chars"))

    def stage(i, name, df, chars_col="n_chars"):
        return df.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum(chars_col).alias("n_chars_total")).select(
            F.lit(i).alias("stage"), F.lit(name).alias("stage_name"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars_total").cast("long").alias("n_chars_total"))

    return (stage(0, "ingest", base)
            .unionByName(stage(1, "lang_en", s1))
            .unionByName(stage(2, "length_100_500", s2))
            .unionByName(stage(3, "mean_wordlen_3_12", s3))
            .unionByName(stage(4, "exact_dedup", s4, "rep_chars")))


@register(
    "curation_domain_cap",
    oracle="""
    SELECT doc_id, host, CAST(rn AS INTEGER) AS rank FROM (
      SELECT doc_id, host,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM (SELECT doc_id, source || '.example.com' AS host
            FROM documents)
    ) WHERE rn <= 25
    """,
    doc="Per-domain document cap (the C4/RefinedWeb curation step: keep "
        "at most K documents per host so no single domain dominates the "
        "training mix): rank each host's docs by a DETERMINISTIC "
        "content-independent hash (md5 of the doc id — a seeded uniform "
        "shuffle that is reproducible across runs/engines, unlike "
        "rand()) and keep rank <= 25.  One hash exchange on host; the "
        "rank<=K filter triggers Spark's WindowGroupLimit pushdown, so "
        "each MAP task pre-trims to its local top-K per host BEFORE the "
        "shuffle — at 100 TB the exchange carries at most "
        "K x hosts x tasks rows, not the corpus (plan-pinned in "
        "tests/test_plans.py).  Hosts are synthesized from source like "
        "scalar_url_functions (no URL column in the fixture); md5 is "
        "used (not xxhash64) because DuckDB computes the identical hex "
        "so the ranking itself is hash-oracled.",
)
def q_curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"))
    rk = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("host").orderBy(rk.asc(), F.col("doc_id").asc())
    return (docs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 25)
            .select("doc_id", "host", "rank"))


# PII-bearing text synthesis shared by pii_scrub_multi's two sides: the
# documents fixture carries no real PII, so deterministic contact lines
# (an email, a phone, an IPv4) are appended to `text` by doc_id residue
# classes — the same idiom dedup_url_canonical uses for URLs.  Both
# engines build the IDENTICAL augmented text and run the IDENTICAL
# regexes, so the scrub itself is hash-oracled end to end.
_PII_ORACLE = r"""
WITH aug AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 3 = 0
                  THEN ' Contact alice' || CAST(doc_id AS VARCHAR)
                       || '@Mail.Example.org for info.'
                  ELSE '' END)
         || (CASE WHEN doc_id % 3 = 1
                  THEN ' Call (555) '
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' today.'
                  ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN ' Served from 10.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                       || CAST((doc_id * 13) % 256 AS VARCHAR)
                       || ' internally.'
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 2
                  THEN ' Node at 2001:db8:'
                       || lpad(CAST(doc_id % 9999 AS VARCHAR), 4, '0')
                       || '::1 online.'
                  ELSE '' END)
         || (CASE WHEN doc_id % 7 = 3
                  THEN ' Pay card 4'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' '
                       || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') || ' '
                       || lpad(CAST((doc_id * 11) % 10000 AS VARCHAR), 4, '0') || ' '
                       || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0')
                       || ' promptly.'
                  ELSE '' END) AS t
  FROM documents
),
s1 AS (
  SELECT doc_id, t,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t1
  FROM aug
),
s2 AS (
  SELECT *, regexp_replace(t1, '\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}',
                           '<PHONE>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT *,
         regexp_replace(t2,
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
           '<IP>', 'g') AS t3
  FROM s2
),
s4 AS (
  SELECT *,
         regexp_replace(t3,
           '\b[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}(?:(?::[0-9a-fA-F]{1,4}){1,5}|::[0-9a-fA-F]{1,4})\b',
           '<IP6>', 'g') AS t4
  FROM s3
),
s5 AS (
  SELECT *,
         list_filter(regexp_extract_all(t4, '\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b'),
           c -> (list_sum(list_transform(
                   [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15],
                   i -> CASE WHEN (15 - i) % 2 = 1
                        THEN CASE WHEN 2 * CAST(substring(replace(replace(c, ' ', ''), '-', ''), i+1, 1) AS INT) > 9
                                  THEN 2 * CAST(substring(replace(replace(c, ' ', ''), '-', ''), i+1, 1) AS INT) - 9
                                  ELSE 2 * CAST(substring(replace(replace(c, ' ', ''), '-', ''), i+1, 1) AS INT) END
                        ELSE CAST(substring(replace(replace(c, ' ', ''), '-', ''), i+1, 1) AS INT) END))
                 % 10) = 0) AS valid_cards
  FROM s4
),
s6 AS (
  SELECT *,
         list_reduce(list_prepend(t4, valid_cards),
                     (acc, x) -> replace(acc, x, '<CARD>')) AS t5,
         length(t)
         - length(list_reduce(list_prepend(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
               '\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}', '', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '', 'g'),
               '\b[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}(?:(?::[0-9a-fA-F]{1,4}){1,5}|::[0-9a-fA-F]{1,4})\b', '', 'g'),
             valid_cards), (acc, x) -> replace(acc, x, '')))
           AS pii_len
  FROM s5
)
SELECT doc_id,
       CAST(length(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
         AS n_email,
       CAST(length(regexp_extract_all(t1,
         '\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}')) AS INTEGER)
         AS n_phone,
       CAST(length(regexp_extract_all(t2,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER)
         AS n_ip,
       CAST(length(regexp_extract_all(t3,
         '\b[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}(?:(?::[0-9a-fA-F]{1,4}){1,5}|::[0-9a-fA-F]{1,4})\b')) AS INTEGER)
         AS n_ipv6,
       CAST(length(regexp_extract_all(t4,
         '\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b')) AS INTEGER) AS n_card,
       CAST(length(valid_cards) AS INTEGER) AS n_card_valid,
       CAST(pii_len AS INTEGER) AS pii_chars,
       CAST(floor(1000.0 * pii_len / greatest(length(t), 1)) AS INTEGER)
         AS pii_permille,
       md5(t5) AS scrub_md5
FROM s6
"""

_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_RE = r"\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}"
_PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# Pragmatic IPv6 class (the curation-stack subset): >= 4 hex groups in
# full form, or 3 groups + '::' + final group (the compressed shape the
# synthesis emits).  Deliberately NOT the full RFC 4291 grammar —
# ipv4-mapped and multi-'::' forms are out of scope; both engines run
# the identical pattern so the class boundary is shared.
_PII_IPV6_RE = (r"\b[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}:[0-9a-fA-F]{1,4}"
                r"(?:(?::[0-9a-fA-F]{1,4}){1,5}|::[0-9a-fA-F]{1,4})\b")
# 16-digit card CANDIDATES (4 groups of 4, space/dash separated);
# candidates are redacted only if they pass Luhn — a pure digit-
# transform expression in both engines (unrolled 16-term doubled sum),
# so invalid look-alike numbers are deliberately left in the text.
_PII_CARD_RE = r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b"


@register(
    "pii_scrub_multi",
    oracle=_PII_ORACLE,
    doc="Multi-class PII scrub (the C4/Dolma curation step; r12 extends "
        "the r11 three-class contract with the two classes real "
        "curation stacks scrub next): emails, phone numbers, IPv4, "
        "IPv6 and Luhn-VALID 16-digit card numbers are redacted to "
        "<EMAIL>/<PHONE>/<IP>/<IP6>/<CARD> tokens in a FIXED order "
        "(email first — its local part can contain digit runs the "
        "phone/IP classes would otherwise partially claim; card last, "
        "gated on Luhn so look-alike digit groups that fail the "
        "checksum are deliberately LEFT IN PLACE — the checksum is an "
        "unrolled 16-term doubled-digit sum, a pure codegen expression "
        "in both engines, no UDF), with per-doc match counts "
        "(n_card counts candidates, n_card_valid the Luhn survivors), "
        "total redacted characters, and a floor()ed permille density.  "
        "The scrubbed text is pinned by md5 so the oracle checks the "
        "REDACTION ITSELF.  Pure regexp/HOF column expressions — "
        "zero shuffle: at 100 TB the scrub rides the scan.  PII lines "
        "are synthesized deterministically from doc_id residues on "
        "BOTH sides (card check digits fall where the residues land, "
        "~1/10 valid, so both Luhn branches carry real mass).  "
        "The Spark side is a MERGED ladder — ONE "
        "combined-alternation regexp_extract_all pass over the full "
        "text (alternatives in the staged precedence order, so at any "
        "position the earlier class claims the match exactly as the "
        "staged ladder does), then counts / Luhn / redaction / "
        "pii_len all derive from the SHORT match strings (classify by "
        "anchored re-match, redact by per-match literal replace).  "
        "14 full-text regex passes -> 1; measured 1.66 -> 0.53 s at "
        "sf0.1 (single-partition scan, so wall-clock IS single-core "
        "regex throughput — the same ratio a 100 TB executor sees).  "
        "The DuckDB oracle keeps the STAGED ladder, so the driver "
        "hash pins merged == staged on every fixture; the forms can "
        "diverge only on overlapping-class text neither fixture nor "
        "crawl corpora exhibit (tokens contain no digits, classes are "
        "structurally disjoint — see the class-disjointness test).",
)
def q_pii_scrub_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthesis as ONE SQL expression (same arithmetic as the oracle's
    # aug CTE); like the ladder below, SQL text keeps plan BUILD at one
    # parse instead of ~50 py4j column-composition round-trips
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        """concat(text,
   CASE WHEN doc_id % 3 = 0 THEN concat(' Contact alice',
        CAST(doc_id AS STRING), '@Mail.Example.org for info.')
        ELSE '' END,
   CASE WHEN doc_id % 3 = 1 THEN concat(' Call (555) ',
        lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',
        lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' today.')
        ELSE '' END,
   CASE WHEN doc_id % 5 = 0 THEN concat(' Served from 10.',
        CAST(doc_id % 256 AS STRING), '.',
        CAST((doc_id * 7) % 256 AS STRING), '.',
        CAST((doc_id * 13) % 256 AS STRING), ' internally.')
        ELSE '' END,
   CASE WHEN doc_id % 7 = 2 THEN concat(' Node at 2001:db8:',
        lpad(CAST(doc_id % 9999 AS STRING), 4, '0'), '::1 online.')
        ELSE '' END,
   CASE WHEN doc_id % 7 = 3 THEN concat(' Pay card 4',
        lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), ' ',
        lpad(CAST((doc_id * 3) % 10000 AS STRING), 4, '0'), ' ',
        lpad(CAST((doc_id * 11) % 10000 AS STRING), 4, '0'), ' ',
        lpad(CAST((doc_id * 17) % 10000 AS STRING), 4, '0'),
        ' promptly.') ELSE '' END) AS t""",
    )

    # --- merged ladder (r14): ONE full-text regex pass -------------------
    # The combined alternation lists the classes in the staged ladder's
    # precedence order, so at any position the earlier class claims the
    # match exactly as the staged form does; every downstream quantity
    # (per-class counts, Luhn gate, redaction, removed-char total) is
    # then computed from the SHORT match strings.  Per-match class
    # re-tests are anchored full-string regexes over <=40-char matches
    # — structurally disjoint across classes (phone needs 3-3-4 digit
    # groups, IPv4 four 1-3 digit octets, card four 4-digit groups;
    # pinned by test_pii_class_patterns_disjoint), so the re-test can
    # never re-classify a match away from the alternative that
    # produced it.
    #
    # Everything below is SQL TEXT, not composed Columns: the
    # lambda-heavy HOF tree costs ~0.9 s of py4j round-trips per plan
    # BUILD when composed via pyspark.sql.functions (measured r14);
    # one selectExpr parse costs ~0.05 s for the identical tree.
    combined = (f"(?:{_PII_EMAIL_RE})|(?:{_PII_PHONE_RE})|"
                f"(?:{_PII_IP_RE})|(?:{_PII_IPV6_RE})|(?:{_PII_CARD_RE})")

    def q(pat: str) -> str:
        # SQL string literal for a regex (patterns carry no quotes)
        return "'" + pat.replace("\\", "\\\\") + "'"

    # predicate builders take the lambda-variable NAME — str.format
    # would trip on regex quantifier braces like {4}
    def is_email(m):
        return f"contains({m}, '@')"

    def is_ipv6(m):
        return f"contains({m}, ':')"

    def is_phone(m):
        return f"({m} RLIKE " + q(f"^(?:{_PII_PHONE_RE})$") + ")"

    def is_card(m):
        return f"({m} RLIKE " + q(f"^(?:{_PII_CARD_RE})$") + ")"

    def is_ip(m):
        return ("(NOT (" + " OR ".join([is_email(m), is_ipv6(m),
                                        is_phone(m), is_card(m)]) + "))")

    def luhn_sql(m: str) -> str:
        # unrolled 16-term doubled sum over the separator-stripped
        # digits — position parity is a constant per term, so the whole
        # predicate folds into one codegen expression
        dig = f"replace(replace({m}, ' ', ''), '-', '')"
        terms = []
        for i in range(16):
            d = f"CAST(substring({dig}, {i + 1}, 1) AS INT)"
            if (15 - i) % 2 == 1:
                terms.append(f"(CASE WHEN 2*{d} > 9 THEN 2*{d} - 9 "
                             f"ELSE 2*{d} END)")
            else:
                terms.append(d)
        return f"((({' + '.join(terms)}) % 10) = 0)"

    token_case = ("(CASE WHEN " + is_email("m")
                  + " THEN '<EMAIL>' WHEN " + is_ipv6("m")
                  + " THEN '<IP6>' WHEN " + is_phone("m")
                  + " THEN '<PHONE>' WHEN " + is_card("m")
                  + " THEN '<CARD>' ELSE '<IP>' END)")

    def n_of(pred: str, out: str) -> str:
        return f"CAST(size(filter(ms, m -> {pred})) AS INT) AS {out}"

    staged = docs.selectExpr(
        "doc_id", "t",
        f"regexp_extract_all(t, {q(combined)}, 0) AS ms",
    ).selectExpr(
        "*",
        # a card candidate is redacted only if Luhn-valid; every other
        # class is redacted unconditionally (the staged contract)
        f"filter(ms, m -> (NOT {is_card('m')}) OR "
        f"{luhn_sql('m')}) AS redact",
    ).selectExpr(
        "*",
        f"aggregate(redact, t, (acc, m) -> replace(acc, m, {token_case}))"
        " AS t5",
        "length(t) - length(aggregate(redact, t, "
        "(acc, m) -> replace(acc, m, ''))) AS pii_len",
    )
    return staged.selectExpr(
        "doc_id",
        n_of(is_email("m"), "n_email"),
        n_of(is_phone("m"), "n_phone"),
        n_of(is_ip("m"), "n_ip"),
        n_of(is_ipv6("m"), "n_ipv6"),
        n_of(is_card("m"), "n_card"),
        n_of("(" + is_card("m") + " AND " + luhn_sql("m") + ")",
             "n_card_valid"),
        "CAST(pii_len AS INT) AS pii_chars",
        "CAST(floor(1000.0 * pii_len / greatest(length(t), 1)) AS INT)"
        " AS pii_permille",
        "md5(CAST(t5 AS BINARY)) AS scrub_md5",
    )


@register(
    "curation_source_prior",
    oracle="WITH" + _DUCK_QUALITY_Z + """,
    p AS (
      SELECT z.doc_id, d.source, 1.0 / (1.0 + exp(-z.z)) AS p
      FROM z JOIN documents d USING (doc_id)
    ),
    src AS (
      SELECT source, count(*) AS n_docs, sum(p) AS sum_p,
             sum(CASE WHEN p >= 0.7 THEN 1 ELSE 0 END) AS n_keep
      FROM p GROUP BY source
    ),
    -- g derives from the SAME per-source partial sums as the Spark
    -- plan (sum of per-source sums / sum of counts), not the direct
    -- per-doc sum: matching accumulation structure keeps the
    -- round(...,6) columns off 5e-7 float boundaries
    g AS (SELECT sum(sum_p) / sum(n_docs) AS g_avg FROM src)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(sum_p / n_docs, 6) AS raw_avg_q,
           round((sum_p + 25.0 * g.g_avg) / (n_docs + 25.0), 6) AS shrunk_q,
           round(n_keep * 1.0 / n_docs, 6) AS keep_rate
    FROM src CROSS JOIN g
    ORDER BY source
    """,
    doc="Per-source quality priors with empirical-Bayes shrinkage "
        "(the domain-prior table a 100 TB curation run keys its "
        "sampling weights on): each source's mean keep-probability "
        "(textstats.quality_prob — the text_quality_classifier logistic) "
        "shrunk toward the corpus mean with pseudo-count C=25, "
        "shrunk = (sum_p + C*g)/(n + C) — a source with 3 documents "
        "sits near the global prior, a source with 10^7 documents "
        "keeps its own mean, and nothing needs a learned model.  ONE "
        "corpus scan (the logistic is in-row), one |sources|-group "
        "shuffle with map-side partial sums, one 1-row global "
        "broadcast — the same shape at any corpus size.  keep_rate is "
        "an exact int ratio through IEEE division (bit-identical both "
        "engines).",
)
def q_curation_source_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist

    c_prior = 25.0
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select("source", quality_prob("text").alias("_p"))
    # persisted |sources|-row frame: the global mean derives from the
    # per-source sums (sum of partial sums == the direct sum up to
    # float association, same class as the engines' own partial aggs),
    # so the corpus — whose in-row logistic IS the dominant cost (the
    # query is scan-bound) — is scanned exactly ONCE
    # instead of once per aggregate branch
    src = tracked_persist(per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_p").alias("_sum_p"),
        F.sum(F.when(F.col("_p") >= 0.7, 1).otherwise(0)).alias("_n_keep")))
    g = src.agg((F.sum("_sum_p") / F.sum("n_docs")).alias("_g"))
    return (src.crossJoin(F.broadcast(g))
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.round(F.col("_sum_p") / F.col("n_docs"), 6)
                     .alias("raw_avg_q"),
                    F.round((F.col("_sum_p") + c_prior * F.col("_g"))
                            / (F.col("n_docs") + c_prior), 6)
                     .alias("shrunk_q"),
                    F.round(F.col("_n_keep") * F.lit(1.0) / F.col("n_docs"),
                            6).alias("keep_rate"))
            .orderBy("source"))


# the toks/grams CTE pair is queries/dedup._DUCK_TRIGRAMS — composed,
# not copied, so a tokenization change there can never silently leave
# this oracle on the old definition (r13 review)
from .dedup import _DUCK_TRIGRAMS  # noqa: E402  (shared CTE twin)

_SPLIT_LEAKAGE_ORACLE = _DUCK_TRIGRAMS.rstrip() + """,
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT g1.doc_id AS a, g2.doc_id AS b, count(*) AS i
  FROM grams g1 JOIN grams g2 USING (tri)
  WHERE g1.doc_id < g2.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a, b FROM inter
  JOIN sizes sa ON inter.a = sa.doc_id
  JOIN sizes sb ON inter.b = sb.doc_id
  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
),
split AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
          % 10 = 0) AS is_test
  FROM documents
),
leaky AS (
  SELECT DISTINCT d FROM (
    SELECT p.a AS d FROM pairs p
    JOIN split x ON p.a = x.doc_id JOIN split y ON p.b = y.doc_id
    WHERE x.is_test AND NOT y.is_test
    UNION ALL
    SELECT p.b AS d FROM pairs p
    JOIN split x ON p.a = x.doc_id JOIN split y ON p.b = y.doc_id
    WHERE y.is_test AND NOT x.is_test
  )
)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(count(l.d) AS BIGINT) AS n_leaky_test_docs,
       CAST(floor(1000.0 * count(l.d) / count(*)) AS INTEGER)
         AS leak_permille
FROM split s LEFT JOIN leaky l ON s.doc_id = l.d
WHERE s.is_test
GROUP BY s.source ORDER BY s.source
"""


@register(
    "split_leakage_audit",
    oracle=_SPLIT_LEAKAGE_ORACLE,
    doc="Train/test split leakage audit — the eval-integrity gate every "
        "training pipeline needs before it trusts a held-out score: "
        "documents are hash-split 90/10 (first-4-md5-hex-digits mod 10, "
        "identical integer arithmetic in both engines — deterministic, "
        "reproducible, no RNG), then every trigram-Jaccard>=0.5 near-dup "
        "pair (ngram_jaccard_pairs, the exact inverted-index join — "
        "never all-pairs) that CROSSES the split marks its test "
        "side as leaked.  Per source: test-doc count, leaked test docs, "
        "leak permille (floor'd int ratio — exact IEEE both engines).  "
        "Scale shape: the pair join is dedup_ngram_jaccard's "
        "inverted-index join; split flags attach via two keyed joins of "
        "the (small) near-dup pair set against the split map, and the "
        "rollup is one |sources| partial-agg shuffle.  A leaky test doc "
        "is counted ONCE however many train near-dups it has (the "
        "distinct), matching what you'd actually do: drop or re-split "
        "those docs.",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    is_test = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 4), 16, 10).cast("long") % 10 == 0)
    split = tracked_persist(
        docs.select("doc_id", "source", is_test.alias("is_test")))
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_jaccard=0.5).select("a", "b")
    flagged = (pairs
               .join(split.select(F.col("doc_id").alias("a"),
                                  F.col("is_test").alias("_ta")), "a")
               .join(split.select(F.col("doc_id").alias("b"),
                                  F.col("is_test").alias("_tb")), "b"))
    # ONE pass over the flagged pairs: a union of one branch per leak
    # direction would plan the whole pair join twice.  The two
    # direction predicates are disjoint, so one filter + conditional
    # projection emits each leaked test side once: a pair with
    # _ta & ~_tb contributes a, one with _tb & ~_ta contributes b.
    leaky = (flagged
             .where((F.col("_ta") & ~F.col("_tb"))
                    | (F.col("_tb") & ~F.col("_ta")))
             .select(F.when(F.col("_ta"), F.col("a"))
                     .otherwise(F.col("b")).alias("d"))
             .distinct())
    test = split.where("is_test")
    return (test.join(leaky, test["doc_id"] == leaky["d"], "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_test_docs"),
                 F.count("d").alias("n_leaky_test_docs"))
            .select("source", "n_test_docs", "n_leaky_test_docs",
                    F.floor(F.lit(1000.0) * F.col("n_leaky_test_docs")
                            / F.col("n_test_docs")).cast("int")
                     .alias("leak_permille"))
            .orderBy("source"))


_N_SHARDS = 16


@register(
    "pipeline_shard_assignment",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM documents
    )
    SELECT CAST(hv % {_N_SHARDS} AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(hv) AS min_hash,
           max(hv) AS max_hash,
           bit_xor(hv) AS xor_hash
    FROM h GROUP BY 1 ORDER BY shard
    """,
    doc="Deterministic training-data shuffle + shard assignment — the "
        "'global shuffle' step every pretraining run needs, with no RNG "
        "state to replicate across engines or reruns: each doc's "
        "position is its 60-bit md5 prefix (identical integer "
        "arithmetic both engines), shard = hash mod 16, within-shard "
        "order = hash order.  Reproducible from doc_id alone — a "
        "resumed or re-run pipeline lands every doc in the same shard "
        "at the same position.  Output pins the full permutation per "
        "shard: doc count, char mass (balance check — md5 spreads both "
        "within ~sqrt deviations), min/max hash (the shard's order "
        "range) and the order-invariant bit_xor checksum (any single "
        "reassigned doc flips it).  Scale shape: ONE scan, one "
        "16-group partial-agged shuffle; the materializing twin is "
        "repartitionByRange(hv) + sortWithinPartitions(hv) writing one "
        "shard per output file — same hash, same order, same shards.",
)
def q_pipeline_shard_assignment(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("long")
    return (docs.select(hv.alias("hv"),
                        F.col("n_chars").cast("long").alias("n_chars"))
            .groupBy((F.col("hv") % _N_SHARDS).cast("int").alias("shard"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("hv").alias("min_hash"),
                 F.max("hv").alias("max_hash"),
                 F.expr("bit_xor(hv)").alias("xor_hash"))
            .orderBy("shard"))


# Poisson(1) inverse-CDF thresholds on the 24-bit md5 bucket space
# (floor(CDF(k) * 2^24) for k = 0..7; bucket >= the last threshold
# draws weight 8, the 1e-5 tail).  Integer constants so the weight
# ladder is pure integer comparison — zero cross-engine FP risk.
_POISSON_CDF_24BIT = (6171992, 12343985, 15429982, 16458647,
                      16715813, 16767247, 16775819, 16777044)
_BOOT_REPLICAS = 200

_BOOT_W_CASE = ("CASE " + " ".join(
    f"WHEN b < {t} THEN {k}" for k, t in enumerate(_POISSON_CDF_24BIT))
    + " ELSE 8 END")


@register(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH w AS (
      SELECT source, r, n_chars, {_BOOT_W_CASE} AS w
      FROM (
        SELECT d.source, reps.r, d.n_chars,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                   || CAST(reps.r AS VARCHAR)), 1, 6))::BIGINT
                 AS b
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, {_BOOT_REPLICAS})) AS r) reps
      )
    ),
    rep AS (
      SELECT source, r,
             round(CAST(sum(w * n_chars) AS DOUBLE) / sum(w), 6) AS m
      FROM w GROUP BY source, r HAVING sum(w) > 0
    ),
    ci AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_replicas,
             round(quantile_cont(m, 0.025), 6) AS ci_lo,
             round(quantile_cont(m, 0.975), 6) AS ci_hi,
             round(stddev_samp(m), 6) AS se_boot
      FROM rep GROUP BY source
    ),
    base AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             round(avg(n_chars), 6) AS mean_chars
      FROM documents GROUP BY source
    )
    SELECT b.source, b.n_docs, b.mean_chars,
           c.n_replicas, c.ci_lo, c.ci_hi, c.se_boot
    FROM base b JOIN ci c USING (source)
    """,
    doc="Poisson-bootstrap confidence intervals for per-source mean doc "
        "length — THE uncertainty-quantification idiom for massive data "
        "(Chamandy/Muralidharan/Najmi/Naidu, 'Estimating uncertainty "
        "for massive data streams', Google 2012): classical bootstrap "
        "resampling needs N draws per replica (a shuffle per replica); "
        "Poisson bootstrap replaces it with an independent Poisson(1) "
        "weight per (row, replica), so ALL 200 replicas ride ONE scan. "
        "Weights are DETERMINISTIC — md5(doc_id ':' r) -> 24-bit "
        "bucket -> integer inverse-CDF ladder — so the 'randomness' is "
        "reproducible across engines, retries and reruns (the same "
        "discipline as the md5 split/sample family).  Every arithmetic "
        "step until the final division is INTEGER-exact (w and n_chars "
        "are ints; sums < 2^53), so replica means are bit-identical in "
        "both engines before rounding.  Scale shape: the x200 fan-out "
        "is map-side compute (explode of a literal sequence, no "
        "pre-agg exchange); the one shuffle carries |sources| x 200 "
        "partial-agged rows, then a |sources|-group quantile over 200 "
        "replica means each.  At 100 TB: one pass over (doc_id, "
        "source, n_chars) — never the text — per-row cost 200 short "
        "md5s; CI width scales 1/sqrt(n) per source exactly as the "
        "replicas estimate.",
)
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = docs.select(
        "source", "doc_id", "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPLICAS - 1))).alias("r"))
    b = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                              F.col("r").cast("string"))), 1, 6),
        16, 10).cast("long")
    w = F.when(b < _POISSON_CDF_24BIT[0], 0)
    for k in range(1, 8):
        w = w.when(b < _POISSON_CDF_24BIT[k], k)
    w = w.otherwise(8)
    repm = (rep.select("source", "r", "n_chars", w.alias("w"))
            .groupBy("source", "r")
            .agg(F.sum("w").alias("wn"),
                 F.sum(F.col("w") * F.col("n_chars")).alias("wx"))
            .filter(F.col("wn") > 0)
            .select("source",
                    F.round(F.col("wx").cast("double") / F.col("wn"), 6)
                    .alias("m")))
    ci = (repm.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n_replicas"),
               F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
               F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
               F.round(F.stddev_samp("m"), 6).alias("se_boot")))
    base = (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("mean_chars")))
    return base.join(ci, "source").select(
        "source", "n_docs", "mean_chars",
        "n_replicas", "ci_lo", "ci_hi", "se_boot")
