"""Event-analytics queries: funnel conversion and cohort retention.

Product-analytics staples over the ``events`` fixture — both are pure
aggregation pipelines (no window over the full event stream, no
per-user collect), so they scale as two or three hash shuffles keyed by
``user_id`` / cohort week no matter how large the event log is.

Reference parity: the reference engine (mapreduce.c) has no analytics
surface; this is north-star §2b (events-table) coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

# Sequential funnel: a later step counts only if it happens strictly
# after the user's earliest completion of the previous step.
_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "funnel_conversion",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM t1) AS step1_view,
           (SELECT count(*) FROM t2) AS step2_click,
           (SELECT count(*) FROM t3) AS step3_purchase,
           round((SELECT count(*) FROM t3) * 1.0
                 / (SELECT count(*) FROM t1), 6) AS conversion
    """,
    doc="Strictly-ordered 3-step funnel (view -> click -> purchase): a "
        "step counts only when it occurs after the user's earliest "
        "completion of the previous step.  Three per-user min-aggregations "
        "chained by join — each stage shuffles on user_id once and AQE "
        "reuses the partitioning; no event-stream-wide window.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    step = None
    counts = []
    for i, etype in enumerate(_FUNNEL_STEPS, start=1):
        stage = ev.where(F.col("event_type") == etype)
        if step is not None:
            stage = stage.join(step, "user_id").where(F.col("ts") > F.col("prev_ts"))
        step = stage.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))
        counts.append(step.agg(F.count(F.lit(1)).alias(f"c{i}")))
    c1, c2, c3 = counts
    return (
        c1.crossJoin(c2).crossJoin(c3)
        .select(
            F.col("c1").alias("step1_view"),
            F.col("c2").alias("step2_click"),
            F.col("c3").alias("step3_purchase"),
            F.round(F.col("c3") / F.col("c1"), 6).alias("conversion"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('week', f.cohort_week, date_trunc('week', e.ts))
               AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           count(*) AS active_users
    FROM activity
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users bucketed by first-seen week, "
        "active-user counts per (cohort_week, week_offset).  One shuffle "
        "to find first-seen, one distinct on (user, offset), one count — "
        "output is O(weeks^2) regardless of event volume.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id", "cohort_week",
            (F.datediff(F.date_trunc("week", F.col("ts")),
                        F.col("cohort_week")) / 7).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset", "active_users",
        )
    )


@register(
    "timeseries_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(value), 2) AS revenue
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(day) AS mn, max(day) AS mx
      FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    )
    SELECT s.event_type,
           strftime(s.day, '%Y-%m-%d') AS day,
           CAST(coalesce(d.revenue, 0.0) AS DOUBLE) AS revenue,
           CAST(coalesce(last_value(d.revenue IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0.0) AS DOUBLE) AS revenue_locf
    FROM spine s LEFT JOIN daily d USING (event_type, day)
    """,
    doc="Time-series gap filling: a per-key date spine (sequence + "
        "explode over each key's [min, max] day range) left-joined to the "
        "daily aggregate, zero-filled plus last-observation-carried-"
        "forward.  Spine generation is O(days) per key with no driver "
        "round-trip; LOCF is one ordered window per key.",
)
def q_timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"), "value")
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value"), 2).alias("revenue"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select("event_type",
                F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce(F.last("revenue", ignorenulls=True).over(w),
                       F.lit(0.0)).alias("revenue_locf"),
        )
    )


@register(
    "scd2_intervals",
    oracle="""
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                    'CURRENT') AS valid_to,
           CAST(round(value, 2) AS DOUBLE) AS value
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD Type-2 validity intervals from a change log: each state "
        "change opens an interval closed by the next change's timestamp "
        "(lead), with the latest row left open ('CURRENT').  One shuffle "
        "on the business key; event_id tiebreaks equal timestamps so "
        "version numbering is deterministic.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "signup")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.date_format("ts", fmt).alias("valid_from"),
        F.coalesce(F.date_format(F.lead("ts").over(w), fmt),
                   F.lit("CURRENT")).alias("valid_to"),
        F.round("value", 2).alias("value"),
    )


@register(
    "agg_regression_price_qty",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)                                  AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6)         AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6)     AS intercept,
           round(corr(l_extendedprice, l_quantity), 6)               AS r,
           round(regr_r2(l_extendedprice, l_quantity), 6)            AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Per-group OLS regression + correlation of extendedprice on "
        "quantity via the SQL-standard REGR_* aggregates: the whole fit "
        "is ONE partial-aggregable shuffle (each aggregate reduces to "
        "sums/products maintained map-side), i.e. linear-model fitting "
        "at 100 TB without any driver-side math.",
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.corr(y, x), 6).alias("r"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


@register(
    "stats_chi2_event_dow",
    oracle="""
    WITH cells AS (
      SELECT event_type, dayofweek(ts) + 1 AS dow,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(n) AS rn FROM cells GROUP BY 1),
    ct AS (SELECT dow, sum(n) AS cn FROM cells GROUP BY 1),
    tot AS (SELECT sum(n) AS nn FROM cells)
    SELECT round(sum(pow(n - rn * cn / nn, 2) / (rn * cn / nn)), 6) AS chi2,
           CAST((SELECT count(*) - 1 FROM rt)
                * (SELECT count(*) - 1 FROM ct) AS BIGINT) AS dof
    FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot
    """,
    doc="Chi-square independence test of event_type x day-of-week: the "
        "contingency table, marginals and expected counts are all "
        "aggregations; marginals are broadcast back onto the cells "
        "(O(types x 7) rows), so the only corpus-scale work is the first "
        "groupBy — the canonical distributed hypothesis-test shape.",
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = (e.groupBy("event_type", F.dayofweek("ts").alias("dow"))
             .agg(F.count(F.lit(1)).cast("double").alias("n")))
    rt = cells.groupBy("event_type").agg(F.sum("n").alias("rn"))
    ct = cells.groupBy("dow").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("nn"))
    ndof = (
        rt.agg((F.count(F.lit(1)) - 1).alias("_r"))
        .crossJoin(ct.agg((F.count(F.lit(1)) - 1).alias("_c")))
        .select((F.col("_r") * F.col("_c")).cast("long").alias("dof"))
    )
    exp = F.col("rn") * F.col("cn") / F.col("nn")
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 6).alias("chi2"))
        .crossJoin(F.broadcast(ndof))
    )


@register(
    "anomaly_daily_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
      FROM daily GROUP BY 1
    )
    SELECT daily.event_type, day, CAST(n AS BIGINT) AS n_events,
           round((n - mu) / sd, 6) AS zscore
    FROM daily JOIN stats ON daily.event_type = stats.event_type
    WHERE sd > 0 AND abs((n - mu) / sd) > 2
    """,
    doc="Time-series anomaly detection: per-type daily counts, per-type "
        "mean/stddev as a second (tiny) aggregate broadcast back, flag "
        "days beyond 2 sigma.  Two partial-aggregable shuffles total; "
        "the stats side is O(types) rows regardless of corpus size.",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type",
                       F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
             .agg(F.count(F.lit(1)).cast("double").alias("n")))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd"))
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .where((F.col("sd") > 0) & (F.abs(z) > 2))
        .select("event_type", "day", F.col("n").cast("long").alias("n_events"),
                F.round(z, 6).alias("zscore"))
    )


@register(
    "streaks_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, count(*) AS len, min(d) AS streak_start
      FROM grp GROUP BY user_id, island
    ),
    best AS (
      SELECT user_id, len, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, streak_start) AS rn
      FROM streaks
    )
    SELECT user_id, CAST(len AS BIGINT) AS longest_streak_days,
           CAST(streak_start AS VARCHAR) AS streak_start
    FROM best WHERE rn = 1
    """,
    doc="Gaps-and-islands (longest consecutive-day activity streak per "
        "user): the date-minus-row_number island trick — consecutive "
        "days share a constant difference — then a per-island count and "
        "a per-user argmax.  Both windows partition by user_id (one "
        "shuffle, reused), so the pattern scales with users, not with a "
        "global sort.  Earliest streak wins ties, deterministically.",
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    grp = days.withColumn("island", F.date_sub(F.col("d"), rn))
    streaks = (grp.groupBy("user_id", "island")
               .agg(F.count(F.lit(1)).alias("len"),
                    F.min("d").alias("streak_start")))
    best = F.row_number().over(
        Window.partitionBy("user_id")
        .orderBy(F.desc("len"), F.asc("streak_start")))
    return (streaks.withColumn("_rn", best).filter(F.col("_rn") == 1)
            .select("user_id", F.col("len").alias("longest_streak_days"),
                    F.col("streak_start").cast("string").alias("streak_start")))


@register(
    "agg_mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_event_type, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
    doc="Per-group mode (most frequent event_type per user, lexicographic "
        "min on ties): partial-aggregable count then a window argmax over "
        "the (user, type) frame — the grouped-mode idiom that avoids "
        "collecting value lists.  The window runs on the aggregate "
        "output (|users| x |types| rows), never the event stream.",
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type")))
    return (counts.withColumn("_rn", rn).filter(F.col("_rn") == 1)
            .select("user_id", F.col("event_type").alias("mode_event_type"),
                    F.col("n").alias("mode_count")))


@register(
    "rfm_segments",
    oracle="""
    WITH base AS (
      SELECT user_id,
             strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
             count(*)                               AS freq,
             round(sum(value), 2)                   AS monetary
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, freq, monetary,
             ntile(4) OVER (ORDER BY last_ts, user_id)  AS r_q,
             ntile(4) OVER (ORDER BY freq, user_id)     AS f_q,
             ntile(4) OVER (ORDER BY monetary, user_id) AS m_q
      FROM base
    )
    SELECT user_id,
           CAST(r_q AS INTEGER) AS r_q,
           CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
             || CAST(m_q AS VARCHAR) AS segment
    FROM scored
    """,
    doc="RFM customer segmentation (recency/frequency/monetary "
        "quartiles, the CRM-analytics staple): one per-user aggregate, "
        "then THREE exact global ntiles — each via the distributed "
        "two-phase operator (operators/windows.grouped_ntile with no "
        "group columns), never a "
        "single-partition window, so the scoring holds at 10^9 users.  "
        "Recency orders on the second-formatted last-event string "
        "(identical truncation both engines, user_id tiebreaker makes "
        "the order total); monetary orders on the round(2) sum per the "
        "repo float convention.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_persist
    from ..operators.windows import grouped_ntile, shared_boundaries

    e = load_table(spark, sf_dir, "events")
    # persisted: the per-user aggregate is the only full event-log scan;
    # without it each of the three chained ntiles re-derives it (3x the
    # 100 TB scan for a frame of O(users) rows)
    base = tracked_persist(e.groupBy("user_id").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("value"), 2).alias("monetary"),
    ))
    # ONE boundary-sample pass serves all three ntiles (each ntile would
    # otherwise run its own collect over base — 3 scans for 3 boundary
    # lists that one sample derives just as well)
    rb, fb, mb = shared_boundaries(
        base, [["last_ts", "user_id"], ["freq", "user_id"],
               ["monetary", "user_id"]])
    r = grouped_ntile(base, [], ["last_ts", "user_id"], 4, out="r_q",
                      bounds=rb).select("user_id", "freq", "monetary", "r_q")
    f = grouped_ntile(r, [], ["freq", "user_id"], 4, out="f_q", bounds=fb)
    m = grouped_ntile(f, [], ["monetary", "user_id"], 4, out="m_q", bounds=mb)
    return m.select(
        "user_id",
        F.col("r_q").cast("int").alias("r_q"),
        F.col("f_q").cast("int").alias("f_q"),
        F.col("m_q").cast("int").alias("m_q"),
        F.concat(F.col("r_q").cast("string"), F.col("f_q").cast("string"),
                 F.col("m_q").cast("string")).alias("segment"),
    )


@register(
    "pattern_sequence_detect",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S'), event_id)
               AS s,
             count(*) AS seq_len,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(seq_len AS BIGINT) AS seq_len,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           regexp_matches(s, 'v[^ep]*c[^ep]*p') AS converted
    FROM seq
    """,
    doc="MATCH_RECOGNIZE-style sequence pattern detection (the SQL:2016 "
        "row-pattern surface, emulated): per user, the time-ordered "
        "event-initial string is matched against the regex "
        "view -> (no error/purchase) -> click -> (no error/purchase) -> "
        "purchase — a strictly ordered funnel with an exclusion "
        "condition that plain per-step min(ts) funnels cannot express.  "
        "One shuffle (groupBy user); per-user state is the event string "
        "(bounded by events-per-user, same bound any MATCH_RECOGNIZE "
        "engine needs); the regex runs once per user, not per event.  "
        "Ordering ties broken by (second-formatted ts, event_id) — a "
        "total order identical in both engines.  Output is the "
        "existence boolean (engine-robust), not the overlap-sensitive "
        "match count.",
)
def q_pattern_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    row = F.struct(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        F.col("event_id").alias("i"),
        F.substring("event_type", 1, 1).alias("c"),
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(row)),
                                lambda s: s["c"])).alias("s"),
            F.count(F.lit(1)).alias("seq_len"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
        .select("user_id", "seq_len", "n_purchases",
                F.col("s").rlike("v[^ep]*c[^ep]*p").alias("converted"))
    )


@register(
    "basket_lift_pairs",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM baskets),
    sup AS (SELECT brand, count(*) AS c FROM baskets GROUP BY brand),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS c_ab
      FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b,
           CAST(c_ab AS BIGINT) AS n_both,
           round(c_ab / n.n_orders, 6) AS support,
           round(c_ab * 1.0 / sa.c, 6) AS confidence,
           round(c_ab * n.n_orders / (sa.c * 1.0 * sb.c), 6) AS lift
    FROM pairs
    JOIN sup sa ON pairs.brand_a = sa.brand
    JOIN sup sb ON pairs.brand_b = sb.brand
    CROSS JOIN n
    WHERE c_ab >= 50
    """,
    doc="Market-basket association rules (support / confidence / lift "
        "over brand pairs co-bought in one order): the frequent-itemset "
        "surface at pair depth.  Baskets are distinct (order, brand) — "
        "one shuffle; the pair join is keyed by orderkey with per-order "
        "width bounded by the BRAND vocabulary (~25), so candidate "
        "volume is O(orders x brands^2) worst-case and in practice "
        "O(orders x basket_width^2), never corpus-quadratic; brand "
        "support and the order count broadcast onto the pair frame.  "
        "min-support floor (n_both >= 50) applied on the raw count.",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    baskets = (li.join(p, li.l_partkey == p.p_partkey)
               .select(F.col("l_orderkey").alias("ok"),
                       F.col("p_brand").alias("brand")).distinct())
    n = baskets.agg(F.countDistinct("ok").cast("double").alias("n_orders"))
    sup = baskets.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select(F.col("ok"), F.col("brand").alias("brand_a"))
    b = baskets.select(F.col("ok"), F.col("brand").alias("brand_b"))
    pairs = (a.join(b, "ok").filter(F.col("brand_a") < F.col("brand_b"))
             .groupBy("brand_a", "brand_b").agg(F.count(F.lit(1)).alias("c_ab"))
             .filter(F.col("c_ab") >= 50))
    sa = sup.select(F.col("brand").alias("brand_a"), F.col("c").alias("_ca"))
    sb = sup.select(F.col("brand").alias("brand_b"), F.col("c").alias("_cb"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a", "brand_b",
            F.col("c_ab").alias("n_both"),
            F.round(F.col("c_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("c_ab") / F.col("_ca"), 6).alias("confidence"),
            F.round(F.col("c_ab") * F.col("n_orders")
                    / (F.col("_ca") * F.col("_cb")), 6).alias("lift"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S'), event_id) AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, count(*) AS n_trans
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT cur, sum(n_trans) AS t FROM pairs GROUP BY 1)
    SELECT pairs.cur AS cur_type, pairs.nxt AS next_type,
           CAST(pairs.n_trans AS BIGINT) AS n_trans,
           round(pairs.n_trans * 1.0 / tot.t, 6) AS p
    FROM pairs JOIN tot ON pairs.cur = tot.cur
    """,
    doc="First-order Markov transition matrix over per-user event "
        "sequences (the behavioral-model summary behind next-action "
        "prediction and anomaly scoring): adjacent (current, next) "
        "pairs from a per-user lead window — keyed by user, state "
        "bounded by events-per-user — then two vocabulary-sized "
        "aggregates for counts and row-normalized probabilities.  "
        "Ordering ties broken by (second-formatted ts, event_id), the "
        "engine-portable total order.",
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), "event_id")
    seq = e.select("user_id", F.col("event_type").alias("cur"),
                   F.lead("event_type").over(w).alias("nxt"))
    pairs = (seq.filter(F.col("nxt").isNotNull())
             .groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n_trans")))
    tot = pairs.groupBy("cur").agg(F.sum("n_trans").alias("t"))
    return (pairs.join(tot, "cur")
            .select(F.col("cur").alias("cur_type"),
                    F.col("nxt").alias("next_type"),
                    "n_trans",
                    F.round(F.col("n_trans") / F.col("t"), 6).alias("p")))


@register(
    "timeseries_ewma_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type,
             list_transform(list_sort(list_zip(array_agg(day), array_agg(v)),
                                      'ASC'),
                            z -> CAST(z[2] AS DOUBLE)) AS vals,
             count(*) AS n_days,
             strftime(max(day), '%Y-%m-%d') AS last_day
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days, last_day,
           round(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6)
             AS ewma
    FROM ser
    """,
    doc="Exponentially weighted moving average over each type's daily "
        "series (alpha=0.2 — the classic smoothing/forecast-seed "
        "statistic): the RECURSIVE recurrence acc = a*x + (1-a)*acc is "
        "a sequential fold no window frame expresses, so it runs as an "
        "array fold (F.aggregate) over the time-sorted per-key series "
        "— collected state is bounded by series length per key (days), "
        "never the event count; the daily aggregation underneath is "
        "the only full-data shuffle.  Daily sums are rounded(2) BEFORE "
        "the fold so both engines fold bit-identical inputs; Spark "
        "seeds the fold with the first element to match DuckDB's "
        "list_reduce semantics.",
)
def q_timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum("value"), 2).alias("v")))
    ser = (daily.groupBy("event_type")
           .agg(F.array_sort(F.collect_list(F.struct("day", "v"))).alias("_s"),
                F.count(F.lit(1)).alias("n_days"),
                F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day")))
    vals = F.transform("_s", lambda s: s["v"].cast("double"))
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return ser.select("event_type", "n_days", "last_day",
                      F.round(ewma, 6).alias("ewma"))


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             row_number() OVER w AS version,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             round(value, 2) AS state_value
      FROM events WHERE event_type = 'signup'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(iv.version AS BIGINT) AS version,
           iv.state_value
    FROM events p
    LEFT JOIN iv ON iv.user_id = p.user_id
                AND p.ts >= iv.valid_from
                AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    WHERE p.event_type = 'purchase'
    """,
    doc="Point-in-time (time-travel) lookup against SCD2 validity "
        "intervals: every purchase joins the signup STATE VERSION that "
        "was current at its timestamp — the as-of dimension lookup every "
        "warehouse fact load runs against slowly-changing dimensions.  "
        "Intervals come from a keyed lead window (versions per user are "
        "bounded); the join is an equi-join on user_id with the validity "
        "range as a post-join filter — at 100 TB both sides hash-"
        "partition on the key and each key's interval list is small, so "
        "no interval index is needed; purchases before the first version "
        "survive null-extended (left join).  Exactly one interval can "
        "match per purchase (intervals partition the timeline), so "
        "cardinality is stable by construction.",
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (e.filter(F.col("event_type") == "signup")
          .select(F.col("user_id").alias("iv_user"),
                  F.row_number().over(w).alias("version"),
                  F.col("ts").alias("valid_from"),
                  F.lead("ts").over(w).alias("valid_to"),
                  F.round("value", 2).alias("state_value")))
    p = e.filter(F.col("event_type") == "purchase")
    cond = ((p.user_id == iv.iv_user)
            & (p.ts >= iv.valid_from)
            & (iv.valid_to.isNull() | (p.ts < iv.valid_to)))
    return (
        p.join(iv, cond, "left")
        .select(F.col("event_id").alias("purchase_id"),
                "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
                "version", "state_value")
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type,1) OVER w AS e2, lead(event_type,2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S'), event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10
    """,
    doc="Most-frequent 3-step event paths across all user sessions (the "
        "behavioral n-gram mining dual of the Markov transition matrix): "
        "per-user lead window -> path-keyed count -> deterministic "
        "TakeOrdered top-10.  The shuffle carries one row per event and "
        "the reduce side is path-vocabulary-sized (|event_types|^3); "
        "ties broken by (second-formatted ts, event_id), the "
        "engine-portable total order.",
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.where(F.col("e3").isNotNull())
            .select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("path")).limit(10))


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(sum(value) / count(*), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental aggregate maintenance: the engine maintains a "
        "daily rollup as ALGEBRAIC partials (count/sum/min/max -- each "
        "mergeable), so a new delta batch re-aggregates base partials "
        "UNION delta partials instead of rescanning history; avg is "
        "derived from merged sum/count at read time (avg itself is not "
        "mergeable).  The oracle recomputes from the full table -- "
        "equality IS the correctness statement of incremental "
        "maintenance.  At 100 TB the base rollup is days x types rows "
        "while a rescan is the whole fact table.",
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type", "value",
        (F.col("ts") < F.lit("2024-01-16")).alias("_is_base"))

    def partials(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"))

    base = partials(ev.where(F.col("_is_base")))
    delta = partials(ev.where(~F.col("_is_base")))
    merged = (base.unionByName(delta)
              .groupBy("day", "event_type")
              .agg(F.sum("n").alias("n"),
                   F.sum("s").alias("s"),
                   F.min("mn").alias("mn"),
                   F.max("mx").alias("mx")))
    return merged.select(
        "day", "event_type", F.col("n").cast("long").alias("n"),
        F.round("s", 2).alias("sum_value"),
        F.round("mn", 2).alias("min_value"),
        F.round("mx", 2).alias("max_value"),
        F.round(F.col("s") / F.col("n"), 6).alias("avg_value"))


@register(
    "skyline_pareto_orders",
    oracle="""
    WITH pts AS (
      SELECT o_orderpriority,
             datediff('day', DATE '1992-01-01', o_orderdate) AS dday,
             min(o_totalprice) AS y, CAST(count(*) AS BIGINT) AS n_orders_day
      FROM orders GROUP BY 1, 2
    ),
    sky AS (
      SELECT *, min(y) OVER (PARTITION BY o_orderpriority ORDER BY dday
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
      FROM pts
    )
    SELECT o_orderpriority, CAST(dday AS BIGINT) AS dday,
           round(y, 2) AS min_price, n_orders_day
    FROM sky WHERE prev_min IS NULL OR y < prev_min
    """,
    doc="Per-priority skyline (Pareto frontier) of orders minimizing "
        "(order day, price): an order day is on the frontier iff no "
        "earlier-or-equal day has an equal-or-cheaper order.  The naive "
        "skyline is an all-pairs NOT EXISTS dominance test; this plan is "
        "linear — one groupBy collapses the data to (priority, day) "
        "minima, then ONE running-min window per priority partition "
        "keeps exactly the strictly-descending minima.  No per-group "
        "task ever sees more than |days| rows, and the dominance pass "
        "never shuffles the fact table twice.",
)
def q_skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import skyline_2d_min

    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderpriority",
                    F.expr("datediff(o_orderdate, DATE '1992-01-01')")
                     .alias("dday"),
                    "o_totalprice")
    sky = skyline_2d_min(
        base, "dday", "o_totalprice", group_cols=("o_orderpriority",),
        extra_aggs={"n_orders_day": F.count(F.lit(1))})
    return sky.select("o_orderpriority",
                      F.col("dday").cast("long").alias("dday"),
                      F.round("o_totalprice", 2).alias("min_price"),
                      F.col("n_orders_day").cast("long").alias("n_orders_day"))


@register(
    "events_new_vs_returning",
    oracle="""
    WITH fs AS (SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS first_day
                FROM events GROUP BY 1),
    act AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
            FROM events)
    SELECT day,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(count(*) FILTER (WHERE day = first_day) AS BIGINT) AS new_users,
           CAST(count(*) FILTER (WHERE day > first_day) AS BIGINT)
               AS returning_users
    FROM act JOIN fs USING (user_id) GROUP BY day
    """,
    doc="Daily new-vs-returning user split (the growth-accounting "
        "decomposition of any DAU curve): each user's first-seen day "
        "(one groupBy) joined onto the distinct (user, day) activity "
        "frame, then one conditional aggregate per day.  No window "
        "functions, no self-join over time — the running 'seen before' "
        "state usually modeled with an expanding window reduces to the "
        "first-occurrence trick (min day per user), so the whole query "
        "is two user-keyed shuffles at any scale.",
)
def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    fs = (e.groupBy("user_id")
          .agg(F.min(day).alias("first_day")))
    act = e.select("user_id", day.alias("day")).distinct()
    new = F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
    ret = F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
    return (act.join(fs, "user_id")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("active_users"),
                 F.sum(new).cast("long").alias("new_users"),
                 F.sum(ret).cast("long").alias("returning_users")))


@register(
    "timeseries_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             v
      FROM daily
    ),
    nn AS (SELECT event_type, max(i) AS n FROM ser GROUP BY 1),
    rec AS (
      SELECT s1.event_type, 1 AS i, s1.v AS l, s2.v - s1.v AS b
      FROM ser s1 JOIN ser s2
        ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
      UNION ALL
      SELECT r.event_type, r.i + 1,
             0.3 * s.v + 0.7 * (r.l + r.b),
             0.1 * (0.3 * s.v + 0.7 * (r.l + r.b) - r.l) + 0.9 * r.b
      FROM rec r JOIN ser s
        ON s.event_type = r.event_type AND s.i = r.i + 1
    )
    SELECT rec.event_type, CAST(nn.n AS BIGINT) AS n_days,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + 3 * b, 6) AS forecast_3d
    FROM rec JOIN nn ON rec.event_type = nn.event_type AND rec.i = nn.n
    """,
    doc="Holt linear-trend (double exponential) smoothing per event "
        "type, alpha=0.3 gamma=0.1: level/trend recurrences are a "
        "sequential fold no window frame expresses, so the engine folds "
        "a struct state (l, b) over the time-sorted per-key daily array "
        "(F.aggregate) — the same bounded-by-days-per-key shape as the "
        "EWMA query, initialized with the standard l1=x1, b1=x2-x1.  "
        "Daily sums are rounded(2) first so both engines fold "
        "bit-identical inputs; the oracle runs the identical recurrence "
        "as a RECURSIVE CTE stepping one day at a time.  Output is the "
        "final state and the 3-day-ahead forecast l + 3b; series with "
        "fewer than 2 days are dropped on both sides (no trend is "
        "estimable).",
)
def q_timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum("value"), 2).alias("v")))
    ser = (daily.groupBy("event_type")
           .agg(F.array_sort(F.collect_list(F.struct("day", "v"))).alias("_s"),
                F.count(F.lit(1)).alias("n_days"))
           .where(F.col("n_days") >= 2))
    vals = F.transform("_s", lambda s: s["v"].cast("double"))
    x1 = F.element_at(vals, 1).cast("double")
    x2 = F.element_at(vals, 2).cast("double")

    def step(acc, x):
        lnew = F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["b"])
        bnew = (F.lit(0.1) * (F.lit(0.3) * x
                              + F.lit(0.7) * (acc["l"] + acc["b"])
                              - acc["l"])
                + F.lit(0.9) * acc["b"])
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    state = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.struct(x1.alias("l"), (x2 - x1).alias("b")),
        step)
    return ser.select("event_type", F.col("n_days").cast("long").alias("n_days"),
                      F.round(state["l"], 6).alias("level"),
                      F.round(state["b"], 6).alias("trend"),
                      F.round(state["l"] + F.lit(3) * state["b"], 6)
                       .alias("forecast_3d"))


@register(
    "timeseries_wau_sliding",
    oracle="""
    WITH du AS (
      SELECT DISTINCT datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS dday, user_id
      FROM events
    ),
    bounds AS (SELECT min(dday) AS lo, max(dday) AS hi FROM du),
    fan AS (
      SELECT du.dday + o.o AS day, du.user_id
      FROM du, (SELECT unnest(generate_series(0, 6)) AS o) o
    )
    SELECT CAST(day AS BIGINT) AS dday,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM fan, bounds WHERE day BETWEEN lo AND hi
    GROUP BY day
    """,
    doc="Rolling 7-day active users per day (the WAU-per-day curve): "
        "COUNT(DISTINCT) over a sliding window has no distributive "
        "window form — a user active twice in the window must count "
        "once — so the engine uses the offset fan-out identity: user u "
        "active on day d is 'visible' on days d..d+6, so WAU(day) = "
        "distinct users among fan-out rows landing on that day.  One "
        "distinct (user, day) reduce, a 7x map-side fan-out (no "
        "shuffle), one distinct count keyed by day — linear at any "
        "scale, where the naive per-day 7-day rescan is 7x a full "
        "scan and a window-distinct simply doesn't exist.",
)
def q_timeseries_wau_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    du = (e.select(F.expr(
        "datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("dday"),
        "user_id").distinct())
    bounds = du.agg(F.min("dday").alias("lo"), F.max("dday").alias("hi"))
    fan = du.select(
        F.explode(F.sequence(F.col("dday"), F.col("dday") + 6)).alias("day"),
        "user_id")
    return (fan.crossJoin(F.broadcast(bounds))
            .where(F.col("day").between(F.col("lo"), F.col("hi")))
            .groupBy(F.col("day").cast("long").alias("dday"))
            .agg(F.count_distinct("user_id").alias("wau")))


@register(
    "timeseries_cusum_changepoint",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, round(avg(v), 2) AS mu, count(*) AS n
      FROM daily GROUP BY 1
    ),
    ser AS (
      SELECT d.event_type,
             row_number() OVER (PARTITION BY d.event_type ORDER BY day) AS i,
             d.v, s.mu, s.n
      FROM daily d JOIN stats s ON d.event_type = s.event_type
    ),
    rec AS (
      SELECT event_type, i, greatest(0.0, v - mu) AS s,
             greatest(0.0, v - mu) AS peak, mu, n
      FROM ser WHERE i = 1
      UNION ALL
      SELECT r.event_type, r.i + 1,
             greatest(0.0, r.s + x.v - r.mu),
             greatest(r.peak, greatest(0.0, r.s + x.v - r.mu)),
             r.mu, r.n
      FROM rec r JOIN ser x
        ON x.event_type = r.event_type AND x.i = r.i + 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(s, 4) AS cusum_final, round(peak, 4) AS cusum_peak,
           (peak > 5 * mu) AS alarm
    FROM rec WHERE i = n
    """,
    doc="One-sided CUSUM change detection per event type (Page 1954, "
        "the classic sequential drift detector): s_t = max(0, s_{t-1} "
        "+ x_t - mu) accumulates upward deviations from the series "
        "mean and resets at zero; the peak statistic flags a sustained "
        "level shift (alarm when peak > 5*mu).  The recurrence is a "
        "sequential fold with TWO state components (running cusum + "
        "its peak), so the engine folds a struct accumulator over the "
        "time-sorted per-key daily array — bounded by days-per-key, "
        "never event count; daily sums and the mean are rounded(2) "
        "first so both engines fold bit-identical inputs, and the "
        "oracle steps the identical recurrence as a RECURSIVE CTE.",
)
def q_timeseries_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.round(F.sum("value"), 2).alias("v")))
    ser = (daily.groupBy("event_type")
           .agg(F.array_sort(F.collect_list(F.struct("day", "v"))).alias("_s"),
                F.round(F.avg("v"), 2).alias("mu"),
                F.count(F.lit(1)).alias("n")))
    vals = F.transform("_s", lambda s: s["v"].cast("double"))
    first = F.greatest(F.lit(0.0), F.element_at(vals, 1) - F.col("mu"))

    def step(acc, x):
        snew = F.greatest(F.lit(0.0), acc["s"] + x - F.col("mu"))
        return F.struct(snew.alias("s"),
                        F.greatest(acc["peak"], snew).alias("peak"))

    state = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.struct(first.alias("s"), first.alias("peak")),
        step)
    return ser.select("event_type", F.col("n").cast("long").alias("n_days"),
                      F.round(state["s"], 4).alias("cusum_final"),
                      F.round(state["peak"], 4).alias("cusum_peak"),
                      (state["peak"] > 5 * F.col("mu")).alias("alarm"))


@register(
    "timeseries_cumulative_users",
    oracle="""
    WITH fs AS (SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS first_day
                FROM events GROUP BY 1),
    nd AS (SELECT first_day AS day, count(*) AS new_users
           FROM fs GROUP BY 1)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT)
             AS cumulative_users
    FROM nd
    """,
    doc="Cumulative distinct users over time (the total-audience growth "
        "curve): running COUNT(DISTINCT) reduces to the first-occurrence "
        "trick — each user counts exactly once, on their first-seen day "
        "— so the curve is new-users-per-day plus a running sum over "
        "the DAYS frame.  The window is ordered over |days| rows (the "
        "calendar, not the data; the same bounded-frame argument as the "
        "256-bin histogram cumsum), while both data-sized passes are "
        "user-keyed hash reduces.  The naive formulation — distinct "
        "count over an expanding window — rescans history per day.",
)
def q_timeseries_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    fs = (e.groupBy("user_id")
          .agg(F.min(F.date_format("ts", "yyyy-MM-dd")).alias("first_day")))
    nd = (fs.groupBy(F.col("first_day").alias("day"))
          .agg(F.count(F.lit(1)).alias("new_users")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return nd.select("day", F.col("new_users").cast("long").alias("new_users"),
                     F.sum("new_users").over(w).cast("long")
                      .alias("cumulative_users"))
