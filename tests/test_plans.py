"""Physical-plan assertions (the scale discipline): broadcasts, pruning,
pushdown, partial aggregation, top-k operator — checked on the real
registry queries so a plan regression fails CI, not a 100 TB run."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mapreduce_implementation_spark.operators.text import word_count
from mapreduce_implementation_spark.plans.inspect import (
    assert_broadcast_join, assert_partial_aggregate, assert_partition_pruning,
    assert_pushed_filter, assert_read_schema_only, assert_take_ordered,
    plan_string,
)
from mapreduce_implementation_spark.registry import all_specs
from mapreduce_implementation_spark.sources.tables import load_table
from tests.conftest import SF_DIR_01

SPECS = all_specs()


def test_broadcast_dims_join_plan(spark):
    df = SPECS["join_broadcast_dims"].fn(spark, SF_DIR_01)
    assert_broadcast_join(df, forbid_sort_merge=True)


def test_tpch_q5_broadcasts_dims(spark):
    df = SPECS["join_tpch_q5_shape"].fn(spark, SF_DIR_01)
    assert_broadcast_join(df)


def test_tpch_q5_no_forced_broadcast_of_fact_side(spark):
    """Exactly two broadcast hints — nation and region (true dims).  A
    hint on the customer-derived frame would force an OOM-sized broadcast
    at 100x sf that the autoBroadcast threshold would otherwise refuse;
    only AQE may upgrade that side at runtime."""
    df = SPECS["join_tpch_q5_shape"].fn(spark, SF_DIR_01)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed


def test_tpch_q9_no_forced_broadcast_of_fact_side(spark):
    """Exactly one broadcast hint — nation (25 rows), inside the
    supplier⋈nation build.  part and supplier are fact-scale (200k/10k x
    sf); forcing them past autoBroadcastJoinThreshold OOMs the build side
    at large sf, so they must stay threshold/AQE-decided (mirrors the Q5
    customer-side rule)."""
    df = SPECS["join_tpch_q9_shape"].fn(spark, SF_DIR_01)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_global_ntile_no_single_partition_window_over_base(spark):
    """The distributed ntile: base-table row_number windows partition by
    the value-derived bucket id (parallel), and any SinglePartition
    exchange carries only the tiny per-bucket counts frame (_cnt),
    never base-table rows.  No spark_partition_id anywhere: the bucket
    id must be a pure function of row values (recompute-stable)."""
    import re

    df = SPECS["window_global_ntile"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    # the bucket column carries a per-call fresh prefix (r10 temp-name
    # sweep), so match any _<prefix>bkt name
    assert re.search(r"row_number\(\) windowspecdefinition\(_\w*bkt", plan), plan
    assert "SPARK_PARTITION_ID" not in plan.upper(), plan
    for m in re.finditer(
            r"Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition", plan):
        assert "_cnt" in m.group(1), plan


def test_tpch_hard_decorrelations_no_nested_loop(spark):
    """Q17/Q20/Q21 shapes: every correlated subquery must decorrelate to
    a hash-keyed join — a CartesianProduct or BroadcastNestedLoopJoin
    anywhere means the per-row subquery survived into the physical plan
    (O(n*m) at 100 TB).  Q21's <> suppkey predicate must ride the
    orderkey hash join as a post-join condition, not force a loop."""
    for name in ("subq_tpch_q17_shape", "subq_tpch_q20_shape",
                 "subq_tpch_q21_shape", "subq_tpch_q2_shape",
                 "subq_tpch_q16_shape", "join_tpch_q8_shape",
                 "join_tpch_q12_shape", "join_tpch_q14_shape"):
        df = SPECS[name].fn(spark, SF_DIR_01)
        plan = plan_string(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_tpch_q12_q14_pushdown(spark):
    """The date-range filters of Q12/Q14 must reach the lineitem parquet
    scan (PushedFilters), pruning the fact before any join."""
    for name in ("join_tpch_q12_shape", "join_tpch_q14_shape"):
        df = SPECS[name].fn(spark, SF_DIR_01)
        assert_pushed_filter(df, "l_shipdate")


def test_tpch_q11_scalar_is_broadcast_on_persisted_frame(spark):
    """Q11's HAVING-total threshold must be a broadcast 1-row join onto
    the SAME persisted per-part value frame (built once, scanned twice
    via InMemoryTableScan), not a recompute or a live cartesian over an
    unpersisted lineage."""
    df = SPECS["subq_tpch_q11_shape"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "BroadcastExchange" in plan, plan
    assert plan.count("InMemoryTableScan") == 4, plan


def test_global_window_value_derived_buckets(spark):
    """Two-phase window determinism (grouped_running_sum / grouped_ntile
    with no group columns): the bucket id is a
    pure function of row VALUES (broadcast boundary comparisons), so no
    spark_partition_id and no repartitionByRange may appear anywhere in
    the lineage — under cache eviction, task retry, or AQE re-plan a
    recompute yields the identical assignment.  The persist is still
    present as a perf optimization (one materialization feeds both the
    local-prefix and totals branches: both leaves are cache scans), but
    a consumer bypassing it can no longer change results.

    Runs against a CLEAN cache: other tests cache whole query outputs,
    and the CacheManager would then swallow this entire plan into one
    InMemoryRelation, hiding the branch structure under test."""
    spark.catalog.clearCache()
    for name in ("pipeline_sequence_packing", "window_global_ntile"):
        df = SPECS[name].fn(spark, SF_DIR_01)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "SPARK_PARTITION_ID" not in analyzed.upper(), (name, analyzed)
        assert "RepartitionByExpression" not in analyzed, (name, analyzed)
        # sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its
        # children from collectLeaves until execution
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        cache_scans = [n for n in names if "InMemoryTableScan" in n]
        live_scans = [n for n in names if "Scan" in n and "InMemory" not in n]
        assert len(cache_scans) == 2, (name, names)
        assert not live_scans, (name, names)
        plan = plan_string(df)
        # both consumer branches: the per-bucket window and the
        # per-bucket totals/counts aggregate keyed on _bkt
        assert "Window" in plan, (name, plan)
        assert re.search(r"hashpartitioning\(_\w*bkt", plan), (name, plan)


def test_word_count_has_map_side_combine(spark):
    df = word_count(load_table(spark, SF_DIR_01, "documents"), col="text")
    assert_partial_aggregate(df)


def test_tpch_q1_pushdown_and_partial_agg(spark):
    df = SPECS["agg_tpch_q1"].fn(spark, SF_DIR_01)
    assert_partial_aggregate(df)
    assert_pushed_filter(df, "l_shipdate")


def test_tokenize_prunes_columns(spark):
    df = SPECS["tokenize"].fn(spark, SF_DIR_01)
    assert_read_schema_only(df, {"doc_id", "text"})


def test_top_k_uses_take_ordered(spark):
    df = SPECS["top_k"].fn(spark, SF_DIR_01)
    assert_take_ordered(df)


def test_window_topk_single_shuffle(spark):
    """Per-group top-k: exactly one exchange (on the partition key), and
    Spark's WindowGroupLimit pushdown (per-partition top-k before the
    shuffle) must be present."""
    import re

    df = SPECS["window_row_number_topk"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_domain_cap_windowgrouplimit_single_shuffle(spark):
    """The per-domain cap must ride WindowGroupLimit: each map task
    pre-trims to its local top-K per host BEFORE the one hash exchange,
    so the shuffle carries at most K x hosts x tasks rows at any corpus
    size — the property that makes a per-domain cap viable at 100 TB."""
    df = SPECS["curation_domain_cap"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_semi_join_no_row_explosion(spark):
    plan = plan_string(SPECS["join_semi"].fn(spark, SF_DIR_01))
    assert "LeftSemi" in plan, plan


def test_filter_pushdown_scalar_query(spark):
    df = SPECS["scalar_string_math"].fn(spark, SF_DIR_01)
    assert_pushed_filter(df, "p_size")


def test_partitioned_scan_prunes_partitions(spark):
    """The registered partitioned-table query's date predicate must land
    in PartitionFilters (directory pruning), not just a row filter."""
    df = SPECS["partitioned_scan_events_week"].fn(spark, SF_DIR_01)
    assert_partition_pruning(df, "event_date")


def test_sort_is_range_partitioned_not_single(spark):
    """Global sort compiles to rangepartitioning exchange, never a
    single-partition sort."""
    df = SPECS["distributed_sort"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "rangepartitioning" in plan.lower(), plan
    assert "SinglePartition" not in plan, plan


def test_word_ngrams_zero_shuffle(spark):
    """N-gram generation is a pure per-row map (array sliding window):
    no Exchange, no Window operator anywhere in the gram build."""
    from mapreduce_implementation_spark.operators.dedup import word_ngrams

    df = word_ngrams(load_table(spark, SF_DIR_01, "documents"),
                     "doc_id", "text", n=4)
    plan = plan_string(df)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_subq_in_large_aggregates_before_join(spark):
    """Q18 shape: the HAVING aggregate must run BEFORE the join (the
    build side shrinks to ~0.1% of orders pre-join), and the sum is
    partially aggregated map-side."""
    df = SPECS["subq_in_large_orders"].fn(spark, SF_DIR_01)
    assert_partial_aggregate(df)
    plan = plan_string(df)
    # the filter on the aggregated qty sits between aggregate and join
    assert "sum_qty" in plan and "Join" in plan, plan


def test_subq_exists_is_semi_join(spark):
    df = SPECS["subq_exists_late_ship"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "LeftSemi" in plan, plan


def test_subq_scalar_anti_broadcasts_scalar(spark):
    """Q22 shape: the scalar subquery is a broadcast 1-row frame and the
    NOT EXISTS side is a LeftAnti join — no per-row re-execution."""
    df = SPECS["subq_scalar_anti_q22"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_incremental_stored_grams_never_retokenizes_corpus(spark):
    """The stored-gram variant reads the corpus side from the parquet gram
    table: exactly ONE scan of documents.parquet (the batch side) in the
    plan — the corpus text is never re-tokenized per batch."""
    df = SPECS["dedup_incremental_stored_grams"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    import re
    doc_scans = len(re.findall(r"documents\.parquet", plan))
    assert doc_scans >= 1, plan
    gram_scans = len(re.findall(r"corpus_trigrams", plan))
    assert gram_scans >= 1, "corpus side must come from the gram table"
    # every documents.parquet scan must belong to the batch side (%5=0
    # pushed filter); a corpus-side scan would carry the %5<>0 filter
    assert "NOT ((doc_id % 5) = 0)" not in plan, plan


def test_tpch_q19_disjunction_pushed_to_both_scans(spark):
    """The OR-of-ANDs predicate mixes both sides' columns; Catalyst must
    derive the per-side implied disjunctions so each scan prunes BEFORE
    the join: the lineitem scan carries the l_quantity range union, the
    part scan carries the brand/size OR."""
    df = SPECS["join_tpch_q19_shape"].fn(spark, SF_DIR_01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    li_scan = [l for l in plan.splitlines()
               if "FileScan" in l and "lineitem" in l][0]
    p_scan = [l for l in plan.splitlines()
              if "FileScan" in l and "part.parquet" in l][0]
    assert "l_quantity" in li_scan, li_scan
    assert "p_brand" in p_scan and "p_size" in p_scan, p_scan


def test_q10_take_ordered_and_filter_pushed(spark):
    df = SPECS["join_tpch_q10_shape"].fn(spark, SF_DIR_01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    li_scan = [l for l in plan.splitlines()
               if "FileScan" in l and "lineitem" in l][0]
    assert "l_returnflag" in li_scan, li_scan


def test_top_terms_per_lang_window_group_limit(spark):
    """The grouped top-k must prune to k rows per group inside the window
    (WindowGroupLimit), never rank the full vocabulary then filter."""
    df = SPECS["text_top_terms_per_lang"].fn(spark, SF_DIR_01)
    assert "WindowGroupLimit" in plan_string(df)


def test_pagerank_edges_built_once(spark):
    """The fact-scale edge build is persisted (InMemoryTableScan appears
    in the lineage) so the iteration never rescans lineitem; the 1-row
    node count enters the plan as a broadcast."""
    df = SPECS["graph_pagerank_trade"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_percent_rank_single_window_pass(spark):
    """percent_rank + cume_dist evaluate in ONE Window operator over one
    Exchange on the partition key."""
    df = SPECS["window_percent_rank_cume"].fn(spark, SF_DIR_01)
    plan = plan_string(df, "simple")
    assert plan.count("Exchange") <= 1 + plan.count("AQEShuffleRead"), plan
    assert plan.count("Window") == 1, plan


def test_span_generation_zero_shuffle(spark):
    """C4 span cutting is in-row array slicing: no Window and no
    Exchange until the occurrence-ranking stage (which is fed spans,
    not docs).  Drives the operator's OWN span stage (span_chunks) so a
    regression to explode+window renumbering in shipped code fails
    here: a renumber would show up as a Window or an exchange."""
    from mapreduce_implementation_spark.operators.dedup import span_chunks

    docs = load_table(spark, SF_DIR_01, "documents")
    df = span_chunks(docs, "doc_id", "text", span_tokens=10)
    plan = plan_string(df)
    assert "Window" not in plan, plan
    assert "exchange" not in plan.lower(), plan


def test_unpivot_is_expand_single_scan(spark):
    """UNPIVOT compiles to ONE Expand over one scan — not the UNION ALL
    of four scans the oracle uses."""
    df = SPECS["unpivot_lineitem_measures"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "Expand" in plan, plan
    # formatted mode prints each scan twice: once in the tree, once in
    # the numbered node details — so ONE scan == exactly two mentions
    assert plan.count("Scan parquet") == 2, plan


def test_curation_pipeline_filters_before_shuffle(spark):
    """The end-to-end curation plan must keep the quality filter BELOW
    the first Exchange (filter early — drop low-quality docs map-side
    before the dedup shuffle moves any bytes)."""
    import re

    df = SPECS["pipeline_curation_stats"].fn(spark, SF_DIR_01)
    plan = plan_string(df, mode="simple")
    first_exchange = plan.find("Exchange")
    # anchor on the quality predicate itself (>= 0.7), not just any
    # Filter node — an incidental post-shuffle filter must not satisfy
    # (or fail) this assertion.
    quality_filter = next(
        (m.start() for m in re.finditer(r"Filter .*0\.7", plan)), -1)
    assert first_exchange != -1 and quality_filter != -1, plan
    # plan strings print top-down (sink first): a LARGER index = earlier
    # in execution; the quality filter must sit below (after in string)
    # the first exchange printed.
    assert quality_filter > first_exchange, plan


def test_semantic_dedup_shuffles_on_block_only(spark):
    """Blocked semantic dedup joins on the block key — the join must be
    a hash/sort-merge join keyed on the block, never a cartesian
    (BroadcastNestedLoopJoin) over the corpus."""
    from mapreduce_implementation_spark.operators.semantic import (
        semantic_dedup_blocked,
    )

    emb = load_table(spark, SF_DIR_01, "embeddings")
    df = semantic_dedup_blocked(emb, "vec_id", "embedding", "label", 0.3)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6's three range predicates reach the scan; only the four needed
    columns are read."""
    df = SPECS["agg_tpch_q6_forecast"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "PushedFilters: [" in plan, plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(frag in line for line in plan.splitlines()
                   if "PushedFilters" in line), (frag, plan)
    from mapreduce_implementation_spark.plans.inspect import assert_read_schema_only
    assert_read_schema_only(df, {"l_shipdate", "l_discount",
                                 "l_quantity", "l_extendedprice"})


def test_sequence_packing_no_single_partition_over_base(spark):
    """The packing prefix sum is the two-phase form: any SinglePartition
    exchange carries only the per-partition totals frame (_tot), never
    base-table rows."""
    import re

    df = SPECS["pipeline_sequence_packing"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert re.search(r"hashpartitioning\(_\w*bkt", plan), plan
    for m in re.finditer(
            r"Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition", plan):
        assert "_tot" in m.group(1), plan


def test_chunk_overlap_is_map_only(spark):
    """RAG chunking must be pure in-row array work: ZERO exchanges — at
    100 TB it is a map-only scan, any shuffle here is a bug."""
    import re

    df = SPECS["text_chunk_overlap"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert not re.search(r"^\(\d+\) Exchange", plan, re.M), plan


def test_trimmed_mean_broadcasts_decile_bounds(spark):
    """The decile frame is a 1-row broadcast onto the scan — never a
    per-row subquery re-execution — and the scan reads only the one
    measure column."""
    df = SPECS["agg_trimmed_mean"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert_read_schema_only(df, {"l_extendedprice"})


def test_source_topp_uses_value_buckets_no_per_group_window(spark):
    """The nucleus cut rides the grouped two-phase prefix sum: base rows
    shuffle on the value-derived (_bkt, source) key, never through a
    per-source-only hash exchange into one task per source; no
    spark_partition_id anywhere."""
    df = SPECS["corpus_source_topp"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert re.search(r"hashpartitioning\(_\w*bkt", plan), plan
    assert "SPARK_PARTITION_ID" not in plan.upper(), plan


def test_normalized_dedup_partial_aggregates(spark):
    """The canonical-hash dedup audit map-side combines before the one
    shuffle on (source) — the 100 TB exact-dedup discipline."""
    df = SPECS["text_dedup_exact_normalized"].fn(spark, SF_DIR_01)
    assert_partial_aggregate(df)


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Runtime row-level bloom filtering (the shuffle-width killer for
    selective fact⋈filtered-dim joins at 100 TB): with the optimizer
    flag on, Catalyst builds a bloom filter from the filtered orders
    side and injects might_contain() into the lineitem scan, dropping
    non-joining fact rows BEFORE the shuffle.  Local fixture sizes sit
    under the production application-side threshold (10 GB), so the
    test lowers it to prove the rewrite fires; production keeps the
    defaults and gets this automatically at real scale."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR_01, "lineitem")
        o = (load_table(spark, SF_DIR_01, "orders")
             .filter(F.col("o_totalprice") > 400000))
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rake_reuses_persisted_word_stream(spark):
    """RAKE's word stream feeds four consumers (phrase build, plen join,
    corpus stats, score rejoin); all four must read the persisted frame
    (InMemoryTableScan), not re-scan + re-tokenize + re-window the
    corpus four times — a 4x token-stream cost at 100 TB."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    try:
        df = SPECS["text_keyphrase_rake"].fn(spark, SF_DIR_01)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 4, plan
    finally:
        release_persisted()


def test_quality_deciles_uses_value_buckets_no_per_source_window(spark):
    """Per-source deciles ride the grouped two-phase ntile: rows shuffle
    on the value-derived (_bkt, source) key — never one task per source
    — and no spark_partition_id anywhere."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    try:
        df = SPECS["corpus_quality_deciles_by_source"].fn(spark, SF_DIR_01)
        plan = plan_string(df)
        assert re.search(r"hashpartitioning\(_\w*bkt", plan), plan
        assert "SPARK_PARTITION_ID" not in plan.upper(), plan
    finally:
        release_persisted()


def test_trimmed_mean_avoids_percentile_buffer(spark):
    """The decile bounds come from the two-phase grouped_exact_quantiles
    operator — the plan must contain NO percentile() aggregate (whose
    buffer ships every distinct value to one reduce task) and still
    broadcast the 1-row bounds frame onto the scan."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    try:
        df = SPECS["agg_trimmed_mean"].fn(spark, SF_DIR_01)
        plan = plan_string(df)
        assert "percentile" not in plan.lower(), plan
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    finally:
        release_persisted()


def test_budget_resample_broadcasts_rates_onto_scan(spark):
    """The 20-row per-source rates frame broadcasts back onto the
    per-doc frame (never a shuffle join against the corpus), and the
    per-doc token-count frame is persisted for its two consumers."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    try:
        df = SPECS["pipeline_budget_resample"].fn(spark, SF_DIR_01)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "InMemoryTableScan" in plan, plan
    finally:
        release_persisted()


def test_interval_overlap_join_avoids_nested_loop(spark):
    """The interval x interval self-join must be a bucketed equi-join —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan
    (the |S|^2 plan class a naive theta join produces)."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    try:
        df = SPECS["sessions_interval_overlap"].fn(spark, SF_DIR_01)
        plan = plan_string(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan, plan
    finally:
        release_persisted()


def test_bloom_prefilter_probe_is_mapside_jvm(spark):
    """The bloom probe must be a pure JVM expression filter applied to
    the fact scan BEFORE any exchange of the fact table: no Python
    evaluation anywhere, and the only exchanges in the prefilter plan
    are the tiny bloom-build aggregates (whose output collapses to one
    broadcast row) — the fact side reaches the filter exchange-free."""
    from mapreduce_implementation_spark.operators.joins import bloom_prefilter

    li = load_table(spark, SF_DIR_01, "lineitem").select("l_partkey")
    p = (load_table(spark, SF_DIR_01, "part")
         .where(F.col("p_name").like("%widget%")).select("p_partkey"))
    plan = plan_string(bloom_prefilter(li, p, "l_partkey", "p_partkey"))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "xxhash64" in plan, plan
    # fact side: scan -> project/filter -> broadcast join, no exchange.
    # The bloom-build side owns every Exchange; it ends in a single-row
    # aggregate, so each exchange moves <= num_bits/64 tiny rows.
    assert "BroadcastExchange" in plan, plan


def test_bloom_frontier_rolling_history_never_shuffles(spark):
    """The rolling frontier's pin: per-window
    bitmaps are built from word PARTIALS and every join in the plan is
    broadcast-shaped — zero SortMergeJoin/ShuffledHashJoin, so nothing
    ledger-sized ever crosses a join exchange; the only exchanges are
    the ledger's own distinct collapse, the per-day aggregates, and
    the tiny (|days| x words) bitmap aggregations.  No Python
    evaluation anywhere — probes are pure JVM expressions."""
    df = SPECS["dedup_bloom_frontier_rolling"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    try:
        assert "Python" not in plan, plan
        assert "xxhash64" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert "BroadcastExchange" in plan, plan
    finally:
        from mapreduce_implementation_spark.operators.caching import (
            release_persisted,
        )
        release_persisted()


_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def test_asof_latest_order_single_window_no_python(spark):
    """asof_join_latest_order (inner as-of) plans one keyed Window and
    no Python-evaluating node: the as-of join is the union +
    keyed-window last, all JVM-side, and the inner form has no pad
    Union leg."""
    df = SPECS["asof_join_latest_order"].fn(spark, SF_DIR_01)
    plan = plan_string(df, "simple")
    assert not _PYTHON_NODE.search(plan), plan
    assert plan.count("Window") == 1, plan
    assert plan.count("Union") == 1, plan


def test_asof_tolerance_windowed_single_shuffle_no_python(spark):
    """The left as-of with a tolerance (union + keyed-window last) must
    stay entirely JVM-side — one hash exchange on the by-key, one
    Window, no Python evaluation, no nested-loop join."""
    df = SPECS["asof_join_tolerance"].fn(spark, SF_DIR_01)
    plan = plan_string(df, "simple")
    assert not _PYTHON_NODE.search(plan), plan
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange") <= 1 + plan.count("AQEShuffleRead"), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # r11: null-keyed left rows ride a pad Union leg AROUND the window
    # (no extra exchange — the skew fix is exchange-free by design)
    assert plan.count("Union") == 2, plan


def test_kcore_peels_with_semi_joins_no_python(spark):
    """kcore restricts the edge list with LeftSemi hash joins — never a
    cartesian/BNLJ — and nothing Python-side, both in the fixture query
    and on a raw lineitem edge list (earlier rounds are
    lineage-truncated, so the visible plan is the last round + final
    degree aggregate)."""
    from mapreduce_implementation_spark.operators.graph import kcore
    from mapreduce_implementation_spark.sources.tables import load_table

    df = SPECS["graph_kcore"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "LeftSemi" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    # (the query's edge build contains the documented 1-row broadcast
    # crossJoin for the heavy-lane threshold, which prints as a BNLJ
    # inside the cached lineage — a true cartesian is still banned)
    assert "CartesianProduct" not in plan, plan

    li = load_table(spark, SF_DIR_01, "lineitem").limit(500)
    edges = li.select(F.col("l_suppkey").alias("a"),
                      F.col("l_partkey").alias("b"))
    decl = kcore(edges, "a", "b", k=2, rounds=2)
    plan = plan_string(decl)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan



def test_graph_queries_plan_no_python_node(spark):
    """Every graph operator runs as JVM-side joins and aggregates: no
    graph_* query plans a grouped-pandas or any other Python node."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    names = sorted(n for n in SPECS if n.startswith("graph_"))
    assert len(names) >= 8, names
    try:
        for name in names:
            plan = plan_string(SPECS[name].fn(spark, SF_DIR_01))
            assert "FlatMapGroupsInPandas" not in plan, (name, plan)
            assert not _PYTHON_NODE.search(plan), (name, plan)
    finally:
        release_persisted()


def test_connected_components_plans_no_python_node(spark):
    """connected_components has one body, the star-contraction loop: a
    bare call over small integer pairs and both dedup clustering
    queries plan no grouped-pandas or other Python node."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    frames = {"connected_components": connected_components(pairs, "a", "b")}
    try:
        for name in ("dedup_clusters", "dedup_cluster_representatives"):
            frames[name] = SPECS[name].fn(spark, SF_DIR_01)
        for name, df in frames.items():
            plan = plan_string(df)
            assert "FlatMapGroupsInPandas" not in plan, (name, plan)
            assert not _PYTHON_NODE.search(plan), (name, plan)
    finally:
        release_persisted()


def test_substring_spans_plan_linear(spark):
    """The ExactSubstr span pipeline must stay linear: no nested-loop or
    cartesian join anywhere (the all-pairs trap the window-key groupBy
    exists to avoid), and no Python in the hot path."""
    df = SPECS["dedup_substring_spans"].fn(spark, SF_DIR_01)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_jl_projection_plan_jvm_side(spark):
    """The JL projection's sign matrix and dot products are hash
    expressions + a partial-aggregable sum — whole pipeline stays
    JVM-side (no row-at-a-time Python), and the 16-way fan-out rides a
    broadcast, not a shuffle."""
    df = SPECS["embedding_random_projection"].fn(spark, SF_DIR_01)
    p = plan_string(df)
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_band_join_plan_is_broadcast_nlj(spark):
    """join_band_broadcast DOCUMENTS BroadcastNestedLoopJoin as the
    correct plan for a 4-row interval dimension — pin that it actually
    gets one (a SortMergeJoin here would mean the tiny side was
    shuffled), and that the fact side is never exchanged before the
    join."""
    df = SPECS["join_band_broadcast"].fn(spark, SF_DIR_01)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_wau_fanout_is_map_side(spark):
    """The 7-day fan-out must be a generator (explode) feeding the
    day-keyed aggregate — one distinct + one count-distinct shuffle, no
    join of days against days."""
    df = SPECS["timeseries_wau_sliding"].fn(spark, SF_DIR_01)
    p = plan_string(df)
    assert "Generate explode" in p or "Generate" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_pii_scrub_multi_rides_the_scan(spark):
    """The multi-class PII scrub must be a pure map: no Exchange (the
    counts are per-row, nothing aggregates), no Python evaluation
    (regexp_replace/regexp_extract_all are JVM expressions), and only
    the three needed columns read from the documents scan — at 100 TB
    the scrub's cost is the scan itself."""
    df = SPECS["pii_scrub_multi"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert_read_schema_only(df, {"doc_id", "text"})


def test_token_budget_bpe_single_tiny_shuffle(spark):
    """The BPE encoder must be map-only (no explode) with map-side
    partial aggregation, so the single exchange carries |sources|
    partial rows, not per-doc data; the scan reads only the two
    columns the budget needs."""
    df = SPECS["text_token_budget_bpe"].fn(spark, SF_DIR_01)
    plan = plan_string(df)
    assert "Generate" not in plan, plan
    assert_partial_aggregate(df)
    assert_read_schema_only(df, {"source", "text"})


def test_bloom_frontier_probe_rides_the_scan(spark):
    """dedup_bloom_frontier's plan contract: no Python anywhere; the
    incoming batch reaches the Bloom probe filter with only its own
    pre-group exchange (host,curl); the history side contributes only
    broadcast exchanges (the one-row bitmap + the two survivor-bounded
    recheck frames) — at 100 TB the history is map-scanned, never
    shuffled.  SortMergeJoin would mean a history-sized exchange:
    banned."""
    df = SPECS["dedup_bloom_frontier"].fn(spark, SF_DIR_01)
    plan = plan_string(df, "simple")
    try:
        assert "Python" not in plan, plan
        assert "xxhash64" in plan, plan
        # a history-sized exchange would surface as a SortMergeJoin (or
        # a ShuffledHashJoin) on curl — both recheck joins must build on
        # the survivor-bounded broadcast side instead
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert re.search(r"BroadcastHashJoin \[curl#\d+\], \[curl#\d+\], "
                         r"LeftSemi", plan), plan
        assert re.search(r"BroadcastHashJoin \[curl#\d+\], \[curl#\d+\], "
                         r"LeftAnti", plan), plan
        # the only nested-loop joins are the documented one-row cross
        # joins: the n_hist scalar (1) plus the bitmap broadcast, whose
        # lineage repeats in the fresh/survivor branches until the
        # persisted bitmap materializes (<= 3 pre-execution occurrences)
        assert plan.count("BroadcastNestedLoopJoin") <= 4, plan
        assert all("Cross" in seg.splitlines()[0]
                   for seg in plan.split("BroadcastNestedLoopJoin")[1:]), plan
    finally:
        from mapreduce_implementation_spark.operators.caching import (
            release_persisted,
        )
        release_persisted()
