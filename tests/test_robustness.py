"""Edge-condition robustness: every operator family must survive EMPTY
input tables (no rows, same schema) without crashing — the condition a
100 TB pipeline hits on an empty partition, a fully-filtered slice, or a
cold bootstrap — and the text/dedup path must survive documents far
wider than the fixtures' (~100 KB vs ~300 B)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_implementation_spark.registry import all_specs
from mapreduce_implementation_spark.sources.tables import load_table
from tests.conftest import SF_DIR_001

# One representative per family — enough to catch the common failure
# classes (aggregate over zero rows, window over empty partition, join
# with empty side, explode of nothing, UDF batch with zero groups,
# iterative op with an empty edge list).
_REPRESENTATIVES = [
    "word_count",                # agg over empty token stream
    "distributed_sort",          # range partition of nothing
    "agg_tpch_q1",               # multi-agg + filter
    "join_tpch_q5_shape",        # multi-join, broadcast sides empty
    "subq_scalar_anti_q22",      # scalar subquery over zero rows -> NULL avg
    "window_percent_rank_cume",  # window over empty partition
    "window_global_ntile",       # two-phase ntile bootstrap
    "dedup_minhash_lsh",         # fused 64-agg signatures on nothing
    "dedup_ngram_jaccard",       # gram explode of nothing
    "similarity_cosine_topk",    # top-k of empty (query vec is a param)
    "text_tfidf_top3",           # in-plan N over empty corpus
    "text_contamination_4gram",  # empty eval AND corpus side
    "graph_pagerank_trade",      # pagerank with empty edge list
    "pandas_udaf_rms_spend",     # GROUPED_AGG with zero groups
    "sessionize_events",         # lag/cumsum sessionization of nothing
    "stats_chi2_event_dow",      # chi2 over empty contingency table
    # round-3 families
    "dedup_span_rebuild",        # span slicing + window of nothing
    "dedup_semantic_kmeans",     # k-means fit over an empty corpus
    "pipeline_curation_stats",   # filter->dedup->agg over nothing
    "text_perplexity_buckets",   # bigram LM + ntile over empty
    "unpivot_lineitem_measures", # Expand of zero rows
    "lateral_explode_outer",     # outer explode of zero rows
    "graph_triangle_count",      # triangle join on empty edges
    "pipeline_sequence_packing", # two-phase prefix sum of nothing
    "inference_scores_batched",  # mapInPandas with zero batches
    # round-4 families
    "cdc_merge_upsert",          # MERGE with an empty change batch + snapshot
    "corpus_overlap_sources",    # pair matrix over zero sources
    "split_train_valid_hash",    # hash-bucket split of nothing
    "retrieval_rrf_fusion",      # fusion when both rank lists are empty
    "dedup_containment_overlap", # containment join over zero grams
    "graph_label_propagation",   # LPA with an empty edge list
    "rfm_segments",              # triple global ntile over zero users
    "pattern_sequence_detect",   # regex over zero per-user sequences
    "basket_lift_pairs",         # pair join over zero baskets
    "dq_rule_report",            # rule counts over empty tables
    "multimodal_image_dhash_pairs",  # dhash banding over zero images
    "agg_weighted_median",       # prefix-sum median of zero rows
    "sql_recursive_cte_chain",   # recursion whose seed set is empty
    "variant_json_surface",      # variant parse/extract of zero rows
    "pipeline_corpus_build",     # filter->dedup->split->agg of nothing
    "text_collocations_llr",     # contingency LLR over zero bigrams
    "similarity_maxsim_multivector",  # maxsim when corpus is empty
    "graph_bfs_distances",       # BFS with an empty edge list
    "agg_weighted_median_by_flag",  # grouped prefix sum of zero rows
    "multimodal_audio_rms",      # WAV render/decode of zero rows
    "events_markov_transitions", # lead window over zero sequences
    "timeseries_ewma_daily",     # array fold over zero series
    "dedup_minhash_estimate",    # estimator join over zero pairs
    "set_intersect_all",         # multiset intersect of empty bags
    "anomaly_daily_mad",         # MAD percentiles over zero days
    "scd2_point_in_time_join",   # as-of lookup over zero intervals
    "dedup_simhash_estimate",    # simhash estimator over zero pairs
    # round-5 families
    "agg_trimmed_mean",          # percentile bounds over zero rows -> NULL
    "corpus_source_topp",        # grouped prefix-sum cut over zero sources
    "agg_skew_kurtosis",         # moment arithmetic over zero groups
    "text_dedup_exact_normalized",  # normalized-hash groups of nothing
    "corpus_length_quantiles_by_source",  # grouped order stats of nothing
    "join_bloom_prefilter",        # bloom built from zero keys
    "sample_weighted_systematic",  # step scalar of an empty corpus
    # round-6 families
    "graph_kcore",                 # peeling with an empty edge list
    "asof_join_tolerance",         # tolerance as-of over zero orders
    "retrieval_hard_negatives",    # salted top-k over zero vectors
    "text_bpe_first_merges",       # pair counts over an empty vocab
    "dedup_substring_spans",       # window explode + merge of nothing
    "embedding_dim_stats",         # posexplode of zero vectors
    "text_ngram_novelty",          # novelty join over zero grams
    "events_top_paths",            # lead window over zero events
    "incremental_agg_merge",       # base/delta partial merge of nothing
    "layout_zorder_key",           # bit interleave over zero orders
    "sketch_quantile_histogram",   # histogram sketch of zero values
    "skyline_pareto_orders",       # dominance frontier of zero points
    "embedding_pca_power",         # covariance of an empty corpus
    "graph_hits_trade",            # hub/authority over an empty graph
    "text_heaps_law",              # vocab growth of an empty corpus
    "embedding_random_projection", # JL audit over zero vectors
    "events_new_vs_returning",     # first-seen split of zero users
    "timeseries_holt_linear",      # trend fold over zero series
    "window_session_builtin",      # session_window over zero events
    "agg_gini_spend",              # rank-weighted sum of nothing
    "text_js_divergence_sources",  # divergence between zero sources
    "join_null_safe",              # null-bucket join of empty sides
    "graph_personalized_pagerank", # teleport onto an empty seed set
    "multimodal_image_resize",     # resize over zero payloads
    "window_range_trailing_7d",    # value-range frame over zero days
    "sketch_hll_datasketches",     # sketch merge over zero groups
    "sql_lateral_topn",            # lateral subquery over zero rows
    "corpus_datasheet",            # datasheet of an empty corpus
    "join_band_broadcast",         # band probe with zero facts
    "timeseries_wau_sliding",      # 7-day fan-out of zero activity
    "timeseries_cusum_changepoint",# cusum fold over zero series
    "scalar_try_functions",        # try_* over zero rows
    "pipeline_filter_funnel",      # funnel stages over zero docs
    "multimodal_audio_vad_spans",  # VAD islands over zero clips
    "source_schema_evolution",     # mergeSchema over empty partitions
    "agg_ols_normal_equations",    # normal equations over zero rows
    "timeseries_cumulative_users", # growth curve of zero users
    "stats_ks_two_sample",         # KS over two empty samples
    "agg_geometric_harmonic_means",# log-space means of nothing
    "scalar_url_functions",        # parse_url over zero docs
    "embedding_outlier_zscore",    # z-score outliers over zero vectors
    # round-10 families
    "dedup_url_canonical",         # host stats over zero URLs
    "curation_domain_cap",         # per-host cap over zero docs
    # round-11 families
    "pii_scrub_multi",             # multi-class scrub over zero docs
    "text_token_budget_bpe",       # BPE budget over zero docs
    # round-12 families
    "dedup_bloom_frontier",        # bloom + anti-join over zero URLs
    "curation_source_prior",       # shrinkage over zero sources
    "text_bpe_train_merges",       # argmax rounds over an empty vocab
    # round-13 families
    "dedup_bloom_frontier_rolling",  # per-window bitmaps over zero days
    "split_leakage_audit",           # leakage over zero pairs/docs
    "pipeline_shard_assignment",     # 16 shards of nothing
    "text_bpe_train_merges_batched", # batched trainer over empty vocab
    "sketch_hll_rolling_window",     # sketch unions over zero days
    "dedup_chunks_content_defined",  # CDC chunking of zero docs
    # round-14 families
    "dedup_cdc_duplicate_mass",      # cross-doc chunk mass of nothing
]

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in _TABLES:
        df = load_table(spark, SF_DIR_001, t)
        df.limit(0).write.mode("overwrite").parquet(os.path.join(str(d), f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", _REPRESENTATIVES)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    spec = all_specs()[name]
    try:
        df = spec.fn(spark, empty_sf_dir)
    except ValueError as e:
        # similarity queries need a query vector — a *parameter*; with an
        # empty table there is no vector 0 to parameterize with, which is
        # a caller error, not an engine crash.
        if "query" in str(e).lower() or "vec" in str(e).lower():
            pytest.skip(f"{name}: query-vector parameter unavailable on empty input")
        raise
    except (IndexError, TypeError):
        if name.startswith("similarity"):
            pytest.skip(f"{name}: query-vector parameter unavailable on empty input")
        raise
    rows = df.collect()
    assert isinstance(rows, list)  # no crash; row count may be 0 or a 0-valued agg


def test_wide_documents_text_and_dedup_path(spark):
    """~100 KB docs through token stats, quality, fused MinHash
    signatures and n-gram generation: no codegen/memory blowup, sane
    outputs.  (Fixture docs are ~300 B; real crawl docs are 10-1000x
    wider, and per-row array ops must not assume short rows.)"""
    from mapreduce_implementation_spark.operators.dedup import (
        char_shingles, minhash_signatures, word_ngrams,
    )
    from mapreduce_implementation_spark.operators.textstats import token_stats

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = [(i, " ".join(words[(i + j) % 6] for j in range(15000)))
            for i in range(8)]  # ~100 KB each
    df = spark.createDataFrame(docs, "doc_id long, text string")

    ts = {r.doc_id: r.n_ws_tokens for r in
          token_stats(df, "doc_id", "text").collect()}
    assert ts == {i: 15000 for i in range(8)}

    grams = word_ngrams(df, "doc_id", "text", n=4)
    n_grams = grams.groupBy("doc_id").count().collect()
    assert all(r["count"] == 15000 - 3 for r in n_grams)

    sig = minhash_signatures(char_shingles(df, "doc_id", "text", k=9), "doc_id")
    out = sig.collect()
    assert len(out) == 8
    assert all(len(r) == 65 for r in out)  # doc_id + 64 minhash columns
    assert all(r[f"mh{j}"] is not None for r in out for j in (0, 31, 63))


def test_two_phase_windows_recompute_stable(spark):
    """The r03/r04 driver red-row class, reproduced and pinned: the
    two-phase prefix sum must produce IDENTICAL results when (a) every
    persisted intermediate is evicted between plan construction and a
    later action (the cache-eviction recompute that desynced
    spark_partition_id-based offsets), and (b) the session runs a
    vanilla shuffle-partition count (200) instead of the tuned 32.
    The value-derived bucket id makes both invariant by construction."""
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    spec = all_specs()["pipeline_sequence_packing"]

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    base = canon(spec.fn(spark, SF_DIR_001))
    release_persisted()

    # (a) materialize once, drop every cache under the plan's feet, act
    # again on the SAME DataFrame: the recompute must not desync
    df = spec.fn(spark, SF_DIR_001)
    df.write.format("noop").mode("overwrite").save()
    release_persisted()
    spark.catalog.clearCache()
    assert canon(df) == base

    # (b) default-conf session shape (the driver replays ran both)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert canon(spec.fn(spark, SF_DIR_001)) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        release_persisted()


def test_tracked_persist_release(spark):
    """Operators cache multiply-consumed intermediates via tracked_persist;
    release_persisted() must unpersist every one of them (the per-batch
    leak control for long-lived sessions)."""
    from mapreduce_implementation_spark.operators import caching
    from mapreduce_implementation_spark.operators.dedup import minhash_dedup_pairs
    from mapreduce_implementation_spark.sources.tables import load_table
    from tests.conftest import SF_DIR_001

    caching.release_persisted()  # clean slate
    docs = load_table(spark, SF_DIR_001, "documents")
    df = minhash_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5)
    assert caching.persisted_count() >= 1
    tracked = list(caching._PERSISTED)
    df.write.format("noop").mode("overwrite").save()
    assert all(t.is_cached for t in tracked)
    n = caching.release_persisted()
    assert n == len(tracked)
    assert caching.persisted_count() == 0
    assert all(not t.is_cached for t in tracked)


def test_expr_interpolated_identifiers_rejected(spark):
    """The minhash/simhash/LSH operators interpolate id_col/sig_col into
    parsed SQL expression strings (the r14 plan-build optimization); a
    column name that is not a plain identifier must be rejected loudly
    instead of splicing into the parsed tree (r14 ADVICE)."""
    import pytest

    from mapreduce_implementation_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, simhash)

    df = spark.range(1).selectExpr("id AS `my id`", "'abc' AS text",
                                   "'abc' AS shingle")
    with pytest.raises(ValueError, match="plain identifier"):
        minhash_signatures(df, "my id")
    with pytest.raises(ValueError, match="plain identifier"):
        simhash(df, "my id", "text")
    with pytest.raises(ValueError, match="plain identifier"):
        lsh_candidate_pairs(df, "id", sig_col="sig`[0]")



@pytest.mark.parametrize("bad", ["my id", "id`", "id\n"])
@pytest.mark.parametrize("site", ["sample_chunks.payload_col",
                                  "batch_inference_scores.id_col"])
def test_multimodal_spliced_names_rejected(spark, site, bad):
    """sample_chunks splices ``payload_col`` into an ``F.expr`` and
    batch_inference_scores splices ``id_col`` into its pandas_udf schema
    string; a name that is not a plain identifier must raise, not parse."""
    from mapreduce_implementation_spark.operators.multimodal import (
        batch_inference_scores, sample_chunks)

    df = spark.range(1).selectExpr(f"id AS `{bad.replace('`', '``')}`",
                                   "'abc' AS text", "X'00' AS payload")
    with pytest.raises(ValueError, match="plain identifier"):
        if site.startswith("sample_chunks"):
            sample_chunks(df, "id", payload_col=bad)
        else:
            batch_inference_scores(df, bad, "text")


def test_bucketed_table_name_cannot_escape_warehouse(tmp_path):
    """_drop_stale splices the table name into DROP TABLE and into the
    orphan-directory path it removes, so ``../x`` must be rejected before
    either runs: the sibling directory survives and no SQL is issued.  A
    plain name still clears its own orphan directory."""
    from mapreduce_implementation_spark.operators.bucketing import _drop_stale

    class _Spark:  # just the surface _drop_stale touches
        def __init__(self, warehouse):
            self.conf = {"spark.sql.warehouse.dir": warehouse}
            self.statements = []

        def sql(self, statement):
            self.statements.append(statement)

    warehouse, sibling = tmp_path / "warehouse", tmp_path / "victim"
    (warehouse / "orders_b").mkdir(parents=True)
    sibling.mkdir()
    (sibling / "keep.txt").write_text("data")
    spark = _Spark(str(warehouse))

    with pytest.raises(ValueError, match="plain identifier"):
        _drop_stale(spark, "../victim")
    assert (sibling / "keep.txt").read_text() == "data"
    assert spark.statements == []

    _drop_stale(spark, "Orders_B")
    assert spark.statements == ["DROP TABLE IF EXISTS Orders_B"]
    assert not (warehouse / "orders_b").exists()
    assert sibling.exists()


@pytest.mark.parametrize("ram_gib, cores, want", [
    (16, 4, (4, "8192m")),      # half the box
    (15.5, 4, (4, "7936m")),
    (1, 1, (1, "1024m")),       # never below Spark's 1 GiB default
    (512, 64, (64, "31744m")),  # capped where compressed oops end
    (8, 0, (1, "4096m")),       # at least one thread
])
def test_default_session_sizing(ram_gib, cores, want):
    from mapreduce_implementation_spark.session import default_sizing

    assert default_sizing(int(ram_gib * (1 << 30)), cores) == want


def test_session_sizing_overrides(monkeypatch):
    from mapreduce_implementation_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, heap = session._box_sizing()
    assert 1 <= cpus <= (os.cpu_count() or 1)
    assert 1024 <= int(heap.rstrip("m")) <= 31744

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session._box_sizing() == (3, "2g")

def test_spread_small_input_guard(spark):
    """spread_small_input (r14 opt) must round-robin a sub-parallelism
    input up to the session's core count — and PASS THROUGH untouched
    (the very same DataFrame object, no Repartition node) once the
    input already has >= defaultParallelism partitions, so a
    production-scale multi-split table never pays the exchange."""
    from mapreduce_implementation_spark.sources.tables import (
        spread_small_input,
    )

    par = spark.sparkContext.defaultParallelism
    small = spark.range(0, 1000).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    out = spread_small_input(small)
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.id for r in out.collect()) == list(range(1000))

    big = spark.range(0, 1000).repartition(par)
    assert spread_small_input(big) is big
