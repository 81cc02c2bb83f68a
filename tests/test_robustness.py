"""Edge-condition robustness: every operator family must survive EMPTY
input tables (no rows, same schema) without crashing — the condition a
100 TB pipeline hits on an empty partition, a fully-filtered slice, or a
cold bootstrap — and the text/dedup path must survive documents far
wider than the fixtures' (~100 KB vs ~300 B)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

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


def test_window_buckets_follow_session_partitions(spark):
    """With ``spark.sql.shuffle.partitions`` unset, the two-phase window
    operators bucket into the count the session's shuffles use (Spark's
    default 200), not a fallback of their own."""
    from mapreduce_implementation_spark.operators.windows import (
        shared_boundaries,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        [bounds] = shared_boundaries(spark.range(10000), [["id"]])
    finally:
        spark.conf.set(key, prev)
    assert len(bounds) == 199


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
    instead of splicing into the parsed tree."""
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


def test_text_operators_start_no_job_while_building(spark):
    """Building a text/dedup operator over a frame past a shuffle (here a
    sort-merge join) must start no Spark job: under AQE any ``.rdd``
    access or count at build time runs the upstream shuffle eagerly.
    Each operator gets a fresh frame because a Dataset caches its
    ``.rdd``."""
    from mapreduce_implementation_spark.operators import dedup
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, f"{text} {i}") for i in range(40)], "doc_id long, text string")
    meta = spark.createDataFrame([(i, i % 3) for i in range(40)],
                                 "doc_id long, src int")
    ops = {
        "char_shingles": dedup.char_shingles,
        "simhash": dedup.simhash,
        "minhash_dedup_pairs": dedup.minhash_dedup_pairs,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "ngram_containment_pairs": dedup.ngram_containment_pairs,
        "tfidf_cosine_pairs": dedup.tfidf_cosine_pairs,
        "span_chunks": dedup.span_chunks,
        "duplicate_substring_spans": dedup.duplicate_substring_spans,
    }
    tracker = spark.sparkContext.statusTracker()
    try:
        for name, op in ops.items():
            joined = docs.join(meta.hint("merge"), "doc_id")
            before = set(tracker.getJobIdsForGroup(None))
            op(joined, "doc_id", "text")
            started = set(tracker.getJobIdsForGroup(None)) - before
            assert not started, (name, sorted(started))
    finally:
        release_persisted()


def test_graph_operators_start_no_job_while_building(spark):
    """Building a one-round graph operator over a frame past a
    sort-merge join must start no Spark job: no operator counts its
    input to pick a physical plan.  (One round, because every round
    but the last is materialized by ``localCheckpoint``.)"""
    from mapreduce_implementation_spark.operators import graph
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )

    rows = [(i, (i * 7 + 1) % 12, i % 3 + 1) for i in range(24)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    meta = spark.createDataFrame([(i, i % 2) for i in range(12)],
                                 "src long, part int")
    nodes = spark.createDataFrame([(i,) for i in range(12)], "v long")
    reset = spark.createDataFrame([(0, 0.5), (1, 0.5)], "v long, s double")
    ops = {
        "pagerank": lambda e: graph.pagerank(e, nodes, iters=1),
        "pagerank_reset": lambda e: graph.pagerank(e, nodes, iters=1,
                                                   reset=reset),
        "hits": lambda e: graph.hits(e, nodes, iters=1),
        "label_propagation": lambda e: graph.label_propagation(
            e, nodes, iters=1),
        "bfs_distances": lambda e: graph.bfs_distances(
            e, nodes, source=0, max_hops=1),
        "sssp_weighted": lambda e: graph.sssp_weighted(
            e, nodes, source=0, rounds=1),
        "kcore": lambda e: graph.kcore(e, "src", "dst", k=2, rounds=1),
    }
    tracker = spark.sparkContext.statusTracker()
    try:
        for name, op in ops.items():
            joined = (edges.join(meta.hint("merge"), "src")
                      .select("src", "dst", "w"))
            before = set(tracker.getJobIdsForGroup(None))
            op(joined)
            started = set(tracker.getJobIdsForGroup(None)) - before
            assert not started, (name, sorted(started))
    finally:
        release_persisted()


def test_window_family_starts_only_sample_jobs_while_building(spark):
    """Building a two-phase window operator over a frame past a
    sort-merge join starts no job but its one boundary-sample collect,
    whose adaptive shuffle stages run as jobs of their own (4-5 on a
    4-partition session): none at all when ``grouped_ntile`` is handed
    ``shared_boundaries`` bounds."""
    from mapreduce_implementation_spark.operators import windows
    from mapreduce_implementation_spark.operators.caching import (
        release_persisted,
    )
    from tests.conftest import shuffle_partitions

    rows = [(i % 5, i, (i * 7) % 13) for i in range(200)]
    base = spark.createDataFrame(rows, "g long, k long, v long")
    meta = spark.createDataFrame([(i, i % 2) for i in range(5)],
                                 "g long, part int")
    tracker = spark.sparkContext.statusTracker()
    try:
        with shuffle_partitions(spark, 4):
            [bounds] = windows.shared_boundaries(base, [["g", "k"]])
            ops = {
                "grouped_ntile_bounds": (0, lambda d: windows.grouped_ntile(
                    d, ["g"], ["k"], 3, bounds=bounds)),
                "grouped_ntile": (4, lambda d: windows.grouped_ntile(
                    d, ["g"], ["k"], 3)),
                "grouped_running_sum": (4, lambda d: (
                    windows.grouped_running_sum(d, "v", ["g"], ["k"]))),
                "grouped_exact_quantiles": (4, lambda d: (
                    windows.grouped_exact_quantiles(d, "v", ["g"], [0.5]))),
                "global_order_stats": (5, lambda d: (
                    windows.global_order_stats(d, ["v"]))),
            }
            for name, (budget, op) in ops.items():
                joined = (base.join(meta.hint("merge"), "g")
                          .select("g", "k", "v"))
                before = set(tracker.getJobIdsForGroup(None))
                op(joined)
                started = set(tracker.getJobIdsForGroup(None)) - before
                assert len(started) <= budget, (name, sorted(started))
    finally:
        release_persisted()


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_read_int_lines_rejects_non_integer_tokens(spark, tmp_path, ansi):
    """The sort job's integer source answers one way under either
    ``spark.sql.ansi.enabled``: base-10 64-bit integers parse (signs,
    leading zeros and a CRLF's trailing CR included), and any other
    token fails the job with an error naming it — never a silent drop
    (non-ANSI cast) or a bare CAST_INVALID_INPUT (ANSI cast)."""
    from pyspark.errors import PySparkException

    from mapreduce_implementation_spark.sources.tables import read_int_lines

    good = tmp_path / "good"
    good.mkdir()
    (good / "part.txt").write_text(
        "5 -2 +3\r\n 07  9223372036854775807\n\n-9223372036854775808\n")
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try:
        got = read_int_lines(spark, str(good)).collect()
        assert sorted(r["n"] for r in got) \
            == [-9223372036854775808, -2, 3, 5, 7, 9223372036854775807]
        for i, bad in enumerate(["abc", "12abc", "1e3", "1.5",
                                 "99999999999999999999"]):
            d = tmp_path / f"bad{i}"
            d.mkdir()
            (d / "part.txt").write_text(f"1 2\n3 {bad} 4\n")
            with pytest.raises(PySparkException,
                               match=f"not a base-10 64-bit integer: '{bad}'"):
                read_int_lines(spark, str(d)).collect()
    finally:
        spark.conf.set(key, prev)


_WORKER_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
from mapreduce_implementation_spark.operators.similarity import (
    hyperplane_bucket_keys)
from mapreduce_implementation_spark.queries.textanalysis import (
    bpe_encode_batched)
vecs = spark.createDataFrame([(1, [1.0, 0.0]), (2, [-0.5, 1.0])],
                             "id long, v array<double>")
keyed = hyperplane_bucket_keys(vecs, "v", 2, bits=2, tables=2)
docs = spark.createDataFrame([(1, "Hello, World!")], "id long, text string")
enc = bpe_encode_batched(docs, "text", merges=[("l", "l"), ("h", "e")])
print(json.dumps({"keys": [r._bks for r in keyed.orderBy("id").collect()],
                  "bpe": enc.collect()[0].bpe_tokens}))
spark.stop()
"""


@pytest.mark.slow
def test_python_workers_need_no_package_on_path(tmp_path):
    """A driver that puts the checkout on ``sys.path`` by hand and runs
    from another directory gets correct rows from the operators that
    ship package functions to Python workers (a pandas UDF and a
    mapInPandas closure): the workers never import the package."""
    import numpy as np

    from mapreduce_implementation_spark.operators.similarity import (
        _planes, _sign_keys,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", _WORKER_SCRIPT, repo],
                       cwd=tmp_path, env=env, capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    mat = np.array([[1.0, 0.0], [-0.5, 1.0]])
    assert got["keys"] == _sign_keys(mat, _planes(2, 2, 2, 42), 2, 2).tolist()
    assert got["bpe"] == ["he", "ll", "o", "w", "o", "r", "l", "d"]
